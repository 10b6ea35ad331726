package graft.queries

import graft.Tables
import graft.functions.ExactRound
import graft.ops.{Components, Dedup, Packing, Sample, Similarity, Text}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Data-SELECTION operators (round 10, L125–L128): the published
  * curation passes that decide WHICH examples a training run keeps or
  * upweights — semantic dedup over embedding clusters (SemDeDup, Abbas
  * et al. 2023), hashed importance weights between a target and the raw
  * corpus (DSIR, Xie et al. 2023), hard-negative mining for contrastive
  * training, and duplicate-cluster-balanced sampling weights.
  *
  * The reference pipeline ends at warehouse marts; these extend the
  * engine's curation surface over the same documents/embeddings
  * fixtures. Exactness follows `graft.functions.ExactRound`: counts
  * cross the oracle boundary as BIGINT, exact ratios round in integer
  * space, and transcendental-derived doubles (ln, cosine) follow the
  * q65 absorb-or-present-rounded recipe.
  */
object SelectionQueries {
  import OracleSql._

  /** SemDeDup keep/drop threshold, tuned to the fixture's cosine range
    * (same-cluster p99 ≈ 0.3 — the fixture's embeddings are not
    * near-dup-dense, so the gate sits at the diversity tail exactly
    * like the paper's ε on deduplicated corpora). */
  private val SemDedupTau = 0.3

  /** DSIR hashed-feature bucket count. 256 keeps the bucket-weight
    * table broadcast-sized at ANY corpus scale — the point of hashed
    * importance weights (the feature space never grows with the
    * vocabulary). */
  private val DsirBuckets = 256

  /** The "target distribution" slice for q145: two sources stand in
    * for the curated high-quality corpus DSIR reweights toward. */
  private val DsirTarget = Seq("src0", "src1")

  /** `DsirTarget` as an SQL IN-list. */
  private val dsirTgtSql = DsirTarget.map(s => s"'$s'").mkString(", ")

  /** DSIR bucket weights `w(b, w9)` over hashed tokens `tb` (the q145
    * recipe): ln of the Laplace-smoothed target/raw bucket frequency
    * ratio at scale 9. */
  private val dsirWeightCtes: String =
    s"""toks AS (
       |  SELECT doc_id, source, $toksSql AS t FROM documents),
       |${tokenBucketCtes(DsirBuckets)},
       |rc AS (SELECT b, CAST(count(*) AS BIGINT) AS rcnt FROM tb GROUP BY b),
       |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS tcnt
       |       FROM tb WHERE source IN ($dsirTgtSql) GROUP BY b),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS rtot,
       |    CAST(count(*) FILTER (WHERE source IN ($dsirTgtSql)) AS BIGINT) AS ttot
       |  FROM tb),
       |w AS (SELECT rc.b,
       |    CAST(round(ln(
       |      ((coalesce(tc.tcnt, 0) + 1.0) * (tot.rtot + $DsirBuckets)) /
       |      ((rc.rcnt + 1.0) * (tot.ttot + $DsirBuckets))), 9)
       |      AS DECIMAL(13,9)) AS w9
       |  FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot)""".stripMargin

  /** q296's DSIR Gumbel-top-50 selection oracle — also the oracle of its
    * incremental maintenance (q301): fold == rebuild. */
  private val dsirSelectionSql: String =
    s"""WITH $dsirWeightCtes,
       |d AS (SELECT doc_id, source, b, CAST(count(*) AS BIGINT) AS n
       |      FROM tb WHERE source NOT IN ($dsirTgtSql) GROUP BY 1, 2, 3),
       |lw AS (SELECT d.doc_id, d.source,
       |    CAST(sum(d.n) AS BIGINT) AS n_tokens,
       |    sum(CAST(d.n AS DECIMAL(10,0)) * w.w9) AS lw
       |  FROM d JOIN w USING (b) GROUP BY 1, 2),
       |keyed AS (SELECT doc_id, source, n_tokens, lw,
       |    CAST(round(-ln(-ln(
       |      CAST((doc_id * ${Text.Mult}) % ${Text.P} + 1 AS DOUBLE)
       |        / 2147483648.0)), 9) AS DECIMAL(13,9)) AS g
       |  FROM lw)
       |SELECT doc_id, source, n_tokens,
       |  CAST(lw AS DOUBLE) AS log_weight,
       |  CAST(lw + g AS DOUBLE) AS gumbel_key
       |FROM keyed ORDER BY lw + g DESC, doc_id LIMIT 50""".stripMargin

  /** q148 epoch token budget. Large enough that every source's exact
    * quota clears 10^4 (remainder ranking meaningful), small enough
    * that B·Σtokens stays far inside BIGINT at any fixture scale. */
  private val ApportionBudget = 1000000L

  /** q150 per-(lang, source)-cell guaranteed minimum and the global
    * fill budget drawn from the post-floor remainder. */
  private val CoverageFloor = 3
  private val CoverageFill = 100

  /** q296's DSIR Gumbel-top-50 selection over the non-target
    * candidates — extracted so q309's classifier-agreement pricing can
    * reuse the selection verbatim (the selected set, not a
    * re-implementation, is what the κ comparison must see). */
  private def dsirTop50(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val B = DsirBuckets
    val docs = Tables.documents(spark, dir)
    val tb = docs
      .withColumn("th", call_function("graft_token_hashes", col("text")))
      .filter(size(col("th")) > 0)
      .select(col("doc_id"), col("source"), explode(col("th")).as("h"))
      .select(col("doc_id"), col("source"),
        (col("h") % B).as("b"))
      .cache() // feeds three aggregates; bucket-count-sized outputs
    val isTgt = col("source").isin(DsirTarget: _*)
    val rc = tb.groupBy("b").agg(count(lit(1)).as("rcnt"))
    val tc = tb.filter(isTgt).groupBy("b").agg(count(lit(1)).as("tcnt"))
    val tot = tb.agg(count(lit(1)).as("rtot"),
      sum(when(isTgt, 1L).otherwise(0L)).as("ttot"))
    val w = rc.join(tc, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("w9", round(log(
        ((coalesce(col("tcnt"), lit(0L)) + lit(1.0d)) *
          (col("rtot") + lit(B.toLong))) /
        ((col("rcnt") + lit(1.0d)) *
          (col("ttot") + lit(B.toLong)))), 9)
        .cast(DecimalType(13, 9)))
      .select("b", "w9")
    val d = tb.filter(!isTgt)
      .groupBy("doc_id", "source", "b").agg(count(lit(1)).as("n"))
    val lw = d.join(broadcast(w), "b")
      .groupBy("doc_id", "source")
      .agg(sum("n").as("n_tokens"),
        sum(col("n").cast(DecimalType(10, 0)) * col("w9")).as("lw"))
    // seeded Gumbel key: u ∈ (0,1) exactly representable (2³¹ divisor),
    // g on the 9-dp grid, lw + g an exact DECIMAL addition
    val u = (pmod(col("doc_id").cast("long") * lit(Text.Mult), lit(Text.P))
      + lit(1L)).cast("double") / lit(2147483648.0d)
    val keyed = lw.withColumn("g",
      round(-log(-log(u)), 9).cast(DecimalType(13, 9)))
    val out = keyed
      .orderBy((col("lw") + col("g")).desc, col("doc_id")).limit(50)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("lw").cast("double").as("log_weight"),
        (col("lw") + col("g")).cast("double").as("gumbel_key"))
      .localCheckpoint() // materialize before releasing the token cache
    tb.unpersist()
    out
  }

  val all: Seq[Q] = Seq(

    // ---- SEMANTIC DEDUP over embedding clusters (L125, SemDeDup):
    // k-means partitions the embedding space (the q113 trained chain,
    // k scales with corpus size so clusters stay bounded — SemDeDup's
    // own design), then WITHIN each cluster any pair above the cosine
    // gate drops the member FARTHER from the centroid (ties to the
    // higher id) — keeping the per-cluster diversity extremes, exactly
    // the paper's rule. The pairwise stage is cluster-local (join keyed
    // on the cluster id, never corpus-quadratic); centroids ride in by
    // broadcast. The oracle replays training, assignment, and the
    // pairwise verdict end to end — the keep set itself is
    // cross-engine-checked.
    Q(
      "q144_semantic_dedup",
      s"""WITH $kmeansCtes,
         |${kmeansAssignSql("a3", "c2")},
         |cn AS (SELECT cluster, cv, ${dot64Sql("cv", "cv")} AS cn2 FROM c2),
         |m AS (
         |  SELECT a3.vec_id, a3.cluster, vn.dv, vn.vn2,
         |    ${dot64Sql("vn.dv", "cn.cv")} / (sqrt(vn.vn2) * sqrt(cn.cn2))
         |      AS ccos
         |  FROM a3 JOIN vn USING (vec_id) JOIN cn ON cn.cluster = a3.cluster),
         |dropped AS (
         |  SELECT DISTINCT x.vec_id
         |  FROM m x JOIN m y ON y.cluster = x.cluster AND y.vec_id <> x.vec_id
         |  WHERE ${dot64Sql("x.dv", "y.dv")} / (sqrt(x.vn2) * sqrt(y.vn2))
         |      >= $SemDedupTau
         |    AND (y.ccos < x.ccos OR (y.ccos = x.ccos AND y.vec_id < x.vec_id)))
         |SELECT m.vec_id, CAST(m.cluster AS BIGINT) AS cluster,
         |  round(m.ccos, 6) AS centroid_cos,
         |  d.vec_id IS NULL AS kept
         |FROM m LEFT JOIN dropped d ON d.vec_id = m.vec_id""".stripMargin) {
      (spark, dir) =>
      import spark.implicits._
      val e = Tables.embeddings(spark, dir)
      val (assigned, cents) =
        Similarity.kmeansLloyd(e, "vec_id", "embedding", k = 4, iters = 2)
      val centDf = cents.toDF("cluster", "cv")
      val m = assigned
        .select(col("vec_id"), col("cluster"),
          Similarity.toDouble(col("embedding")).as("dv"))
        .withColumn("vn2", Similarity.dot(col("dv"), col("dv")))
        .join(broadcast(centDf), "cluster")
        .withColumn("ccos", Similarity.dot(col("dv"), col("cv")) /
          (sqrt(col("vn2")) * sqrt(Similarity.dot(col("cv"), col("cv")))))
        .select("cluster", "vec_id", "dv", "vn2", "ccos")
        .localCheckpoint() // feeds both sides of the cluster-local join
      val xs = m.select(col("cluster"), col("vec_id").as("x_id"),
        col("dv").as("x_dv"), col("vn2").as("x_n2"), col("ccos").as("x_ccos"))
      val ys = m.select(col("cluster"), col("vec_id").as("y_id"),
        col("dv").as("y_dv"), col("vn2").as("y_n2"), col("ccos").as("y_ccos"))
      val dropped = xs.join(ys, "cluster")
        .filter(col("x_id") =!= col("y_id"))
        .filter(Similarity.dot(col("x_dv"), col("y_dv")) /
          (sqrt(col("x_n2")) * sqrt(col("y_n2"))) >= SemDedupTau)
        .filter(col("y_ccos") < col("x_ccos") ||
          (col("y_ccos") === col("x_ccos") && col("y_id") < col("x_id")))
        .select(col("x_id").as("vec_id")).distinct()
      m.join(dropped.withColumn("_d", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
          round(col("ccos"), 6).as("centroid_cos"),
          col("_d").isNull.as("kept"))
    },

    // ---- HASHED IMPORTANCE WEIGHTS (L126, DSIR): per-document
    // log-importance of the raw corpus under a target distribution,
    // over hashed unigram buckets — the published recipe for
    // reweighting web text toward a curated slice without training a
    // model. Bucket b gets w(b) = ln of the Laplace-smoothed
    // target/raw frequency ratio; a doc scores Σ n_b·w(b). The bucket
    // table is DsirBuckets rows at ANY corpus size (broadcast), the
    // corpus side is one explode + two hash aggregates — linear, no
    // joins on the corpus axis. Exactness: the q65 logprob recipe —
    // each bucket's ln rounds at scale 9 into DECIMAL (per-bucket
    // last-ulp ln() flips move a doc score by ≤ 1e-9·n_b), the per-doc
    // sum is exact DECIMAL, presented as DOUBLE (unique under 2^53).
    Q(
      "q145_importance_weights", {
        s"""WITH $dsirWeightCtes,
           |d AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n
           |      FROM tb GROUP BY doc_id, b)
           |SELECT d.doc_id, CAST(sum(d.n) AS BIGINT) AS n_tokens,
           |  CAST(sum(CAST(d.n AS DECIMAL(10,0)) * w.w9) AS DOUBLE)
           |    AS log_weight
           |FROM d JOIN w USING (b) GROUP BY d.doc_id""".stripMargin
      }) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val tb = docs
        .withColumn("th", call_function("graft_token_hashes", col("text")))
        .filter(size(col("th")) > 0)
        .select(col("doc_id"), col("source"), explode(col("th")).as("h"))
        .select(col("doc_id"), col("source"),
          (col("h") % DsirBuckets).as("b"))
        .cache() // feeds three aggregates; bucket-count-sized outputs
      val isTgt = col("source").isin(DsirTarget: _*)
      val rc = tb.groupBy("b").agg(count(lit(1)).as("rcnt"))
      val tc = tb.filter(isTgt).groupBy("b").agg(count(lit(1)).as("tcnt"))
      val tot = tb.agg(count(lit(1)).as("rtot"),
        sum(when(isTgt, 1L).otherwise(0L)).as("ttot"))
      val w = rc.join(tc, Seq("b"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("w9", round(log(
          ((coalesce(col("tcnt"), lit(0L)) + lit(1.0d)) *
            (col("rtot") + lit(DsirBuckets.toLong))) /
          ((col("rcnt") + lit(1.0d)) *
            (col("ttot") + lit(DsirBuckets.toLong)))), 9)
          .cast(DecimalType(13, 9)))
        .select("b", "w9")
      val d = tb.groupBy("doc_id", "b").agg(count(lit(1)).as("n"))
      val out = d.join(broadcast(w), "b")
        .groupBy("doc_id")
        .agg(sum("n").as("n_tokens"),
          sum(col("n") * col("w9")).cast("double").as("log_weight"))
        .localCheckpoint() // materialize before releasing the token cache
      tb.unpersist()
      out
    },

    // ---- HARD-NEGATIVE MINING (L127): for each query vector, the
    // top-k most-similar vectors with a DIFFERENT label — the standard
    // contrastive-training pass (random negatives are easy; the
    // near-miss negatives carry the gradient). Same brute-force
    // broadcast shape as q26 (the small query set rides to every
    // corpus partition; at scale the corpus side swaps to the q116 IVF
    // probe, same contract) with the label predicate INSIDE the join —
    // same-label rows never materialize. Ranking is a per-query
    // bounded window; cosine presents rounded per ExactRound rule 3.
    Q(
      "q146_hard_negatives",
      s"""WITH v AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
         |  FROM embeddings),
         |vn AS (SELECT vec_id, label, dv, ${dot64Sql("dv", "dv")} AS n2 FROM v),
         |scored AS (
         |  SELECT q.vec_id AS query_id, q.label AS query_label,
         |    c.vec_id AS neighbor_id, c.label AS neighbor_label,
         |    ${dot64Sql("q.dv", "c.dv")} / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         |  FROM vn q, vn c WHERE q.vec_id < 10 AND c.label <> q.label),
         |ranked AS (
         |  SELECT query_id, query_label, neighbor_id, neighbor_label, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, query_label, CAST(rn AS INT) AS rank,
         |  neighbor_id, neighbor_label, round(cos, 6) AS cos
         |FROM ranked WHERE rn <= 5""".stripMargin) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val c = e.select(col("vec_id").as("neighbor_id"),
          col("label").as("neighbor_label"),
          Similarity.toDouble(col("embedding")).as("nv"))
        .withColumn("nn", sqrt(Similarity.dot(col("nv"), col("nv"))))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label").as("query_label"),
          Similarity.toDouble(col("embedding")).as("qv"))
        .withColumn("qn", sqrt(Similarity.dot(col("qv"), col("qv"))))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      c.join(broadcast(q), col("neighbor_label") =!= col("query_label"))
        .withColumn("cos",
          Similarity.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("query_label"), col("rank"),
          col("neighbor_id"), col("neighbor_label"),
          round(col("cos"), 6).as("cos"))
    },

    // ---- CLUSTER-BALANCED SAMPLING WEIGHTS (L128): every near-dup
    // cluster contributes EQUAL sampling mass — each member weighs
    // 1/|cluster| — so template mega-clusters stop dominating a
    // uniform sample (the dedup-aware counterpart of L76's temperature
    // reweighting; singletons keep weight 1). The weight rounds in
    // integer space (ExactRound.roundRatio) and crosses as DOUBLE.
    //
    // Round 12: like q152 (same production-sampling shape), the
    // weights consume the STANDING cluster labels — the q119 fold
    // idiom over the L132 degree-capped candidate stream — instead of
    // recomputing the exact pair set per build. The exact stream is
    // quadratic inside a template mega-component (the round-10 sf1
    // probe: 27× pairs, >13× wall on this family); the capped stream
    // is linear and the standing labels are periodically reconciled
    // to the exact components (TextDedupSpec pins convergence), so
    // post-reconciliation weights match the exact relation too. The
    // query replays the fold: standing labels from historical edges,
    // one incremental fold of the batch edges, then the size rollup
    // and the 1/|cluster| weight. Fold == one-shot closure over the
    // same edge set (q119's contract), so the oracle runs the closure
    // over the capped pairs.
    Q(
      "q147_cluster_balanced_weights",
      s"""WITH RECURSIVE $simhashCtes,
         |${simhashPairsCtes()},
         |${componentCtes("pairs")},
         |lab AS (
         |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN cmp c ON c.id = d.doc_id),
         |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS csize
         |       FROM lab GROUP BY component)
         |SELECT lab.doc_id, lab.component, sz.csize,
         |  CAST(((2 * 1000000 + sz.csize) // (2 * sz.csize))
         |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS weight
         |FROM lab JOIN sz USING (component)""".stripMargin) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
      // the standing labeling a production build would READ (the q152
      // split: historical edges resolved once, the current batch
      // folded in incrementally — per-build work bounded by the batch)
      val old = pairs.filter((col("id_a") + col("id_b")) % 3 =!= 0)
      val batch = pairs.filter((col("id_a") + col("id_b")) % 3 === 0)
      val standing = Components.connectedComponents(old, "id_a", "id_b")
      val labels = Components
        .incrementalComponents(standing, batch, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      val lab = docs.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("component"))
      val sz = lab.groupBy("component").agg(count(lit(1)).as("csize"))
      lab.join(sz, "component")
        .select(col("doc_id"), col("component"), col("csize"),
          ExactRound.roundRatio(lit(1L), col("csize"), 6)
            .cast("double").as("weight"))
    },

    // ---- TOKEN-BUDGET APPORTIONMENT (L129, largest remainder): turn
    // per-source mixture shares into an INTEGER token allocation that
    // sums to the epoch budget EXACTLY — the materialization step
    // between q94's mixture weights and a sampler that draws whole
    // documents (floats leave the budget off by rounding drift;
    // Hamilton's method guarantees Σ quota = B and every source within
    // 1 of its real-valued quota). All integer: floor = (B·tok) div
    // total, remainders compared as integers ((B·tok) mod total — no
    // fraction ever materializes), deficit = B − Σ floor spread over
    // the largest remainders with a total-order tiebreak. The
    // per-source frame is |sources|-sized (bounded at any corpus
    // scale — the one window runs on that aggregate, never the corpus).
    Q(
      "q148_token_apportionment",
      s"""WITH s AS (
         |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS tokens
         |  FROM documents GROUP BY source),
         |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM s),
         |q AS (SELECT source, tokens,
         |    ($ApportionBudget * tokens) // t.total AS floor_quota,
         |    ($ApportionBudget * tokens) % t.total AS rem
         |  FROM s, t),
         |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
         |      FROM q),
         |d AS (SELECT CAST($ApportionBudget - sum(floor_quota) AS BIGINT)
         |        AS deficit FROM q)
         |SELECT source, tokens, CAST(floor_quota AS BIGINT) AS floor_quota,
         |  CAST(CASE WHEN rk <= d.deficit THEN 1 ELSE 0 END AS BIGINT)
         |    AS extra,
         |  CAST(floor_quota + CASE WHEN rk <= d.deficit THEN 1 ELSE 0 END
         |    AS BIGINT) AS quota
         |FROM r, d""".stripMargin) { (spark, dir) =>
      val s = Tables.documents(spark, dir)
        .groupBy("source").agg(sum("n_chars").as("tokens"))
        .localCheckpoint() // |sources| rows; feeds three consumers below
      val t = s.agg(sum("tokens").as("total"))
      val q = s.crossJoin(broadcast(t))
        .withColumn("floor_quota",
          expr(s"($ApportionBudget * tokens) DIV total"))
        .withColumn("rem", (lit(ApportionBudget) * col("tokens")) % col("total"))
      val d = q.agg((lit(ApportionBudget) - sum("floor_quota")).as("deficit"))
      // unpartitioned window over the |sources|-row aggregate only —
      // bounded at any corpus scale (same contract as prioritySample's
      // n+1-row rank)
      q.withColumn("rk",
          row_number().over(Window.orderBy(col("rem").desc, col("source"))))
        .crossJoin(broadcast(d))
        .select(col("source"), col("tokens"), col("floor_quota"),
          when(col("rk") <= col("deficit"), 1L).otherwise(0L).as("extra"),
          (col("floor_quota") +
            when(col("rk") <= col("deficit"), 1L).otherwise(0L)).as("quota"))
    },

    // ---- CONTAINMENT JOIN (L130, asymmetric Jaccard): every ordered
    // pair where ≥ 90% of doc a's shingles appear in doc b — the
    // subset/quote/excerpt duplication symmetric Jaccard misses (a
    // short doc embedded in a long page: the union term swamps J while
    // C(a→b) is high). One-sided prefix filter: only the containee
    // side prunes to its rarest |A| − ⌈t·|A|⌉ + 1 shingles, the
    // container side posts its full set as an inverted index (B's size
    // is unconstrained, so B cannot be prefix-pruned — the asymmetry
    // IS the operator); candidates verify via the exact two-pointer
    // intersect kernel; the cut inter·10 ≥ |A|·9 is pure integer. The
    // oracle brute-forces containment over the SAME mod-P hashes, so a
    // missed pair fails the row count — no false negatives.
    Q(
      "q149_containment_join",
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS t FROM documents),
         |shs AS (
         |  SELECT doc_id, unnest($shingleListSql) AS s
         |  FROM toks),
         |sh AS (SELECT DISTINCT doc_id, ${strHashSql("s")} AS h
         |       FROM shs),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |px AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(count(*) AS BIGINT) AS inter
         |  FROM sh a JOIN sh b USING (h) WHERE a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(x.n AS BIGINT) AS n_a, inter,
         |  CAST(((2 * inter * 1000000 + x.n) // (2 * x.n))
         |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS containment
         |FROM px JOIN sz x ON id_a = x.doc_id
         |WHERE inter * 10 >= x.n * 9""".stripMargin) { (spark, dir) =>
      Dedup.containmentPairs(Tables.documents(spark, dir),
        "doc_id", "text", shingleN = 3, tNum = 9, tDen = 10)
    },

    // ---- COVERAGE-FLOOR SAMPLING (L131): a sample that GUARANTEES
    // every (lang, source) cell keeps its min(floor, |cell|) rows
    // before any global budget applies — uniform/priority sampling
    // starves rare cells (a 0.1% slice expects 1 row in a 1000-row
    // draw), and a per-cell quota alone wastes budget on huge cells;
    // flooring then filling by global deterministic priority does
    // both. Priorities are the shared multiplicative hash — the draw
    // replays on any engine/run/partitioning. The cell rank shuffles
    // on the cell key (never single-partition); the fill rank runs on
    // the post-floor REMAINDER through the two-phase prefix-sum rank
    // (range-partition + driver-prefixed offsets), so no global window
    // exists at any scale.
    Q(
      "q150_coverage_floor_sample",
      s"""WITH h AS (
         |  SELECT doc_id, lang, source,
         |    (doc_id * ${Text.Mult}) % ${Text.P} AS pr FROM documents),
         |cr AS (
         |  SELECT *, row_number() OVER (PARTITION BY lang, source
         |    ORDER BY pr, doc_id) AS crk FROM h),
         |rest AS (
         |  SELECT *, row_number() OVER (ORDER BY pr, doc_id) AS grk
         |  FROM cr WHERE crk > $CoverageFloor)
         |SELECT doc_id, lang, source, 'floor' AS picked_by
         |FROM cr WHERE crk <= $CoverageFloor
         |UNION ALL
         |SELECT doc_id, lang, source, 'fill' AS picked_by
         |FROM rest WHERE grk <= $CoverageFill""".stripMargin) { (spark, dir) =>
      val docs = Tables.documents(spark, dir).select("doc_id", "lang", "source")
        .withColumn("pr",
          pmod(col("doc_id").cast("long") * Text.Mult, lit(Text.P)))
      val cellW = Window.partitionBy("lang", "source")
        .orderBy(col("pr"), col("doc_id"))
      val ranked = docs.withColumn("crk", row_number().over(cellW))
      val floor = ranked.filter(col("crk") <= CoverageFloor)
        .select(col("doc_id"), col("lang"), col("source"),
          lit("floor").as("picked_by"))
      val fill = Sample
        .quantileNormalize(ranked.filter(col("crk") > CoverageFloor),
          Seq(col("pr"), col("doc_id")))
        .filter(col("rnk") <= CoverageFill)
        .select(col("doc_id"), col("lang"), col("source"),
          lit("fill").as("picked_by"))
      floor.unionByName(fill)
    },

    // ---- LEAKAGE-SAFE train/val/test split (L133): q91's deterministic
    // hash split applied at the DUP-CLUSTER granularity. Doc-keyed
    // splitting puts near-identical copies of one document on both
    // sides of the train/test boundary — the classic eval-leakage bug
    // near-dup detection exists to prevent — so the gate keys on the
    // cluster's min-label component instead and every member moves
    // atomically.
    //
    // Round 11: the split consumes the STANDING cluster labels (the
    // q119 fold idiom — `Components.incrementalComponents` over the
    // L132 capped candidate stream) instead of recomputing the exact
    // pair set per build. A split build is a downstream consumer of
    // the dedup state, not a recompute site: the exact stream is
    // quadratic inside a template mega-component (round-10 sf1 probe:
    // 27× pairs, 13.7× wall for this query), while the standing labels
    // are maintained incrementally at capped (linear) volume and
    // periodically reconciled against a full exact recompute —
    // TextDedupSpec "capped folds + periodic full recompute" pins that
    // the reconciliation converges the standing labels to the exact
    // components, so post-reconciliation splits are leakage-free under
    // the EXACT pair relation too. The query replays the fold: standing
    // labels from the historical edges, one incremental fold of the
    // batch edges (bounded by the batch, never the corpus), then the
    // L83 gate on the folded label. Fold == full recompute over the
    // same edge set (q119's contract), so the oracle runs the one-shot
    // closure over the capped pairs. Spec pins one-split-per-cluster
    // and that no consumed (capped) pair crosses splits.
    Q(
      "q152_leakage_safe_split",
      s"""WITH RECURSIVE $simhashCtes,
         |${simhashPairsCtes()},
         |${componentCtes("pairs")},
         |labeled AS (
         |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN cmp c ON c.id = d.doc_id)
         |SELECT doc_id, component,
         |  CASE WHEN ((component * ${Text.Mult}) % ${Text.P}) % 100 < 80
         |         THEN 'train'
         |       WHEN ((component * ${Text.Mult}) % ${Text.P}) % 100 < 90
         |         THEN 'val'
         |       ELSE 'test' END AS split
         |FROM labeled""".stripMargin) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
      // the standing labeling a production build would READ: historical
      // edges resolved once, the current batch folded in incrementally
      // (the q119 fold — per-build work bounded by the batch)
      val old = pairs.filter((col("id_a") + col("id_b")) % 3 =!= 0)
      val batch = pairs.filter((col("id_a") + col("id_b")) % 3 === 0)
      val standing = Components.connectedComponents(old, "id_a", "id_b")
      val labels = Components
        .incrementalComponents(standing, batch, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      val comp = docs.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("component"))
      Sample.assignSplit(comp, "component",
        Seq("train" -> 80, "val" -> 90), rest = "test")
        .select("doc_id", "component", "split")
    },

    // ---- NEYMAN-ALLOCATION STRATIFIED SAMPLE (L161): a 100-row budget
    // split across sources ∝ N_h·σ_h(n_chars) — the minimum-variance
    // allocation for estimating corpus statistics from a bounded audit
    // sample (a heterogeneous source earns more audit rows than an
    // equally-sized uniform one). Exactness: σ numerators are pure
    // integers (N·Σx²−(Σx)²), the weight total folds sequentially over
    // the source-sorted list, quotas are Hamilton largest-remainder
    // with source-name tie-break, and the per-source draw is the
    // deterministic hash-rank gate — the oracle replays every step.
    Q(
      "q180_neyman_sample", {
        val B = 100
        s"""WITH s AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
           |    CAST(sum(n_chars) AS BIGINT) AS s1,
           |    CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
           |  FROM documents GROUP BY 1),
           |w AS (
           |  SELECT source, n_rows,
           |    CASE WHEN n_rows <= 1 THEN CAST(0 AS DOUBLE)
           |         ELSE sqrt(CAST(n_rows * (n_rows * s2 - s1 * s1) AS DOUBLE)
           |                / (n_rows - 1)) END AS wt
           |  FROM s),
           |tot AS (
           |  SELECT ${foldSumSql("list(wt ORDER BY source)", "CAST(0 AS DOUBLE)")}
           |      AS w_total,
           |    CAST(sum(n_rows) AS BIGINT) AS total_rows
           |  FROM w),
           |q AS (
           |  SELECT source,
           |    CASE WHEN t.w_total = 0
           |         THEN CAST($B * n_rows AS DOUBLE) / t.total_rows
           |         ELSE $B * wt / t.w_total END AS target
           |  FROM w, tot t),
           |q2 AS (
           |  SELECT source, CAST(floor(target) AS BIGINT) AS base,
           |    target - floor(target) AS rem
           |  FROM q),
           |d AS (SELECT CAST($B - sum(base) AS BIGINT) AS deficit FROM q2),
           |r AS (
           |  SELECT source, base,
           |    row_number() OVER (ORDER BY rem DESC, source) AS rk
           |  FROM q2),
           |alloc AS (
           |  SELECT source,
           |    base + CASE WHEN rk <= d.deficit THEN 1 ELSE 0 END AS alloc
           |  FROM r, d),
           |ranked AS (
           |  SELECT doc_id, source,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY (doc_id * ${Text.Mult}) % ${Text.P}, doc_id)
           |      AS strat_rank
           |  FROM documents)
           |SELECT ranked.doc_id, ranked.source,
           |  CAST(strat_rank AS BIGINT) AS strat_rank,
           |  CAST(a.alloc AS BIGINT) AS alloc
           |FROM ranked JOIN alloc a USING (source)
           |WHERE strat_rank <= a.alloc""".stripMargin
      }) { (spark, dir) =>
      Sample.neymanSample(Tables.documents(spark, dir), "doc_id", "source",
        "n_chars", budget = 100)
    },

    // ---- PER-SOURCE KL DIVERGENCE (L169): KL(source ‖ corpus) over
    // the q145 hashed-unigram buckets with Laplace smoothing — the
    // scalar that ranks sources by how far their token distribution
    // sits from the corpus (the mixture-design complement to DSIR's
    // per-document weights: DSIR reweights documents toward a target,
    // this audits which SOURCES drag the mixture). All 256 buckets
    // contribute per source (a bucket the source never hits still
    // carries smoothed mass). Exactness: the q145 recipe — each
    // (source, bucket) ln rounds at scale 9 into DECIMAL, the
    // Σ(c+1)·w9 sum is exact DECIMAL, one final double divide by
    // (n_s + B). The bucket grid is |sources|·256 rows at ANY corpus
    // size; the corpus side is one explode + two hash aggregates.
    Q(
      "q188_source_kl_divergence", {
        val B = DsirBuckets
        s"""WITH toks AS (
           |  SELECT doc_id, source, $toksSql AS t FROM documents),
           |tb AS (
           |  SELECT source,
           |    CAST(concat('0x', substr(md5(u.x),1,8)) AS BIGINT) % $B AS b
           |  FROM toks, unnest(toks.t) AS u(x)),
           |rc AS (SELECT b, CAST(count(*) AS BIGINT) AS cb FROM tb GROUP BY b),
           |sc AS (SELECT source, b, CAST(count(*) AS BIGINT) AS csb
           |       FROM tb GROUP BY source, b),
           |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens
           |       FROM tb GROUP BY source),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tb),
           |grid AS (
           |  SELECT ns.source, ns.n_tokens, g.b,
           |    coalesce(sc.csb, 0) AS csb, coalesce(rc.cb, 0) AS cb
           |  FROM ns CROSS JOIN unnest(range(0, $B)) g(b)
           |  LEFT JOIN sc ON sc.source = ns.source AND sc.b = g.b
           |  LEFT JOIN rc ON rc.b = g.b),
           |w AS (
           |  SELECT source, n_tokens, csb,
           |    CAST(round(ln(
           |      ((csb + 1.0) * (tot.n + $B)) /
           |      ((cb + 1.0) * (n_tokens + $B))), 9)
           |      AS DECIMAL(13,9)) AS w9
           |  FROM grid, tot)
           |SELECT source, n_tokens,
           |  CAST(CAST(sum(CAST(csb + 1 AS DECIMAL(12,0)) * w9) AS DOUBLE)
           |    / (n_tokens + $B) AS DOUBLE) AS kl_vs_corpus
           |FROM w GROUP BY source, n_tokens""".stripMargin
      }) { (spark, dir) =>
      val B = DsirBuckets
      val tb = Tables.documents(spark, dir)
        .withColumn("th", call_function("graft_token_hashes", col("text")))
        .select(col("source"), explode(col("th")).as("h"))
        .select(col("source"), (col("h") % B).as("b"))
        .cache() // feeds three bucket-count-sized aggregates
      val rc = tb.groupBy("b").agg(count(lit(1)).as("cb"))
      val sc = tb.groupBy("source", "b").agg(count(lit(1)).as("csb"))
      val ns = tb.groupBy("source").agg(count(lit(1)).as("n_tokens"))
      val tot = tb.agg(count(lit(1)).as("n"))
      val grid = ns
        .crossJoin(broadcast(
          spark.range(0, B).select(col("id").as("b"))))
        .join(sc, Seq("source", "b"), "left")
        .join(broadcast(rc), Seq("b"), "left")
        .select(col("source"), col("n_tokens"), col("b"),
          coalesce(col("csb"), lit(0L)).as("csb"),
          coalesce(col("cb"), lit(0L)).as("cb"))
      val out = grid.crossJoin(broadcast(tot))
        .withColumn("w9", round(log(
          ((col("csb") + lit(1.0d)) * (col("n") + lit(B.toLong))) /
            ((col("cb") + lit(1.0d)) * (col("n_tokens") + lit(B.toLong)))), 9)
          .cast(DecimalType(13, 9)))
        .groupBy("source", "n_tokens")
        .agg(sum((col("csb") + lit(1L)).cast(DecimalType(12, 0)) * col("w9"))
          .as("s"))
        .select(col("source"), col("n_tokens"),
          (col("s").cast("double") / (col("n_tokens") + lit(B.toLong)))
            .cast("double").as("kl_vs_corpus"))
        .localCheckpoint()
      tb.unpersist()
      out
    },

    // ---- DSIR IMPORTANCE RESAMPLING (L277, Xie et al. 2023 "Data
    // Selection for Language Models via Importance Resampling"): the
    // SELECTION step the q145 weight stage feeds — sample k documents
    // from the raw corpus without replacement with probability ∝ their
    // importance weight, via the Gumbel top-k trick: pick the k largest
    // log w_i + g_i where g_i ~ Gumbel(0,1). The Gumbel draw is SEEDED
    // per document (u_i = ((doc_id·Mult) mod P + 1) ∕ 2³¹ — the q20/q91
    // multiplicative-hash gate, exactly representable since 2³¹ is a
    // binary power; g_i = −ln(−ln u_i)), so the selected set is a pure
    // function of the corpus — re-runs, retries, and engines agree, the
    // property an auditable training-set build needs. Weights are
    // q145's hashed-unigram-bucket target∕raw log-likelihood ratios
    // (target = the DsirTarget curated slice), candidates are the
    // NON-target docs (resample raw TOWARD target). Exactness: bucket
    // ln ratios and g on the 9-dp DECIMAL grid, per-doc Σ exact
    // DECIMAL, key = lw + g exact DECIMAL addition; top-k is
    // orderBy().limit(k) = TakeOrderedAndProject (per-partition top-k,
    // k-row driver merge — never a global window), tie-broken by
    // doc_id. Scale: the bucket weight table is DsirBuckets rows at ANY
    // corpus size (broadcast); the corpus side is one explode + hash
    // aggregates + a scan-level Gumbel projection — linear, no corpus-
    // axis joins, selection state is k rows.
    Q(
      "q296_dsir_selection", dsirSelectionSql) { (spark, dir) =>
      dsirTop50(spark, dir)
    },

    // ---- SEQUENCE PACKING audit (L280): pack documents into fixed
    // L=512-token context windows with the boundary-preserving NEXT-FIT
    // rule (docs never split across windows — the packing every
    // LLM-pretraining data loader prices against plain concat-and-chunk,
    // cf. Krell et al. 2021): per shard (source = the shard key), docs
    // in doc_id order fold through (bins, remainder) state — fits →
    // pack, else open a bin; overlong docs truncate to L (counted as
    // trunc waste). Emits the per-shard packing economics a planner
    // needs BEFORE committing a loader: bins, fill rate
    // (packed ∕ bins·L) and truncation rate, both half-up 6-dp
    // integer-space.
    //
    // Scale shape: packing is inherently ORDER-DEPENDENT (the state is
    // a non-associative fold), so the operator packs per shard —
    // `repartition(shard) + sortWithinPartitions(shard, doc_id) +
    // mapPartitions` runs one compiled sequential fold per contiguous
    // shard group, O(1) state per stream, parallelism ACROSS shards
    // (at 100 TB the shard key is the file/split id — thousands of
    // independent streams; one giant shard would serialize, which is a
    // data-layout fact, not a plan defect). mapPartitions is the right
    // tool here, not a fallback: no window/aggregate expresses a
    // running remainder with reset. The DuckDB oracle replays the fold
    // as a per-shard list_reduce over the identically-ordered lengths.
    Q(
      "q299_sequence_packing", packingOracleSql) {
      (spark, dir) =>
      val t = Tables.documents(spark, dir)
        .select(col("source"), col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("ntok"))
      Packing.economics(
        Packing.packFold(Packing.emptyState(spark), t, 512L), 512L)
    },

    // ---- INCREMENTAL DSIR maintenance (L282): q296's selection under
    // CONTINUOUS INGEST — when a document batch arrives, nobody
    // re-featurizes 100 TB: the standing per-doc bucket-count feature
    // table is APPEND-ONLY (features of old docs never change), the
    // bucket distributions are abelian counts that fold batch deltas
    // in (standing + batch, one 256-row merge), and the refreshed
    // weight table re-scores the standing FEATURES — a broadcast join
    // over (doc, bucket) counts, the raw text is read once per
    // document ever. The Gumbel keys are seeded per doc_id, so
    // re-selection under new weights is still a pure function of the
    // corpus. This query RUNS the fold (standing = doc_id%10≠3 state,
    // batch = the %10=3 arrivals) and its oracle is the ONE-SHOT
    // full-corpus selection — the row-for-row hash match IS the
    // maintenance == rebuild proof (the q294 contract).
    Q(
      "q301_dsir_incremental", dsirSelectionSql) { (spark, dir) =>
      val B = DsirBuckets
      val docs = Tables.documents(spark, dir)
      def feats(part: org.apache.spark.sql.DataFrame) = part
        .withColumn("th", call_function("graft_token_hashes", col("text")))
        .filter(size(col("th")) > 0)
        .select(col("doc_id"), col("source"), explode(col("th")).as("h"))
        .select(col("doc_id"), col("source"), (col("h") % B).as("b"))
        .groupBy("doc_id", "source", "b").agg(count(lit(1)).as("n"))
      // standing feature table (featurized long ago) + the arriving
      // batch's features (featurized once, now) — append-only union
      val standing = feats(docs.filter(col("doc_id") % 10 =!= 3))
        .localCheckpoint() // the persisted state a real fold reads back
      val batch = feats(docs.filter(col("doc_id") % 10 === 3))
        .localCheckpoint()
      val feat = standing.unionByName(batch)
      val isTgt = col("source").isin(DsirTarget: _*)
      // bucket-distribution fold: abelian counts, standing + batch
      def bucketCounts(f: org.apache.spark.sql.DataFrame) = f.groupBy("b")
        .agg(sum("n").as("rcnt"),
          sum(when(isTgt, col("n")).otherwise(0L)).as("tcnt"))
      val folded = bucketCounts(standing).unionByName(bucketCounts(batch))
        .groupBy("b")
        .agg(sum("rcnt").as("rcnt"), sum("tcnt").as("tcnt"))
      val tot = folded.agg(sum("rcnt").as("rtot"), sum("tcnt").as("ttot"))
      val w = folded.crossJoin(broadcast(tot))
        .withColumn("w9", round(log(
          ((col("tcnt") + lit(1.0d)) * (col("rtot") + lit(B.toLong))) /
          ((col("rcnt") + lit(1.0d)) * (col("ttot") + lit(B.toLong)))), 9)
          .cast(DecimalType(13, 9)))
        .select("b", "w9")
      // re-score the STANDING features under the refreshed weights —
      // no document is re-tokenized
      val lw = feat.filter(!isTgt)
        .join(broadcast(w), "b")
        .groupBy("doc_id", "source")
        .agg(sum("n").as("n_tokens"),
          sum(col("n").cast(DecimalType(10, 0)) * col("w9")).as("lw"))
      val u = (pmod(col("doc_id").cast("long") * lit(Text.Mult), lit(Text.P))
        + lit(1L)).cast("double") / lit(2147483648.0d)
      lw.withColumn("g", round(-log(-log(u)), 9).cast(DecimalType(13, 9)))
        .orderBy((col("lw") + col("g")).desc, col("doc_id")).limit(50)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("lw").cast("double").as("log_weight"),
          (col("lw") + col("g")).cast("double").as("gumbel_key"))
    },

    // ---- UNIMAX LANGUAGE-MIXTURE ALLOCATION (L283, Chung et al. 2023
    // — the published budget allocator behind mT5/PaLM-era multilingual
    // mixtures): given per-language token counts, a total training
    // budget B, and a max-epoch cap E, water-fill the budget — every
    // language gets an equal share of what remains EXCEPT where the
    // epoch cap binds first (low-resource languages saturate at E
    // epochs; the rest split the leftover evenly), so no language is
    // oversampled past E and no head language swallows the budget.
    // Closed form over the capacity-ascending grid: languages with
    // cap_i ≤ (B − prefix_i)∕(n−i+1) take their full cap; from the
    // first violation k on, the remaining W = B − prefix_k splits as
    // W div m (+1 for the first W mod m ranks — the q148
    // largest-remainder discipline), so Σ alloc = B EXACTLY in pure
    // integer arithmetic. Fixture: B = Σ tokens, E = 2. Scale shape:
    // one corpus pass for the token counts, then |langs|-row grid math
    // (every window below is grid-bounded); the allocation table is
    // what a 100 TB mixture loader consumes as its sampling plan.
    Q(
      "q302_unimax_mixture", {
        s"""WITH tl0 AS (
           |  SELECT lang, CAST(sum(len($toksSql)) AS BIGINT)
           |    AS nl
           |  FROM documents GROUP BY 1),
           |tl AS (SELECT * FROM tl0 WHERE nl > 0),
           |st AS (
           |  SELECT CAST((3 * sum(nl)) // 2 AS BIGINT) AS b,
           |    CAST(count(*) AS BIGINT) AS n FROM tl),
           |g AS (
           |  SELECT lang, nl, 2 * nl AS cap,
           |    row_number() OVER (ORDER BY 2 * nl, lang) AS rk,
           |    sum(2 * nl) OVER (ORDER BY 2 * nl, lang
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 2 * nl
           |      AS pfx
           |  FROM tl),
           |lv AS (
           |  SELECT g.*, st.b, st.n, (b - pfx) // (n - rk + 1) AS lvl
           |  FROM g, st),
           |kk AS (
           |  SELECT coalesce(min(CASE WHEN cap > lvl THEN rk END),
           |    (SELECT n + 1 FROM st)) AS k FROM lv),
           |kp AS (
           |  SELECT k, coalesce((SELECT pfx FROM lv WHERE rk = kk.k),
           |    (SELECT sum(cap) FROM lv)) AS pk FROM kk)
           |SELECT lang, nl AS n_tokens, cap,
           |  CAST(CASE WHEN rk < k THEN cap ELSE
           |    (b - pk) // (n - k + 1)
           |      + CASE WHEN rk - k < (b - pk) % (n - k + 1) THEN 1 ELSE 0 END
           |  END AS BIGINT) AS alloc,
           |  CAST(((2 * CAST(CASE WHEN rk < k THEN cap ELSE
           |      (b - pk) // (n - k + 1)
           |      + CASE WHEN rk - k < (b - pk) % (n - k + 1) THEN 1 ELSE 0 END
           |    END AS HUGEINT) * 1000000 + nl)
           |      // (2 * CAST(nl AS HUGEINT))) AS DOUBLE) / 1000000
           |    AS epochs
           |FROM lv, kp""".stripMargin
      }) { (spark, dir) =>
      import graft.functions.ExactRound
      val E = 2L
      // nl > 0 guard (round-19 advice): a language whose docs tokenize
      // to zero tokens would put nl = 0 into the epochs divide — filter
      // it out in BOTH engines, mirroring q305
      val tl = Tables.documents(spark, dir)
        .select(col("lang"), size(Text.tokens(col("text"))).cast("long")
          .as("nt"))
        .groupBy("lang").agg(sum("nt").as("nl"))
        .filter(col("nl") > 0)
        .withColumn("cap", col("nl") * E)
        .localCheckpoint() // |langs|-row grid; read by every stage below
      // B = 1.5 epochs' worth of tokens: enough that the E=2 cap BINDS
      // for low-resource languages while the head language takes the
      // leveled remainder — both allocator regimes exercised
      val st = tl.agg(sum("nl").as("b0"), count(lit(1)).as("n"))
        .select(expr("(3 * b0) div 2").as("b"), col("n"))
      // capacity-ascending grid rank — |langs|-bounded window
      val byCap = Window.orderBy(col("cap"), col("lang"))
      val g = tl
        .withColumn("rk", row_number().over(byCap).cast("long"))
        .withColumn("pfx", sum("cap").over(byCap
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("cap"))
        .crossJoin(broadcast(st))
        .withColumn("lvl", expr("(b - pfx) div (n - rk + 1)"))
        .localCheckpoint() // grid; read for k, pk, and the output
      val kk = g.agg(coalesce(min(when(col("cap") > col("lvl"), col("rk"))),
        max(col("n")) + 1).as("k"))
      val kp = g.join(kk, col("rk") === col("k"), "right")
        .select(col("k"), col("pfx").as("pk0"))
        .crossJoin(broadcast(g.agg(sum("cap").as("allcap"))))
        .select(col("k"), coalesce(col("pk0"), col("allcap")).as("pk"))
      val alloc = when(col("rk") < col("k"), col("cap")).otherwise(
        expr("(b - pk) div (n - k + 1)") +
          when(col("rk") - col("k") < expr("(b - pk) % (n - k + 1)"), 1L)
            .otherwise(0L))
      g.crossJoin(broadcast(kp))
        .select(col("lang"), col("nl").as("n_tokens"), col("cap"),
          alloc.as("alloc"),
          ExactRound.roundRatio(alloc, col("nl"), 6)
            .cast("double").as("epochs"))
    },

    // ---- TEMPERATURE-SCALED MIXTURE (L286, Xue et al. 2021 mT5 /
    // Conneau et al. 2020 XLM-R — the OTHER published multilingual
    // rebalancing rule, q302's smooth counterpart): sample language l
    // with p_l ∝ n_l^τ, τ = 0.3 — upsampling low-resource languages
    // continuously instead of UniMax's hard epoch cap. Weights are
    // n^0.3 = exp(τ·ln n) minted on the 9-dp DECIMAL grid, the budget
    // splits by the q148 largest-remainder apportionment over the
    // scaled-integer weights — Σ alloc = B EXACTLY, engine-replayable
    // (products ride DECIMAL(38)/HUGEINT; at web scale B·w9 exceeds
    // BIGINT, so both engines use the wide lane). Emits raw vs
    // temperature shares so the flattening is the readout. Scale: one
    // corpus pass + |langs|-row grid math, grid-bounded windows only.
    Q(
      "q305_temperature_mixture",
      s"""WITH tl AS (
         |  SELECT lang, CAST(sum(len($toksSql)) AS BIGINT)
         |    AS nl
         |  FROM documents GROUP BY 1),
         |st AS (SELECT CAST(sum(nl) AS BIGINT) AS b FROM tl),
         |w AS (
         |  SELECT lang, nl,
         |    CAST(CAST(CAST(round(exp(0.3 * ln(CAST(nl AS DOUBLE))), 9)
         |      AS DECIMAL(18,9)) AS DECIMAL(28,9)) * 1000000000 AS HUGEINT)
         |      AS wi
         |  FROM tl WHERE nl > 0),
         |sw AS (SELECT CAST(sum(wi) AS HUGEINT) AS sw FROM w),
         |q AS (
         |  SELECT lang, nl, wi,
         |    (CAST(b AS HUGEINT) * wi) // sw AS base,
         |    (CAST(b AS HUGEINT) * wi) % sw AS rem, b
         |  FROM w, st, sw),
         |d AS (SELECT CAST(any_value(b) - sum(base) AS BIGINT) AS deficit
         |      FROM q),
         |r AS (
         |  SELECT q.*, row_number() OVER (ORDER BY rem DESC, lang) AS rk
         |  FROM q)
         |SELECT lang, nl AS n_tokens,
         |  CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
         |    AS alloc,
         |  CAST(((2 * CAST(nl AS HUGEINT) * 1000000 + b)
         |      // (2 * CAST(b AS HUGEINT))) AS DOUBLE) / 1000000
         |    AS share_raw,
         |  CAST(((2 * wi * 1000000 + sw) // (2 * sw)) AS DOUBLE) / 1000000
         |    AS share_temp
         |FROM r, d, sw""".stripMargin) { (spark, dir) =>
      import graft.functions.ExactRound
      val I = DecimalType(38, 0)
      val tl = Tables.documents(spark, dir)
        .select(col("lang"), size(Text.tokens(col("text"))).cast("long")
          .as("nt"))
        .groupBy("lang").agg(sum("nt").as("nl"))
        .filter(col("nl") > 0)
        .localCheckpoint() // |langs| grid
      val st = tl.agg(sum("nl").as("b"))
      val w = tl.withColumn("wi",
        (round(exp(lit(0.3d) * log(col("nl").cast("double"))), 9)
          .cast(DecimalType(18, 9)) *
          lit(java.math.BigDecimal.valueOf(1000000000L))
            .cast(DecimalType(10, 0))).cast(I))
      val sw = w.agg(sum("wi").cast(I).as("sw"))
      val q = w.crossJoin(broadcast(st)).crossJoin(broadcast(sw))
        .withColumn("base",
          ExactRound.floorDiv(col("b").cast(I) * col("wi"), col("sw")))
        .withColumn("rem", col("b").cast(I) * col("wi") - col("base") * col("sw"))
        .localCheckpoint() // grid; read for deficit and the ranked output
      val d = q.agg((first(col("b")).cast(I) - sum("base")).as("deficit"))
      // largest-remainder rank over the |langs|-row grid only
      q.withColumn("rk",
          row_number().over(Window.orderBy(col("rem").desc, col("lang")))
            .cast("long"))
        .crossJoin(broadcast(d))
        .select(col("lang"), col("nl").as("n_tokens"),
          (col("base") + when(col("rk").cast(I) <= col("deficit"),
            lit(1).cast(I)).otherwise(lit(0).cast(I))).cast("long")
            .as("alloc"),
          ExactRound.roundRatio(col("nl"), col("b"), 6)
            .cast("double").as("share_raw"),
          ExactRound.roundRatio(col("wi"), col("sw"), 6)
            .cast("double").as("share_temp"))
    },

    // ---- QUALITY-CLASSIFIER SELECTION (L290 — the model-based half
    // of the CCNet/FineWeb recipe, pairing q296's DSIR: Wenzek et al.
    // 2020 §3.3 train a linear classifier on a curated target vs the
    // raw crawl and keep docs it scores as target-like): a multinomial
    // Naive Bayes over hashed bag-of-token features, trained in CLOSED
    // FORM from class counts (ops/Classify — no MLlib, no iterations:
    // NB's MLE is two aggregates), positive class = the DsirTarget
    // curated slice, scored over the non-target candidates, keep =
    // log-odds sum > 0. The query then PRICES the new gate the way a
    // pipeline owner must before shipping it — Cohen's κ agreement
    // (the q239 machinery) against the two selection rules already in
    // the registry: the q169 Gopher heuristic battery and the q296
    // DSIR top-50 — so the readout says whether the classifier adds
    // signal or re-derives an existing gate. Exactness: weights on the
    // 9-dp DECIMAL grid (q296's ln precedent), scores exact DECIMAL
    // sums, κ pure integers into the signed half-away divide. Scale:
    // training is one corpus pass onto a 256-row broadcast grid,
    // scoring one broadcast join + per-doc aggregate; the κ verdicts
    // aggregate candidate-count rows to 2 output rows.
    Q(
      "q309_quality_classifier", {
        val B = DsirBuckets
        s"""WITH toks AS (
           |  SELECT doc_id, source, text, $toksSql AS t
           |  FROM documents),
           |${nbWeightCtes(dsirTgtSql, DsirBuckets)},
           |d AS (SELECT doc_id, source, b, CAST(count(*) AS BIGINT) AS n
           |      FROM tb WHERE source NOT IN ($dsirTgtSql) GROUP BY 1, 2, 3),
           |sc AS (SELECT d.doc_id,
           |    sum(CAST(d.n AS DECIMAL(10,0)) * nbw.w9) AS score
           |  FROM d JOIN nbw USING (b) GROUP BY 1),
           |cls AS (SELECT doc_id, score > 0 AS ka FROM sc),
           |gop AS (
           |  SELECT doc_id,
           |    ($gopherGateSql) AS kb
           |  FROM (
           |    SELECT doc_id,
           |      $gopherFeaturesSql
           |    FROM toks WHERE source NOT IN ($dsirTgtSql))),
           |rc AS (SELECT b, CAST(count(*) AS BIGINT) AS rcnt
           |       FROM tb GROUP BY b),
           |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS tcnt
           |       FROM tb WHERE source IN ($dsirTgtSql) GROUP BY b),
           |tt AS (SELECT CAST(count(*) AS BIGINT) AS rtot,
           |    CAST(count(*) FILTER (WHERE source IN ($dsirTgtSql)) AS BIGINT)
           |      AS ttot
           |  FROM tb),
           |dw AS (SELECT rc.b,
           |    CAST(round(ln(
           |      ((coalesce(tc.tcnt, 0) + 1.0) * (tt.rtot + $B)) /
           |      ((rc.rcnt + 1.0) * (tt.ttot + $B))), 9)
           |      AS DECIMAL(13,9)) AS dw9
           |  FROM rc LEFT JOIN tc USING (b) CROSS JOIN tt),
           |lw AS (SELECT d.doc_id,
           |    sum(CAST(d.n AS DECIMAL(10,0)) * dw.dw9) AS lw
           |  FROM d JOIN dw USING (b) GROUP BY 1),
           |keyed AS (SELECT doc_id,
           |    lw + CAST(round(-ln(-ln(
           |      CAST((doc_id * ${Text.Mult}) % ${Text.P} + 1 AS DOUBLE)
           |        / 2147483648.0)), 9) AS DECIMAL(13,9)) AS gk
           |  FROM lw),
           |top50 AS (SELECT doc_id FROM keyed
           |  ORDER BY gk DESC, doc_id LIMIT 50),
           |v AS (
           |  SELECT c.doc_id,
           |    CASE WHEN c.ka THEN 1 ELSE 0 END AS cls,
           |    CASE WHEN g.kb THEN 1 ELSE 0 END AS gop,
           |    CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dsir
           |  FROM cls c JOIN gop g USING (doc_id)
           |  LEFT JOIN top50 t USING (doc_id)),
           |kg AS (
           |  SELECT 'gopher' AS comparator,
           |    CAST(sum(cls * gop) AS HUGEINT) AS a,
           |    CAST(sum(cls * (1 - gop)) AS HUGEINT) AS b,
           |    CAST(sum((1 - cls) * gop) AS HUGEINT) AS c,
           |    CAST(sum((1 - cls) * (1 - gop)) AS HUGEINT) AS d,
           |    CAST(count(*) AS HUGEINT) AS n
           |  FROM v),
           |kd AS (
           |  SELECT 'dsir_top50' AS comparator,
           |    CAST(sum(cls * dsir) AS HUGEINT) AS a,
           |    CAST(sum(cls * (1 - dsir)) AS HUGEINT) AS b,
           |    CAST(sum((1 - cls) * dsir) AS HUGEINT) AS c,
           |    CAST(sum((1 - cls) * (1 - dsir)) AS HUGEINT) AS d,
           |    CAST(count(*) AS HUGEINT) AS n
           |  FROM v),
           |u AS (SELECT * FROM kg UNION ALL SELECT * FROM kd),
           |w2 AS (SELECT comparator, a, b, c, d, n,
           |    $kappaTermsSql
           |  FROM u)
           |SELECT comparator,
           |  $kappaSql
           |FROM w2""".stripMargin
      }) { (spark, dir) =>
      import graft.ops.{Classify, Stats}
      val docs = Tables.documents(spark, dir)
      val isTgt = col("source").isin(DsirTarget: _*)
      val feats = Classify.hashedTokenFeatures(docs, "doc_id", "text",
        DsirBuckets, carry = Seq("source"))
        .cache() // feeds training counts AND candidate scoring
      val w = Classify.nbWeights(feats, isTgt, DsirBuckets)
      val scored = Classify.nbScore(feats.filter(!isTgt), w, "doc_id")
      val gop = docs.filter(!isTgt)
        .select(col("doc_id"),
          Text.gopherSignals(col("text")).last.as("keep_gopher"))
      val dsir = dsirTop50(spark, dir)
        .select(col("doc_id"), lit(true).as("_sel"))
      val v = scored.join(gop, "doc_id")
        .join(dsir, Seq("doc_id"), "left")
        .select(when(col("keep_cls"), 1L).otherwise(0L).as("cls"),
          when(col("keep_gopher"), 1L).otherwise(0L).as("gop"),
          when(col("_sel").isNotNull, 1L).otherwise(0L).as("dsir"))
        .localCheckpoint() // candidate-count rows; two κ aggregates read it
      val kg = Stats.cohensKappa(v.select(col("cls").as("ga"),
          col("gop").as("gb")), "ga", "gb")
        .select(lit("gopher").as("comparator"), col("*"))
      val kd = Stats.cohensKappa(v.select(col("cls").as("ga"),
          col("dsir").as("gb")), "ga", "gb")
        .select(lit("dsir_top50").as("comparator"), col("*"))
      val out = kg.unionByName(kd).localCheckpoint()
      feats.unpersist()
      out
    },

    // ---- INCREMENTAL CLASSIFIER MAINTENANCE (L293 — q309's fold
    // twin under the q301/q310 continuous-ingest discipline): when a
    // document batch arrives, nobody re-featurizes the corpus — the
    // standing per-doc (b, n) feature table is APPEND-ONLY, the NB
    // model's sufficient statistics are ABELIAN class counts that fold
    // by plain addition (ops/Classify.classCounts scaladoc), and the
    // refreshed 256-row weight table re-scores the standing FEATURES
    // via a broadcast join — raw text is read once per document ever.
    // This query RUNS the fold (standing = doc_id%10≠3 features, batch
    // = the %10=3 arrivals) and its oracle is the ONE-SHOT full-corpus
    // training + scoring — the row-for-row hash match IS the
    // maintenance == rebuild proof. Emits the per-candidate verdicts
    // (the table a selection stage consumes; q309 prices the gate,
    // this maintains it). Score exactness: exact DECIMAL count×weight
    // sums presented as double (unscaled ≪ 2^53 — uniquely-rounded
    // conversion in both engines, the q296 log_weight precedent).
    Q(
      "q312_classifier_incremental", {
        s"""WITH toks AS (
           |  SELECT doc_id, source, $toksSql AS t
           |  FROM documents),
           |${nbWeightCtes(dsirTgtSql, DsirBuckets)},
           |d AS (SELECT doc_id, source, b, CAST(count(*) AS BIGINT) AS n
           |      FROM tb WHERE source NOT IN ($dsirTgtSql) GROUP BY 1, 2, 3),
           |sc AS (SELECT d.doc_id, d.source,
           |    CAST(sum(d.n) AS BIGINT) AS n_tokens,
           |    sum(CAST(d.n AS DECIMAL(10,0)) * nbw.w9) AS s
           |  FROM d JOIN nbw USING (b) GROUP BY 1, 2)
           |SELECT doc_id, source, n_tokens,
           |  CAST(s AS DOUBLE) AS score, s > 0 AS keep_cls
           |FROM sc""".stripMargin
      }) { (spark, dir) =>
      import graft.ops.Classify
      val docs = Tables.documents(spark, dir)
      val isTgt = col("source").isin(DsirTarget: _*)
      def feats(part: org.apache.spark.sql.DataFrame) =
        Classify.hashedTokenFeatures(part, "doc_id", "text",
          DsirBuckets, carry = Seq("source"))
      // the persisted artifacts a real fold reads back: standing
      // features (featurized long ago) + the arriving batch's
      val standing = feats(docs.filter(col("doc_id") % 10 =!= 3))
        .localCheckpoint()
      val batch = feats(docs.filter(col("doc_id") % 10 === 3))
        .localCheckpoint()
      // abelian sufficient-statistics fold: standing + batch counts
      val folded = Classify.classCounts(standing, isTgt)
        .unionByName(Classify.classCounts(batch, isTgt))
        .groupBy("b")
        .agg(sum("cpos").as("cpos"), sum("cneg").as("cneg"))
      val w = Classify.nbWeightsFromCounts(folded, DsirBuckets)
      // re-score the standing features under the refreshed weights —
      // no document is re-tokenized
      Classify.nbScore(standing.unionByName(batch).filter(!isTgt), w,
          "doc_id", carry = Seq("source"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("score").cast("double").as("score"), col("keep_cls"))
    },

    // ---- MULTI-CLASS NB LANGUAGE ID (L296 — the fastText-LID shape
    // every published pipeline runs where L6's stopword argmax is the
    // stand-in: CCNet §3.2, RefinedWeb, FineWeb all gate on a trained
    // k-class linear model): the Classify kernel extended to k classes
    // — per-(bucket, class) counts are ABELIAN folds (the q312
    // maintenance discipline applies unchanged), the dense
    // |classes|×256 weight table broadcasts, and the per-doc verdict
    // is the exact-DECIMAL score argmax with a deterministic
    // lexicographic tie-break. Trained on the labeled slice
    // (doc_id % 5 ≠ 4, documents.lang as the label — the fixture's
    // stand-in for a labeled LID corpus), predictions on the held-out
    // %5 = 4 docs, and PRICED the q309 way before shipping: multi-class
    // Cohen's κ against the L6 heuristic (does the model add signal —
    // note the heuristic cannot even represent zh, it has no zh
    // stopword list) and against the fixture's true lang column.
    // Scale: training = one corpus pass onto a broadcast grid; scoring
    // = broadcast join + two hash aggregates; κ = |classes|²-row grid
    // math.
    Q(
      "q315_nb_language_id", {
        val B = DsirBuckets
        val hits = Text.StopWords.map { case (lang, words) =>
          lang -> s"len(list_filter(t, w -> w IN (${words.map(w => s"'$w'").mkString(",")})))"
        }
        val greatest = s"GREATEST(${hits.map(h => s"${h._1}_hits").mkString(", ")})"
        val cases = hits.map { case (lang, _) =>
          s"WHEN ${lang}_hits = $greatest THEN '$lang'"
        }.mkString(" ")
        def kappaSql(tag: String, aCol: String, bCol: String) =
          s"""c$tag AS (
             |  SELECT $aCol AS ka, $bCol AS kb, CAST(count(*) AS HUGEINT) AS m
             |  FROM v GROUP BY 1, 2),
             |d$tag AS (
             |  SELECT CAST(coalesce(sum(m), 0) AS HUGEINT) AS n,
             |    CAST(coalesce(sum(m) FILTER (WHERE ka = kb), 0) AS HUGEINT)
             |      AS po
             |  FROM c$tag),
             |p$tag AS (
             |  SELECT CAST(coalesce(sum(r.rm * q.cm), 0) AS HUGEINT) AS pe
             |  FROM (SELECT ka, sum(m) AS rm FROM c$tag GROUP BY 1) r
             |  JOIN (SELECT kb, sum(m) AS cm FROM c$tag GROUP BY 1) q
             |    ON r.ka = q.kb),
             |k$tag AS (
             |  SELECT CASE WHEN n * n - pe = 0 THEN 1.0 ELSE
             |    CAST(CASE WHEN n * po - pe >= 0
             |      THEN (2 * (n * po - pe) * 1000000 + (n * n - pe))
             |        // (2 * (n * n - pe))
             |      ELSE -((2 * (pe - n * po) * 1000000 + (n * n - pe))
             |        // (2 * (n * n - pe))) END AS DOUBLE) / 1000000 END
             |    AS kappa
             |  FROM d$tag, p$tag)""".stripMargin
        s"""WITH toks AS (
           |  SELECT doc_id, lang, $toksSql AS t
           |  FROM documents),
           |thc AS (
           |  SELECT doc_id, lang,
           |    $tokHashSql AS th
           |  FROM toks WHERE len(t) > 0),
           |feats AS (
           |  SELECT doc_id, lang, u.h % $B AS b,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM thc, unnest(thc.th) AS u(h) GROUP BY 1, 2, 3),
           |cc AS (
           |  SELECT b, lang AS cls, CAST(sum(n) AS BIGINT) AS c
           |  FROM feats WHERE doc_id % 5 <> 4 GROUP BY 1, 2),
           |tot AS (SELECT cls, CAST(sum(c) AS BIGINT) AS nl
           |  FROM cc GROUP BY 1),
           |grid AS (SELECT g.b, t.cls, t.nl FROM range(0, $B) g(b), tot t),
           |w AS (
           |  SELECT grid.b, grid.cls,
           |    CAST(round(ln((coalesce(cc.c, 0) + 1.0) / (grid.nl + $B)), 9)
           |      AS DECIMAL(13,9)) AS w9
           |  FROM grid LEFT JOIN cc ON cc.b = grid.b AND cc.cls = grid.cls),
           |sc AS (
           |  SELECT f.doc_id, w.cls,
           |    sum(CAST(f.n AS DECIMAL(10,0)) * w.w9) AS s
           |  FROM feats f JOIN w USING (b)
           |  WHERE f.doc_id % 5 = 4 GROUP BY 1, 2),
           |pred AS (
           |  SELECT doc_id, cls AS pred FROM (
           |    SELECT doc_id, cls, row_number() OVER (PARTITION BY doc_id
           |      ORDER BY s DESC, cls DESC) AS rk
           |    FROM sc) WHERE rk = 1),
           |h AS (
           |  SELECT doc_id, lang AS true_lang, t,
           |    ${hits.map { case (l, sql) => s"$sql AS ${l}_hits" }.mkString(",\n    ")}
           |  FROM toks WHERE doc_id % 5 = 4),
           |heur AS (
           |  SELECT doc_id, true_lang,
           |    CASE WHEN $greatest = 0 THEN 'und' $cases END AS heur
           |  FROM h),
           |v AS (
           |  SELECT p.doc_id, p.pred, e.heur, e.true_lang
           |  FROM pred p JOIN heur e USING (doc_id)),
           |${kappaSql("h", "pred", "heur")},
           |${kappaSql("t", "pred", "true_lang")}
           |SELECT pred AS lang,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(count(*) FILTER (WHERE heur = pred) AS BIGINT)
           |    AS n_heur_agree,
           |  CAST(count(*) FILTER (WHERE true_lang = pred) AS BIGINT)
           |    AS n_true_agree,
           |  kh.kappa AS kappa_heur,
           |  kt.kappa AS kappa_true
           |FROM v, kh, kt
           |GROUP BY 1, kh.kappa, kt.kappa""".stripMargin
      }) { (spark, dir) =>
      import graft.ops.{Classify, Stats}
      val docs = Tables.documents(spark, dir)
      val feats = Classify.hashedTokenFeatures(docs, "doc_id", "text",
        DsirBuckets, carry = Seq("lang"))
        .cache() // training counts AND holdout scoring read it
      val w = Classify.nbWeightsK(
        Classify.classCountsK(feats.filter(col("doc_id") % 5 =!= 4), "lang"),
        DsirBuckets)
      val pred = Classify.nbClassify(
        feats.filter(col("doc_id") % 5 === 4).drop("lang"), w, "doc_id")
      val heur = docs.filter(col("doc_id") % 5 === 4)
        .select(col("doc_id"), col("lang").as("true_lang"),
          Text.langId(col("text")).as("heur"))
      val v = pred.join(heur, "doc_id")
        .localCheckpoint() // holdout verdicts; κ grids + rollup read it
      feats.unpersist()
      val kh = Stats.cohensKappaMulti(v, "pred", "heur")
        .select(col("kappa").as("kappa_heur"))
      val kt = Stats.cohensKappaMulti(v, "pred", "true_lang")
        .select(col("kappa").as("kappa_true"))
      v.groupBy(col("pred").as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("heur") === col("pred"), 1L).otherwise(0L))
            .as("n_heur_agree"),
          sum(when(col("true_lang") === col("pred"), 1L).otherwise(0L))
            .as("n_true_agree"))
        .crossJoin(broadcast(kh))
        .crossJoin(broadcast(kt))
    }
  )
}

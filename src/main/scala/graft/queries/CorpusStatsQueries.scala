package graft.queries

import graft.Tables
import graft.functions.ExactRound
import graft.ops.{Components, Dedup, Sample, Similarity, Text}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-profile operators (round 9, L121–L124): the analyses a corpus
  * build runs AFTER dedup/curation to understand what it produced —
  * vocabulary coverage, near-dup cluster quality, duplicate-graph
  * structure, and embedding-space drift between corpus versions.
  *
  * The reference pipeline ends at warehouse marts; these extend the
  * engine's observability surface the way q127/q78 (drift, data card)
  * do, over the same documents/embeddings fixtures. Exactness follows
  * `graft.functions.ExactRound` rule 5: every ratio crosses the oracle
  * boundary as DOUBLE, every count as BIGINT.
  */
object CorpusStatsQueries {
  import OracleSql._

  /** Vocab sizes for the coverage curve — spaced to bracket the fixture
    * vocabulary (the SQL literal and the Spark stack() share this). */
  private val VocabSizes = Seq(100, 1000, 5000, 20000)

  /** Members kept per cluster for the sampled graph audits (q205/q206):
    * caps the audit subgraph's pair volume at C(cap,2) per cluster, so
    * the whole audit is linear in the corpus no matter how large a
    * template mega-cluster grows (the exact q141/q142 audits are
    * quadratic inside one). 50 members ≈ 1225 pairs/cluster keeps the
    * density/mean-Hamming estimators tight for any cluster that
    * matters (≥3 docs) while bounding a 46k-doc giant. */
  private[queries] val GraphSampleCap = 50

  /** Top-K cut for the q207 Zipf fit — deep enough to cover the
    * power-law body at any corpus scale, bounded so the fit frame is
    * constant. */
  private val ZipfTopK = 1000

  /** Shared Spark-side construction for the sampled graph audits:
    * standing labels over the L132 degree-capped candidate stream
    * (components refine the exact ones and converge to them through
    * the pinned reconciliation — TextDedupSpec), then a deterministic
    * hash-rank cap of [[GraphSampleCap]] members per cluster, then the
    * EXACT banded pair join over only the kept docs. Dense band
    * buckets are exactly the big clusters, so capping members bounds
    * the join fanout — per-cluster pair volume ≤ C(cap,2) — where the
    * uncapped exact join is quadratic inside a template mega-cluster.
    * Returns (full labels, kept labels, exact pairs among kept). */
  private def sampledGraph(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val capped = Dedup.simhashPairsCapped(docs, "doc_id", "text",
      bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
    val comp = Components.connectedComponents(capped, "id_a", "id_b")
      .withColumnRenamed("id", "doc_id")
    val lab = docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("component"))
      .localCheckpoint() // feeds sizes, the member cap, and edge labels
    val w = Window.partitionBy("component")
      .orderBy((col("doc_id") * Text.Mult) % Text.P, col("doc_id"))
    val kept = lab
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= GraphSampleCap)
      .select("doc_id", "component")
      .localCheckpoint() // feeds the pair join and both stat rollups
    val pairsKept = Dedup.simhashPairs(docs.join(kept, "doc_id"),
      "doc_id", "text", bands = 4, maxHamming = 3)
    (lab, kept, pairsKept)
  }

  /** Shared oracle prefix for q205/q206 (after `simhashCtes`): capped
    * pairs → closure → full labels → hash-rank kept set → exact pairs
    * among kept. */
  private def sampledGraphCtes: String =
    s"""${simhashPairsCtes("cpairs")},
       |${componentCtes("cpairs")},
       |lab AS (
       |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN cmp c ON c.id = d.doc_id),
       |kept AS (
       |  SELECT doc_id, component FROM (
       |    SELECT doc_id, component,
       |      row_number() OVER (PARTITION BY component
       |        ORDER BY (doc_id * ${Text.Mult}) % ${Text.P}, doc_id) AS krk
       |    FROM lab) WHERE krk <= $GraphSampleCap),
       |kpairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    bit_count(xor(a.sim, b.sim)) AS ham
       |  FROM banded a JOIN banded b USING (band, band_key)
       |  JOIN kept ka ON ka.doc_id = a.doc_id
       |  JOIN kept kb ON kb.doc_id = b.doc_id
       |  WHERE a.doc_id < b.doc_id
       |    AND bit_count(xor(a.sim, b.sim)) <= 3)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- VOCABULARY COVERAGE / OOV curve (L121): what fraction of all
    // token occurrences the top-k vocabulary covers, for a ladder of
    // vocab sizes — the tokenizer-budget analysis run before training a
    // BPE/WordPiece vocab (coverage at k ≈ how often a rank-k vocab
    // falls back to bytes). Term counts are one hash aggregate; the
    // global frequency rank comes from the L94 prefix-sum machinery
    // (range-partition on (cnt DESC, term) — NO single-partition
    // window); the curve is ONE conditional aggregate over the ranked
    // vocab, stacked to a row per vocab size. Coverage/OOV round in
    // integer space and cross as DOUBLE.
    Q(
      "q140_vocab_coverage", {
        val condSums = VocabSizes.map(k =>
          s"CAST(sum(CASE WHEN rnk <= $k THEN cnt ELSE 0 END) AS BIGINT) AS c$k")
          .mkString(",\n        |    ")
        val cases = VocabSizes.map(k => s"WHEN $k THEN c$k").mkString(" ")
        val values = VocabSizes.map(k => s"($k)").mkString(",")
        s"""WITH toks AS (SELECT $toksSql AS t FROM documents),
        |tok AS (SELECT unnest(t) AS term FROM toks),
        |tc AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
        |       FROM tok GROUP BY term),
        |r AS (SELECT cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT)
        |          AS rnk
        |      FROM tc),
        |a AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens,
        |    CAST(count(*) AS BIGINT) AS n_terms,
        |    $condSums
        |  FROM r)
        |SELECT CAST(k.vocab_size AS BIGINT) AS vocab_size,
        |  CASE k.vocab_size $cases END AS covered_tokens,
        |  total_tokens, n_terms,
        |  CAST(((2 * (CASE k.vocab_size $cases END) * 1000000 + total_tokens)
        |    // (2 * total_tokens))
        |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS coverage,
        |  CAST(((2 * (total_tokens - (CASE k.vocab_size $cases END)) * 1000000
        |      + total_tokens) // (2 * total_tokens))
        |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS oov_rate
        |FROM a CROSS JOIN (VALUES $values) k(vocab_size)""".stripMargin
      }) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val tc = docs
        .select(explode(Text.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      val ranked = Sample.quantileNormalize(
        tc, Seq(col("cnt").desc, col("term")))
      val aggs = Seq(
        sum("cnt").as("total_tokens"),
        count(lit(1)).as("n_terms")) ++ VocabSizes.map(k =>
        sum(when(col("rnk") <= k, col("cnt")).otherwise(0L)).as(s"c$k"))
      val a = ranked.agg(aggs.head, aggs.tail: _*)
      val stackArgs = VocabSizes
        .map(k => s"${k}L, c$k").mkString(", ")
      a.select(
          expr(s"stack(${VocabSizes.size}, $stackArgs)" +
            " as (vocab_size, covered_tokens)"),
          col("total_tokens"), col("n_terms"))
        .select(col("vocab_size"), col("covered_tokens"),
          col("total_tokens"), col("n_terms"),
          ExactRound.roundRatio(col("covered_tokens"), col("total_tokens"), 6)
            .cast("double").as("coverage"),
          ExactRound.roundRatio(col("total_tokens") - col("covered_tokens"),
            col("total_tokens"), 6).cast("double").as("oov_rate"))
    },

    // ---- NEAR-DUP CLUSTER COHESION (L122): per-cluster quality of the
    // SimHash duplicate graph — size, in-cluster edge count, mean pair
    // Hamming distance, edge density vs the C(size,2) clique bound. The
    // audit a dedup pipeline runs before trusting "keep one per
    // cluster": a sprawling low-density cluster is transitive-closure
    // glue (template chains), not a clique of true dups, and its
    // survivors need review. Pairs and components reuse the L3/L25
    // machinery (banded bucket join, never all-pairs); the per-cluster
    // stats are two hash aggregates joined on the component label;
    // top-20 by size is a bounded TakeOrdered heap.
    Q(
      "q141_cluster_cohesion",
      s"""WITH RECURSIVE $simhashCtes,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    bit_count(xor(a.sim, b.sim)) AS ham
         |  FROM banded a JOIN banded b USING (band, band_key)
         |  WHERE a.doc_id < b.doc_id
         |    AND bit_count(xor(a.sim, b.sim)) <= 3),
         |${componentCtes("pairs")},
         |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM cmp GROUP BY component),
         |es AS (SELECT c.component, CAST(count(*) AS BIGINT) AS n_edges,
         |    CAST(sum(p.ham) AS BIGINT) AS ham_sum
         |  FROM pairs p JOIN cmp c ON c.id = p.id_a
         |  GROUP BY c.component)
         |SELECT sz.component AS cluster, sz.n_docs, es.n_edges,
         |  CAST(((2 * es.ham_sum * 1000000 + es.n_edges) // (2 * es.n_edges))
         |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS mean_hamming,
         |  CAST(((2 * 2 * es.n_edges * 1000000 + sz.n_docs * (sz.n_docs - 1))
         |    // (2 * sz.n_docs * (sz.n_docs - 1)))
         |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS density
         |FROM sz JOIN es ON es.component = sz.component
         |WHERE sz.n_docs >= 3
         |ORDER BY sz.n_docs DESC, cluster LIMIT 20""".stripMargin) {
      (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.simhashPairs(docs, "doc_id", "text",
        bands = 4, maxHamming = 3)
      val comp = Components.connectedComponents(pairs, "id_a", "id_b")
      val sz = comp.groupBy("comp").agg(count(lit(1)).as("n_docs"))
      // an edge's endpoints share a component by construction — one
      // label join on id_a suffices
      val es = pairs
        .join(comp.select(col("id").as("id_a"), col("comp")), "id_a")
        .groupBy("comp")
        .agg(count(lit(1)).as("n_edges"), sum("hamming").as("ham_sum"))
      sz.join(es, "comp")
        .filter(col("n_docs") >= 3)
        .select(col("comp").as("cluster"), col("n_docs"), col("n_edges"),
          ExactRound.roundRatio(col("ham_sum"), col("n_edges"), 6)
            .cast("double").as("mean_hamming"),
          ExactRound.roundRatio(col("n_edges") * 2,
            col("n_docs") * (col("n_docs") - 1), 6)
            .cast("double").as("density"))
        .orderBy(col("n_docs").desc, col("cluster"))
        .limit(20)
    },

    // ---- TRIANGLE COUNT + clustering coefficient (L123): global
    // structure of the duplicate graph — triangles, wedges, and the
    // global clustering coefficient 3·Δ/W that separates clique-like
    // duplication (true near-dup sets, gcc → 1) from chain-like
    // transitive glue (template drift, gcc → 0). Spark counts each
    // triangle once via DEGREE-ORDERED orientation (u→v iff
    // (deg,id)(u) < (deg,id)(v)): every triangle has exactly one acyclic
    // representation a→b→c with a→c, and out-degrees are bounded by
    // O(√m) under this orientation — the standard bound that keeps the
    // two wedge joins linear-ish on skewed (hub-heavy) graphs where a
    // naive id-ordered orientation fans out quadratically at the hubs.
    // The oracle counts the same triangles with the id-ordered self-join
    // (a<b<c) — identical count, quadratic only at DuckDB's tiny scale.
    // Wedges = Σ_v C(deg_v, 2) is one aggregate over degrees.
    Q(
      "q142_triangle_stats",
      s"""WITH RECURSIVE $simhashCtes,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b USING (band, band_key)
         |  WHERE a.doc_id < b.doc_id
         |    AND bit_count(xor(a.sim, b.sim)) <= 3),
         |deg AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT id_a AS id FROM pairs
         |    UNION ALL SELECT id_b FROM pairs) x GROUP BY id),
         |tri AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_tri
         |  FROM pairs p1
         |  JOIN pairs p2 ON p2.id_a = p1.id_b
         |  JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |    CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
         |  FROM deg),
         |e AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs)
         |SELECT n_nodes, n_edges, n_tri AS n_triangles, n_wedges,
         |  CAST(CASE WHEN n_wedges > 0 THEN
         |    ((2 * 3 * n_tri * 1000000 + n_wedges) // (2 * n_wedges))
         |      * CAST(0.000001 AS DECIMAL(7,6)) END AS DOUBLE)
         |    AS clustering_coef
         |FROM agg CROSS JOIN tri CROSS JOIN e""".stripMargin) {
      (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.simhashPairs(docs, "doc_id", "text",
          bands = 4, maxHamming = 3)
        .select("id_a", "id_b")
        .localCheckpoint() // feeds degrees AND both orientations below
      val deg = pairs.select(col("id_a").as("id"))
        .unionByName(pairs.select(col("id_b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      // degree-ordered orientation: src = lexicographically smaller
      // (deg, id) endpoint — bounds out-degree by O(√m) on hub graphs
      val withDeg = pairs
        .join(deg.select(col("id").as("id_a"), col("d").as("da")), "id_a")
        .join(deg.select(col("id").as("id_b"), col("d").as("db")), "id_b")
      val aFirst = (col("da") < col("db")) ||
        (col("da") === col("db") && col("id_a") < col("id_b"))
      val oriented = withDeg.select(
          when(aFirst, col("id_a")).otherwise(col("id_b")).as("src"),
          when(aFirst, col("id_b")).otherwise(col("id_a")).as("dst"))
        .localCheckpoint() // three-way self-join below
      val wedges2 = oriented.select(col("src").as("a"), col("dst").as("b"))
        .join(oriented.select(col("src").as("b"), col("dst").as("c")), "b")
      val nTri = wedges2
        .join(oriented.select(col("src").as("a"), col("dst").as("c")),
          Seq("a", "c"))
        .agg(count(lit(1)).as("n_triangles"))
      val degAgg = deg.agg(
        count(lit(1)).as("n_nodes"),
        sum(expr("d * (d - 1) div 2")).as("n_wedges"))
      val nEdges = pairs.agg(count(lit(1)).as("n_edges"))
      degAgg.crossJoin(broadcast(nTri)).crossJoin(broadcast(nEdges))
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          col("n_wedges"),
          when(col("n_wedges") > 0,
            ExactRound.roundRatio(col("n_triangles") * 3, col("n_wedges"), 6))
            .cast("double").as("clustering_coef"))
    },

    // ---- EMBEDDING CENTROID DRIFT (L124): the embedding-space twin of
    // q127's count/length drift — per-label centroid of two corpus
    // versions, compared by cosine. Catches a re-embed or upstream
    // filter silently moving a label's mass even when counts hold
    // steady. Centroids are the q55 layout ((label, dim) hash agg,
    // DECIMAL-exact sums); the per-(label,dim) MEAN rounds in INTEGER
    // space (`ExactRound.roundRatioSigned` over the scaled DECIMAL sum
    // — round(double,6) after double division is engine-specific at
    // ties, the round-8 q109 class), products of the rounded means are
    // exact DECIMAL(·,12) sums, and only the final cosine (a
    // transcendental, ExactRound rule 3) is presented in double.
    // Everything is keyed on (label, dim) — linear, no vector ever
    // collected.
    Q(
      "q143_centroid_drift", {
        // per-version centroid: s10 = Σ elem·10^10 (HUGEINT, exact),
        // mean = half-away(s10 / (n·10^4)) presented as DECIMAL(12,6) —
        // the documented DuckDB mirror of roundRatioSigned
        def cSql(name: String, filt: String) =
          s"""${name}s AS (
             |  SELECT label, i,
             |    CAST(sum(CAST(CAST(CAST(embedding[i] AS DOUBLE)
             |        AS DECIMAL(27,10))
             |      * CAST(10000000000 AS DECIMAL(11,0)) AS HUGEINT))
             |      AS HUGEINT) AS s10,
             |    CAST(count(*) AS HUGEINT) * 10000 AS d,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM embeddings, range(1, 65) t(i)
             |  WHERE $filt GROUP BY label, i),
             |$name AS (
             |  SELECT label, i, n,
             |    CAST(CAST(CASE WHEN s10 < 0
             |          THEN -((2 * (-s10) + d) // (2 * d))
             |          ELSE (2 * s10 + d) // (2 * d) END AS DECIMAL(12,0))
             |      * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(12,6)) AS m
             |  FROM ${name}s)""".stripMargin
        s"""WITH ${cSql("c1", "vec_id % 10 <> 0")},
           |${cSql("c2", "vec_id % 7 <> 0")},
           |d AS (
           |  SELECT c1.label,
           |    CAST(sum(CAST(c1.m * c2.m AS DECIMAL(27,12))) AS DOUBLE) AS dot,
           |    CAST(sum(CAST(c1.m * c1.m AS DECIMAL(27,12))) AS DOUBLE) AS n1,
           |    CAST(sum(CAST(c2.m * c2.m AS DECIMAL(27,12))) AS DOUBLE) AS n2,
           |    CAST(any_value(c1.n) AS BIGINT) AS n_v1,
           |    CAST(any_value(c2.n) AS BIGINT) AS n_v2
           |  FROM c1 JOIN c2 USING (label, i) GROUP BY c1.label)
           |SELECT label, n_v1, n_v2,
           |  round(dot / (sqrt(n1) * sqrt(n2)), 6) AS centroid_cos,
           |  round(dot / (sqrt(n1) * sqrt(n2)), 6) < 1.0 AS drifted
           |FROM d""".stripMargin
      }) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      def centroid(filt: org.apache.spark.sql.Column) = e.filter(filt)
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos").as("i"))
        .agg(
          ExactRound.roundRatioSigned(
              sum(col("col").cast("double").cast(DecimalType(27, 10))),
              10, count(lit(1)), 6)
            .cast(DecimalType(12, 6)).as("m"),
          count(lit(1)).as("n"))
      val c1 = centroid(col("vec_id") % 10 =!= 0)
        .select(col("label"), col("i"), col("m").as("m1"), col("n").as("n_v1"))
      val c2 = centroid(col("vec_id") % 7 =!= 0)
        .select(col("label"), col("i"), col("m").as("m2"), col("n").as("n_v2"))
      c1.join(c2, Seq("label", "i"))
        .groupBy("label")
        .agg(
          sum((col("m1") * col("m2")).cast(DecimalType(27, 12)))
            .cast("double").as("dot"),
          sum((col("m1") * col("m1")).cast(DecimalType(27, 12)))
            .cast("double").as("n1"),
          sum((col("m2") * col("m2")).cast(DecimalType(27, 12)))
            .cast("double").as("n2"),
          first(col("n_v1")).as("n_v1"),
          first(col("n_v2")).as("n_v2"))
        .select(col("label"), col("n_v1"), col("n_v2"),
          round(col("dot") / (sqrt(col("n1")) * sqrt(col("n2"))), 6)
            .as("centroid_cos"),
          (round(col("dot") / (sqrt(col("n1")) * sqrt(col("n2"))), 6) < 1.0)
            .as("drifted"))
    },

    // ---- NEAR-DUP DEGREE PROFILE (L137): the degree distribution of
    // the CAPPED SimHash candidate graph (L132) in power-of-two buckets
    // — the measurement that SIZES L132's degree cap (a heavy top bucket
    // at the current cap says raise it / schedule the full-recompute
    // reconciliation sooner) and the early-warning for mega-components.
    // The profile deliberately consumes the capped stream, not the exact
    // one: the capped graph is what the production folds actually ingest
    // (the exact stream is quadratic in bucket populations on a
    // template-heavy corpus — the round-10 sf1 probe rode a 27× pair
    // explosion to 9× wall), and its degree mass IS the cap-sizing
    // decision input. One count per endpoint over the capped stream, a
    // branch-ladder bucket (pure integer compares — no float log2 at the
    // oracle boundary), and a |buckets|-row rollup; linear end to end.
    Q(
      "q156_neardup_degree_profile", {
        val ladder = (30 to 1 by -1).map(k =>
          s"WHEN degree >= ${1L << k} THEN CAST(${1L << k} AS BIGINT)")
          .mkString("\n    ")
        s"""WITH RECURSIVE $simhashCtes,
           |${simhashPairsCtes()},
           |deg AS (
           |  SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
           |    SELECT id_a AS id FROM pairs
           |    UNION ALL SELECT id_b FROM pairs) e
           |  GROUP BY id)
           |SELECT CASE $ladder ELSE CAST(1 AS BIGINT) END AS degree_bucket,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(max(degree) AS BIGINT) AS max_degree
           |FROM deg GROUP BY 1""".stripMargin
      }) { (spark, dir) =>
      val pairs = Dedup.simhashPairsCapped(Tables.documents(spark, dir),
        "doc_id", "text", bands = 4, maxHamming = 3,
        cap = Dedup.DefaultDegreeCap)
      val deg = pairs.select(col("id_a").as("id"))
        .unionByName(pairs.select(col("id_b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
      val bucket = (30 to 1 by -1).map(k => 1L << k)
        .foldRight(lit(1L): org.apache.spark.sql.Column)((p, acc) =>
          when(col("degree") >= p, lit(p)).otherwise(acc))
      deg.groupBy(bucket.as("degree_bucket"))
        .agg(count(lit(1)).as("n_docs"), max(col("degree")).as("max_degree"))
    },

    // ---- FIRST-OCCURRENCE NOVELTY (L138): per document, the fraction
    // of its distinct shingles whose FIRST owner (minimum doc id) is the
    // document itself — the novelty curve a dedup audit reads to see how
    // much of each document is new material vs text already present
    // earlier in the corpus (sub-document duplication that pair-level
    // near-dup misses; the scan order is the deterministic id order).
    // Exact global form: one hash agg per shingle hash for the owner,
    // one co-partitioned join back, one per-doc rollup — every stage
    // linear and shuffled on a key (shingle hash, then doc id), never
    // quadratic. At 100 TB the same shape runs with the shingle stream
    // bucketed on the hash; the sketch alternative (Bloom of seen
    // shingles) trades exactness for one pass and is deliberately NOT
    // this operator.
    Q(
      "q157_first_occurrence_novelty",
      noveltyOracleSql("")) { (spark, dir) =>
      val hv = Dedup.withShingleHashes(
        Tables.documents(spark, dir).select("doc_id", "text"), "text", 3)
        .filter(size(col("hv")) > 0)
        .select(col("doc_id"), col("hv"))
      val e = hv.select(col("doc_id"), explode(col("hv")).as("h"))
      val own = e.groupBy("h").agg(min("doc_id").as("owner"))
      e.join(own, Seq("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          ExactRound.roundRatio(col("n_novel"), col("n_shingles"), 6)
            .cast("double"))
    },

    // ---- INCREMENTAL novelty fold (L139): L138 run as continuous
    // ingest — a NEW batch of documents scored against the STANDING
    // shingle-ownership table without re-walking the historical corpus
    // (the q119 fold idiom, applied to ownership instead of
    // connectivity). min is associative, so folding the standing owner
    // with the batch's own minimum reproduces the full recompute
    // EXACTLY — the oracle runs the full-corpus replay restricted to
    // batch docs, making the fold contract itself the cross-engine
    // check. Scale shape: the batch's shingle stream joins the standing
    // table on the shingle hash (key-keyed, in production an indexed
    // table); nothing touches historical rows beyond that lookup.
    Q(
      "q158_incremental_novelty",
      noveltyOracleSql("WHERE doc_id % 3 = 0")) { (spark, dir) =>
      val hv = Dedup.withShingleHashes(
        Tables.documents(spark, dir).select("doc_id", "text"), "text", 3)
        .filter(size(col("hv")) > 0)
        .select(col("doc_id"), col("hv"))
      val e = hv.select(col("doc_id"), explode(col("hv")).as("h"))
      // the standing ownership table, built once from historical docs
      val standing = e.filter(col("doc_id") % 3 =!= 0)
        .groupBy("h").agg(min("doc_id").as("st_owner"))
        .localCheckpoint()
      // the batch folds its own per-shingle minimum with the standing
      // owner: least() of the two minima IS min over the union
      val batch = e.filter(col("doc_id") % 3 === 0)
      val batchOwn = batch.groupBy("h").agg(min("doc_id").as("b_owner"))
      val folded = batchOwn.join(standing, Seq("h"), "left")
        .select(col("h"),
          least(coalesce(col("st_owner"), col("b_owner")), col("b_owner"))
            .as("owner"))
      batch.join(folded, Seq("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          ExactRound.roundRatio(col("n_novel"), col("n_shingles"), 6)
            .cast("double"))
    },

    // ---- TOKEN-MASS GINI per source (L145): how concentrated each
    // source's token mass is across its documents — the balance audit
    // behind per-source length caps (a source whose Gini ≈ 1 is a few
    // mega-documents wearing a source label; mixture weights computed
    // on doc counts then misstate its token share). Exact integer
    // arithmetic end to end: rank docs ascending by token count inside
    // the source (window on the source key), S = Σ rank·tokens and
    // T = Σ tokens are BIGINT sums, Gini = (2S − (n+1)T) / (nT) rounds
    // in integer space — no float summation anywhere. Ties rank
    // deterministically and cannot change S (equal values commute).
    Q(
      "q164_token_gini",
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len($toksSql) AS BIGINT) AS ntok
         |  FROM documents),
         |r AS (
         |  SELECT source, ntok,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY ntok, doc_id) AS BIGINT) AS rk
         |  FROM t),
         |g AS (
         |  SELECT source,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(ntok) AS BIGINT) AS total_tokens,
         |    CAST(sum(rk * ntok) AS BIGINT) AS s
         |  FROM r GROUP BY source)
         |SELECT source, n_docs, total_tokens,
         |  CASE WHEN total_tokens = 0 THEN NULL ELSE
         |    CAST(((2 * (2 * CAST(s AS HUGEINT) - (n_docs + 1) * total_tokens) * 1000000
         |        + n_docs * CAST(total_tokens AS HUGEINT))
         |      // (2 * n_docs * CAST(total_tokens AS HUGEINT)))
         |      * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) END AS gini
         |FROM g""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          size(Text.tokens(col("text"))).cast("long").as("ntok"))
      val w = Window.partitionBy("source").orderBy(col("ntok"), col("doc_id"))
      t.withColumn("rk", row_number().over(w).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("ntok").as("total_tokens"),
          sum(col("rk") * col("ntok")).as("s"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          // zero-token guard: a source whose docs all tokenize empty
          // would divide by zero — DuckDB errors where Spark's floorDiv
          // NULLs, so both engines pin NULL explicitly (q154/q168 idiom)
          when(col("total_tokens") === 0, lit(null).cast("double"))
            .otherwise(ExactRound.roundRatio(
              lit(2) * col("s") - (col("n_docs") + 1) * col("total_tokens"),
              col("n_docs") * col("total_tokens"), 6)
              .cast("double")).as("gini"))
    },

    // ---- POST-DEDUP SURVIVAL by source (L149): after near-dup cluster
    // resolution, what fraction of each source's documents AND tokens
    // survives keep-one-per-cluster — the number that tells you dedup
    // just changed your effective source mixture (a template-heavy
    // source can lose most of its token mass, so pre-dedup mixture
    // weights silently misallocate the budget; recompute weights on
    // the SURVIVING token counts). Cluster membership comes from the
    // CAPPED candidate graph (L132) — the clusters the production fold
    // maintains and the survivor rule acts on (the exact stream is the
    // periodic-reconciliation input, not the per-build one; round-10
    // sf1 probe: 27× pairs, 10× wall on the exact stream). L132 capped
    // pairs + L25 components + one metadata join + a |sources|-row
    // rollup; survival ratios round in integer space and present DOUBLE.
    Q(
      "q168_dedup_survival_by_source",
      s"""WITH RECURSIVE $simhashCtes,
         |${simhashPairsCtes()},
         |${componentCtes("pairs")},
         |lab AS (
         |  SELECT d.doc_id, d.source,
         |    CAST(len($toksSql) AS BIGINT) AS ntok,
         |    coalesce(c.component, d.doc_id) = d.doc_id AS keep
         |  FROM documents d LEFT JOIN cmp c ON c.id = d.doc_id)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN keep THEN ntok ELSE 0 END) AS BIGINT)
         |    AS n_tokens_kept,
         |  CAST(((2 * CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
         |      + count(*)) // (2 * CAST(count(*) AS HUGEINT)))
         |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS doc_survival,
         |  CASE WHEN sum(ntok) = 0 THEN NULL ELSE
         |    CAST(((2 * CAST(sum(CASE WHEN keep THEN ntok ELSE 0 END) AS HUGEINT) * 1000000
         |        + sum(ntok)) // (2 * CAST(sum(ntok) AS HUGEINT)))
         |      * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) END AS token_survival
         |FROM lab GROUP BY source""".stripMargin) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
      val verdicts = Components
        .resolveClusters(docs, "doc_id", pairs, "id_a", "id_b")
        .select(col("doc_id"), col("keep"))
      docs.select(col("doc_id"), col("source"),
          size(Text.tokens(col("text"))).cast("long").as("ntok"))
        .join(verdicts, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum("ntok").as("n_tokens"),
          sum(when(col("keep"), col("ntok")).otherwise(0L))
            .as("n_tokens_kept"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          col("n_tokens"), col("n_tokens_kept"),
          ExactRound.roundRatio(col("n_kept"), col("n_docs"), 6)
            .cast("double").as("doc_survival"),
          when(col("n_tokens") === 0, lit(null).cast("double"))
            .otherwise(ExactRound
              .roundRatio(col("n_tokens_kept"), col("n_tokens"), 6)
              .cast("double")).as("token_survival"))
    },

    // ---- EXACT-DUP PROVENANCE (L147): per content hash, how many
    // copies exist, across how many sources, and WHICH document carried
    // it first (min id = earliest ingest under the append-only id
    // order) — the attribution index behind "who published first"
    // licensing/takedown questions and the canonical-copy choice exact
    // dedup needs. One hash aggregate on md5(text) (identical string
    // on both engines) + one id-keyed join back for the first carrier's
    // source; linear, no text ever shuffled beyond its 32-char digest.
    Q(
      "q166_exact_dup_provenance",
      """WITH h AS (
        |  SELECT doc_id, source, md5(text) AS content_hash FROM documents),
        |g AS (
        |  SELECT content_hash,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    min(doc_id) AS first_doc_id
        |  FROM h GROUP BY 1)
        |SELECT g.content_hash, g.n_docs, g.n_sources, g.first_doc_id,
        |  h.source AS first_source
        |FROM g JOIN h ON h.doc_id = g.first_doc_id""".stripMargin) {
      (spark, dir) =>
      val h = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), md5(col("text")).as("content_hash"))
      val g = h.groupBy("content_hash")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_sources"),
          min("doc_id").as("first_doc_id"))
      g.join(h.select(col("doc_id").as("first_doc_id"),
          col("source").as("first_source")), Seq("first_doc_id"))
        .select("content_hash", "n_docs", "n_sources", "first_doc_id",
          "first_source")
    },

    // ---- CROSS-SOURCE DUPLICATION MATRIX (L140b→q160): near-dup PAIR
    // counts between source pairs — which sources copy which (mirror
    // sites, syndication, scraped re-posts). Complements q110's
    // shingle-SET overlap: q110 measures shared vocabulary mass between
    // two sources' unions; this counts near-identical document pairs,
    // the unit dedup acts on. The pair source is the CAPPED candidate
    // stream (L132) — the matrix is a relative copying-intensity
    // diagnostic, and inside a template mega-component the exact stream
    // counts the same source-pair relationship quadratically many times
    // (round-10 sf1 probe: 27× pairs, 11× wall); the capped stream keeps
    // every bucket's hub links (so every copying source pair still
    // appears) at linear volume. Unordered source pair via
    // least/greatest so the matrix is upper-triangular; the source
    // lookup is a metadata join on the doc id (broadcast-shaped here; a
    // co-partitioned id join at corpus scale), then a |sources|²-row
    // rollup.
    Q(
      "q160_cross_source_dup_matrix",
      s"""WITH $simhashCtes,
         |${simhashPairsCtes()},
         |lab AS (
         |  SELECT LEAST(da.source, db.source) AS source_a,
         |    GREATEST(da.source, db.source) AS source_b
         |  FROM pairs p
         |  JOIN documents da ON da.doc_id = p.id_a
         |  JOIN documents db ON db.doc_id = p.id_b)
         |SELECT source_a, source_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  source_a = source_b AS within_source
         |FROM lab GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
      val s = docs.select(col("doc_id"), col("source"))
      pairs
        .join(broadcast(s.select(col("doc_id").as("id_a"),
          col("source").as("src_a"))), Seq("id_a"))
        .join(broadcast(s.select(col("doc_id").as("id_b"),
          col("source").as("src_b"))), Seq("id_b"))
        .select(least(col("src_a"), col("src_b")).as("source_a"),
          greatest(col("src_a"), col("src_b")).as("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("within_source", col("source_a") === col("source_b"))
    },

    // ---- LABEL-PROPAGATION COMMUNITIES (L153): deterministic
    // synchronous LPA (most-frequent-neighbor label, ties to the
    // smallest, 3 iterations) over the CAPPED near-dup pair stream —
    // the community structure that SPLITS a weakly-bridged dup graph
    // where min-label components (q49/q151) would glue two template
    // families across one low-Hamming bridge. The oracle replays every
    // iteration: neighbor-label counts, (count DESC, label ASC) argmax,
    // isolated nodes keeping their label.
    Q(
      "q172_lpa_communities", {
        def lpaIter(prev: String, next: String) =
          s"""${next}_nb AS (
             |  SELECT e.src AS id, l.lab AS nl, CAST(count(*) AS BIGINT) AS c
             |  FROM edges e JOIN $prev l ON e.dst = l.id GROUP BY 1, 2),
             |${next}_best AS (
             |  SELECT id, nl FROM (
             |    SELECT id, nl,
             |      row_number() OVER (PARTITION BY id ORDER BY c DESC, nl) AS rn
             |    FROM ${next}_nb) x WHERE rn = 1),
             |$next AS (
             |  SELECT p.id, coalesce(b.nl, p.lab) AS lab
             |  FROM $prev p LEFT JOIN ${next}_best b USING (id))""".stripMargin
        s"""WITH $simhashCtes,
           |${simhashPairsCtes()},
           |edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION ALL SELECT id_b, id_a FROM pairs),
           |l0 AS (SELECT doc_id AS id, doc_id AS lab FROM documents),
           |${lpaIter("l0", "l1")},
           |${lpaIter("l1", "l2")},
           |${lpaIter("l2", "l3")}
           |SELECT id AS doc_id, CAST(lab AS BIGINT) AS community FROM l3""".stripMargin
      }) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
      Components.labelPropagation(docs, "doc_id", pairs, "id_a", "id_b", iters = 3)
    },

    // ---- PER-SOURCE EMBEDDING DISPERSION (L155): mean intra-source
    // pairwise cosine via the centroid-norm identity
    // (‖Σu‖² − n)/(n(n−1)) — the O(n²) redundancy audit at O(n) cost
    // (Similarity.groupDispersion). A source whose vectors all point
    // the same way is semantic boilerplate regardless of what n-gram
    // dedup sees; data-selection pipelines threshold exactly this
    // number. Embeddings join their documents' source on vec_id=doc_id
    // (the fixture alignment); every cross-row float sum rides DECIMAL,
    // the dim-sum squares fold sequentially.
    Q(
      "q174_source_dispersion",
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
         |  FROM embeddings),
         |j AS (
         |  SELECT d.source, v.dv,
         |    sqrt(${dot64Sql("v.dv", "v.dv")}) AS nrm
         |  FROM v JOIN documents d ON d.doc_id = v.vec_id),
         |e AS (
         |  SELECT source, i, CAST(dv[i] / nrm AS DECIMAL(27,10)) AS c
         |  FROM j, unnest(range(1, 65)) u(i)),
         |s AS (
         |  SELECT source, i, sum(c) AS sd FROM e GROUP BY 1, 2),
         |agg AS (
         |  SELECT source,
         |    ${foldSumSql(
               "list_transform(list(CAST(sd AS DOUBLE) ORDER BY i), x -> x * x)",
               "CAST(0 AS DOUBLE)")} AS sum_norm_sq
         |  FROM s GROUP BY source),
         |n AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_vectors FROM j GROUP BY 1)
         |SELECT n.source, n_vectors, sum_norm_sq,
         |  CASE WHEN n_vectors >= 2 THEN
         |    (sum_norm_sq - n_vectors) / (n_vectors * (n_vectors - 1)) END
         |    AS mean_pairwise_cos
         |FROM agg JOIN n USING (source)""".stripMargin) { (spark, dir) =>
      val v = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      val src = Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("source"))
      Similarity.groupDispersion(v.join(src, "vec_id"), "source", "embedding")
    },

    // ---- K-CORE DECOMPOSITION (L158): the dense template CORE of the
    // capped near-dup graph — nodes that keep degree >= k after
    // everything weaker peels away (Matula-Beck). Core membership is
    // the boilerplate-vs-incidental split dedup policy acts on. The
    // fixpoint is round-count independent past convergence (peeling a
    // stable set is the identity), so the oracle unrolls a fixed 12
    // synchronous rounds while the Spark side iterates adaptively and
    // THROWS if 12 rounds don't converge — a divergence fails loudly at
    // the gate, never silently.
    Q(
      "q177_kcore", {
        val k = 3
        // MATERIALIZED: each peel round references the previous twice;
        // DuckDB inlines plain CTEs, which would re-evaluate the whole
        // chain 2^12 times
        def peel(prev: String, next: String) =
          s"""$next AS MATERIALIZED (
             |  SELECT e.src AS id FROM edges e
             |  JOIN $prev a ON e.src = a.id JOIN $prev b ON e.dst = b.id
             |  GROUP BY 1 HAVING count(*) >= $k)""".stripMargin
        s"""WITH $simhashCtes,
           |${simhashPairsCtes()},
           |edges AS MATERIALIZED (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION ALL SELECT id_b, id_a FROM pairs),
           |alive0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
           |${(1 to 12).map(i => peel(s"alive${i - 1}", s"alive$i")).mkString(",\n")},
           |coredeg AS (
           |  SELECT e.src AS id, CAST(count(*) AS BIGINT) AS core_degree
           |  FROM edges e
           |  JOIN alive12 a ON e.src = a.id JOIN alive12 b ON e.dst = b.id
           |  GROUP BY 1)
           |SELECT d.doc_id, cd.id IS NOT NULL AS in_core, cd.core_degree
           |FROM documents d LEFT JOIN coredeg cd ON d.doc_id = cd.id""".stripMargin
      }) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
      Components.kCore(docs, "doc_id", pairs, "id_a", "id_b", k = 3, maxIter = 12)
    },

    // ---- DEDUP THRESHOLD SENSITIVITY (L166): the keep-one-per-cluster
    // outcome at EVERY Hamming threshold 0..3 from ONE capped candidate
    // pass — the curve that answers "how much does the corpus shrink if
    // we loosen/tighten near-dup?" BEFORE committing to a threshold
    // (pair volume, touched docs, cluster count, survivors per t).
    // Threshold-t edges are a filter on the already-bounded pair
    // stream's hamming column; per-t components run on those bounded
    // edge lists (the adaptive small-graph union-find path — driver
    // work capped by the 4M-edge gate), so the corpus is fingerprinted
    // ONCE for all four thresholds. Oracle replays each threshold's
    // transitive closure (q49's recursive idiom, four instances).
    Q(
      "q185_dedup_threshold_curve", {
        def level(t: Int) =
          s"""edges$t AS (
             |  SELECT id_a AS src, id_b AS dst FROM cpairs WHERE h <= $t
             |  UNION SELECT id_b, id_a FROM cpairs WHERE h <= $t),
             |reach$t AS (
             |  SELECT DISTINCT src AS id, src AS comp FROM edges$t
             |  UNION
             |  SELECT e.src AS id, r.comp FROM edges$t e
             |  JOIN reach$t r ON e.dst = r.id),
             |lab$t AS (SELECT id, min(comp) AS comp FROM reach$t GROUP BY id),
             |st$t AS (
             |  SELECT $t AS t,
             |    (SELECT CAST(count(*) AS BIGINT) FROM cpairs WHERE h <= $t)
             |      AS n_pairs,
             |    CAST(count(*) AS BIGINT) AS n_docs_touched,
             |    CAST(count(DISTINCT comp) AS BIGINT) AS n_clusters
             |  FROM lab$t)""".stripMargin
        s"""WITH RECURSIVE $simhashCtes,
           |${rankedCte()},
           |cpairs AS (
           |  SELECT id_a, id_b, min(h) AS h FROM (
           |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |      bit_count(xor(a.sim, b.sim)) AS h
           |    FROM ranked a JOIN banded b USING (band, band_key)
           |    WHERE a.rk <= ${Dedup.DefaultDegreeCap} AND a.doc_id < b.doc_id
           |      AND bit_count(xor(a.sim, b.sim)) <= 3) x
           |  GROUP BY 1, 2),
           |${(0 to 3).map(level).mkString(",\n")},
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
           |allst AS (
           |  SELECT * FROM st0 UNION ALL SELECT * FROM st1
           |  UNION ALL SELECT * FROM st2 UNION ALL SELECT * FROM st3)
           |SELECT CAST(t AS BIGINT) AS t, n_pairs, n_docs_touched, n_clusters,
           |  n_docs_touched - n_clusters AS n_dropped,
           |  tot.n_docs - (n_docs_touched - n_clusters) AS n_survivors
           |FROM allst, tot""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val nDocs = docs.count()
      val pairs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
        .localCheckpoint()
      val rows = (0 to 3).map { t =>
        val pt = pairs.filter(col("hamming") <= t).localCheckpoint()
        val nPairs = pt.count()
        if (nPairs == 0) (t.toLong, 0L, 0L, 0L)
        else {
          val comp = Components.connectedComponents(pt, "id_a", "id_b")
          val touched = comp.count()
          val clusters = comp.select("comp").distinct().count()
          (t.toLong, nPairs, touched, clusters)
        }
      }
      rows.toDF("t", "n_pairs", "n_docs_touched", "n_clusters")
        .withColumn("n_dropped", col("n_docs_touched") - col("n_clusters"))
        .withColumn("n_survivors", lit(nDocs) - col("n_dropped"))
    },

    // ---- NEIGHBOR-DEGREE PROPAGATION (L180): per dup-graph node, its
    // degree and its neighbors' MEAN degree — the one-hop feature
    // aggregation (the GNN message-passing primitive) that separates a
    // hub inside a dense template core (high own + high neighbor
    // degree) from a leaf glued onto one (low own, high neighbor): the
    // two need different dedup treatment. One co-partitioned join of
    // the capped edge list against its own degree table + one rollup —
    // the Pregel step, linear in edges; mean rounds in integer space.
    Q(
      "q199_neighbor_degrees",
      s"""WITH $simhashCtes,
         |${simhashPairsCtes()},
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |deg AS (
         |  SELECT src AS id, CAST(count(*) AS BIGINT) AS degree
         |  FROM edges GROUP BY 1)
         |SELECT e.src AS doc_id, d1.degree,
         |  CAST(sum(d2.degree) AS BIGINT) AS nbr_degree_sum,
         |  CAST(((2 * sum(d2.degree) * 1000000 + d1.degree)
         |    // (2 * d1.degree))
         |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS nbr_degree_mean
         |FROM edges e
         |JOIN deg d1 ON d1.id = e.src
         |JOIN deg d2 ON d2.id = e.dst
         |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .localCheckpoint() // feeds the degree table and the propagation
      val deg = edges.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("degree"))
      edges
        .join(deg.withColumnRenamed("id", "src")
          .withColumnRenamed("degree", "d_src"), "src")
        .join(deg.withColumnRenamed("id", "dst")
          .withColumnRenamed("degree", "d_dst"), "dst")
        .groupBy(col("src").as("doc_id"), col("d_src").as("degree"))
        .agg(sum("d_dst").as("nbr_degree_sum"))
        .select(col("doc_id"), col("degree"), col("nbr_degree_sum"),
          graft.functions.ExactRound.roundRatio(col("nbr_degree_sum"),
            col("degree"), 6).cast("double").as("nbr_degree_mean"))
    },

    // ---- TOKEN-MASS-WEIGHTED DECILES (L184): per source, the doc
    // LENGTH below which 10%…90% of the source's TOKEN MASS lives —
    // "how long are the documents the tokens actually come from", which
    // unweighted length deciles misstate whenever a few mega-docs carry
    // most of a source's mass (the L145 Gini's actionable companion: it
    // says HOW concentrated, this says WHERE the cut points are for a
    // length cap). Exact order statistics: cumulative weight by
    // (length, id) per source, decile d = smallest length with
    // 10·cumw ≥ d·totw — pure integer comparisons, values are ACTUAL
    // data elements (no interpolation, no float summation). One keyed
    // window per source; at corpus scale the rank swaps to the q129
    // two-phase range-partition machinery per the L143 contract.
    Q(
      "q203_weighted_length_deciles", {
        val decs = Seq(1, 2, 3, 4, 5, 6, 7, 8, 9)
        val cases = decs.map(d =>
          s"CAST(min(CASE WHEN 10 * cumw >= $d * totw THEN n_chars END) " +
            s"AS BIGINT) AS wp$d").mkString(",\n        |  ")
        s"""WITH w AS (
           |  SELECT source, doc_id, n_chars,
           |    CAST(sum(n_chars) OVER (PARTITION BY source
           |      ORDER BY n_chars, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cumw,
           |    CAST(sum(n_chars) OVER (PARTITION BY source) AS BIGINT)
           |      AS totw
           |  FROM documents)
           |SELECT source,
           |  $cases,
           |  CAST(max(totw) AS BIGINT) AS total_tokens
           |FROM w GROUP BY source""".stripMargin
      }) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val bySrc = Window.partitionBy("source")
      val ord = bySrc.orderBy(col("n_chars"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w = Tables.documents(spark, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("cumw", sum("n_chars").over(ord))
        .withColumn("totw", sum("n_chars").over(bySrc))
      val decCols = (1 to 9).map(d =>
        min(when(lit(10) * col("cumw") >= lit(d) * col("totw"),
          col("n_chars"))).as(s"wp$d"))
      w.groupBy("source")
        .agg(decCols.head, (decCols.tail :+
          max("totw").as("total_tokens")): _*)
    },

    // ---- SAMPLED CLUSTER COHESION (L186): the BOUNDED production
    // variant of q141 — same audit question (is a cluster a clique of
    // true dups or transitive-closure glue?), answered on the induced
    // subgraph of ≤ GraphSampleCap hash-rank-sampled members per
    // standing cluster instead of the full exact pair set. Density and
    // mean Hamming over a uniform member sample are consistent
    // estimators of the cluster's (induced-subgraph sampling), and the
    // pair volume is ≤ C(cap,2) per cluster — linear in the corpus
    // where exact q141 goes quadratic inside a template mega-cluster
    // (the round-10 sf1 probe: 27× pairs for 10× docs). q141 remains
    // as the small-corpus/audit-gate exact version; this is what runs
    // on the 100 TB build. n_docs is the FULL cluster size (from the
    // standing labels); n_kept/n_edges/mean_hamming/density describe
    // the sampled subgraph.
    Q(
      "q205_cohesion_sampled",
      s"""WITH RECURSIVE $simhashCtes,
         |$sampledGraphCtes,
         |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM lab GROUP BY component),
         |nk AS (SELECT component, CAST(count(*) AS BIGINT) AS n_kept
         |       FROM kept GROUP BY component),
         |es AS (
         |  SELECT ka.component, CAST(count(*) AS BIGINT) AS n_edges,
         |    CAST(sum(p.ham) AS BIGINT) AS ham_sum
         |  FROM kpairs p
         |  JOIN kept ka ON ka.doc_id = p.id_a
         |  JOIN kept kb ON kb.doc_id = p.id_b
         |  WHERE ka.component = kb.component
         |  GROUP BY ka.component)
         |SELECT sz.component AS cluster, sz.n_docs, nk.n_kept, es.n_edges,
         |  CAST(((2 * es.ham_sum * 1000000 + es.n_edges) // (2 * es.n_edges))
         |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS mean_hamming,
         |  CAST(((2 * 2 * es.n_edges * 1000000 + nk.n_kept * (nk.n_kept - 1))
         |    // (2 * nk.n_kept * (nk.n_kept - 1)))
         |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS density
         |FROM sz JOIN nk USING (component) JOIN es USING (component)
         |WHERE sz.n_docs >= 3
         |ORDER BY sz.n_docs DESC, cluster LIMIT 20""".stripMargin) {
      (spark, dir) =>
      val (lab, kept, pairsKept) = sampledGraph(spark, dir)
      val sz = lab.groupBy("component").agg(count(lit(1)).as("n_docs"))
      val nk = kept.groupBy("component").agg(count(lit(1)).as("n_kept"))
      val es = pairsKept
        .join(kept.select(col("doc_id").as("id_a"),
          col("component").as("ca")), "id_a")
        .join(kept.select(col("doc_id").as("id_b"),
          col("component").as("cb")), "id_b")
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("component"))
        .agg(count(lit(1)).as("n_edges"), sum("hamming").as("ham_sum"))
      sz.join(nk, "component").join(es, "component")
        .filter(col("n_docs") >= 3)
        .select(col("component").as("cluster"), col("n_docs"),
          col("n_kept"), col("n_edges"),
          ExactRound.roundRatio(col("ham_sum"), col("n_edges"), 6)
            .cast("double").as("mean_hamming"),
          ExactRound.roundRatio(col("n_edges") * 2,
            col("n_kept") * (col("n_kept") - 1), 6)
            .cast("double").as("density"))
        .orderBy(col("n_docs").desc, col("cluster"))
        .limit(20)
    },

    // ---- SAMPLED TRIANGLE STATS (L187): the bounded variant of q142
    // — triangles, wedges, and the global clustering coefficient on
    // the induced subgraph of the per-cluster member sample, same
    // degree-ordered orientation (each triangle counted once, out-
    // degrees O(√m)-bounded). The gcc estimated from a uniform member
    // sample answers the same clique-vs-chain audit question; pair and
    // triangle volume are cap-bounded per cluster. The oracle counts
    // the identical triangles with the id-ordered self-join at
    // DuckDB's tiny scale.
    Q(
      "q206_triangle_sampled",
      s"""WITH RECURSIVE $simhashCtes,
         |$sampledGraphCtes,
         |deg AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT id_a AS id FROM kpairs
         |    UNION ALL SELECT id_b FROM kpairs) x GROUP BY id),
         |tri AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_tri
         |  FROM kpairs p1
         |  JOIN kpairs p2 ON p2.id_a = p1.id_b
         |  JOIN kpairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |    CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
         |  FROM deg),
         |e AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM kpairs)
         |SELECT n_nodes, n_edges, n_tri AS n_triangles, n_wedges,
         |  CAST(CASE WHEN n_wedges > 0 THEN
         |    ((2 * 3 * n_tri * 1000000 + n_wedges) // (2 * n_wedges))
         |      * CAST(0.000001 AS DECIMAL(7,6)) END AS DOUBLE)
         |    AS clustering_coef
         |FROM agg CROSS JOIN tri CROSS JOIN e""".stripMargin) {
      (spark, dir) =>
      val (_, _, pairsKeptH) = sampledGraph(spark, dir)
      val pairs = pairsKeptH.select("id_a", "id_b")
        .localCheckpoint() // feeds degrees AND both orientations below
      val deg = pairs.select(col("id_a").as("id"))
        .unionByName(pairs.select(col("id_b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val withDeg = pairs
        .join(deg.select(col("id").as("id_a"), col("d").as("da")), "id_a")
        .join(deg.select(col("id").as("id_b"), col("d").as("db")), "id_b")
      val aFirst = (col("da") < col("db")) ||
        (col("da") === col("db") && col("id_a") < col("id_b"))
      val oriented = withDeg.select(
          when(aFirst, col("id_a")).otherwise(col("id_b")).as("src"),
          when(aFirst, col("id_b")).otherwise(col("id_a")).as("dst"))
        .localCheckpoint() // three-way self-join below
      val wedges2 = oriented.select(col("src").as("a"), col("dst").as("b"))
        .join(oriented.select(col("src").as("b"), col("dst").as("c")), "b")
      val nTri = wedges2
        .join(oriented.select(col("src").as("a"), col("dst").as("c")),
          Seq("a", "c"))
        .agg(count(lit(1)).as("n_triangles"))
      val degAgg = deg.agg(
        count(lit(1)).as("n_nodes"),
        sum(expr("d * (d - 1) div 2")).as("n_wedges"))
      val nEdges = pairs.agg(count(lit(1)).as("n_edges"))
      degAgg.crossJoin(broadcast(nTri)).crossJoin(broadcast(nEdges))
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          col("n_wedges"),
          when(col("n_wedges") > 0,
            ExactRound.roundRatio(col("n_triangles") * 3, col("n_wedges"), 6))
            .cast("double").as("clustering_coef"))
    },

    // ---- ZIPF SLOPE (L188): OLS fit of ln(freq) on ln(rank) over the
    // top-1000 terms — the one-number corpus-health summary of the
    // frequency curve (natural text sits near slope −1; template spam
    // flattens it, aggressive dedup steepens the head). The global
    // rank rides the q129 distributed prefix-sum (no single-partition
    // window); the fit runs over the BOUNDED top-K cut. Exactness: x/y
    // are ln values scaled to integers at 9 decimals (the q65 recipe —
    // both engines' ln agree at that rounding), so every OLS moment
    // (Σx, Σy, Σxy, Σx², Σy²) is an EXACT integer in DECIMAL(38,0) /
    // HUGEINT; only the final slope/intercept/r2 divisions run in
    // double, on identical operands in identical expression shapes.
    Q(
      "q207_zipf_slope",
      s"""WITH toks AS (
         |  SELECT unnest($toksSql) AS term FROM documents),
         |freq AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
         |ranked AS (
         |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rnk
         |  FROM freq),
         |sc AS (
         |  SELECT
         |    CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000000, 0) AS HUGEINT) AS x,
         |    CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000000, 0) AS HUGEINT) AS y
         |  FROM ranked WHERE rnk <= $ZipfTopK),
         |s AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
         |    sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
         |  FROM sc)
         |SELECT CAST(n AS BIGINT) AS n_terms,
         |  round(CAST(n*sxy - sx*sy AS DOUBLE)
         |    / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS zipf_slope,
         |  round(CAST(sy*sxx - sx*sxy AS DOUBLE)
         |    / CAST(n*sxx - sx*sx AS DOUBLE) / 1000000000, 6) AS intercept,
         |  round(CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)
         |    / (CAST(n*sxx - sx*sx AS DOUBLE)
         |       * CAST(n*syy - sy*sy AS DOUBLE)), 6) AS r2
         |FROM s""".stripMargin) { (spark, dir) =>
      val d38 = DecimalType(38, 0)
      val tc = Tables.documents(spark, dir)
        .select(explode(Text.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      val ranked = Sample.quantileNormalize(
          tc, Seq(col("cnt").desc, col("term")))
        .filter(col("rnk") <= ZipfTopK)
      val s = ranked
        .select(
          round(log(col("rnk").cast("double")) * 1e9, 0).cast(d38).as("x"),
          round(log(col("cnt").cast("double")) * 1e9, 0).cast(d38).as("y"))
        .agg(count(lit(1)).cast(d38).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val denx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val deny = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
      s.select(
        col("n").cast("long").as("n_terms"),
        round(num / denx, 6).as("zipf_slope"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double")
          / denx / 1e9, 6).as("intercept"),
        round(num * num / (denx * deny), 6).as("r2"))
    },

    // ---- round 14: species-richness extrapolation (Chao 1984,
    // bias-corrected; Good 1953 coverage). A shard's dedup/vocab yield
    // must extrapolate to the full corpus BEFORE the 100 TB job runs:
    // the frequency spectrum's singletons f₁ and doubletons f₂ give
    // Chao1 = D + f₁(f₁−1)∕(2(f₂+1)) — a lower bound on the true
    // distinct-token count this sample was drawn from — and the
    // Good–Turing coverage 1 − f₁∕N says what fraction of the source's
    // token mass the shard has already seen. Per source, all exact:
    // two integer aggregates (term counts, then the spectrum), the
    // two ratios via the half-away integer divide. Distributed shape:
    // explode → (source, term) partial-agg → |sources| rows; the
    // spectrum never leaves integer space, no sketch, no sort.
    Q(
      "q245_chao_richness",
      s"""WITH tok AS (
         |  SELECT source, unnest($toksSql) AS term
         |  FROM documents),
         |tc AS (
         |  SELECT source, term, CAST(count(*) AS HUGEINT) AS c
         |  FROM tok GROUP BY 1, 2),
         |s AS (
         |  SELECT source,
         |    CAST(count(*) AS HUGEINT) AS d,
         |    CAST(sum(c) AS HUGEINT) AS n,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS f1,
         |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS HUGEINT) AS f2
         |  FROM tc GROUP BY 1)
         |SELECT source, CAST(n AS BIGINT) AS n_tokens,
         |  CAST(d AS BIGINT) AS d_distinct,
         |  CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
         |  CAST((2 * (2 * d * (f2 + 1) + f1 * (f1 - 1)) * 1000000
         |      + 2 * (f2 + 1)) // (4 * (f2 + 1)) AS DOUBLE) / 1000000
         |    AS chao1,
         |  CAST((2 * (n - f1) * 1000000 + n) // (2 * n) AS DOUBLE)
         |    / 1000000 AS coverage
         |FROM s""".stripMargin) { (spark, dir) =>
      val I = DecimalType(38, 0)
      val tok = Tables.documents(spark, dir)
        .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
      val tc = tok.groupBy("source", "term").agg(count(lit(1)).as("c"))
      val s = tc.groupBy("source").agg(
        count(lit(1)).cast(I).as("d"),
        sum("c").cast(I).as("n"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast(I).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).cast(I).as("f2"))
      s.select(col("source"),
        col("n").cast("long").as("n_tokens"),
        col("d").cast("long").as("d_distinct"),
        col("f1").cast("long").as("f1"),
        col("f2").cast("long").as("f2"),
        ExactRound.roundRatio(
          lit(2).cast(I) * col("d") * (col("f2") + lit(1).cast(I)) +
            col("f1") * (col("f1") - lit(1).cast(I)),
          lit(2).cast(I) * (col("f2") + lit(1).cast(I)), 6)
          .cast("double").as("chao1"),
        ExactRound.roundRatio(col("n") - col("f1"), col("n"), 6)
          .cast("double").as("coverage"))
    },

    // ---- KMV theta-sketch SET ALGEBRA (Beyer et al. 2007; the
    // DataSketches theta-sketch workflow): union / intersection /
    // difference cardinality estimates between two corpus partitions'
    // shingle universes from their 8-KiB sketches alone — the overlap
    // questions (how much does split A share with split B? how much of
    // A is unique?) answered WITHOUT a distinct-join, which is the only
    // way they're answerable across 100 TB partitions. Estimators:
    // |A∪B| from the merged sketch's k-th minimum, J from the bottom-k
    // coincidence rate (graft_kmv_jaccard), |A∩B| = J·|A∪B|,
    // |A\B| = |A∪B| − |B|. The splitmix64 hash is fixed, so every
    // estimate is deterministic for a given dataset; the oracle (which
    // cannot replay the hash) checks the CONTRACT — exact cardinalities
    // (one flags-aggregate over distinct hashes) plus within-bound
    // booleans, the q48 recipe. Bounds are relative to the UNION for
    // every op — the theta-sketch error model (DataSketches): the
    // estimators' noise scales with |A∪B|, so a derived quantity that
    // happens to be small (the fixture's A\\B is ~1% of the union —
    // even/odd halves share the template mass) has large RELATIVE error
    // by construction while staying inside the additive band. 5% of
    // union for the direct union estimate (k=1024 ≈ 3% rel. error),
    // 10% of union for the derived intersection/difference.
    Q(
      "q285_kmv_setops", {
        val h = strHashSql("x")
        s"""WITH toks AS (
           |  SELECT doc_id, $toksSql AS t FROM documents),
           |sh AS (
           |  SELECT doc_id, $shinglesSql AS s FROM toks),
           |hv AS (
           |  SELECT DISTINCT doc_id % 2 AS side,
           |    unnest(list_transform(s, x -> $h)) AS h
           |  FROM sh WHERE len(s) > 0),
           |flags AS (
           |  SELECT h,
           |    max(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ia,
           |    max(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS ib
           |  FROM hv GROUP BY 1),
           |x AS (
           |  SELECT CAST(count(*) AS BIGINT) AS xu,
           |    CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS xi,
           |    CAST(sum(CASE WHEN ia = 1 AND ib = 0 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS xd
           |  FROM flags)
           |SELECT 'union' AS op, xu AS n_exact, TRUE AS est_ok FROM x
           |UNION ALL SELECT 'intersect', xi, TRUE FROM x
           |UNION ALL SELECT 'diff_a_minus_b', xd, TRUE FROM x"""
          .stripMargin
      }) { (spark, dir) =>
      val sh = Tables.documents(spark, dir)
        .select((col("doc_id") % 2).as("side"),
          explode(call_function("graft_shingle_hashes", col("text"), lit(3)))
            .as("h"))
      val flags = sh.groupBy("h").agg(
        max(when(col("side") === 0, 1).otherwise(0)).as("ia"),
        max(when(col("side") === 1, 1).otherwise(0)).as("ib"))
      val exact = flags.agg(
        count(lit(1)).as("xu"),
        sum(when(col("ia") === 1 && col("ib") === 1, 1L).otherwise(0L))
          .as("xi"),
        sum(when(col("ia") === 1 && col("ib") === 0, 1L).otherwise(0L))
          .as("xd"))
      val sks = sh.groupBy("side")
        .agg(call_function("graft_kmv_sketch", col("h")).as("sk"))
        .localCheckpoint() // two rows; read for A, B, and the union merge
      val skA = sks.filter(col("side") === 0).select(col("sk").as("ska"))
      val skB = sks.filter(col("side") === 1).select(col("sk").as("skb"))
      val skU = sks.agg(call_function("graft_kmv_merge", col("sk")).as("sku"))
      val ests = skA.crossJoin(skB).crossJoin(skU).select(
        call_function("graft_kmv_estimate", col("sku")).cast("double")
          .as("eu"),
        (call_function("graft_kmv_jaccard", col("ska"), col("skb")) *
          call_function("graft_kmv_estimate", col("sku")).cast("double"))
          .as("ei"),
        (call_function("graft_kmv_estimate", col("sku")).cast("double") -
          call_function("graft_kmv_estimate", col("skb")).cast("double"))
          .as("ed"))
      def ok(est: org.apache.spark.sql.Column,
          x: org.apache.spark.sql.Column, bound: Double) =
        abs(est - x.cast("double")) <= col("xu").cast("double") * lit(bound)
      exact.crossJoin(ests)
        .select(
          ok(col("eu"), col("xu"), 0.05).as("uok"),
          ok(col("ei"), col("xi"), 0.10).as("iok"),
          ok(col("ed"), col("xd"), 0.10).as("dok"),
          col("xu"), col("xi"), col("xd"))
        .selectExpr(
          """stack(3,
            |  'union', xu, uok,
            |  'intersect', xi, iok,
            |  'diff_a_minus_b', xd, dok) AS (op, n_exact, est_ok)"""
            .stripMargin)
    },

    // ---- Skip-gram window PMI (the word-association statistic behind
    // SGNS/word2vec counting, Church & Hanks 1990 at window scope):
    // co-occurrence counted over a ±5-token positional window — the
    // POSITIONAL association q131's doc-level set lift cannot see.
    // Forward pairs come from FIVE lead() columns sharing one codegen'd
    // window operator (never a position self-join); the directed count
    // is fwd + reversed-fwd, so marginals are symmetric by
    // construction. PMI = ln(n·C ∕ (m_w·m_c)) over exact BIGINT
    // products (< 2^53 at these SFs; the DECIMAL ladder takes over
    // beyond, the q282 note), rounded at 6 dp with (w, c) tiebreaks so
    // the top-30 ranking cannot flip cross-engine. The count table is
    // the training artifact at 100 TB — corpus-pass once, |vocab|²-
    // bounded aggregate, top-30 over the bounded grid.
    Q(
      "q289_skipgram_pmi",
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS t FROM documents),
         |fwd AS (
         |  SELECT t[i] AS w, t[i + j] AS c
         |  FROM toks, unnest(range(1, len(t) + 1)) u(i),
         |       unnest(range(1, 6)) v(j)
         |  WHERE i + j <= len(t)),
         |cf AS (SELECT w, c, CAST(count(*) AS BIGINT) AS n FROM fwd GROUP BY 1, 2),
         |dir AS (
         |  SELECT w, c, CAST(sum(n) AS BIGINT) AS n FROM (
         |    SELECT w, c, n FROM cf
         |    UNION ALL SELECT c AS w, w AS c, n FROM cf) GROUP BY 1, 2),
         |mar AS (SELECT w, CAST(sum(n) AS BIGINT) AS m FROM dir GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS ct FROM dir),
         |p AS (
         |  SELECT d.w, d.c, d.n,
         |    round(ln(CAST(d.n * ct AS DOUBLE)
         |      / CAST(mw.m * mc.m AS DOUBLE)), 6) AS pmi
         |  FROM dir d JOIN mar mw ON mw.w = d.w JOIN mar mc ON mc.w = d.c, tot
         |  WHERE d.w <= d.c AND d.n >= 20)
         |SELECT w, c, n AS n_pairs, pmi FROM (
         |  SELECT w, c, n, pmi,
         |    row_number() OVER (ORDER BY pmi DESC, w, c) AS rk FROM p) r
         |WHERE rk <= 30""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w5 = Window.partitionBy("doc_id").orderBy("pos")
      var df = Tables.documents(spark, dir)
        .select(col("doc_id"), posexplode(Text.tokens(col("text"))))
        .withColumnRenamed("col", "w")
      val leads = (1 to 5).map { j =>
        val c = s"c$j"
        df = df.withColumn(c, lead(col("w"), j).over(w5))
        col(c)
      }
      val cf = df.select(col("w"), explode(array(leads: _*)).as("c"))
        .filter(col("c").isNotNull)
        .groupBy("w", "c").agg(count(lit(1)).as("n"))
        .localCheckpoint() // vocab²-bounded; feeds dir both directions
      val dirc = cf.select("w", "c", "n")
        .unionByName(cf.select(col("c").as("w"), col("w").as("c"), col("n")))
        .groupBy("w", "c").agg(sum("n").as("n"))
      val mar = dirc.groupBy("w").agg(sum("n").as("m"))
      val tot = dirc.agg(sum("n").as("ct"))
      val p = dirc
        .join(mar.select(col("w"), col("m").as("mw")), "w")
        .join(mar.select(col("w").as("c"), col("m").as("mc")), "c")
        .crossJoin(broadcast(tot))
        .filter(col("w") <= col("c") && col("n") >= 20)
        .select(col("w"), col("c"), col("n"),
          round(log((col("n") * col("ct")).cast("double")
            / (col("mw") * col("mc")).cast("double")), 6).as("pmi"))
      // top-30 via orderBy().limit() = TakeOrderedAndProject (per-
      // partition top-30, then a 30-row driver merge) — never a single-
      // partition row_number window: the PMI pair table is vocab²-
      // bounded but at web-corpus vocabulary that is tens of millions
      // of rows through one task. Total order (pmi desc, w, c) is
      // tie-free, so the cut matches the oracle's ranked top-30.
      p.orderBy(col("pmi").desc, col("w"), col("c"))
        .limit(30)
        .select(col("w"), col("c"), col("n").as("n_pairs"), col("pmi"))
    },

    // ---- HyperBall neighborhood function (Boldi & Vigna 2013) over the
    // capped near-dup graph, SEEDED readout (the ANF estimator — Palmer
    // et al. 2002 sample centers; HyperBall keeps per-node state):
    // N_S(r) = Σ_{v: v%17=0} |B(v,r)| for r = 0..3. The sketch arm is
    // the production path — per-node HLL ball sketches (p=8, ~256 B)
    // advanced one hop per round by ONE edges⋈sketches join + ONE merge
    // aggregate over ALL nodes (propagation needs every node's sketch;
    // only the READOUT restricts to seeds) — the only shape that
    // computes a distance distribution at 100 TB, where the exact ball
    // table is Σ-component² rows (near-dup components are quasi-
    // cliques: B_r saturates within a hop or two — measured 11.6×/decade
    // when this audit grew balls from every node). The exact side IS
    // computed here as the audit, BOUNDED by the 1-in-17 seed set (the
    // q205/q206 sampled-audit precedent). Outputs per r: exact seeded
    // N_S(r), the closure fraction N_S(r)∕N_S(3) (integer-space 6-dp —
    // the effective-diameter readout), and the q48-style within-band
    // boolean for the seeded HLL sum (10% at p=8 ≈ 6.5% per-node rel.
    // error — the seeded SUM averages across balls). Same deterministic
    // splitmix64 hash as the whole HLL family — one fixed error per
    // dataset.
    Q(
      "q290_hyperball", {
        def grow(prev: String, next: String) =
          s"""$next AS MATERIALIZED (
             |  SELECT DISTINCT src, dst FROM (
             |    SELECT src, dst FROM $prev
             |    UNION ALL
             |    SELECT b.src, e.dst FROM $prev b JOIN edges e ON b.dst = e.src))"""
            .stripMargin
        s"""WITH $simhashCtes,
           |${simhashPairsCtes()},
           |edges AS MATERIALIZED (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION ALL SELECT id_b, id_a FROM pairs),
           |b0 AS MATERIALIZED (
           |  SELECT doc_id AS src, doc_id AS dst FROM (
           |    SELECT doc_id FROM documents WHERE doc_id % 17 = 0
           |    ORDER BY doc_id LIMIT 100)),
           |${grow("b0", "b1")},
           |${grow("b1", "b2")},
           |${grow("b2", "b3")},
           |cnt AS (
           |  SELECT 0 AS r, CAST(count(*) AS BIGINT) AS n FROM b0
           |  UNION ALL SELECT 1, CAST(count(*) AS BIGINT) FROM b1
           |  UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM b2
           |  UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM b3),
           |n3 AS (SELECT n AS nmax FROM cnt WHERE r = 3)
           |SELECT CAST(r AS INT) AS r, n AS n_pairs,
           |  CAST(((2 * CAST(n AS HUGEINT) * 1000000 + nmax)
           |      // (2 * CAST(nmax AS HUGEINT)))
           |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS closure_frac,
           |  TRUE AS est_ok
           |FROM cnt, n3""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val prs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
      val edges = prs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(prs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .cache() // read by every round of both arms; released at return
      val nodes = docs.select(col("doc_id").as("id"))
      // FIXED-size center sample (the ANF estimator samples centers; a
      // rate-based sample keeps the audit quadratic — a mega-component
      // of size M holds M∕17 centers each with an M-row ball): the 100
      // smallest 17-residue ids, deterministic at every SF
      val seeds = nodes.filter(col("id") % 17 === 0)
        .orderBy(col("id")).limit(100)
      // exact audit arm: grow the SEEDED ball table three hops
      var ball = seeds.select(col("id").as("src"), col("id").as("dst"))
        .cache()
      val exact = scala.collection.mutable.ArrayBuffer(ball.count())
      // sketch arm: HyperBall proper. p=8 (256 B registers) — the edge
      // join ships |E| sketch copies per round, so sketch BYTES are the
      // round's shuffle volume; and 256 shuffle partitions so each
      // task's partial-aggregate map holds a bounded slice of the
      // |V|·256 B state (32 fat partitions OOM'd an 8 GiB heap at sf10
      // — 25 M carried sketches in 32 slices).
      var sk = nodes.groupBy("id")
        .agg(call_function("graft_hll_sketch", col("id"), lit(8)).as("sk"))
        .cache()
      val seedIds = seeds.localCheckpoint() // <=100 rows, broadcast below
      def sumEst(s: org.apache.spark.sql.DataFrame): Long =
        s.join(broadcast(seedIds), "id")
          .select(call_function("graft_hll_estimate", col("sk")).as("e"))
          .agg(sum("e")).head().getLong(0)
      val ests = scala.collection.mutable.ArrayBuffer(sumEst(sk))
      // round state is cache()d, materialized by the readout action,
      // and the PREVIOUS round released immediately — without this the
      // retained per-round tables accumulate in the shared session's
      // storage memory and starved execution at sf10
      graft.Sessions.withShufflePartitions(spark, 256) {
        for (_ <- 1 to 3) {
          val grownBall = ball
            .join(edges.select(col("src").as("m"), col("dst").as("w")),
              col("dst") === col("m"))
            .select(col("src"), col("w").as("dst"))
            .unionByName(ball).distinct().cache()
          exact += grownBall.count()
          ball.unpersist()
          ball = grownBall
          val nbr = edges.join(sk.withColumnRenamed("id", "dst"), "dst")
            .select(col("src").as("id"), col("sk"))
          val grownSk = sk.unionByName(nbr).groupBy("id")
            .agg(call_function("graft_hll_merge", col("sk")).as("sk"))
            .cache()
          ests += sumEst(grownSk)
          sk.unpersist()
          sk = grownSk
        }
      }
      ball.unpersist()
      sk.unpersist()
      edges.unpersist()
      val nmax = BigInt(exact.last)
      (0 to 3).map { r =>
        val q6 = (BigInt(2) * exact(r) * 1000000 + nmax) / (2 * nmax)
        (r, exact(r),
          BigDecimal(q6, 6).toDouble,
          math.abs(ests(r) - exact(r)).toDouble <= 0.10 * exact(r))
      }.toDF("r", "n_pairs", "closure_frac", "est_ok")
    }
  )
}

package graft.queries

import graft.Tables
import graft.functions.ExactRound
import graft.ops.{Components, Dedup, IndexLog, Similarity, Stats}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-13 index-maintenance operators: the continuous-ingest closure
  * of the ANN surface. q116/q179 train one-shot IVF/PQ codebooks; a
  * 100 TB corpus cannot retrain per batch — it encodes NEW batches
  * against the STANDING codebook, folds the codes into a versioned
  * index table, and re-trains only when q143's centroid-drift signal
  * fires. These queries pin that loop's two contracts cross-engine:
  * encode-fold == one-shot-encode (the q119/q222 fold identity applied
  * to the index), and the stale index's measured recall stays within
  * tolerance of a full retrain.
  *
  * Exactness follows `graft.functions.ExactRound`: counts cross the
  * oracle boundary as BIGINT, the recall divide runs on identical
  * operand trees (n/5 doubles far from rounding boundaries), and the
  * tolerance verdict compares INTEGER hit counts.
  */
object IndexQueries {
  import CurationQueries.dot64Sql

  /** Euclidean argmin assignment CTE (kmeans training) over a
    * parameterized vector CTE — CurationQueries.kmeansAssignSql with
    * the `vn` name freed so two training chains can coexist. */
  private def kmAssignSql(vn: String, name: String, cents: String) =
    s"""$name AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT t.vec_id, c.cluster,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY t.vn2 + ${dot64Sql("c.cv", "c.cv")}
       |          - 2.0 * ${dot64Sql("t.dv", "c.cv")}, c.cluster) AS rn
       |    FROM $vn t, $cents c) x WHERE rn = 1)""".stripMargin

  /** Centroid-update CTE pair (kmeans), `vn` parameterized; empty
    * clusters keep the previous centroid. */
  private def kmUpdateSql(vn: String, sums: String, assign: String,
      prev: String, next: String) =
    s"""$sums AS (
       |  SELECT a.cluster, i,
       |    CAST(sum(CAST(t.dv[i] AS DECIMAL(30,12))) AS DOUBLE)
       |      / count(*) AS m
       |  FROM $assign a JOIN $vn t USING (vec_id),
       |    unnest(range(1, 65)) u(i)
       |  GROUP BY 1, 2),
       |$next AS (
       |  SELECT p.cluster, coalesce(n.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN (
       |    SELECT cluster, list(m ORDER BY i) AS cv FROM $sums GROUP BY 1) n
       |  USING (cluster))""".stripMargin

  /** Full deterministic 2-iteration k=4 training chain over
    * `embeddings$filt`, every CTE name prefixed with `p` — the
    * kmeansCtes recipe, instantiable twice in one query (stale train
    * on history vs full retrain). */
  private def kmChain(p: String, filt: String) =
    s"""${p}v AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
       |  FROM embeddings$filt),
       |${p}vn AS MATERIALIZED (
       |  SELECT vec_id, dv, ${dot64Sql("dv", "dv")} AS vn2 FROM ${p}v),
       |${p}c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, dv AS cv
       |  FROM ${p}v ORDER BY vec_id LIMIT 4),
       |${kmAssignSql(s"${p}vn", s"${p}a1", s"${p}c0")},
       |${kmUpdateSql(s"${p}vn", s"${p}s1", s"${p}a1", s"${p}c0", s"${p}c1")},
       |${kmAssignSql(s"${p}vn", s"${p}a2", s"${p}c1")},
       |${kmUpdateSql(s"${p}vn", s"${p}s2", s"${p}a2", s"${p}c1", s"${p}c2")}""".stripMargin

  /** Cosine cell-assignment CTE (the IVF search rule, ties to lower
    * cid) against centroid set `cc` from vector CTE `vn`. */
  private def cellSql(name: String, vn: String, cc: String,
      filter: String, keep: Int) =
    s"""$name AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT t.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${dot64Sql("t.dv", "c.cv")}
       |          / (sqrt(t.vn2) * c.cn) DESC, c.cid) AS rn
       |    FROM $vn t, $cc c$filter) x WHERE rn <= $keep)""".stripMargin

  /** IVF search + top-5 CTE pair: probe cells `qa`, member cells `ca`,
    * cosine score over the full-corpus `rvn`, rank ≤ 5. */
  private def searchSql(scored: String, topk: String, qa: String, ca: String) =
    s"""$scored AS (
       |  SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id,
       |    ${dot64Sql("qv.dv", "nv.dv")} / (sqrt(qv.vn2) * sqrt(nv.vn2)) AS cos
       |  FROM $qa qa JOIN rvn qv ON qa.vec_id = qv.vec_id
       |    JOIN $ca ca ON qa.cid = ca.cid
       |    JOIN rvn nv ON ca.vec_id = nv.vec_id
       |  WHERE ca.vec_id <> qa.vec_id),
       |$topk AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM $scored) y WHERE rn <= 5)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- L204 incremental ANN index maintenance: the continuous-ingest
    // loop q116's one-shot train cannot serve. History trains the
    // codebook (kmeansLloyd on vec_id % 3 <> 0); the standing code
    // table = history encoded once; a NEW batch (vec_id % 3 = 0)
    // encodes against the STANDING codebook — a pure projection, no
    // retrain, no corpus re-scan — and folds in exactly-once via
    // Versioned.writeOnce (the duplicate call is the replay shield).
    // Because the code is a per-row function of (vector, codebook),
    // fold == one-shot-encode; the oracle computes the ONE-SHOT
    // assignment of the whole corpus and searches it, so the folded
    // index must be bit-identical or every downstream row diverges.
    // Recall@5 of the STALE index (trained pre-batch) is then measured
    // against brute force alongside a FULL-RETRAIN index on the grown
    // corpus: within_tol pins the stale index within 2-of-5 hits of
    // the retrain — the gate that says "keep encoding, don't retrain
    // yet" until q143's drift signal fires. All hit counts integer;
    // the only doubles are the identical-operand cosine chains and the
    // n/5 recall presentation.
    Q(
      "q223_incremental_ann_index",
      s"""WITH ${kmChain("h", " WHERE vec_id % 3 <> 0")},
         |${kmChain("r", "")},
         |ccs AS MATERIALIZED (SELECT cluster AS cid, cv,
         |  sqrt(${dot64Sql("cv", "cv")}) AS cn FROM hc2),
         |ccr AS MATERIALIZED (SELECT cluster AS cid, cv,
         |  sqrt(${dot64Sql("cv", "cv")}) AS cn FROM rc2),
         |${cellSql("cas", "rvn", "ccs", "", 1)},
         |${cellSql("qas", "rvn", "ccs", " WHERE t.vec_id < 10", 2)},
         |${cellSql("car", "rvn", "ccr", "", 1)},
         |${cellSql("qar", "rvn", "ccr", " WHERE t.vec_id < 10", 2)},
         |${searchSql("ss", "aks", "qas", "cas")},
         |${searchSql("sr", "akr", "qar", "car")},
         |es AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${dot64Sql("q.dv", "c.dv")} / (sqrt(q.vn2) * sqrt(c.vn2)) AS cos
         |  FROM rvn q, rvn c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |ek AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM es) z WHERE rn <= 5)
         |SELECT e.query_id,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(count(s.neighbor_id) AS BIGINT) AS hits_stale,
         |  CAST(count(r.neighbor_id) AS BIGINT) AS hits_retrain,
         |  round(CAST(count(s.neighbor_id) AS DOUBLE) / count(*), 6)
         |    AS recall_stale,
         |  round(CAST(count(r.neighbor_id) AS DOUBLE) / count(*), 6)
         |    AS recall_retrain,
         |  count(s.neighbor_id) + 2 >= count(r.neighbor_id) AS within_tol
         |FROM ek e
         |  LEFT JOIN aks s ON s.query_id = e.query_id
         |    AND s.neighbor_id = e.neighbor_id
         |  LEFT JOIN akr r ON r.query_id = e.query_id
         |    AND r.neighbor_id = e.neighbor_id
         |GROUP BY e.query_id""".stripMargin) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val hist = e.filter(col("vec_id") % 3 =!= 0)
      val batch = e.filter(col("vec_id") % 3 === 0)
      // stale codebook: trained on history only
      val (_, stale) = Similarity.kmeansLloyd(hist, "vec_id", "embedding",
        k = 4, iters = 2)
      // standing versioned index: history encoded once
      val idxPath = graft.Tmp.dir("graft-q223").toString + "/codes"
      graft.Meta.Versioned.write(
        Similarity.ivfEncode(hist, "vec_id", "embedding", stale), idxPath)
      // the batch folds in: encode against the STANDING codebook,
      // append exactly-once; the second call is a redelivery and must
      // no-op (writeOnce's txn marker)
      val folded = graft.Meta.Versioned.read(spark, idxPath).unionByName(
        Similarity.ivfEncode(batch, "vec_id", "embedding", stale))
      graft.Meta.Versioned.writeOnce(folded, idxPath, "q223", 0L)
      graft.Meta.Versioned.writeOnce(folded, idxPath, "q223", 0L)
      val codes = graft.Meta.Versioned.read(spark, idxPath)
      val qs = e.filter(col("vec_id") < 10)
      val exact = Similarity
        .topKBruteForce(e, qs, "vec_id", "embedding", 5)
        .select("query_id", "neighbor_id")
      val annStale = Similarity
        .topKIvfEncoded(e, codes, qs, "vec_id", "embedding", 5, stale,
          nprobe = 2)
        .select("query_id", "neighbor_id").withColumn("hs", lit(1L))
      val (_, retrain) = Similarity.kmeansLloyd(e, "vec_id", "embedding",
        k = 4, iters = 2)
      val annRe = Similarity
        .topKIvfTrained(e, qs, "vec_id", "embedding", 5, retrain, nprobe = 2)
        .select("query_id", "neighbor_id").withColumn("hr", lit(1L))
      exact
        .join(annStale, Seq("query_id", "neighbor_id"), "left")
        .join(annRe, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hs"), lit(0L))).as("hits_stale"),
          sum(coalesce(col("hr"), lit(0L))).as("hits_retrain"))
        .select(col("query_id"), col("n_exact"), col("hits_stale"),
          col("hits_retrain"),
          round(col("hits_stale").cast("double") / col("n_exact"), 6)
            .as("recall_stale"),
          round(col("hits_retrain").cast("double") / col("n_exact"), 6)
            .as("recall_retrain"),
          (col("hits_stale") + lit(2L) >= col("hits_retrain"))
            .as("within_tol"))
    },

    // ---- L205 clustering-agreement audit (Adjusted Rand Index, Hubert
    // & Arabie 1985): ONE number for how much the degree cap (L132)
    // changes the near-dup clustering vs the exact pair set — the
    // quantitative companion to TextDedupSpec's subset/convergence
    // pins and the q87/q147/q119 re-points. Runs in the q141/q142
    // audit-gate family (the EXACT side is the bounded reconciliation
    // corpus; production compares successive capped labelings with the
    // same contingency shape, which is one groupBy — linear at any
    // scale). ARI assembled ENTIRELY in integer space: pair-counting
    // C(n,2) sums from the contingency table, the adjusted ratio
    // cross-multiplied (×2 clears the /2) into one signed integer
    // divide rounded half-away at 6 dp — DECIMAL(38) holds the cubic
    // products for audit-gate corpora (≲100k docs); degenerate
    // denominator (both labelings trivial ⇒ identical) pins to 1.
    Q(
      "q224_clustering_agreement",
      s"""WITH RECURSIVE ${LlmQueries.simhashCtes},
         |rankedc AS (
         |  SELECT doc_id, sim, band, band_key,
         |    row_number() OVER (PARTITION BY band, band_key ORDER BY doc_id) AS rk
         |  FROM banded),
         |cpairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM rankedc a JOIN banded b USING (band, band_key)
         |  WHERE a.rk <= ${Dedup.DefaultDegreeCap} AND a.doc_id < b.doc_id
         |    AND bit_count(xor(a.sim, b.sim)) <= 3),
         |epairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b USING (band, band_key)
         |  WHERE a.doc_id < b.doc_id
         |    AND bit_count(xor(a.sim, b.sim)) <= 3),
         |cedges AS (
         |  SELECT id_a AS src, id_b AS dst FROM cpairs
         |  UNION SELECT id_b, id_a FROM cpairs),
         |creach AS (
         |  SELECT DISTINCT src AS id, src AS comp FROM cedges
         |  UNION
         |  SELECT e.src AS id, r.comp FROM cedges e JOIN creach r ON e.dst = r.id),
         |ccmp AS (SELECT id, min(comp) AS component FROM creach GROUP BY id),
         |eedges AS (
         |  SELECT id_a AS src, id_b AS dst FROM epairs
         |  UNION SELECT id_b, id_a FROM epairs),
         |ereach AS (
         |  SELECT DISTINCT src AS id, src AS comp FROM eedges
         |  UNION
         |  SELECT e.src AS id, r.comp FROM eedges e JOIN ereach r ON e.dst = r.id),
         |ecmp AS (SELECT id, min(comp) AS component FROM ereach GROUP BY id),
         |lab AS (
         |  SELECT d.doc_id,
         |    coalesce(cc.component, d.doc_id) AS lc,
         |    coalesce(ec.component, d.doc_id) AS le
         |  FROM documents d
         |    LEFT JOIN ccmp cc ON cc.id = d.doc_id
         |    LEFT JOIN ecmp ec ON ec.id = d.doc_id),
         |cont AS (
         |  SELECT lc, le, CAST(count(*) AS HUGEINT) AS n
         |  FROM lab GROUP BY 1, 2),
         |pj AS (SELECT CAST(sum(n * (n - 1) // 2) AS HUGEINT) AS sij
         |  FROM cont),
         |pa AS (SELECT CAST(sum(a * (a - 1) // 2) AS HUGEINT) AS sa,
         |    CAST(count(*) AS BIGINT) AS k_capped
         |  FROM (SELECT lc, sum(n) AS a FROM cont GROUP BY 1)),
         |pb AS (SELECT CAST(sum(b * (b - 1) // 2) AS HUGEINT) AS sb,
         |    CAST(count(*) AS BIGINT) AS k_exact
         |  FROM (SELECT le, sum(n) AS b FROM cont GROUP BY 1)),
         |nn AS (SELECT CAST(count(*) AS HUGEINT) AS nd FROM documents),
         |f AS (
         |  SELECT nd, k_capped, k_exact, sij, sa, sb,
         |    nd * (nd - 1) // 2 AS c2,
         |    2 * (nd * (nd - 1) // 2) * sij - 2 * sa * sb AS num,
         |    (nd * (nd - 1) // 2) * (sa + sb) - 2 * sa * sb AS den
         |  FROM nn, pj, pa, pb)
         |SELECT CAST(nd AS BIGINT) AS n_docs, k_capped, k_exact,
         |  CAST(sij AS BIGINT) AS pairs_joint,
         |  CAST(sa AS BIGINT) AS pairs_capped,
         |  CAST(sb AS BIGINT) AS pairs_exact,
         |  CASE WHEN den = 0 THEN 1.0 ELSE
         |    CAST(CASE WHEN num >= 0
         |        THEN (2 * num * 1000000 + den) // (2 * den)
         |        ELSE -((2 * (-num) * 1000000 + den) // (2 * den)) END
         |      AS DOUBLE) / 1000000 END AS ari
         |FROM f""".stripMargin) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val capped = Components.resolveClusters(docs, "doc_id",
        Dedup.simhashPairsCapped(docs, "doc_id", "text", bands = 4,
          maxHamming = 3, cap = Dedup.DefaultDegreeCap), "id_a", "id_b")
        .select(col("doc_id"), col("component").as("lc"))
      val exact = Components.resolveClusters(docs, "doc_id",
        Dedup.simhashPairs(docs, "doc_id", "text", bands = 4,
          maxHamming = 3), "id_a", "id_b")
        .select(col("doc_id"), col("component").as("le"))
      val I = DecimalType(38, 0)
      val cont = capped.join(exact, "doc_id")
        .groupBy("lc", "le").agg(count(lit(1)).as("n"))
        .localCheckpoint() // feeds the joint sum and both marginals
      val pj = cont.agg(sum(expr("n * (n - 1) div 2")).as("sij"))
      val pa = cont.groupBy("lc").agg(sum("n").as("a"))
        .agg(sum(expr("a * (a - 1) div 2")).as("sa"),
          count(lit(1)).as("k_capped"))
      val pb = cont.groupBy("le").agg(sum("n").as("b"))
        .agg(sum(expr("b * (b - 1) div 2")).as("sb"),
          count(lit(1)).as("k_exact"))
      val nn = docs.agg(count(lit(1)).as("n_docs"))
      val c2 = (col("n_docs").cast(I) * (col("n_docs").cast(I) - 1))
        .cast(I) / 2
      val f = nn.crossJoin(broadcast(pj)).crossJoin(broadcast(pa))
        .crossJoin(broadcast(pb))
        .withColumn("c2d", c2.cast(I))
        .withColumn("num", (lit(2) * col("c2d") * col("sij").cast(I) -
          lit(2) * col("sa").cast(I) * col("sb").cast(I)).cast(I))
        .withColumn("den", (col("c2d") * (col("sa").cast(I) +
          col("sb").cast(I)) -
          lit(2) * col("sa").cast(I) * col("sb").cast(I)).cast(I))
      f.select(col("n_docs"), col("k_capped"), col("k_exact"),
        col("sij").cast("long").as("pairs_joint"),
        col("sa").cast("long").as("pairs_capped"),
        col("sb").cast("long").as("pairs_exact"),
        when(col("den") === 0, lit(1.0)).otherwise(
          when(col("num") >= 0,
            ExactRound.roundRatio(col("num"), col("den"), 6))
            .otherwise(-ExactRound.roundRatio(-col("num"), col("den"), 6))
            .cast("double")).as("ari"))
    },

    // ---- L206 split-conformal novelty gate (Vovk et al. 2005;
    // Angelopoulos & Bates 2021): a DISTRIBUTION-FREE atypicality
    // threshold for continuous ingest — nonconformity s = 1 − cos(v,
    // corpus centroid), threshold = the ⌈(n_cal+1)(1−α)⌉-th smallest
    // calibration score, guaranteeing P(s ≤ q̂) ≥ 1−α on exchangeable
    // data with NO model assumptions (what a drift tripwire should be;
    // q85's z-score outliers assume a scale, this does not). Scale
    // shape: centroid = one (dim)-keyed aggregate; the rank window
    // runs ONLY over the calibration sample (bounded by design — a
    // conformal calibration set is O(10⁴) however big the corpus);
    // test scoring is a scan against the broadcast threshold.
    // Exactness: centroid means via the q143 integer recipe
    // (roundRatioSigned → DECIMAL(12,6)), dot/norm sums as exact
    // DECIMALs, the score one identical-operand double chain, the rank
    // integer, coverage via roundRatio; the threshold double is
    // presented round(6) (q26/q144 recipe).
    Q(
      "q225_conformal_novelty",
      s"""WITH cent AS MATERIALIZED (
         |  SELECT i,
         |    CAST(CAST(CASE WHEN s10 < 0
         |          THEN -((2 * (-s10) + d) // (2 * d))
         |          ELSE (2 * s10 + d) // (2 * d) END AS DECIMAL(12,0))
         |      * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(12,6)) AS m
         |  FROM (
         |    SELECT i,
         |      CAST(sum(CAST(CAST(CAST(embedding[i] AS DOUBLE)
         |          AS DECIMAL(27,10))
         |        * CAST(10000000000 AS DECIMAL(11,0)) AS HUGEINT))
         |        AS HUGEINT) AS s10,
         |      CAST(count(*) AS HUGEINT) * 10000 AS d
         |    FROM embeddings, range(1, 65) t(i) GROUP BY i)),
         |cn AS (SELECT sqrt(CAST(sum(CAST(m * m AS DECIMAL(27,12)))
         |  AS DOUBLE)) AS cn FROM cent),
         |ex AS (
         |  SELECT vec_id, i,
         |    CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(14,10)) AS v
         |  FROM embeddings, range(1, 65) t(i)),
         |sc AS MATERIALIZED (
         |  SELECT ex.vec_id,
         |    CAST(sum(CAST(ex.v * c.m AS DECIMAL(26,16))) AS DOUBLE) AS dot,
         |    CAST(sum(CAST(ex.v * ex.v AS DECIMAL(28,20))) AS DOUBLE) AS vn2
         |  FROM ex JOIN cent c USING (i) GROUP BY 1),
         |s AS MATERIALIZED (
         |  SELECT vec_id, 1.0 - dot / (sqrt(vn2) * cn) AS s FROM sc, cn),
         |cal AS (SELECT vec_id, s FROM s WHERE vec_id % 5 = 1),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
         |  CAST(least(((count(*) + 1) * 9 + 9) // 10, count(*)) AS BIGINT)
         |    AS k_rank FROM cal),
         |thr AS (SELECT n_cal, k_rank, x.s AS thr FROM (
         |  SELECT vec_id, s, row_number() OVER (ORDER BY s, vec_id) AS rk
         |  FROM cal) x, nc WHERE x.rk = nc.k_rank),
         |tst AS (SELECT s FROM s WHERE vec_id % 5 = 0)
         |SELECT n_cal, k_rank, round(thr, 6) AS threshold,
         |  CAST(count(*) AS BIGINT) AS n_test,
         |  CAST(sum(CASE WHEN s <= thr THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_covered,
         |  CAST((2 * sum(CASE WHEN s <= thr THEN 1 ELSE 0 END) * 1000000
         |      + count(*)) // (2 * count(*)) AS DOUBLE) / 1000000
         |    AS coverage
         |FROM tst, thr GROUP BY 1, 2, 3""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(spark, dir)
      val V = DecimalType(14, 10)
      val ex = e.select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").as("i"),
          col("col").cast("double").cast(V).as("v"))
      val cent = ex.groupBy("i")
        .agg(ExactRound.roundRatioSigned(
            sum(col("v").cast(DecimalType(27, 10))), 10, count(lit(1)), 6)
          .cast(DecimalType(12, 6)).as("m"))
      val cn = cent.agg(
        sqrt(sum((col("m") * col("m")).cast(DecimalType(27, 12)))
          .cast("double")).as("cn"))
      val sc = ex.join(broadcast(cent), "i")
        .groupBy("vec_id")
        .agg(
          sum((col("v") * col("m")).cast(DecimalType(26, 16)))
            .cast("double").as("dot"),
          sum((col("v") * col("v")).cast(DecimalType(28, 20)))
            .cast("double").as("vn2"))
        .crossJoin(broadcast(cn))
        .select(col("vec_id"),
          (lit(1.0) - col("dot") / (sqrt(col("vn2")) * col("cn"))).as("s"))
        .localCheckpoint() // calibration rank + test coverage both read it
      val cal = sc.filter(col("vec_id") % 5 === 1)
      val nc = cal.agg(count(lit(1)).as("n_cal"))
        .withColumn("k_rank",
          least(expr("((n_cal + 1) * 9 + 9) div 10"), col("n_cal")))
      // rank window over the CALIBRATION SAMPLE only (bounded by design)
      val ranked = cal.withColumn("rk",
        row_number().over(Window.orderBy(col("s"), col("vec_id"))))
      val thr = ranked.join(broadcast(nc), col("rk") === col("k_rank"))
        .select(col("n_cal"), col("k_rank"), col("s").as("thr"))
      sc.filter(col("vec_id") % 5 === 0)
        .crossJoin(broadcast(thr))
        .agg(first(col("n_cal")).as("n_cal"),
          first(col("k_rank")).as("k_rank"),
          round(first(col("thr")), 6).as("threshold"),
          count(lit(1)).as("n_test"),
          sum(when(col("s") <= col("thr"), 1L).otherwise(0L))
            .as("n_covered"))
        .withColumn("coverage",
          ExactRound.roundRatio(col("n_covered"), col("n_test"), 6)
            .cast("double"))
    },

    // ---- L207 STREAMING index fold: q223's continuous-ingest loop
    // folded batch by batch through Streams.foldOnce — each embedding
    // micro-batch encodes against the BROADCAST standing codebook (a pure
    // projection; the codebook is k·d doubles, the only state the
    // encode step ever needs) and appends its codes to the versioned
    // index table exactly-once. The query
    // returns the FOLDED CODE TABLE itself and the oracle computes the
    // ONE-SHOT assignment of the whole corpus — so the fold identity
    // fold(encode(b₁), encode(b₂), …) == encode(corpus) is pinned
    // row-for-row across engines, not through a downstream search.
    // Per-batch cost is |batch|·k dots + one |standing|+|batch| append;
    // the corpus is never re-scanned.
    Q(
      "q226_stream_index_fold",
      s"""WITH ${kmChain("h", " WHERE vec_id % 3 <> 0")},
         |av AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
         |  FROM embeddings),
         |avn AS (SELECT vec_id, dv, ${dot64Sql("dv", "dv")} AS vn2 FROM av),
         |ccs AS (SELECT cluster AS cid, cv,
         |  sqrt(${dot64Sql("cv", "cv")}) AS cn FROM hc2),
         |${cellSql("code", "avn", "ccs", "", 1)}
         |SELECT vec_id, cid FROM code""".stripMargin) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val hist = e.filter(col("vec_id") % 3 =!= 0)
      val (_, stale) = Similarity.kmeansLloyd(hist, "vec_id", "embedding",
        k = 4, iters = 2)
      val root = graft.Tmp.dir("graft-q226").toString
      val idxPath = s"$root/codes"
      // The fold is per-row encode + union (no per-batch output), so
      // the final index is independent of batch MEMBERSHIP — the
      // residue split vec_id ≡ 0 / ≡ 3 (mod 6) over the feed.
      val feedDf = e.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id"), col("embedding"))
      // Segment-append fold (round 21): code rows are append-only (each
      // vec_id arrives once) — commit the batch's encode only, instead
      // of re-writing the full code table every micro-batch.
      val Seq(codes) = graft.streaming.Streams.foldOnce(Seq(
          feedDf.filter(col("vec_id") % 6 === 0),
          feedDf.filter(col("vec_id") % 6 === 3)),
          Seq(graft.streaming.Streams.Segments(idxPath,
            Similarity.ivfEncode(hist, "vec_id", "embedding", stale)))) {
        (batch, _, _) => Seq(Similarity.ivfEncode(
          batch.toDF("vec_id", "embedding"), "vec_id", "embedding", stale))
      }
      codes.select(col("vec_id"), col("cid"))
    },

    // ---- L208 per-dimension embedding variance / anisotropy audit:
    // the embedding-health scorecard q85 (outliers) and q143 (drift)
    // don't cover — which DIMENSIONS carry the corpus' variance. A
    // collapsed dimension (≈0 variance) wastes index width; a few
    // dominant dimensions (high var_share) make cosine behave like a
    // 1-D sort and say the space needs whitening before ANN. Input is
    // quantized to 5 dp (the operator's declared contract — tie-free
    // for float32, same argument as kmeansLloyd's 12-dp cast), then
    // EVERYTHING is integer: per-dim moments as exact HUGEINT/DECIMAL
    // sums, variance numerator n·Σu² − (Σu)², the 6-dp variance and
    // share via the half-away integer divide, rank over the 64-row
    // frame. ONE (dim)-keyed aggregate over the corpus — linear, no
    // vector ever collected.
    Q(
      "q227_embedding_variance",
      """WITH u AS (
        |  SELECT i,
        |    CAST(CAST(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(9,5))
        |      * 100000 AS HUGEINT) AS HUGEINT) AS uv
        |  FROM embeddings, range(1, 65) t(i)),
        |m AS MATERIALIZED (
        |  SELECT i, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(uv) AS HUGEINT) AS s1,
        |    CAST(sum(uv * uv) AS HUGEINT) AS s2
        |  FROM u GROUP BY i),
        |d AS MATERIALIZED (
        |  SELECT i, n, n * s2 - s1 * s1 AS d10 FROM m),
        |t AS (SELECT CAST(sum(d10) AS HUGEINT) AS td FROM d)
        |SELECT CAST(i AS BIGINT) AS i, CAST(n AS BIGINT) AS n,
        |  CAST((2 * d10 * 1000000 + n * n * 10000000000)
        |    // (2 * n * n * 10000000000) AS DOUBLE) / 1000000 AS variance,
        |  CAST((2 * d10 * 1000000 + td) // (2 * td) AS DOUBLE) / 1000000
        |    AS var_share,
        |  CAST(row_number() OVER (ORDER BY d10 DESC, i) AS BIGINT)
        |    AS var_rank
        |FROM d, t""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(spark, dir)
      val I = DecimalType(38, 0)
      // exact unscaled integer of a scale-10 decimal (the ExactRound
      // internal layout: (26,10) × 10^10 fits (38,10), cast exact)
      def unscale10(c: org.apache.spark.sql.Column) =
        (c.cast(DecimalType(26, 10)) *
          lit(java.math.BigDecimal.TEN.pow(10)).cast(DecimalType(11, 0)))
          .cast(I)
      val ex = e.select(posexplode(col("embedding")))
        .select((col("pos") + 1).cast("long").as("i"),
          col("col").cast("double").cast(DecimalType(9, 5)).as("v"))
      val m = ex.groupBy("i").agg(
        count(lit(1)).as("n"),
        sum(col("v").cast(DecimalType(27, 5))).as("s1"),
        sum((col("v") * col("v")).cast(DecimalType(27, 10))).as("s2"))
      val dNum = col("s2").cast(DecimalType(20, 10)) *
        col("n").cast(DecimalType(10, 0)) -
        col("s1").cast(DecimalType(14, 5)) * col("s1").cast(DecimalType(14, 5))
      val dd = m.withColumn("d10u", unscale10(dNum))
      val td = dd.agg(sum(col("d10u")).as("td"))
      dd.crossJoin(broadcast(td)).select(
        col("i"), col("n"),
        ExactRound.roundRatio(col("d10u"),
          col("n").cast(I) * col("n").cast(I) *
            lit(java.math.BigDecimal.TEN.pow(10)).cast(I), 6)
          .cast("double").as("variance"),
        ExactRound.roundRatio(col("d10u"), col("td"), 6)
          .cast("double").as("var_share"),
        // unpartitioned window over the |dims|-row variance grid only
        row_number().over(Window.orderBy(col("d10u").desc, col("i")))
          .cast("long").as("var_rank"))
    },

    // ---- L209 CUPED variance-reduced experiment readout (Deng et al.
    // 2013): the q221 z-test's power upgrade — adjust each user's
    // metric Y by a pre-determined covariate X (here the view count;
    // in production the PRE-period metric — the algebra is identical
    // for any treatment-independent X), Ŷ = Y − θ(X − X̄) with
    // θ = cov(X,Y)/var(X), cutting metric variance by ρ² without
    // touching the mean. EVERYTHING is integer/decimal-exact: the five
    // pooled moments are integer sums, θ rounds once at 9 dp in
    // integer space (signed half-away), each variant's adjusted mean
    // is one cross-multiplied signed divide at 6 dp, and the variance
    // reduction ρ² is a pure integer ratio. One per-user aggregate,
    // one 2-row reduction — at any corpus size the adjustment runs on
    // a dozen integers.
    Q(
      "q228_cuped_ab",
      """WITH u AS (
        |  SELECT user_id, user_id % 2 AS variant,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS y,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS x
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM u),
        |th AS (
        |  SELECT n, sx, sy,
        |    n * sxy - sx * sy AS covn,
        |    n * sxx - sx * sx AS varxn,
        |    n * syy - sy * sy AS varyn,
        |    CASE WHEN n * sxx - sx * sx = 0 THEN 0
        |      WHEN n * sxy - sx * sy >= 0
        |      THEN (2 * (n * sxy - sx * sy) * 1000000000 + (n * sxx - sx * sx))
        |        // (2 * (n * sxx - sx * sx))
        |      ELSE -((2 * (sx * sy - n * sxy) * 1000000000
        |          + (n * sxx - sx * sx))
        |        // (2 * (n * sxx - sx * sx))) END AS q9
        |  FROM g),
        |v AS (
        |  SELECT variant, CAST(count(*) AS HUGEINT) AS nv,
        |    sum(y) AS syv, sum(x) AS sxv
        |  FROM u GROUP BY 1)
        |SELECT CAST(variant AS BIGINT) AS variant,
        |  CAST(nv AS BIGINT) AS n_users,
        |  CAST(syv AS BIGINT) AS sum_y,
        |  CAST((2 * syv * 1000000 + nv) // (2 * nv) AS DOUBLE) / 1000000
        |    AS mean_y,
        |  CAST(CASE WHEN n * syv * 1000000000 - q9 * (n * sxv - nv * sx) >= 0
        |    THEN (2 * (n * syv * 1000000000 - q9 * (n * sxv - nv * sx))
        |        + nv * n * 1000) // (2 * nv * n * 1000)
        |    ELSE -((2 * (q9 * (n * sxv - nv * sx) - n * syv * 1000000000)
        |        + nv * n * 1000) // (2 * nv * n * 1000)) END
        |    AS DOUBLE) / 1000000 AS mean_y_adj,
        |  CAST(q9 AS DOUBLE) / 1000000000 AS theta,
        |  CASE WHEN varxn * varyn = 0 THEN 0.0
        |    ELSE CAST((2 * covn * covn * 1000000 + varxn * varyn)
        |      // (2 * varxn * varyn) AS DOUBLE) / 1000000 END
        |    AS var_reduction
        |FROM v, th""".stripMargin) { (spark, dir) =>
      val I = DecimalType(38, 0)
      val u = Tables.events(spark, dir)
        .groupBy(col("user_id"), (col("user_id") % 2).as("variant"))
        .agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x"))
        .localCheckpoint() // pooled moments + per-variant sums
      val g = u.agg(
        count(lit(1)).cast(I).as("n"),
        sum(col("x")).cast(I).as("sx"), sum(col("y")).cast(I).as("sy"),
        sum((col("x") * col("y")).cast(I)).as("sxy"),
        sum((col("x") * col("x")).cast(I)).as("sxx"),
        sum((col("y") * col("y")).cast(I)).as("syy"))
      val th = g.select(col("n"), col("sx"), col("sy"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("covn"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("varxn"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("varyn"))
        .withColumn("theta9",
          when(col("varxn") === 0, lit(0).cast(DecimalType(38, 9)))
            .otherwise(when(col("covn") >= 0,
              ExactRound.roundRatio(col("covn"), col("varxn"), 9))
              .otherwise(-ExactRound.roundRatio(-col("covn"), col("varxn"), 9))
              .cast(DecimalType(38, 9))))
      val v = u.groupBy("variant").agg(
        count(lit(1)).cast(I).as("nv"),
        sum(col("y")).cast(I).as("syv"), sum(col("x")).cast(I).as("sxv"))
      // Ŷ_v = [n·ΣY_v − θ·(n·ΣX_v − n_v·ΣX)] / (n_v·n); θ at (20,9) ×
      // the (17,0) integer factor stays inside precision 38 — exact
      val adjNum = col("n") * col("syv") -
        (col("theta9").cast(DecimalType(20, 9)) *
          (col("n") * col("sxv") - col("nv") * col("sx"))
            .cast(DecimalType(17, 0)))
      v.crossJoin(broadcast(th)).select(
        col("variant").cast("long").as("variant"),
        col("nv").cast("long").as("n_users"),
        col("syv").cast("long").as("sum_y"),
        ExactRound.roundRatio(col("syv"), col("nv"), 6)
          .cast("double").as("mean_y"),
        ExactRound.roundRatioSigned(adjNum, 9, col("nv") * col("n"), 6)
          .cast("double").as("mean_y_adj"),
        col("theta9").cast("double").as("theta"),
        when(col("varxn") * col("varyn") === 0, lit(0.0)).otherwise(
          ExactRound.roundRatio(col("covn") * col("covn"),
            col("varxn") * col("varyn"), 6).cast("double"))
          .as("var_reduction"))
    },

    // ---- L210 experiment sample-size planner: the question every
    // experimentation platform answers BEFORE q221's readout — how many
    // users per variant to detect an absolute lift of d at α = 5%
    // two-sided, power 80%. n = (z_{α∕2}+z_β)²·(p₁(1−p₁)+p₂(1−p₂))∕d²
    // with p₁ measured from the corpus (the standing conversion rate)
    // and p₂ = p₁+d over an MDE grid. The z-constant is MINTED ONCE —
    // (1.959964+0.841621)² at 6 dp = 7.848879 — and spliced into both
    // engines' plans (no engine evaluates Φ⁻¹); everything else works
    // on UNSCALED integers (p's as x∕n rationals cross-multiplied, the
    // ceil one floor-divide), so the planned n cannot flip between
    // engines. One corpus aggregate; the grid math runs on two
    // integers.
    Q(
      "q229_ab_power_planner",
      """WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      > 13 THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(conv) AS HUGEINT) AS x
        |  FROM u),
        |g AS (SELECT CAST(unnest([1, 2, 5, 10]) AS HUGEINT) AS d100),
        |p AS (
        |  SELECT d100, n, x,
        |    x * (n - x) AS a,
        |    x * 100 + d100 * n AS b1,
        |    n * 100 - (x * 100 + d100 * n) AS b2
        |  FROM r, g),
        |q AS (
        |  SELECT d100, n, x, b2,
        |    (a * 10000 + b1 * b2) * 7848879 AS pu,
        |    n * n * d100 * d100 * 1000000 AS qu6
        |  FROM p)
        |SELECT CAST(d100 AS BIGINT) AS mde_pct,
        |  CAST(n AS BIGINT) AS n_baseline,
        |  CAST((2 * x * 1000000 + n) // (2 * n) AS DOUBLE) / 1000000
        |    AS baseline_conv,
        |  b2 > 0 AS feasible,
        |  CAST(CASE WHEN b2 > 0 THEN (pu + qu6 - 1) // qu6 ELSE 0 END
        |    AS BIGINT) AS n_required
        |FROM q""".stripMargin) { (spark, dir) =>
      val spk = spark
      import spk.implicits._
      val I = DecimalType(38, 0)
      val r = Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(when(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)) > 13, 1L).otherwise(0L).as("conv"))
        .agg(count(lit(1)).cast(I).as("n"), sum(col("conv")).cast(I).as("x"))
      val grid = Seq(1L, 2L, 5L, 10L).toDF("d100")
      r.crossJoin(grid)
        .select(col("n"), col("x"), col("d100").cast(I).as("d100"))
        .withColumn("a", col("x") * (col("n") - col("x")))
        .withColumn("b1", col("x") * 100 + col("d100") * col("n"))
        .withColumn("b2", col("n") * 100 - col("b1"))
        .withColumn("pu", (col("a") * 10000 + col("b1") * col("b2")) *
          lit(7848879L).cast(I))
        .withColumn("qu6", col("n") * col("n") * col("d100") * col("d100") *
          lit(1000000L).cast(I))
        .select(
          col("d100").cast("long").as("mde_pct"),
          col("n").cast("long").as("n_baseline"),
          ExactRound.roundRatio(col("x"), col("n"), 6)
            .cast("double").as("baseline_conv"),
          (col("b2") > 0).as("feasible"),
          when(col("b2") > 0,
            expr("CAST((pu + qu6 - 1) div qu6 AS BIGINT)"))
            .otherwise(0L).as("n_required"))
    },

    // ---- L211 MinHash-LSH band-structure planner: q159 calibrates the
    // SIGNATURE length; this picks the (bands, rows) SPLIT of it by
    // weighting the S-curve P(candidate|J) = 1−(1−Jʳ)ᵇ against the
    // corpus' OBSERVED candidate-pair Jaccard histogram — the tuning
    // decision (catch near-dups above τ, don't flood the verifier
    // below it) made on measured data instead of the textbook curve.
    // The 120 S-curve probabilities are minted ONCE in exact BigDecimal
    // arithmetic at 9 dp and spliced into BOTH engines' plans (no
    // engine evaluates pow); the histogram bins by the exact integer
    // rational (inter·20)∕union; expected caught/missed/false-candidate
    // masses are integer count × 9-dp-literal sums rounded in integer
    // space. Candidates come from the shipped banded join WITH the
    // L132 degree cap (round-13 sf10 probe: the uncapped MinHash
    // buckets went 32×/10× at 100× — the same mega-bucket quadratic
    // the SimHash side caps; the histogram is a MEASUREMENT, and the
    // capped sample is the production posture, rank cap replayed in
    // the oracle) — never all-pairs; the planner's own math runs on a
    // 20-row histogram at any corpus size.
    Q(
      "q230_lsh_planner", {
        val configs = Seq((12, 1), (6, 2), (4, 3), (3, 4), (2, 6), (1, 12))
        def p9u(b: Int, rr: Int, bin: Int): Long = {
          val s = BigDecimal(2 * bin + 1) / 40
          val p = BigDecimal(1) - (BigDecimal(1) - s.pow(rr)).pow(b)
          (p.setScale(9, BigDecimal.RoundingMode.HALF_UP) *
            BigDecimal(10).pow(9)).toLongExact
        }
        val values = (for ((b, rr) <- configs; bin <- 0 until 20)
          yield s"($b, $rr, $bin, ${p9u(b, rr, bin)})").mkString(",\n    ")
        val bandedSql = (0 until LlmQueries.bands).map(b =>
          s"SELECT doc_id, $b AS band, array_to_string(sig[${b * LlmQueries.r + 1}:${b * LlmQueries.r + LlmQueries.r}], ',') AS band_key FROM sigs")
          .mkString("\n  UNION ALL ")
        s"""${LlmQueries.hvCte},
           |sigs AS (
           |  SELECT doc_id, hv, ${LlmQueries.sigSql} AS sig FROM hvt),
           |banded AS (
           |  $bandedSql),
           |rankedm AS (
           |  SELECT doc_id, band, band_key,
           |    row_number() OVER (PARTITION BY band, band_key
           |      ORDER BY doc_id) AS rk
           |  FROM banded),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM rankedm a JOIN banded b USING (band, band_key)
           |  WHERE a.rk <= ${Dedup.DefaultDegreeCap} AND a.doc_id < b.doc_id),
           |j AS (
           |  SELECT id_a, id_b,
           |    CAST(len(list_intersect(sa.hv, sb.hv)) AS HUGEINT) AS inter,
           |    CAST(len(sa.hv) + len(sb.hv)
           |      - len(list_intersect(sa.hv, sb.hv)) AS HUGEINT) AS uni
           |  FROM pairs JOIN sigs sa ON sa.doc_id = id_a
           |    JOIN sigs sb ON sb.doc_id = id_b),
           |h AS (
           |  SELECT least((inter * 20) // uni, 19) AS bin,
           |    CAST(count(*) AS HUGEINT) AS cnt
           |  FROM j GROUP BY 1),
           |pv(b, r, bin, p9u) AS (VALUES
           |    $values),
           |e AS (
           |  SELECT pv.b, pv.r,
           |    CAST(sum(CASE WHEN pv.bin >= 10
           |      THEN cnt * p9u ELSE 0 END) AS HUGEINT) AS caught9,
           |    CAST(sum(CASE WHEN pv.bin >= 10
           |      THEN cnt * (1000000000 - p9u) ELSE 0 END) AS HUGEINT)
           |      AS missed9,
           |    CAST(sum(CASE WHEN pv.bin < 10
           |      THEN cnt * p9u ELSE 0 END) AS HUGEINT) AS false9
           |  FROM pv JOIN h USING (bin) GROUP BY 1, 2)
           |SELECT CAST(b AS BIGINT) AS bands,
           |  CAST(r AS BIGINT) AS rows_per_band,
           |  CAST((2 * caught9 * 1000000 + 1000000000) // 2000000000
           |    AS DOUBLE) / 1000000 AS exp_caught,
           |  CAST((2 * missed9 * 1000000 + 1000000000) // 2000000000
           |    AS DOUBLE) / 1000000 AS exp_missed,
           |  CAST((2 * false9 * 1000000 + 1000000000) // 2000000000
           |    AS DOUBLE) / 1000000 AS exp_false,
           |  CAST(row_number() OVER (ORDER BY missed9 + false9, b)
           |    AS BIGINT) AS pick_rank
           |FROM e""".stripMargin
      }) { (spark, dir) =>
      val spk = spark
      import spk.implicits._
      val I = DecimalType(38, 0)
      val configs = Seq((12, 1), (6, 2), (4, 3), (3, 4), (2, 6), (1, 12))
      def p9u(b: Int, rr: Int, bin: Int): Long = {
        val s = BigDecimal(2 * bin + 1) / 40
        val p = BigDecimal(1) - (BigDecimal(1) - s.pow(rr)).pow(b)
        (p.setScale(9, BigDecimal.RoundingMode.HALF_UP) *
          BigDecimal(10).pow(9)).toLongExact
      }
      val pv = (for ((b, rr) <- configs; bin <- 0 until 20)
        yield (b.toLong, rr.toLong, bin.toLong, p9u(b, rr, bin)))
        .toDF("b", "r", "bin", "p9u")
      val sigs = Dedup.withShingleHashes(
        Tables.documents(spark, dir).select("doc_id", "text"), "text", 3)
        .filter(size(col("hv")) > 0)
        .withColumn("sig", Dedup.minhashSignature(col("hv"), LlmQueries.k))
        .select(col("doc_id"), col("hv"), col("sig"))
        .cache()
      val bandCols = (0 until LlmQueries.bands).map(b =>
        concat_ws(",", transform(
          slice(col("sig"), b * LlmQueries.r + 1, LlmQueries.r),
          x => x.cast("string"))))
      val banded = sigs.select(col("doc_id"), posexplode(array(bandCols: _*)))
        .select(col("doc_id"), col("pos").as("band"), col("col").as("band_key"))
      val reps = banded.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("band", "band_key").orderBy(col("doc_id"))))
        .filter(col("rk") <= Dedup.DefaultDegreeCap)
      val cand = reps
        .select(col("band"), col("band_key"), col("doc_id").as("id_a"))
        .join(banded.select(col("band"), col("band_key"),
          col("doc_id").as("id_b")), Seq("band", "band_key"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      val inter = Dedup.intersectSize(col("hv_a"), col("hv_b")).cast("long")
      val h = cand
        .join(sigs.select(col("doc_id").as("id_a"), col("hv").as("hv_a")),
          Seq("id_a"))
        .join(sigs.select(col("doc_id").as("id_b"), col("hv").as("hv_b")),
          Seq("id_b"))
        .withColumn("inter", inter)
        .withColumn("uni",
          size(col("hv_a")).cast("long") + size(col("hv_b")).cast("long")
            - col("inter"))
        .select(least(expr("(inter * 20) div uni"), lit(19L)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).cast(I).as("cnt"))
        .localCheckpoint() // ≤20-row histogram materialized here …
      sigs.unpersist() // … so the corpus-sized signature cache is
      // released before the grid math (the Dedup.simhashPairsCapped
      // pattern — without it a full bench run leaks storage memory)
      val e = h.join(broadcast(pv), "bin")
        .groupBy("b", "r")
        .agg(
          sum(when(col("bin") >= 10, col("cnt") * col("p9u").cast(I))
            .otherwise(lit(0).cast(I))).as("caught9"),
          sum(when(col("bin") >= 10,
            col("cnt") * (lit(1000000000L).cast(I) - col("p9u").cast(I)))
            .otherwise(lit(0).cast(I))).as("missed9"),
          sum(when(col("bin") < 10, col("cnt") * col("p9u").cast(I))
            .otherwise(lit(0).cast(I))).as("false9"))
      val G = lit(1000000000L).cast(I)
      e.select(col("b").as("bands"), col("r").as("rows_per_band"),
        ExactRound.roundRatio(col("caught9"), G, 6)
          .cast("double").as("exp_caught"),
        ExactRound.roundRatio(col("missed9"), G, 6)
          .cast("double").as("exp_missed"),
        ExactRound.roundRatio(col("false9"), G, 6)
          .cast("double").as("exp_false"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy((col("missed9") + col("false9")).asc, col("b")))
          .cast("long").as("pick_rank"))
    },

    // ---- L212 differential-privacy noise planner (Gaussian mechanism,
    // Dwork & Roth 2014): before releasing the per-event-type count
    // vector, measure the release's L2 SENSITIVITY from the data — one
    // user's worst-case contribution Δ₂² = max over users of Σ_cell
    // n²_{user,cell} (pure integers; the quantity DP proofs bound but
    // pipelines rarely measure) — and price the (ε, δ=1e-6) grid:
    // σ = K(ε,δ)·Δ₂ with K = √(2·ln(1.25∕δ))∕ε MINTED once at 9 dp
    // per ε (no engine evaluates ln), and the utility readout
    // SNR = mean-cell-count ∕ σ. Joins q90/q95/q209 in the governance
    // family: the answer to "what does ε cost US" on this corpus. One
    // (user, cell) aggregate + a max — linear, grid math on integers.
    Q(
      "q231_dp_noise_planner", {
        val epsGrid = Seq(50, 100, 200, 400) // ε·100
        def k9(e100: Int): Long = {
          val k = math.sqrt(2.0 * math.log(1.25 / 1e-6)) / (e100 / 100.0)
          BigDecimal(k).setScale(9, BigDecimal.RoundingMode.HALF_UP)
            .*(BigDecimal(10).pow(9)).toLongExact
        }
        val values = epsGrid.map(e => s"($e, ${k9(e)})").mkString(", ")
        s"""WITH uc AS (
           |  SELECT user_id, event_type, CAST(count(*) AS HUGEINT) AS c
           |  FROM events GROUP BY 1, 2),
           |sens AS (
           |  SELECT CAST(max(s2) AS BIGINT) AS delta2_sq FROM (
           |    SELECT user_id, sum(c * c) AS s2 FROM uc GROUP BY 1)),
           |cells AS (
           |  SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_cells,
           |    CAST(count(*) AS BIGINT) AS n_events FROM events),
           |kg(eps100, k9) AS (VALUES $values)
           |SELECT CAST(eps100 AS BIGINT) AS eps100, delta2_sq, n_cells,
           |  round(CAST(k9 AS DOUBLE) / 1000000000
           |    * sqrt(CAST(delta2_sq AS DOUBLE)), 6) AS sigma,
           |  round((CAST(n_events AS DOUBLE) / n_cells)
           |    / (CAST(k9 AS DOUBLE) / 1000000000
           |      * sqrt(CAST(delta2_sq AS DOUBLE))), 6) AS snr
           |FROM kg, sens, cells""".stripMargin
      }) { (spark, dir) =>
      val spk = spark
      import spk.implicits._
      val epsGrid = Seq(50, 100, 200, 400)
      def k9(e100: Int): Long = {
        val k = math.sqrt(2.0 * math.log(1.25 / 1e-6)) / (e100 / 100.0)
        BigDecimal(k).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .*(BigDecimal(10).pow(9)).toLongExact
      }
      val kg = epsGrid.map(e => (e.toLong, k9(e))).toDF("eps100", "k9")
      val ev = Tables.events(spark, dir)
      val sens = ev.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("c"))
        .groupBy("user_id").agg(sum(col("c") * col("c")).as("s2"))
        .agg(max("s2").as("delta2_sq"))
      val cells = ev.agg(
        countDistinct(col("event_type")).as("n_cells"),
        count(lit(1)).as("n_events"))
      val sigma = col("k9").cast("double") / 1000000000d *
        sqrt(col("delta2_sq").cast("double"))
      kg.crossJoin(broadcast(sens)).crossJoin(broadcast(cells))
        .select(col("eps100"), col("delta2_sq"), col("n_cells"),
          round(sigma, 6).as("sigma"),
          round((col("n_events").cast("double") / col("n_cells")) / sigma, 6)
            .as("snr"))
    },

    // ---- L213 STREAMING conformal monitor: q225's gate deployed — the
    // centroid and threshold are fitted on PRE-STREAM data only (the
    // honest deployment shape; q225's batch audit may use the full
    // corpus, a monitor must not peek), then each arriving micro-batch
    // scores itself against the BROADCAST (centroid, threshold) state
    // — k·d decimals, no standing corpus ever re-read — and commits
    // its (n, flagged, coverage, breach) row exactly-once. A breach
    // (coverage < 85% against the 90% design) is the drift tripwire
    // that triggers q143/q223's retrain path. Per-batch cost is one
    // scan of the batch; the oracle replays threshold fit and both
    // batch verdicts bit-for-bit (batch boundary = the first ⌊n∕2⌋
    // test rows by vec_id, replayed by rank).
    Q(
      "q232_stream_conformal",
      s"""WITH cent AS MATERIALIZED (
         |  SELECT i,
         |    CAST(CAST(CASE WHEN s10 < 0
         |          THEN -((2 * (-s10) + d) // (2 * d))
         |          ELSE (2 * s10 + d) // (2 * d) END AS DECIMAL(12,0))
         |      * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(12,6)) AS m
         |  FROM (
         |    SELECT i,
         |      CAST(sum(CAST(CAST(CAST(embedding[i] AS DOUBLE)
         |          AS DECIMAL(27,10))
         |        * CAST(10000000000 AS DECIMAL(11,0)) AS HUGEINT))
         |        AS HUGEINT) AS s10,
         |      CAST(count(*) AS HUGEINT) * 10000 AS d
         |    FROM embeddings, range(1, 65) t(i)
         |    WHERE vec_id % 5 <> 0 GROUP BY i)),
         |cn AS (SELECT sqrt(CAST(sum(CAST(m * m AS DECIMAL(27,12)))
         |  AS DOUBLE)) AS cn FROM cent),
         |ex AS (
         |  SELECT vec_id, i,
         |    CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(14,10)) AS v
         |  FROM embeddings, range(1, 65) t(i)
         |  WHERE vec_id % 5 = 0 OR vec_id % 5 = 1),
         |sc AS (
         |  SELECT ex.vec_id,
         |    CAST(sum(CAST(ex.v * c.m AS DECIMAL(26,16))) AS DOUBLE) AS dot,
         |    CAST(sum(CAST(ex.v * ex.v AS DECIMAL(28,20))) AS DOUBLE) AS vn2
         |  FROM ex JOIN cent c USING (i) GROUP BY 1),
         |s AS MATERIALIZED (
         |  SELECT vec_id, 1.0 - dot / (sqrt(vn2) * cn) AS s FROM sc, cn),
         |cal AS (SELECT vec_id, s FROM s WHERE vec_id % 5 = 1),
         |nc AS (SELECT
         |  CAST(least(((count(*) + 1) * 9 + 9) // 10, count(*)) AS BIGINT)
         |    AS k_rank FROM cal),
         |thr AS (SELECT x.s AS thr FROM (
         |  SELECT vec_id, s, row_number() OVER (ORDER BY s, vec_id) AS rk
         |  FROM cal) x, nc WHERE x.rk = nc.k_rank),
         |tb AS (
         |  SELECT vec_id, s, row_number() OVER (ORDER BY vec_id) AS rn,
         |    count(*) OVER () AS nt
         |  FROM s WHERE vec_id % 5 = 0),
         |bt AS (
         |  SELECT CASE WHEN rn <= nt // 2 THEN 0 ELSE 1 END AS batch, s
         |  FROM tb)
         |SELECT CAST(batch AS BIGINT) AS batch,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN s > thr THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged,
         |  CAST((2 * sum(CASE WHEN s <= thr THEN 1 ELSE 0 END) * 1000000
         |      + count(*)) // (2 * count(*)) AS DOUBLE) / 1000000
         |    AS coverage,
         |  sum(CASE WHEN s <= thr THEN 1 ELSE 0 END) * 100 < 85 * count(*)
         |    AS breach
         |FROM bt, thr GROUP BY 1""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(spark, dir)
      val V = DecimalType(14, 10)
      def exploded(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"), posexplode(col("embedding")))
          .select(col("vec_id"), col("pos").as("i"),
            col("col").cast("double").cast(V).as("v"))
      // pre-stream state: centroid + norm from NON-test rows only
      val cent = exploded(e.filter(col("vec_id") % 5 =!= 0)).groupBy("i")
        .agg(ExactRound.roundRatioSigned(
            sum(col("v").cast(DecimalType(27, 10))), 10, count(lit(1)), 6)
          .cast(DecimalType(12, 6)).as("m"))
        .localCheckpoint() // broadcast state for every batch
      val cn = cent.agg(
        sqrt(sum((col("m") * col("m")).cast(DecimalType(27, 12)))
          .cast("double")).as("cn"))
      def scores(df: org.apache.spark.sql.DataFrame) =
        exploded(df).join(broadcast(cent), "i")
          .groupBy("vec_id")
          .agg(
            sum((col("v") * col("m")).cast(DecimalType(26, 16)))
              .cast("double").as("dot"),
            sum((col("v") * col("v")).cast(DecimalType(28, 20)))
              .cast("double").as("vn2"))
          .crossJoin(broadcast(cn))
          .select(col("vec_id"),
            (lit(1.0) - col("dot") / (sqrt(col("vn2")) * col("cn"))).as("s"))
      val cal = scores(e.filter(col("vec_id") % 5 === 1)).localCheckpoint()
      val nc = cal.agg(count(lit(1)).as("n_cal"))
        .withColumn("k_rank",
          least(expr("((n_cal + 1) * 9 + 9) div 10"), col("n_cal")))
      val thr = cal
        // rank window over the CALIBRATION SAMPLE only (production
        // calibrates on a fixed-size sample, not a corpus-rate slice)
        .withColumn("rk",
          row_number().over(Window.orderBy(col("s"), col("vec_id"))))
        .join(broadcast(nc), col("rk") === col("k_rank"))
        .select(col("s").as("thr"))
        .localCheckpoint()
      // test rows fold in two vec_id-ordered micro-batches
      val root = graft.Tmp.dir("graft-q232").toString
      val resPath = s"$root/res"
      // The oracle pins batch membership to the sorted-half split
      // (rn ≤ n div 2 over vec_id), reproduced here via the exact
      // ⌊n∕2⌋-th-smallest vec_id cutoff — the cutoff probe is
      // harness-side batch STAGING (a top-k scan + one scalar to the
      // driver), not part of the monitored fold; a real connector
      // defines its own batch boundaries.
      val feedDf = e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("embedding"))
      // vec_id is the embeddings PK — distinctness (which the value-
      // cutoff ⇔ rank-split equivalence needs) is asserted inside
      val cutoff = graft.streaming.Streams.halfCutoffByKey(feedDf, "vec_id")
      // segment-append fold (round 21): one result row per batch is
      // append-only — commit the delta only
      import spark.implicits._
      val Seq(res) = graft.streaming.Streams.foldOnce(Seq(
          feedDf.filter(col("vec_id") <= cutoff),
          feedDf.filter(col("vec_id") > cutoff)),
          Seq(graft.streaming.Streams.Segments(resPath,
            Seq.empty[(Long, Long, Long, Double, Boolean)]
              .toDF("batch", "n", "n_flagged", "coverage", "breach")))) {
        (batch, bid, _) => Seq(scores(batch.toDF("vec_id", "embedding"))
          .crossJoin(broadcast(thr))
          .agg(count(lit(1)).as("n"),
            sum(when(col("s") > col("thr"), 1L).otherwise(0L))
              .as("n_flagged"),
            sum(when(col("s") <= col("thr"), 1L).otherwise(0L))
              .as("n_cov"))
          .select(lit(bid).as("batch"), col("n"), col("n_flagged"),
            ExactRound.roundRatio(col("n_cov"), col("n"), 6)
              .cast("double").as("coverage"),
            (col("n_cov") * 100 < col("n") * 85).as("breach")))
      }
      res
    },

    // ---- L214 head-vocabulary rank stability (Rank-Biased Overlap,
    // Webber et al. 2010): how much a re-crawl/re-filter shifts the
    // TOP of the term-frequency ranking — q127 sees count drift, q207
    // sees the curve's slope, neither sees ORDER churn in the head
    // vocabulary (the signal a tokenizer/stopword pipeline change
    // trips). Truncated RBO at depth 50, p = 0.9: the 50 geometric
    // weights (1−p)p^{d−1} are exact BigDecimal powers minted ONCE at
    // 12 dp into both plans; agreement-at-depth comes from the rank
    // identity inter_d = |{t : max(rk₁,rk₂) ≤ d}| (a 50-row running
    // sum, no per-depth set intersection); each depth's contribution
    // rounds once at 9 dp in integer space and the final RBO is their
    // exact decimal sum. Rankings are top-50 windows with Spark's rank
    // pushdown; everything downstream is ≤50 rows at any corpus size.
    Q(
      "q233_rank_stability", {
        val D = 50
        def w12u(d: Int): Long =
          (BigDecimal("0.1") * BigDecimal("0.9").pow(d - 1))
            .setScale(12, BigDecimal.RoundingMode.HALF_UP)
            .*(BigDecimal(10).pow(12)).toLongExact
        val values = (1 to D).map(d => s"($d, ${w12u(d)})").mkString(", ")
        def rankSql(name: String, filt: String) =
          s"""$name AS (
             |  SELECT term, rk FROM (
             |    SELECT term,
             |      row_number() OVER (ORDER BY count(*) DESC, term) AS rk
             |    FROM (SELECT unnest(${LlmQueries.toksSql}) AS term
             |      FROM documents WHERE $filt) GROUP BY term) x
             |  WHERE rk <= $D)""".stripMargin
        s"""WITH ${rankSql("r1", "doc_id % 10 <> 0")},
           |${rankSql("r2", "doc_id % 7 <> 0")},
           |md AS (
           |  SELECT greatest(a.rk, b.rk) AS m, CAST(count(*) AS HUGEINT) AS c
           |  FROM r1 a JOIN r2 b USING (term) GROUP BY 1),
           |w(d, w12u) AS (VALUES $values),
           |idd AS (
           |  SELECT d, w12u,
           |    CAST(coalesce((SELECT sum(c) FROM md WHERE md.m <= w.d), 0)
           |      AS HUGEINT) AS inter
           |  FROM w),
           |c AS (
           |  SELECT d, inter,
           |    (2 * w12u * inter * 1000000000 + d * 1000000000000)
           |      // (2 * d * 1000000000000) AS contrib9u
           |  FROM idd)
           |SELECT
           |  (SELECT CAST(inter AS BIGINT) FROM idd WHERE d = 50)
           |    AS n_overlap_top50,
           |  (SELECT CAST((2 * inter * 1000000 + 10) // 20 AS DOUBLE)
           |    / 1000000 FROM idd WHERE d = 10) AS agreement_at_10,
           |  (SELECT CAST((2 * inter * 1000000 + 50) // 100 AS DOUBLE)
           |    / 1000000 FROM idd WHERE d = 50) AS agreement_at_50,
           |  CAST(sum(contrib9u) AS DOUBLE) / 1000000000 AS rbo
           |FROM c""".stripMargin
      }) { (spark, dir) =>
      import graft.ops.Text
      import org.apache.spark.sql.expressions.Window
      val spk = spark
      import spk.implicits._
      val I = DecimalType(38, 0)
      val D = 50
      def w12u(d: Int): Long =
        (BigDecimal("0.1") * BigDecimal("0.9").pow(d - 1))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
          .*(BigDecimal(10).pow(12)).toLongExact
      val wdf = (1 to D).map(d => (d.toLong, w12u(d))).toDF("d", "w12u")
      val docs = Tables.documents(spark, dir)
      // top-D cut via TakeOrderedAndProject first; the rank window then
      // runs on the bounded D-row frame only (the term-count table is
      // vocabulary-sized — at web-corpus vocabulary a global row_number
      // would pull tens of millions of rows through one task)
      def ranking(filt: org.apache.spark.sql.Column, rkCol: String) =
        docs.filter(filt)
          .select(explode(Text.tokens(col("text"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term")).limit(D)
          .withColumn(rkCol, row_number().over(
            Window.orderBy(col("cnt").desc, col("term"))))
          .select("term", rkCol)
      val md = ranking(col("doc_id") % 10 =!= 0, "rk1")
        .join(ranking(col("doc_id") % 7 =!= 0, "rk2"), "term")
        .select(greatest(col("rk1"), col("rk2")).as("m"))
        .groupBy("m").agg(count(lit(1)).as("c"))
      val interd = wdf.join(broadcast(md), col("m") <= col("d"), "left")
        .groupBy("d", "w12u").agg(coalesce(sum("c"), lit(0L)).as("inter"))
        .localCheckpoint() // 50 rows; rbo sum + the two depth probes
      val rbo = interd.agg(sum(ExactRound.roundRatio(
          col("w12u").cast(I) * col("inter").cast(I),
          col("d").cast(I) * lit(1000000000000L).cast(I), 9)).as("rbo9"))
        .select(col("rbo9").cast("double").as("rbo"))
      val a10 = interd.filter(col("d") === 10)
        .select(ExactRound.roundRatio(col("inter"), lit(10L), 6)
          .cast("double").as("agreement_at_10"))
      val a50 = interd.filter(col("d") === 50)
        .select(col("inter").cast("long").as("n_overlap_top50"),
          ExactRound.roundRatio(col("inter"), lit(50L), 6)
            .cast("double").as("agreement_at_50"))
      a50.crossJoin(broadcast(a10)).crossJoin(broadcast(rbo))
    },

    // ---- L215 chunk-size waste curve: the context-window planning
    // companion to q84 (packing) and q92 (chunking) — those EXECUTE a
    // chosen chunk size, this prices the CHOICE: for each candidate
    // size, how many padded-out tokens the corpus wastes when every
    // document is cut into ceil(tok∕c) chunks of capacity c
    // (fine-tuning-style one-doc-per-chunk; cross-doc packing is q84's
    // upgrade, and the delta between this curve and q84's utilization
    // is the measured value of packing). Pure integer arithmetic end
    // to end — ceil by (tok+c−1) div c on both engines, utilization as
    // one integer-space ratio; one corpus scan feeds the whole grid.
    Q(
      "q234_chunk_waste_curve",
      """WITH t AS (
        |  SELECT CAST(ceil(n_chars / 4.0) AS BIGINT) AS tok FROM documents),
        |g AS (SELECT CAST(unnest([128, 256, 512, 1024, 2048]) AS BIGINT)
        |  AS chunk_size),
        |a AS (
        |  SELECT chunk_size,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(tok) AS BIGINT) AS total_tokens,
        |    CAST(sum((tok + chunk_size - 1) // chunk_size) AS BIGINT)
        |      AS n_chunks
        |  FROM t, g GROUP BY 1)
        |SELECT chunk_size, n_docs, total_tokens, n_chunks,
        |  n_chunks * chunk_size - total_tokens AS wasted_tokens,
        |  CAST((2 * CAST(total_tokens AS HUGEINT) * 1000000
        |      + n_chunks * chunk_size)
        |    // (2 * CAST(n_chunks AS HUGEINT) * chunk_size) AS DOUBLE)
        |    / 1000000 AS utilization
        |FROM a""".stripMargin) { (spark, dir) =>
      val spk = spark
      import spk.implicits._
      val t = Tables.documents(spark, dir)
        .select(ceil(col("n_chars") / 4.0).cast("long").as("tok"))
      val g = Seq(128L, 256L, 512L, 1024L, 2048L).toDF("chunk_size")
      t.crossJoin(broadcast(g))
        .groupBy("chunk_size")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).as("total_tokens"),
          sum(expr("(tok + chunk_size - 1) div chunk_size")).as("n_chunks"))
        .select(col("chunk_size"), col("n_docs"), col("total_tokens"),
          col("n_chunks"),
          (col("n_chunks") * col("chunk_size") - col("total_tokens"))
            .as("wasted_tokens"),
          ExactRound.roundRatio(col("total_tokens"),
            col("n_chunks") * col("chunk_size"), 6)
            .cast("double").as("utilization"))
    },

    // ---- L216 session-gap sensitivity curve: q32/q175 sessionize at
    // ONE gap threshold; this measures how the session structure
    // responds to the choice — sessions, events-per-session and bounce
    // rate across a gap grid, the calibration a product-analytics
    // pipeline runs before committing the threshold every downstream
    // funnel/retention/path metric inherits. Per gap: the same keyed
    // lag + running-sum session labeling as q175 (one shuffle on
    // user_id, reused by every grid point), a (user, session) size
    // aggregate, and integer-ratio readouts. The gap comparison is
    // exact integer microseconds (epoch_us both engines).
    Q(
      "q235_session_gap_curve", {
        def gSql(g: Int) =
          s"""SELECT $g AS gap_s, user_id,
             |    sum(CASE WHEN prev IS NULL
             |      OR epoch_us(ts) - epoch_us(prev) > ${g}000000
             |      THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |        ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM e""".stripMargin
        s"""WITH e AS (
           |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           |    lag(CAST(ts AS TIMESTAMP)) OVER
           |      (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP),
           |        event_id) AS prev
           |  FROM events),
           |lab AS (
           |  ${Seq(300, 900, 1800, 3600).map(gSql).mkString("\n  UNION ALL\n  ")}),
           |sz AS (
           |  SELECT gap_s, user_id, session_id, CAST(count(*) AS BIGINT) AS sz
           |  FROM lab GROUP BY 1, 2, 3),
           |a AS (
           |  SELECT gap_s, CAST(count(*) AS BIGINT) AS n_sessions,
           |    CAST(sum(sz) AS BIGINT) AS n_events,
           |    CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_bounce
           |  FROM sz GROUP BY 1)
           |SELECT CAST(gap_s AS BIGINT) AS gap_s, n_events, n_sessions,
           |  n_bounce,
           |  CAST((2 * CAST(n_events AS HUGEINT) * 1000000 + n_sessions)
           |    // (2 * CAST(n_sessions AS HUGEINT)) AS DOUBLE) / 1000000
           |    AS events_per_session,
           |  CAST((2 * CAST(n_bounce AS HUGEINT) * 1000000 + n_sessions)
           |    // (2 * CAST(n_sessions AS HUGEINT)) AS DOUBLE) / 1000000
           |    AS bounce_rate
           |FROM a""".stripMargin
      }) { (spark, dir) =>
      val base = Tables.events(spark, dir)
        .select("user_id", "event_id", "ts")
      Seq(300, 900, 1800, 3600).map { g =>
        graft.ops.Sessionize
          .labelSessions(base, "ts", "user_id", "event_id", g.toLong)
          .groupBy("user_id", "session_id").agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("sz")).as("n_events"),
            sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_bounce"))
          .select(lit(g.toLong).as("gap_s"), col("n_events"),
            col("n_sessions"), col("n_bounce"))
      }.reduce(_ unionByName _)
        .withColumn("events_per_session",
          ExactRound.roundRatio(col("n_events"), col("n_sessions"), 6)
            .cast("double"))
        .withColumn("bounce_rate",
          ExactRound.roundRatio(col("n_bounce"), col("n_sessions"), 6)
            .cast("double"))
    },

    // ---- L217 incremental PQ index maintenance: the PQ arm of L204's
    // loop — q179/q189 train per-subspace codebooks one-shot; here the
    // codebooks train on HISTORY only, the standing code table holds
    // history's m-byte codes, and a NEW batch encodes against the
    // STANDING codebooks (pqEncode — a shuffle-free scan projection)
    // and folds in exactly-once. The query returns the FOLDED CODE
    // TABLE and the oracle computes the one-shot encoding of the whole
    // corpus against the same history-trained codebooks — fold ==
    // one-shot pinned row-for-row (the compressed index a 100 TB
    // corpus keeps in RAM is maintained by appending batch codes, not
    // by re-encoding the corpus).
    Q(
      "q236_incremental_pq_index", {
        import CurationQueries.{pqAssignSql, pqDotSql, pqUpdateSql, PqKsub, PqSubDim}
        def sub(j: Int) = {
          val lo = j * PqSubDim + 1; val hi = (j + 1) * PqSubDim
          s"""sv$j AS (SELECT vec_id, dvall[$lo:$hi] AS dv FROM vall),
             |vn$j AS MATERIALIZED (
             |  SELECT vec_id, dv, ${pqDotSql("dv", "dv")} AS vn2 FROM sv$j),
             |hvn$j AS MATERIALIZED (
             |  SELECT * FROM vn$j WHERE vec_id % 3 <> 0),
             |c0_$j AS (
             |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
             |    dv AS cv
             |  FROM sv$j WHERE vec_id % 3 <> 0 ORDER BY vec_id LIMIT $PqKsub),
             |${pqAssignSql(s"a1_$j", s"hvn$j", s"c0_$j")},
             |${pqUpdateSql(s"s1_$j", s"a1_$j", s"hvn$j", s"c0_$j", s"c1_$j")},
             |${pqAssignSql(s"a2_$j", s"hvn$j", s"c1_$j")},
             |${pqUpdateSql(s"s2_$j", s"a2_$j", s"hvn$j", s"c1_$j", s"c2_$j")},
             |${pqAssignSql(s"enc$j", s"vn$j", s"c2_$j")}""".stripMargin
        }
        s"""WITH vall AS (
           |  SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvall
           |  FROM embeddings),
           |${sub(0)},
           |${sub(1)}
           |SELECT e0.vec_id, CAST(e0.cluster AS BIGINT) AS code0,
           |  CAST(e1.cluster AS BIGINT) AS code1
           |FROM enc0 e0 JOIN enc1 e1 USING (vec_id)""".stripMargin
      }) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val hist = e.filter(col("vec_id") % 3 =!= 0)
      val batch = e.filter(col("vec_id") % 3 === 0)
      val cbs = Similarity.pqTrain(hist, "vec_id", "embedding",
        dim = 64, m = 2, ksub = 4, iters = 2)
      def codes(df: org.apache.spark.sql.DataFrame) = df.select(
        col("vec_id"),
        element_at(Similarity.pqEncode(col("embedding"), cbs, 64), 1)
          .cast("long").as("code0"),
        element_at(Similarity.pqEncode(col("embedding"), cbs, 64), 2)
          .cast("long").as("code1"))
      val idxPath = graft.Tmp.dir("graft-q236").toString + "/codes"
      graft.Meta.Versioned.write(codes(hist), idxPath)
      val folded = graft.Meta.Versioned.read(spark, idxPath)
        .unionByName(codes(batch))
      graft.Meta.Versioned.writeOnce(folded, idxPath, "q236", 0L)
      graft.Meta.Versioned.writeOnce(folded, idxPath, "q236", 0L)
      graft.Meta.Versioned.read(spark, idxPath)
        .select("vec_id", "code0", "code1")
    },

    // ---- L218 near-dup decision evidence: the EXPLAINABILITY record
    // production dedup keeps beside every merge — per capped candidate
    // pair that passed the Hamming gate, the independent evidence a
    // reviewer checks when a merge is challenged (a false merge is a
    // data-loss bug): SimHash Hamming distance, exact shingle Jaccard,
    // containment (inter∕min — catches the quote-inside-article case
    // Jaccard dilutes), and the n_chars length ratio. All four are
    // small-integer rationals rounded in integer space; empty-shingle
    // members define Jaccard/containment as vacuous 1.0 when BOTH/the
    // smaller side are empty (documented edge, replayed by the
    // oracle). Candidates come from the capped stream (linear volume),
    // the shingle join touches only candidate ids.
    Q(
      "q237_neardup_evidence",
      s"""WITH ${LlmQueries.simhashCtes},
         |rankedc AS (
         |  SELECT doc_id, sim, band, band_key,
         |    row_number() OVER (PARTITION BY band, band_key ORDER BY doc_id) AS rk
         |  FROM banded),
         |cpairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    min(bit_count(xor(a.sim, b.sim))) AS hamming
         |  FROM rankedc a JOIN banded b USING (band, band_key)
         |  WHERE a.rk <= ${Dedup.DefaultDegreeCap} AND a.doc_id < b.doc_id
         |    AND bit_count(xor(a.sim, b.sim)) <= 3
         |  GROUP BY 1, 2),
         |sh2 AS (SELECT doc_id, ${LlmQueries.shinglesSql} AS s FROM toks),
         |hvt AS (
         |  SELECT doc_id,
         |    list_sort(list_distinct(list_transform(s, x ->
         |      ${LlmQueries.strHashSql("x")}))) AS hv
         |  FROM sh2),
         |ev AS (
         |  SELECT id_a, id_b, hamming,
         |    CAST(len(list_intersect(ha.hv, hb.hv)) AS HUGEINT) AS inter,
         |    CAST(len(ha.hv) AS HUGEINT) AS na,
         |    CAST(len(hb.hv) AS HUGEINT) AS nb,
         |    CAST(da.n_chars AS HUGEINT) AS ca,
         |    CAST(db.n_chars AS HUGEINT) AS cb
         |  FROM cpairs
         |  JOIN hvt ha ON ha.doc_id = id_a
         |  JOIN hvt hb ON hb.doc_id = id_b
         |  JOIN documents da ON da.doc_id = id_a
         |  JOIN documents db ON db.doc_id = id_b)
         |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming,
         |  CASE WHEN na + nb - inter = 0 THEN 1.0
         |    ELSE CAST((2 * inter * 1000000 + (na + nb - inter))
         |      // (2 * (na + nb - inter)) AS DOUBLE) / 1000000 END AS jaccard,
         |  CASE WHEN least(na, nb) = 0 THEN 1.0
         |    ELSE CAST((2 * inter * 1000000 + least(na, nb))
         |      // (2 * least(na, nb)) AS DOUBLE) / 1000000 END AS containment,
         |  CAST((2 * least(ca, cb) * 1000000 + greatest(ca, cb))
         |    // (2 * greatest(ca, cb)) AS DOUBLE) / 1000000 AS len_ratio
         |FROM ev""".stripMargin) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
      val hv = Dedup.withShingleHashes(
        docs.select("doc_id", "text", "n_chars"), "text", 3)
        .select(col("doc_id"), col("hv"), col("n_chars"))
      val inter = Dedup.intersectSize(col("hv_a"), col("hv_b")).cast("long")
      pairs
        .join(hv.select(col("doc_id").as("id_a"), col("hv").as("hv_a"),
          col("n_chars").as("ca")), Seq("id_a"))
        .join(hv.select(col("doc_id").as("id_b"), col("hv").as("hv_b"),
          col("n_chars").as("cb")), Seq("id_b"))
        .withColumn("inter", inter)
        .withColumn("na", size(col("hv_a")).cast("long"))
        .withColumn("nb", size(col("hv_b")).cast("long"))
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"),
          when(col("na") + col("nb") - col("inter") === 0, lit(1.0))
            .otherwise(ExactRound.roundRatio(col("inter"),
              col("na") + col("nb") - col("inter"), 6).cast("double"))
            .as("jaccard"),
          when(least(col("na"), col("nb")) === 0, lit(1.0))
            .otherwise(ExactRound.roundRatio(col("inter"),
              least(col("na"), col("nb")), 6).cast("double"))
            .as("containment"),
          ExactRound.roundRatio(least(col("ca"), col("cb")),
            greatest(col("ca"), col("cb")), 6).cast("double")
            .as("len_ratio"))
    },

    // ---- L219 mixture water-filling under availability: q94/q148
    // apportion a GIVEN budget by weights; this computes the budget —
    // the bottleneck rule T = min_s ⌊cap_s·W∕w_s⌋, feasible by
    // construction (every source's share ⌊T·w∕W⌋ fits inside its
    // available tokens × a max-epoch repeat cap) but not necessarily
    // the MAXIMUM feasible T: integer floors can leave headroom the
    // closed-form rule does not claw back (Stats.waterFill scaladoc;
    // cap·avail=5, w=3, W=10 gives T=16 while 19 fits). Mixture
    // assembly's feasibility step, run before any apportionment —
    // a deliberately conservative budget is fine there. Weights are the
    // q171 source tiers; epochs cap = 2. Pure integer floor arithmetic
    // on both engines; one per-source aggregate, grid math on |sources|
    // integers. Emits the bottleneck flag (the source that pins T).
    Q(
      "q238_mixture_waterfill",
      """WITH a AS (
        |  SELECT source,
        |    CASE WHEN source IN ('src0','src1','src2','src3') THEN 4
        |         WHEN source IN ('src4','src5','src6','src7','src8','src9')
        |           THEN 2
        |         ELSE 1 END AS w,
        |    CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS HUGEINT)
        |      AS avail
        |  FROM documents GROUP BY 1, 2),
        |tw AS (SELECT CAST(sum(w) AS HUGEINT) AS ww FROM a),
        |t AS (SELECT min((2 * avail * ww) // w) AS tt FROM a, tw)
        |SELECT source, CAST(w AS BIGINT) AS weight,
        |  CAST(avail AS BIGINT) AS avail_tokens,
        |  CAST((tt * w) // ww AS BIGINT) AS alloc_tokens,
        |  CAST((2 * ((tt * w) // ww) * 1000000 + avail)
        |    // (2 * avail) AS DOUBLE) / 1000000 AS epochs,
        |  (2 * avail * ww) // w = tt AS bottleneck
        |FROM a, tw, t""".stripMargin) { (spark, dir) =>
      // kernel: ops/Stats.waterFill (edge semantics pinned in StatsSpec)
      val w = when(col("source").isin("src0", "src1", "src2", "src3"), 4L)
        .when(col("source").isin("src4", "src5", "src6", "src7", "src8",
          "src9"), 2L)
        .otherwise(1L)
      val a = Tables.documents(spark, dir)
        .select(col("source"), ceil(col("n_chars") / 4.0).cast("long")
          .as("tok"))
        .groupBy("source").agg(sum("tok").as("avail"))
        .withColumn("w", w)
      Stats.waterFill(a, "source", "w", "avail", epochCap = 2)
    },

    // ---- L220 quality-gate agreement (Cohen's kappa): two filters
    // that agree by construction waste a pipeline stage; two that
    // disagree on principle need adjudication — kappa measures the
    // agreement BEYOND CHANCE between gate A (length ≥ 200 chars) and
    // gate B (≥ 30 tokens with mean token length ≤ 8), the statistic
    // that says whether a proposed gate adds signal over the shipped
    // one. κ = (n·(a+d) − pe)∕(n² − pe) with pe the chance-agreement
    // cross product — pure integers into one signed half-away divide;
    // one corpus aggregate, the verdict on four integers.
    Q(
      "q239_gate_agreement_kappa",
      s"""WITH g AS (
         |  SELECT
         |    CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS ga,
         |    CASE WHEN len(t) >= 30
         |      AND CAST(n_chars AS HUGEINT) <= 8 * len(t) THEN 1 ELSE 0 END
         |      AS gb
         |  FROM (SELECT n_chars, ${LlmQueries.toksSql} AS t FROM documents)),
         |c AS (
         |  SELECT
         |    CAST(sum(ga * gb) AS HUGEINT) AS a,
         |    CAST(sum(ga * (1 - gb)) AS HUGEINT) AS b,
         |    CAST(sum((1 - ga) * gb) AS HUGEINT) AS c,
         |    CAST(sum((1 - ga) * (1 - gb)) AS HUGEINT) AS d,
         |    CAST(count(*) AS HUGEINT) AS n
         |  FROM g),
         |k AS (
         |  SELECT a, b, c, d, n,
         |    (a + b) * (a + c) + (c + d) * (b + d) AS pe,
         |    n * (a + d) AS po
         |  FROM c)
         |SELECT CAST(a AS BIGINT) AS n_both, CAST(b AS BIGINT) AS n_a_only,
         |  CAST(c AS BIGINT) AS n_b_only, CAST(d AS BIGINT) AS n_neither,
         |  CASE WHEN n = 0 THEN 1.0 ELSE
         |    CAST((2 * (a + d) * 1000000 + n) // (2 * n) AS DOUBLE)
         |      / 1000000 END AS observed_agreement,
         |  CASE WHEN n * n - pe = 0 THEN 1.0 ELSE
         |    CAST(CASE WHEN po - pe >= 0
         |      THEN (2 * (po - pe) * 1000000 + (n * n - pe))
         |        // (2 * (n * n - pe))
         |      ELSE -((2 * (pe - po) * 1000000 + (n * n - pe))
         |        // (2 * (n * n - pe))) END AS DOUBLE) / 1000000 END
         |    AS kappa
         |FROM k""".stripMargin) { (spark, dir) =>
      import graft.ops.Text
      // kernel: ops/Stats.cohensKappa (degenerate gates pinned in StatsSpec)
      val g = Tables.documents(spark, dir)
        .select(col("n_chars"), Text.tokens(col("text")).as("t"))
        .select(
          when(col("n_chars") >= 200, 1L).otherwise(0L).as("ga"),
          when(size(col("t")) >= 30 &&
            col("n_chars") <= lit(8L) * size(col("t")), 1L)
            .otherwise(0L).as("gb"))
      Stats.cohensKappa(g, "ga", "gb")
    },

    // ---- L221 two-sample KS drift test: the distribution-level
    // companion to q127's count drift and q220's binned PSI — the
    // EXACT Kolmogorov–Smirnov statistic between two corpus versions'
    // n_chars distributions (no binning to hide a shape change), with
    // the α = 5% verdict decided ENTIRELY in integer space: D =
    // max|F₁−F₂| is a rational Dnum∕(n₁n₂) over the merged support,
    // and D > c(α)·√((n₁+n₂)∕(n₁n₂)) squares into Dnum²·10⁶ >
    // C₆·(n₁+n₂)·n₁·n₂ with C₆ = 1358² = 1844164 minted once (the
    // squared 3-dp table value c(0.05) = 1.358; exact round(c²·10⁶)
    // is 1844440 — the table constant is ~0.015% tighter, a
    // deliberate choice shared verbatim by both engines) —
    // a boundary drift cannot flip between engines. One sort-free
    // pass: per distinct value a cumulative count window on each side.
    Q(
      "q240_ks_drift",
      """WITH v1 AS (
        |  SELECT n_chars AS v FROM documents WHERE doc_id % 10 <> 0),
        |v2 AS (
        |  SELECT n_chars AS v FROM documents WHERE doc_id % 7 <> 0),
        |n1 AS (SELECT CAST(count(*) AS HUGEINT) AS n1 FROM v1),
        |n2 AS (SELECT CAST(count(*) AS HUGEINT) AS n2 FROM v2),
        |s AS (
        |  SELECT v,
        |    CAST(sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS HUGEINT) AS f1,
        |    CAST(sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS HUGEINT) AS f2
        |  FROM (
        |    SELECT coalesce(a.v, b.v) AS v,
        |      coalesce(a.c, 0) AS c1, coalesce(b.c, 0) AS c2
        |    FROM (SELECT v, count(*) AS c FROM v1 GROUP BY 1) a
        |    FULL OUTER JOIN (SELECT v, count(*) AS c FROM v2 GROUP BY 1) b
        |      ON a.v = b.v)),
        |d AS (
        |  SELECT max(abs(f1 * n2 - f2 * n1)) AS dnum FROM s, n1, n2)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST((2 * dnum * 1000000 + n1 * n2) // (2 * n1 * n2) AS DOUBLE)
        |    / 1000000 AS d_stat,
        |  dnum * dnum * 1000000 > 1844164 * (n1 + n2) * n1 * n2
        |    AS drift_detected
        |FROM d, n1, n2""".stripMargin) { (spark, dir) =>
      // kernel: ops/Stats.ksExact (boundary-tie strictness pinned in
      // StatsSpec)
      val docs = Tables.documents(spark, dir)
      Stats.ksExact(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 7 =!= 0),
        "n_chars")
    },

    // ---- L222 index delete + compaction: closes the q226/q236 fold
    // lifecycle. Those folds only APPEND; a standing index must also
    // UPSERT re-embedded vectors and TOMBSTONE deleted ones, then
    // periodically COMPACT its segment log. The log is data
    // (id, cid, seg, deleted) — ops/IndexLog.scala; three stream
    // batches fold exactly-once via Streams.foldOnce: (1) first half of the
    // new vectors, (2) second half PLUS re-embeds (vec_id % 9 = 1
    // vectors arrive re-encoded with their embedding reversed — a
    // model-refresh upsert), (3) tombstones for vec_id % 7 = 1. Each
    // fold computes only its delta's encode (broadcast codebook);
    // resolution is one latest-per-key window (tombstone beats upsert
    // within a segment); compaction squashes the log and publishes the
    // result as the next version. The oracle computes the ONE-SHOT
    // encode of the final live corpus (updates applied, deletes
    // removed) — so upsert-wins, delete-wins, and compact == resolve
    // are all pinned row-for-row cross-engine.
    Q(
      "q241_index_delete_compact",
      s"""WITH ${kmChain("h", " WHERE vec_id % 3 <> 0")},
         |av AS (
         |  SELECT vec_id,
         |    list_transform(CASE WHEN vec_id % 9 = 1
         |        THEN list_reverse(embedding) ELSE embedding END,
         |      x -> CAST(x AS DOUBLE)) AS dv
         |  FROM embeddings WHERE vec_id % 7 <> 1),
         |avn AS (SELECT vec_id, dv, ${dot64Sql("dv", "dv")} AS vn2 FROM av),
         |ccs AS (SELECT cluster AS cid, cv,
         |  sqrt(${dot64Sql("cv", "cv")}) AS cn FROM hc2),
         |${cellSql("code", "avn", "ccs", "", 1)}
         |SELECT vec_id, cid FROM code""".stripMargin) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val hist = e.filter(col("vec_id") % 3 =!= 0)
      val (_, cb) = Similarity.kmeansLloyd(hist, "vec_id", "embedding",
        k = 4, iters = 2)
      val root = graft.Tmp.dir("graft-q241").toString
      val idxPath = s"$root/codes"
      // Batch membership of the adds halves is irrelevant to the
      // post-compact snapshot (each add id appears once; upserts and
      // tombstones arrive in strictly later batches and IndexLog keeps
      // the highest version), so the adds split by residue ≡ 0 ∕ ≡ 3
      // (mod 6); upd rides batch 1 with the second adds half and dels
      // are batch 2.
      val adds = e.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id"), col("embedding"), lit("u").as("op"))
      val upd = e.filter(col("vec_id") % 9 === 1 && col("vec_id") % 7 =!= 1)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
          lit("u").as("op"))
      val dels = e.filter(col("vec_id") % 7 === 1)
        .select(col("vec_id"), col("embedding"), lit("d").as("op"))
      // segment-append fold (round 21): the IndexLog is append-only by
      // design (resolve/compact pick the latest seg per key), so each
      // batch commits only its delta rows; the standing log is the
      // union of retained segments. The full-rewrite fold re-wrote the
      // whole log every batch.
      val Seq(log) = graft.streaming.Streams.foldOnce(Seq(
          adds.filter(col("vec_id") % 6 === 0),
          adds.filter(col("vec_id") % 6 === 3).unionByName(upd),
          dels), Seq(graft.streaming.Streams.Segments(idxPath, IndexLog.initial(
            Similarity.ivfEncode(hist, "vec_id", "embedding", cb), "vec_id")))) {
        (batch, bid, _) =>
        val b = batch.toDF("vec_id", "embedding", "op")
        val ups = IndexLog.upserts(
          Similarity.ivfEncode(b.filter(col("op") === "u")
            .select("vec_id", "embedding"), "vec_id", "embedding", cb),
          "vec_id", bid + 1)
        val tmb = IndexLog.tombstones(
          b.filter(col("op") === "d").select("vec_id"), "vec_id", bid + 1)
        Seq(ups.unionByName(tmb))
      }
      // the compaction pass: squash the segment log (the union of every
      // retained version), publish as the next version; the post-compact
      // snapshot must equal the one-shot encode of the live corpus (the
      // oracle's side). Readers from here on use the latest version only.
      graft.Meta.Versioned.write(IndexLog.compact(log, "vec_id"), idxPath)
      graft.Meta.Versioned.read(spark, idxPath)
        .select(col("vec_id"), col("cid"))
    },

    // ---- L223 search over the tombstoned index: q241 pins the code
    // table; this pins the SEARCH contract — a deleted vector must
    // never surface as a neighbor, and it is the INDEX (the resolved
    // code table) that removes it, not a corpus-side filter: the
    // scoring scan below deliberately keeps the full corpus and the
    // deleted ids vanish solely because resolve() dropped their cells.
    // Re-embedded vectors (vec_id % 9 = 1, reversed) are searched
    // under their NEW embedding — the upsert's visible effect. Same
    // cell/scoring arithmetic as q223 (identical operand trees), top-5
    // per query over the live ids < 10.
    Q(
      "q242_search_after_delete",
      s"""WITH ${kmChain("h", " WHERE vec_id % 3 <> 0")},
         |rv AS (
         |  SELECT vec_id,
         |    list_transform(CASE WHEN vec_id % 9 = 1 AND vec_id % 7 <> 1
         |        THEN list_reverse(embedding) ELSE embedding END,
         |      x -> CAST(x AS DOUBLE)) AS dv
         |  FROM embeddings),
         |rvn AS MATERIALIZED (
         |  SELECT vec_id, dv, ${dot64Sql("dv", "dv")} AS vn2 FROM rv),
         |lvn AS (SELECT * FROM rvn WHERE vec_id % 7 <> 1),
         |ccs AS (SELECT cluster AS cid, cv,
         |  sqrt(${dot64Sql("cv", "cv")}) AS cn FROM hc2),
         |${cellSql("ca", "lvn", "ccs", "", 1)},
         |${cellSql("qa", "lvn", "ccs", " WHERE t.vec_id < 10", 2)},
         |sc AS (
         |  SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id,
         |    ${dot64Sql("qv.dv", "nv.dv")} / (sqrt(qv.vn2) * sqrt(nv.vn2))
         |      AS cos
         |  FROM qa JOIN rvn qv ON qa.vec_id = qv.vec_id
         |    JOIN ca ON qa.cid = ca.cid
         |    JOIN rvn nv ON ca.vec_id = nv.vec_id
         |  WHERE ca.vec_id <> qa.vec_id)
         |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM sc) y WHERE rn <= 5""".stripMargin) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val hist = e.filter(col("vec_id") % 3 =!= 0)
      val (_, cb) = Similarity.kmeansLloyd(hist, "vec_id", "embedding",
        k = 4, iters = 2)
      // corpus as the pipeline now sees it: re-embeds applied, deletes
      // still PRESENT (the index, not the scan, must drop them)
      val upd = e.withColumn("embedding",
        when(col("vec_id") % 9 === 1 && col("vec_id") % 7 =!= 1,
          reverse(col("embedding"))).otherwise(col("embedding")))
      val log = IndexLog.initial(
          Similarity.ivfEncode(hist, "vec_id", "embedding", cb), "vec_id")
        .unionByName(IndexLog.upserts(
          Similarity.ivfEncode(upd.filter(col("vec_id") % 3 === 0),
            "vec_id", "embedding", cb), "vec_id", 1L))
        .unionByName(IndexLog.upserts(
          Similarity.ivfEncode(
            upd.filter(col("vec_id") % 9 === 1 && col("vec_id") % 7 =!= 1),
            "vec_id", "embedding", cb), "vec_id", 2L))
        .unionByName(IndexLog.tombstones(
          e.filter(col("vec_id") % 7 === 1).select("vec_id"), "vec_id", 3L))
      val codes = IndexLog.resolve(log, "vec_id")
      val queries = upd.filter(col("vec_id") < 10 && col("vec_id") % 7 =!= 1)
      Similarity.topKIvfEncoded(upd, codes, queries,
          "vec_id", "embedding", 5, cb, 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    },

    // ---- L224 cross-dimension covariance audit: q227 ranks the
    // DIAGONAL of the embedding covariance matrix (which dims carry
    // variance); this ranks the OFF-DIAGONAL mass — strongly
    // covarying dimension pairs mean the space is rotated away from
    // its principal axes and whitening (or at least PQ subspace
    // re-blocking, q236's layout decision) would pay. Same exactness
    // contract as q227: values quantized to 5 dp, per-pair covariance
    // numerator n·Σuv − Σu·Σv as an exact scale-10¹⁰ integer, 6-dp
    // presentation divides, rank over the fixed 2016-pair grid.
    // Spark shape: pair products are generated PER ROW by a nested
    // array transform (no self-join, no corpus shuffle on the pair
    // key) and partially aggregated map-side into the 2016-key grid;
    // the DuckDB oracle takes the equivalent self-join route.
    Q(
      "q243_embedding_covariance",
      """WITH u AS (
        |  SELECT vec_id, i,
        |    CAST(CAST(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(9,5))
        |      * 100000 AS HUGEINT) AS HUGEINT) AS uv
        |  FROM embeddings, range(1, 65) t(i)),
        |p AS MATERIALIZED (
        |  SELECT a.i AS i, b.i AS j, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(a.uv * b.uv) AS HUGEINT) AS sij,
        |    CAST(sum(a.uv) AS HUGEINT) AS si,
        |    CAST(sum(b.uv) AS HUGEINT) AS sj
        |  FROM u a JOIN u b ON a.vec_id = b.vec_id AND b.i > a.i
        |  GROUP BY 1, 2),
        |c AS MATERIALIZED (
        |  SELECT i, j, n, n * sij - si * sj AS covn FROM p),
        |t AS (SELECT CAST(sum(abs(covn)) AS HUGEINT) AS tc FROM c)
        |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |  CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN covn >= 0
        |    THEN (2 * covn * 1000000 + n * n * 10000000000)
        |      // (2 * n * n * 10000000000)
        |    ELSE -((2 * (-covn) * 1000000 + n * n * 10000000000)
        |      // (2 * n * n * 10000000000)) END AS DOUBLE) / 1000000
        |    AS cov,
        |  CAST((2 * abs(covn) * 1000000 + tc) // (2 * tc) AS DOUBLE)
        |    / 1000000 AS cov_share,
        |  CAST(row_number() OVER (ORDER BY abs(covn) DESC, i, j)
        |    AS BIGINT) AS cov_rank
        |FROM c, t""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val spk = spark
      import spk.implicits._
      val e = Tables.embeddings(spark, dir)
      val I = DecimalType(38, 0)
      // scale-10⁵ unscaled integer of a DECIMAL(27,5) sum (exact)
      def unscale5(c: org.apache.spark.sql.Column) =
        (c.cast(DecimalType(32, 5)) *
          lit(java.math.BigDecimal.TEN.pow(5)).cast(DecimalType(6, 0)))
          .cast(I)
      // per-row pair products as ONE compiled pass (graft_pair_products:
      // the 2016 scale-10¹⁰ integer products per vector); pos ↔ (i,j)
      // via a broadcast 2016-row grid map
      val posMap = (for (i <- 1 to 64; j <- (i + 1) to 64) yield (i, j))
        .zipWithIndex
        .map { case ((i, j), p) => (p, i.toLong, j.toLong) }
        .toDF("pos", "i", "j")
      val pairAgg = graft.ops.PairMoments.pass(e, "embedding")
        .withColumnRenamed("s", "sij10")
        .join(broadcast(posMap), "pos")
      // per-dim sums for the mean correction (64 rows, broadcast)
      val m = e.select(posexplode(col("embedding")))
        .select((col("pos") + 1).cast("long").as("i"),
          col("col").cast("double").cast(DecimalType(9, 5)).as("v"))
        .groupBy("i").agg(sum(col("v").cast(DecimalType(27, 5))).as("s1"))
      val covn = col("n").cast(I) * col("sij10") -
        col("si5") * col("sj5")
      val cc = pairAgg
        .join(broadcast(m.select(col("i"),
          unscale5(col("s1")).as("si5"))), "i")
        .join(broadcast(m.select(col("i").as("j"),
          unscale5(col("s1")).as("sj5"))), "j")
        .withColumn("covn", covn)
      val tc = cc.agg(sum(abs(col("covn"))).as("tc"))
      val den = col("n").cast(I) * col("n").cast(I) *
        lit(java.math.BigDecimal.TEN.pow(10)).cast(I)
      cc.crossJoin(broadcast(tc)).select(
        col("i"), col("j"), col("n"),
        when(col("covn") >= 0,
          ExactRound.roundRatio(col("covn"), den, 6))
          .otherwise(-ExactRound.roundRatio(-col("covn"), den, 6))
          .cast("double").as("cov"),
        ExactRound.roundRatio(abs(col("covn")), col("tc"), 6)
          .cast("double").as("cov_share"),
        // unpartitioned window over the |dims|²-row covariance grid only
        row_number().over(
          Window.orderBy(abs(col("covn")).desc, col("i"), col("j")))
          .cast("long").as("cov_rank"))
    },

    // ---- L228 multi-vector MaxSim retrieval (the ColBERT scoring
    // rule, Khattab & Zaharia 2020): a document is FOUR 16-d block
    // vectors, a query scores Σ over its blocks of the best block
    // cosine on the doc side — late interaction, catching partial
    // matches single-vector cosine (q26) dilutes. The four per-block
    // maxima pivot into fixed columns and add in a FIXED order (Spark
    // aggregate reorder would break float bit-equality; a pivoted
    // ((m0+m1)+m2)+m3 cannot reorder), cosine chains are the usual
    // identical-operand trees, presentation rounds at 6 dp (the
    // q26/q144 recipe). Scale shape: query blocks broadcast, one scan
    // of the doc blocks, per-(query,doc) state is four doubles.
    Q(
      "q247_maxsim_retrieval", {
        def dot16(a: String, b: String) = LlmQueries.foldSumSql(
          s"list_transform(range(1, 17), i -> $a[i]*$b[i])",
          "CAST(0 AS DOUBLE)")
        val pivots = (0 until 4).map(b =>
          s"max(CASE WHEN qb = $b THEN bcos END) AS m$b").mkString(",\n    ")
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           |  FROM embeddings),
           |blk AS MATERIALIZED (
           |  SELECT vec_id, b, dv[b*16+1 : b*16+16] AS bv,
           |    sqrt(${dot16("(dv[b*16+1 : b*16+16])", "(dv[b*16+1 : b*16+16])")}) AS bn
           |  FROM v, unnest(range(0, 4)) u(b)),
           |qb AS (SELECT * FROM blk WHERE vec_id < 10),
           |sc AS (
           |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
           |    q.b AS qb, ${dot16("q.bv", "d.bv")} / (q.bn * d.bn) AS bcos
           |  FROM qb q JOIN blk d ON d.vec_id <> q.vec_id),
           |mx AS (
           |  SELECT query_id, neighbor_id,
           |    $pivots
           |  FROM sc GROUP BY 1, 2),
           |sm AS (
           |  SELECT query_id, neighbor_id,
           |    ((m0 + m1) + m2) + m3 AS maxsim FROM mx)
           |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id,
           |  round(maxsim, 6) AS maxsim FROM (
           |  SELECT query_id, neighbor_id, maxsim,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY maxsim DESC, neighbor_id) AS rn
           |  FROM sm) y WHERE rn <= 5""".stripMargin
      }) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(spark, dir)
      val docs = e.select(col("vec_id"),
        Similarity.toDouble(col("embedding")).as("dv"))
      def blocks(df: org.apache.spark.sql.DataFrame, idAs: String,
          vAs: String, bAs: String, nAs: String) =
        df.select(col("vec_id").as(idAs), posexplode(
            array((0 until 4).map(b => slice(col("dv"), b * 16 + 1, 16)): _*)))
          .select(col(idAs), col("pos").as(bAs), col("col").as(vAs))
          .withColumn(nAs, sqrt(Similarity.dot(col(vAs), col(vAs))))
      val db = blocks(docs, "neighbor_id", "nv", "db", "nn")
      val qbl = blocks(docs.filter(col("vec_id") < 10),
        "query_id", "qv", "qb", "qn")
      val sc = db.join(broadcast(qbl), col("neighbor_id") =!= col("query_id"))
        .withColumn("bcos",
          Similarity.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      val mx = sc.groupBy("query_id", "neighbor_id").agg(
        max(when(col("qb") === 0, col("bcos"))).as("m0"),
        max(when(col("qb") === 1, col("bcos"))).as("m1"),
        max(when(col("qb") === 2, col("bcos"))).as("m2"),
        max(when(col("qb") === 3, col("bcos"))).as("m3"))
      val sm = mx.withColumn("maxsim",
        ((col("m0") + col("m1")) + col("m2")) + col("m3"))
      sm.withColumn("rank", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("maxsim").desc, col("neighbor_id"))))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("maxsim"), 6).as("maxsim"))
    },

    // ---- L229 STREAMING covariance fold: q243's moments are ADDITIVE
    // integers (per-pair Σuᵢuⱼ, per-dim Σu, counts), so the audit
    // maintains incrementally with a state table bounded by d² — 2 080
    // rows at ANY corpus size, the ideal fold: per batch, one compiled
    // pair-products pass over the batch plus a 2 080-row re-aggregate,
    // exactly-once via Streams.foldOnce. Dim moments ride the same table at
    // pos = −i (pairs at pos ≥ 0) so one fold commits one snapshot.
    // Because every sum is an exact integer, fold == one-shot to the
    // BIT — the oracle is q243's one-shot SQL verbatim, so the folded
    // audit must reproduce the full 2 016-row grid row-for-row.
    Q(
      "q248_stream_covariance_fold",
      """WITH u AS (
        |  SELECT vec_id, i,
        |    CAST(CAST(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(9,5))
        |      * 100000 AS HUGEINT) AS HUGEINT) AS uv
        |  FROM embeddings, range(1, 65) t(i)),
        |p AS MATERIALIZED (
        |  SELECT a.i AS i, b.i AS j, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(a.uv * b.uv) AS HUGEINT) AS sij,
        |    CAST(sum(a.uv) AS HUGEINT) AS si,
        |    CAST(sum(b.uv) AS HUGEINT) AS sj
        |  FROM u a JOIN u b ON a.vec_id = b.vec_id AND b.i > a.i
        |  GROUP BY 1, 2),
        |c AS MATERIALIZED (
        |  SELECT i, j, n, n * sij - si * sj AS covn FROM p),
        |t AS (SELECT CAST(sum(abs(covn)) AS HUGEINT) AS tc FROM c)
        |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |  CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN covn >= 0
        |    THEN (2 * covn * 1000000 + n * n * 10000000000)
        |      // (2 * n * n * 10000000000)
        |    ELSE -((2 * (-covn) * 1000000 + n * n * 10000000000)
        |      // (2 * n * n * 10000000000)) END AS DOUBLE) / 1000000
        |    AS cov,
        |  CAST((2 * abs(covn) * 1000000 + tc) // (2 * tc) AS DOUBLE)
        |    / 1000000 AS cov_share,
        |  CAST(row_number() OVER (ORDER BY abs(covn) DESC, i, j)
        |    AS BIGINT) AS cov_rank
        |FROM c, t""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val spk = spark
      import spk.implicits._
      val e = Tables.embeddings(spark, dir)
      val I = DecimalType(38, 0)
      def moments(df: org.apache.spark.sql.DataFrame) = {
        val pairs = graft.ops.PairMoments.pass(df, "embedding")
          .select(col("pos").cast("long").as("pos"), col("n"), col("s"))
        val dims = df.select(posexplode(col("embedding")))
          .select((-(col("pos") + 1)).cast("long").as("pos"),
            col("col").cast("double").cast(DecimalType(9, 5)).as("v"))
          .groupBy("pos")
          .agg(count(lit(1)).as("n"),
            (sum(col("v").cast(DecimalType(27, 5)))
              .cast(DecimalType(32, 5)) *
              lit(java.math.BigDecimal.TEN.pow(5)).cast(DecimalType(6, 0)))
              .cast(I).as("s"))
        pairs.unionByName(dims)
      }
      val root = graft.Tmp.dir("graft-q248").toString
      val statePath = s"$root/moments"
      // Batch membership: batch 0 = vec_id ≡ 0 (mod 4), batch 1 = the
      // remaining evens.
      val feedDf = e.select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 2 === 0)
      // Segment-append fold (round 21, guide §2.3/§6): the moment state
      // is additive (per-pos long counts + exact DECIMAL power sums, both
      // order-free), so each batch commits only its OWN aggregate and
      // the standing state is re-reduced from the retained segments at
      // read time — O(|batch agg|) written per trigger instead of
      // re-writing the full dims+pairs grid.
      val Seq(segs) = graft.streaming.Streams.foldOnce(Seq(
          feedDf.filter(col("vec_id") % 4 === 0),
          feedDf.filter(col("vec_id") % 4 =!= 0)),
          Seq(graft.streaming.Streams.Segments(statePath,
            moments(e.filter(col("vec_id") % 2 === 1))))) {
        (batch, _, _) => Seq(moments(batch.toDF("vec_id", "embedding")))
      }
      // resolve the segment log: the same reduce the old fold ran per
      // batch, once — long and exact-decimal sums are order-free
      val st = segs.groupBy("pos").agg(sum("n").as("n"), sum("s").cast(I).as("s"))
      val posMap = (for (i <- 1 to 64; j <- (i + 1) to 64) yield (i, j))
        .zipWithIndex
        .map { case ((i, j), p) => (p.toLong, i.toLong, j.toLong) }
        .toDF("pos", "i", "j")
      val dims = st.filter(col("pos") < 0)
        .select((-col("pos")).as("i"), col("s"))
      val cc = st.filter(col("pos") >= 0)
        .join(broadcast(posMap), "pos")
        .join(broadcast(dims.select(col("i"), col("s").as("si5"))), "i")
        .join(broadcast(dims.select(col("i").as("j"), col("s").as("sj5"))),
          "j")
        .withColumn("covn",
          col("n").cast(I) * col("s") - col("si5") * col("sj5"))
      val tc = cc.agg(sum(abs(col("covn"))).as("tc"))
      val den = col("n").cast(I) * col("n").cast(I) *
        lit(java.math.BigDecimal.TEN.pow(10)).cast(I)
      cc.crossJoin(broadcast(tc)).select(
        col("i"), col("j"), col("n").cast("long").as("n"),
        when(col("covn") >= 0,
          ExactRound.roundRatio(col("covn"), den, 6))
          .otherwise(-ExactRound.roundRatio(-col("covn"), den, 6))
          .cast("double").as("cov"),
        ExactRound.roundRatio(abs(col("covn")), col("tc"), 6)
          .cast("double").as("cov_share"),
        // unpartitioned window over the |dims|²-row covariance grid only
        row_number().over(
          Window.orderBy(abs(col("covn")).desc, col("i"), col("j")))
          .cast("long").as("cov_rank"))
    },

    // ---- L230 recall after deletion: the quality gate that closes the
    // L222/L223 lifecycle — after upserts, tombstones, and compaction,
    // does the standing index still FIND things? Recall@5 of the
    // tombstoned-index search against brute force over the LIVE corpus
    // (the only defensible ground truth once vectors are deleted),
    // plus the deletion-visibility counter: the number of ANN
    // neighbors that are deleted ids, which must be ZERO — a stale
    // segment or a dropped tombstone shows up here before any user
    // query does. All hit counts integer; the n∕5 recall is the q223
    // presentation divide.
    Q(
      "q249_recall_after_delete",
      s"""WITH ${kmChain("h", " WHERE vec_id % 3 <> 0")},
         |rv AS (
         |  SELECT vec_id,
         |    list_transform(CASE WHEN vec_id % 9 = 1 AND vec_id % 7 <> 1
         |        THEN list_reverse(embedding) ELSE embedding END,
         |      x -> CAST(x AS DOUBLE)) AS dv
         |  FROM embeddings),
         |rvn AS MATERIALIZED (
         |  SELECT vec_id, dv, ${dot64Sql("dv", "dv")} AS vn2 FROM rv),
         |lvn AS MATERIALIZED (SELECT * FROM rvn WHERE vec_id % 7 <> 1),
         |ccs AS (SELECT cluster AS cid, cv,
         |  sqrt(${dot64Sql("cv", "cv")}) AS cn FROM hc2),
         |${cellSql("ca", "lvn", "ccs", "", 1)},
         |${cellSql("qa", "lvn", "ccs", " WHERE t.vec_id < 10", 2)},
         |sc AS (
         |  SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id,
         |    ${dot64Sql("qv.dv", "nv.dv")} / (sqrt(qv.vn2) * sqrt(nv.vn2))
         |      AS cos
         |  FROM qa JOIN rvn qv ON qa.vec_id = qv.vec_id
         |    JOIN ca ON qa.cid = ca.cid
         |    JOIN rvn nv ON ca.vec_id = nv.vec_id
         |  WHERE ca.vec_id <> qa.vec_id),
         |tk AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM sc) y WHERE rn <= 5),
         |es AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${dot64Sql("q.dv", "c.dv")} / (sqrt(q.vn2) * sqrt(c.vn2)) AS cos
         |  FROM lvn q, lvn c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |ek AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM es) z WHERE rn <= 5),
         |dd AS (SELECT CAST(count(CASE WHEN neighbor_id % 7 = 1 THEN 1 END)
         |  AS BIGINT) AS n_deleted_neighbors FROM tk)
         |SELECT e.query_id,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(count(a.neighbor_id) AS BIGINT) AS hits,
         |  round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 6)
         |    AS recall,
         |  dd.n_deleted_neighbors,
         |  dd.n_deleted_neighbors = 0 AS clean
         |FROM ek e
         |  LEFT JOIN tk a ON a.query_id = e.query_id
         |    AND a.neighbor_id = e.neighbor_id, dd
         |GROUP BY e.query_id, dd.n_deleted_neighbors""".stripMargin) {
      (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val hist = e.filter(col("vec_id") % 3 =!= 0)
      val (_, cb) = Similarity.kmeansLloyd(hist, "vec_id", "embedding",
        k = 4, iters = 2)
      val upd = e.withColumn("embedding",
        when(col("vec_id") % 9 === 1 && col("vec_id") % 7 =!= 1,
          reverse(col("embedding"))).otherwise(col("embedding")))
      val log = IndexLog.initial(
          Similarity.ivfEncode(hist, "vec_id", "embedding", cb), "vec_id")
        .unionByName(IndexLog.upserts(
          Similarity.ivfEncode(upd.filter(col("vec_id") % 3 === 0),
            "vec_id", "embedding", cb), "vec_id", 1L))
        .unionByName(IndexLog.upserts(
          Similarity.ivfEncode(
            upd.filter(col("vec_id") % 9 === 1 && col("vec_id") % 7 =!= 1),
            "vec_id", "embedding", cb), "vec_id", 2L))
        .unionByName(IndexLog.tombstones(
          e.filter(col("vec_id") % 7 === 1).select("vec_id"), "vec_id", 3L))
      val codes = IndexLog.compact(log, "vec_id")
      val live = upd.filter(col("vec_id") % 7 =!= 1)
      val qs = live.filter(col("vec_id") < 10)
      val exact = Similarity
        .topKBruteForce(live, qs, "vec_id", "embedding", 5)
        .select("query_id", "neighbor_id")
      val ann = Similarity
        .topKIvfEncoded(upd, IndexLog.resolve(codes, "vec_id"), qs,
          "vec_id", "embedding", 5, cb, 2)
        .select("query_id", "neighbor_id")
        .localCheckpoint() // feeds both the hit join and the counter
      val dd = ann.agg(
        sum(when(col("neighbor_id") % 7 === 1, 1L).otherwise(0L))
          .as("n_deleted_neighbors"))
      exact
        .join(ann.withColumn("h", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("h"), lit(0L))).as("hits"))
        .crossJoin(broadcast(dd))
        .select(col("query_id"), col("n_exact"), col("hits"),
          round(col("hits").cast("double") / col("n_exact"), 6).as("recall"),
          col("n_deleted_neighbors"),
          (col("n_deleted_neighbors") === 0).as("clean"))
    },

    // ---- L235 IVF cell-balance audit: the standing index's health
    // scorecard — per cell its live-vector count and mass share, plus
    // the Faiss-style imbalance factor k·Σ(nᵢ∕N)² (1.0 = perfectly
    // balanced; the expected scan-cost multiplier for queries landing
    // proportionally to cell mass). A cell that swallowed the corpus
    // means the codebook went stale (q143's drift signal fires next);
    // an empty cell wastes a probe. Runs over the RESOLVED lifecycle
    // log (upserts + tombstones applied), so it audits exactly what
    // searches see. One groupBy over the code table; the verdict is
    // grid math on k integers, all exact.
    Q(
      "q254_index_balance",
      s"""WITH ${kmChain("h", " WHERE vec_id % 3 <> 0")},
         |av AS (
         |  SELECT vec_id,
         |    list_transform(CASE WHEN vec_id % 9 = 1
         |        THEN list_reverse(embedding) ELSE embedding END,
         |      x -> CAST(x AS DOUBLE)) AS dv
         |  FROM embeddings WHERE vec_id % 7 <> 1),
         |avn AS (SELECT vec_id, dv, ${dot64Sql("dv", "dv")} AS vn2 FROM av),
         |ccs AS (SELECT cluster AS cid, cv,
         |  sqrt(${dot64Sql("cv", "cv")}) AS cn FROM hc2),
         |${cellSql("code", "avn", "ccs", "", 1)},
         |g AS (
         |  SELECT cid, CAST(count(*) AS HUGEINT) AS n FROM code GROUP BY 1),
         |t AS (
         |  SELECT CAST(sum(n) AS HUGEINT) AS nt,
         |    CAST(sum(n * n) AS HUGEINT) AS n2 FROM g)
         |SELECT CAST(cid AS BIGINT) AS cid, CAST(n AS BIGINT) AS n_vectors,
         |  CAST((2 * n * 1000000 + nt) // (2 * nt) AS DOUBLE) / 1000000
         |    AS share,
         |  CAST((2 * 4 * n2 * 1000000 + nt * nt) // (2 * nt * nt)
         |    AS DOUBLE) / 1000000 AS imbalance_factor
         |FROM g, t""".stripMargin) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val I = DecimalType(38, 0)
      val hist = e.filter(col("vec_id") % 3 =!= 0)
      val (_, cb) = Similarity.kmeansLloyd(hist, "vec_id", "embedding",
        k = 4, iters = 2)
      val upd = e.withColumn("embedding",
        when(col("vec_id") % 9 === 1 && col("vec_id") % 7 =!= 1,
          reverse(col("embedding"))).otherwise(col("embedding")))
      val log = IndexLog.initial(
          Similarity.ivfEncode(hist, "vec_id", "embedding", cb), "vec_id")
        .unionByName(IndexLog.upserts(
          Similarity.ivfEncode(upd.filter(col("vec_id") % 3 === 0),
            "vec_id", "embedding", cb), "vec_id", 1L))
        .unionByName(IndexLog.upserts(
          Similarity.ivfEncode(
            upd.filter(col("vec_id") % 9 === 1 && col("vec_id") % 7 =!= 1),
            "vec_id", "embedding", cb), "vec_id", 2L))
        .unionByName(IndexLog.tombstones(
          e.filter(col("vec_id") % 7 === 1).select("vec_id"), "vec_id", 3L))
      val g = IndexLog.resolve(log, "vec_id")
        .groupBy("cid").agg(count(lit(1)).cast(I).as("n"))
      val t = g.agg(sum("n").cast(I).as("nt"),
        sum(col("n") * col("n")).cast(I).as("n2"))
      g.crossJoin(broadcast(t)).select(
        col("cid").cast("long").as("cid"),
        col("n").cast("long").as("n_vectors"),
        ExactRound.roundRatio(col("n"), col("nt"), 6)
          .cast("double").as("share"),
        ExactRound.roundRatio(lit(4).cast(I) * col("n2"),
            col("nt") * col("nt"), 6)
          .cast("double").as("imbalance_factor"))
    },

    // ---- L236 PQ distortion audit: q254 measures cell BALANCE, q189
    // measures end-to-end RECALL; this measures the quantizer itself —
    // per (subspace, code) the mean squared reconstruction error
    // |v_sub − centroid|², the quantity whose growth under corpus
    // drift is the retrain trigger for the PQ arm (the L123 drift
    // signal's codebook-side twin). Per-row error uses the kmeans
    // assignment's OWN distance tree (vn² + c·c − 2·v·c — identical
    // operand chains both engines), rounded at 9 dp into DECIMAL and
    // summed exactly; means and SSE shares via the half-away integer
    // divide. Codebooks broadcast; one scan + an 8-group aggregate.
    Q(
      "q255_pq_distortion", {
        import CurationQueries.{pqAssignSql, pqDotSql, pqUpdateSql, PqKsub, PqSubDim}
        def sub(j: Int) = {
          val lo = j * PqSubDim + 1; val hi = (j + 1) * PqSubDim
          s"""sv$j AS (SELECT vec_id, dvall[$lo:$hi] AS dv FROM vall),
             |vn$j AS MATERIALIZED (
             |  SELECT vec_id, dv, ${pqDotSql("dv", "dv")} AS vn2 FROM sv$j),
             |hvn$j AS MATERIALIZED (
             |  SELECT * FROM vn$j WHERE vec_id % 3 <> 0),
             |c0_$j AS (
             |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
             |    dv AS cv
             |  FROM sv$j WHERE vec_id % 3 <> 0 ORDER BY vec_id LIMIT $PqKsub),
             |${pqAssignSql(s"a1_$j", s"hvn$j", s"c0_$j")},
             |${pqUpdateSql(s"s1_$j", s"a1_$j", s"hvn$j", s"c0_$j", s"c1_$j")},
             |${pqAssignSql(s"a2_$j", s"hvn$j", s"c1_$j")},
             |${pqUpdateSql(s"s2_$j", s"a2_$j", s"hvn$j", s"c1_$j", s"c2_$j")},
             |${pqAssignSql(s"enc$j", s"vn$j", s"c2_$j")},
             |err$j AS (
             |  SELECT $j AS subspace, a.cluster AS code,
             |    CAST(round(t.vn2 + ${pqDotSql("c.cv", "c.cv")}
             |      - 2.0 * ${pqDotSql("t.dv", "c.cv")}, 9)
             |      AS DECIMAL(18,9)) AS e
             |  FROM enc$j a JOIN vn$j t USING (vec_id)
             |    JOIN c2_$j c ON a.cluster = c.cluster)""".stripMargin
        }
        s"""WITH vall AS (
           |  SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvall
           |  FROM embeddings),
           |${sub(0)},
           |${sub(1)},
           |err AS (SELECT * FROM err0 UNION ALL SELECT * FROM err1),
           |g AS (
           |  SELECT subspace, code, CAST(count(*) AS HUGEINT) AS n,
           |    CAST(sum(e) * 1000000000 AS HUGEINT) AS sse9
           |  FROM err GROUP BY 1, 2),
           |t AS (
           |  SELECT subspace, CAST(sum(sse9) AS HUGEINT) AS st
           |  FROM g GROUP BY 1)
           |SELECT CAST(g.subspace AS BIGINT) AS subspace,
           |  CAST(code AS BIGINT) AS code,
           |  CAST(n AS BIGINT) AS n_vectors,
           |  CAST((2 * sse9 + n * 1000) // (2 * n * 1000) AS DOUBLE)
           |    / 1000000 AS mse,
           |  CAST((2 * sse9 * 1000000 + st) // (2 * st) AS DOUBLE)
           |    / 1000000 AS sse_share
           |FROM g JOIN t ON g.subspace = t.subspace""".stripMargin
      }) { (spark, dir) =>
      import CurationQueries.PqSubDim
      val spk = spark
      import spk.implicits._
      val e = Tables.embeddings(spark, dir)
      val I = DecimalType(38, 0)
      val hist = e.filter(col("vec_id") % 3 =!= 0)
      val cbs = Similarity.pqTrain(hist, "vec_id", "embedding",
        dim = 64, m = 2, ksub = 4, iters = 2)
      def unscale9(c: org.apache.spark.sql.Column) =
        (c.cast(DecimalType(27, 9)) *
          lit(java.math.BigDecimal.TEN.pow(9)).cast(DecimalType(10, 0)))
          .cast(I)
      val err = (0 until 2).map { j =>
        val cents = cbs(j).map { case (c, cv) => (c.toLong, cv) }
          .toDF("code", "cv")
        e.select(col("vec_id"),
            slice(Similarity.toDouble(col("embedding")),
              j * PqSubDim + 1, PqSubDim).as("dv"),
            element_at(Similarity.pqEncode(col("embedding"), cbs, 64), j + 1)
              .cast("long").as("code"))
          .join(broadcast(cents), "code")
          .select(lit(j.toLong).as("subspace"), col("code"),
            round(Similarity.dot(col("dv"), col("dv")) +
              Similarity.dot(col("cv"), col("cv")) -
              lit(2.0) * Similarity.dot(col("dv"), col("cv")), 9)
              .cast(DecimalType(18, 9)).as("e"))
      }.reduce(_ unionByName _)
      val g = err.groupBy("subspace", "code")
        .agg(count(lit(1)).as("n"), sum("e").as("sse"))
      val t = g.groupBy("subspace")
        .agg(sum(col("sse")).as("st"))
      g.join(broadcast(t), "subspace").select(
        col("subspace"), col("code"),
        col("n").cast("long").as("n_vectors"),
        ExactRound.roundRatioSigned(col("sse"), 9, col("n"), 6)
          .cast("double").as("mse"),
        ExactRound.roundRatio(unscale9(col("sse")), unscale9(col("st")), 6)
          .cast("double").as("sse_share"))
    },

    // ---- L237 index reassignment churn: q223's within_tol gate says
    // whether a retrain is NEEDED; this prices what a retrain COSTS —
    // the cell-to-cell transition matrix between the stale
    // (history-trained) and retrained assignments of the same corpus,
    // and the churn fraction: every moved vector is one re-encoded,
    // re-shipped index entry, so churn × corpus size is the reindex
    // I/O bill. Two shuffle-free encodes (broadcast codebooks), one
    // vec_id join, a k×k aggregate — linear, and the verdict is grid
    // math on ≤16 integers.
    Q(
      "q256_index_churn",
      s"""WITH ${kmChain("h", " WHERE vec_id % 3 <> 0")},
         |${kmChain("r", "")},
         |ccs AS (SELECT cluster AS cid, cv,
         |  sqrt(${dot64Sql("cv", "cv")}) AS cn FROM hc2),
         |ccr AS (SELECT cluster AS cid, cv,
         |  sqrt(${dot64Sql("cv", "cv")}) AS cn FROM rc2),
         |${cellSql("cs", "rvn", "ccs", "", 1)},
         |${cellSql("cr", "rvn", "ccr", "", 1)},
         |j AS (
         |  SELECT s.cid AS cid_stale, r.cid AS cid_retrain,
         |    CAST(count(*) AS HUGEINT) AS n
         |  FROM cs s JOIN cr r USING (vec_id) GROUP BY 1, 2),
         |t AS (
         |  SELECT CAST(sum(n) AS HUGEINT) AS nt,
         |    CAST(sum(CASE WHEN cid_stale <> cid_retrain THEN n ELSE 0 END)
         |      AS HUGEINT) AS moved
         |  FROM j)
         |SELECT CAST(cid_stale AS BIGINT) AS cid_stale,
         |  CAST(cid_retrain AS BIGINT) AS cid_retrain,
         |  CAST(n AS BIGINT) AS n_vectors,
         |  CAST((2 * n * 1000000 + nt) // (2 * nt) AS DOUBLE) / 1000000
         |    AS frac,
         |  CAST((2 * moved * 1000000 + nt) // (2 * nt) AS DOUBLE) / 1000000
         |    AS churn
         |FROM j, t""".stripMargin) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val I = DecimalType(38, 0)
      val hist = e.filter(col("vec_id") % 3 =!= 0)
      val (_, stale) = Similarity.kmeansLloyd(hist, "vec_id", "embedding",
        k = 4, iters = 2)
      val (_, retrain) = Similarity.kmeansLloyd(e, "vec_id", "embedding",
        k = 4, iters = 2)
      val j = Similarity.ivfEncode(e, "vec_id", "embedding", stale)
        .withColumnRenamed("cid", "cid_stale")
        .join(Similarity.ivfEncode(e, "vec_id", "embedding", retrain)
          .withColumnRenamed("cid", "cid_retrain"), "vec_id")
        .groupBy("cid_stale", "cid_retrain")
        .agg(count(lit(1)).cast(I).as("n"))
      val t = j.agg(sum("n").cast(I).as("nt"),
        sum(when(col("cid_stale") =!= col("cid_retrain"), col("n"))
          .otherwise(lit(0).cast(I))).cast(I).as("moved"))
      j.crossJoin(broadcast(t)).select(
        col("cid_stale").cast("long").as("cid_stale"),
        col("cid_retrain").cast("long").as("cid_retrain"),
        col("n").cast("long").as("n_vectors"),
        ExactRound.roundRatio(col("n"), col("nt"), 6)
          .cast("double").as("frac"),
        ExactRound.roundRatio(col("moved"), col("nt"), 6)
          .cast("double").as("churn"))
    },

    // ---- L238 degree-cap planner: q230 prices the BAND grid; this
    // prices the CAP — the knob that killed q230's own 32× quadratic.
    // From the SimHash band-bucket size histogram alone (never the
    // pairs), for each cap c: the capped stream's candidate volume
    // Σ_buckets [c'·s − c'(c'+1)∕2] with c' = min(c, s) (pairs whose
    // lower-id member holds a representative rank), the exact
    // within-bucket pair mass Σ C(s,2), their ratio = the cap's
    // within-bucket pair recall, the number of buckets the cap
    // actually truncates, and the worst bucket size (the mega-bucket
    // the cap defuses). All integers off a (band, key)-keyed count —
    // the planner costs one histogram however large the corpus.
    Q(
      "q257_cap_planner",
      s"""WITH ${LlmQueries.simhashCtes},
         |bk AS (
         |  SELECT band, band_key, CAST(count(*) AS HUGEINT) AS s
         |  FROM banded GROUP BY 1, 2),
         |caps(cap) AS (VALUES (4), (8), (16), (32)),
         |g AS (
         |  SELECT cap,
         |    CAST(sum(least(s, cap) * s
         |      - (least(s, cap) * (least(s, cap) + 1)) // 2) AS HUGEINT)
         |      AS n_candidates,
         |    CAST(sum((s * (s - 1)) // 2) AS HUGEINT) AS n_exact_pairs,
         |    CAST(sum(CASE WHEN s > cap THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_buckets_capped,
         |    CAST(max(s) AS BIGINT) AS worst_bucket
         |  FROM bk, caps GROUP BY 1)
         |SELECT CAST(cap AS BIGINT) AS cap,
         |  CAST(n_candidates AS BIGINT) AS n_candidates,
         |  CAST(n_exact_pairs AS BIGINT) AS n_exact_pairs,
         |  CAST((2 * n_candidates * 1000000 + n_exact_pairs)
         |    // (2 * n_exact_pairs) AS DOUBLE) / 1000000 AS pair_recall,
         |  n_buckets_capped, worst_bucket
         |FROM g""".stripMargin) { (spark, dir) =>
      val spk = spark
      import spk.implicits._
      val I = DecimalType(38, 0)
      val bitsPerBand = Dedup.SimHashBits / 4
      val hashed = Tables.documents(spark, dir)
        .withColumn("th", call_function("graft_token_hashes", col("text")))
        .filter(size(col("th")) > 0)
        .withColumn("sim", Dedup.simhash(col("th")))
      def bandKey(b: Int) =
        shiftright(col("sim"), b * bitsPerBand) % (1 << bitsPerBand)
      val bk = hashed
        .select(posexplode(array((0 until 4).map(bandKey): _*)))
        .groupBy(col("pos").as("band"), col("col").as("band_key"))
        .agg(count(lit(1)).as("s"))
      val caps = Seq(4L, 8L, 16L, 32L).toDF("cap")
      val g = bk.crossJoin(broadcast(caps))
        .withColumn("c", least(col("s"), col("cap")))
        .groupBy("cap")
        .agg(
          sum(col("c") * col("s") -
            expr("(c * (c + 1)) div 2")).cast(I).as("n_candidates"),
          sum(expr("(s * (s - 1)) div 2")).cast(I).as("n_exact_pairs"),
          sum(when(col("s") > col("cap"), 1L).otherwise(0L))
            .as("n_buckets_capped"),
          max(col("s")).as("worst_bucket"))
      g.select(col("cap"),
        col("n_candidates").cast("long").as("n_candidates"),
        col("n_exact_pairs").cast("long").as("n_exact_pairs"),
        ExactRound.roundRatio(col("n_candidates"), col("n_exact_pairs"), 6)
          .cast("double").as("pair_recall"),
        col("n_buckets_capped"), col("worst_bucket"))
    },

    // ---- L249 greedy k-center diversity seeds (Gonzalez farthest-
    // first): the selection dual of q113 — k-means seeks density,
    // k-center seeks COVERAGE, the right selector for annotation
    // batches, eval panels, and hard-case mining where a dense cluster
    // should not buy extra seats. 8 picks, each the corpus argmax of
    // the min squared distance to the chosen set; ties to the lower
    // id, distances on the kmeans operand tree (vn2 + cn2 − 2·dot,
    // engine-sequential dot kernels) so the oracle replays all 8 picks
    // move for move — an ITERATIVE greedy selection pinned
    // cross-engine exactly, like q113's Lloyd loop. k bounded-heap
    // scans of the cached vector table; driver state is k·d doubles.
    Q(
      "q268_kcenter_seeds", {
        val k = 8
        val ctes = new StringBuilder
        ctes ++= s"""kv AS MATERIALIZED (
           |  SELECT vec_id AS vid,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           |  FROM embeddings),
           |kvn AS MATERIALIZED (
           |  SELECT vid, dv, ${dot64Sql("dv", "dv")} AS vn2 FROM kv),
           |c1 AS MATERIALIZED (
           |  SELECT vid, dv, vn2, 0.0 AS pd FROM kvn ORDER BY vid LIMIT 1),
           |d1 AS MATERIALIZED (
           |  SELECT t.vid, t.dv, t.vn2,
           |    t.vn2 + c.vn2 - 2.0 * ${dot64Sql("t.dv", "c.dv")} AS md
           |  FROM kvn t, c1 c)""".stripMargin
        for (i <- 2 to k) {
          val excl = (1 until i).map(j => s"SELECT vid FROM c$j")
            .mkString(" UNION ALL ")
          ctes ++= s""",
           |c$i AS MATERIALIZED (
           |  SELECT vid, dv, vn2, md AS pd FROM (
           |    SELECT d.*, row_number() OVER (ORDER BY md DESC, vid) AS rn
           |    FROM d${i - 1} d WHERE vid NOT IN ($excl)) x WHERE rn = 1)""".stripMargin
          if (i < k) ctes ++= s""",
           |d$i AS MATERIALIZED (
           |  SELECT t.vid, t.dv, t.vn2,
           |    least(t.md, t.vn2 + c.vn2 - 2.0 * ${dot64Sql("t.dv", "c.dv")})
           |      AS md
           |  FROM d${i - 1} t, c$i c)""".stripMargin
        }
        val sel = (1 to k).map(i =>
          s"SELECT CAST($i AS BIGINT) AS pick_order, vid AS vec_id, " +
            s"round(pd, 6) AS min_dist2 FROM c$i").mkString(" UNION ALL ")
        s"WITH $ctes\n$sel"
      }) { (spark, dir) =>
      // kernel: ops/Similarity.kCenterGreedy (coverage-vs-kmeans and
      // duplicate-vector semantics pinned in SimilaritySpec)
      Similarity.kCenterGreedy(
          Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8)
        .select(col("pick_order"), col("vec_id"),
          round(col("min_dist2"), 6).as("min_dist2"))
    },

    // ---- L254 principal-axis extraction (power iteration): closes
    // the whitening-decision loop — q227 ranks the covariance
    // DIAGONAL, q243 the off-diagonal MASS; this extracts the actual
    // top eigenvector and its variance share λ₁∕trace, the number that
    // says whether PQ/IVF should rotate first. The matrix is the
    // ALREADY-EXACT 6-dp covariance grid (q243's signed integer
    // divides — both engines mint identical DECIMALs, so the doubles
    // entering the iteration are identical bits), the iteration is 8
    // ∞-norm-normalized matvecs with FIXED j-ascending summation
    // order (Scala foldLeft ↔ DuckDB list_reduce — the only way two
    // engines agree on a float sum), sign canonicalized at the
    // max-|loading| dim (ties to lowest), λ by the Rayleigh quotient
    // with the same ordered folds. The corpus pays ONE compiled
    // pair-products pass; the 64×64 eigen-solve is parameter-sized
    // driver math (the kmeansLloyd precedent).
    Q(
      "q273_principal_axis", {
        val iters = 8
        val matvec = (r: String, v: String) =>
          s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), " +
            s"j -> $r[j] * $v[j])), (a, x) -> a + x)"
        val b = new StringBuilder
        b ++= s"""WITH u AS (
           |  SELECT vec_id, i,
           |    CAST(CAST(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(9,5))
           |      * 100000 AS HUGEINT) AS HUGEINT) AS uv
           |  FROM embeddings, range(1, 65) t(i)),
           |p AS MATERIALIZED (
           |  SELECT a.i AS i, b.i AS j, CAST(count(*) AS HUGEINT) AS n,
           |    CAST(sum(a.uv * b.uv) AS HUGEINT) AS sij,
           |    CAST(sum(a.uv) AS HUGEINT) AS si,
           |    CAST(sum(b.uv) AS HUGEINT) AS sj
           |  FROM u a JOIN u b ON a.vec_id = b.vec_id AND b.i > a.i
           |  GROUP BY 1, 2),
           |cd AS (
           |  SELECT i, j,
           |    CAST(CASE WHEN n * sij - si * sj >= 0
           |      THEN (2 * (n * sij - si * sj) * 1000000
           |        + n * n * 10000000000) // (2 * n * n * 10000000000)
           |      ELSE -((2 * (si * sj - n * sij) * 1000000
           |        + n * n * 10000000000) // (2 * n * n * 10000000000))
           |      END AS DOUBLE) / 1000000 AS cv
           |  FROM p),
           |dg AS (
           |  SELECT i, CAST(count(*) AS HUGEINT) AS n,
           |    CAST(sum(uv) AS HUGEINT) AS s1,
           |    CAST(sum(uv * uv) AS HUGEINT) AS s2
           |  FROM u GROUP BY 1),
           |dv AS (
           |  SELECT i,
           |    CAST((2 * (n * s2 - s1 * s1) * 1000000 + n * n * 10000000000)
           |      // (2 * n * n * 10000000000) AS DOUBLE) / 1000000 AS cv
           |  FROM dg),
           |mat AS (
           |  SELECT i, j, cv FROM cd
           |  UNION ALL SELECT j AS i, i AS j, cv FROM cd
           |  UNION ALL SELECT i, i AS j, cv FROM dv),
           |mrows AS MATERIALIZED (
           |  SELECT i, list(cv ORDER BY j) AS r FROM mat GROUP BY 1),
           |v0 AS (SELECT list_transform(range(1, 65), x -> 1.0) AS v)""".stripMargin
        for (t <- 1 to iters) {
          b ++= s""",
           |w$t AS (SELECT i, ${matvec("r", "v")} AS w
           |  FROM mrows, v${t - 1}),
           |n$t AS (SELECT max(abs(w)) AS mx FROM w$t),
           |v$t AS (SELECT list(w / mx ORDER BY i) AS v FROM w$t, n$t)""".stripMargin
        }
        b ++= s""",
           |mv AS (SELECT i, ${matvec("r", "v")} AS w FROM mrows, v$iters),
           |mvl AS (SELECT list(w ORDER BY i) AS wl FROM mv),
           |ray AS (
           |  SELECT
           |    ${matvec("v", "wl")} AS lamn,
           |    ${matvec("v", "v")} AS lamd
           |  FROM v$iters, mvl),
           |tr AS (
           |  SELECT list_reduce(list_prepend(0.0,
           |    (SELECT list(cv ORDER BY i) FROM dv)), (a, x) -> a + x)
           |    AS trace),
           |sgn AS (
           |  SELECT CASE WHEN (
           |    SELECT v[i] FROM v$iters, range(1, 65) t(i)
           |    WHERE abs(v[i]) = 1.0 ORDER BY i LIMIT 1) < 0
           |    THEN -1.0 ELSE 1.0 END AS s)
           |SELECT CAST(i AS BIGINT) AS dim, s * v[i] AS loading,
           |  (lamn / lamd) / trace AS ev_share
           |FROM v$iters, ray, tr, sgn, range(1, 65) t(i)""".stripMargin
        b.toString
      }) { (spark, dir) =>
      val spk = spark
      import spk.implicits._
      val e = Tables.embeddings(spark, dir)
      val I = DecimalType(38, 0)
      def unscale5(c: org.apache.spark.sql.Column) =
        (c.cast(DecimalType(32, 5)) *
          lit(java.math.BigDecimal.TEN.pow(5)).cast(DecimalType(6, 0)))
          .cast(I)
      val posMap = (for (i <- 1 to 64; j <- (i + 1) to 64) yield (i, j))
        .zipWithIndex
        .map { case ((i, j), p) => (p, i.toLong, j.toLong) }
        .toDF("pos", "i", "j")
      val pairAgg = graft.ops.PairMoments.pass(e, "embedding")
        .withColumnRenamed("s", "sij10")
        .join(broadcast(posMap), "pos")
      val m = e.select(posexplode(col("embedding")))
        .select((col("pos") + 1).cast("long").as("i"),
          col("col").cast("double").cast(DecimalType(9, 5)).as("v"))
        .groupBy("i").agg(
          count(lit(1)).cast(I).as("n"),
          sum(col("v").cast(DecimalType(27, 5))).as("s1"),
          sum((col("v") * col("v")).cast(DecimalType(27, 10))).as("s2"))
        .localCheckpoint()
      val den = col("n") * col("n") *
        lit(java.math.BigDecimal.TEN.pow(10)).cast(I)
      def signed6(num: org.apache.spark.sql.Column) =
        when(num >= 0, ExactRound.roundRatio(num, den, 6))
          .otherwise(-ExactRound.roundRatio(-num, den, 6)).cast("double")
      // off-diagonal 6-dp covariances (2016 rows — parameter-sized)
      val off = pairAgg
        .join(broadcast(m.select(col("i"), unscale5(col("s1")).as("si5"))), "i")
        .join(broadcast(m.select(col("i").as("j"),
          unscale5(col("s1")).as("sj5"))), "j")
        .select(col("i").cast("int"), col("j").cast("int"),
          signed6(col("n").cast(I) * col("sij10") - col("si5") * col("sj5"))
            .as("cv"))
        .as[(Int, Int, Double)].collect()
      // diagonal 6-dp variances: n·Σu² − (Σu)² over the scale-5 grid
      // (Σu² is DECIMAL(27,10) exact → unscale by 10^10)
      val s2i = (col("s2").cast(DecimalType(36, 10)) *
        lit(java.math.BigDecimal.TEN.pow(10)).cast(DecimalType(11, 0)))
        .cast(I)
      val diag = m.select(col("i").cast("int"),
        signed6(col("n") * s2i - unscale5(col("s1")) * unscale5(col("s1")))
          .as("cv"))
        .as[(Int, Double)].collect()
      // 8 ∞-norm power iterations with j-ascending summation order
      val mm = Array.ofDim[Double](64, 64)
      off.foreach { case (i, j, c) => mm(i - 1)(j - 1) = c; mm(j - 1)(i - 1) = c }
      diag.foreach { case (i, c) => mm(i - 1)(i - 1) = c }
      var v = Array.fill(64)(1.0)
      def matvec(x: Array[Double]): Array[Double] =
        Array.tabulate(64)(i =>
          (0 until 64).foldLeft(0.0)((a, j) => a + mm(i)(j) * x(j)))
      for (_ <- 1 to 8) {
        val w = matvec(v)
        val mx = w.map(math.abs).max
        v = w.map(_ / mx)
      }
      val mxA = v.map(math.abs).max
      val lead = v(v.indexWhere(x => math.abs(x) == mxA))
      val s = if (lead < 0) -1.0 else 1.0
      val mv = matvec(v)
      val lamn = (0 until 64).foldLeft(0.0)((a, i) => a + v(i) * mv(i))
      val lamd = (0 until 64).foldLeft(0.0)((a, i) => a + v(i) * v(i))
      val trace = diag.sortBy(_._1)
        .foldLeft(0.0)((a, d) => a + d._2)
      val share = (lamn / lamd) / trace
      (1 to 64).map(i => (i.toLong, s * v(i - 1), share))
        .toDF("dim", "loading", "ev_share")
    })
}

package graft.queries

import graft.Tables
import graft.ops._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-curation layer round 3: near-dup CLUSTER resolution (pairs →
  * connected components → canonical survivors), TF-IDF term scoring,
  * deterministic stratified sampling, partition-pruned materialization,
  * and sketch-based heavy hitters — the operations that turn the dedup /
  * text primitives in LlmQueries into an end-to-end training-set build.
  */
object CurationQueries {
  import graft.ops.Text.{Mult, P}
  import OracleSql._

  /** Winnowing fingerprints (k = 3, w = 4, rightmost-min key
    * (h+1)·2²² − p, df ≤ 64): `kept(doc_id, h)` and per-doc counts
    * `nf(doc_id, nfp)` — the oracle of `Dedup.winnowingPairs` (q297/q303). */
  private val winnowCtes: String = {
    val C = 1L << 22
    s"""toks AS (
       |  SELECT doc_id, $toksSql AS t FROM documents),
       |shp AS (
       |  SELECT doc_id, i AS p,
       |    ${strHashSql(shingle3Sql)}
       |      AS h
       |  FROM toks, unnest(range(1, len(t) - 1)) u(i)),
       |win AS (
       |  SELECT doc_id, p,
       |    min((h + 1) * $C - p) OVER (
       |      PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS selkey,
       |    count(*) OVER (PARTITION BY doc_id) AS m
       |  FROM shp),
       |fp AS (
       |  SELECT DISTINCT doc_id, selkey // $C AS h
       |  FROM win WHERE p <= greatest(m - 3, 1)),
       |kept AS (
       |  SELECT doc_id, h FROM (
       |    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df
       |    FROM fp)
       |  WHERE df <= 64),
       |nf AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
       |  FROM kept GROUP BY 1)""".stripMargin
  }

  /** Recall of the approximate top-k `ak` against the exact `ek`, per
    * query: (query_id, n_exact, n_hit, recall). */
  private val recallSql =
    """SELECT e.query_id,
      |  CAST(count(*) AS BIGINT) AS n_exact,
      |  CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
      |  round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 6) AS recall
      |FROM ek e LEFT JOIN ak a
      |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      |GROUP BY e.query_id""".stripMargin

  /** Token lines `lines(doc_id, pos, line)`: each doc's tokens of
    * `toks(doc_id, t)` chunked into 10-token lines (the oracle of
    * `tokenChunkLines(docs, 10)`). */
  private val tokenLinesCte =
    """lines AS (
      |  SELECT doc_id, CAST(k + 1 AS BIGINT) AS pos,
      |    array_to_string(t[(k*10+1):(k*10+10)], ' ') AS line
      |  FROM toks, unnest(range(0, (len(t) + 9) // 10)) u(k))""".stripMargin

  /** Exact line dedup: a line survives iff it is first among its equal
    * values under the ownership `order` (q308 one-shot; q310's
    * arrival-priority rebuild). */
  private def lineDedupOracleSql(order: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS t FROM documents),
       |$tokenLinesCte,
       |k AS (
       |  SELECT doc_id, pos, line,
       |    row_number() OVER (PARTITION BY md5(line)
       |      ORDER BY $order) = 1 AS kept
       |  FROM lines),
       |p AS (
       |  SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_lines,
       |    CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
       |    coalesce(string_agg(line, ' ' ORDER BY pos)
       |      FILTER (WHERE kept), '') AS clean_text
       |  FROM k GROUP BY 1)
       |SELECT doc_id, n_lines, n_kept,
       |  n_lines - n_kept AS n_removed,
       |  CAST((2 * n_kept * 1000000 + n_lines) // (2 * n_lines)
       |    AS DOUBLE) / 1000000 AS kept_frac,
       |  clean_text
       |FROM p""".stripMargin

  /** Per-token repetition features `tlp(doc_id, p, plen, h2, gmass, h5)`
    * over `toks(doc_id, t)`: token length, the 2-gram hash and mass and
    * the 5-gram hash starting at each position. */
  private val tokenNgramCte =
    """tlp AS (
      |  SELECT doc_id, i AS p, CAST(length(t[i]) AS BIGINT) AS plen,
      |    CASE WHEN i + 1 <= len(t) THEN
      |      CAST(concat('0x', substr(md5(
      |        array_to_string(t[i:i+1], ' ')),1,8)) AS BIGINT)
      |        % 2147483647 END AS h2,
      |    CASE WHEN i + 1 <= len(t) THEN
      |      CAST(length(t[i]) + length(t[i+1]) AS BIGINT) END AS gmass,
      |    CASE WHEN i + 4 <= len(t) THEN
      |      CAST(concat('0x', substr(md5(
      |        array_to_string(t[i:i+4], ' ')),1,8)) AS BIGINT)
      |        % 2147483647 END AS h5
      |  FROM toks, unnest(CASE WHEN len(t) = 0 THEN []
      |    ELSE range(1, len(t)+1) END) u(i))""".stripMargin

  /** One PQ subspace's 2-iteration training + encoding chain. */
  private def pqSubspaceSql(j: Int): String = {
    val lo = j * PqSubDim + 1; val hi = (j + 1) * PqSubDim
    s"""sv$j AS (SELECT vec_id, dvall[$lo:$hi] AS dv FROM vall),
       |vn$j AS MATERIALIZED (
       |  SELECT vec_id, dv, ${pqDotSql("dv", "dv")} AS vn2 FROM sv$j),
       |c0_$j AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
       |    dv AS cv
       |  FROM sv$j ORDER BY vec_id LIMIT $PqKsub),
       |${pqAssignSql(s"a1_$j", s"vn$j", s"c0_$j")},
       |${pqUpdateSql(s"s1_$j", s"a1_$j", s"vn$j", s"c0_$j", s"c1_$j")},
       |${pqAssignSql(s"a2_$j", s"vn$j", s"c1_$j")},
       |${pqUpdateSql(s"s2_$j", s"a2_$j", s"vn$j", s"c1_$j", s"c2_$j")},
       |${pqAssignSql(s"enc$j", s"vn$j", s"c2_$j")}""".stripMargin
  }

  private val pqCtes: String =
    s"""vall AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvall
       |  FROM embeddings),
       |${pqSubspaceSql(0)},
       |${pqSubspaceSql(1)}""".stripMargin

  /** ADC scoring CTE over the trained chain (probes vec_id < 10, self
    * excluded) — terms summed subspace-0-first, matching pqAdcDist. */
  private val pqAdcCte: String =
    s"""adc AS (
       |  SELECT q0.vec_id AS query_id, e0.vec_id AS neighbor_id,
       |    (q0.vn2 + ${pqDotSql("k0.cv", "k0.cv")}
       |       - 2.0 * ${pqDotSql("q0.dv", "k0.cv")})
       |    + (q1.vn2 + ${pqDotSql("k1.cv", "k1.cv")}
       |       - 2.0 * ${pqDotSql("q1.dv", "k1.cv")}) AS adc_d2
       |  FROM vn0 q0
       |  JOIN vn1 q1 ON q1.vec_id = q0.vec_id
       |  JOIN enc0 e0 ON e0.vec_id <> q0.vec_id
       |  JOIN enc1 e1 ON e1.vec_id = e0.vec_id
       |  JOIN c2_0 k0 ON k0.cluster = e0.cluster
       |  JOIN c2_1 k1 ON k1.cluster = e1.cluster
       |  WHERE q0.vec_id < 10)""".stripMargin

  /** q208 constants: cut depth, bounded query set, and the shared
    * discount literals — 1/log2(i+1) at 9 decimals and their prefix
    * sums, minted once so neither engine evaluates a log at runtime. */
  private val NdcgK = 10
  private val NdcgQueries = 20
  private val ndcgDiscounts: Seq[java.math.BigDecimal] =
    (1 to NdcgK).map { i =>
      new java.math.BigDecimal(1.0 / (math.log(i + 1.0) / math.log(2.0)))
        .setScale(9, java.math.RoundingMode.HALF_UP)
    }
  private val ndcgCum: Seq[java.math.BigDecimal] =
    ndcgDiscounts.scanLeft(java.math.BigDecimal.ZERO)(_.add(_)).tail

  /** q211 constants: prefix dims audited against the full 64, and the
    * bounded query set. */
  private val MatDims = Seq(8, 16, 32)
  private val MatQueries = 20

  val all: Seq[Q] = Seq(

    // ---- Near-dup clusters: SimHash pairs (the q28 edge list) → minimum
    // -label connected components → one canonical survivor per cluster.
    // The oracle replays the same fixpoint as a recursive transitive
    // closure (min reachable id), over the same pair CTEs as q28.
    Q(
      "q49_dedup_clusters",
      s"""WITH RECURSIVE $simhashCtes,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b USING (band, band_key)
         |  WHERE a.doc_id < b.doc_id
         |    AND bit_count(xor(a.sim, b.sim)) <= 3),
         |${reachCtes("pairs")},
         |cmp AS (
         |  SELECT id, min(comp) AS component FROM reach GROUP BY id)
         |SELECT d.doc_id,
         |  coalesce(c.component, d.doc_id) AS component,
         |  coalesce(c.component, d.doc_id) = d.doc_id AS keep
         |FROM documents d LEFT JOIN cmp c ON c.id = d.doc_id""".stripMargin) {
      (spark, dir) =>
        val docs = Tables.documents(spark, dir)
        val pairs = Dedup.simhashPairs(docs, "doc_id", "text",
          bands = 4, maxHamming = 3)
        Components.resolveClusters(docs, "doc_id", pairs, "id_a", "id_b")
    },

    // ---- TF-IDF top terms per document: corpus df/idf + per-doc tf in
    // two hash aggregates, top-3 via per-doc window. Both engines compute
    // tf · ln((N+1)/(df+1)) on doubles from the same integers; round(6)
    // absorbs any last-ulp ln() divergence.
    Q(
      "q50_tfidf_terms",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |${termFreqCte()},
         |$docFreqCte,
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
         |scored AS (
         |  SELECT doc_id, term,
         |    tf * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) AS tfidf
         |  FROM tf JOIN dfx USING (term), nd),
         |ranked AS (
         |  SELECT doc_id, term, tfidf,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
         |  FROM scored)
         |SELECT doc_id, CAST(rn AS INT) AS rank, term, round(tfidf, 6) AS tfidf
         |FROM ranked WHERE rn <= 3""".stripMargin) { (spark, dir) =>
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      // cached: df, N, and the scoring join all read tf, but their
      // different column prunings defeat exchange reuse — uncached, the
      // tokenize+explode+aggregate pipeline runs 3x (6 document scans)
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")).cache()
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = tf.select(countDistinct(col("doc_id")).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
      tf.join(dfT, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"),
          round(col("tfidf"), 6).as("tfidf"))
    },

    // ---- Deterministic stratified sample: per-language keep rates as a
    // pure hash gate on the key (Sample.stratifiedSample) — reproducible
    // across runs, partitionings, and engines; zero shuffle.
    Q(
      "q51_stratified_sample",
      s"""SELECT doc_id, lang FROM documents
         |WHERE ((doc_id * $Mult) % $P) % 100 <
         |  CASE WHEN lang = 'en' THEN 20 WHEN lang = 'zh' THEN 40 ELSE 60 END""".stripMargin) {
      (spark, dir) =>
        Sample.stratifiedSample(
          Tables.documents(spark, dir).select("doc_id", "lang"),
          "doc_id", "lang", Seq("en" -> 20, "zh" -> 40), defaultPct = 60)
    },

    // ---- Partition-pruned materialization: write events partitioned by
    // event_type (the M5 CTAS shape at lake layout), read back ONE
    // partition — the scan must touch only that directory (pruning
    // asserted in PlansSpec). At 100 TB this is the difference between
    // scanning a partition and scanning the lake.
    Q(
      "q52_partitioned_prune",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_type = 'purchase' GROUP BY 1""".stripMargin) {
      (spark, dir) =>
        val out = graft.Tmp.dir("graft-q52").toString
        // repartition on the partition column first (same discipline as
        // Scale.writeBucketed): each event_type lands in one task → one
        // file per partition value, instead of tasks × values small files
        Tables.events(spark, dir).select("event_id", "user_id", "event_type", "value")
          .repartition(col("event_type"))
          .write.mode("overwrite").partitionBy("event_type").parquet(out)
        spark.read.parquet(out)
          .filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_events"),
            sum(col("value").cast(DecimalType(12, 2))).cast("double").as("total_value"))
    },

    // ---- BM25 relevance scoring (Robertson; Lucene's smoothed idf):
    // the retrieval-grade extension of q50's TF-IDF — same two hash
    // aggregates plus per-doc length normalization against the corpus
    // average. Expression trees are written identically in both engines
    // (same literal k1=1.2 b=0.75, same division order); round(6)
    // absorbs last-ulp ln() divergence.
    Q(
      "q54_bm25_terms",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |$bm25StatsCtes,
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    $bm25Sql AS bm25
         |  FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id), stats),
         |ranked AS (
         |  SELECT doc_id, term, bm25,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, term) AS rn
         |  FROM scored)
         |SELECT doc_id, CAST(rn AS INT) AS rank, term, round(bm25, 6) AS bm25
         |FROM ranked WHERE rn <= 3""".stripMargin) { (spark, dir) =>
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      // cached for the same reason as q50 — FOUR consumers here
      // (dl, df, corpus stats, scoring join)
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")).cache()
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val w = Window.partitionBy("doc_id").orderBy(col("bm25").desc, col("term"))
      tf.join(dfT, "term").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("bm25",
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
            * (col("tf") * 2.2)
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double")
                / (col("sum_dl").cast("double") / col("n_docs"))))))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"),
          round(col("bm25"), 6).as("bm25"))
    },

    // ---- Per-label embedding centroids: element-wise mean via
    // posexplode → (label, dim) hash aggregate — the vector aggregate
    // layout that scales (shuffle keyed on (label, dim), never a
    // collect_list of a label's vectors). Exact DECIMAL sums make the
    // mean partial-merge-order-independent; both engines divide the
    // same decimal-exact sum as double.
    Q(
      "q55_label_centroids",
      """SELECT label, CAST(i - 1 AS INT) AS dim,
        |  round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE)
        |    / count(*), 6) AS mean,
        |  CAST(count(*) AS BIGINT) AS n_vectors
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      Tables.embeddings(spark, dir)
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos").cast("int").as("dim"))
        .agg(
          round(sum(col("col").cast("double").cast(DecimalType(27, 10)))
            .cast("double") / count(lit(1)), 6).as("mean"),
          count(lit(1)).as("n_vectors"))
    },

    // ---- Incremental near-dup: a NEW batch (every 4th doc re-ingested
    // under a shifted id) deduplicated AGAINST the standing corpus —
    // banded-LSH candidates across the corpus×batch join, never a
    // corpus self-join per batch (Dedup.nearDupPairsAgainst).
    Q(
      "q71_incremental_dedup", {
        def hvSig(prefix: String, src: String): String = {
          import LlmQueries.{bands, r}
          val tok = toksSql
          val banded = (0 until bands).map(b =>
            s"SELECT doc_id, $b AS band, array_to_string(sig[${b * r + 1}:${b * r + r}], ',') AS band_key FROM ${prefix}_sigs")
            .mkString("\n  UNION ALL ")
          s"""${prefix}_toks AS (
             |  SELECT doc_id, $tok AS t FROM $src),
             |${prefix}_sh AS (
             |  SELECT doc_id, $shinglesSql AS s FROM ${prefix}_toks),
             |${prefix}_hv AS (
             |  SELECT doc_id,
             |    list_sort(list_distinct(list_transform(s, x -> ${strHashSql("x")}))) AS hv
             |  FROM ${prefix}_sh WHERE len(s) > 0),
             |${prefix}_sigs AS (
             |  SELECT doc_id, hv, $sigSql AS sig FROM ${prefix}_hv),
             |${prefix}_banded AS (
             |  $banded)""".stripMargin
        }
        s"""WITH batch0 AS (
           |  SELECT doc_id + 20000 AS doc_id, text FROM documents WHERE doc_id % 4 = 0),
           |${hvSig("c", "documents")},
           |${hvSig("b", "batch0")},
           |cand AS (
           |  SELECT DISTINCT c.doc_id AS corpus_id, b.doc_id AS batch_id
           |  FROM c_banded c JOIN b_banded b USING (band, band_key))
           |SELECT corpus_id, batch_id, jaccard FROM (
           |  SELECT corpus_id, batch_id, $jaccardSql AS jaccard
           |  FROM cand
           |  JOIN c_hv ha ON ha.doc_id = corpus_id
           |  JOIN b_hv hb ON hb.doc_id = batch_id)
           |WHERE jaccard >= 0.5""".stripMargin
      }) { (spark, dir) =>
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
      val batch = docs.filter(col("doc_id") % 4 === 0)
        .withColumn("doc_id", col("doc_id") + 20000)
      Dedup.nearDupPairsAgainst(docs, batch, "doc_id", "text", threshold = 0.5)
    },

    // ---- Unigram log-probability per document — the corpus-statistics
    // quality score perplexity filtering builds on (docs whose tokens are
    // globally rare score low). Per-token ln p is rounded to 9 decimals
    // and summed as DECIMAL so the per-doc mean cannot depend on Spark's
    // partial-aggregation order; ln() inputs are exact integer ratios.
    Q(
      "q65_unigram_logprob",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |freq AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks),
         |scored AS (
         |  SELECT doc_id,
         |    CAST(round(ln(CAST(cnt AS DOUBLE) / n_total), 9) AS DECIMAL(18,9)) AS lp
         |  FROM toks JOIN freq USING (term), tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_logprob
         |FROM scored GROUP BY 1""".stripMargin) { (spark, dir) =>
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        .cache() // feeds corpus freq, the total, and the per-doc score join
      val freq = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      val tot = toks.agg(count(lit(1)).as("n_total"))
      toks.join(freq, "term")
        .crossJoin(broadcast(tot))
        .withColumn("lp",
          round(log(col("cnt").cast("double") / col("n_total")), 9)
            .cast(DecimalType(18, 9)))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          round(sum(col("lp")).cast("double") / count(lit(1)), 6).as("mean_logprob"))
    },

    // ---- Bigram LM log-probability per document: the next step up from
    // q65's unigram score (fluency, not just token rarity — the classic
    // cheap LM-quality gate before perplexity filtering). P(w2|w1) =
    // count(w1,w2) / count(w1·), per-doc mean ln P over its bigrams.
    // Bigrams come from ONE lead() window over (doc_id, pos) — no
    // token-table self-join; counts are two hash aggregates (the n-gram
    // count table IS the training artifact at 100 TB). Determinism recipe
    // as q65: per-bigram ln rounded to 9 decimals, summed as DECIMAL.
    // Storage contract: the per-occurrence pair frame (the largest
    // intermediate in the registry — one row per corpus token) is NEVER
    // cached; only the small distinct-bigram count table c2 is pinned
    // (localCheckpoint), since it alone is read twice (c1 derivation +
    // scoring join). The pair stream is scanned twice instead — two
    // cheap passes beat holding O(corpus tokens) in executor storage.
    Q(
      "q78_bigram_logprob",
      s"""WITH toksl AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents),
         |pairs AS (
         |  SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, len(tk)),
         |        i -> {'w1': tk[i], 'w2': tk[i + 1]})) AS bg
         |    FROM toksl WHERE len(tk) >= 2)),
         |c2 AS (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM pairs GROUP BY 1, 2),
         |c1 AS (
         |  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
         |scored AS (
         |  SELECT doc_id,
         |    CAST(round(ln(CAST(c2 AS DOUBLE) / c1), 9) AS DECIMAL(18,9)) AS lp
         |  FROM pairs JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_bigram_logprob
         |FROM scored GROUP BY 1""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val pairs = Tables.documents(spark, dir)
        .select(col("doc_id"), posexplode(Text.tokens(col("text"))))
        .withColumnRenamed("col", "w1")
        .withColumn("w2", lead(col("w1"), 1).over(w))
        .filter(col("w2").isNotNull)
        .select("doc_id", "w1", "w2")
      val c2 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        .localCheckpoint() // materialize once; c1 + scoring join both read it
      val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
      pairs.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .withColumn("lp",
          round(log(col("c2").cast("double") / col("c1")), 9).cast(DecimalType(18, 9)))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_bigrams"),
          round(sum(col("lp")).cast("double") / count(lit(1)), 6)
            .as("mean_bigram_logprob"))
    },

    // ---- Fuzzy matching battery: edit distance against a
    // deterministically-dirtied variant (translate 0→O, the classic OCR
    // confusion) plus neighbor distance within a blocked window — the
    // string-similarity primitives entity resolution builds on (blocked,
    // never all-pairs; same discipline as q29).
    Q(
      "q64_fuzzy_match",
      """SELECT c_custkey,
        |  translate(c_name, '0', 'O') AS dirty,
        |  CAST(levenshtein(c_name, translate(c_name, '0', 'O')) AS INT) AS lev_dirty,
        |  CAST(levenshtein(c_name,
        |    lag(c_name) OVER (PARTITION BY c_nationkey ORDER BY c_custkey)) AS INT)
        |    AS lev_prev
        |FROM customer""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
      Tables.customer(spark, dir).select(
        col("c_custkey"),
        translate(col("c_name"), "0", "O").as("dirty"),
        levenshtein(col("c_name"), translate(col("c_name"), "0", "O"))
          .as("lev_dirty"),
        levenshtein(col("c_name"), lag(col("c_name"), 1).over(w)).as("lev_prev"))
    },

    // ---- Heavy hitters, two-pass: Misra–Gries sketch (one scan, O(k)
    // mergeable state — graft.functions.FreqSketch) emits a candidate
    // superset of every term with freq > n/401; pass 2 exact-counts ONLY
    // the candidates (broadcast filter, no full-domain aggregate) and
    // applies the real threshold freq·200 > n. Output is exact and
    // merge-order-independent — only the pruning is approximate.
    // ---- L81 Count–Min point-frequency sketch: the d×w counter grid
    // answers "how often does term X occur" from fixed-size mergeable
    // state — no GROUP BY over the unbounded term domain. The exact
    // top-30 terms carry the values the oracle checks; the sketch's
    // contract rides as booleans: estimates never undercount (one-sided
    // by construction), stay within the classic e/w·N bound, and the
    // per-shard rollup merged back is BIT-identical to the direct
    // sketch (elementwise addition — the merge-order determinism
    // Misra–Gries candidates cannot give). Both sketch frames are
    // broadcast singletons; lookups are distributed scalar probes.
    Q(
      "q99_cm_frequency",
      s"""WITH toks AS (
         |  SELECT unnest($toksSql) AS term FROM documents),
         |cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt
         |        FROM toks GROUP BY term)
         |SELECT term, exact_cnt, TRUE AS lower_ok, TRUE AS upper_ok,
         |  TRUE AS rolled_matches_direct
         |FROM cnt ORDER BY exact_cnt DESC, term LIMIT 30""".stripMargin) {
      (spark, dir) =>
        val toks = Tables.documents(spark, dir)
          .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        val direct = toks
          .agg(call_function("graft_cm_sketch", col("term")).as("sk"))
        val rolled = toks
          .groupBy(pmod(col("doc_id"), lit(16)).as("shard"))
          .agg(call_function("graft_cm_sketch", col("term")).as("sk"))
          .agg(call_function("graft_cm_merge", col("sk")).as("skr"))
        val top = toks.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("term")).limit(30)
        val est = call_function("graft_cm_estimate", col("sk"), col("term"))
        val estR = call_function("graft_cm_estimate", col("skr"), col("term"))
        val bound = ceil(lit(math.E / 2048.0) *
          call_function("graft_cm_total", col("sk"))).cast("long")
        top.crossJoin(broadcast(direct)).crossJoin(broadcast(rolled))
          .select(col("term"), col("exact_cnt"),
            (est >= col("exact_cnt")).as("lower_ok"),
            (est <= col("exact_cnt") + bound).as("upper_ok"),
            (estR === est).as("rolled_matches_direct"))
    },

    Q(
      "q53_heavy_hitters",
      s"""WITH toks AS (
         |  SELECT unnest($toksSql) AS term FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks)
         |SELECT term, CAST(count(*) AS BIGINT) AS cnt
         |FROM toks, tot
         |GROUP BY term, n_total
         |HAVING count(*) * 200 > n_total""".stripMargin) { (spark, dir) =>
      val toks = Tables.documents(spark, dir)
        .select(explode(Text.tokens(col("text"))).as("term"))
      val sketch = toks.agg(
        call_function("graft_freq_sketch", col("term"), lit(400)).as("cands"),
        count(lit(1)).as("n_total"))
      // candidates exploded to a ~k-row frame and BROADCAST-HASH-joined on
      // term: O(1) hash probe per token occurrence. The previous
      // crossJoin + array_contains filter cost an O(k=400) interpreted
      // string scan inside the innermost per-token loop — a 400×
      // constant factor at corpus scale. Sketch candidates are distinct
      // by construction, so the inner join IS the membership filter.
      val cands = sketch.select(explode(col("cands")).as("term"), col("n_total"))
      toks.join(broadcast(cands), Seq("term"))
        .groupBy("term", "n_total")
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 200 > col("n_total"))
        .select("term", "cnt")
    },

    // ---- Intra-document repetition signals: duplicate-token fraction,
    // top-token fraction, duplicate-bigram fraction — the Gopher-rule
    // repetition gates that reject boilerplate/SEO spam before any model
    // ever scores it. All three are per-doc hash aggregates (token table
    // → two group-bys; bigrams via the q78 lead() window, no self-join),
    // so the scan parallelizes per document with no corpus-wide state.
    Q(
      "q82_repetition_signals",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksSql) AS t FROM documents),
         |tc AS (
         |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
         |ts AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS nd, CAST(max(c) AS BIGINT) AS mx
         |  FROM tc GROUP BY 1),
         |toksl AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |pairs AS (
         |  SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, len(tk)),
         |        i -> {'w1': tk[i], 'w2': tk[i + 1]})) AS bg
         |    FROM toksl WHERE len(tk) >= 2)),
         |pc AS (
         |  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS c
         |  FROM pairs GROUP BY 1, 2, 3),
         |ps AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS nb,
         |    CAST(count(*) AS BIGINT) AS ndb
         |  FROM pc GROUP BY 1)
         |SELECT ts.doc_id, n_tokens,
         |  round(1 - CAST(nd AS DOUBLE) / n_tokens, 6) AS dup_token_frac,
         |  round(CAST(mx AS DOUBLE) / n_tokens, 6) AS top_token_frac,
         |  round(CASE WHEN nb IS NULL THEN 0
         |             ELSE 1 - CAST(ndb AS DOUBLE) / nb END, 6) AS dup_bigram_frac
         |FROM ts LEFT JOIN ps ON ts.doc_id = ps.doc_id""".stripMargin) {
      (spark, dir) =>
        val docs = Tables.documents(spark, dir)
        val tc = docs
          .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
          .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        val ts = tc.groupBy("doc_id").agg(
          sum("c").as("n_tokens"), count(lit(1)).as("nd"), max("c").as("mx"))
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val ps = docs
          .select(col("doc_id"), posexplode(Text.tokens(col("text"))))
          .withColumnRenamed("col", "w1")
          .withColumn("w2", lead(col("w1"), 1).over(w))
          .filter(col("w2").isNotNull)
          .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(sum("c").as("nb"), count(lit(1)).as("ndb"))
        ts.join(ps, Seq("doc_id"), "left")
          .select(
            col("doc_id"), col("n_tokens"),
            round(lit(1) - col("nd").cast("double") / col("n_tokens"), 6)
              .as("dup_token_frac"),
            round(col("mx").cast("double") / col("n_tokens"), 6)
              .as("top_token_frac"),
            round(when(col("nb").isNull, 0.0)
              .otherwise(lit(1) - col("ndb").cast("double") / col("nb")), 6)
              .as("dup_bigram_frac"))
    },

    // ---- Per-source cap (domain balancing): keep at most K documents
    // per source, survivors chosen by a deterministic key hash — the
    // corpus-mixing step that stops one crawl domain from dominating the
    // training set. The hash order makes survivorship reproducible
    // across runs/engines/partitionings, and Spark's InferWindowGroupLimit
    // prunes each partition to the top-K BEFORE the shuffle (the q04
    // pattern), so the cap costs one bounded shuffle at any scale.
    Q(
      "q83_source_cap",
      s"""WITH ranked AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY (doc_id * $Mult) % $P, doc_id) AS rn
         |  FROM documents)
         |SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
         |FROM ranked WHERE rn <= 15""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy("source")
        .orderBy((col("doc_id") * Mult) % P, col("doc_id"))
      Tables.documents(spark, dir)
        .select("doc_id", "source")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 15)
    },

    // ---- Sequence packing (the pretraining token-stream layout): shard
    // documents deterministically, order within shard, run a cumulative
    // token count, and map every document to the context-window sequence
    // range it lands in (capacity 256, concat-and-split style — a doc
    // straddling a boundary spans seq start_seq..end_seq). Per-shard
    // prefix sums are embarrassingly parallel — the global sequential
    // scan a naive packer needs never happens; shard count scales with
    // the cluster, not the corpus.
    Q(
      "q84_sequence_packing",
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(((doc_id * $Mult) % $P) % 8 AS BIGINT) AS shard,
         |    CAST(ceil(n_chars / 4.0) AS BIGINT) AS toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, shard, toks,
         |    sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT doc_id, shard, toks,
         |  CAST((cum - toks) // 256 AS BIGINT) AS start_seq,
         |  CAST((cum - 1) // 256 AS BIGINT) AS end_seq
         |FROM c""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          (((col("doc_id") * Mult) % P) % 8).cast("long").as("shard"),
          ceil(col("n_chars") / 4.0).cast("long").as("toks"))
        .withColumn("cum", sum("toks").over(w))
        .select(col("doc_id"), col("shard"), col("toks"),
          floor((col("cum") - col("toks")) / 256).cast("long").as("start_seq"),
          floor((col("cum") - 1) / 256).cast("long").as("end_seq"))
    },

    // ---- Embedding outlier gate: cosine of every vector to its OWN
    // label centroid (q55's centroid layout), flagging vectors far from
    // their class — mislabeled / off-distribution sample detection in
    // embedding space. Centroid = (label, dim) hash aggregate; scoring =
    // one broadcast join on (label, dim) + per-vector DECIMAL-exact dot
    // and norms, so nothing ever collects a label's vectors into one
    // task. Determinism: centroids rounded at 6dp both engines, all
    // sums DECIMAL, the outlier boolean compares the ROUNDED cosine.
    // Rounding-class audit (round 8, ExactRound rule 3): cosines are
    // |x| ≤ 1, so the round(double, 6) tie window is ~2e-10/row ×
    // ~1.1k rounded values ≈ 2e-7/run; the float→DECIMAL(27,10) input
    // casts add ~7e-3/run of 1e-10-sized sum perturbations that the
    // 6dp presentation round absorbs. Quantifiably negligible — unlike
    // q109's 1e11-magnitude variances, which moved to integer space.
    Q(
      "q85_embedding_outliers",
      """WITH expd AS (
        |  SELECT vec_id, label, CAST(i - 1 AS INT) AS pos,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) t(i)),
        |cent AS (
        |  SELECT label, pos,
        |    round(CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*), 6) AS c
        |  FROM expd GROUP BY 1, 2),
        |j AS (
        |  SELECT vec_id, expd.label,
        |    CAST(sum(CAST(v * c AS DECIMAL(27,10))) AS DOUBLE) AS dot,
        |    CAST(sum(CAST(v * v AS DECIMAL(27,10))) AS DOUBLE) AS nv,
        |    CAST(sum(CAST(c * c AS DECIMAL(27,10))) AS DOUBLE) AS nc
        |  FROM expd JOIN cent USING (label, pos) GROUP BY 1, 2)
        |SELECT vec_id, label,
        |  round(dot / (sqrt(nv) * sqrt(nc)), 6) AS centroid_cos,
        |  round(dot / (sqrt(nv) * sqrt(nc)), 6) < 0.1 AS outlier
        |FROM j""".stripMargin) { (spark, dir) =>
      val expd = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"), posexplode(col("embedding")))
        .select(col("vec_id"), col("label"), col("pos").cast("int").as("pos"),
          col("col").cast("double").as("v"))
      val cent = expd.groupBy("label", "pos")
        .agg(round(sum(col("v").cast(DecimalType(27, 10))).cast("double")
          / count(lit(1)), 6).as("c"))
      val cos = round(col("dot") / (sqrt(col("nv")) * sqrt(col("nc"))), 6)
      expd.join(broadcast(cent), Seq("label", "pos"))
        .groupBy("vec_id", "label")
        .agg(
          sum((col("v") * col("c")).cast(DecimalType(27, 10))).cast("double").as("dot"),
          sum((col("v") * col("v")).cast(DecimalType(27, 10))).cast("double").as("nv"),
          sum((col("c") * col("c")).cast(DecimalType(27, 10))).cast("double").as("nc"))
        .select(col("vec_id"), col("label"),
          cos.as("centroid_cos"), (cos < 0.1).as("outlier"))
    },

    // ---- Quality-priority survivorship: q49's near-dup clusters, but
    // the canonical doc per cluster is the HIGHEST-QUALITY member
    // (longest text, id tiebreak), not the minimum id — the decision
    // rule production dedup actually ships (keep the best copy, drop the
    // rest). Same component fixpoint; survivor selection is one window
    // over the component key, and Spark's rank pushdown prunes it.
    //
    // Round 13: the pair source is the L132 degree-capped stream (rank
    // cap replayed in the oracle), joining q147/q119/q151/q152: a
    // production decision rule ships on the linear candidate volume,
    // not the exact generator that goes quadratic inside a template
    // mega-cluster (the measured 27× pair explosion at sf1); capped-away
    // links reconcile via the periodic q49 full recompute, whose
    // convergence TextDedupSpec pins.
    Q(
      "q87_cluster_survivors",
      s"""WITH RECURSIVE $simhashCtes,
         |${simhashPairsCtes()},
         |${reachCtes("pairs")},
         |cmp AS (
         |  SELECT id, min(comp) AS component FROM reach GROUP BY id),
         |tagged AS (
         |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, d.n_chars
         |  FROM documents d LEFT JOIN cmp c ON c.id = d.doc_id)
         |SELECT doc_id, component,
         |  row_number() OVER (PARTITION BY component
         |    ORDER BY n_chars DESC, doc_id) = 1 AS keep
         |FROM tagged""".stripMargin) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
      Components.resolveClusters(docs, "doc_id", pairs, "id_a", "id_b",
        survivorOrder = Seq("n_chars" -> false))
    },

    // ---- Token-budget corpus selection: fill a global token budget
    // with the best documents (quality proxy: length, id tiebreak) —
    // the final assembly step of a curated training set. The naive plan
    // is a single-partition global running sum; Sample.takeByBudget runs
    // a distributed two-phase prefix sum instead (range-partition by the
    // order, driver-prefix the per-partition totals, broadcast offsets
    // back), so the selection scales with partitions. Result is the
    // exact global-order prefix, partition-boundary-independent.
    Q(
      "q88_token_budget",
      """WITH t AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(ceil(n_chars / 4.0) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_chars,
        |    sum(toks) OVER (ORDER BY n_chars DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, source, n_chars FROM c WHERE cum <= 20000""".stripMargin) {
      (spark, dir) =>
        val t = Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), col("n_chars"),
            ceil(col("n_chars") / 4.0).cast("long").as("toks"))
        Sample.takeByBudget(t, "n_chars", "doc_id", "toks", budget = 20000L)
          .select("doc_id", "source", "n_chars")
    },

    // ---- L86 systematic PPS sampling: rows win slots in proportion to
    // their size (n_chars) by laying weights end-to-end in deterministic
    // hash order and taking every W/n-th point — EXACT integer
    // arithmetic, so the oracle replays the identical draw (an A-ES
    // u^(1/w) key would only match to libm's last ulp). Heavy rows carry
    // multiplicity; Σ n_picks == n by construction. Distributed via the
    // takeByBudget prefix machinery — no global window, no RNG.
    Q(
      "q104_systematic_pps",
      s"""WITH w AS (
         |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         |    (doc_id * $Mult) % $P AS h
         |  FROM documents),
         |t AS (SELECT sum(w) AS tw FROM w),
         |c AS (
         |  SELECT doc_id, w,
         |    sum(w) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM w)
         |SELECT doc_id,
         |  CAST((cum * 100) // tw - ((cum - w) * 100) // tw AS BIGINT) AS n_picks
         |FROM c, t
         |WHERE (cum * 100) // tw - ((cum - w) * 100) // tw >= 1""".stripMargin) {
      (spark, dir) =>
        Sample.systematicPps(
          Tables.documents(spark, dir).select("doc_id", "n_chars"),
          "doc_id", "n_chars", n = 100L)
          .select("doc_id", "n_picks")
    },

    // ---- Cross-document boilerplate: fraction of each doc's distinct
    // 3-gram shingles occurring in ≥ 3 docs corpus-wide (RefinedWeb's
    // duplicated-n-gram gate — the corpus-level complement of q82's
    // intra-doc repetition). One shuffle on the shingle hash (window
    // count = doc frequency over distinct pairs), one aggregate back to
    // the doc — no join, no cached intermediate, no second corpus pass.
    Q(
      "q93_boilerplate",
      s"""WITH $shingleHashPairsCtes,
        |wdf AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS df FROM pairs)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  round(CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS boiler_frac
        |FROM wdf GROUP BY doc_id""".stripMargin) {
      (spark, dir) =>
        Dedup.crossDocShingleStats(Tables.documents(spark, dir),
          "doc_id", "text", shingleN = 3, minDf = 3)
    },

    // ---- Temperature-based mixture reweighting: per-source token
    // shares p, resampled shares q ∝ p^0.5 (the multilingual-corpus
    // balancing rule — rare sources up-weighted, dominant ones damped),
    // and the resulting sampling-rate multiplier q/p. One tiny
    // per-source aggregate + a broadcast singleton total — at 100 TB the
    // corpus is scanned once and reduced map-side; the mixture math runs
    // on the |sources|-row result. sqrt shares are rounded then summed
    // as DECIMAL so the normalizer is merge-order-exact.
    Q(
      "q94_mixture_weights",
      s"""WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |s AS (SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(38,6)) AS sq FROM per),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt,
        |  CAST(sum(sq) AS DECIMAL(38,6)) AS ts FROM s)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(n_tokens AS DOUBLE) / tt, 6) AS p_share,
        |  round(CAST(sq AS DOUBLE) / CAST(ts AS DOUBLE), 6) AS q_share,
        |  round((CAST(sq AS DOUBLE) / CAST(ts AS DOUBLE)) / (CAST(n_tokens AS DOUBLE) / tt), 6) AS rate_mult
        |FROM s, tot""".stripMargin) {
      (spark, dir) =>
        val per = Tables.documents(spark, dir)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(Text.tokenCount(col("text")).cast("long")).as("n_tokens"))
          .withColumn("sq",
            round(sqrt(col("n_tokens").cast("double")), 6).cast(DecimalType(38, 6)))
        val tot = per.agg(sum(col("n_tokens")).as("tt"),
          sum(col("sq")).cast(DecimalType(38, 6)).as("ts"))
        val q = col("sq").cast("double") / col("ts").cast("double")
        val p = col("n_tokens").cast("double") / col("tt")
        per.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            round(p, 6).as("p_share"), round(q, 6).as("q_share"),
            round(q / p, 6).as("rate_mult"))
    },

    // ---- Mixture resampling MATERIALIZATION (L105): q94 computes the
    // temperature rates; this applies them — per-source keep rates
    // pct_s = min(100, ⌊rate_mult·50⌋) driven through the deterministic
    // hash gate, so the resampled corpus is reproducible across runs,
    // partitionings, and engines (no RNG). Scale shape: the weights are
    // a |sources|-row broadcast onto the corpus scan; the gate is a
    // per-row predicate; only the per-source SUMMARY shuffles. The
    // oracle replays weights → rates → gate → counts end to end.
    Q(
      "q123_mixture_resample",
      s"""WITH per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |s AS (SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(38,6)) AS sq FROM per),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt,
         |  CAST(sum(sq) AS DECIMAL(38,6)) AS ts FROM s),
         |rates AS (
         |  SELECT source, n_docs,
         |    CAST(least(100, floor(round(
         |      (CAST(sq AS DOUBLE) / CAST(ts AS DOUBLE))
         |        / (CAST(n_tokens AS DOUBLE) / tt), 6) * 50)) AS INT) AS pct
         |  FROM s, tot),
         |kept AS (
         |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
         |  FROM documents d JOIN rates r USING (source)
         |  WHERE ((d.doc_id * ${Mult}) % ${P}) % 100 < r.pct
         |  GROUP BY d.source)
         |SELECT r.source, r.n_docs, r.pct, coalesce(k.n_kept, 0) AS n_kept
         |FROM rates r LEFT JOIN kept k USING (source)""".stripMargin) {
      (spark, dir) =>
        val docs = Tables.documents(spark, dir)
        val per = docs.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(Text.tokenCount(col("text")).cast("long")).as("n_tokens"))
          .withColumn("sq",
            round(sqrt(col("n_tokens").cast("double")), 6).cast(DecimalType(38, 6)))
        val tot = per.agg(sum(col("n_tokens")).as("tt"),
          sum(col("sq")).cast(DecimalType(38, 6)).as("ts"))
        val rateMult = round(
          (col("sq").cast("double") / col("ts").cast("double"))
            / (col("n_tokens").cast("double") / col("tt")), 6)
        val rates = per.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"),
            least(lit(100), floor(rateMult * 50)).cast("int").as("pct"))
        val kept = docs.join(broadcast(rates.select("source", "pct")), "source")
          .filter(Sample.hashGate(col("doc_id")) < col("pct"))
          .groupBy("source").agg(count(lit(1)).as("n_kept"))
        rates.join(kept, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("pct"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    },

    // ---- ANN recall@k eval harness: the LSH index (q27's exact
    // parameters) measured against brute-force ground truth (q26's) on a
    // query sample — the recall/latency tradeoff is unmanaged without
    // this number. Per query point: |ANN top-k ∩ exact top-k| / k. At
    // 100 TB the exact side runs on a SAMPLED query set only (the
    // standard eval protocol); the index side is the production path.
    // The oracle replays BOTH sides in SQL (deterministic hyperplanes),
    // so recall itself — not just the inputs — is cross-engine-checked.
    Q(
      "q98_ann_recall", {
        val nbits = 4; val tables = 4; val kk = 10
        def dotSql(a: String, b: String) = foldSumSql(
          s"list_transform(range(1, 65), i -> $a[i]*$b[i])", "CAST(0 AS DOUBLE)")
        def bucketSql(t: Int) = (0 until nbits).map { bit =>
          val g = t * nbits + bit
          val proj = foldSumSql(
            s"""list_transform(dv, (x, i) ->
               |        x * CASE WHEN (($g*64 + (i-1)) * $Mult) % $P % 2 = 0
               |            THEN 1.0 ELSE -1.0 END)""".stripMargin,
            "CAST(0 AS DOUBLE)")
          s"(CASE WHEN $proj > 0 THEN ${1L << bit} ELSE 0 END)"
        }.mkString(" + ")
        val banded = (0 until tables).map(t =>
          s"SELECT vec_id, $t AS tbl, ${bucketSql(t)} AS bucket FROM v")
          .mkString("\n  UNION ALL ")
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           |  FROM embeddings),
           |ex AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |      ${dotSql("q.dv", "c.dv")}
           |        / (sqrt(${dotSql("q.dv", "q.dv")}) * sqrt(${dotSql("c.dv", "c.dv")})) DESC,
           |      c.vec_id) AS rn
           |  FROM v q, v c WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
           |ek AS (SELECT query_id, neighbor_id FROM ex WHERE rn <= $kk),
           |banded AS (
           |  $banded),
           |cand AS (
           |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           |  FROM banded q JOIN banded c
           |    ON q.tbl = c.tbl AND q.bucket = c.bucket AND c.vec_id <> q.vec_id
           |  WHERE q.vec_id < 20),
           |scored AS (
           |  SELECT query_id, neighbor_id,
           |    ${dotSql("vq.dv", "vc.dv")}
           |      / (sqrt(${dotSql("vq.dv", "vq.dv")}) * sqrt(${dotSql("vc.dv", "vc.dv")})) AS cos
           |  FROM cand
           |  JOIN v vq ON vq.vec_id = query_id
           |  JOIN v vc ON vc.vec_id = neighbor_id),
           |ak AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           |    FROM scored) WHERE rn <= $kk)
           |$recallSql""".stripMargin
      }) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val qs = e.filter(col("vec_id") < 20)
      val exact = Similarity
        .topKBruteForce(e, qs, "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val ann = Similarity
        .topKBucketed(e, qs, "vec_id", "embedding",
          k = 10, nbits = 4, dim = 64, tables = 4)
        .select("query_id", "neighbor_id").withColumn("hit", lit(1L))
      exact.join(ann, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_exact"), 6))
    },

    // ---- TRUNCATED-DIMENSION recall curve (L134): how much retrieval
    // quality survives keeping only the first d of 64 embedding dims —
    // the storage/recall trade a matryoshka-style index makes before
    // committing to a truncated vector layout (d dims cut index bytes
    // and dot-product work by 64/d). For each d the top-10 by truncated
    // cosine is compared against the full-dim exact top-10; recall
    // aggregates over the 20 probe queries. Same broadcast brute-force
    // shape as q26/q98 (corpus side never shuffles), one pass per
    // ladder rung; the oracle replays every rung's ranking with
    // sequential-fold dot products, so the curve itself is
    // cross-engine-checked.
    Q(
      "q153_truncated_recall", {
        val kk = 10
        val dims = Seq(8, 16, 32, 64)
        def dotD(a: String, b: String, d: Int) = foldSumSql(
          s"list_transform(range(1, ${d + 1}), i -> $a[i]*$b[i])",
          "CAST(0 AS DOUBLE)")
        def exD(d: Int) =
          s"""ex$d AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |      ${dotD("q.dv", "c.dv", d)}
             |        / (sqrt(${dotD("q.dv", "q.dv", d)}) * sqrt(${dotD("c.dv", "c.dv", d)})) DESC,
             |      c.vec_id) AS rn
             |  FROM v q, v c WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)""".stripMargin
        val truncUnion = dims.map(d =>
          s"SELECT CAST($d AS BIGINT) AS dim, query_id, neighbor_id FROM ex$d WHERE rn <= $kk")
          .mkString("\n  UNION ALL ")
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           |  FROM embeddings),
           |${dims.map(exD).mkString(",\n")},
           |trunc AS (
           |  $truncUnion),
           |fullk AS (SELECT query_id, neighbor_id FROM ex64 WHERE rn <= $kk)
           |SELECT t.dim,
           |  CAST(count(*) AS BIGINT) AS n_trunc,
           |  CAST(count(f.neighbor_id) AS BIGINT) AS n_hit,
           |  round(CAST(count(f.neighbor_id) AS DOUBLE) / count(*), 6) AS recall
           |FROM trunc t LEFT JOIN fullk f
           |  ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
           |GROUP BY t.dim""".stripMargin
      }) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val full = Similarity
        .topKBruteForce(e, e.filter(col("vec_id") < 20), "vec_id",
          "embedding", k = 10)
        .select("query_id", "neighbor_id").withColumn("hit", lit(1L))
      val truncs = Seq(8, 16, 32, 64).map { d =>
        val ed = e.select(col("vec_id"),
          slice(col("embedding"), 1, d).as("embedding"))
        Similarity.topKBruteForce(ed, ed.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 10)
          .select(lit(d.toLong).as("dim"), col("query_id"), col("neighbor_id"))
      }.reduce(_ unionByName _)
      truncs.join(full, Seq("query_id", "neighbor_id"), "left")
        .groupBy("dim")
        .agg(count(lit(1)).as("n_trunc"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_trunc"), 6))
    },

    // ---- Corpus-overlap set algebra from KMV sketches (L92): pairwise
    // Jaccard / union-size estimates between per-source shingle sets,
    // from one 8 KiB bottom-k sketch per source — the way to answer
    // "how much do these two 100 TB corpora overlap?" without a
    // distinct-join of their shingle streams. Union size via the
    // inclusion-exclusion identity U = (|A|+|B|)/(1+J) (I = J·U). The
    // exact twin (a shingle-keyed join — the verification harness, not
    // the production path) rides along so the oracle pins BOTH the
    // exact values and the sketch error bounds as booleans; everything
    // is deterministic (fixed splitmix64 hash), so green here is green
    // on every run/partitioning. Set elements are the mod-P (2³¹−1)
    // shingle hashes, identical in both engines — "exact" means exact
    // over that domain: expected collision shrinkage is ~n²/2³² relative
    // (≈0.1% at 10M distinct shingles), far inside the 5%/10% sketch
    // bounds being validated.
    Q(
      "q110_corpus_overlap", {
        s"""WITH toks AS (
           |  SELECT doc_id, source, $toksSql AS t FROM documents),
           |shs AS (
           |  SELECT source, unnest($shingleListSql) AS s
           |  FROM toks),
           |sh AS (SELECT DISTINCT source, ${strHashSql("s")} AS h FROM shs),
           |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
           |px AS (
           |  SELECT a.source AS source_a, b.source AS source_b,
           |    CAST(count(*) AS BIGINT) AS inter
           |  FROM sh a JOIN sh b USING (h) WHERE a.source < b.source
           |  GROUP BY 1, 2)
           |SELECT source_a, source_b,
           |  x.n + y.n - inter AS exact_union,
           |  round(CAST(inter AS DOUBLE) / (x.n + y.n - inter), 6) AS exact_jaccard,
           |  TRUE AS jaccard_ok, TRUE AS union_ok
           |FROM px JOIN sz x ON source_a = x.source JOIN sz y ON source_b = y.source""".stripMargin
      }) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      // ONE pipeline feeds everything: the compiled ShingleHashes kernel
      // (the interpreted Text.shingles string chain cost 4.7 s alone at
      // sf0.1) → distinct (source, hash) → cached, read by the exact
      // sizes, both sides of the exact intersection join, AND the KMV
      // sketch build (bottom-k is set-semantics, so sketching the
      // distinct frame is identical to sketching the raw stream). The
      // oracle replays the same md5-prefix mod-P hash, so exact values
      // match hash for hash. Cache released after the 190-row result
      // materializes, per the Dedup lifetime contract.
      val sh = Dedup.withShingleHashes(docs.select(col("source"), col("text")), "text", 3)
        .select(col("source"), explode(col("hv")).as("h"))
        .distinct()
        .cache()
      val sz = sh.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = sh.select(col("source").as("source_a"), col("h"))
        .join(sh.select(col("source").as("source_b"), col("h")), "h")
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("inter"))
      val exact = inter
        .join(sz.select(col("source").as("source_a"), col("n").as("na")), "source_a")
        .join(sz.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
        .select(col("source_a"), col("source_b"),
          (col("na") + col("nb") - col("inter")).as("exact_union"),
          (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
            .as("exact_j"))
      // production path: one KMV sketch per source, pairwise sketch
      // algebra; the 20-row sketch table materializes eagerly so both
      // pair sides and the broadcast read it without re-scanning
      val sk = sh
        .groupBy("source")
        .agg(call_function("graft_kmv_sketch", col("h"), lit(1024)).as("sk"))
        .withColumn("est_n", call_function("graft_kmv_estimate", col("sk")))
        .localCheckpoint()
      val pairs = sk.select(col("source").as("source_a"),
          col("sk").as("sk_a"), col("est_n").as("est_na"))
        .join(broadcast(sk.select(col("source").as("source_b"),
          col("sk").as("sk_b"), col("est_n").as("est_nb"))),
          col("source_a") < col("source_b"))
        .withColumn("est_j", call_function("graft_kmv_jaccard", col("sk_a"), col("sk_b")))
        .withColumn("est_union",
          (col("est_na") + col("est_nb")).cast("double") / (lit(1.0) + col("est_j")))
      val out = pairs.join(exact, Seq("source_a", "source_b"))
        .select(col("source_a"), col("source_b"),
          col("exact_union"),
          round(col("exact_j"), 6).as("exact_jaccard"),
          (abs(col("est_j") - col("exact_j")) <= 0.05).as("jaccard_ok"),
          (abs(col("est_union") - col("exact_union"))
            <= col("exact_union") * 0.10).as("union_ok"))
        .localCheckpoint()
      sh.unpersist()
      out
    },

    // ---- Sub-document duplicated-span REMOVAL (L93): word 3-grams in
    // ≥ max(5, ⌈N/200⌉) distinct docs are boilerplate; covered tokens are
    // dropped and the doc re-emitted (Lee et al. 2022 span dedup — the
    // rewrite q93's signal only scores). Oracle replays the rewrite with
    // string_agg; the corpus-relative gate keeps "boilerplate" meaning
    // boilerplate at any corpus size.
    Q(
      "q111_span_dedup", {
        s"""WITH nd AS (
           |  SELECT greatest(5, (count(*) + 199) // 200) AS min_df FROM documents),
           |toks AS (
           |  SELECT doc_id, $toksSql AS t FROM documents),
           |shp AS (
           |  SELECT doc_id, i AS spos, $shingle3Sql AS s
           |  FROM toks, unnest($shinglePosSql) u(i)),
           |boiler AS (
           |  SELECT s FROM shp, nd GROUP BY s, min_df
           |  HAVING count(DISTINCT doc_id) >= min_df),
           |covered AS (
           |  SELECT DISTINCT doc_id, spos + o AS p
           |  FROM shp JOIN boiler USING (s), unnest([0, 1, 2]) v(o)),
           |toklist AS (
           |  SELECT doc_id, i AS p, t[i] AS tok
           |  FROM toks, unnest(CASE WHEN len(t) = 0 THEN [] ELSE range(1, len(t)+1) END) u(i)),
           |kept AS (
           |  SELECT k.doc_id,
           |    string_agg(k.tok, ' ' ORDER BY k.p) AS clean_text,
           |    CAST(count(*) AS BIGINT) AS n_kept
           |  FROM toklist k LEFT JOIN covered c ON k.doc_id = c.doc_id AND k.p = c.p
           |  WHERE c.doc_id IS NULL GROUP BY 1)
           |SELECT d.doc_id,
           |  coalesce(k.clean_text, '') AS clean_text,
           |  CAST(len($toksSql) AS BIGINT) AS n_tokens,
           |  CAST(len($toksSql) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
           |FROM documents d LEFT JOIN kept k USING (doc_id)""".stripMargin
      }) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val minDf = math.max(5L, (docs.count() + 199L) / 200L)
      Dedup.stripDupSpans(docs, "doc_id", "text", shingleN = 3, minDf = lit(minDf))
    },

    // ---- Exact-substring dedup at suffix granularity (L258, Lee et al.
    // 2022 EXACTSUBSTR — q111's exact twin): a span is stripped iff it
    // belongs to a ≥ 20-token run repeated VERBATIM somewhere else, and
    // exactly one canonical occurrence (global min (doc_id, spos) per
    // window) survives — where q111's df-threshold strips ALL
    // occurrences of any frequent short n-gram. 20 tokens on this
    // fixture's 10–99-token docs is proportionally the paper's
    // 50-token threshold on web documents. The oracle replays the
    // bounded-suffix-window grouping with a per-window row_number;
    // Spark decides ownership with min(struct(doc_id, spos)) — same
    // total order, both engines exact on the window STRING (the
    // operator's internal 64-bit prefilter only prunes, never decides).
    Q(
      "q277_exact_substring_dedup", exactSubstrOracleSql) { (spark, dir) =>
      // kernel: ops/Dedup.exactSubstrDedup (overlap-merge, tiling,
      // within-doc repeat, and ownership semantics pinned in
      // TextDedupSpec)
      Dedup.exactSubstrDedup(Tables.documents(spark, dir),
        "doc_id", "text", minLen = 20)
    },

    // ---- Directional span-provenance flow (L259): q277's measurement
    // companion — per (owning source, losing source), how many
    // duplicated-window occurrences flow that way and into how many
    // docs. Each non-owner window has exactly ONE owner, so the
    // directional matrix has no double counting (token attribution
    // would be ambiguous under overlapping runs from different
    // owners); diagonal = intra-source boilerplate, off-diagonal
    // asymmetry = who copies whom. The doc-level matrix (q160) is
    // UNDIRECTED and approximate (simhash candidates); this is exact
    // and directed at span granularity.
    Q(
      "q278_span_provenance_flow", {
        s"""WITH toks AS (
           |  SELECT doc_id, $toksSql AS t FROM documents),
           |shp AS (
           |  SELECT doc_id, i AS spos, array_to_string(t[i:i+19], ' ') AS s
           |  FROM toks, unnest(CASE WHEN len(t) < 20 THEN []
           |    ELSE range(1, len(t)-18) END) u(i)),
           |r AS (
           |  SELECT doc_id, spos,
           |    row_number() OVER (PARTITION BY s ORDER BY doc_id, spos) AS rk,
           |    count(*) OVER (PARTITION BY s) AS occ,
           |    first_value(doc_id) OVER (PARTITION BY s ORDER BY doc_id, spos
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           |      AS own_id
           |  FROM shp),
           |sites AS (
           |  SELECT doc_id, spos, own_id FROM r WHERE occ >= 2 AND rk > 1)
           |SELECT dw.source AS src_from, dl.source AS src_to,
           |  CAST(count(*) AS BIGINT) AS n_windows,
           |  CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_docs
           |FROM sites s
           |JOIN documents dl ON dl.doc_id = s.doc_id
           |JOIN documents dw ON dw.doc_id = s.own_id
           |GROUP BY 1, 2""".stripMargin
      }) { (spark, dir) =>
      // kernel: ops/Dedup.spanProvenance (direction + unit semantics
      // pinned in TextDedupSpec)
      Dedup.spanProvenance(Tables.documents(spark, dir),
        "doc_id", "text", "source", minLen = 20)
    },

    // ---- Duplicated-span length histogram (L260): the dup-length
    // distribution of the exact-substring analyses — covered positions
    // merge per doc into maximal spans (gaps-and-islands on p − rn,
    // a per-doc window over the repeat-volume-sized cover stream) and
    // the corpus histogram (span_len, n_spans) falls out. Drives the
    // minLen threshold choice: a heavy just-above-minLen tail means
    // the threshold sits inside the boilerplate mass.
    Q(
      "q279_dup_span_histogram", {
        s"""WITH toks AS (
           |  SELECT doc_id, $toksSql AS t FROM documents),
           |shp AS (
           |  SELECT doc_id, i AS spos, array_to_string(t[i:i+19], ' ') AS s
           |  FROM toks, unnest(CASE WHEN len(t) < 20 THEN []
           |    ELSE range(1, len(t)-18) END) u(i)),
           |r AS (
           |  SELECT doc_id, spos,
           |    row_number() OVER (PARTITION BY s ORDER BY doc_id, spos) AS rk,
           |    count(*) OVER (PARTITION BY s) AS occ
           |  FROM shp),
           |sites AS (SELECT doc_id, spos FROM r WHERE occ >= 2 AND rk > 1),
           |covered AS (
           |  SELECT DISTINCT doc_id, spos + o AS p
           |  FROM sites, unnest(range(0, 20)) v(o)),
           |isl AS (
           |  SELECT doc_id, p,
           |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
           |  FROM covered),
           |spans AS (
           |  SELECT doc_id, grp, count(*) AS span_len FROM isl GROUP BY 1, 2)
           |SELECT CAST(span_len AS BIGINT) AS span_len,
           |  CAST(count(*) AS BIGINT) AS n_spans
           |FROM spans GROUP BY 1""".stripMargin
      }) { (spark, dir) =>
      // kernel: ops/Dedup.dupSpanLengths (overlap-merge span lengths
      // pinned in TextDedupSpec)
      Dedup.dupSpanLengths(Tables.documents(spark, dir),
        "doc_id", "text", minLen = 20)
    },

    // ---- Priority sampling (L94, Duffield–Lund–Thorup): n-row sample
    // answering arbitrary subset-sum queries unbiasedly via ŵ = max(w, τ).
    // One IEEE division per row (no libm), deterministic hash uniform —
    // the oracle replays the draw bit-for-bit, τ and all.
    Q(
      "q112_priority_sample", {
        s"""WITH pri AS (
           |  SELECT doc_id, n_chars,
           |    CAST(n_chars AS DOUBLE) /
           |      (CAST(((doc_id * $Mult) % $P) + 1 AS DOUBLE) / $P) AS pr
           |  FROM documents),
           |ranked AS (
           |  SELECT doc_id, n_chars, pr,
           |    row_number() OVER (ORDER BY pr DESC, doc_id) AS rn
           |  FROM pri),
           |tau AS (
           |  SELECT coalesce((SELECT pr FROM ranked WHERE rn = 51), 0.0) AS t)
           |SELECT doc_id, n_chars,
           |  round(pr, 6) AS priority,
           |  round(greatest(CAST(n_chars AS DOUBLE), t), 6) AS est_weight
           |FROM ranked, tau WHERE rn <= 50""".stripMargin
      }) { (spark, dir) =>
      Sample.prioritySample(
          Tables.documents(spark, dir).select("doc_id", "n_chars"),
          "doc_id", "n_chars", n = 50)
        .select(col("doc_id"), col("n_chars"),
          round(col("priority"), 6).as("priority"),
          round(col("est_weight"), 6).as("est_weight"))
    },

    // ---- Distributed k-means training (L95, Lloyd's algorithm) — the
    // coarse-quantizer trainer for q36's IVF index (topKIvf documents
    // "swap in k-means output in production"). Deterministic end to end:
    // init = k lowest vec_ids, sequential-fold dots, DECIMAL(30,12)
    // component sums (tie-free for float32 inputs), so the oracle can
    // replay BOTH Lloyd iterations move for move — a cross-engine-exact
    // iterative ML training loop. Output: per-cluster membership count
    // and centroid norm after 2 iterations.
    Q(
      "q113_kmeans_train", {
        s"""WITH $kmeansCtes,
           |${kmeansAssignSql("a3", "c2")},
           |cnt AS (
           |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
           |  FROM a3 GROUP BY 1)
           |SELECT CAST(c2.cluster AS INT) AS cluster,
           |  coalesce(cnt.n_members, 0) AS n_members,
           |  round(sqrt(${dot64Sql("c2.cv", "c2.cv")}), 6) AS cnorm
           |FROM c2 LEFT JOIN cnt USING (cluster)""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val (assigned, cents) = Similarity.kmeansLloyd(
        Tables.embeddings(spark, dir), "vec_id", "embedding", k = 4, iters = 2)
      val centDf = cents.toDF("cluster", "cv")
      val counts = assigned.groupBy("cluster").agg(count(lit(1)).as("n_members"))
      centDf.join(counts, Seq("cluster"), "left")
        .select(col("cluster"),
          coalesce(col("n_members"), lit(0L)).as("n_members"),
          round(sqrt(Similarity.dot(col("cv"), col("cv"))), 6).as("cnorm"))
    },

    // ---- Per-GROUP priority sampling (L102): q112's subset-sum sketch
    // run independently inside every source in one pass — per-stratum n
    // and per-stratum τ, so each slice of the corpus gets its own
    // unbiased estimator without a per-stratum job. The rank and the τ
    // extraction share one window partitioning; the oracle replays the
    // group-local draw exactly.
    Q(
      "q120_group_priority_sample", {
        s"""WITH pri AS (
           |  SELECT doc_id, source, n_chars,
           |    CAST(n_chars AS DOUBLE) /
           |      (CAST(((doc_id * $Mult) % $P) + 1 AS DOUBLE) / $P) AS pr
           |  FROM documents),
           |ranked AS (
           |  SELECT doc_id, source, n_chars, pr,
           |    row_number() OVER (PARTITION BY source ORDER BY pr DESC, doc_id) AS rn
           |  FROM pri),
           |tau AS (
           |  SELECT source, coalesce(max(CASE WHEN rn = 6 THEN pr END), 0.0) AS t
           |  FROM ranked GROUP BY source)
           |SELECT doc_id, source, n_chars,
           |  round(pr, 6) AS priority,
           |  round(greatest(CAST(n_chars AS DOUBLE), t), 6) AS est_weight
           |FROM ranked JOIN tau USING (source) WHERE rn <= 5""".stripMargin
      }) { (spark, dir) =>
      Sample.prioritySampleByGroup(
          Tables.documents(spark, dir).select("doc_id", "source", "n_chars"),
          "doc_id", "n_chars", "source", n = 5)
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(col("priority"), 6).as("priority"),
          round(col("est_weight"), 6).as("est_weight"))
    },

    // ---- EXACT-threshold Jaccard similarity self-join via prefix
    // filtering (L96, AllPairs/PPJoin): every doc pair with shingle-set
    // Jaccard ≥ 0.8, NO false negatives — the exact complement of the
    // MinHash/SimHash candidate generators. The oracle brute-forces all
    // pairs over the SAME mod-P shingle hashes (kernel == md5 pipeline,
    // pinned in KernelEquivalenceSpec), so a single missed pair fails
    // the row-count match — the no-false-negative guarantee is what's
    // being cross-checked.
    Q(
      "q114_jaccard_join", {
        s"""WITH toks AS (
           |  SELECT doc_id, $toksSql AS t FROM documents),
           |shs AS (
           |  SELECT doc_id, unnest($shingleListSql) AS s
           |  FROM toks),
           |sh AS (SELECT DISTINCT doc_id, ${strHashSql("s")} AS h FROM shs),
           |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
           |px AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |  FROM sh a JOIN sh b USING (h) WHERE a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |  round(CAST(inter AS DOUBLE) / (x.n + y.n - inter), 6) AS jaccard
           |FROM px JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
           |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8""".stripMargin
      }) { (spark, dir) =>
      Dedup.prefixJaccardPairs(Tables.documents(spark, dir),
          "doc_id", "text", shingleN = 3, tNum = 4, tDen = 5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    },

    // ---- Scalar (int8) QUANTIZATION for embeddings (L104): per-
    // dimension global [min,max] codebook (one aggregate, 2·d doubles on
    // the driver — the kmeans codebook shape), encode = scan-level
    // projection to 4×-smaller codes, search runs on the decoded
    // reconstruction, recall@5 measured against full-precision brute
    // force. The oracle replays train → encode → decode → score → rank
    // → recall, so the quantization loss itself is cross-engine-checked
    // ((x−mn) ≥ 0 by construction keeps round() divergence-free).
    Q(
      "q122_scalar_quantization", {
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           |  FROM embeddings),
           |st AS (
           |  SELECT i, min(dv[i]) AS mn, max(dv[i]) AS mx
           |  FROM v, unnest(range(1, 65)) u(i) GROUP BY i),
           |cb AS (SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx
           |       FROM st),
           |dq AS (
           |  SELECT vec_id, list_transform(range(1, 65), i ->
           |    cb.mn[i] + ((CASE WHEN cb.mx[i] = cb.mn[i] THEN 0
           |      ELSE CAST(round((dv[i] - cb.mn[i]) / (cb.mx[i] - cb.mn[i]) * 255.0) AS INT)
           |      END) * (cb.mx[i] - cb.mn[i])) / 255.0) AS qv
           |  FROM v, cb),
           |scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    ${dot64Sql("q.qv", "c.qv")}
           |      / (sqrt(${dot64Sql("q.qv", "q.qv")}) * sqrt(${dot64Sql("c.qv", "c.qv")})) AS cos
           |  FROM dq q, dq c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
           |ak AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos DESC, neighbor_id) AS rn
           |  FROM scored) y WHERE rn <= 5),
           |es AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    ${dot64Sql("q.dv", "c.dv")}
           |      / (sqrt(${dot64Sql("q.dv", "q.dv")}) * sqrt(${dot64Sql("c.dv", "c.dv")})) AS cos
           |  FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
           |ek AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos DESC, neighbor_id) AS rn
           |  FROM es) z WHERE rn <= 5)
           |$recallSql""".stripMargin
      }) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val (mins, maxs) = Similarity.sqTrain(e, "embedding")
      val deq = e.select(col("vec_id"),
        Similarity.sqDecode(
          Similarity.sqEncode(col("embedding"), mins, maxs), mins, maxs)
          .as("embedding"))
      val qs = deq.filter(col("vec_id") < 10)
      val ann = Similarity.topKBruteForce(deq, qs, "vec_id", "embedding", 5)
        .select("query_id", "neighbor_id").withColumn("hit", lit(1L))
      val exact = Similarity
        .topKBruteForce(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .select("query_id", "neighbor_id")
      exact.join(ann, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_exact"), 6))
    },

    // ---- INCREMENTAL near-dup clusters (L101): q49's resolution run as
    // continuous ingest — the standing labeling absorbs a NEW batch of
    // pair edges by running the fixpoint on the TOUCHED-COMPONENT graph
    // (bounded by the batch), never re-walking the historical edge set.
    // The oracle is the full recompute over the SAME pair relation, so
    // the incremental fold must land on the identical min-label
    // clustering — the exactness contract, cross-engine-checked.
    //
    // Round 12: the pair source is the L132 degree-capped stream (rank
    // cap replayed in the oracle), not the exact generator. The fold
    // contract is source-agnostic; feeding it the exact stream was a
    // fixture artifact that went quadratic inside the template
    // mega-component — the sf10 probe (bench/README.md) killed it with
    // an aggregation OOM at 100×, while the capped stream holds the
    // linear candidate volume the production fold actually consumes
    // (capped-away links reconcile via the periodic q49 recompute,
    // TextDedupSpec's pinned convergence).
    Q(
      "q119_incremental_components",
      s"""WITH RECURSIVE $simhashCtes,
         |${simhashPairsCtes()},
         |${reachCtes("pairs")},
         |cmp AS (
         |  SELECT id, min(comp) AS component FROM reach GROUP BY id)
         |SELECT d.doc_id,
         |  coalesce(c.component, d.doc_id) AS component,
         |  coalesce(c.component, d.doc_id) = d.doc_id AS keep
         |FROM documents d LEFT JOIN cmp c ON c.id = d.doc_id""".stripMargin) {
      (spark, dir) =>
        val docs = Tables.documents(spark, dir)
        val pairs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
          bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
          .localCheckpoint() // split twice below — compute the candidates once
        val old = pairs.filter((col("id_a") + col("id_b")) % 3 =!= 0)
        val batch = pairs.filter((col("id_a") + col("id_b")) % 3 === 0)
        val standing = Components.connectedComponents(old, "id_a", "id_b")
        val updated = Components
          .incrementalComponents(standing, batch, "id_a", "id_b")
          .withColumnRenamed("id", "doc_id")
        docs.select(col("doc_id"))
          .join(updated, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("comp"), col("doc_id")).as("component"),
            (coalesce(col("comp"), col("doc_id")) === col("doc_id")).as("keep"))
    },

    // ---- DEGREE-CAPPED near-dup clustering (L132): the mega-component
    // guard for continuous dedup. The exact pair set goes quadratic in
    // bucket populations when one template component spans the corpus
    // (q119's sf1 probe: 27× pairs for 10× docs); the capped generator
    // bounds candidates linearly — a pair is checked iff its smaller id
    // is among its bucket's `cap` smallest — and the cap rule is a pure
    // function of bucket contents, so the oracle replays rank, Hamming
    // verify, and the recursive closure bit for bit. Production folds
    // spill to a periodic full recompute (q49) to absorb capped-away
    // links; see Dedup.simhashPairsCapped.
    Q(
      "q151_degree_capped_dedup",
      s"""WITH RECURSIVE $simhashCtes,
         |${simhashPairsCtes()},
         |${reachCtes("pairs")},
         |cmp AS (
         |  SELECT id, min(comp) AS component FROM reach GROUP BY id)
         |SELECT d.doc_id,
         |  coalesce(c.component, d.doc_id) AS component,
         |  coalesce(c.component, d.doc_id) = d.doc_id AS keep
         |FROM documents d LEFT JOIN cmp c ON c.id = d.doc_id""".stripMargin) {
      (spark, dir) =>
        val docs = Tables.documents(spark, dir)
        val pairs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
          bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
        Components.resolveClusters(docs, "doc_id", pairs, "id_a", "id_b")
    },

    // ---- IVF ANN with TRAINED centroids (L98): q113's k-means output
    // wired in as the coarse quantizer (q36 uses a first-C stand-in and
    // documents "swap in k-means output in production" — this is that
    // swap), recall@5 measured against brute force per query. The
    // oracle replays the ENTIRE chain — training, cell assignment,
    // probing, scoring, ranking, recall — so the measured recall itself
    // is cross-engine-checked end to end.
    Q(
      "q116_trained_ivf", {
        def cellSql(name: String, filter: String, keep: Int) =
          s"""$name AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT vn.vec_id, c.cid,
             |      row_number() OVER (PARTITION BY vn.vec_id
             |        ORDER BY ${dot64Sql("vn.dv", "c.cv")}
             |          / (sqrt(vn.vn2) * c.cn) DESC, c.cid) AS rn
             |    FROM vn, cc c$filter) x WHERE rn <= $keep)""".stripMargin
        s"""WITH $kmeansCtes,
           |cc AS (SELECT cluster AS cid, cv,
           |  sqrt(${dot64Sql("cv", "cv")}) AS cn FROM c2),
           |${cellSql("ca", "", 1)},
           |${cellSql("qa", " WHERE vn.vec_id < 10", 2)},
           |scored AS (
           |  SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id,
           |    ${dot64Sql("qv.dv", "nv.dv")} / (sqrt(qv.vn2) * sqrt(nv.vn2)) AS cos
           |  FROM qa JOIN vn qv ON qa.vec_id = qv.vec_id
           |    JOIN ca ON qa.cid = ca.cid
           |    JOIN vn nv ON ca.vec_id = nv.vec_id
           |  WHERE ca.vec_id <> qa.vec_id),
           |ak AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos DESC, neighbor_id) AS rn
           |  FROM scored) y WHERE rn <= 5),
           |${exactTop5Ctes("vn")}
           |$recallSql""".stripMargin
      }) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val (_, cents) = Similarity.kmeansLloyd(e, "vec_id", "embedding",
        k = 4, iters = 2)
      val qs = e.filter(col("vec_id") < 10)
      val exact = Similarity.topKBruteForce(e, qs, "vec_id", "embedding", 5)
        .select("query_id", "neighbor_id")
      val ann = Similarity
        .topKIvfTrained(e, qs, "vec_id", "embedding", 5, cents, nprobe = 2)
        .select("query_id", "neighbor_id").withColumn("hit", lit(1L))
      exact.join(ann, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_exact"), 6))
    },

    // ---- LABEL-NOISE detection via k-NN disagreement (L144): for each
    // probe vector, the fraction of its 10 nearest neighbors (cosine)
    // carrying a DIFFERENT label — the confident-learning-style QA pass
    // that surfaces mislabeled examples before they poison a classifier
    // head (high disagreement + high neighbor confidence ⇒ suspect
    // label). Same broadcast brute-force ranking as q26/q98 (the corpus
    // side never shuffles; at scale the probe set rides the L98 IVF
    // probe instead, same contract); the oracle replays the full
    // ranking and the disagreement count, so the verdict itself is
    // cross-engine-checked.
    Q(
      "q163_label_noise_knn", {
        val kk = 10
        def dotSql(a: String, b: String) = foldSumSql(
          s"list_transform(range(1, 65), i -> $a[i]*$b[i])", "CAST(0 AS DOUBLE)")
        s"""WITH v AS (
           |  SELECT vec_id, label,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           |  FROM embeddings),
           |ranked AS (
           |  SELECT q.vec_id AS query_id, q.label AS label,
           |    c.label AS n_label,
           |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |      ${dotSql("q.dv", "c.dv")}
           |        / (sqrt(${dotSql("q.dv", "q.dv")}) * sqrt(${dotSql("c.dv", "c.dv")})) DESC,
           |      c.vec_id) AS rn
           |  FROM v q, v c WHERE q.vec_id < 100 AND c.vec_id <> q.vec_id)
           |SELECT query_id AS vec_id, CAST(label AS INT) AS label,
           |  CAST(sum(CASE WHEN n_label <> label THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_diff,
           |  round(CAST(sum(CASE WHEN n_label <> label THEN 1 ELSE 0 END) AS DOUBLE)
           |    / $kk, 6) AS disagreement
           |FROM ranked WHERE rn <= $kk
           |GROUP BY 1, 2""".stripMargin
      }) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val labels = e.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label"))
      Similarity
        .topKBruteForce(e, e.filter(col("vec_id") < 100), "vec_id",
          "embedding", k = 10)
        .join(broadcast(labels), Seq("neighbor_id"))
        .join(broadcast(e.select(col("vec_id").as("query_id"),
          col("label"))), Seq("query_id"))
        .groupBy(col("query_id").as("vec_id"), col("label"))
        .agg(sum(when(col("n_label") =!= col("label"), 1L).otherwise(0L))
          .as("n_diff"))
        .withColumn("disagreement",
          round(col("n_diff").cast("double") / 10, 6))
    },

    // ---- RECENCY HALF-LIFE weighting (L136): freshness-weighted
    // sampling for continuously-refreshed training mixes — each record's
    // weight halves per 90-day period of age, and the deterministic
    // keep gate thins each period to its weight (period k keeps
    // ~100/2^k % of rows, exactly reproducible across engines/runs/
    // partitionings — no RNG). All arithmetic is engine-exact: age is
    // integer floor division on datediff, 2^-k is a dyadic double (IEEE
    // represents it exactly, so the weight column needs no rounding
    // discipline at all), and the gate compares the integer hash gate
    // against the exact dyadic 100/2^k. The corpus max date is a
    // broadcast scalar; everything else is a scan-level projection —
    // zero shuffles beyond the 1-row aggregate.
    Q(
      "q155_recency_weights",
      s"""WITH mx AS (SELECT max(o_orderdate) AS mxd FROM orders)
         |SELECT o_orderkey,
         |  CAST(date_diff('day', o_orderdate, mxd) // 90 AS BIGINT) AS age_periods,
         |  1.0 / power(2, date_diff('day', o_orderdate, mxd) // 90) AS weight,
         |  ((o_orderkey * ${Mult}) % ${P}) % 100
         |    < 100.0 / power(2, date_diff('day', o_orderdate, mxd) // 90) AS kept
         |FROM orders, mx""".stripMargin) { (spark, dir) =>
      val o = Tables.orders(spark, dir)
      val mx = o.agg(max(col("o_orderdate")).as("mxd"))
      val k = floor(datediff(col("mxd"), col("o_orderdate")) / 90).cast("long")
      o.select(col("o_orderkey"), col("o_orderdate"))
        .crossJoin(broadcast(mx))
        .select(
          col("o_orderkey"),
          k.as("age_periods"),
          (lit(1.0) / pow(lit(2.0), k)).as("weight"),
          (Sample.hashGate(col("o_orderkey")).cast("double")
            < lit(100.0) / pow(lit(2.0), k)).as("kept"))
    },

    // ---- HYBRID RETRIEVAL RANK FUSION (L151): reciprocal-rank fusion
    // (Cormack et al. 2009) of a lexical BM25 ranking (q54's scoring,
    // summed over a fixed query-term set) and an embedding-cosine
    // ranking against a probe vector (vec_id 0; embeddings align with
    // doc ids) — the retrieval composition behind hybrid search and
    // retrieval-based training-data selection. RRF contributions are
    // INTEGER (1e9 div (60 + rank)) so fusion arithmetic is exact in
    // both engines; per-term BM25 partials are isolated in conditional
    // aggregates (≤1 element each) and added in literal order, so no
    // float sum depends on partial-agg merge order. Both top-100 cuts
    // are orderBy+limit — Spark's TakeOrderedAndProject top-k, never a
    // global-window shuffle — and every window after them runs on a
    // bounded ≤100-row frame.
    Q(
      "q170_rrf_hybrid", {
        val terms = Seq("table", "window", "batch")
        def bmTerm(t: String) =
          s"""sum(CASE WHEN term = '$t' THEN
             |    $bm25Sql END)""".stripMargin
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
           |$bm25StatsCtes,
           |lex AS (
           |  SELECT tf.doc_id,
           |    ${terms.map(t => s"${bmTerm(t)} AS s_$t").mkString(",\n    ")}
           |  FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id), stats
           |  WHERE term IN (${terms.map(t => s"'$t'").mkString(",")})
           |  GROUP BY tf.doc_id),
           |lex_top AS (
           |  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rn
           |  FROM (SELECT doc_id,
           |    ${terms.map(t => s"coalesce(s_$t, 0.0)").mkString(" + ")} AS s FROM lex)
           |  ORDER BY s DESC, doc_id LIMIT 100),
           |v AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           |  FROM embeddings),
           |probe AS (SELECT dv AS pv FROM v WHERE vec_id = 0),
           |vec_top AS (
           |  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rn
           |  FROM (SELECT vec_id,
           |      ${dot64Sql("dv", "pv")}
           |        / (sqrt(${dot64Sql("dv", "dv")}) * sqrt(${dot64Sql("pv", "pv")})) AS cos
           |    FROM v, probe)
           |  ORDER BY cos DESC, vec_id LIMIT 100),
           |fused AS (
           |  SELECT coalesce(l.doc_id, vt.vec_id) AS doc_id,
           |    coalesce(1000000000 // (60 + l.rn), 0)
           |      + coalesce(1000000000 // (60 + vt.rn), 0) AS rrf_score,
           |    l.rn AS lex_rank, vt.rn AS vec_rank
           |  FROM lex_top l FULL JOIN vec_top vt ON l.doc_id = vt.vec_id)
           |SELECT doc_id,
           |  CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rrf_rank,
           |  CAST(rrf_score AS BIGINT) AS rrf_score,
           |  CAST(lex_rank AS BIGINT) AS lex_rank,
           |  CAST(vec_rank AS BIGINT) AS vec_rank
           |FROM fused
           |ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin
      }) { (spark, dir) =>
      val terms = Seq("table", "window", "batch")
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")).cache()
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val bm25 =
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
            (col("dl").cast("double") / (col("sum_dl").cast("double") / col("n_docs")))))
      // one conditional sum per query term (each over ≤1 element — tf is
      // unique per (doc, term)), added in literal order: the total is
      // independent of Spark's partial-agg merge order.
      val lexScores = tf.filter(col("term").isin(terms: _*))
        .join(dfT, "term").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .groupBy("doc_id")
        .agg(
          sum(when(col("term") === terms.head, bm25)).as(s"s_${terms.head}"),
          terms.tail.map(t => sum(when(col("term") === t, bm25)).as(s"s_$t")): _*)
        .select(col("doc_id"),
          terms.map(t => coalesce(col(s"s_$t"), lit(0.0))).reduce(_ + _).as("s"))
      val lexTop = lexScores.orderBy(col("s").desc, col("doc_id")).limit(100)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("s").desc, col("doc_id")))) // ≤100-row frame
        .select(col("doc_id"), col("rn"))
      val v = Tables.embeddings(spark, dir)
        .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("dv"))
      val probe = v.filter(col("vec_id") === 0).select(col("dv").as("pv"))
      val vecTop = v.crossJoin(broadcast(probe))
        .select(col("vec_id"), Similarity.cosine(col("dv"), col("pv")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(100)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("cos").desc, col("vec_id")))) // ≤100-row frame
        .select(col("vec_id"), col("rn"))
      val fused = Similarity.rrfFuse(
        lexTop.select(col("doc_id"), col("rn")),
        vecTop.select(col("vec_id").as("doc_id"), col("rn")),
        "doc_id", "rn")
        .withColumnRenamed("rank_a", "lex_rank")
        .withColumnRenamed("rank_b", "vec_rank")
      fused.orderBy(col("rrf_score").desc, col("doc_id")).limit(20)
        .withColumn("rrf_rank", row_number().over(
          Window.orderBy(col("rrf_score").desc, col("doc_id"))).cast("long"))
        // ≤20-row frame: the limit(20) cut precedes the rank window
        .select("doc_id", "rrf_rank", "rrf_score", "lex_rank", "vec_rank")
    },

    // ---- STRIDE-SCHEDULER MIXTURE INTERLEAVE (L152): the deterministic
    // data-loader order for a weighted source mixture — every doc gets
    // an integer virtual time rank·STRIDE/weight and the schedule reads
    // in (vt, source, id) order, so a weight-4 source appears 4× as
    // often as a weight-1 source from position 0 on, with no RNG and no
    // epoch-boundary burst (q84 packs the chosen stream; this chooses
    // the ORDER the mixture is consumed in). All arithmetic is exact
    // 64-bit integers (weights divide the stride), the per-source rank
    // is a keyed window, and the schedule page is an orderBy+limit
    // top-k — never a global-window shuffle.
    Q(
      "q171_stride_interleave",
      s"""WITH w AS (
         |  SELECT doc_id, source,
         |    CASE WHEN source IN ('src0','src1','src2','src3') THEN 4
         |         WHEN source IN ('src4','src5','src6','src7','src8','src9') THEN 2
         |         ELSE 1 END AS wt,
         |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, source,
         |    (rn * ${Sample.InterleaveStride}) // wt AS vt FROM w)
         |SELECT CAST(row_number() OVER (ORDER BY vt, source, doc_id) AS BIGINT)
         |    AS sched_pos,
         |  doc_id, source, CAST(vt AS BIGINT) AS vt
         |FROM s ORDER BY vt, source, doc_id LIMIT 200""".stripMargin) {
      (spark, dir) =>
        val sched = Sample.strideInterleave(
          Tables.documents(spark, dir), "doc_id", "source",
          weights = (0 to 3).map(i => s"src$i" -> 4) ++
            (4 to 9).map(i => s"src$i" -> 2),
          defaultWeight = 1)
        sched.orderBy(col("vt"), col("source"), col("doc_id")).limit(200)
          .withColumn("sched_pos", row_number().over(
            // ≤200-row frame: the limit(200) cut precedes the window
            Window.orderBy(col("vt"), col("source"), col("doc_id"))).cast("long"))
          .select("sched_pos", "doc_id", "source", "vt")
    },

    // ---- PRODUCT-QUANTIZATION ANN (L160): two 32-dim subspaces each
    // train the deterministic k-means recipe (q113's: lowest-id init,
    // DECIMAL centroid sums, 2 Lloyd iterations), the corpus encodes to
    // 2 small codes per vector, and queries rank neighbors by ADC —
    // per-subspace distance to the CODE's centroid, summed left to
    // right. The oracle replays both subspace trainings, the encoding
    // argmin, and every ADC term with the same fold arithmetic; probe
    // set = vec_id < 10, top-5 (self excluded).
    Q(
      "q179_pq_ann",
      s"""WITH $pqCtes,
         |$pqAdcCte,
         |ranked AS (
         |  SELECT query_id, neighbor_id, adc_d2,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_d2, neighbor_id) AS rn
         |  FROM adc)
         |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id,
         |  round(adc_d2, 6) AS adc_d2
         |FROM ranked WHERE rn <= 5""".stripMargin) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val cbs = Similarity.pqTrain(e, "vec_id", "embedding",
        dim = 64, m = 2, ksub = 4, iters = 2)
      // adc_d2 crosses the oracle boundary rounded (q26/q144 recipe):
      // the centroid DECIMAL(30,12) sums exceed 2^53 unscaled, so the
      // decimal->double conversions differ in the last ulp between
      // engines (Java's one-step correctly-rounded vs two-step)
      Similarity.pqTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", cbs, dim = 64, k = 5)
        .withColumn("adc_d2", round(col("adc_d2"), 6))
    },

    // ---- BORDA RANK AGGREGATION (L167): a multi-signal quality
    // ensemble with NO tuned weights — each integer signal (doc length,
    // distinct-token count, stopword hits) ranks the corpus
    // best-to-worst, a doc's Borda score is the SUM of its ranks, and
    // the final order is (score, doc_id). Rank aggregation is the
    // published way to combine incommensurable quality signals without
    // normalizing scales (a rank is a rank); everything is integer, so
    // no engine can disagree on a boundary. Three rank windows over the
    // corpus (each a single global sort — at scale these become the
    // q129 two-phase range-partition rank), one |corpus|-row sum, top-50
    // cut via TakeOrderedAndProject.
    Q(
      "q186_borda_quality", {
        def rankSql(sig: String, name: String) =
          s"""$name AS (
             |  SELECT doc_id, row_number() OVER (ORDER BY $sig DESC, doc_id)
             |    AS r
             |  FROM sig)""".stripMargin
        s"""WITH sig AS (
           |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
           |    CAST(len(list_distinct($toksSql)) AS BIGINT) AS n_distinct,
           |    CAST(len(list_filter($toksSql, w -> w IN ($stopListSql))) AS BIGINT) AS stop_hits
           |  FROM documents),
           |${rankSql("len", "r1")},
           |${rankSql("n_distinct", "r2")},
           |${rankSql("stop_hits", "r3")},
           |sc AS (
           |  SELECT s.doc_id,
           |    CAST(r1.r AS BIGINT) AS rank_len,
           |    CAST(r2.r AS BIGINT) AS rank_distinct,
           |    CAST(r3.r AS BIGINT) AS rank_stop,
           |    CAST(r1.r + r2.r + r3.r AS BIGINT) AS borda
           |  FROM sig s JOIN r1 USING (doc_id) JOIN r2 USING (doc_id)
           |  JOIN r3 USING (doc_id))
           |SELECT * FROM (
           |  SELECT doc_id, rank_len, rank_distinct, rank_stop, borda,
           |    CAST(row_number() OVER (ORDER BY borda, doc_id) AS BIGINT)
           |      AS final_rank
           |  FROM sc) x WHERE final_rank <= 50""".stripMargin
      }) { (spark, dir) =>
      val toks = Text.tokens(col("text"))
      // checkpoint: three rank passes read the signal frame
      val sig = Tables.documents(spark, dir).select(col("doc_id"),
        length(col("text")).cast("long").as("len"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        Text.stopwordHits(col("text"), Text.StopWords.head._2).cast("long")
          .as("stop_hits")).localCheckpoint()
      // each rank is the q129 two-phase range-partition prefix sum — no
      // single-partition global window over the corpus
      def ranked(c: String, name: String) = Sample
        .quantileNormalize(sig.select(col("doc_id"), col(c)),
          Seq(col(c).desc, col("doc_id")))
        .select(col("doc_id"), col("rnk").as(name))
      val sc = sig.select("doc_id")
        .join(ranked("len", "rank_len"), "doc_id")
        .join(ranked("n_distinct", "rank_distinct"), "doc_id")
        .join(ranked("stop_hits", "rank_stop"), "doc_id")
        .withColumn("borda",
          col("rank_len") + col("rank_distinct") + col("rank_stop"))
      // top-50 cut is TakeOrderedAndProject; the rank window then runs
      // on the bounded 50-row frame only
      sc.orderBy(col("borda"), col("doc_id")).limit(50)
        .withColumn("final_rank", row_number().over(
          Window.orderBy(col("borda"), col("doc_id"))).cast("long"))
        .select("doc_id", "rank_len", "rank_distinct", "rank_stop", "borda",
          "final_rank")
    },

    // ---- PQ RECALL/MRR SCOREBOARD (L170): the q179 compressed index
    // evaluated against EXACT euclidean top-5 on the raw vectors —
    // recall@5 (overlap count) and the true nearest neighbor's rank in
    // the PQ ranking (NULL if the compressed index lost it). Closes
    // the ANN evaluation loop the way q98 does for LSH: the quality
    // numbers an index rollout decision reads are themselves
    // cross-engine-checked data, not a notebook printout. Only integer
    // ranks/counts cross the boundary; both rankings' float math is
    // bit-identical per engine pair.
    Q(
      "q189_pq_recall",
      s"""WITH $pqCtes,
         |$pqAdcCte,
         |pq5 AS (
         |  SELECT query_id, neighbor_id, rn FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc_d2, neighbor_id) AS rn
         |    FROM adc) x WHERE rn <= 5),
         |ex AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${dot64Sql("q.dvall", "q.dvall")}
         |        + ${dot64Sql("c.dvall", "c.dvall")}
         |        - 2.0 * ${dot64Sql("q.dvall", "c.dvall")}, c.vec_id) AS rn
         |  FROM vall q JOIN vall c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10),
         |ex5 AS (SELECT query_id, neighbor_id, rn FROM ex WHERE rn <= 5),
         |ov AS (
         |  SELECT p.query_id, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM pq5 p JOIN ex5 e
         |    ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
         |  GROUP BY 1),
         |nn AS (SELECT query_id, neighbor_id FROM ex5 WHERE rn = 1)
         |SELECT n.query_id,
         |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  CAST(p.rn AS BIGINT) AS true_nn_rank
         |FROM nn n LEFT JOIN ov USING (query_id)
         |LEFT JOIN pq5 p
         |  ON p.query_id = n.query_id AND p.neighbor_id = n.neighbor_id""".stripMargin) {
      (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val cbs = Similarity.pqTrain(e, "vec_id", "embedding",
        dim = 64, m = 2, ksub = 4, iters = 2)
      val probes = e.filter(col("vec_id") < 10)
      val pq5 = Similarity.pqTopK(e, probes, "vec_id", "embedding", cbs,
        dim = 64, k = 5).select("query_id", "neighbor_id", "rank")
      val c = e.select(col("vec_id").as("neighbor_id"),
        Similarity.toDouble(col("embedding")).as("cv"))
        .withColumn("cn2", Similarity.dot(col("cv"), col("cv")))
      val q = probes.select(col("vec_id").as("query_id"),
        Similarity.toDouble(col("embedding")).as("qv"))
        .withColumn("qn2", Similarity.dot(col("qv"), col("qv")))
      val ex5 = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .withColumn("d2", col("qn2") + col("cn2")
          - lit(2.0) * Similarity.dot(col("qv"), col("cv")))
        .withColumn("rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("d2"), col("neighbor_id"))))
        .filter(col("rn") <= 5)
        .select("query_id", "neighbor_id", "rn")
      val ov = pq5.join(ex5.drop("rn"), Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
      val nn = ex5.filter(col("rn") === 1).select("query_id", "neighbor_id")
      nn.join(ov, Seq("query_id"), "left")
        .join(pq5, Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          col("rank").cast("long").as("true_nn_rank"))
    },

    // ---- nDCG@10 RETRIEVAL QUALITY (L189): the GRADED companion of
    // q98/q153/q189's set-overlap recalls — same-label neighbors count
    // as relevant (gain 3 = 2²−1), position discounts 1/log2(i+1), per
    // query nDCG = DCG@10 / ideal-DCG@10. Catches rankers that find
    // the right set in the wrong order, which recall@k cannot.
    // Exactness: the ten discount weights and their prefix sums are
    // 9-decimal literals MINTED ONCE in Scala and spliced verbatim
    // into both engines' plans — DCG is then an exact DECIMAL dot
    // product of integer gains with shared constants (no engine ever
    // evaluates log2), and only the final dcg/idcg division runs in
    // double, on identical operands. Scale shape: q26's brute-force
    // contract — bounded query set broadcast, corpus scanned once,
    // per-query top-k via the rank window.
    Q(
      "q208_ndcg", {
        val wCase = ndcgDiscounts.zipWithIndex
          .map { case (w, i) => s"WHEN ${i + 1} THEN ${w.toPlainString}" }
          .mkString(" ")
        val cCase = ndcgCum.zipWithIndex
          .map { case (c, i) => s"WHEN ${i + 1} THEN ${c.toPlainString}" }
          .mkString(" ")
        def dotSql(a: String, b: String) =
          foldSumSql(
            s"list_transform(range(1, 65), i -> $a[i]*$b[i])",
            "CAST(0 AS DOUBLE)")
        s"""WITH v AS (
           |  SELECT vec_id, label,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           |  FROM embeddings),
           |scored AS (
           |  SELECT q.vec_id AS query_id, q.label AS q_label,
           |    c.vec_id AS neighbor_id, c.label AS n_label,
           |    ${dotSql("q.dv", "c.dv")}
           |      / (sqrt(${dotSql("q.dv", "q.dv")})
           |         * sqrt(${dotSql("c.dv", "c.dv")})) AS cos
           |  FROM v q, v c WHERE q.vec_id < $NdcgQueries
           |    AND c.vec_id <> q.vec_id),
           |topk AS (
           |  SELECT * FROM (
           |    SELECT query_id, q_label, n_label,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY cos DESC, neighbor_id) AS rn
           |    FROM scored) WHERE rn <= $NdcgK),
           |d AS (
           |  SELECT query_id, q_label,
           |    sum((CASE WHEN q_label = n_label THEN 3 ELSE 0 END)
           |      * (CASE rn $wCase END)) AS dcg,
           |    CAST(sum(CASE WHEN q_label = n_label THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_rel_at_k
           |  FROM topk GROUP BY 1, 2),
           |lc AS (SELECT label, CAST(count(*) AS BIGINT) AS nl
           |       FROM v GROUP BY 1)
           |SELECT query_id, CAST(nl - 1 AS BIGINT) AS n_rel, n_rel_at_k,
           |  round(CAST(dcg AS DOUBLE), 6) AS dcg,
           |  round(CAST(3 * (CASE least($NdcgK, nl - 1) $cCase ELSE 0 END)
           |    AS DOUBLE), 6) AS idcg,
           |  CASE WHEN nl - 1 >= 1 THEN
           |    round(CAST(dcg AS DOUBLE)
           |      / CAST(3 * (CASE least($NdcgK, nl - 1) $cCase ELSE 0 END)
           |        AS DOUBLE), 6) END AS ndcg
           |FROM d JOIN lc ON lc.label = d.q_label""".stripMargin
      }) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val labels = e.select(col("vec_id"), col("label"))
      val top = Similarity.topKBruteForce(e,
        e.filter(col("vec_id") < NdcgQueries), "vec_id", "embedding", NdcgK)
      val wArr = array(ndcgDiscounts.map(lit(_)): _*)
      val cArr = array(ndcgCum.map(lit(_)): _*)
      val d = top
        .join(broadcast(labels.select(col("vec_id").as("query_id"),
          col("label").as("q_label"))), "query_id")
        .join(broadcast(labels.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label"))), "neighbor_id")
        .groupBy("query_id", "q_label")
        .agg(
          sum(when(col("q_label") === col("n_label"), lit(3L)).otherwise(lit(0L))
            * element_at(wArr, col("rank").cast("int"))).as("dcg"),
          sum(when(col("q_label") === col("n_label"), 1L).otherwise(0L))
            .as("n_rel_at_k"))
      val lc = labels.groupBy("label").agg(count(lit(1)).as("nl"))
      val idcg = lit(3) *
        element_at(cArr, least(lit(NdcgK), col("nl") - 1).cast("int"))
      d.join(broadcast(lc), col("label") === col("q_label"))
        .select(col("query_id"),
          (col("nl") - 1).cast("long").as("n_rel"),
          col("n_rel_at_k"),
          round(col("dcg").cast("double"), 6).as("dcg"),
          round(when(col("nl") - 1 >= 1, idcg).otherwise(lit(0))
            .cast("double"), 6).as("idcg"),
          when(col("nl") - 1 >= 1,
            round(col("dcg").cast("double") / idcg.cast("double"), 6))
            .as("ndcg"))
    },

    // ---- MATRYOSHKA PREFIX FIDELITY (L190): how well does cosine
    // retrieval over a PREFIX of the embedding (Kusupati et al. 2022 —
    // matryoshka representations truncate to the first d dims) agree
    // with full-dim retrieval? Per prefix dim: the fraction of queries
    // whose top-1 neighbor under the renormalized prefix cosine equals
    // the full-dim top-1 — the measurement that decides how small the
    // ANN index's coarse stage can go. One broadcast of the bounded
    // query set, ONE corpus scan scoring all prefixes per pair, top-1
    // per metric as a max(struct(cos, -id)) hash aggregate (no rank
    // window, no second shuffle), then a 20-row rollup. Ties resolve
    // to the smaller neighbor id on both engines (max over (cos, -id)
    // == row_number over (cos DESC, id)).
    Q(
      "q211_matryoshka_fidelity", {
        def dotSql(a: String, b: String, d: Int) =
          foldSumSql(
            s"list_transform(range(1, ${d + 1}), i -> $a[i]*$b[i])",
            "CAST(0 AS DOUBLE)")
        def cosSql(d: Int) =
          s"""${dotSql("q.dv", "c.dv", d)}
             |      / (sqrt(${dotSql("q.dv", "q.dv", d)})
             |         * sqrt(${dotSql("c.dv", "c.dv", d)}))""".stripMargin
        val cosCols = (MatDims :+ 64)
          .map(d => s"    ${cosSql(d)} AS cos_$d").mkString(",\n")
        def top(d: Int) =
          s"""t$d AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id,
             |      row_number() OVER (PARTITION BY query_id
             |        ORDER BY cos_$d DESC, neighbor_id) AS rn
             |    FROM scored) WHERE rn = 1)""".stripMargin
        val unions = MatDims.map(d =>
          s"""SELECT CAST($d AS BIGINT) AS prefix_dim,
             |  CAST(count(*) AS BIGINT) AS n_queries,
             |  CAST(sum(CASE WHEN t$d.neighbor_id = t64.neighbor_id
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_top1_match,
             |  CAST(((2 * sum(CASE WHEN t$d.neighbor_id = t64.neighbor_id
             |      THEN 1 ELSE 0 END) * 1000000 + count(*)) // (2 * count(*)))
             |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS match_rate
             |FROM t64 JOIN t$d USING (query_id)""".stripMargin)
          .mkString("\nUNION ALL\n")
        s"""WITH v AS (
           |  SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           |  FROM embeddings),
           |scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |$cosCols
           |  FROM v q, v c WHERE q.vec_id < $MatQueries
           |    AND c.vec_id <> q.vec_id),
           |${(MatDims :+ 64).map(top).mkString(",\n")}
           |$unions""".stripMargin
      }) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val c = e.select(col("vec_id").as("neighbor_id"),
        Similarity.toDouble(col("embedding")).as("nv"))
      val q = e.filter(col("vec_id") < MatQueries)
        .select(col("vec_id").as("query_id"),
          Similarity.toDouble(col("embedding")).as("qv"))
      def cosAt(d: Int) = {
        val qd = slice(col("qv"), 1, d)
        val nd = slice(col("nv"), 1, d)
        Similarity.dot(qd, nd) /
          (sqrt(Similarity.dot(qd, qd)) * sqrt(Similarity.dot(nd, nd)))
      }
      val dims = MatDims :+ 64
      val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id") +:
          dims.map(d => cosAt(d).as(s"cos_$d")) :+
          (-col("neighbor_id")).as("nid"): _*)
      val tops = scored.groupBy("query_id").agg(
        max(struct(col("cos_64"), col("nid"))).as("t_64"),
        MatDims.map(d =>
          max(struct(col(s"cos_$d"), col("nid"))).as(s"t_$d")): _*)
      val agg = tops.agg(
        count(lit(1)).as("n_queries"),
        MatDims.map(d =>
          sum((col(s"t_$d").getField("nid") ===
            col("t_64").getField("nid")).cast("long")).as(s"s_$d")): _*)
      val stackArgs = MatDims.map(d => s"${d}L, s_$d").mkString(", ")
      agg
        .select(
          expr(s"stack(${MatDims.size}, $stackArgs)" +
            " as (prefix_dim, n_top1_match)"),
          col("n_queries"))
        .select(col("prefix_dim"), col("n_queries"), col("n_top1_match"),
          graft.functions.ExactRound
            .roundRatio(col("n_top1_match"), col("n_queries"), 6)
            .cast("double").as("match_rate"))
    },

    // ---- SKYLINE / PARETO FRONTIER (L195, Börzsönyi 2001): docs no
    // other doc beats on BOTH axes — here the token-efficiency
    // frontier (minimize n_chars, maximize whitespace tokens), the
    // multi-criteria selection primitive ranking scalarizations (q186
    // Borda, q118 feed scores) cannot express: a weighted sum commits
    // to ONE trade-off, the skyline returns every undominated one.
    // Dominance is pure integer comparison; exact duplicates are
    // mutually undominated and both survive (matching the oracle's
    // NOT EXISTS). Scale shape: skyline(S) = skyline(∪ skyline(Sᵢ)) —
    // dominance is transitive, so a per-source pass (keyed windows:
    // running max over n_chars' < x via a range frame + an equal-x
    // max) prunes the corpus to per-source frontiers, and the global
    // pass re-applies the same two windows over the bounded survivor
    // union; the corpus itself is never globally sorted. The oracle is
    // the independent quadratic NOT-EXISTS definition — two different
    // algorithms, same frontier.
    Q(
      "q214_skyline",
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(n_chars AS BIGINT) AS n_chars,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT a.doc_id, a.n_chars, a.n_tokens FROM d a
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM d b
         |  WHERE b.n_chars <= a.n_chars AND b.n_tokens >= a.n_tokens
         |    AND (b.n_chars < a.n_chars OR b.n_tokens > a.n_tokens))""".stripMargin) {
      (spark, dir) =>
      val d = Tables.documents(spark, dir).select(
        col("doc_id"), col("source"), col("n_chars"),
        graft.ops.Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Pareto.skyline(d, "n_chars", "n_tokens", Seq("source"))
        .select("doc_id", "n_chars", "n_tokens")
    },

    // ---- INCREMENTAL SKYLINE MAINTENANCE (L203): q214's frontier as
    // a continuously-maintained VIEW — the q119/q158 incremental-fold
    // shape applied to the Pareto frontier instead of a labeling.
    // History (docs with id % 3 ≠ 0) is resolved ONCE into a standing
    // frontier; the new batch folds in at |frontier| + |batch| cost —
    // never re-reading history — and by dominance transitivity the
    // folded frontier must EQUAL the one-shot skyline of everything,
    // which is exactly what the oracle computes (the q214 NOT-EXISTS
    // definition over all docs). ParetoSpec pins the algebra on
    // randomized splits; this query pins it cross-engine.
    Q(
      "q222_incremental_skyline",
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(n_chars AS BIGINT) AS n_chars,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT a.doc_id, a.n_chars, a.n_tokens FROM d a
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM d b
         |  WHERE b.n_chars <= a.n_chars AND b.n_tokens >= a.n_tokens
         |    AND (b.n_chars < a.n_chars OR b.n_tokens > a.n_tokens))""".stripMargin) {
      (spark, dir) =>
      val d = Tables.documents(spark, dir).select(
        col("doc_id"), col("source"), col("n_chars"),
        graft.ops.Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      val hist = d.filter(col("doc_id") % 3 =!= 0)
      val batch = d.filter(col("doc_id") % 3 === 0).drop("source")
      val standing = graft.ops.Pareto
        .skyline(hist, "n_chars", "n_tokens", Seq("source"))
        .localCheckpoint() // the standing view a production fold READS
      graft.ops.Pareto.fold(standing, batch, "n_chars", "n_tokens")
        .select("doc_id", "n_chars", "n_tokens")
    },

    // ---- GOLDEN-RECORD FUSION (L198): the MDM survivorship step q87's
    // boolean keep-flag stops short of — per dup cluster, ONE fused
    // canonical record assembled by per-FIELD rules (completeness:
    // longest text wins the body, id tiebreak; consensus: modal lang,
    // count-then-value tiebreak; lineage: member count + total bytes
    // carried as merge evidence). This is what a 100 TB ingest ships
    // downstream after entity resolution: not "which rows to drop" but
    // "what the surviving row SAYS". Clusters are the standing capped-
    // stream labels (the production source, L132); each field rule is
    // one keyed window or aggregate over the cluster key — the corpus
    // shuffles on its cluster key once for all rules. The oracle
    // replays the capped closure and both window picks.
    Q(
      "q217_golden_record",
      s"""WITH RECURSIVE $simhashCtes,
         |${simhashPairsCtes("cpairs")},
         |${componentCtes("cpairs")},
         |m AS (
         |  SELECT coalesce(c.component, d.doc_id) AS component,
         |    d.doc_id, d.n_chars, d.lang
         |  FROM documents d LEFT JOIN cmp c ON c.id = d.doc_id),
         |sz AS (
         |  SELECT component, CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(sum(n_chars) AS BIGINT) AS total_chars
         |  FROM m GROUP BY 1),
         |sv AS (
         |  SELECT component, doc_id AS survivor_id, n_chars AS survivor_chars
         |  FROM (
         |    SELECT component, doc_id, n_chars,
         |      row_number() OVER (PARTITION BY component
         |        ORDER BY n_chars DESC, doc_id) AS rn
         |    FROM m) z WHERE rn = 1),
         |lc AS (
         |  SELECT component, lang, CAST(count(*) AS BIGINT) AS c
         |  FROM m GROUP BY 1, 2),
         |lm AS (
         |  SELECT component, lang AS lang_consensus FROM (
         |    SELECT component, lang,
         |      row_number() OVER (PARTITION BY component
         |        ORDER BY c DESC, lang) AS rn
         |    FROM lc) z WHERE rn = 1)
         |SELECT sz.component, sz.n_members, sz.total_chars,
         |  sv.survivor_id, sv.survivor_chars, lm.lang_consensus
         |FROM sz JOIN sv USING (component) JOIN lm USING (component)""".stripMargin) {
      (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
      val comp = Components.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      val m = docs.select(col("doc_id"), col("n_chars"), col("lang"))
        .join(comp, Seq("doc_id"), "left")
        .select(coalesce(col("comp"), col("doc_id")).as("component"),
          col("doc_id"), col("n_chars"), col("lang"))
        .localCheckpoint() // one cluster-keyed frame feeds all field rules
      val sz = m.groupBy("component").agg(
        count(lit(1)).as("n_members"), sum("n_chars").as("total_chars"))
      val sv = m.withColumn("rn", row_number().over(
          Window.partitionBy("component")
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("component"), col("doc_id").as("survivor_id"),
          col("n_chars").as("survivor_chars"))
      val lm = m.groupBy("component", "lang").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("component").orderBy(col("c").desc, col("lang"))))
        .filter(col("rn") === 1)
        .select(col("component"), col("lang").as("lang_consensus"))
      sz.join(sv, "component").join(lm, "component")
        .select("component", "n_members", "total_chars",
          "survivor_id", "survivor_chars", "lang_consensus")
    },

    // ---- round 14: Unicode-normalization dedup audit. q22's exact
    // dedup hashes RAW text, so documents differing only in
    // composed-vs-decomposed accents, case, or whitespace layout count
    // as distinct; graft_norm_text (NFC → lowercase → collapse
    // whitespace → trim, one compiled Catalyst pass) is the canonical
    // pre-dedup cleanup. Per source this reports the dedup impact
    // (raw-distinct vs normalized-distinct — their gap is exactly the
    // clusters raw dedup MISSES) plus two divergence-sensitive pins
    // that make the oracle byte-exact over EVERY document, not only
    // the duplicated ones: the summed normalized length and a summed
    // md5-prefix fingerprint of the normalized text (one flipped byte
    // in one document flips the sum). One source-keyed aggregate,
    // map-side partial, linear; the two countDistincts expand on the
    // same grouping key — never a second corpus shuffle.
    Q(
      "q244_normalized_dedup",
      """WITH n AS (
        |  SELECT source, text,
        |    trim(regexp_replace(lower(nfc_normalize(text)),
        |      '\s+', ' ', 'g')) AS nt
        |  FROM documents)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_raw_distinct,
        |  CAST(count(DISTINCT nt) AS BIGINT) AS n_norm_distinct,
        |  CAST(sum(CASE WHEN nt <> text THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_changed,
        |  CAST(sum(length(nt)) AS BIGINT) AS sum_norm_chars,
        |  CAST(sum(CAST(concat('0x', substr(md5(nt), 1, 8)) AS BIGINT))
        |    AS BIGINT) AS norm_fingerprint
        |FROM n GROUP BY 1""".stripMargin) { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(col("source"), col("text"),
          call_function("graft_norm_text", col("text")).as("nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_raw_distinct"),
          countDistinct(col("nt")).as("n_norm_distinct"),
          sum(when(col("nt") =!= col("text"), 1L).otherwise(0L))
            .as("n_changed"),
          sum(length(col("nt"))).cast("long").as("sum_norm_chars"),
          sum(conv(substring(md5(col("nt")), 1, 8), 16, 10).cast("long"))
            .cast("long").as("norm_fingerprint"))
    },

    // ---- round 14: HELD-OUT unigram cross-entropy — the LM-quality
    // gate q65/q78 train and score on the SAME corpus; a filtering
    // pipeline scores candidate data under a model fit on a trusted
    // split. Train = doc_id % 7 ≠ 0; held-out = % 7 = 0, scored per
    // SOURCE under add-one smoothing with a single UNK bucket:
    // P(w) = (c(w)+1)∕(N+V+1), unseen → 1∕(N+V+1). Determinism is the
    // q65 recipe hardened for big groups: per-token ln rounded at 9 dp
    // into DECIMAL(18,9), summed exactly, and the group mean taken by
    // the SIGNED half-away integer divide (roundRatioSigned — a plain
    // double mean would breach the 2^53 unscaled bound at sf10 for
    // source-sized groups). OOV rate is a pure integer ratio. Two hash
    // aggregates + one broadcast-scalar join; the freq table is the
    // model artifact a 100 TB run would persist.
    Q(
      "q251_heldout_perplexity",
      s"""WITH tr AS (
         |  SELECT unnest($toksSql) AS term FROM documents
         |  WHERE doc_id % 7 <> 0),
         |freq AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tr GROUP BY 1),
         |nv AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n,
         |    (SELECT CAST(count(*) AS BIGINT) FROM freq) AS v),
         |ho AS (
         |  SELECT source, unnest($toksSql) AS term FROM documents
         |  WHERE doc_id % 7 = 0),
         |scored AS (
         |  SELECT source,
         |    CAST(round(ln(CAST(coalesce(f.cnt, 0) + 1 AS DOUBLE)
         |      / (n + v + 1)), 9) AS DECIMAL(18,9)) AS lp,
         |    CASE WHEN f.cnt IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM ho LEFT JOIN freq f USING (term), nv),
         |g AS (
         |  SELECT source, CAST(count(*) AS HUGEINT) AS nt,
         |    CAST(sum(oov) AS HUGEINT) AS no,
         |    CAST(sum(lp) * 1000000000 AS HUGEINT) AS s9
         |  FROM scored GROUP BY 1)
         |SELECT source, CAST(nt AS BIGINT) AS n_tokens,
         |  CAST(no AS BIGINT) AS n_oov,
         |  CAST((2 * no * 1000000 + nt) // (2 * nt) AS DOUBLE) / 1000000
         |    AS oov_rate,
         |  CAST(CASE WHEN s9 >= 0
         |    THEN (2 * s9 + nt * 1000) // (2 * nt * 1000)
         |    ELSE -((2 * (-s9) + nt * 1000) // (2 * nt * 1000)) END
         |    AS DOUBLE) / 1000000 AS mean_logprob
         |FROM g""".stripMargin) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val tr = docs.filter(col("doc_id") % 7 =!= 0)
        .select(explode(Text.tokens(col("text"))).as("term"))
      val freq = tr.groupBy("term").agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // model artifact: feeds V and the score join
      val nv = tr.agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(freq.agg(count(lit(1)).as("v"))))
      val ho = docs.filter(col("doc_id") % 7 === 0)
        .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
      val scored = ho.join(freq, Seq("term"), "left")
        .crossJoin(broadcast(nv))
        .select(col("source"),
          round(log((coalesce(col("cnt"), lit(0L)) + 1).cast("double") /
            (col("n") + col("v") + 1)), 9)
            .cast(DecimalType(18, 9)).as("lp"),
          when(col("cnt").isNull, 1L).otherwise(0L).as("oov"))
      scored.groupBy("source")
        .agg(count(lit(1)).as("nt"), sum("oov").as("no"),
          sum("lp").as("slp"))
        .select(col("source"),
          col("nt").cast("long").as("n_tokens"),
          col("no").cast("long").as("n_oov"),
          graft.functions.ExactRound.roundRatio(col("no"), col("nt"), 6)
            .cast("double").as("oov_rate"),
          graft.functions.ExactRound
            .roundRatioSigned(col("slp"), 9, col("nt"), 6)
            .cast("double").as("mean_logprob"))
    },

    // ---- round 14: BPE pair-merge statistics — the counting pass of
    // one byte-pair-encoding merge iteration (Sennrich et al. 2016),
    // the vocabulary-induction step q154's fertility audit ASSUMES a
    // tokenizer for: every adjacent character pair inside every
    // distinct term, weighted by the term's corpus frequency; the
    // rank-1 row IS the first merge a BPE trainer would perform.
    // Integers end to end. Scale shape: pairs explode off the DISTINCT
    // term table (vocab-sized, not corpus-sized — the corpus pass is
    // the one freq aggregate), then one pair-keyed partial agg and a
    // 50-row top-k heap.
    Q(
      "q252_bpe_pair_stats",
      s"""WITH toks AS (
         |  SELECT unnest($toksSql) AS term FROM documents),
         |freq AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
         |pairs AS (
         |  SELECT substr(term, i, 2) AS pair, cnt
         |  FROM freq, unnest(range(1, len(term))) u(i)),
         |w AS (
         |  SELECT pair, CAST(sum(cnt) AS BIGINT) AS weight
         |  FROM pairs GROUP BY 1)
         |SELECT CAST(rn AS BIGINT) AS pair_rank, pair, weight FROM (
         |  SELECT pair, weight,
         |    row_number() OVER (ORDER BY weight DESC, pair) AS rn
         |  FROM w) y WHERE rn <= 50""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val freq = Tables.documents(spark, dir)
        .select(explode(Text.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      val pairs = freq
        .select(col("cnt"), explode(
          when(length(col("term")) < 2, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(1), length(col("term")) - 1),
              i => col("term").substr(i, lit(2))))).as("pair"))
      // top-50 cut via TakeOrderedAndProject first; the rank window then
      // runs on the bounded 50-row frame only (the pair table is
      // charset²-bounded, but the discipline is uniform: never rank a
      // whole table through one partition)
      pairs.groupBy("pair").agg(sum("cnt").as("weight"))
        .orderBy(col("weight").desc, col("pair")).limit(50)
        .withColumn("pair_rank", row_number().over(
          Window.orderBy(col("weight").desc, col("pair"))).cast("long"))
        .select("pair_rank", "pair", "weight")
    },

    // ---- round 14: GATE-STACK audit — q239's κ kernel applied to two
    // SUBSTANTIVE gates instead of length proxies: the Gopher rule
    // battery (q169's `keep`) vs a trained-model gate (per-doc mean
    // unigram logprob under q251's train-split model ≥ τ), both over
    // the held-out docs. κ answers the pipeline question directly:
    // does the cheap rule battery already capture what the model gate
    // knows (κ→1, drop one stage) or do they disagree on principle
    // (κ→0, both earn their slot)? The model-gate compare runs in
    // integer space — sum of 9-dp DECIMAL lps vs τ·n — so the razor
    // margins of a homogeneous corpus cannot flip cross-engine.
    Q(
      "q253_gate_stack_audit", {
        s"""WITH tr AS (
           |  SELECT unnest($toksSql) AS term FROM documents
           |  WHERE doc_id % 7 <> 0),
           |freq AS (
           |  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tr GROUP BY 1),
           |nv AS (
           |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n,
           |    (SELECT CAST(count(*) AS BIGINT) FROM freq) AS v),
           |base AS (
           |  SELECT doc_id, text, $toksSql AS t FROM documents
           |  WHERE doc_id % 7 = 0),
           |sig AS (
           |  SELECT doc_id,
           |    $gopherFeaturesSql
           |  FROM base),
           |ga AS (
           |  SELECT doc_id,
           |    CASE WHEN n >= 20 AND n <= 100000 AND n > 0
           |      AND sum_len >= n * 3 AND sum_len <= n * 10
           |      AND symbols * 10 <= n AND alpha * 10 >= n * 8
           |      AND stop_hits >= 2 THEN 1 ELSE 0 END AS ga
           |  FROM sig),
           |sc AS (
           |  SELECT b.doc_id,
           |    CAST(round(ln(CAST(coalesce(f.cnt, 0) + 1 AS DOUBLE)
           |      / (n + v + 1)), 9) AS DECIMAL(18,9)) AS lp
           |  FROM (SELECT doc_id, unnest(t) AS term FROM base) b
           |    LEFT JOIN freq f USING (term), nv),
           |gb AS (
           |  SELECT doc_id,
           |    CASE WHEN CAST(sum(lp) * 1000000000 AS HUGEINT)
           |      >= CAST(-3404000000 AS HUGEINT) * CAST(count(*) AS HUGEINT)
           |      THEN 1 ELSE 0 END AS gb
           |  FROM sc GROUP BY 1),
           |g AS (
           |  SELECT ga.ga, coalesce(gb.gb, 0) AS gb
           |  FROM ga LEFT JOIN gb USING (doc_id)),
           |$kappaCtes
           |SELECT $kappaSql
           |FROM k""".stripMargin
      }) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val tr = docs.filter(col("doc_id") % 7 =!= 0)
        .select(explode(Text.tokens(col("text"))).as("term"))
      val freq = tr.groupBy("term").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val nv = tr.agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(freq.agg(count(lit(1)).as("v"))))
      val ho = docs.filter(col("doc_id") % 7 === 0)
      // gate A: the Gopher battery's final keep (q169's last signal)
      val gaDf = ho.select(col("doc_id"),
        Text.gopherSignals(col("text")).last.cast("int").cast("long").as("ga"))
      // gate B: per-doc mean lp >= -3.404, compared in integer space
      val gbDf = ho
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        .join(freq, Seq("term"), "left")
        .crossJoin(broadcast(nv))
        .select(col("doc_id"),
          round(log((coalesce(col("cnt"), lit(0L)) + 1).cast("double") /
            (col("n") + col("v") + 1)), 9)
            .cast(DecimalType(18, 9)).as("lp"))
        .groupBy("doc_id")
        // (27,9)·(10,0) stays within precision 38 — the exact-integer
        // recipe roundRatioSigned uses; τ·n at (12,0)·(10,0)
        .agg(((sum("lp").cast(DecimalType(27, 9)) *
            lit(java.math.BigDecimal.TEN.pow(9)).cast(DecimalType(10, 0)))
            .cast(DecimalType(38, 0)) >=
            lit(java.math.BigDecimal.valueOf(-3404000000L))
              .cast(DecimalType(12, 0)) *
              count(lit(1)).cast(DecimalType(10, 0)))
          .cast("int").cast("long").as("gb"))
      val g = gaDf.join(gbDf, Seq("doc_id"), "left")
        .select(col("ga"), coalesce(col("gb"), lit(0L)).as("gb"))
      graft.ops.Stats.cohensKappa(g, "ga", "gb")
    },

    // ---- Interpolated Kneser–Ney bigram scoring (Chen & Goodman 1999,
    // the published standard q78's raw-MLE score approximates): P(w2|w1)
    // = (c(w1w2) − D)/c(w1·) + D·N1+(w1·)/c(w1·) · N1+(·w2)/T with
    // absolute discount D = 3/4 — every scored bigram is OBSERVED
    // (docs are scored on their own bigrams, so c2 ≥ 1 and the max(·,0)
    // is inactive) and D is an exact rational, so P is the exact integer
    // ratio (T·(4·c2 − 3) + 3·n1p·n1m) / (4·c1·T): both operands convert
    // BIGINT→DOUBLE exactly (< 2^53 — at corpora where T·c2 crosses
    // 2^53 the products move to DECIMAL(38) with an e5-style ladder, the
    // bhDrift precedent) and the 9-dp ln grid + DECIMAL sum make the
    // per-doc mean partial-merge-order-exact (the q65/q78 recipe).
    // Corpus cost beyond q78: two extra hash aggregates over the
    // DISTINCT-bigram table (n1p, n1m — type counts, not token counts)
    // and a broadcast singleton T; the per-occurrence pair stream is
    // still never cached (two cheap passes, the q78 storage contract).
    Q(
      "q282_kn_bigram_lm",
      s"""WITH toksl AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents),
         |pairs AS (
         |  SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, len(tk)),
         |        i -> {'w1': tk[i], 'w2': tk[i + 1]})) AS bg
         |    FROM toksl WHERE len(tk) >= 2)),
         |c2 AS (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM pairs GROUP BY 1, 2),
         |c1 AS (
         |  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
         |    CAST(count(*) AS BIGINT) AS n1p FROM c2 GROUP BY 1),
         |n1m AS (
         |  SELECT w2, CAST(count(*) AS BIGINT) AS n1m FROM c2 GROUP BY 1),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM c2),
         |scored AS (
         |  SELECT doc_id,
         |    CAST(round(ln(
         |      CAST(tt * (4 * c2 - 3) + 3 * n1p * n1m AS DOUBLE)
         |        / CAST(4 * c1 * tt AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lp
         |  FROM pairs JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
         |  JOIN n1m USING (w2), tt)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_kn_logprob
         |FROM scored GROUP BY 1""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val pairs = Tables.documents(spark, dir)
        .select(col("doc_id"), posexplode(Text.tokens(col("text"))))
        .withColumnRenamed("col", "w1")
        .withColumn("w2", lead(col("w1"), 1).over(w))
        .filter(col("w2").isNotNull)
        .select("doc_id", "w1", "w2")
      val c2 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        .localCheckpoint() // read three times: c1/n1m derivation + scoring
      val c1 = c2.groupBy("w1")
        .agg(sum("c2").as("c1"), count(lit(1)).as("n1p"))
      val n1m = c2.groupBy("w2").agg(count(lit(1)).as("n1m"))
      val tt = c2.agg(count(lit(1)).as("tt"))
      pairs.join(c2, Seq("w1", "w2")).join(c1, Seq("w1")).join(n1m, Seq("w2"))
        .crossJoin(broadcast(tt))
        .withColumn("lp",
          round(log(
            (col("tt") * (col("c2") * 4 - 3) + col("n1p") * col("n1m") * 3)
              .cast("double")
              / (col("c1") * col("tt") * 4).cast("double")), 9)
            .cast(DecimalType(18, 9)))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_bigrams"),
          round(sum(col("lp")).cast("double") / count(lit(1)), 6)
            .as("mean_kn_logprob"))
    },

    // ---- Stupid Backoff held-out scoring (Brants et al. 2007 — THE
    // published web-scale LM score: no discounting or normalization,
    // just back off to the unigram at a fixed α = 0.4 = 2∕5): held-out
    // docs (doc_id % 7 = 0, the q251 split) scored under TRAIN counts,
    // so unseen bigrams actually exercise the backoff arm — the case
    // q282's observed-only KN never hits. Every score is an exact
    // integer ratio (seen: c₂∕c₁; backoff: 2·u(w₂)∕(5·N); w₂ unseen in
    // train = OOV, excluded from the mean and counted) minted on the
    // 9-dp ln grid with DECIMAL sums. Per-doc outputs: bigram count,
    // backoff count, OOV count, mean score over scored bigrams — the
    // corpus-level triage (high backoff share = domain shift, high OOV
    // = vocabulary gap) that decides whether a source needs its own
    // count tables. Train artifacts are three hash aggregates; the
    // held-out stream joins them LEFT so absence is data, not an error.
    Q(
      "q288_stupid_backoff",
      s"""WITH trt AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents WHERE doc_id % 7 <> 0),
         |trp AS (
         |  SELECT bg['w1'] AS w1, bg['w2'] AS w2 FROM (
         |    SELECT unnest(list_transform(range(1, len(tk)),
         |      i -> {'w1': tk[i], 'w2': tk[i + 1]})) AS bg
         |    FROM trt WHERE len(tk) >= 2)),
         |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM trp GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
         |uni AS (
         |  SELECT w2, CAST(count(*) AS BIGINT) AS u FROM (
         |    SELECT unnest(tk) AS w2 FROM trt) GROUP BY 1),
         |nn AS (SELECT CAST(sum(u) AS BIGINT) AS n FROM uni),
         |tep AS (
         |  SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |      i -> {'w1': tk[i], 'w2': tk[i + 1]})) AS bg
         |    FROM (SELECT doc_id, $toksSql AS tk FROM documents
         |          WHERE doc_id % 7 = 0) te
         |    WHERE len(tk) >= 2)),
         |scored AS (
         |  SELECT tep.doc_id,
         |    CASE WHEN c2.c2 IS NOT NULL THEN 0
         |         WHEN uni.u IS NOT NULL THEN 1 ELSE 2 END AS cls,
         |    CASE WHEN c2.c2 IS NOT NULL THEN
         |           CAST(round(ln(CAST(c2.c2 AS DOUBLE) / c1.c1), 9)
         |             AS DECIMAL(18,9))
         |         WHEN uni.u IS NOT NULL THEN
         |           CAST(round(ln(CAST(2 * uni.u AS DOUBLE) / (5 * nn.n)), 9)
         |             AS DECIMAL(18,9))
         |         ELSE NULL END AS lp
         |  FROM tep
         |  LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
         |  LEFT JOIN uni USING (w2), nn)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CASE WHEN cls = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_backoff,
         |  CAST(sum(CASE WHEN cls = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  round(CAST(sum(lp) AS DOUBLE) / count(lp), 6) AS mean_sb_logprob
         |FROM scored GROUP BY 1""".stripMargin) { (spark, dir) =>
      def pairsOf(df: org.apache.spark.sql.DataFrame) = {
        val w = Window.partitionBy("doc_id").orderBy("pos")
        df.select(col("doc_id"), posexplode(Text.tokens(col("text"))))
          .withColumnRenamed("col", "w1")
          .withColumn("w2", lead(col("w1"), 1).over(w))
          .filter(col("w2").isNotNull)
          .select("doc_id", "w1", "w2")
      }
      val docs = Tables.documents(spark, dir)
      val train = docs.filter(col("doc_id") % 7 =!= 0)
      val c2 = pairsOf(train).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        .localCheckpoint() // c1 derivation + the scoring join both read it
      val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
      val uni = train
        .select(explode(Text.tokens(col("text"))).as("w2"))
        .groupBy("w2").agg(count(lit(1)).as("u"))
      val nn = uni.agg(sum("u").as("n"))
      val scored = pairsOf(docs.filter(col("doc_id") % 7 === 0))
        .join(c2, Seq("w1", "w2"), "left")
        .join(c1, Seq("w1"), "left")
        .join(uni, Seq("w2"), "left")
        .crossJoin(broadcast(nn))
        .select(col("doc_id"),
          when(col("c2").isNotNull, 0)
            .when(col("u").isNotNull, 1).otherwise(2).as("cls"),
          when(col("c2").isNotNull,
            round(log(col("c2").cast("double") / col("c1")), 9)
              .cast(DecimalType(18, 9)))
            .when(col("u").isNotNull,
              round(log((col("u") * 2).cast("double") / (col("n") * 5)), 9)
                .cast(DecimalType(18, 9)))
            .otherwise(lit(null).cast(DecimalType(18, 9))).as("lp"))
      scored.groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("cls") === 1, 1L).otherwise(0L)).as("n_backoff"),
        sum(when(col("cls") === 2, 1L).otherwise(0L)).as("n_oov"),
        round(sum(col("lp")).cast("double") / count(col("lp")), 6)
          .as("mean_sb_logprob"))
    },

    // ---- Character-entropy compressibility gate: order-0 Shannon
    // entropy (nats) over each document's code-point distribution — the
    // cheap stand-in for the gzip-compressibility filter the published
    // curation stacks run (CCNet §4.2 / Gopher C1: near-zero entropy =
    // repeated-character junk, binary paste, or padding; natural text
    // sits well above). The per-doc histogram comes from ONE compiled
    // pass (`graft_char_counts`) so the explode downstream is bounded
    // by the document's ALPHABET, never its length — no corpus-character
    // shuffle. Exactness: H = −Σ n·ln(n∕N)∕N on the 9-dp ln grid with
    // the (10,0)×(18,9) DECIMAL product summed exactly, divided via the
    // signed integer-space half-up rule (ExactRound.roundRatioSigned) —
    // the verdict compares the 6-dp integer, so the keep boundary cannot
    // flip cross-engine. N = length(text) = code points (Spark and
    // DuckDB agree on the unit; surrogate pairs count once).
    Q(
      "q283_char_entropy", {
        val d = "2 * CAST(ntot AS HUGEINT) * 1000"
        s"""WITH ch AS (
           |  SELECT doc_id, unicode(substr(text, i, 1)) AS cp
           |  FROM documents, unnest(range(1, length(text) + 1)) u(i)
           |  WHERE length(text) > 0),
           |hist AS (
           |  SELECT doc_id, cp, CAST(count(*) AS BIGINT) AS n
           |  FROM ch GROUP BY 1, 2),
           |tot AS (
           |  SELECT doc_id, CAST(length(text) AS BIGINT) AS ntot
           |  FROM documents WHERE length(text) > 0),
           |lps AS (
           |  SELECT h.doc_id, h.n, t.ntot,
           |    CAST(round(ln(CAST(h.n AS DOUBLE) / t.ntot), 9)
           |      AS DECIMAL(18,9)) AS lp
           |  FROM hist h JOIN tot t USING (doc_id)),
           |per AS (
           |  SELECT doc_id,
           |    CAST(count(*) AS BIGINT) AS n_alphabet,
           |    any_value(ntot) AS n_cp,
           |    sum(CAST(n AS HUGEINT)
           |      * CAST(CAST(lp AS DECIMAL(28,9)) * 1000000000 AS HUGEINT))
           |      AS s10
           |  FROM lps GROUP BY 1)
           |SELECT doc_id, n_cp, n_alphabet,
           |  CAST(((2 * (-s10) + ntot * 1000) // ($d))
           |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS entropy,
           |  ((2 * (-s10) + ntot * 1000) // ($d)) > 1500000 AS keep
           |FROM (SELECT *, CAST(n_cp AS HUGEINT) AS ntot FROM per) f"""
          .stripMargin
      }) { (spark, dir) =>
      import graft.functions.ExactRound
      val base = Tables.documents(spark, dir)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), length(col("text")).cast("long").as("ntot"),
          explode(call_function("graft_char_counts", col("text"))).as("e"))
        .select(col("doc_id"), col("ntot"), col("e.n").as("n"))
      val per = base
        .withColumn("lp",
          round(log(col("n").cast("double") / col("ntot")), 9)
            .cast(DecimalType(18, 9)))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_alphabet"),
          max("ntot").as("n_cp"),
          sum(col("n").cast(DecimalType(10, 0)) * col("lp")).as("s"))
        .withColumn("ent6",
          ExactRound.roundRatioSigned(-col("s"), 9, col("n_cp"), 6))
      per.select(col("doc_id"), col("n_cp"), col("n_alphabet"),
        col("ent6").cast("double").as("entropy"),
        (col("ent6") >
          lit(new java.math.BigDecimal("1.5")).cast(DecimalType(38, 6)))
          .as("keep"))
    },

    // ---- POST-DEDUP MIXTURE SHIFT: dedup silently reweights the
    // source mixture (boilerplate-heavy sources lose more tokens than
    // clean ones — q168 measures per-source survival, q94/q238 plan
    // mixtures, but nothing connected them): per source the raw vs
    // post-survivor token share and their exact-decimal difference —
    // the number a mixture planner must re-plan against after every
    // dedup build. Survivors ride the DEGREE-CAPPED pair stream (L132 —
    // the production decision rule; the exact generator goes quadratic
    // inside a template mega-cluster: uncapped, this query OOM'd the
    // sf10 probe exactly as the 27×/decade pair-explosion precedent
    // predicts; capped-away links reconcile via the periodic q49 full
    // recompute), min-label component canonical + untouched singletons;
    // shares minted by the integer-space half-up divide, shift = exact
    // DECIMAL(7,6) subtraction (the q127 drift recipe — no float
    // crosses the oracle boundary un-rounded). One capped clustering
    // pass + one corpus token aggregate + |sources|-row grid math.
    Q(
      "q292_postdedup_mixture", {
        def rr(x: String, t: String) =
          s"((2 * CAST($x AS HUGEINT) * 1000000 + $t) // (2 * CAST($t AS HUGEINT))) * CAST(0.000001 AS DECIMAL(7,6))"
        s"""WITH RECURSIVE $simhashCtes,
           |${simhashPairsCtes()},
           |${componentCtes("pairs")},
           |tk AS (
           |  SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS ntok
           |  FROM documents),
           |j AS (
           |  SELECT t.source, t.ntok,
           |    coalesce(c.component, t.doc_id) = t.doc_id AS keep
           |  FROM tk t LEFT JOIN cmp c ON c.id = t.doc_id),
           |per AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |    CAST(sum(ntok) AS BIGINT) AS tokens_all,
           |    CAST(sum(CASE WHEN keep THEN ntok ELSE 0 END) AS BIGINT)
           |      AS tokens_kept
           |  FROM j GROUP BY 1),
           |tot AS (
           |  SELECT CAST(sum(tokens_all) AS BIGINT) AS ta,
           |    CAST(sum(tokens_kept) AS BIGINT) AS tkt FROM per)
           |SELECT source, n_docs, n_kept, tokens_all, tokens_kept,
           |  CAST(${rr("tokens_all", "ta")} AS DOUBLE) AS share_raw,
           |  CAST(${rr("tokens_kept", "tkt")} AS DOUBLE) AS share_dedup,
           |  CAST(${rr("tokens_kept", "tkt")} - ${rr("tokens_all", "ta")}
           |    AS DOUBLE) AS share_shift
           |FROM per, tot""".stripMargin
      }) { (spark, dir) =>
      import graft.functions.ExactRound
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
      // cluster resolution sized to the PAIR volume: 256 shuffle
      // partitions keep each task's slice of the closure bounded at sf10
      val clusters = graft.Sessions.withWideAggPartitions(spark, 256) {
        Components.resolveClusters(docs, "doc_id", pairs, "id_a", "id_b")
          .localCheckpoint()
      }
      val tk = docs.select(col("doc_id"), col("source"),
        size(Text.tokens(col("text"))).cast("long").as("ntok"))
      val per = tk.join(clusters.select("doc_id", "keep"), "doc_id")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("ntok")).as("tokens_all"),
          sum(when(col("keep"), col("ntok")).otherwise(0L)).as("tokens_kept"))
      val tot = per.agg(sum("tokens_all").as("ta"), sum("tokens_kept").as("tkt"))
      val rrAll = ExactRound.roundRatio(col("tokens_all"), col("ta"), 6)
      val rrKept = ExactRound.roundRatio(col("tokens_kept"), col("tkt"), 6)
      per.crossJoin(broadcast(tot)).select(
        col("source"), col("n_docs"), col("n_kept"),
        col("tokens_all"), col("tokens_kept"),
        rrAll.cast("double").as("share_raw"),
        rrKept.cast("double").as("share_dedup"),
        (rrKept - rrAll).cast("double").as("share_shift"))
    },

    // ---- WEIGHTED (multiset) Jaccard rescoring of the LSH candidates:
    // J_w = Σ_t min(tf_a, tf_b) ∕ Σ_t max(tf_a, tf_b) over token
    // FREQUENCY vectors — the refinement that separates "same vocabulary"
    // from "same document": a doc and its 3×-repeated concatenation have
    // set-Jaccard 1.0 but J_w = 1∕3, exactly the boilerplate-amplification
    // case set dedup mislabels. Candidates are the DEGREE-CAPPED banded
    // MinHash-LSH pairs at set-J ≥ 0.5 (Dedup.nearDupPairsCapped — the
    // production stream; the uncapped q23 set grows ~27×/decade on a
    // template-heavy corpus, the round-17 grid measured 228 s at sf10
    // rescoring it, and capped-away links reconcile via the periodic
    // full recompute, the q49/q292 rule). The rescoring pass streams
    // each pair's tf rows through a (pair, term) aggregate — volume
    // Σ_pairs (|terms_a| + |terms_b|), linear in the (now linear)
    // candidate set. min/max sums are exact BIGINTs; J_w minted by the
    // integer-space half-up divide. Set-vs-weighted ordering is NOT
    // monotone — the audit emits both so the threshold choice is
    // measurable.
    Q(
      "q293_weighted_jaccard", {
        import LlmQueries.{bands, r}
        s"""$hvCte,
           |sigs AS (
           |  SELECT doc_id, hv, $sigSql AS sig FROM hvt),
           |banded AS (
           |  ${(0 until bands).map(b =>
                s"SELECT doc_id, $b AS band, array_to_string(sig[${b * r + 1}:${b * r + r}], ',') AS band_key FROM sigs")
                .mkString("\n  UNION ALL ")}),
           |ranked AS (
           |  SELECT doc_id, band, band_key,
           |    row_number() OVER (PARTITION BY band, band_key ORDER BY doc_id)
           |      AS rk
           |  FROM banded),
           |prs AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM ranked a JOIN banded b USING (band, band_key)
           |  WHERE a.rk <= ${Dedup.DefaultDegreeCap}
           |    AND a.doc_id < b.doc_id),
           |cand AS (
           |  SELECT id_a, id_b, set_jaccard FROM (
           |    SELECT id_a, id_b, $jaccardSql AS set_jaccard
           |    FROM prs
           |    JOIN hvt ha ON ha.doc_id = id_a
           |    JOIN hvt hb ON hb.doc_id = id_b)
           |  WHERE set_jaccard >= 0.5),
           |${termFreqCte(s"(\n    SELECT doc_id, unnest($toksSql) AS term FROM documents)")},
           |pt AS (
           |  SELECT c.id_a, c.id_b, t.term, t.tf AS tfa, CAST(0 AS BIGINT) AS tfb
           |  FROM cand c JOIN tf t ON t.doc_id = c.id_a
           |  UNION ALL
           |  SELECT c.id_a, c.id_b, t.term, CAST(0 AS BIGINT), t.tf
           |  FROM cand c JOIN tf t ON t.doc_id = c.id_b),
           |agg AS (
           |  SELECT id_a, id_b, term,
           |    CAST(sum(tfa) AS BIGINT) AS tfa, CAST(sum(tfb) AS BIGINT) AS tfb
           |  FROM pt GROUP BY 1, 2, 3),
           |wj AS (
           |  SELECT id_a, id_b,
           |    CAST(sum(least(tfa, tfb)) AS BIGINT) AS smin,
           |    CAST(sum(greatest(tfa, tfb)) AS BIGINT) AS smax
           |  FROM agg GROUP BY 1, 2)
           |SELECT c.id_a, c.id_b, c.set_jaccard,
           |  CAST(((2 * CAST(smin AS HUGEINT) * 1000000 + smax)
           |      // (2 * CAST(smax AS HUGEINT)))
           |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS weighted_jaccard
           |FROM cand c JOIN wj USING (id_a, id_b)""".stripMargin
      }) { (spark, dir) =>
      import graft.functions.ExactRound
      val docs = Tables.documents(spark, dir)
      val cand = Dedup.nearDupPairsCapped(docs, "doc_id", "text",
        shingleN = 3, k = LlmQueries.k, bands = LlmQueries.bands,
        threshold = 0.5, cap = Dedup.DefaultDegreeCap)
        .withColumnRenamed("jaccard", "set_jaccard")
        .localCheckpoint() // candidate set read by both rescoring sides
      val tf = docs
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val aSide = cand.select("id_a", "id_b")
        .join(tf, col("doc_id") === col("id_a"))
        .select(col("id_a"), col("id_b"), col("term"),
          col("tf").as("tfa"), lit(0L).as("tfb"))
      val bSide = cand.select("id_a", "id_b")
        .join(tf, col("doc_id") === col("id_b"))
        .select(col("id_a"), col("id_b"), col("term"),
          lit(0L).as("tfa"), col("tf").as("tfb"))
      val wj = aSide.unionByName(bSide)
        .groupBy("id_a", "id_b", "term")
        .agg(sum("tfa").as("tfa"), sum("tfb").as("tfb"))
        .groupBy("id_a", "id_b")
        .agg(sum(least(col("tfa"), col("tfb"))).as("smin"),
          sum(greatest(col("tfa"), col("tfb"))).as("smax"))
      cand.join(wj, Seq("id_a", "id_b"))
        .select(col("id_a"), col("id_b"), col("set_jaccard"),
          ExactRound.roundRatio(col("smin"), col("smax"), 6)
            .cast("double").as("weighted_jaccard"))
    },

    // ---- SPAN-LEVEL post-dedup mixture shift: q292's twin under the
    // OTHER dedup mode — exact-substring span stripping (L258) removes
    // tokens inside documents instead of whole documents, and its
    // mixture impact is different in kind (a syndication-heavy source
    // keeps its doc count but loses its token mass). Per source: token
    // totals before vs after the L258 rewrite, shares minted by the
    // integer half-up divide, shift = exact DECIMAL(7,6) subtraction.
    // Together q292/q295 price BOTH policies' reweighting before a
    // mixture planner commits. Cost = one L258 pass (hash-prefiltered,
    // never all-pairs) + |sources|-row grid math; the removed-token
    // counts come from the rewrite output, nothing is re-tokenized.
    Q(
      "q295_span_mixture_shift", {
        def rr(x: String, t: String) =
          s"((2 * CAST($x AS HUGEINT) * 1000000 + $t) // (2 * CAST($t AS HUGEINT))) * CAST(0.000001 AS DECIMAL(7,6))"
        s"""WITH base AS ($exactSubstrOracleSql),
           |per AS (
           |  SELECT d.source,
           |    CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(b.n_tokens) AS BIGINT) AS tokens_all,
           |    CAST(sum(b.n_tokens - b.n_removed) AS BIGINT) AS tokens_kept
           |  FROM base b JOIN documents d USING (doc_id) GROUP BY 1),
           |tot AS (
           |  SELECT CAST(sum(tokens_all) AS BIGINT) AS ta,
           |    CAST(sum(tokens_kept) AS BIGINT) AS tkt FROM per)
           |SELECT source, n_docs, tokens_all, tokens_kept,
           |  CAST(${rr("tokens_all", "ta")} AS DOUBLE) AS share_raw,
           |  CAST(${rr("tokens_kept", "tkt")} AS DOUBLE) AS share_dedup,
           |  CAST(${rr("tokens_kept", "tkt")} - ${rr("tokens_all", "ta")}
           |    AS DOUBLE) AS share_shift
           |FROM per, tot""".stripMargin
      }) { (spark, dir) =>
      import graft.functions.ExactRound
      val docs = Tables.documents(spark, dir)
      val rewritten = Dedup.exactSubstrDedup(docs, "doc_id", "text",
        minLen = 20)
      val per = rewritten
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("tokens_all"),
          sum(col("n_tokens") - col("n_removed")).as("tokens_kept"))
      val tot = per.agg(sum("tokens_all").as("ta"), sum("tokens_kept").as("tkt"))
      val rrAll = ExactRound.roundRatio(col("tokens_all"), col("ta"), 6)
      val rrKept = ExactRound.roundRatio(col("tokens_kept"), col("tkt"), 6)
      per.crossJoin(broadcast(tot)).select(
        col("source"), col("n_docs"), col("tokens_all"), col("tokens_kept"),
        rrAll.cast("double").as("share_raw"),
        rrKept.cast("double").as("share_dedup"),
        (rrKept - rrAll).cast("double").as("share_shift"))
    },

    // ---- WINNOWING fingerprint match matrix (L278, Schleimer,
    // Wilkerson & Aiken 2003 — the MOSS algorithm): per position hash
    // the k-gram (k=3) starting there, slide a w=4 window over the
    // hash stream, select each window's minimum (rightmost on ties —
    // the paper's plain winnowing; its "robust" variant re-selects the
    // previous window's fingerprint on ties, shifting positions but
    // not the distinct VALUES), match docs on selected fingerprints.
    // The paper's guarantee: any shared run of ≥ w+k−1 = 6 tokens
    // shares ≥ 1 fingerprint, at ~2∕(w+1) selection density — the
    // LOCAL fingerprinting scheme between q22's whole-doc hash and
    // q277's every-position exact-substring pass. The rightmost-min
    // argmin is the pure integer key min((h+1)·2²² − p) — no engine
    // tie policy; stop-fingerprints (df > 64) drop before matching
    // (the paper's "too many documents" rule) so a boilerplate
    // fingerprint emits ≤ 64² candidate rows — linear at any corpus
    // size. overlap = n_shared ∕ min(|fp_a|, |fp_b|), half-up 6-dp.
    Q(
      "q297_winnowing_matches", {
        s"""WITH $winnowCtes,
           |pr AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    CAST(count(*) AS BIGINT) AS n_shared
           |  FROM kept a JOIN kept b USING (h)
           |  WHERE a.doc_id < b.doc_id
           |  GROUP BY 1, 2 HAVING count(*) >= 2)
           |SELECT id_a, id_b, n_shared,
           |  CAST(((2 * CAST(n_shared AS HUGEINT) * 1000000
           |        + least(na.nfp, nb.nfp))
           |      // (2 * CAST(least(na.nfp, nb.nfp) AS HUGEINT)))
           |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS overlap
           |FROM pr
           |JOIN nf na ON na.doc_id = pr.id_a
           |JOIN nf nb ON nb.doc_id = pr.id_b""".stripMargin
      }) { (spark, dir) =>
      Dedup.winnowingPairs(Tables.documents(spark, dir), "doc_id", "text",
        k = 3, w = 4, dfCap = 64)
    },

    // ---- CCNet PERPLEXITY BUCKETING (L279, Wenzek et al. 2020 — the
    // published head/middle/tail split every CommonCrawl-derived
    // pretraining corpus ships with): per LANGUAGE, rank documents by
    // LM score and cut the distribution into thirds — head = the
    // most-fluent third (lowest perplexity = highest mean logprob),
    // tail = the least. Scores are the q251 unigram add-1 logprob
    // means on the exact grid (9-dp ln terms, DECIMAL sums, signed
    // half-away divides). The tercile thresholds are VALUE thresholds
    // computed on a 3-dp score histogram — CCNet itself cuts on binned
    // perplexity histograms — so the per-lang cumulative window runs
    // over the bounded score GRID (≤ ~25k distinct 3-dp values for
    // ln-scores in [−25, 0]), never over per-doc rows: threshold
    // computation is support-sized at any corpus scale, and the bucket
    // assignment is a broadcast |langs|-row threshold join. Ties at a
    // boundary share the boundary value's bucket (value semantics —
    // deterministic, engine-free).
    Q(
      "q298_ccnet_buckets",
      s"""WITH tr AS (
         |  SELECT unnest($toksSql) AS term FROM documents),
         |freq AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tr GROUP BY 1),
         |nv AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n,
         |    (SELECT CAST(count(*) AS BIGINT) FROM freq) AS v),
         |ho AS (
         |  SELECT doc_id, lang, unnest($toksSql) AS term FROM documents),
         |scored AS (
         |  SELECT doc_id, lang,
         |    CAST(round(ln(CAST(f.cnt + 1 AS DOUBLE) / (n + v + 1)), 9)
         |      AS DECIMAL(18,9)) AS lp
         |  FROM ho JOIN freq f USING (term), nv),
         |g AS (
         |  SELECT doc_id, lang, CAST(count(*) AS HUGEINT) AS nt,
         |    CAST(sum(lp) * 1000000000 AS HUGEINT) AS s9
         |  FROM scored GROUP BY 1, 2),
         |d AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN s9 >= 0 THEN (2*s9 + nt*1000000) // (2*nt*1000000)
         |         ELSE -((2*(-s9) + nt*1000000) // (2*nt*1000000)) END AS sc3,
         |    CAST(CASE WHEN s9 >= 0 THEN (2*s9 + nt*1000) // (2*nt*1000)
         |         ELSE -((2*(-s9) + nt*1000) // (2*nt*1000)) END AS DOUBLE)
         |      / 1000000 AS mean_lp
         |  FROM g),
         |sup AS (
         |  SELECT lang, sc3, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
         |cum AS (
         |  SELECT lang, sc3, sum(c) OVER (PARTITION BY lang ORDER BY sc3
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f
         |  FROM sup),
         |nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
         |th AS (
         |  SELECT c1.lang, min(c1.sc3) FILTER (WHERE c1.f >= (nl.n + 2) // 3)
         |      AS t1,
         |    min(c1.sc3) FILTER (WHERE c1.f >= (2*nl.n + 2) // 3) AS t2
         |  FROM cum c1 JOIN nl USING (lang) GROUP BY 1)
         |SELECT doc_id, d.lang, mean_lp AS mean_logprob,
         |  CASE WHEN sc3 <= t1 THEN 'tail' WHEN sc3 <= t2 THEN 'middle'
         |       ELSE 'head' END AS ppl_bucket
         |FROM d JOIN th ON th.lang = d.lang""".stripMargin) { (spark, dir) =>
      import graft.functions.ExactRound
      val docs = Tables.documents(spark, dir)
      val tr = docs.select(explode(Text.tokens(col("text"))).as("term"))
      val freq = tr.groupBy("term").agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // model artifact: feeds V and the score join
      val nv = tr.agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(freq.agg(count(lit(1)).as("v"))))
      val g = docs
        .select(col("doc_id"), col("lang"),
          explode(Text.tokens(col("text"))).as("term"))
        .join(freq, Seq("term"))
        .crossJoin(broadcast(nv))
        .select(col("doc_id"), col("lang"),
          round(log((col("cnt") + 1).cast("double") /
            (col("n") + col("v") + 1)), 9)
            .cast(DecimalType(18, 9)).as("lp"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("nt"), sum("lp").as("slp"))
      val d = g.select(col("doc_id"), col("lang"),
          ExactRound.roundRatioSigned(col("slp"), 9, col("nt"), 3).as("sc3"),
          ExactRound.roundRatioSigned(col("slp"), 9, col("nt"), 6)
            .cast("double").as("mean_lp"))
        .localCheckpoint() // read by the support grid AND the final join
      // tercile thresholds on the bounded 3-dp score grid (support-
      // sized per-lang cumulative window — never per-doc rows)
      val sup = d.groupBy("lang", "sc3").agg(count(lit(1)).as("c"))
      val cum = sup.withColumn("f",
        sum("c").over(Window.partitionBy("lang").orderBy("sc3")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val nl = d.groupBy("lang").agg(count(lit(1)).as("n"))
      val th = cum.join(nl, "lang")
        .groupBy("lang")
        .agg(
          min(when(col("f") >= expr("(n + 2) div 3"), col("sc3"))).as("t1"),
          min(when(col("f") >= expr("(2*n + 2) div 3"), col("sc3"))).as("t2"))
      d.join(broadcast(th), "lang")
        .select(col("doc_id"), col("lang"),
          col("mean_lp").as("mean_logprob"),
          when(col("sc3") <= col("t1"), "tail")
            .when(col("sc3") <= col("t2"), "middle")
            .otherwise("head").as("ppl_bucket"))
    },

    // ---- INCREMENTAL WINNOWING ingest (L284): q297's fingerprint
    // matching under continuous arrival — winnowing is per-doc LOCAL
    // (the Schleimer et al. design point), so an arriving batch
    // fingerprints from its own text alone and matches against the
    // STANDING append-only (id, h) index; df for the stop-fingerprint
    // rule comes from the maintained index (standing ∪ batch), exactly
    // what a full recompute sees — the oracle IS the one-shot cross
    // join, so the hash match proves fold == rebuild (the q294/q301
    // contract). Standing = doc_id % 4 ≠ 0, batch = the % 4 = 0
    // arrivals; output (corpus_id, batch_id, n_shared, overlap).
    Q(
      "q303_winnowing_ingest", {
        s"""WITH $winnowCtes,
           |pr AS (
           |  SELECT a.doc_id AS corpus_id, b.doc_id AS batch_id,
           |    CAST(count(*) AS BIGINT) AS n_shared
           |  FROM kept a JOIN kept b USING (h)
           |  WHERE a.doc_id % 4 <> 0 AND b.doc_id % 4 = 0
           |  GROUP BY 1, 2 HAVING count(*) >= 2)
           |SELECT corpus_id, batch_id, n_shared,
           |  CAST(((2 * CAST(n_shared AS HUGEINT) * 1000000
           |        + least(na.nfp, nb.nfp))
           |      // (2 * CAST(least(na.nfp, nb.nfp) AS HUGEINT)))
           |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS overlap
           |FROM pr
           |JOIN nf na ON na.doc_id = pr.corpus_id
           |JOIN nf nb ON nb.doc_id = pr.batch_id""".stripMargin
      }) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      Dedup.winnowingPairsAgainst(
        docs.filter(col("doc_id") % 4 =!= 0),
        docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", k = 3, w = 4, dfCap = 64)
    },

    // ---- LSH S-CURVE PLANNER (L285 — the banding calculus from
    // Leskovec, Rajaraman & Ullman, MMDS ch. 3): for every (b, r)
    // factorization of the k=12 MinHash signature, the detection
    // probability is the S-curve P(s) = 1 − (1 − s^r)^b. Folklore
    // picks (b, r) from the curve midpoint (1∕b)^(1∕r) alone; this
    // planner prices each config against the CORPUS — expected recall
    // = mean P(s) over the measured Jaccard distribution of the
    // degree-capped candidate pairs (the q293 stream), next to the
    // constant sub-threshold leak P(0.2) that predicts verify cost.
    // Determinism: s^r and (1−x)^b are EXPLICIT multiplication chains
    // (never pow — IEEE multiply is engine-exact where pow is not),
    // per-pair P rounds onto the 9-dp DECIMAL grid, means by the
    // signed half-away divide; the two per-config constants are minted
    // once in Scala and inlined as identical literals into BOTH plans.
    // Scale: one capped candidate pass (linear), then 6 aggregates
    // over the tail-sized pair set.
    Q(
      "q304_lsh_s_curve", {
        import LlmQueries.{bands, r => rr0}
        val configs = Seq((1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1))
        def mid(b: Int, r: Int) =
          BigDecimal(math.pow(1.0 / b, 1.0 / r))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        def p02(b: Int, r: Int) = {
          val sr = math.pow(0.2, r) // exact chain not needed: constant
          BigDecimal(1.0 - math.pow(1.0 - sr, b))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
        def srSql(r: Int) = (1 to r).map(_ => "s").mkString("(", " * ", ")")
        def ombSql(b: Int, r: Int) =
          (1 to b).map(_ => s"(1.0 - ${srSql(r)})").mkString("(", " * ", ")")
        val blocks = configs.map { case (b, r) =>
          s"""SELECT CAST($b AS BIGINT) AS b, CAST($r AS BIGINT) AS r,
             |  CAST(${mid(b, r)} AS DOUBLE) AS s_mid,
             |  CAST(${p02(b, r)} AS DOUBLE) AS p_at_02,
             |  CAST(count(*) AS BIGINT) AS n_pairs,
             |  CASE WHEN count(*) = 0 THEN CAST(0 AS DOUBLE) ELSE
             |  CAST((2 * CAST(sum(CAST(round(1.0 - ${ombSql(b, r)}, 9)
             |        AS DECIMAL(10,9))) * 1000000000 AS HUGEINT)
             |      + count(*) * 1000)
             |    // (2 * CAST(count(*) AS HUGEINT) * 1000) AS DOUBLE)
             |    / 1000000 END AS expected_recall
             |FROM sc""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""$hvCte,
           |sigs AS (
           |  SELECT doc_id, hv, $sigSql AS sig FROM hvt),
           |banded AS (
           |  ${(0 until bands).map(bd =>
                s"SELECT doc_id, $bd AS band, array_to_string(sig[${bd * rr0 + 1}:${bd * rr0 + rr0}], ',') AS band_key FROM sigs")
                .mkString("\n  UNION ALL ")}),
           |ranked AS (
           |  SELECT doc_id, band, band_key,
           |    row_number() OVER (PARTITION BY band, band_key ORDER BY doc_id)
           |      AS rk
           |  FROM banded),
           |prs AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM ranked a JOIN banded b USING (band, band_key)
           |  WHERE a.rk <= ${Dedup.DefaultDegreeCap}
           |    AND a.doc_id < b.doc_id),
           |sc AS (
           |  SELECT s FROM (
           |    SELECT id_a, id_b, $jaccardSql AS s
           |    FROM prs
           |    JOIN hvt ha ON ha.doc_id = id_a
           |    JOIN hvt hb ON hb.doc_id = id_b)
           |  WHERE s >= 0.5)
           |$blocks""".stripMargin
      }) { (spark, dir) =>
      import graft.functions.ExactRound
      val configs = Seq((1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1))
      def mid(b: Int, r: Int) =
        BigDecimal(math.pow(1.0 / b, 1.0 / r))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def p02(b: Int, r: Int) = {
        val sr = math.pow(0.2, r)
        BigDecimal(1.0 - math.pow(1.0 - sr, b))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val cand = Dedup.nearDupPairsCapped(Tables.documents(spark, dir),
        "doc_id", "text", shingleN = 3, k = LlmQueries.k,
        bands = LlmQueries.bands, threshold = 0.5,
        cap = Dedup.DefaultDegreeCap)
        .select(col("jaccard").as("s"))
        .localCheckpoint() // tail-sized; 6 config aggregates read it
      configs.map { case (b, r) =>
        val sr = (1 to r).map(_ => col("s")).reduce(_ * _)
        val omb = (1 to b).map(_ => lit(1.0d) - sr).reduce(_ * _)
        val p9 = round(lit(1.0d) - omb, 9).cast(DecimalType(10, 9))
        // empty-candidate guard (round-19 advice): a sparse corpus with
        // zero pairs ≥ threshold must price to recall 0, not a ÷0
        cand.agg(count(lit(1)).as("n_pairs"), sum(p9).as("sp"))
          .select(lit(b.toLong).as("b"), lit(r.toLong).as("r"),
            lit(mid(b, r)).as("s_mid"), lit(p02(b, r)).as("p_at_02"),
            col("n_pairs"),
            when(col("n_pairs") === 0, lit(0.0d)).otherwise(
              ExactRound.roundRatioSigned(col("sp"), 9, col("n_pairs"), 6)
                .cast("double")).as("expected_recall"))
      }.reduce(_ unionByName _)
    },

    // ---- PARAGRAPH/LINE-LEVEL EXACT DEDUP (L289, Wenzek et al. 2020
    // CCNet §3.1 — dedup normalized paragraphs corpus-wide BEFORE LM
    // scoring; RefinedWeb's line-wise rule is the same operator): the
    // granularity between q22's whole-document hash and q277's
    // every-position exact-substring pass, and the single most-used
    // dedup stage in published CommonCrawl pipelines (it is q298's own
    // upstream). The fixture corpus carries no newline structure, so
    // "lines" are deterministic non-overlapping 10-token chunks —
    // engine-replayable; production splits on newline/paragraph
    // boundaries instead, same operator. Ownership: every line VALUE
    // keeps exactly its first occurrence by (doc_id, pos), decided by
    // ONE map-combinable min-struct aggregate on the line's md5 (never
    // a rank window — a boilerplate line with millions of occurrences
    // would serialize a window partition; the partial-agg min folds it
    // in combiners). Emits per-doc surviving-span stats + the
    // rewritten text. Scale: explode + two hash aggregates + one
    // ownership join, all keyed on 32-char hashes — linear, no
    // corpus-axis self-join anywhere.
    Q(
      "q308_line_dedup",
      lineDedupOracleSql("doc_id, pos")) { (spark, dir) =>
      Dedup.dedupLines(
        tokenChunkLines(Tables.documents(spark, dir), 10),
        "doc_id", "pos", "line")
    },

    // ---- INCREMENTAL LINE DEDUP (L291 — L289 under continuous
    // ingest, the q280/q301 maintenance discipline): a batch (doc_id %
    // 10 = 3) arrives against the standing corpus; published docs'
    // lines are already owned, so the standing value index is
    // APPEND-ONLY and a batch line survives iff its value is new to
    // the index AND first within the batch. The oracle is the ONE-SHOT
    // rebuild under arrival priority (standing docs rank before batch
    // in the ownership order) — the row-for-row hash match IS the
    // fold == rebuild proof. Scale: the batch never re-reads standing
    // TEXT — only the md5 value index (metadata beside the corpus).
    Q(
      "q310_line_dedup_ingest",
      lineDedupOracleSql("(doc_id % 10 = 3), doc_id, pos")) { (spark, dir) =>
      val lines = tokenChunkLines(Tables.documents(spark, dir), 10)
      Dedup.dedupLinesIncremental(
        lines.filter(col("doc_id") % 10 =!= 3),
        lines.filter(col("doc_id") % 10 === 3),
        "doc_id", "pos", "line")
    },

    // ---- REPETITIOUS-TEXT GATES (L292, Rae et al. 2021 Gopher §A1.1
    // Table A1 — the WITHIN-doc repetition battery every published
    // pipeline runs beside the q169 heuristics; Dolma/RedPajama
    // reimplement the same four signal shapes): duplicate-line
    // fraction + duplicate-line char fraction (over the same L289
    // line split), the most-frequent-2-gram char share (count×chars,
    // the Dolma formula), and the char fraction covered by duplicated
    // 5-grams (position union — overlaps never double-count). Gates at
    // the paper's thresholds via integer cross-multiplication,
    // PASS-polarity like q169; the top-2-gram argmax rides a pure
    // integer key (c·2⁴⁰ + c·gmass — frequency, then covered chars),
    // so no engine argmax tie policy exists. Scale: per-doc LOCAL
    // throughout — explodes + aggregates keyed on (doc) or
    // (doc, value), linear at any corpus size (ops/Text
    // repetitionStats scaladoc).
    Q(
      "q311_repetition_gates",
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS t FROM documents),
         |$tokenLinesCte,
         |lg AS (
         |  SELECT doc_id, line, CAST(count(*) AS BIGINT) AS c,
         |    CAST(length(regexp_replace(lower(line), '[^a-z0-9]', '', 'g'))
         |      AS BIGINT) AS lchars
         |  FROM lines GROUP BY 1, 2),
         |ld AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
         |    CAST(sum(c - 1) AS BIGINT) AS n_dup,
         |    CAST(sum((c - 1) * lchars) AS BIGINT) AS dupchars
         |  FROM lg GROUP BY 1),
         |$tokenNgramCte,
         |w AS (
         |  SELECT doc_id, p, plen, h2, gmass, h5,
         |    count(*) OVER (PARTITION BY doc_id, h2) AS c2,
         |    count(*) OVER (PARTITION BY doc_id, h5) AS c5
         |  FROM tlp),
         |f AS (
         |  SELECT doc_id, p, plen,
         |    CASE WHEN h2 IS NOT NULL
         |      THEN c2 * 1099511627776 + c2 * gmass END AS k2,
         |    max(CASE WHEN h5 IS NOT NULL AND c5 >= 2 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY p
         |        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS cvr
         |  FROM w),
         |pc AS (
         |  SELECT doc_id, CAST(sum(plen) AS BIGINT) AS totchars,
         |    CAST(coalesce(sum(plen) FILTER (WHERE cvr = 1), 0) AS BIGINT)
         |      AS dup5chars,
         |    max(k2) AS k2
         |  FROM f GROUP BY 1)
         |SELECT doc_id, n_lines,
         |  CAST((2 * n_dup * 1000000 + n_lines) // (2 * n_lines)
         |    AS DOUBLE) / 1000000 AS dup_line_frac,
         |  CAST((2 * dupchars * 1000000 + totchars) // (2 * totchars)
         |    AS DOUBLE) / 1000000 AS dup_line_char_frac,
         |  CAST((2 * coalesce(k2 % 1099511627776, 0) * 1000000 + totchars)
         |    // (2 * totchars) AS DOUBLE) / 1000000 AS top_2gram_char_frac,
         |  CAST((2 * dup5chars * 1000000 + totchars)
         |    // (2 * totchars) AS DOUBLE) / 1000000 AS dup_5gram_char_frac,
         |  n_dup * 10 <= n_lines * 3 AS g_dup_line,
         |  dupchars * 5 <= totchars AS g_dup_line_chars,
         |  coalesce(k2 % 1099511627776, 0) * 5 <= totchars AS g_top_2gram,
         |  dup5chars * 20 <= totchars * 3 AS g_dup_5gram,
         |  n_dup * 10 <= n_lines * 3 AND dupchars * 5 <= totchars
         |    AND coalesce(k2 % 1099511627776, 0) * 5 <= totchars
         |    AND dup5chars * 20 <= totchars * 3 AS keep
         |FROM pc JOIN ld USING (doc_id)""".stripMargin) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      Text.repetitionStats(docs, tokenChunkLines(docs, 10),
        "doc_id", "text")
    },

    // ---- FILTERING-FUNNEL AUDIT (L294 — the per-stage attrition
    // table every published pipeline REPORTS: FineWeb's filtering
    // funnel, CCNet §3's pipeline order, RefinedWeb Table 2): the
    // shipped curation gates COMPOSED in the canonical order —
    // URL/domain filtering (q314's L295 rule gate, stage 0 of every
    // published CommonCrawl pipeline) → Gopher heuristics (q169) →
    // within-doc repetition battery (q311) → corpus-wide line dedup
    // over the survivors (q308's ownership rule; docs retaining under
    // 20% of their lines are dropped — the CCNet/RefinedWeb
    // too-short-after-cleaning rule) → exact dedup of the REWRITTEN
    // text, first occurrence among survivors (q22's rule) → benchmark
    // decontamination (q89's 3-gram overlap against the held-out
    // %97 slice) → quality classifier (q309/q312; curated target
    // sources bypass the gate trained on themselves) — one row per
    // stage with n_in/n_kept/n_removed/keep_rate. Each stage verdict
    // comes from the REGISTERED operator's own code (UrlFilter.gate,
    // gopherSignals, repetitionStats, Dedup.dedupLines, exactDupTag's
    // rule, Dedup.contamination, Classify), so the funnel is an
    // integration proof, not a re-implementation. Exactness: pure
    // counts + integer-space rates (n_in = 0 presents rate 1.0 — an
    // empty stage drops nothing). Scale: the stages' own linear plans
    // + one 7-row aggregate; the only population-dependent stages
    // (line/exact dedup) key their ownership on md5 hashes bucketed by
    // the survivor flag, so dropped docs never steal ownership and no
    // text ever shuffles.
    Q(
      "q313_curation_funnel", {
        val tgt = Seq("src0", "src1").map(s => s"'$s'").mkString(", ")
        val B = 256
        s"""WITH raw AS (
           |  SELECT doc_id, source, text, $toksSql AS t,
           |    concat('https://',
           |      CASE WHEN doc_id % 37 = 0
           |        THEN concat(source, '.ads.example.net')
           |        ELSE concat(source, '-', CAST(doc_id % 41 AS VARCHAR),
           |          '.example.com') END,
           |      CASE WHEN doc_id % 29 = 0 THEN '/tracker/click'
           |        ELSE '/page/' END,
           |      CAST(doc_id AS VARCHAR)) AS url
           |  FROM documents),
           |toks AS (
           |  SELECT raw.*,
           |    regexp_replace(lower(regexp_extract(url,
           |      '^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)),
           |      '^www\\.', '') AS domain
           |  FROM raw),
           |urlg AS (
           |  SELECT doc_id,
           |    NOT (domain IN ('src0-7.example.com',
           |        'src3-13.example.com', 'src8-0.example.com')
           |      OR ends_with(domain, '.ads.example.net')
           |      OR regexp_matches(url, '/tracker/')) AS k0
           |  FROM toks),
           |gop AS (
           |  SELECT doc_id,
           |    ($gopherGateSql) AS k1
           |  FROM (
           |    SELECT doc_id,
           |      $gopherFeaturesSql
           |    FROM toks)),
           |$tokenLinesCte,
           |ld AS (
           |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
           |    CAST(sum(c - 1) AS BIGINT) AS n_dup,
           |    CAST(sum((c - 1) * lchars) AS BIGINT) AS dupchars
           |  FROM (
           |    SELECT doc_id, line, CAST(count(*) AS BIGINT) AS c,
           |      CAST(length(regexp_replace(lower(line), '[^a-z0-9]', '',
           |        'g')) AS BIGINT) AS lchars
           |    FROM lines GROUP BY 1, 2) GROUP BY 1),
           |$tokenNgramCte,
           |pc AS (
           |  SELECT doc_id, CAST(sum(plen) AS BIGINT) AS totchars,
           |    CAST(coalesce(sum(plen) FILTER (WHERE cvr = 1), 0) AS BIGINT)
           |      AS dup5chars,
           |    max(k2) AS k2
           |  FROM (
           |    SELECT doc_id, p, plen,
           |      CASE WHEN h2 IS NOT NULL
           |        THEN c2 * 1099511627776 + c2 * gmass END AS k2,
           |      max(CASE WHEN h5 IS NOT NULL AND c5 >= 2 THEN 1 ELSE 0 END)
           |        OVER (PARTITION BY doc_id ORDER BY p
           |          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS cvr
           |    FROM (
           |      SELECT doc_id, p, plen, h2, gmass, h5,
           |        count(*) OVER (PARTITION BY doc_id, h2) AS c2,
           |        count(*) OVER (PARTITION BY doc_id, h5) AS c5
           |      FROM tlp) w0) f0 GROUP BY 1),
           |rep AS (
           |  SELECT pc.doc_id,
           |    (n_dup * 10 <= n_lines * 3 AND dupchars * 5 <= totchars
           |     AND coalesce(k2 % 1099511627776, 0) * 5 <= totchars
           |     AND dup5chars * 20 <= totchars * 3) AS k2
           |  FROM pc JOIN ld USING (doc_id)),
           |fl AS (
           |  SELECT tk.doc_id, tk.source, tk.text,
           |    coalesce(ug.k0, FALSE) AS f1,
           |    coalesce(ug.k0, FALSE) AND coalesce(g.k1, FALSE) AS f2,
           |    coalesce(ug.k0, FALSE) AND coalesce(g.k1, FALSE)
           |      AND coalesce(r.k2, FALSE) AS f3
           |  FROM toks tk
           |  LEFT JOIN urlg ug USING (doc_id)
           |  LEFT JOIN gop g USING (doc_id)
           |  LEFT JOIN rep r USING (doc_id)),
           |own AS (
           |  SELECT l.doc_id, l.pos, l.line,
           |    row_number() OVER (PARTITION BY md5(l.line)
           |      ORDER BY l.doc_id, l.pos) = 1 AS kept
           |  FROM lines l JOIN fl ON fl.doc_id = l.doc_id AND fl.f3),
           |ld4 AS (
           |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
           |    CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
           |    coalesce(string_agg(line, ' ' ORDER BY pos)
           |      FILTER (WHERE kept), '') AS clean_text
           |  FROM own GROUP BY 1),
           |${nbWeightCtes(tgt, B)},
           |sc AS (SELECT d.doc_id,
           |    sum(CAST(d.n AS DECIMAL(10,0)) * nbw.w9) AS s
           |  FROM (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n
           |        FROM tb GROUP BY 1, 2) d
           |  JOIN nbw USING (b) GROUP BY 1),
           |v AS (
           |  SELECT fl.doc_id, fl.f1, fl.f2, fl.f3,
           |    fl.f3 AND coalesce(ld4.n_kept * 5 >= ld4.n_lines, FALSE)
           |      AS f4,
           |    coalesce(md5(ld4.clean_text), md5(fl.text)) AS h,
           |    fl.source IN ($tgt) OR coalesce(c.s > 0, FALSE) AS kcls
           |  FROM fl
           |  LEFT JOIN ld4 USING (doc_id)
           |  LEFT JOIN sc c USING (doc_id)),
           |v5 AS (
           |  SELECT doc_id, f1, f2, f3, f4, kcls,
           |    f4 AND row_number() OVER (PARTITION BY h,
           |      CASE WHEN f4 THEN 1 ELSE 0 END ORDER BY doc_id) = 1 AS f5
           |  FROM v),
           |sh AS (
           |  SELECT doc_id, $shingleListSql AS s
           |  FROM toks),
           |ex AS (SELECT doc_id, unnest(s) AS x FROM sh WHERE len(s) > 0),
           |prs AS (SELECT DISTINCT doc_id,
           |    CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT)
           |      % 2147483647 AS hh
           |  FROM ex),
           |bench AS (SELECT DISTINCT hh FROM prs WHERE doc_id % 97 = 0),
           |cont AS (SELECT DISTINCT c.doc_id
           |  FROM prs c JOIN bench USING (hh)),
           |v6 AS (
           |  SELECT v5.doc_id, v5.f1, v5.f2, v5.f3, v5.f4, v5.f5,
           |    v5.f5 AND cont.doc_id IS NULL AS f6,
           |    v5.f5 AND cont.doc_id IS NULL AND v5.kcls AS f7
           |  FROM v5 LEFT JOIN cont USING (doc_id)),
           |ag AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n0,
           |    CAST(count(*) FILTER (WHERE f1) AS BIGINT) AS n1,
           |    CAST(count(*) FILTER (WHERE f2) AS BIGINT) AS n2,
           |    CAST(count(*) FILTER (WHERE f3) AS BIGINT) AS n3,
           |    CAST(count(*) FILTER (WHERE f4) AS BIGINT) AS n4,
           |    CAST(count(*) FILTER (WHERE f5) AS BIGINT) AS n5,
           |    CAST(count(*) FILTER (WHERE f6) AS BIGINT) AS n6,
           |    CAST(count(*) FILTER (WHERE f7) AS BIGINT) AS n7
           |  FROM v6),
           |st AS (
           |  SELECT 1 AS stage, 'url_filter' AS stage_name,
           |    n0 AS n_in, n1 AS n_kept FROM ag
           |  UNION ALL SELECT 2, 'gopher_gates', n1, n2 FROM ag
           |  UNION ALL SELECT 3, 'repetition_gates', n2, n3 FROM ag
           |  UNION ALL SELECT 4, 'line_dedup', n3, n4 FROM ag
           |  UNION ALL SELECT 5, 'exact_dedup', n4, n5 FROM ag
           |  UNION ALL SELECT 6, 'decontamination', n5, n6 FROM ag
           |  UNION ALL SELECT 7, 'quality_classifier', n6, n7 FROM ag)
           |SELECT CAST(stage AS BIGINT) AS stage, stage_name, n_in, n_kept,
           |  n_in - n_kept AS n_removed,
           |  CASE WHEN n_in = 0 THEN 1.0 ELSE
           |    CAST((2 * n_kept * 1000000 + n_in) // (2 * n_in) AS DOUBLE)
           |      / 1000000 END AS keep_rate
           |FROM st""".stripMargin
      }) { (spark, dir) =>
      import graft.functions.ExactRound
      import graft.ops.Classify
      val B = 256
      val tgt = Seq("src0", "src1")
      val docs = Tables.documents(spark, dir)
      val url = concat(lit("https://"),
        when(col("doc_id") % 37 === 0,
          concat(col("source"), lit(".ads.example.net")))
          .otherwise(concat(col("source"), lit("-"),
            (col("doc_id") % 41).cast("string"), lit(".example.com"))),
        when(col("doc_id") % 29 === 0, lit("/tracker/click"))
          .otherwise(lit("/page/")),
        col("doc_id").cast("string"))
      val urlRules = Seq(
        UrlFilter.DomainBlocklist("curated_blocklist", Seq(
          "src0-7.example.com", "src3-13.example.com",
          "src8-0.example.com")),
        UrlFilter.DomainSuffix("ad_domains", Seq(".ads.example.net")),
        UrlFilter.UrlPattern("tracker_path", "/tracker/"))
      val ug = UrlFilter.gate(docs.withColumn("url", url), "url", urlRules)
        .select(col("doc_id"), col("keep_url").as("k0"))
      val gop = docs.select(col("doc_id"),
        Text.gopherSignals(col("text")).last.as("k1"))
      val rep = Text.repetitionStats(docs, tokenChunkLines(docs, 10),
          "doc_id", "text")
        .select(col("doc_id"), col("keep").as("k2"))
      val feats = Classify.hashedTokenFeatures(docs, "doc_id", "text", B,
        carry = Seq("source")).cache() // trains the gate AND scores it
      val w = Classify.nbWeights(feats, col("source").isin(tgt: _*), B)
      val cls = Classify.nbScore(
        feats.drop("source"), w, "doc_id")
        .select(col("doc_id"), col("keep_cls"))
      // Flag frame: doc_id + stage booleans + md5(text) (the exact-dedup
      // fallback key — carrying the 32-char hash instead of the text
      // keeps the frame metadata-sized). CACHED because it is consumed
      // by TWO subtrees of the one funnel aggregate (the stage-3
      // survivor filter feeding line dedup, and the verdict chain) and
      // Catalyst shares no common subtrees — uncached, every gate
      // kernel (URL rules, Gopher signals, repetition windows, NB
      // scoring) ran twice, once more per broadcast build (ProbeJobs
      // r20: 8.8 s of a 5.1 s warm pass inside 33 broadcast-build
      // jobs). Released right after the funnel aggregate materializes.
      val fl = docs
        .join(ug, Seq("doc_id"), "left")
        .join(gop, Seq("doc_id"), "left")
        .join(rep, Seq("doc_id"), "left")
        .join(cls, Seq("doc_id"), "left")
        .select(col("doc_id"), md5(col("text")).as("h_raw"),
          coalesce(col("k0"), lit(false)).as("f1"),
          (coalesce(col("k0"), lit(false)) &&
            coalesce(col("k1"), lit(false))).as("f2"),
          (coalesce(col("k0"), lit(false)) &&
            coalesce(col("k1"), lit(false)) &&
            coalesce(col("k2"), lit(false))).as("f3"),
          (col("source").isin(tgt: _*) ||
            coalesce(col("keep_cls"), lit(false))).as("kcls"))
        .cache()
      // corpus-wide line dedup among stage-3 survivors (the registered
      // dedupLines ownership: md5-keyed min-struct aggregate — dropped
      // docs' lines never steal ownership because they never enter)
      val lines3 = tokenChunkLines(docs, 10)
        .join(fl.filter(col("f3")).select("doc_id"), "doc_id")
      val ld4 = Dedup.dedupLines(lines3, "doc_id", "pos", "line")
        .select(col("doc_id"), col("n_lines").as("_nl"),
          col("n_kept").as("_nk"), col("clean_text"))
      val v = fl.join(ld4, Seq("doc_id"), "left")
        .select(col("doc_id"), col("f1"), col("f2"), col("f3"), col("kcls"),
          (col("f3") && coalesce(col("_nk") * 5 >= col("_nl"), lit(false)))
            .as("f4"),
          // exact dedup keys on the REWRITTEN text (published funnels
          // dedup what survives line cleaning); non-survivors fall back
          // to the raw-text hash inside the f4=false bucket, where
          // ownership is irrelevant
          coalesce(md5(col("clean_text")), col("h_raw")).as("h"))
      val v5 = v.withColumn("f5", col("f4") && row_number().over(
        Window.partitionBy(col("h"), when(col("f4"), 1).otherwise(0))
          .orderBy(col("doc_id"))) === 1)
      val cont = Dedup.contamination(docs,
          docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", 3)
        .select(col("doc_id"), lit(true).as("_cont"))
      val v6 = v5.join(cont, Seq("doc_id"), "left")
        .withColumn("f6", col("f5") && col("_cont").isNull)
        .withColumn("f7", col("f6") && col("kcls"))
      val ag = v6.agg(
        count(lit(1)).as("n0"),
        sum(when(col("f1"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("f2"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("f3"), 1L).otherwise(0L)).as("n3"),
        sum(when(col("f4"), 1L).otherwise(0L)).as("n4"),
        sum(when(col("f5"), 1L).otherwise(0L)).as("n5"),
        sum(when(col("f6"), 1L).otherwise(0L)).as("n6"),
        sum(when(col("f7"), 1L).otherwise(0L)).as("n7"))
        .localCheckpoint() // singleton; seven stage rows read it
      feats.unpersist()
      fl.unpersist()
      def stage(i: Int, name: String, nIn: String, nKept: String) =
        ag.select(lit(i.toLong).as("stage"), lit(name).as("stage_name"),
          col(nIn).as("n_in"), col(nKept).as("n_kept"))
      stage(1, "url_filter", "n0", "n1")
        .unionByName(stage(2, "gopher_gates", "n1", "n2"))
        .unionByName(stage(3, "repetition_gates", "n2", "n3"))
        .unionByName(stage(4, "line_dedup", "n3", "n4"))
        .unionByName(stage(5, "exact_dedup", "n4", "n5"))
        .unionByName(stage(6, "decontamination", "n5", "n6"))
        .unionByName(stage(7, "quality_classifier", "n6", "n7"))
        .select(col("stage"), col("stage_name"), col("n_in"), col("n_kept"),
          (col("n_in") - col("n_kept")).as("n_removed"),
          when(col("n_in") === 0, lit(1.0d)).otherwise(
            ExactRound.roundRatio(col("n_kept"), col("n_in"), 6)
              .cast("double")).as("keep_rate"))
    },

    // ---- URL/DOMAIN-LEVEL FILTERING + DOMAIN REPUTATION (L295 —
    // stage 0 of every published CommonCrawl pipeline: RefinedWeb §3.1
    // opens with URL blocklist filtering, FineWeb inherits it, CCNet
    // gates per-snapshot before text heuristics): the ops/UrlFilter
    // rule gate (exact-domain blocklist + domain-suffix ban + URL
    // pattern — the Quality-ADT discipline, rules as data) over a URL
    // minted deterministically from fixture columns (documents carries
    // no URL; same expression both engines — the q22/q90 replant
    // precedent), PLUS the per-domain reputation table that DECIDES
    // blocklist candidates: docs, token mass, already-blocked count,
    // exact-dup rate, Gopher keep rate. Scale: the gate is a pure
    // scan-level projection (no shuffle); the stats are one dup-hash
    // join (q22's shape — 32-char md5 keys, never text) + ONE hash
    // aggregate keyed on the domain; output is |domains| rows —
    // metadata-sized at any corpus scale.
    Q(
      "q314_url_domain_filter", urlDomainOracleSql) { (spark, dir) =>
      val perDoc = urlGatedPerDoc(Tables.documents(spark, dir))
      UrlFilter.domainStats(perDoc, "domain", col("ntok"),
        col("blocked"), col("isdup"), col("q"))
    },

    // ---- INCREMENTAL DOMAIN REPUTATION (L297 — q314's fold twin
    // under the q310/q312 continuous-ingest discipline): the
    // reputation table is refreshed per batch from PERSISTED artifacts
    // only — the abelian per-domain sums plus the hash-only
    // (domain, md5) value index — because the dup column is NOT
    // abelian: a standing doc BECOMES a duplicate the moment a batch
    // delivers its twin, so dup counts re-derive from corpus-wide hash
    // totals (one join keyed on the 32-char hash, standing text never
    // re-read). This query RUNS the fold (standing = doc_id%10≠3,
    // batch = the %10=3 arrivals) and its oracle is q314's ONE-SHOT
    // full-corpus SQL verbatim — the row-for-row hash match IS
    // fold == rebuild (the q89/q101 shared-oracle pattern).
    Q(
      "q316_domain_reputation_ingest", urlDomainOracleSql) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      // the persisted artifacts a real fold reads back (materialized —
      // the q312 localCheckpoint discipline): abelian sums + hash index
      val standing = urlGatedPerDoc(docs.filter(col("doc_id") % 10 =!= 3),
        withDup = false)
      val standingStats = standing.groupBy(col("domain")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"))
        .localCheckpoint()
      val standingIndex = standing.groupBy(col("domain"), col("h"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val batch = urlGatedPerDoc(docs.filter(col("doc_id") % 10 === 3),
          withDup = false)
        .localCheckpoint()
      UrlFilter.domainStatsIncremental(standingStats, standingIndex,
        batch, "domain", col("ntok"), col("blocked"), col("q"), "h")
    })

  /** q314's oracle — ALSO the oracle of the incremental fold (q316):
    * fold == rebuild, so both queries hash-match the same one-shot
    * full-corpus SQL (the q89/q101 shared-oracle pattern). */
  private[queries] def urlDomainOracleSql: String = {
        s"""WITH u AS (
           |  SELECT doc_id, source, text,
           |    concat('https://',
           |      CASE WHEN doc_id % 37 = 0
           |        THEN concat(source, '.ads.example.net')
           |        ELSE concat(source, '-', CAST(doc_id % 41 AS VARCHAR),
           |          '.example.com') END,
           |      CASE WHEN doc_id % 29 = 0 THEN '/tracker/click'
           |        ELSE '/page/' END,
           |      CAST(doc_id AS VARCHAR)) AS url,
           |    $toksSql AS t
           |  FROM documents),
           |g AS (
           |  SELECT doc_id, text, t, url,
           |    regexp_replace(lower(regexp_extract(url,
           |      '^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)),
           |      '^www\\.', '') AS domain
           |  FROM u),
           |gate AS (
           |  SELECT *, NOT (domain IN ('src0-7.example.com',
           |      'src3-13.example.com', 'src8-0.example.com')
           |    OR ends_with(domain, '.ads.example.net')
           |    OR regexp_matches(url, '/tracker/')) AS keep_url
           |  FROM g),
           |dup AS (SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS c
           |  FROM documents GROUP BY 1),
           |gop AS (
           |  SELECT doc_id,
           |    ($gopherGateSql) AS k1
           |  FROM (
           |    SELECT doc_id,
           |      $gopherFeaturesSql
           |    FROM u)),
           |p AS (
           |  SELECT gate.domain,
           |    CAST(len(gate.t) AS BIGINT) AS ntok,
           |    NOT gate.keep_url AS blocked,
           |    dup.c >= 2 AS isdup,
           |    gop.k1 AS q
           |  FROM gate
           |  JOIN dup ON md5(gate.text) = dup.h
           |  JOIN gop USING (doc_id))
           |SELECT domain,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
           |  CAST(count(*) FILTER (WHERE blocked) AS BIGINT) AS n_blocked,
           |  CAST(count(*) FILTER (WHERE isdup) AS BIGINT) AS n_dup,
           |  CAST((2 * count(*) FILTER (WHERE isdup) * 1000000 + count(*))
           |    // (2 * count(*)) AS DOUBLE) / 1000000 AS dup_rate,
           |  CAST((2 * count(*) FILTER (WHERE q) * 1000000 + count(*))
           |    // (2 * count(*)) AS DOUBLE) / 1000000 AS quality_keep_rate
           |FROM p GROUP BY 1""".stripMargin
  }

  /** The shared q314/q316 fixture gate: mints the deterministic URL
    * (documents carries none — same expression both engines, the
    * q22/q90 replant precedent), applies the L295 rule set, and emits
    * one row per doc with every verdict column the reputation table
    * rolls up: (doc_id, domain, ntok, blocked, isdup, q, h). The
    * corpus-wide dup flag rides a hash self-aggregate join — 32-char
    * md5 keys, never text. */
  private def urlGatedPerDoc(docs: org.apache.spark.sql.DataFrame,
      withDup: Boolean = true): org.apache.spark.sql.DataFrame = {
    val url = concat(lit("https://"),
      when(col("doc_id") % 37 === 0,
        concat(col("source"), lit(".ads.example.net")))
        .otherwise(concat(col("source"), lit("-"),
          (col("doc_id") % 41).cast("string"), lit(".example.com"))),
      when(col("doc_id") % 29 === 0, lit("/tracker/click"))
        .otherwise(lit("/page/")),
      col("doc_id").cast("string"))
    val rules = Seq(
      UrlFilter.DomainBlocklist("curated_blocklist", Seq(
        "src0-7.example.com", "src3-13.example.com",
        "src8-0.example.com")),
      UrlFilter.DomainSuffix("ad_domains", Seq(".ads.example.net")),
      UrlFilter.UrlPattern("tracker_path", "/tracker/"))
    val gated = UrlFilter.gate(docs.withColumn("url", url), "url", rules)
      .withColumn("_h", md5(col("text")))
    // the corpus-wide dup flag costs a hash self-aggregate join; q316's
    // fold derives dup from the standing INDEX instead, so it skips it
    // (dup built from docs, not gated — self-derived join inputs trip
    // Spark's ambiguous-column check)
    val flagged =
      if (!withDup) gated.withColumn("_c", lit(0L))
      else gated.join(docs.select(md5(col("text")).as("_h"))
        .groupBy("_h").agg(count(lit(1)).as("_c")), "_h")
    flagged.select(col("doc_id"), col("domain"),
      size(Text.tokens(col("text"))).cast("long").as("ntok"),
      (!col("keep_url")).as("blocked"),
      (col("_c") >= 2).as("isdup"),
      Text.gopherSignals(col("text")).last.as("q"),
      col("_h").as("h"))
  }

  /** The fixture line splitter shared by q308/q310: non-overlapping
    * `w`-token chunks as (doc_id, pos 1-based, line) — deterministic
    * where the fixture text has no newline structure. (Production
    * passes real paragraph splits to [[graft.ops.Dedup.dedupLines]];
    * the operator is agnostic.) */
  private def tokenChunkLines(docs: org.apache.spark.sql.DataFrame,
      w: Int): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), expr(s"(size(t) + ${w - 1}) div $w") - 1),
          k => array_join(slice(col("t"), k * w + 1, lit(w)), " "))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("line"))
}

package graft.queries

import graft.Tables
import graft.ops._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over the `documents` /
  * `embeddings` fixtures: exact + MinHash-LSH + SimHash + blocked-Jaccard
  * dedup, brute-force + LSH-bucketed cosine similarity search, text
  * statistics / language-ID / quality scoring, and multimodal binary
  * feature extraction.
  *
  * Every oracle below is generated from the SAME constants as the Scala
  * operators (Text.P, Dedup.minhashA/B, Text.StopWords...) so the two
  * engines cannot drift. Float math is sequential-left-fold on doubles on
  * both sides — bit-identical, no tolerance needed.
  */
object LlmQueries {
  import Text.{Mult, P}
  import OracleSql._

  /** Content-defined chunk table CTE chain (q178/q191): per-position
    * window hashes as the DEFINING per-window fold (the compiled
    * graft_cdc_boundaries kernel's rolling recurrence computes the same
    * values), boundaries where the 16-char window hash divides 64,
    * chunks as a `chunks(doc_id, chunk_idx, start, chunk_len,
    * chunk_hash)` CTE — generated from the same constants as
    * `Text.cdcChunks(w = 16, divisor = 64)`. */
  private[queries] val cdcChunkCtes: String = {
    val whSql = foldSumSql(
      "list_transform(range(i-15, i+1), j -> CAST(ascii(substr(text, j, 1)) AS BIGINT))",
      "CAST(0 AS BIGINT)", "(a*31 + x) % 1000000007")
    s"""cdc_c AS (
       |  SELECT doc_id, text, CAST(length(text) AS INT) AS n
       |  FROM documents WHERE length(text) > 0),
       |cdc_b AS (
       |  SELECT doc_id, text, n,
       |    list_filter(range(16, n), i -> ($whSql) % 64 = 0) AS bounds
       |  FROM cdc_c),
       |cdc_s AS (
       |  SELECT doc_id, text, n,
       |    list_prepend(1, list_transform(bounds, x -> x + 1)) AS starts,
       |    list_append(bounds, n) AS ends
       |  FROM cdc_b),
       |chunks AS (
       |  SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
       |    CAST(starts[k] AS BIGINT) AS start,
       |    CAST(ends[k] - starts[k] + 1 AS BIGINT) AS chunk_len,
       |    ${strHashSql("substr(text, starts[k], ends[k] - starts[k] + 1)")}
       |      AS chunk_hash
       |  FROM cdc_s, unnest(range(1, len(starts) + 1)) u(k))""".stripMargin
  }

  private[queries] val k = 12
  private[queries] val bands = 4
  private[queries] val r = 3

  // ---- queries ---------------------------------------------------------

  val all: Seq[Q] = Seq(

    // ---- Exact dedup by content hash. The fixture has no exact copies,
    // so the corpus replants every 5th doc under a shifted id — derived
    // from the fixture alone, same transform on both engines.
    Q(
      "q22_exact_dedup",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT doc_id, md5(text) AS content_hash,
        |       row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1 AS is_dup
        |FROM corpus""".stripMargin) { (spark, dir) =>
      val d = Tables.documents(spark, dir).select("doc_id", "text")
      val corpus = d.unionByName(
        d.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + 10000))
      Dedup.exactDupTag(corpus, "text", "doc_id")
        .select("doc_id", "content_hash", "is_dup")
    },

    // ---- MinHash + banded LSH near-dup: k=12 signatures, 4 bands × 3
    // rows; candidates = bucket collisions only (29 candidates at sf0.01,
    // never all-pairs); exact shingle-set Jaccard ≥ 0.5 on candidates.
    Q(
      "q23_minhash_near_dup",
      s"""$hvCte,
         |sigs AS (
         |  SELECT doc_id, hv, $sigSql AS sig FROM hvt),
         |banded AS (
         |  ${(0 until bands).map(b =>
              s"SELECT doc_id, $b AS band, array_to_string(sig[${b * r + 1}:${b * r + r}], ',') AS band_key FROM sigs")
              .mkString("\n  UNION ALL ")}),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b USING (band, band_key)
         |  WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, jaccard FROM (
         |  SELECT id_a, id_b, $jaccardSql AS jaccard
         |  FROM pairs
         |  JOIN hvt ha ON ha.doc_id = id_a
         |  JOIN hvt hb ON hb.doc_id = id_b)
         |WHERE jaccard >= 0.5""".stripMargin) { (spark, dir) =>
      Dedup.nearDupPairs(Tables.documents(spark, dir), "doc_id", "text",
        shingleN = 3, k = k, bands = bands, threshold = 0.5)
    },

    // ---- MINHASH SIGNATURE-SIZE CALIBRATION (L140): on the LSH
    // candidate pairs, the k-prefix signature-agreement estimate of
    // Jaccard next to the exact shingle-set value, for k ∈ {4, 8, 12} —
    // the sketch-budget measurement (E[agreement/k] = J; error shrinks
    // ~1/√k, and this query shows the actual error the corpus pays at
    // each size before choosing signature bytes × corpus rows). Every
    // emitted value is a rational of small integers (agreements/k,
    // inter/union) rounded in integer space — engine-exact; candidates
    // come from the same banded join as q23, never all-pairs.
    Q(
      "q159_minhash_calibration", {
        def mirror(n: String, d: String) =
          s"CAST(((2 * ($n) * 1000000 + ($d)) // (2 * ($d))) * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE)"
        def agreeSql(kk: Int) =
          s"len(list_filter(range(1, ${kk + 1}), i -> sa.sig[i] = sb.sig[i]))"
        s"""$hvCte,
           |sigs AS (
           |  SELECT doc_id, hv, $sigSql AS sig FROM hvt),
           |banded AS (
           |  ${(0 until bands).map(b =>
                s"SELECT doc_id, $b AS band, array_to_string(sig[${b * r + 1}:${b * r + r}], ',') AS band_key FROM sigs")
                .mkString("\n  UNION ALL ")}),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM banded a JOIN banded b USING (band, band_key)
           |  WHERE a.doc_id < b.doc_id),
           |m AS (
           |  SELECT id_a, id_b,
           |    len(list_intersect(sa.hv, sb.hv)) AS inter,
           |    len(sa.hv) + len(sb.hv) - len(list_intersect(sa.hv, sb.hv)) AS uni,
           |    ${agreeSql(4)} AS a4, ${agreeSql(8)} AS a8, ${agreeSql(12)} AS a12
           |  FROM pairs
           |  JOIN sigs sa ON sa.doc_id = id_a
           |  JOIN sigs sb ON sb.doc_id = id_b)
           |SELECT id_a, id_b,
           |  ${mirror("inter", "uni")} AS exact_j,
           |  ${mirror("a4", "4")} AS est_k4,
           |  ${mirror("a8", "8")} AS est_k8,
           |  ${mirror("a12", "12")} AS est_k12
           |FROM m""".stripMargin
      }) { (spark, dir) =>
      val sigs = Dedup.withShingleHashes(
        Tables.documents(spark, dir).select("doc_id", "text"), "text", 3)
        .filter(size(col("hv")) > 0)
        .withColumn("sig", Dedup.minhashSignature(col("hv"), k))
        .select(col("doc_id"), col("hv"), col("sig"))
        .cache()
      val bandCols = (0 until bands).map(b =>
        concat_ws(",", transform(slice(col("sig"), b * r + 1, r),
          x => x.cast("string"))))
      val banded = sigs.select(col("doc_id"), posexplode(array(bandCols: _*)))
        .select(col("doc_id"), col("pos").as("band"), col("col").as("band_key"))
      val cand = banded.select(col("band"), col("band_key"), col("doc_id").as("id_a"))
        .join(banded.select(col("band"), col("band_key"), col("doc_id").as("id_b")),
          Seq("band", "band_key"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct()
      def agree(kk: Int) = (1 to kk).map(i =>
        when(element_at(col("sig_a"), i) === element_at(col("sig_b"), i), 1L)
          .otherwise(0L)).reduce(_ + _)
      val inter = Dedup.intersectSize(col("hv_a"), col("hv_b")).cast("long")
      val out = cand
        .join(sigs.select(col("doc_id").as("id_a"),
          col("hv").as("hv_a"), col("sig").as("sig_a")), Seq("id_a"))
        .join(sigs.select(col("doc_id").as("id_b"),
          col("hv").as("hv_b"), col("sig").as("sig_b")), Seq("id_b"))
        .withColumn("inter", inter)
        .withColumn("uni",
          size(col("hv_a")).cast("long") + size(col("hv_b")).cast("long")
            - col("inter"))
        .select(col("id_a"), col("id_b"),
          graft.functions.ExactRound.roundRatio(col("inter"), col("uni"), 6)
            .cast("double").as("exact_j"),
          graft.functions.ExactRound.roundRatio(agree(4), lit(4L), 6)
            .cast("double").as("est_k4"),
          graft.functions.ExactRound.roundRatio(agree(8), lit(8L), 6)
            .cast("double").as("est_k8"),
          graft.functions.ExactRound.roundRatio(agree(12), lit(12L), 6)
            .cast("double").as("est_k12"))
        .localCheckpoint()
      sigs.unpersist()
      out
    },

    // ---- Text statistics: token counts (whitespace-ish + BPE-ish),
    // mean token length, digit ratio, rolling-hash fingerprint.
    Q(
      "q24_text_stats",
      s"""SELECT doc_id,
         |  CAST(len(t) AS INT) AS n_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]|[^a-z0-9\\s]')) AS INT)
         |    AS n_bpeish,
         |  CAST(${foldSumSql("list_transform(t, w -> CAST(length(w) AS BIGINT))", "CAST(0 AS BIGINT)")} AS DOUBLE)
         |    / len(t) AS mean_token_len,
         |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
         |    / length(text) AS digit_ratio,
         |  ${foldSumSql(
              "list_transform(range(1, length(text)+1), i -> CAST(ascii(substr(text,i,1)) AS BIGINT))",
              "CAST(0 AS BIGINT)", "(a*31 + x) % 1000000007")} AS fingerprint
         |FROM (SELECT doc_id, text, $toksSql AS t FROM documents)""".stripMargin) {
      (spark, dir) =>
        val toks = Text.tokens(col("text"))
        // Σ token length == count of [a-z0-9] chars in lower(text): the
        // tokens partition exactly the alphanumeric characters (split on
        // [^a-z0-9]+), so one compiled regexp pass replaces the
        // per-token interpreted aggregate(transform(...)) lambda (round
        // 21, guide §"per-task work"). Same BIGINT sum, same division.
        val sumTokLen =
          length(regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
            .cast("long")
        Tables.documents(spark, dir).select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          Text.bpeishTokenCount(col("text")).as("n_bpeish"),
          (sumTokLen.cast("double") / size(toks)).as("mean_token_len"),
          Text.charRatio(col("text"), "[0-9]").as("digit_ratio"),
          Text.rollingHash(col("text")).as("fingerprint"))
    },

    // ---- Language-ID heuristic + quality gate (stopword argmax with
    // deterministic tie-break; keep = length/shape thresholds).
    Q(
      "q25_lang_quality", {
        val hits = Text.StopWords.map { case (lang, words) =>
          lang -> s"len(list_filter(t, w -> w IN (${words.map(w => s"'$w'").mkString(",")})))"
        }
        val greatest = s"GREATEST(${hits.map(h => s"${h._1}_hits").mkString(", ")})"
        val cases = hits.map { case (lang, _) =>
          s"WHEN ${lang}_hits = $greatest THEN '$lang'"
        }.mkString(" ")
        val allWords = Text.StopWords.flatMap(_._2).distinct
        s"""WITH base AS (
           |  SELECT doc_id, lang, $toksSql AS t FROM documents),
           |h AS (
           |  SELECT doc_id, lang, t,
           |    ${hits.map { case (l, sql) => s"$sql AS ${l}_hits" }.mkString(",\n    ")}
           |  FROM base)
           |SELECT doc_id, lang,
           |  CASE WHEN $greatest = 0 THEN 'und' $cases END AS predicted_lang,
           |  CASE WHEN len(t) = 0 THEN 0.0 ELSE
           |    CAST(len(list_filter(t, w -> w IN (${allWords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
           |      / len(t) END AS stopword_ratio,
           |  len(t) >= 10 AND len(t) <= 1000 AS quality_keep
           |FROM h""".stripMargin
      }) { (spark, dir) =>
      val toks = Text.tokens(col("text"))
      Tables.documents(spark, dir).select(
        col("doc_id"), col("lang"),
        Text.langId(col("text")).as("predicted_lang"),
        Text.stopwordRatio(col("text")).as("stopword_ratio"),
        (size(toks) >= 10 && size(toks) <= 1000).as("quality_keep"))
    },

    // ---- TOKENIZER FERTILITY by language (L135): BPE-ish tokens per
    // whitespace word, rolled up per predicted language — the
    // tokenizer-budget check run before fixing a vocab (a language
    // whose fertility is 2× pays 2× the context window; the standard
    // reason multilingual vocabs get rebalanced). Composes the L6
    // language-ID argmax with the L10 token counters in ONE hash
    // aggregate over the corpus scan — no shuffle beyond the |langs|-row
    // rollup; counts cross as BIGINT, the ratio rounds in integer space
    // (ExactRound) and presents DOUBLE.
    Q(
      "q154_tokenizer_fertility", {
        val hits = Text.StopWords.map { case (lang, words) =>
          lang -> s"len(list_filter(t, w -> w IN (${words.map(w => s"'$w'").mkString(",")})))"
        }
        val greatest = s"GREATEST(${hits.map(h => s"${h._1}_hits").mkString(", ")})"
        val cases = hits.map { case (lang, _) =>
          s"WHEN ${lang}_hits = $greatest THEN '$lang'"
        }.mkString(" ")
        s"""WITH base AS (
           |  SELECT doc_id, text, $toksSql AS t FROM documents),
           |h AS (
           |  SELECT doc_id, text, t,
           |    ${hits.map { case (l, sql) => s"$sql AS ${l}_hits" }.mkString(",\n    ")}
           |  FROM base),
           |lab AS (
           |  SELECT CASE WHEN $greatest = 0 THEN 'und' $cases END AS predicted_lang,
           |    CAST(len(t) AS BIGINT) AS w,
           |    CAST(len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]|[^a-z0-9\\s]')) AS BIGINT) AS b
           |  FROM h)
           |SELECT predicted_lang,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(w) AS BIGINT) AS n_words,
           |  CAST(sum(b) AS BIGINT) AS n_bpeish,
           |  CASE WHEN sum(w) = 0 THEN NULL ELSE
           |    CAST(((2 * CAST(sum(b) AS HUGEINT) * 1000000 + sum(w))
           |      // (2 * CAST(sum(w) AS HUGEINT)))
           |      * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) END AS fertility
           |FROM lab GROUP BY predicted_lang""".stripMargin
      }) { (spark, dir) =>
      val toks = Text.tokens(col("text"))
      Tables.documents(spark, dir)
        .select(
          Text.langId(col("text")).as("predicted_lang"),
          size(toks).cast("long").as("w"),
          Text.bpeishTokenCount(col("text")).cast("long").as("b"))
        .groupBy("predicted_lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("w").as("n_words"),
          sum("b").as("n_bpeish"))
        .withColumn("fertility",
          when(col("n_words") === 0, lit(null).cast("double"))
            .otherwise(graft.functions.ExactRound
              .roundRatio(col("n_bpeish"), col("n_words"), 6).cast("double")))
    },

    // ---- Brute-force cosine top-k: 5 query vectors broadcast against
    // the corpus; sequential-fold double math on both engines.
    Q(
      "q26_cosine_topk", {
        def dotSql(a: String, b: String) =
          foldSumSql(s"list_transform(range(1, 65), i -> $a[i]*$b[i])", "CAST(0 AS DOUBLE)")
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           |  FROM embeddings),
           |scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    ${dotSql("q.dv", "c.dv")}
           |      / (sqrt(${dotSql("q.dv", "q.dv")}) * sqrt(${dotSql("c.dv", "c.dv")})) AS cos
           |  FROM v q, v c WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
           |ranked AS (
           |  SELECT query_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           |  FROM scored)
           |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, round(cos, 6) AS cos
           |FROM ranked WHERE rn <= 3""".stripMargin
      }) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      Similarity
        .topKBruteForce(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
        .withColumn("cos", round(col("cos"), 6))
    },

    // ---- LSH-bucketed ANN top-k, multi-table: 4 hash tables × 4
    // deterministic hyperplane bits. Candidates = bucket collision in ANY
    // table (≈ 4·n/16 scored pairs instead of n per query, recall
    // amplified to 1−(1−p⁴)⁴) — the scale path; nbits grows with corpus
    // size to keep buckets constant, tables with the recall target.
    Q(
      "q27_ann_lsh_topk", {
        val nbits = 4; val tables = 4
        def dotSql(a: String, b: String) =
          foldSumSql(s"list_transform(range(1, 65), i -> $a[i]*$b[i])", "CAST(0 AS DOUBLE)")
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
           |banded AS (
           |  $banded),
           |cand AS (
           |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           |  FROM banded q JOIN banded c
           |    ON q.tbl = c.tbl AND q.bucket = c.bucket AND c.vec_id <> q.vec_id
           |  WHERE q.vec_id < 5),
           |scored AS (
           |  SELECT query_id, neighbor_id,
           |    ${dotSql("vq.dv", "vc.dv")}
           |      / (sqrt(${dotSql("vq.dv", "vq.dv")}) * sqrt(${dotSql("vc.dv", "vc.dv")})) AS cos
           |  FROM cand
           |  JOIN v vq ON vq.vec_id = query_id
           |  JOIN v vc ON vc.vec_id = neighbor_id),
           |ranked AS (
           |  SELECT query_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           |  FROM scored)
           |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, round(cos, 6) AS cos
           |FROM ranked WHERE rn <= 3""".stripMargin
      }) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      Similarity
        .topKBucketed(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 3, nbits = 4, dim = 64, tables = 4)
        .withColumn("cos", round(col("cos"), 6))
    },

    // ---- SimHash near-dup pairs: 32-bit fingerprints, 4 byte-wide bands
    // (256-value keys keep buckets selective as the corpus grows),
    // Hamming ≤ 3 (pigeonhole-complete for ≤ 3 flips over 4 bands).
    Q(
      "q28_simhash_pairs", {
        s"""WITH $simhashCtes
           |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
           |FROM banded a JOIN banded b USING (band, band_key)
           |WHERE a.doc_id < b.doc_id
           |  AND bit_count(xor(a.sim, b.sim)) <= 3""".stripMargin
      }) { (spark, dir) =>
      Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text",
        bands = 4, maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("int"))
    },

    // ---- Exact n-gram Jaccard over metadata-blocked pairs (bounded
    // quadratic within each `source` block).
    Q(
      "q29_blocked_jaccard",
      s"""$hvCte
         |SELECT ha.source, ha.doc_id AS id_a, hb.doc_id AS id_b, $jaccardSql AS jaccard
         |FROM hvt ha JOIN hvt hb
         |  ON ha.source = hb.source AND ha.doc_id < hb.doc_id
         |WHERE $jaccardSql >= 0.1""".stripMargin) { (spark, dir) =>
      Dedup.blockedJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
        "source", shingleN = 3, threshold = 0.1)
    },

    // ---- Multimodal: opaque binary + metadata → per-partition stubbed
    // decode/feature-extract/frame-sample (Multimodal.scala). The oracle
    // replays the byte arithmetic on the text form, which only agrees
    // with real UTF-8 bytes for ASCII — so BOTH sides strip non-printable
    // -ASCII first, making the bytes==chars contract explicit rather
    // than an accident of the fixture.
    Q(
      "q30_multimodal_features",
      s"""WITH d AS (
         |  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS text FROM documents)
         |SELECT doc_id,
         |  CAST(length(text) AS INT) AS n_bytes,
         |  CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
         |  CAST(ascii(substr(text, length(text), 1)) AS INT) AS last_byte,
         |  ${foldSumSql(
              "list_transform(range(1, length(text)+1), i -> CAST(ascii(substr(text,i,1)) AS BIGINT))",
              "CAST(0 AS BIGINT)", "(a + x) % 65536")} AS checksum,
         |  CAST((length(text) + 255) // 256 AS INT) AS n_frames,
         |  CAST(((length(text) + 255) // 256 + 3) // 4 AS INT) AS n_sampled
         |FROM d""".stripMargin) { (spark, dir) =>
      val ascii = Tables.documents(spark, dir)
        .withColumn("text", regexp_replace(col("text"), "[^ -~]", ""))
      Multimodal.extract(spark, ascii, "doc_id", "text")
    },

    // ---- FRAME-SAMPLE TABLE (L148): q30's frame arithmetic
    // materialized as the table a video pipeline actually hands to its
    // feature extractor — one row per SAMPLED frame with the 0-based
    // frame index, byte offset, (possibly short) frame length, and the
    // per-frame payload checksum (the deterministic decode stub). The
    // Spark side is flatMap-per-partition over the binary payload —
    // codec init once per partition, frames streamed, never buffered
    // per row — and the oracle replays every frame's byte range.
    Q(
      "q167_frame_sample",
      s"""WITH d AS (
         |  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS text FROM documents),
         |f AS (
         |  SELECT doc_id, text, i AS frame_idx
         |  FROM d, unnest(range(0, (length(text) + 255) // 256)) u(i)
         |  WHERE i % 4 = 0)
         |SELECT doc_id,
         |  CAST(frame_idx AS INT) AS frame_idx,
         |  CAST(frame_idx * 256 AS INT) AS "offset",
         |  CAST(least(256, length(text) - frame_idx * 256) AS INT) AS n_bytes,
         |  ${foldSumSql(
              "list_transform(range(frame_idx*256 + 1, frame_idx*256 + least(256, length(text) - frame_idx*256) + 1), i -> CAST(ascii(substr(text,i,1)) AS BIGINT))",
              "CAST(0 AS BIGINT)", "(a + x) % 65536")} AS frame_checksum
         |FROM f""".stripMargin) { (spark, dir) =>
      val ascii = Tables.documents(spark, dir)
        .withColumn("text", regexp_replace(col("text"), "[^ -~]", ""))
      Multimodal.sampleFrames(
        Multimodal.asMedia(ascii, "doc_id", "text")).toDF()
    },

    // ---- GOPHER QUALITY-RULE BATTERY (L150): the published
    // heuristic-gate set (word-count bounds, mean-word-length bounds,
    // symbol-to-word ratio, alphabetic-word fraction, stopword
    // requirement) every large pretraining pipeline runs before any
    // model-based scoring. Gates compare integers via
    // cross-multiplication so boundary docs can't flip on float
    // rounding; the whole battery is a shuffle-free scan projection
    // (Text.gopherSignals).
    Q(
      "q169_gopher_gates",
      s"""WITH base AS (
         |  SELECT doc_id, text, $toksSql AS t FROM documents),
         |sig AS (
         |  SELECT doc_id,
         |    $gopherFeaturesSql
         |  FROM base)
         |SELECT doc_id,
         |  n AS n_words,
         |  CASE WHEN n > 0 THEN CAST(sum_len AS DOUBLE) / n END AS mean_word_len,
         |  CASE WHEN n > 0 THEN CAST(symbols AS DOUBLE) / n END AS symbol_word_ratio,
         |  CASE WHEN n > 0 THEN CAST(alpha AS DOUBLE) / n END AS alpha_word_frac,
         |  stop_hits AS stopword_hits,
         |  n >= 20 AND n <= 100000 AS g_word_count,
         |  n > 0 AND sum_len >= n * 3 AND sum_len <= n * 10 AS g_mean_len,
         |  n > 0 AND symbols * 10 <= n AS g_symbol,
         |  n > 0 AND alpha * 10 >= n * 8 AS g_alpha,
         |  stop_hits >= 2 AS g_stopword,
         |  n >= 20 AND n <= 100000 AND n > 0
         |    AND sum_len >= n * 3 AND sum_len <= n * 10
         |    AND symbols * 10 <= n AND alpha * 10 >= n * 8
         |    AND stop_hits >= 2 AS keep
         |FROM sig""".stripMargin) { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(col("doc_id") +: Text.gopherSignals(col("text")): _*)
    },

    // ---- CONTENT-DEFINED CHUNKING (L159): variable-size chunks split
    // where a 16-char rolling window hash divides by 64 (LBFS-style
    // CDC) — boundaries are a pure function of LOCAL content, so an
    // insertion re-chunks only its own region and chunk-level dedup
    // still matches everything downstream (fixed-offset chunking loses
    // every chunk after the edit). Spark computes the window hashes in
    // one compiled O(len) rolling pass (graft_cdc_boundaries); the
    // oracle replays each position's window hash as the DEFINING
    // per-window fold — same values, two routes.
    Q(
      "q178_cdc_chunks",
      s"""WITH $cdcChunkCtes
         |SELECT doc_id, chunk_idx, start, chunk_len, chunk_hash
         |FROM chunks""".stripMargin) { (spark, dir) =>
      Text.cdcChunks(Tables.documents(spark, dir), "doc_id", "text",
        w = 16, divisor = 64)
    },

    // ---- CHUNK-LEVEL STORAGE DEDUP RATIO (L172): what the L159 chunk
    // table is FOR — per doc, the fraction of bytes living in chunks
    // that at least one OTHER doc also carries (n_carriers ≥ 2), i.e.
    // the storage a content-addressed chunk store would actually save
    // and the sub-document duplication mass document-level dedup
    // misses. Carrier counts are one hash aggregate over the chunk
    // table (8-byte hashes, never the text); ratios round in integer
    // space. 32-bit chunk hashes make a collision a (documented)
    // overcount of ~2^-31 per pair; a production store keys 128-bit.
    Q(
      "q191_chunk_dedup_ratio",
      s"""WITH $cdcChunkCtes,
         |carriers AS (
         |  SELECT chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT)
         |    AS n_carriers
         |  FROM chunks GROUP BY 1),
         |per AS (
         |  SELECT c.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_chunks,
         |    CAST(sum(c.chunk_len) AS BIGINT) AS total_bytes,
         |    CAST(count(*) FILTER (WHERE k.n_carriers >= 2) AS BIGINT)
         |      AS n_dup_chunks,
         |    CAST(coalesce(sum(c.chunk_len) FILTER (WHERE k.n_carriers >= 2),
         |      0) AS BIGINT) AS dup_bytes
         |  FROM chunks c JOIN carriers k USING (chunk_hash) GROUP BY 1)
         |SELECT doc_id, n_chunks, total_bytes, n_dup_chunks, dup_bytes,
         |  CAST(((2 * dup_bytes * 1000000 + total_bytes)
         |    // (2 * total_bytes))
         |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS dup_byte_frac
         |FROM per""".stripMargin) { (spark, dir) =>
      val chunks = Text.cdcChunks(Tables.documents(spark, dir), "doc_id",
        "text", w = 16, divisor = 64)
        .localCheckpoint() // feeds the carrier count and the per-doc rollup
      val carriers = chunks.groupBy("chunk_hash")
        .agg(countDistinct("doc_id").as("n_carriers"))
      chunks.join(carriers, "chunk_hash")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum("chunk_len").as("total_bytes"),
          sum(when(col("n_carriers") >= 2, 1L).otherwise(0L))
            .as("n_dup_chunks"),
          sum(when(col("n_carriers") >= 2, col("chunk_len")).otherwise(0L))
            .as("dup_bytes"))
        .select(col("doc_id"), col("n_chunks"), col("total_bytes"),
          col("n_dup_chunks"), col("dup_bytes"),
          graft.functions.ExactRound.roundRatio(col("dup_bytes"),
            col("total_bytes"), 6).cast("double").as("dup_byte_frac"))
    },

    // ---- AUDIO WINDOWED ENERGY (L173): the multimodal family's audio
    // stub — payload bytes as unsigned PCM8 samples, 64-sample analysis
    // windows hopping by 32 (the overlapped STFT layout), each window's
    // exact INTEGER energy Σ(sample−128)² — the quantity behind silence
    // trimming and voice-activity gates. flatMap-per-partition like the
    // frame table (decoder init once per partition, windows streamed);
    // RMS stays in the presentation layer so the operator's output is
    // engine-exact integers; the oracle replays every window's byte
    // range.
    Q(
      "q192_audio_energy",
      s"""WITH d AS (
         |  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS text
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, text, w AS window_idx
         |  FROM d, unnest(range(0,
         |    CASE WHEN length(text) = 0 THEN 0
         |         ELSE (length(text) - 1) // 32 + 1 END)) u(w))
         |SELECT doc_id,
         |  CAST(window_idx AS INT) AS window_idx,
         |  CAST(window_idx * 32 AS INT) AS "off",
         |  CAST(least(64, length(text) - window_idx * 32) AS INT)
         |    AS n_samples,
         |  ${foldSumSql(
              "list_transform(range(window_idx*32 + 1, window_idx*32 + least(64, length(text) - window_idx*32) + 1), i -> CAST(ascii(substr(text,i,1)) AS BIGINT))",
              "CAST(0 AS BIGINT)", "(a + (x - 128) * (x - 128))")} AS energy
         |FROM w""".stripMargin) { (spark, dir) =>
      val ascii = Tables.documents(spark, dir)
        .withColumn("text", regexp_replace(col("text"), "[^ -~]", ""))
      Multimodal.audioEnergy(
        Multimodal.asMedia(ascii, "doc_id", "text")).toDF()
    },

    // ---- CANDIDATE PRECISION BY HAMMING LEVEL (L185): for the capped
    // SimHash pair stream, the fraction of pairs at each Hamming
    // distance 0–3 whose EXACT 3-gram Jaccard clears 0.5 — the
    // precision curve that tells a dedup operator what each fingerprint
    // level's verdict is actually worth (L166 counts what each
    // threshold DOES, this measures what it GETS RIGHT; together they
    // pick the threshold). Exact per-pair Jaccard rides the compiled
    // two-pointer intersect kernel over the sorted shingle-hash sets;
    // the J ≥ 0.5 gate cross-multiplies in integers; pairs whose docs
    // have no shingles count imprecise (nothing verified them). One
    // bounded pair stream + two id-keyed joins + a 4-row rollup.
    Q(
      "q204_simhash_precision", {
        s"""WITH $simhashCtes,
           |${rankedCte()},
           |cpairs AS (
           |  SELECT id_a, id_b, min(h) AS ham FROM (
           |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |      bit_count(xor(a.sim, b.sim)) AS h
           |    FROM ranked a JOIN banded b USING (band, band_key)
           |    WHERE a.rk <= ${Dedup.DefaultDegreeCap}
           |      AND a.doc_id < b.doc_id
           |      AND bit_count(xor(a.sim, b.sim)) <= 3) x
           |  GROUP BY 1, 2),
           |toks2 AS (SELECT doc_id, $toksSql AS t FROM documents),
           |shs AS (
           |  SELECT doc_id, unnest($shingleListSql) AS s
           |  FROM toks2),
           |sh AS (SELECT DISTINCT doc_id, ${strHashSql("s")} AS hh FROM shs),
           |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
           |          FROM sh GROUP BY 1),
           |inter AS (
           |  SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS i
           |  FROM cpairs p
           |  JOIN sh sa ON sa.doc_id = p.id_a
           |  JOIN sh sb ON sb.doc_id = p.id_b AND sb.hh = sa.hh
           |  GROUP BY 1, 2),
           |per AS (
           |  SELECT c.ham,
           |    coalesce(za.sz, 0) + coalesce(zb.sz, 0) - coalesce(i.i, 0)
           |      AS uni,
           |    coalesce(i.i, 0) AS inter
           |  FROM cpairs c
           |  LEFT JOIN sizes za ON za.doc_id = c.id_a
           |  LEFT JOIN sizes zb ON zb.doc_id = c.id_b
           |  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b)
           |SELECT CAST(ham AS BIGINT) AS hamming,
           |  CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(count(*) FILTER (WHERE uni > 0 AND 2 * inter >= uni)
           |    AS BIGINT) AS n_precise,
           |  CAST(((2 * (count(*) FILTER (WHERE uni > 0 AND 2 * inter >= uni))
           |      * 1000000 + count(*)) // (2 * count(*)))
           |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS precision
           |FROM per GROUP BY 1""".stripMargin
      }) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val pairs = Dedup.simhashPairsCapped(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, cap = Dedup.DefaultDegreeCap)
      val hv = Dedup.withShingleHashes(docs, "text", 3)
        .select(col("doc_id"), col("hv")).localCheckpoint()
      val per = pairs
        .join(hv.select(col("doc_id").as("id_a"), col("hv").as("hv_a")),
          Seq("id_a"), "left")
        .join(hv.select(col("doc_id").as("id_b"), col("hv").as("hv_b")),
          Seq("id_b"), "left")
        .select(col("hamming"),
          coalesce(call_function("graft_sorted_intersect_size",
            col("hv_a"), col("hv_b")), lit(0L)).as("inter"),
          (coalesce(size(col("hv_a")), lit(0)).cast("long") +
            coalesce(size(col("hv_b")), lit(0)).cast("long")).as("szsum"))
        .withColumn("uni", col("szsum") - col("inter"))
      per.groupBy(col("hamming").cast("long").as("hamming"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("uni") > 0 && lit(2) * col("inter") >= col("uni"),
            1L).otherwise(0L)).as("n_precise"))
        .select(col("hamming"), col("n_pairs"), col("n_precise"),
          graft.functions.ExactRound.roundRatio(col("n_precise"),
            col("n_pairs"), 6).cast("double").as("precision"))
    },

    // ---- PERCEPTUAL-HASH NEAR-DUP (L200): the multimodal dedup arm —
    // average-hash (aHash) over binary payloads with the decode step
    // STUBBED per the q30/q192 contract (ASCII text bytes play the
    // media payload; a real deploy swaps in the image resize, the
    // Spark-side plumbing is what's under test). The stub "resize" is
    // a 64-point stride sample of the payload; bits are byte > mean
    // (exact integer mean), packed MSB-first into two 32-bit halves
    // (a single 64-bit fold would need the sign bit — DuckDB BIGINT
    // throws on signed overflow where JVM longs wrap, so the split is
    // the engine-portable layout). Candidates come from 4×16-bit
    // band buckets exactly like SimHash, with the L132 degree cap on
    // each bucket (degenerate payloads — uniform bytes — mint
    // mega-buckets, and the cap keeps candidates linear; banding beats
    // the O(n²) pairwise scan at any scale); verified pairs are
    // Hamming ≤ 6 of 64. Payloads shorter than 64 bytes are skipped (nothing to
    // resize). One scan computes every hash; the join touches only
    // band-bucket collisions.
    Q(
      "q219_phash_neardup", {
        val bytes = "list_transform(range(0, 64), " +
          "i -> CAST(ascii(substr(text, CAST(i * stride + 1 AS INT), 1)) AS BIGINT))"
        val bit = "(a * 2 + CASE WHEN x > m THEN 1 ELSE 0 END)"
        s"""WITH d AS (
           |  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS text
           |  FROM documents),
           |p AS (
           |  SELECT doc_id, text, length(text) // 64 AS stride
           |  FROM d WHERE length(text) >= 64),
           |s AS (
           |  SELECT doc_id, $bytes AS bs FROM p),
           |sm AS (
           |  SELECT doc_id, bs,
           |    ${foldSumSql("bs", "CAST(0 AS BIGINT)")} // 64 AS m
           |  FROM s),
           |h AS (
           |  SELECT doc_id,
           |    ${foldSumSql("list_slice(bs, 1, 32)", "CAST(0 AS BIGINT)", bit)} AS hi,
           |    ${foldSumSql("list_slice(bs, 33, 64)", "CAST(0 AS BIGINT)", bit)} AS lo
           |  FROM sm),
           |b AS (
           |  SELECT doc_id, hi, lo, u.band,
           |    CASE u.band WHEN 1 THEN hi // 65536 WHEN 2 THEN hi % 65536
           |      WHEN 3 THEN lo // 65536 ELSE lo % 65536 END AS band_val
           |  FROM h, unnest(range(1, 5)) u(band)),
           |rb AS (
           |  SELECT doc_id, hi, lo, band, band_val,
           |    row_number() OVER (PARTITION BY band, band_val
           |      ORDER BY doc_id) AS rk
           |  FROM b)
           |SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
           |  CAST(bit_count(xor(a.hi, b2.hi))
           |    + bit_count(xor(a.lo, b2.lo)) AS BIGINT) AS hamming
           |FROM rb a JOIN b b2 USING (band, band_val)
           |WHERE a.rk <= ${Dedup.DefaultDegreeCap}
           |  AND a.doc_id < b2.doc_id
           |  AND bit_count(xor(a.hi, b2.hi)) + bit_count(xor(a.lo, b2.lo)) <= 6""".stripMargin
      }) { (spark, dir) =>
      // the hash is one compiled pass per row (graft_ahash — the
      // KernelEquivalenceSpec pins it against the defining HOF chain);
      // the 64-element transform + three interpreted folds it replaces
      // were the q219 hot path (interpreted HOFs run one boxed call
      // per element)
      val h = Tables.documents(spark, dir)
        .select(col("doc_id"),
          call_function("graft_ahash",
            regexp_replace(col("text"), "[^ -~]", "")).as("ah"))
        .filter(col("ah").isNotNull)
        .select(col("doc_id"),
          col("ah").getItem(0).as("hi"), col("ah").getItem(1).as("lo"))
        .localCheckpoint() // one scan mints every hash; feeds both join sides
      val b = h.select(col("doc_id"), col("hi"), col("lo"),
          explode(array(
            struct(lit(1).as("band"), floor(col("hi") / 65536).cast("long").as("band_val")),
            struct(lit(2).as("band"), (col("hi") % 65536).as("band_val")),
            struct(lit(3).as("band"), floor(col("lo") / 65536).cast("long").as("band_val")),
            struct(lit(4).as("band"), (col("lo") % 65536).as("band_val")))).as("bv"))
        .select(col("doc_id"), col("hi"), col("lo"),
          col("bv.band").as("band"), col("bv.band_val").as("band_val"))
      // degenerate payloads (uniform bytes) mint mega-buckets whose
      // pairwise fanout goes quadratic — the L132 degree cap bounds
      // candidates per bucket exactly as simhashPairsCapped does (the
      // sf1 probe read 7.9x before the cap, in-family after)
      val ranked = b.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("band", "band_val").orderBy("doc_id")))
        .filter(col("rk") <= graft.ops.Dedup.DefaultDegreeCap)
      val other = b.select(col("doc_id").as("_id2"), col("hi").as("_hi2"),
        col("lo").as("_lo2"), col("band"), col("band_val"))
      val ham = bit_count(col("hi").bitwiseXOR(col("_hi2"))) +
        bit_count(col("lo").bitwiseXOR(col("_lo2")))
      ranked.join(other, Seq("band", "band_val"))
        .filter(col("doc_id") < col("_id2") && ham <= 6)
        .select(col("doc_id").as("id_a"), col("_id2").as("id_b"),
          ham.cast("long").as("hamming"))
        .distinct()
    })
}

package graft.queries

import graft.Tables
import graft.ops._
import org.apache.spark.sql.functions._

/** Corpus-governance layer: the compliance / reproducibility passes a
  * training-set build runs between curation and shipping — benchmark
  * decontamination, PII redaction, deterministic train/val/test
  * splitting, and context-window chunking. The reference pipeline stops
  * at warehouse gold models; this layer extends the engine to the
  * governance surface a 100 TB LLM corpus needs (builder brief), with
  * every operator oracle-checked against DuckDB on the same fixtures.
  */
object GovernanceQueries {
  import graft.ops.Text.{Mult, P}

  /** tokens CTE body shared with LlmQueries (DuckDB dialect). */
  private val toksSql =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  /** PII regexes — single-sourced from Privacy so the oracle strings
    * below can never drift from the Spark rules. */
  private val emailRe = Privacy.Email.pattern
  private val phoneRe = Privacy.Phone.pattern

  val all: Seq[Q] = Seq(

    // ---- Benchmark decontamination: flag corpus docs sharing 3-gram
    // shingles with a held-out benchmark slice (doc_id % 97 = 0 — the
    // fixture's stand-in for an eval suite; derived from the fixture
    // alone, same predicate on both engines). The benchmark shingle-hash
    // set is broadcast (PlansSpec-pinned): at 100 TB the corpus is
    // scanned once, exploded, and partially aggregated — never shuffled
    // on the shingle key, never self-joined.
    Q(
      "q89_decontamination",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(t) < 3 THEN []
        |    ELSE list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END AS s
        |  FROM toks),
        |ex AS (SELECT doc_id, unnest(s) AS x FROM sh WHERE len(s) > 0),
        |pairs AS (SELECT DISTINCT doc_id,
        |  CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT) % 2147483647 AS h FROM ex),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM pairs GROUP BY doc_id),
        |bench AS (SELECT DISTINCT h FROM pairs WHERE doc_id % 97 = 0),
        |corpus AS (SELECT * FROM pairs WHERE doc_id % 97 <> 0)
        |SELECT c.doc_id, n.n_shingles, CAST(count(*) AS BIGINT) AS n_overlap,
        |  round(CAST(count(*) AS DOUBLE) / n.n_shingles, 6) AS contamination
        |FROM corpus c JOIN bench USING (h) JOIN n ON n.doc_id = c.doc_id
        |GROUP BY c.doc_id, n.n_shingles""".stripMargin) {
      (spark, dir) =>
        val docs = Tables.documents(spark, dir)
        Dedup.contamination(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", shingleN = 3)
    },

    // ---- L82 Bloom-prefiltered decontamination: same contract as q89
    // (the oracle SQL is the SAME exact query — the Bloom is pure
    // pruning), but the benchmark set rides as ~10 bits/element of
    // filter instead of a broadcast-join hash relation, and the probe
    // runs inside the scan's generated code so non-candidate corpus
    // shingles die before the join sees a row. The confirm join removes
    // the Bloom's false positives; a hash-match against q89's oracle is
    // the proof that the prefilter dropped nothing it shouldn't.
    Q(
      "q101_bloom_decontamination",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(t) < 3 THEN []
        |    ELSE list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END AS s
        |  FROM toks),
        |ex AS (SELECT doc_id, unnest(s) AS x FROM sh WHERE len(s) > 0),
        |pairs AS (SELECT DISTINCT doc_id,
        |  CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT) % 2147483647 AS h FROM ex),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM pairs GROUP BY doc_id),
        |bench AS (SELECT DISTINCT h FROM pairs WHERE doc_id % 97 = 0),
        |corpus AS (SELECT * FROM pairs WHERE doc_id % 97 <> 0)
        |SELECT c.doc_id, n.n_shingles, CAST(count(*) AS BIGINT) AS n_overlap,
        |  round(CAST(count(*) AS DOUBLE) / n.n_shingles, 6) AS contamination
        |FROM corpus c JOIN bench USING (h) JOIN n ON n.doc_id = c.doc_id
        |GROUP BY c.doc_id, n.n_shingles""".stripMargin) {
      (spark, dir) =>
        val docs = Tables.documents(spark, dir)
        Dedup.contaminationBloom(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", shingleN = 3)
    },

    // ---- PII redaction: rule-driven regex scrub (Privacy.scan) over a
    // contact-note column synthesized from fixture columns (the fixture
    // text has no PII shapes; the note is derived from customer alone,
    // same expressions on both engines — the q22 replant precedent).
    // Counts are detected on the original text, the rewrite applies
    // rules in order; md5 of the redacted text proves the full rewrite
    // matches byte-for-byte. Zero shuffle: detection + rewrite are
    // scan-level projections.
    Q(
      "q90_pii_redaction",
      s"""WITH notes AS (
         |  SELECT c_custkey,
         |    concat(c_name,
         |      CASE WHEN c_custkey % 2 = 0
         |        THEN concat(' email ', replace(lower(c_name), '#', '.'), '@example.com') ELSE '' END,
         |      CASE WHEN c_custkey % 3 > 0
         |        THEN concat(' phone ',
         |          lpad(CAST(c_custkey % 90 + 10 AS VARCHAR), 2, '0'), '-',
         |          lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0'), '-',
         |          lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0'), '-',
         |          lpad(CAST((c_custkey * 13) % 10000 AS VARCHAR), 4, '0')) ELSE '' END,
         |      ' segment ', c_mktsegment) AS note
         |  FROM customer)
         |SELECT c_custkey,
         |  CAST(len(regexp_extract_all(note, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(note, '$phoneRe')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(note, '$emailRe', '<EMAIL>', 'g'),
         |      '$phoneRe', '<PHONE>', 'g')) AS redacted_md5
         |FROM notes""".stripMargin) {
      (spark, dir) =>
        val phone = concat_ws("-",
          lpad((col("c_custkey") % 90 + 10).cast("string"), 2, "0"),
          lpad((col("c_custkey") % 1000).cast("string"), 3, "0"),
          lpad(((col("c_custkey") * 7) % 1000).cast("string"), 3, "0"),
          lpad(((col("c_custkey") * 13) % 10000).cast("string"), 4, "0"))
        val notes = Tables.customer(spark, dir).select(
          col("c_custkey"),
          concat(
            col("c_name"),
            when(col("c_custkey") % 2 === 0,
              concat(lit(" email "),
                regexp_replace(lower(col("c_name")), "#", "."),
                lit("@example.com"))).otherwise(lit("")),
            when(col("c_custkey") % 3 > 0,
              concat(lit(" phone "), phone)).otherwise(lit("")),
            lit(" segment "), col("c_mktsegment")).as("note"))
        Privacy.scan(notes, "note", Seq(Privacy.Email, Privacy.Phone))
          .select(col("c_custkey"), col("n_emails"), col("n_phones"),
            md5(col("redacted")).as("redacted_md5"))
    },

    // ---- Deterministic train/val/test split: the q51 hash gate mapped
    // through cumulative thresholds (80/10/10). Membership is a pure
    // function of doc_id — re-runs, retries, and engine migrations
    // assign identically, so eval never leaks into train across
    // rebuilds. Scan-level projection, zero shuffle.
    Q(
      "q91_train_split",
      s"""SELECT doc_id,
         |  ((doc_id * $Mult) % $P) % 100 AS bucket,
         |  CASE WHEN ((doc_id * $Mult) % $P) % 100 < 80 THEN 'train'
         |       WHEN ((doc_id * $Mult) % $P) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin) {
      (spark, dir) =>
        Sample.assignSplit(
          Tables.documents(spark, dir).select("doc_id"),
          "doc_id", Seq("train" -> 80, "val" -> 90), rest = "test")
    },

    // ---- L84 deterministic epoch shuffle: every training epoch gets a
    // fresh hash permutation of the corpus (bijective mod-P multiply,
    // re-keyed by epoch) laid out as range-bucketed shards — shard-major
    // concatenation replays the exact global order, so the layout is
    // simultaneously the worker partitioning and a resumable cursor.
    // One shuffle (the per-shard row_number), no RNG, no global window;
    // the oracle replays the identical integer arithmetic.
    Q(
      "q102_epoch_shuffle",
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ((((doc_id * $Mult) % $P) + 3) * $Mult) % $P AS hh
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(floor(hh * 8 / $P.0) AS BIGINT) AS shard,
         |  CAST(row_number() OVER (
         |    PARTITION BY CAST(floor(hh * 8 / $P.0) AS BIGINT)
         |    ORDER BY hh, doc_id) - 1 AS BIGINT) AS pos
         |FROM h""".stripMargin) {
      (spark, dir) =>
        Sample.epochShuffle(
          Tables.documents(spark, dir).select("doc_id"),
          "doc_id", epoch = 3, shards = 8)
    },

    // ---- Context-window chunking: sliding 40-token windows at stride
    // 30 (10-token overlap), final chunk short. One narrow explode per
    // doc — no shuffle; at 100 TB chunking pipelines with the scan and
    // whatever write follows. Chunk text returns as a 32-bit hash so
    // the oracle compares content without shipping the strings.
    Q(
      "q92_chunking",
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS t FROM documents),
         |st AS (
         |  SELECT doc_id, t, len(t) AS n, unnest(range(1, len(t)+1, 30)) AS start
         |  FROM toks)
         |SELECT doc_id, CAST((start - 1) // 30 AS BIGINT) AS chunk_id,
         |  CAST(len(list_slice(t, start, least(start + 39, n))) AS BIGINT) AS n_tokens,
         |  CAST(concat('0x', substr(md5(
         |    array_to_string(list_slice(t, start, least(start + 39, n)), ' ')),1,8)) AS BIGINT) AS chunk_hash
         |FROM st""".stripMargin) {
      (spark, dir) =>
        val toks = Tables.documents(spark, dir)
          .select(col("doc_id"), Text.tokens(col("text")).as("t"))
        val chunk = slice(col("t"), col("start"), lit(40))
        toks
          .select(col("doc_id"), col("t"),
            posexplode(Text.chunkStarts(col("t"), stride = 30)).as(Seq("pos", "start")))
          .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
            size(chunk).cast("long").as("n_tokens"),
            Text.strHash32(concat_ws(" ", chunk)).as("chunk_hash"))
    },

    // ---- Corpus data card: the per-source profile a dataset release
    // ships (docs, tokens, language spread, median length, distinct
    // fingerprints) — exact values plus the mergeable-sketch estimates
    // (HLL NDV, KLL median) that a 100 TB build would publish instead,
    // each pinned within 5% of its exact twin (the q48/q77 bounds-boolean
    // contract; all hashes deterministic, so the booleans are stable).
    // ONE aggregation pass produces the whole card.
    Q(
      "q96_data_card",
      """WITH toks AS (
        |  SELECT source, lang, n_chars, text,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS n_toks
        |  FROM documents)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  round(CAST(quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS DOUBLE), 6) AS p50_chars,
        |  CAST(count(DISTINCT CAST(concat('0x', substr(md5(text),1,8)) AS BIGINT)) AS BIGINT) AS ndv_exact,
        |  TRUE AS ndv_ok, TRUE AS p50_ok
        |FROM toks GROUP BY source""".stripMargin) {
      (spark, dir) =>
        val fp = Text.strHash32(col("text"))
        // Sketches aggregate SEPARATELY from the two count-distincts:
        // mixed into one agg, the distinct rewrite's Expand makes one
        // partial-agg group per (source, lang) and per (source, fp),
        // and EVERY group row carries the (empty) 4 KiB HLL register
        // array + KLL buffer in its agg-buffer schema — a per-distinct-
        // fingerprint 4 KiB shuffle (20.8 MiB at sf0.1's 5 k docs,
        // corpus-sized at 100 TB; the q48 plan pathology). Split, the
        // sketch shuffle is |sources| rows and the distinct shuffle is
        // plain longs.
        val sketches = Tables.documents(spark, dir)
          .groupBy("source")
          .agg(
            call_function("graft_hll_distinct", fp).as("ndv_est"),
            call_function("graft_kll_sketch", col("n_chars").cast("double")).as("sk"))
        val card = Tables.documents(spark, dir)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(Text.tokenCount(col("text")).cast("long")).as("n_tokens"),
            countDistinct(col("lang")).as("n_langs"),
            round(percentile(col("n_chars").cast("double"), lit(0.5)), 6).as("p50_chars"),
            countDistinct(fp).as("ndv_exact"))
          .join(sketches, "source")
        def within(est: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
          abs(est - exact).cast("double") <= abs(exact) * lit(0.05)
        card.select(
          col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
          col("p50_chars"), col("ndv_exact"),
          within(col("ndv_est"), col("ndv_exact")).as("ndv_ok"),
          within(call_function("graft_kll_quantile", col("sk"), lit(0.5)),
            col("p50_chars")).as("p50_ok"))
    },

    // ---- Streaming decontamination: new corpus docs arrive as a stream
    // and are checked per micro-batch against the STATIC broadcast
    // benchmark shingle set (the continuous-ingest form of q89 — the
    // gate runs before anything lands in the training corpus). Each
    // doc's rows live inside one micro-batch, so per-batch contamination
    // equals the batch result for ANY batching — the oracle is q89's,
    // verbatim. Stream side carries zero state; the sink accumulates.
    Q(
      "q97_stream_decontamination",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(t) < 3 THEN []
        |    ELSE list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END AS s
        |  FROM toks),
        |ex AS (SELECT doc_id, unnest(s) AS x FROM sh WHERE len(s) > 0),
        |pairs AS (SELECT DISTINCT doc_id,
        |  CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT) % 2147483647 AS h FROM ex),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM pairs GROUP BY doc_id),
        |bench AS (SELECT DISTINCT h FROM pairs WHERE doc_id % 97 = 0),
        |corpus AS (SELECT * FROM pairs WHERE doc_id % 97 <> 0)
        |SELECT c.doc_id, n.n_shingles, CAST(count(*) AS BIGINT) AS n_overlap,
        |  round(CAST(count(*) AS DOUBLE) / n.n_shingles, 6) AS contamination
        |FROM corpus c JOIN bench USING (h) JOIN n ON n.doc_id = c.doc_id
        |GROUP BY c.doc_id, n.n_shingles""".stripMargin) {
      (spark, dir) =>
        import org.apache.spark.sql.streaming.Trigger
        val docsSchema = Tables.documents(spark, dir).schema
        val bench = Tables.documents(spark, dir).filter(col("doc_id") % 97 === 0)
        val streamDir = graft.Tmp.dir("graft-q97-in")
        java.nio.file.Files.createSymbolicLink(
          streamDir.resolve("documents.parquet"),
          java.nio.file.Paths.get(s"$dir/documents.parquet"))
        val outDir = graft.Tmp.dir("graft-q97-out").toString
        val src = spark.readStream.schema(docsSchema).parquet(streamDir.toString)
        graft.Sessions.withShufflePartitions(spark, 4) {
          val q = src.writeStream.trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              Dedup.contamination(
                batch.filter(col("doc_id") % 97 =!= 0), bench,
                "doc_id", "text", shingleN = 3)
                .write.mode("append").parquet(outDir)
            }
            .option("checkpointLocation", graft.Tmp.dir("graft-q97-ck").toString)
            .start()
          q.awaitTermination()
        }
        spark.read.parquet(outDir)
    },

    // ---- k-anonymity / l-diversity audit: per quasi-identifier group
    // (nation, market segment) the population, the diversity of the
    // sensitive attribute (account-balance band), and the two release
    // gates. One hash aggregate over the QID key; output is
    // O(|QID combos|) — the pre-release privacy report for a corpus
    // carrying user metadata. The row-level suppression pass
    // (Privacy.suppress) is pinned in GovernanceSpec.
    Q(
      "q95_k_anonymity",
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT floor(c_acctbal / 1000)) AS BIGINT) AS n_sensitive,
        |  count(*) >= 10 AS k_anonymous,
        |  count(DISTINCT floor(c_acctbal / 1000)) >= 3 AS l_diverse
        |FROM customer
        |GROUP BY c_nationkey, c_mktsegment""".stripMargin) {
      (spark, dir) =>
        Privacy.kAnonymityAudit(Tables.customer(spark, dir),
          Seq("c_nationkey", "c_mktsegment"),
          floor(col("c_acctbal") / 1000), k = 10, l = 3)
    },

    // ---- SURGICAL span decontamination (L142): strip ONLY the leaked
    // benchmark n-gram spans from contaminated documents instead of
    // dropping them (q89 flags, this rewrites — published pipelines do
    // both: drop at high overlap, strip at incidental overlap, and the
    // strip keeps the non-leaked 95% of a long document in the corpus).
    // Same span semantics as q111's boilerplate removal with the bad
    // set swapped for the benchmark suite's shingles; bench set
    // broadcast (q89's scale contract), corpus side scan-shaped, the
    // one shuffle is the per-doc covered-position rollup.
    Q(
      "q161_span_decontamination",
      s"""WITH toks AS (
         |  SELECT doc_id, ${LlmQueries.toksSql} AS t FROM documents),
         |shp AS (
         |  SELECT doc_id, i AS spos, concat_ws(' ', t[i], t[i+1], t[i+2]) AS s
         |  FROM toks, unnest(CASE WHEN len(t) < 3 THEN [] ELSE range(1, len(t)-1) END) u(i)),
         |bench AS (SELECT DISTINCT s FROM shp WHERE doc_id % 97 = 0),
         |covered AS (
         |  SELECT DISTINCT shp.doc_id, spos + o AS p
         |  FROM shp JOIN bench USING (s), unnest([0, 1, 2]) v(o)
         |  WHERE doc_id % 97 <> 0),
         |toklist AS (
         |  SELECT doc_id, i AS p, t[i] AS tok
         |  FROM toks, unnest(CASE WHEN len(t) = 0 THEN [] ELSE range(1, len(t)+1) END) u(i)
         |  WHERE doc_id % 97 <> 0),
         |kept AS (
         |  SELECT k.doc_id,
         |    string_agg(k.tok, ' ' ORDER BY k.p) AS clean_text,
         |    CAST(count(*) AS BIGINT) AS n_kept
         |  FROM toklist k LEFT JOIN covered c ON k.doc_id = c.doc_id AND k.p = c.p
         |  WHERE c.doc_id IS NULL GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(k.clean_text, '') AS clean_text,
         |  CAST(len(${LlmQueries.toksSql}) AS BIGINT) AS n_tokens,
         |  CAST(len(${LlmQueries.toksSql}) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
         |FROM documents d LEFT JOIN kept k USING (doc_id)
         |WHERE d.doc_id % 97 <> 0""".stripMargin) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val benchShingles = docs.filter(col("doc_id") % 97 === 0)
        .select(explode(Text.shingles(Text.tokens(col("text")), 3)).as("s"))
        .distinct()
      Dedup.stripSpans(docs.filter(col("doc_id") % 97 =!= 0),
        "doc_id", "text", 3, benchShingles)
    },

    // ---- LUHN-VALIDATED CARD REDACTION (L154): candidate PANs by
    // shape, CONFIRMED by the ISO/IEC 7812 mod-10 checksum, and only
    // the valid subset redacted — shape-only matching over-redacts
    // order ids and timestamps; checksum-gated redaction is how
    // production PII scrubbers hold precision. Card notes are
    // synthesized from customer keys (the fixture has no PANs — the
    // q90 replant precedent: identical expressions on both engines);
    // validity falls where the checksum lands, exercising both
    // branches. The whole pass — extract, 16-digit integer Luhn fold,
    // per-candidate rewrite — is a scan projection: no UDF, no shuffle.
    Q(
      "q173_luhn_card_redaction", {
        def card(d: String) =
          s"concat(substr($d,1,4),'-',substr($d,5,4),'-',substr($d,9,4),'-',substr($d,13,4))"
        val luhn = s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |      list_transform(range(1, 17), i ->
           |        CASE WHEN i % 2 = 1 THEN
           |          CASE WHEN 2*(ascii(substr(replace(c,'-',''), CAST(i AS INT), 1)) - 48) > 9
           |               THEN CAST(2*(ascii(substr(replace(c,'-',''), CAST(i AS INT), 1)) - 48) - 9 AS BIGINT)
           |               ELSE CAST(2*(ascii(substr(replace(c,'-',''), CAST(i AS INT), 1)) - 48) AS BIGINT) END
           |        ELSE CAST(ascii(substr(replace(c,'-',''), CAST(i AS INT), 1)) - 48 AS BIGINT) END)),
           |      (a, x) -> a + x) % 10 = 0""".stripMargin
        s"""WITH notes AS (
           |  SELECT c_custkey,
           |    concat('card ', ${card("d1")},
           |      CASE WHEN c_custkey % 3 = 0
           |        THEN concat(' and ', ${card("d2")}) ELSE '' END) AS note
           |  FROM (SELECT c_custkey,
           |      lpad(CAST(c_custkey * 7919 AS VARCHAR), 16, '0') AS d1,
           |      lpad(CAST(c_custkey * 104729 AS VARCHAR), 16, '0') AS d2
           |    FROM customer)),
           |cand AS (
           |  SELECT c_custkey, note,
           |    regexp_extract_all(note, '[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}') AS cands
           |  FROM notes),
           |v AS (
           |  SELECT c_custkey, note, cands,
           |    list_filter(cands, c -> $luhn) AS valid
           |  FROM cand)
           |SELECT c_custkey,
           |  CAST(len(cands) AS BIGINT) AS n_cc_candidates,
           |  CAST(len(valid) AS BIGINT) AS n_cc_valid,
           |  md5(list_reduce(list_prepend(note, valid),
           |    (a, x) -> replace(a, x, '<CC>'))) AS redacted_md5
           |FROM v""".stripMargin
      }) { (spark, dir) =>
      def card(d: org.apache.spark.sql.Column) = concat_ws("-",
        d.substr(1, 4), d.substr(5, 4), d.substr(9, 4), d.substr(13, 4))
      val notes = Tables.customer(spark, dir).select(
        col("c_custkey"),
        concat(
          lit("card "),
          card(lpad((col("c_custkey") * 7919).cast("string"), 16, "0")),
          when(col("c_custkey") % 3 === 0,
            concat(lit(" and "),
              card(lpad((col("c_custkey") * 104729).cast("string"), 16, "0"))))
            .otherwise(lit(""))).as("note"))
      Privacy.ccScan(notes, "note")
        .select(col("c_custkey"), col("n_cc_candidates"), col("n_cc_valid"),
          md5(col("redacted")).as("redacted_md5"))
    },

    // ---- SPLIT BALANCE AUDIT (L174): per (split, source) cell of the
    // deterministic q91 split — doc and token counts, the cell's share
    // of its split vs the source's share of the corpus, and a balanced
    // verdict at ±20% — the release check that a hash split didn't
    // accidentally concentrate a source in eval (it shouldn't, but
    // "shouldn't" is not a release gate). The verdict compares
    // INTEGERS via cross-multiplication (|n·N − s_tot·src_tot|·5 ≤
    // s_tot·src_tot), shares round in integer space; the frame is
    // |splits|·|sources| rows at any corpus scale.
    Q(
      "q193_split_balance",
      s"""WITH d AS (
         |  SELECT doc_id, source, n_chars,
         |    CASE WHEN ((doc_id * $Mult) % $P) % 100 < 80 THEN 'train'
         |         WHEN ((doc_id * $Mult) % $P) % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |cell AS (
         |  SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS n_tokens
         |  FROM d GROUP BY 1, 2),
         |st AS (SELECT split, CAST(count(*) AS BIGINT) AS s_tot
         |       FROM d GROUP BY 1),
         |sr AS (SELECT source, CAST(count(*) AS BIGINT) AS src_tot
         |       FROM d GROUP BY 1),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
         |SELECT c.split, c.source, c.n_docs, c.n_tokens,
         |  CAST(((2 * c.n_docs * 1000000 + st.s_tot) // (2 * st.s_tot))
         |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS split_share,
         |  CAST(((2 * sr.src_tot * 1000000 + t.n) // (2 * t.n))
         |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS corpus_share,
         |  abs(c.n_docs * t.n - st.s_tot * sr.src_tot) * 5
         |    <= st.s_tot * sr.src_tot AS balanced
         |FROM cell c
         |JOIN st USING (split) JOIN sr USING (source) CROSS JOIN t""".stripMargin) {
      (spark, dir) =>
      val d = Sample.assignSplit(
        Tables.documents(spark, dir).select("doc_id", "source", "n_chars"),
        "doc_id", Seq("train" -> 80, "val" -> 90), rest = "test")
        .localCheckpoint() // feeds four bounded aggregates
      val cell = d.groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_tokens"))
      val st = d.groupBy("split").agg(count(lit(1)).as("s_tot"))
      val sr = d.groupBy("source").agg(count(lit(1)).as("src_tot"))
      val t = d.agg(count(lit(1)).as("n"))
      cell.join(broadcast(st), "split").join(broadcast(sr), "source")
        .crossJoin(broadcast(t))
        .select(col("split"), col("source"), col("n_docs"), col("n_tokens"),
          graft.functions.ExactRound.roundRatio(col("n_docs"), col("s_tot"), 6)
            .cast("double").as("split_share"),
          graft.functions.ExactRound.roundRatio(col("src_tot"), col("n"), 6)
            .cast("double").as("corpus_share"),
          (abs(col("n_docs") * col("n") - col("s_tot") * col("src_tot")) * 5
            <= col("s_tot") * col("src_tot")).as("balanced"))
    },

    // ---- GAZETTEER REDACTION (L175): deny-list terms live in a TABLE
    // (legal's name list — versioned independently of code, unlike the
    // L72 regex rules), matched whole-word against the token stream via
    // ONE broadcast join; each doc then rewrites only ITS matched terms
    // in a bounded, sorted per-row fold — never a |gazetteer|-term
    // regex over every doc. Redacted text crosses as md5 (the q173
    // shape); hit/term counts exact integers.
    Q(
      "q194_gazetteer_redaction", {
        val terms = Seq("spark", "table", "merge")
        val lst = terms.map(t => s"'$t'").mkString(", ")
        s"""WITH g AS (SELECT unnest([$lst]) AS term),
           |tk AS (
           |  SELECT doc_id, unnest(${LlmQueries.toksSql}) AS tok
           |  FROM documents),
           |h AS (
           |  SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
           |    list_sort(list_distinct(list(tk.tok))) AS terms
           |  FROM tk JOIN g ON g.term = tk.tok GROUP BY 1)
           |SELECT d.doc_id,
           |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_gazetteer_hits,
           |  CAST(coalesce(len(h.terms), 0) AS BIGINT) AS n_gazetteer_terms,
           |  md5(list_reduce(
           |    list_prepend(d.text, coalesce(h.terms, CAST([] AS VARCHAR[]))),
           |    (acc, t) -> regexp_replace(acc, '(?i)\\b' || t || '\\b',
           |      '<NAME>', 'g'))) AS redacted_md5
           |FROM documents d LEFT JOIN h USING (doc_id)""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      val gaz = Seq("spark", "table", "merge").toDF("term")
      Privacy.gazetteerRedact(
        Tables.documents(spark, dir).select("doc_id", "text"),
        "doc_id", "text", gaz, "term")
        .select(col("doc_id"), col("n_gazetteer_hits"),
          col("n_gazetteer_terms"), md5(col("redacted")).as("redacted_md5"))
    },

    // ---- t-CLOSENESS AUDIT (L191): the distributional upgrade of
    // q95's k-anonymity/l-diversity gates — a QID group can hold ≥ l
    // distinct account-balance bins yet sit almost entirely in ONE of
    // them, leaking the sensitive value anyway; t-closeness bounds the
    // Earth-Mover's Distance between each group's bin distribution
    // and the global one (ordinal bins, unit ground distance). Same
    // QIDs and sensitive binning as q95 so the two audits read side
    // by side; t = 1/5. All-integer EMD (see Privacy.tClosenessAudit);
    // only the 6-dp presentation ratio crosses as DOUBLE.
    Q(
      "q209_t_closeness",
      """WITH base AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bin
        |  FROM customer),
        |gb AS (SELECT bin, CAST(count(*) AS BIGINT) AS nb
        |       FROM base GROUP BY 1),
        |g AS (SELECT c_nationkey, c_mktsegment, bin,
        |    CAST(count(*) AS BIGINT) AS ngb
        |  FROM base GROUP BY 1, 2, 3),
        |gt AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM base GROUP BY 1, 2),
        |tot AS (SELECT CAST(count(*) AS HUGEINT) AS nt,
        |    CAST(count(DISTINCT bin) AS HUGEINT) AS m
        |  FROM base),
        |u AS (
        |  SELECT gt.c_nationkey, gt.c_mktsegment, gt.n, gb.bin, gb.nb,
        |    coalesce(g.ngb, 0) AS ngb
        |  FROM gt CROSS JOIN gb
        |  LEFT JOIN g ON g.c_nationkey = gt.c_nationkey
        |    AND g.c_mktsegment = gt.c_mktsegment AND g.bin = gb.bin),
        |c AS (
        |  SELECT c_nationkey, c_mktsegment, n,
        |    sum(CAST(ngb AS HUGEINT) * t.nt - CAST(nb AS HUGEINT) * n)
        |      OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY bin
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM u, tot t),
        |s AS (
        |  SELECT c_nationkey, c_mktsegment, max(n) AS n,
        |    sum(abs(cum)) AS sumabs
        |  FROM c GROUP BY 1, 2)
        |SELECT s.c_nationkey, s.c_mktsegment, CAST(s.n AS BIGINT) AS n,
        |  CAST(t.m AS BIGINT) AS n_bins,
        |  CASE WHEN t.m > 1 THEN
        |    CAST(((2 * sumabs * 1000000 + (CAST(n AS HUGEINT) * t.nt * (t.m - 1)))
        |      // (2 * CAST(n AS HUGEINT) * t.nt * (t.m - 1)))
        |      * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE)
        |    ELSE CAST(0 AS DOUBLE) END AS emd,
        |  CASE WHEN t.m > 1 THEN
        |    sumabs * 5 <= CAST(n AS HUGEINT) * t.nt * (t.m - 1) * 1
        |    ELSE TRUE END AS t_close
        |FROM s, tot t""".stripMargin) { (spark, dir) =>
      Privacy.tClosenessAudit(Tables.customer(spark, dir),
        Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long"),
        tNum = 1, tDen = 5)
    },

    // ---- BENFORD FIRST-DIGIT AUDIT (L196): per order-status group,
    // the observed first-significant-digit distribution of totals vs
    // Benford's law — the fraud/fabrication screen auditors run on
    // financial columns (organically-grown magnitudes follow
    // log10(1+1/d); invented or truncated numbers do not). The nine
    // Benford shares are 9-dp literals MINTED ONCE in Scala and
    // spliced verbatim into both engines' plans (the q208 recipe — no
    // engine evaluates log10); observed shares round in integer space
    // at the same 9-dp scale, so the |observed − expected| deviation
    // is an EXACT decimal subtraction. First digit extracts through
    // integer space (floor → BIGINT → leading char of the decimal
    // string — portable, no float formatting). Zero-count digits
    // surface explicitly (the grid is statuses × 9, they are evidence,
    // not absence). One corpus aggregate; the grid is 27 rows at any
    // scale.
    Q(
      "q215_benford_audit", {
        val w = (1 to 9).map(d =>
          d -> f"${math.log10(1.0 + 1.0 / d)}%.9f")
        val values = w.map { case (d, s) =>
          s"(CAST($d AS BIGINT), CAST($s AS DECIMAL(10,9)))" }.mkString(", ")
        s"""WITH w(digit, w9) AS (VALUES $values),
           |src AS (
           |  SELECT o_orderstatus AS status,
           |    CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
           |      1, 1) AS BIGINT) AS digit
           |  FROM orders),
           |cnt AS (
           |  SELECT status, digit, CAST(count(*) AS BIGINT) AS n_digit
           |  FROM src GROUP BY 1, 2),
           |tot AS (
           |  SELECT status, CAST(count(*) AS BIGINT) AS n_total
           |  FROM src GROUP BY 1),
           |g AS (
           |  SELECT t.status, w.digit, w.w9, t.n_total,
           |    coalesce(c.n_digit, 0) AS n_digit
           |  FROM tot t CROSS JOIN w
           |  LEFT JOIN cnt c ON c.status = t.status AND c.digit = w.digit),
           |s9 AS (
           |  SELECT status, digit, n_digit, n_total, w9,
           |    ((2 * CAST(n_digit AS HUGEINT) * 1000000000 + n_total)
           |      // (2 * CAST(n_total AS HUGEINT)))
           |      * CAST(0.000000001 AS DECIMAL(10,9)) AS share9
           |  FROM g)
           |SELECT status, digit, n_digit, n_total,
           |  CAST(share9 AS DOUBLE) AS share,
           |  CAST(w9 AS DOUBLE) AS benford_share,
           |  CAST(abs(share9 - w9) AS DOUBLE) AS abs_dev
           |FROM s9""".stripMargin
      }) { (spark, dir) =>
      import spark.implicits._
      import graft.functions.ExactRound
      val dec = org.apache.spark.sql.types.DecimalType(10, 9)
      val wDf = (1 to 9).map(d =>
          (d.toLong, f"${math.log10(1.0 + 1.0 / d)}%.9f"))
        .toDF("digit", "w_str")
        .select(col("digit"), col("w_str").cast(dec).as("w9"))
      val src = Tables.orders(spark, dir).select(
        col("o_orderstatus").as("status"),
        substring(floor(col("o_totalprice")).cast("string"), 1, 1)
          .cast("long").as("digit"))
      val cnt = src.groupBy("status", "digit").agg(count(lit(1)).as("n_digit"))
      val tot = src.groupBy("status").agg(count(lit(1)).as("n_total"))
      val share9 = ExactRound.roundRatio(col("n_digit"), col("n_total"), 9)
      tot.crossJoin(broadcast(wDf))
        .join(cnt, Seq("status", "digit"), "left")
        .withColumn("n_digit", coalesce(col("n_digit"), lit(0L)))
        // cast the (38,9) ratio down to the share's true domain before
        // subtracting: (38,9) − (10,9) needs precision 39, and Spark's
        // precision-loss rule would silently re-round the result at
        // scale 8; (10,9) − (10,9) stays exact at 9
        .withColumn("share9", share9.cast(dec))
        .select(col("status"), col("digit"), col("n_digit"), col("n_total"),
          col("share9").cast("double").as("share"),
          col("w9").cast("double").as("benford_share"),
          abs(col("share9") - col("w9")).cast("double").as("abs_dev"))
    },

    // ---- round 14: differential-privacy budget LEDGER. q231 prices a
    // SINGLE release; a pipeline that publishes the per-event-type
    // histogram EVERY DAY must track the accumulating privacy cost and
    // stop (or re-noise) when the budget is spent. Per day: k = the
    // release ordinal, ε_basic = k·ε₀ (sequential composition), and
    // ε_adv from the advanced composition theorem (Dwork & Roth Thm
    // 3.20, δ' = 1e-6): ε₀·√(2k·ln(1∕δ')) + k·ε₀·(eᵉ⁰−1) — MINTED at
    // 9 dp per k (the grid is the 30-day window, bounded by data
    // contract) since no engine evaluates √/ln/exp identically. The
    // verdict columns flag the first days the ε = 1.0 budget is
    // exhausted under each rule — advanced composition buys the
    // pipeline extra release days, and the ledger shows exactly how
    // many. One day-keyed count + a 30-row broadcast grid join; the
    // events table is scanned once.
    Q(
      "q246_dp_ledger", {
        val eps0 = 0.2
        val deltaP = 1e-6
        def adv9(k: Int): Long = {
          val v = eps0 * math.sqrt(2.0 * k * math.log(1.0 / deltaP)) +
            k * eps0 * (math.exp(eps0) - 1.0)
          (BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP) *
            BigDecimal(10).pow(9)).toLongExact
        }
        val values = (1 to 30).map(k => s"($k, ${adv9(k)})").mkString(", ")
        s"""WITH d AS (
           |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           |    CAST(count(*) AS BIGINT) AS n_events
           |  FROM events GROUP BY 1),
           |r AS (
           |  SELECT day, n_events,
           |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k
           |  FROM d),
           |g(k, adv9) AS (VALUES $values)
           |SELECT day, n_events, r.k,
           |  CAST(r.k * 200000 AS DOUBLE) / 1000000 AS eps_basic,
           |  CAST(adv9 AS DOUBLE) / 1000000000 AS eps_advanced,
           |  r.k * 200000 > 1000000 AS basic_exhausted,
           |  adv9 > 1000000000 AS adv_exhausted
           |FROM r JOIN g ON r.k = g.k""".stripMargin
      }) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val spk = spark
      import spk.implicits._
      val eps0 = 0.2
      val deltaP = 1e-6
      def adv9(k: Int): Long = {
        val v = eps0 * math.sqrt(2.0 * k * math.log(1.0 / deltaP)) +
          k * eps0 * (math.exp(eps0) - 1.0)
        (BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP) *
          BigDecimal(10).pow(9)).toLongExact
      }
      val g = (1 to 30).map(k => (k.toLong, adv9(k))).toDF("k", "adv9")
      val d = Tables.events(spark, dir)
        .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
        .agg(count(lit(1)).as("n_events"))
      // unpartitioned window over the |days|-row daily aggregate only
      val r = d.withColumn("k",
        row_number().over(Window.orderBy(col("day"))).cast("long"))
      r.join(broadcast(g), "k")
        .select(col("day"), col("n_events"), col("k"),
          (col("k") * lit(200000L)).cast("double")
            .divide(lit(1000000.0)).as("eps_basic"),
          col("adv9").cast("double")
            .divide(lit(1000000000.0)).as("eps_advanced"),
          (col("k") * lit(200000L) > 1000000L).as("basic_exhausted"),
          (col("adv9") > 1000000000L).as("adv_exhausted"))
    },

    // ---- round 14: right-to-be-forgotten ERASURE AUDIT. Erasing a
    // document is not one DELETE: every derived artifact (chunk
    // tables, dedup maps, indexes) must drop it too, and — the part
    // pipelines miss — the versioned lake RETAINS the erased rows in
    // older snapshots until VACUUM. The audit publishes documents
    // minus the erasure set (doc_id % 97 = 1 here; production feeds a
    // broadcast manifest list — the residual check below is the same
    // anti-join shape either way), rebuilds the chunk artifact, then
    // emits one verdict row per surface: row count, erased residual
    // (must be 0), rows removed, clean flag. The `docs_v1_retained`
    // row is deliberately DIRTY — time travel still reads the erased
    // rows — and `post_vacuum` closes it by dropping the pre-erasure
    // snapshot (Versioned.vacuum), the step that makes erasure real.
    // All counts integer; the chunk artifact reuses q92's shape.
    Q(
      "q250_erasure_audit",
      s"""WITH e AS (SELECT count(*) AS ec FROM documents
         |  WHERE doc_id % 97 = 1),
         |d AS (SELECT count(*) AS dc FROM documents),
         |ch AS (
         |  SELECT doc_id, len(range(1, len($toksSql) + 1, 30)) AS nch
         |  FROM documents),
         |c1 AS (SELECT CAST(sum(nch) AS BIGINT) AS c FROM ch),
         |c2 AS (SELECT CAST(sum(nch) AS BIGINT) AS c FROM ch
         |  WHERE doc_id % 97 <> 1)
         |SELECT 'documents_v2' AS artifact,
         |  CAST(dc - ec AS BIGINT) AS n_rows,
         |  CAST(0 AS BIGINT) AS n_erased_residual,
         |  CAST(ec AS BIGINT) AS n_removed, TRUE AS clean
         |FROM d, e
         |UNION ALL
         |SELECT 'chunks_v2', c2.c, 0, c1.c - c2.c, TRUE FROM c1, c2
         |UNION ALL
         |SELECT 'docs_v1_retained', CAST(dc AS BIGINT), CAST(ec AS BIGINT),
         |  0, FALSE FROM d, e
         |UNION ALL
         |SELECT 'post_vacuum', 1, 0, 1, TRUE""".stripMargin) {
      (spark, dir) =>
      import graft.ops.Text
      val docs = Tables.documents(spark, dir)
      val erased = col("doc_id") % 97 === 1
      val root = graft.Tmp.dir("graft-q250").toString
      val tbl = s"$root/docs"
      graft.Meta.Versioned.write(docs, tbl) // v1: pre-erasure snapshot
      graft.Meta.Versioned.write(docs.filter(!erased), tbl) // v2: erased
      val v1 = graft.Meta.Versioned.read(spark, tbl, Some(1L))
      val v2 = graft.Meta.Versioned.read(spark, tbl, Some(2L))
      def chunkCount(d: org.apache.spark.sql.DataFrame) = d
        .select(size(Text.chunkStarts(
          Text.tokens(col("text")), stride = 30)).cast("long").as("nch"),
          col("doc_id"))
      def audit(name: String, d: org.apache.spark.sql.DataFrame,
          rows: org.apache.spark.sql.Column,
          before: org.apache.spark.sql.DataFrame) = {
        val a = d.agg(sum(rows).cast("long").as("n_rows"),
          sum(when(erased, rows).otherwise(lit(0L))).cast("long")
            .as("n_erased_residual"))
        val b = before.agg(sum(rows).cast("long").as("c1"))
        a.crossJoin(broadcast(b)).select(lit(name).as("artifact"),
          col("n_rows"), col("n_erased_residual"),
          (col("c1") - col("n_rows")).as("n_removed"),
          (col("n_erased_residual") === 0).as("clean"))
      }
      val pre = audit("documents_v2", v2, lit(1L), v1)
        .unionByName(
          audit("chunks_v2", chunkCount(v2), col("nch"), chunkCount(v1)))
        .unionByName(audit("docs_v1_retained", v1, lit(1L), v1))
        .localCheckpoint() // materialize BEFORE vacuum deletes v1's files
      // the erasure is only real once the pre-erasure snapshot is gone
      val dropped = graft.Meta.Versioned.vacuum(spark, tbl, keep = 1)
      val r4 = spark.range(1).select(lit("post_vacuum").as("artifact"),
        lit(graft.Meta.Versioned.latestVersion(spark, tbl).size.toLong)
          .as("n_rows"),
        lit(0L).as("n_erased_residual"),
        lit(dropped.size.toLong).as("n_removed"), lit(true).as("clean"))
      pre.unionByName(r4)
    })
}

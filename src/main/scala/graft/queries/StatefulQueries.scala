package graft.queries

import graft.Tables
import graft.ops.{Dedup, Merge, Sessionize, Similarity, Text}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Stateful-streaming and embedding-dedup queries beyond the reference's
  * stateless surface: event-time windowed aggregation over a stream,
  * gap sessionization (typed mapGroups path; mapGroupsWithState streaming
  * variant exercised in StatefulStreamsSpec), embedding-cosine near-dup.
  */
object StatefulQueries {
  import Text.{Mult, P}

  // The ts physical type varies by fixture vintage (INT64 TIMESTAMP(NANOS)
  // read as long vs native TIMESTAMP(MICROS) read as NTZ) — the stream
  // schema must match the file, so build it per-directory.
  /** Explicit read schema for a file-streamed events fixture under either
    * ts encoding — streaming readers cannot infer schemas, so every
    * `readStream` over events builds its schema here (callable repo-wide;
    * the verify skill's streaming gotcha points at this method). */
  private[graft] def eventsRawSchema(tsIsNanosLong: Boolean): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", if (tsIsNanosLong) LongType else TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The events fixture of `dir` as a file stream. The file source wants
    * a directory, so the single parquet file is symlinked into a fresh
    * temp dir; each call is an independent scan. */
  private def eventsStream(spark: SparkSession, dir: String,
      tsLong: Boolean): DataFrame = {
    val staged = graft.Tmp.dir("graft-events-in")
    java.nio.file.Files.createSymbolicLink(staged.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    spark.readStream.schema(eventsRawSchema(tsLong)).parquet(staged.toString)
  }

  /** Runs `df` to completion (AvailableNow) into a memory table named
    * `graft_<tag>_<uuid>` and returns that table. The state width is
    * sized to the key volume (a few hundred groups), not the batch CPU
    * count — see Streams.fold. */
  private def drainToMemory(df: DataFrame, tag: String,
      mode: OutputMode): DataFrame = {
    val spark = df.sparkSession
    val name = s"graft_${tag}_" + java.util.UUID.randomUUID.toString.replace("-", "")
    graft.Sessions.withShufflePartitions(spark, 4) {
      df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    spark.table(name)
  }

  val all: Seq[Q] = Seq(

    // ---- Stateful streaming aggregation: event-time daily windows over
    // the re-streamed events table, complete-mode memory sink (the
    // test-only sink; the scale path is foreachBatch/parquet per batch).
    // Stateful agg is the piece the reference never uses (its checkpoints
    // all show batchWatermarkMs=0) — added here as a first-class operator.
    Q(
      "q31_stream_windowed_agg",
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
        |  event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      val tsLong = Tables.eventsTsIsNanosLong(spark, dir)
      val agg = eventsStream(spark, dir, tsLong)
        .withColumn("ts", Tables.eventsTsNtz(tsLong))
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(12, 2))).cast("double").as("total_value"))
      drainToMemory(agg, "q31", OutputMode.Complete()).select(
        col("w.start").as("day"), col("event_type"),
        col("n_events"), col("total_value"))
    },

    // ---- Gap sessionization (1-day gap) via the typed mapGroups fold;
    // the oracle replays it with lag + running-sum window functions —
    // also exactly the shape of Sessionize.sessionizeWindows, the scale
    // variant (equality of the two is pinned in tests).
    Q(
      "q32_sessionize",
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    lag(CAST(ts AS TIMESTAMP)) OVER
        |      (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(CASE WHEN prev IS NULL
        |             OR epoch_us(ts) - epoch_us(prev) > 86400000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM e)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .as[Sessionize.Event]
      Sessionize.sessionizeTyped(ev, gapSeconds = 86400).toDF()
    },

    // ---- K6 end-to-end: foreachBatch SCD2 upsert driven by a real
    // stream (file-backed feed, two micro-batches of customer updates
    // into a parquet target; util/verify_spark.py:108-114). The oracle
    // replays
    // the reference's MERGE semantics twice in SQL — including the
    // two-phase quirk: batch-1 close-outs get their new version only
    // when batch 2 replays the key.
    Q(
      "q37_stream_scd2_upsert", {
        def pass(target: String, source: String) =
          s"""SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal, t.c_mktsegment,
             |       t.effective_start_date,
             |       CASE WHEN s.c_custkey IS NOT NULL AND t.c_acctbal <> s.c_acctbal
             |            THEN s.updated_at ELSE t.effective_end_date END AS effective_end_date,
             |       CASE WHEN s.c_custkey IS NOT NULL AND t.c_acctbal <> s.c_acctbal
             |            THEN false ELSE t.is_current END AS is_current
             |  FROM $target t LEFT JOIN $source s
             |    ON t.c_custkey = s.c_custkey AND t.is_current
             |  UNION ALL
             |  SELECT s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment,
             |         s.updated_at, TIMESTAMP '2099-12-31 00:00:00', true
             |  FROM $source s
             |  WHERE NOT EXISTS (SELECT 1 FROM $target t
             |                    WHERE t.c_custkey = s.c_custkey AND t.is_current)""".stripMargin
        s"""WITH t0 AS (
           |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           |         TIMESTAMP '2024-01-01 00:00:00' AS effective_start_date,
           |         TIMESTAMP '2099-12-31 00:00:00' AS effective_end_date,
           |         true AS is_current
           |  FROM customer),
           |s1 AS (
           |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 10.0 AS c_acctbal,
           |         c_mktsegment, TIMESTAMP '2024-02-01 00:00:00' AS updated_at
           |  FROM customer WHERE c_custkey % 3 = 0),
           |s2 AS (
           |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 20.0 AS c_acctbal,
           |         c_mktsegment, TIMESTAMP '2024-03-01 00:00:00' AS updated_at
           |  FROM customer WHERE c_custkey % 3 = 0),
           |m1 AS (
           |  ${pass("t0", "s1")}),
           |m2 AS (
           |  ${pass("m1", "s2")})
           |SELECT * FROM m2""".stripMargin
      }) { (spark, dir) =>
      import graft.streaming.Streams
      val root = graft.Tmp.dir("graft-q37")
      val target = s"$root/scd2"
      val c = Tables.customer(spark, dir)
      Merge.asScd2(c, "2024-01-01 00:00:00").write.parquet(target)

      // file-backed feed (Streams.FileFeed, round 16): the CDC batches
      // are minted as column arithmetic over the customer scan and
      // staged executor-side — the old path collected every row to the
      // driver to rebuild it as tuples.
      def batchOf(delta: Double, ts: String) = c
        .filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          (col("c_acctbal") + delta).as("c_acctbal"), col("c_mktsegment"),
          lit(ts).cast("timestamp_ntz").as("updated_at"))
      // the per-batch SCD2 merge joins a few thousand rows — 4 shuffle
      // partitions, not the batch-tuned 32 (see Streams.fold)
      Streams.fold(root.toString, Seq(batchOf(10.0, "2024-02-01 00:00:00"),
          batchOf(20.0, "2024-03-01 00:00:00"))) { (batch, _) =>
        Streams.scd2Upsert(batch, target, "c_custkey", Seq("c_acctbal"))
      }
      spark.read.parquet(target)
    },

    // ---- IVF-style ANN: 16 deterministic centroid cells, queries probe
    // their 2 nearest cells — candidates ≈ 1/8 of the corpus per query.
    Q(
      "q36_ann_ivf_topk", {
        def dotSql(a: String, b: String) =
          s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i -> $a[i]*$b[i])), (a, x) -> a + x)"
        def cosSql(a: String, an: String, b: String, bn: String) =
          s"${dotSql(a, b)} / ($an * $bn)"
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           |  FROM embeddings),
           |n AS (SELECT vec_id, dv, sqrt(${dotSql("dv", "dv")}) AS nrm FROM v),
           |cent AS (SELECT vec_id AS cid, dv AS cv, nrm AS cn FROM n WHERE vec_id < 16),
           |asg AS (
           |  SELECT vec_id, dv, nrm, cid, crn FROM (
           |    SELECT n.vec_id, n.dv, n.nrm, cent.cid,
           |      row_number() OVER (PARTITION BY n.vec_id
           |        ORDER BY ${cosSql("n.dv", "n.nrm", "cent.cv", "cent.cn")} DESC, cent.cid) AS crn
           |    FROM n, cent)),
           |c AS (SELECT vec_id AS neighbor_id, dv AS nv, nrm AS nn, cid
           |      FROM asg WHERE crn = 1),
           |q AS (SELECT vec_id AS query_id, dv AS qv, nrm AS qn, cid
           |      FROM asg WHERE crn <= 2 AND vec_id < 5),
           |ranked AS (
           |  SELECT query_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           |  FROM (
           |    SELECT q.query_id, c.neighbor_id,
           |      ${cosSql("q.qv", "q.qn", "c.nv", "c.nn")} AS cos
           |    FROM c JOIN q USING (cid)
           |    WHERE q.query_id <> c.neighbor_id))
           |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, round(cos, 6) AS cos
           |FROM ranked WHERE rn <= 3""".stripMargin
      }) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      Similarity
        .topKIvf(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 3, centroids = 16, nprobe = 2)
        .withColumn("cos", round(col("cos"), 6))
    },

    // ---- Stream-stream inner join with watermarks on both sides: the
    // event stream joined to its flagged subset on the event key with a
    // ±1h event-time constraint (the constraint is what lets the engine
    // expire join state — without it, both sides buffer forever).
    // AvailableNow over the fixture; oracle is the equivalent batch join.
    Q(
      "q45_stream_stream_join",
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |f AS (
        |  SELECT event_id, value AS flag_value FROM e WHERE event_id % 10 = 0)
        |SELECT e.event_id, e.user_id, e.ts, e.value, f.flag_value
        |FROM e JOIN f USING (event_id)""".stripMargin) { (spark, dir) =>
      // watermarks require TIMESTAMP (not NTZ); the session runs in UTC so
      // the wall-clock values are identical — cast to NTZ only on output
      val tsLong45 = Tables.eventsTsIsNanosLong(spark, dir)
      def src = eventsStream(spark, dir, tsLong45)
        .withColumn("ts", Tables.eventsTsLtz(tsLong45))
      val left = src.select("event_id", "user_id", "ts", "value")
        .withWatermark("ts", "1 day")
      val right = src.filter(col("event_id") % 10 === 0)
        .select(col("event_id").as("f_event_id"), col("ts").as("f_ts"),
          col("value").as("flag_value"))
        .withWatermark("f_ts", "1 day")
      val joined = left.join(right,
        col("event_id") === col("f_event_id") &&
          col("f_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
          col("f_ts") <= col("ts") + expr("INTERVAL 1 HOUR"))
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"), col("value"), col("flag_value"))
      drainToMemory(joined, "q45", OutputMode.Append())
    },

    // ---- Streaming dedup: dropDuplicates keyed on (user_id, event_type)
    // with an event-time watermark. Which physical row survives per key
    // depends on arrival order, so only the KEY columns are emitted —
    // exactly the distinct-key set, arrival-order-independent.
    Q(
      "q46_stream_dedup",
      "SELECT DISTINCT user_id, event_type FROM events") { (spark, dir) =>
      // TIMESTAMP (not NTZ) for the watermark column; it is not emitted
      val tsLong46 = Tables.eventsTsIsNanosLong(spark, dir)
      val src = eventsStream(spark, dir, tsLong46)
        .withColumn("ts", Tables.eventsTsLtz(tsLong46))
        .withWatermark("ts", "1 day")
        .dropDuplicates("user_id", "event_type")
        .select("user_id", "event_type")
      drainToMemory(src, "q46", OutputMode.Append())
    },

    // ---- Stream-static join: the event stream enriched against a
    // static dimension snapshot (the canonical streaming-enrichment
    // shape). The static side re-resolves per micro-batch and Catalyst
    // broadcasts it — no stream-side state at all, unlike q45's
    // stream-stream join. Aggregation happens batch-side over the sink
    // (the stream stays stateless append).
    Q(
      "q59_stream_static_join",
      """SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1""".stripMargin) { (spark, dir) =>
      val dim = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = eventsStream(spark, dir, Tables.eventsTsIsNanosLong(spark, dir))
        .select(col("user_id"), col("value"))
        .join(dim, col("user_id") === col("c_custkey"))
        .select("c_mktsegment", "value")
      drainToMemory(joined, "q59", OutputMode.Append())
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(12, 2))).cast("double").as("total_value"))
    },

    // ---- Streaming SESSION windows: the engine-native gap-merge
    // (session_window + watermark, dynamic merging state) against the
    // same 24h-gap semantics q32 computes with gaps-and-islands /
    // mapGroupsWithState. New session iff the gap is >= the timeout
    // (a window [ts, ts+gap) stops merging exactly at ts+gap).
    Q(
      "q61_stream_session_window",
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    lag(CAST(ts AS TIMESTAMP)) OVER
        |      (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(CASE WHEN prev IS NULL
        |             OR epoch_us(ts) - epoch_us(prev) >= 86400000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM e)
        |SELECT user_id, min(ts) AS session_start,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin) { (spark, dir) =>
      val tsLong61 = Tables.eventsTsIsNanosLong(spark, dir)
      val agg = eventsStream(spark, dir, tsLong61)
        .withColumn("ts", Tables.eventsTsLtz(tsLong61))
        .withWatermark("ts", "1 day")
        .groupBy(col("user_id"), session_window(col("ts"), "24 hours").as("w"))
        .agg(count(lit(1)).as("n_events"))
      drainToMemory(agg, "q61", OutputMode.Complete()).select(
        col("user_id"),
        col("w.start").cast("timestamp_ntz").as("session_start"),
        col("n_events"))
    },

    // ---- Embedding-cosine near-dup pairs within hyperplane buckets
    // (dedup via similarity; threshold at the fixture's high-cosine tail).
    Q(
      "q33_embedding_near_dup", {
        def dotSql(a: String, b: String) =
          s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i -> $a[i]*$b[i])), (a, x) -> a + x)"
        val bucketSql = (0 until 4).map { bit =>
          val proj = s"""list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(dv, (x, i) ->
               |        x * CASE WHEN (($bit*64 + (i-1)) * $Mult) % $P % 2 = 0
               |            THEN 1.0 ELSE -1.0 END)), (a, x) -> a + x)""".stripMargin
          s"(CASE WHEN $proj > 0 THEN ${1L << bit} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           |  FROM embeddings),
           |b AS (SELECT vec_id, dv, $bucketSql AS bucket FROM v)
           |SELECT id_a, id_b, round(cos, 6) AS cos FROM (
           |  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           |    ${dotSql("x.dv", "y.dv")}
           |      / (sqrt(${dotSql("x.dv", "x.dv")}) * sqrt(${dotSql("y.dv", "y.dv")})) AS cos
           |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
           |WHERE cos >= 0.4""".stripMargin
      }) { (spark, dir) =>
      Similarity
        .cosineNearDupPairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
          threshold = 0.4, nbits = 4, dim = 64)
        .withColumn("cos", round(col("cos"), 6))
    },

    // ---- Incremental embedding near-dup: every 5th vector re-ingested
    // under a shifted id as the NEW batch, deduplicated AGAINST the
    // standing corpus via the corpus×batch bucket join — the embedding
    // mirror of q71's continuous-ingest shape (no corpus self-join per
    // batch). The re-ingested vectors surface as exact cos=1 hits plus
    // the genuine near-dup tail.
    Q(
      "q79_incremental_embedding_dedup", {
        def dotSql(a: String, b: String) =
          s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i -> $a[i]*$b[i])), (a, x) -> a + x)"
        val bucketSql = (0 until 4).map { bit =>
          val proj = s"""list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(dv, (x, i) ->
               |        x * CASE WHEN (($bit*64 + (i-1)) * $Mult) % $P % 2 = 0
               |            THEN 1.0 ELSE -1.0 END)), (a, x) -> a + x)""".stripMargin
          s"(CASE WHEN $proj > 0 THEN ${1L << bit} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           |  FROM embeddings),
           |vb AS (
           |  SELECT vec_id + 100000 AS vec_id, dv FROM v WHERE vec_id % 5 = 0),
           |c AS (SELECT vec_id, dv, $bucketSql AS bucket FROM v),
           |b AS (SELECT vec_id, dv, $bucketSql AS bucket FROM vb)
           |SELECT corpus_id, batch_id, round(cos, 6) AS cos FROM (
           |  SELECT x.vec_id AS corpus_id, y.vec_id AS batch_id,
           |    ${dotSql("x.dv", "y.dv")}
           |      / (sqrt(${dotSql("x.dv", "x.dv")}) * sqrt(${dotSql("y.dv", "y.dv")})) AS cos
           |  FROM c x JOIN b y ON x.bucket = y.bucket)
           |WHERE cos >= 0.4""".stripMargin
      }) { (spark, dir) =>
      val corpus = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      val batch = corpus.filter(col("vec_id") % 5 === 0)
        .withColumn("vec_id", col("vec_id") + 100000)
      Similarity
        .cosineNearDupAgainst(corpus, batch, "vec_id", "embedding",
          threshold = 0.4, nbits = 4, dim = 64)
        .withColumn("cos", round(col("cos"), 6))
    },

    // ---- L85 STREAMING incremental-view maintenance: the L83 fold run
    // continuously — each micro-batch of the change feed folds into the
    // standing (cnt, total) aggregate via foreachBatch, written as a new
    // snapshot version per batch (the maintenance history is a version
    // chain, never an in-place overwrite). count/sum form an abelian
    // group, so ANY batching of the feed — here two deterministic
    // halves, even splitting an update's pre/post images across
    // batches — folds to the same final table; the oracle is the direct
    // aggregate of v2, same contract as q100. Per-batch cost is
    // |micro-batch| + |groups|; the orders snapshot is never rescanned.
    // Delivery (round 8): foreachBatch is at-least-once and a sum fold
    // is NOT idempotent, so each fold commits exactly-once through
    // Streams.foldOnce, whose final-batch replay the oracle match pins
    // (q115 pins the idempotent sketch twin; this pins the
    // non-idempotent one).
    Q(
      "q103_stream_incremental_agg",
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 11 <> 0
        |GROUP BY o_custkey""".stripMargin) { (spark, dir) =>
      import graft.streaming.Streams
      import graft.ops.Incremental
      val root = graft.Tmp.dir("graft-q103").toString
      val aggPath = s"$root/agg"
      val o = Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val v1 = o.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 50)
            .otherwise(col("o_totalprice")))
      val v2 = o.filter(col("o_orderkey") % 11 =!= 0)
      // seed: direct aggregate of v1 as snapshot version 1. The feed
      // diffs the two frames directly (snapshotDiff — q100 covers the
      // committed-chain path); only the MAINTAINED aggregate needs the
      // version-chain machinery here.
      graft.Meta.Versioned.write(
        Incremental.aggSumCount(v1, Seq("o_custkey"), "o_totalprice"), aggPath)
      // two deterministic key-parity batches (update pre/post images of
      // one key may land in DIFFERENT batches; the abelian fold absorbs
      // it)
      val feedDf = graft.Meta.Versioned
        .snapshotDiff(v1, v2, Seq("o_orderkey"), preimages = true)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("change_type"))
      val (even, odd) = (feedDf.filter(col("o_orderkey") % 2 === 0),
        feedDf.filter(col("o_orderkey") % 2 =!= 0))
      Streams.foldOnce(root, Seq(even, odd), Seq(aggPath)) { (batch, _) =>
        Seq(Incremental.maintainSumCount(graft.Meta.Versioned.read(spark, aggPath),
          batch, Seq("o_custkey"), "o_totalprice"))
      }
      graft.Meta.Versioned.read(spark, aggPath)
        .select(col("o_custkey"), col("cnt"), col("total").cast("double"))
    },

    // ---- Streaming SKETCH maintenance (L97): per-micro-batch KMV
    // sketches of the shingle stream folded into a standing per-source
    // sketch table through foreachBatch + versioned snapshots — the
    // sketch twin of q103's sum fold, with an ALGEBRAIC replay shield
    // on top of the transactional one: bottom-k union is idempotent as
    // well as abelian, so a whole batch redelivered under a NEW batch
    // id (which no txn marker can recognise) is absorbed by the math
    // itself (byte-level merge idempotence pinned in KmvSpec), where
    // q103's non-idempotent sums rely on the markers alone.
    // The query stages
    // one batch twice deliberately; the streamed estimate must still EQUAL the
    // one-shot direct sketch bit for bit (bottom-k of a union is
    // order- and multiplicity-invariant), which the rolled_matches
    // boolean pins. Oracle: exact per-source NDV + bound booleans.
    Q(
      "q115_stream_sketch_maintenance",
      s"""WITH toks AS (
         |  SELECT doc_id, source, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
         |  FROM documents),
         |shs AS (
         |  SELECT doc_id, source, unnest(CASE WHEN len(t) < 3 THEN []
         |    ELSE list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END) AS s
         |  FROM toks),
         |sh AS (SELECT DISTINCT source,
         |  CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT) % 2147483647 AS h FROM shs)
         |SELECT source, CAST(count(*) AS BIGINT) AS exact_ndv,
         |  TRUE AS est_ok, TRUE AS rolled_matches
         |FROM sh GROUP BY source""".stripMargin) { (spark, dir) =>
      import graft.streaming.Streams
      val root = graft.Tmp.dir("graft-q115").toString
      val skPath = s"$root/sketches"
      val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
      def sketchOf(df: DataFrame) =
        Dedup.withShingleHashes(df, "text", 3)
          .select(col("source"), explode(col("hv")).as("h"))
          .groupBy("source")
          .agg(call_function("graft_kmv_sketch", col("h"), lit(1024)).as("sk"))
      // seed: an empty standing table (schema only) as snapshot v1
      graft.Meta.Versioned.write(sketchOf(docs.limit(0)), skPath)
      // file-backed feed (Streams.FileFeed, round 16): no driver
      // collect() of the corpus text; batch membership unchanged
      // (key parity, with the first half staged verbatim as its own
      // batch — it arrives under a NEW batch id, so the txn markers
      // cannot skip it and KMV merge, idempotent set union, must absorb
      // the doubled batch)
      val even = docs.filter(col("doc_id") % 2 === 0)
      Streams.foldOnce(root, Seq(even, even,
          docs.filter(col("doc_id") % 2 =!= 0)), Seq(skPath)) { (batch, _) =>
        Seq(graft.Meta.Versioned.read(spark, skPath)
          .unionByName(sketchOf(batch))
          .groupBy("source")
          .agg(call_function("graft_kmv_merge", col("sk")).as("sk")))
      }
      val streamed = graft.Meta.Versioned.read(spark, skPath)
        .select(col("source"),
          call_function("graft_kmv_estimate", col("sk")).as("est_stream"))
      // one shared hash stream feeds BOTH the exact NDV and the direct
      // sketch (bottom-k is set-semantics — q110's argument), instead of
      // running the shingle kernel over the corpus twice
      val hashes = Dedup.withShingleHashes(docs, "text", 3)
        .select(col("source"), explode(col("hv")).as("h"))
        .cache()
      val direct = hashes.groupBy("source")
        .agg(call_function("graft_kmv_sketch", col("h"), lit(1024)).as("sk"))
        .select(col("source"),
          call_function("graft_kmv_estimate", col("sk")).as("est_direct"))
      val exact = hashes.groupBy("source")
        .agg(countDistinct(col("h")).as("exact_ndv"))
      val out = exact.join(streamed, "source").join(direct, "source")
        .select(col("source"), col("exact_ndv"),
          (abs(col("est_stream") - col("exact_ndv"))
            <= col("exact_ndv") * 0.10).as("est_ok"),
          (col("est_stream") === col("est_direct")).as("rolled_matches"))
        .localCheckpoint()
      hashes.unpersist()
      out
    },

    // ---- STREAMING moments maintenance: q109's power-sum fold run as
    // continuous ingest — the production shape of a standing data-card
    // (per-group mean/variance maintained from the change feed, never a
    // rescan). Composes the round-8 pieces end to end: maintainMoments
    // per micro-batch, committed exactly-once through Streams.foldOnce
    // (which REPLAYS the final batch under its original batchId — a
    // doubled Σv² would corrupt the variance, so the oracle match IS
    // the exactly-once proof), and the mean/var presentation goes
    // through ExactRound's integer-space rounding, same contract and
    // same HUGEINT oracle shape as q109.
    Q(
      "q124_stream_moments",
      """WITH s AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
        |    sum(pc) AS s1c, sum(pc * pc) AS s2c4
        |  FROM (SELECT o_custkey,
        |          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS pc
        |        FROM orders WHERE o_orderkey % 11 <> 0) t
        |  GROUP BY o_custkey)
        |SELECT o_custkey, cnt,
        |  CAST(((2 * s1c * 1000000 + cnt * 100) // (2 * cnt * 100))
        |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS mean_price,
        |  CAST(CASE WHEN cnt > 1 THEN
        |    ((2 * (s2c4 * cnt - s1c * s1c) * 100 + cnt * (cnt - 1) * 10000)
        |      // (2 * cnt * (cnt - 1) * 10000))
        |      * CAST(0.01 AS DECIMAL(3,2)) END AS DOUBLE) AS var_price
        |FROM s""".stripMargin) { (spark, dir) =>
      import graft.streaming.Streams
      import graft.ops.Incremental
      val root = graft.Tmp.dir("graft-q124").toString
      val aggPath = s"$root/agg"
      val o = Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val v1 = o.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 50)
            .otherwise(col("o_totalprice")))
      val v2 = o.filter(col("o_orderkey") % 11 =!= 0)
      graft.Meta.Versioned.write(
        Incremental.aggMoments(v1, Seq("o_custkey"), "o_totalprice"), aggPath)
      // key-parity batches; foldOnce replays the last one (Σv² doubling
      // would be visible in var_price, so the oracle match pins
      // exactly-once)
      val feedDf = graft.Meta.Versioned
        .snapshotDiff(v1, v2, Seq("o_orderkey"), preimages = true)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("change_type"))
      val (even, odd) = (feedDf.filter(col("o_orderkey") % 2 === 0),
        feedDf.filter(col("o_orderkey") % 2 =!= 0))
      Streams.foldOnce(root, Seq(even, odd), Seq(aggPath)) { (batch, _) =>
        Seq(Incremental.maintainMoments(graft.Meta.Versioned.read(spark, aggPath),
          batch, Seq("o_custkey"), "o_totalprice"))
      }
      val m = graft.Meta.Versioned.read(spark, aggPath)
      val s1c = col("s1") * 100
      val s2c4 = col("s2") * 10000
      val n = s2c4 * col("cnt") - s1c * s1c
      // Presented as DOUBLE on both engines (round-9): the driver's
      // hasher does not normalize DECIMAL across engines; the cast is
      // exact by ExactRound rule 2 (|v|·10^s < 2^53).
      m.select(col("o_custkey"), col("cnt"),
        graft.functions.ExactRound.roundRatio(s1c, col("cnt") * 100, 6)
          .cast("double").as("mean_price"),
        when(col("cnt") > 1,
          graft.functions.ExactRound.roundRatio(
            n, col("cnt") * (col("cnt") - 1) * 10000, 2))
          .cast("double").as("var_price"))
    },

    // ---- STREAMED DRIFT MAINTENANCE: q127's per-(lang, source) drift
    // table maintained from the v1→v2 change feed instead of recomputed
    // — the standing data-observability dashboard shape. The per-cell
    // (cnt, Σ n_chars) fold is Incremental.maintainSumCount through
    // Streams.foldOnce (batchId txn markers, the exactly-once contract,
    // with the final batch replayed as the proof), and the presentation
    // joins the maintained table
    // against the direct v1 aggregate. The oracle IS q127's SQL — the
    // streamed maintenance must land on the recompute's exact values.
    Q(
      "q133_stream_drift",
      LinkageQueries.driftSql) { (spark, dir) =>
      import graft.streaming.Streams
      import graft.ops.Incremental
      val root = graft.Tmp.dir("graft-q133").toString
      val aggPath = s"$root/agg"
      val docs = Tables.documents(spark, dir)
        .select("doc_id", "lang", "source", "n_chars")
      val v1 = docs.filter(col("doc_id") % 10 =!= 0)
      val v2 = docs.filter(col("doc_id") % 7 =!= 0)
      graft.Meta.Versioned.write(
        Incremental.aggSumCount(v1, Seq("lang", "source"), "n_chars"), aggPath)
      // key-parity batches; foldOnce replays the last one (a double-
      // applied delta would shift n_v2/chars_v2 in every touched cell —
      // the oracle match against the direct recompute pins exactly-once)
      val feedDf = graft.Meta.Versioned
        .snapshotDiff(v1, v2, Seq("doc_id"), preimages = true)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("change_type"))
      val (even, odd) = (feedDf.filter(col("doc_id") % 2 === 0),
        feedDf.filter(col("doc_id") % 2 =!= 0))
      Streams.foldOnce(root, Seq(even, odd), Seq(aggPath)) { (batch, _) =>
        Seq(Incremental.maintainSumCount(graft.Meta.Versioned.read(spark, aggPath),
          batch, Seq("lang", "source"), "n_chars"))
      }
      val maintained = graft.Meta.Versioned.read(spark, aggPath)
        .select(col("lang"), col("source"), col("cnt").as("n_v2"),
          col("total").cast("long").as("chars_v2"))
      val a = v1.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_v1"), sum("n_chars").as("chars_v1"))
      val t1 = v1.agg(count(lit(1)).as("t1"))
      val t2 = maintained.agg(sum("n_v2").cast("long").as("t2"))
      val j = a.join(maintained, Seq("lang", "source"), "full_outer")
        .na.fill(0L, Seq("n_v1", "n_v2", "chars_v1", "chars_v2"))
        .crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
      val share1 = graft.functions.ExactRound.roundRatio(col("n_v1"), col("t1"), 6)
      val share2 = graft.functions.ExactRound.roundRatio(col("n_v2"), col("t2"), 6)
      // DOUBLE at the boundary (round-9), mirroring q127 exactly.
      j.select(col("lang"), col("source"), col("n_v1"), col("n_v2"),
        when(col("n_v1") > 0, graft.functions.ExactRound
          .roundRatio(col("chars_v1"), col("n_v1"), 6))
          .cast("double").as("mean_chars_v1"),
        when(col("n_v2") > 0, graft.functions.ExactRound
          .roundRatio(col("chars_v2"), col("n_v2"), 6))
          .cast("double").as("mean_chars_v2"),
        share1.cast("double").as("share_v1"),
        share2.cast("double").as("share_v2"),
        (share2 - share1).cast("double").as("share_drift"))
    },

    // ---- Streamed NOVELTY fold (L146): q158's incremental novelty as
    // an actual stream — batch documents arrive in ASCENDING id order
    // across micro-batches (ingest-by-id, the natural shape for an
    // append-only corpus), each micro-batch scores its docs against
    // the standing shingle-ownership table and folds its own minima
    // back in with exactly-once commits per batch id. Ascending
    // arrival makes per-arrival scoring equal the full-union scoring
    // (a later doc can never steal ownership from an earlier one —
    // its id is larger), so the streamed result is BIT-identical to
    // q158's batch fold and to the full recompute — the oracle is the
    // same full-corpus replay. State is the ownership table itself:
    // O(|shingle universe|) rows in a keyed table (in production a
    // partitioned index), never in executor memory.
    Q(
      "q165_stream_novelty",
      CorpusStatsQueries.noveltyOracleSql("WHERE doc_id % 3 = 0")) {
      (spark, dir) =>
      import graft.streaming.Streams
      val root = graft.Tmp.dir("graft-q165").toString
      val ownPath = s"$root/own"
      val resPath = s"$root/res"
      val docs = Tables.documents(spark, dir)
      val hvAll = Dedup.withShingleHashes(
        docs.select("doc_id", "text"), "text", 3)
        .filter(size(col("hv")) > 0)
        .select(col("doc_id"), col("hv"))
      val standing0 = hvAll.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), explode(col("hv")).as("h"))
        .groupBy("h").agg(min("doc_id").as("owner"))
      graft.Meta.Versioned.write(standing0, ownPath)
      graft.Meta.Versioned.write(
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_shingles",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_novel",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("novelty",
              org.apache.spark.sql.types.DoubleType)))), resPath)
      // file-backed feed (Streams.FileFeed, round 16): no driver
      // collect() of the document text. Batch membership MATTERS here
      // (novelty scores read the standing owner state as of the doc's
      // batch), so the oracle's sorted-half split is reproduced
      // exactly via the ⌊n∕2⌋-th-smallest doc_id cutoff — a harness-
      // side staging probe, not part of the measured fold.
      val feedDf = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      // doc_id is the documents PK — distinctness (which the value-
      // cutoff ⇔ rank-split equivalence needs) is asserted inside
      val cutoff = Streams.halfCutoffByKey(feedDf, "doc_id")
      // The fold materializes two localCheckpoints, so foldOnce's replay
      // guard (skip a batch both tables already record) is what keeps
      // the final-batch replay from paying a full shingle+fold pass.
      Streams.foldOnce(root, Seq(feedDf.filter(col("doc_id") <= cutoff),
          feedDf.filter(col("doc_id") > cutoff)), Seq(ownPath, resPath)) {
        (batch, _) =>
        val bsh = Dedup.withShingleHashes(
          batch.toDF("doc_id", "text"), "text", 3)
          .filter(size(col("hv")) > 0)
          .select(col("doc_id"), explode(col("hv")).as("h"))
          .localCheckpoint()
        val bOwn = bsh.groupBy("h").agg(min("doc_id").as("b_owner"))
        val standing = graft.Meta.Versioned.read(spark, ownPath)
        val folded = bOwn.join(standing, Seq("h"), "left")
          .select(col("h"),
            least(coalesce(col("owner"), col("b_owner")), col("b_owner"))
              .as("owner"))
          .localCheckpoint()
        val scored = bsh.join(folded, Seq("h"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty",
            graft.functions.ExactRound
              .roundRatio(col("n_novel"), col("n_shingles"), 6)
              .cast("double"))
        // own stays a full-rewrite fold: a batch doc with a smaller id
        // can STEAL ownership of a standing hash (least() above), so the
        // table is a keyed upsert, not an append-only log. res IS
        // append-only (per-doc scores, batch doc sets disjoint) — the
        // round-21 segment-append shape: commit the delta, resolve with
        // readAll.
        Seq(standing.join(bOwn, Seq("h"), "left_anti").unionByName(folded),
          scored)
      }
      graft.Meta.Versioned.readAll(spark, resPath)
    },

    // ---- Streamed EXACT-SUBSTRING dedup (L261): q277's rewrite as
    // continuous ingest — documents arrive in ascending-id micro-
    // batches, each batch dedups against the STANDING window-ownership
    // state (h → owner site; strings re-derived from the lake at
    // hash-hits only, so state stays ~24 B/window — the scale story on
    // Dedup.exactSubstrBatch) and appends its rewrite + new owners
    // with exactly-once txn markers (Streams.foldOnce). Ascending
    // arrival makes per-batch ownership equal the global (doc, pos)
    // order, so the streamed result is BIT-identical to q277's one-shot
    // rewrite — the oracle IS q277's SQL. foldOnce replays the final
    // batch; its guard finds both tables' markers and skips the step,
    // so what the oracle pins is the marker skip. (Re-applying the fold
    // would also be an algebraic no-op — every window matches state,
    // owner sites are excluded from cover, the owner append is empty —
    // but the replay never executes it.)
    Q(
      "q280_stream_exact_substring",
      CurationQueries.exactSubstrOracleSql) { (spark, dir) =>
      import graft.streaming.Streams
      val root = graft.Tmp.dir("graft-q280").toString
      val ownPath = s"$root/own"
      val resPath = s"$root/res"
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
      graft.Meta.Versioned.write(
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("h",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("own_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("own_spos",
              org.apache.spark.sql.types.IntegerType)))), ownPath)
      graft.Meta.Versioned.write(
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("clean_text",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_tokens",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_removed",
              org.apache.spark.sql.types.LongType)))), resPath)
      // doc_id is the documents PK — distinctness asserted inside
      val cutoff = Streams.halfCutoffByKey(docs, "doc_id")
      // Segment-append fold (round 21, guide §2.3/§6 — write the DELTA,
      // not the snapshot): ownership rows and rewrite rows are append-
      // only, so each fold commits only its batch's new rows and the
      // standing state is the union of retained segments
      // (Versioned.readAll). Identical rows to the full-rewrite fold —
      // union of deltas == last rewritten snapshot — but each batch
      // writes O(|delta|) instead of re-writing the corpus-sized
      // ownership table (at 100 TB, the difference between a micro-batch
      // and a corpus rewrite per trigger). exactSubstrBatch materializes
      // its kernels eagerly (caches + localCheckpoints), so foldOnce's
      // replay guard is what spares the final-batch replay that work.
      Streams.foldOnce(root, Seq(docs.filter(col("doc_id") <= cutoff),
          docs.filter(col("doc_id") > cutoff)), Seq(ownPath, resPath)) {
        (batch, _) =>
        val (rewritten, newOwners) = Dedup.exactSubstrBatch(
          graft.Meta.Versioned.readAll(spark, ownPath),
          batch.toDF("doc_id", "text"), docs, "doc_id", "text", minLen = 20)
        Seq(newOwners, rewritten)
      }
      graft.Meta.Versioned.readAll(spark, resPath)
    },

    // ---- Streaming HEAVY HITTERS (L103): q53 run as continuous ingest.
    // Candidates: per-micro-batch Misra–Gries sketches, unioned — the
    // superset guarantee COMPOSES across batches by pigeonhole (a term
    // with global share > 1/200 must exceed that share in at least one
    // batch, else the sum of its batch counts could not reach N/200),
    // so no heavy hitter can be missed regardless of batching. Counts:
    // per-batch Count–Min sketches folded into a standing sketch —
    // CM merge is elementwise addition, so the streamed sketch is BIT-
    // identical to the one-shot build (streamed_matches_direct pins
    // it). Exact recount over the tiny candidate set verifies, same as
    // the batch query; the oracle is q53's plus the CM bound booleans.
    Q(
      "q121_stream_heavy_hitters",
      s"""WITH toks AS (
         |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
         |  FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks)
         |SELECT term, CAST(count(*) AS BIGINT) AS cnt,
         |  TRUE AS lower_ok, TRUE AS upper_ok, TRUE AS streamed_matches_direct
         |FROM toks, tot
         |GROUP BY term, n_total
         |HAVING count(*) * 200 > n_total""".stripMargin) { (spark, dir) =>
      import graft.streaming.Streams
      val root = graft.Tmp.dir("graft-q121").toString
      val cmPath = s"$root/cm"; val candPath = s"$root/cands"
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
      def toksOf(df: DataFrame) =
        df.select(explode(Text.tokens(col("text"))).as("term"))
      def cmOf(df: DataFrame) =
        toksOf(df).agg(call_function("graft_cm_sketch", col("term")).as("sk"))
      def candsOf(df: DataFrame) =
        toksOf(df)
          .agg(call_function("graft_freq_sketch", col("term"), lit(400)).as("c"))
          .select(explode(col("c")).as("term"))
      graft.Meta.Versioned.write(cmOf(docs.limit(0)), cmPath)
      graft.Meta.Versioned.write(candsOf(docs.limit(0)), candPath)
      // file-backed feed (Streams.FileFeed, round 16): no driver
      // collect(); key-parity batch membership unchanged
      // CM merge is elementwise ADDITION — a replayed batch would
      // double its counts — so both folds commit exactly-once through
      // foldOnce (txn markers, round 8). The two tables are separate
      // commit points: a crash between them replays the batch, the cm
      // commit no-ops on its marker, and only the missing cands commit
      // applies.
      // Segment-append folds (round 21): CM merge is associative
      // elementwise addition and the candidate set is a distinct
      // union — both resolve order-free from per-batch segments, so
      // each batch commits only its OWN sketch / candidate rows
      // and the standing read+rewrite per trigger disappears.
      Streams.foldOnce(root, Seq(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 =!= 0)), Seq(cmPath, candPath)) {
        (batch, _) => Seq(cmOf(batch), candsOf(batch))
      }
      // resolve the segment logs: one CM merge over all per-batch
      // sketches (== the old per-batch fold chain, by associativity),
      // distinct over the candidate segments
      val cands = graft.Meta.Versioned.readAll(spark, candPath).distinct()
      val streamedCm = graft.Meta.Versioned.readAll(spark, cmPath)
        .agg(call_function("graft_cm_merge", col("sk")).as("sk"))
        .select(col("sk").as("sk_s"))
      val directCm = cmOf(docs).select(col("sk").as("sk_d"))
      val est = call_function("graft_cm_estimate", col("sk_s"), col("term"))
      val estD = call_function("graft_cm_estimate", col("sk_d"), col("term"))
      val nTotal = call_function("graft_cm_total", col("sk_s"))
      val bound = ceil(lit(math.E / 2048.0) * nTotal).cast("long")
      // the heavy-hitter gate reads N from the standing sketch: CM total
      // is the EXACT stream length (merge is addition over disjoint
      // batches), so the corpus is tokenized once, for the recount only
      toksOf(docs).join(broadcast(cands), Seq("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(streamedCm))
        .crossJoin(broadcast(directCm))
        .filter(col("cnt") * 200 > nTotal)
        .select(col("term"), col("cnt"),
          (est >= col("cnt")).as("lower_ok"),
          (est <= col("cnt") + bound).as("upper_ok"),
          (est === estD).as("streamed_matches_direct"))
    },

    // ---- STREAMING EXACT-DISTINCT maintenance (L165): q181's paged
    // bitmaps folded per micro-batch into a standing per-type table —
    // the continuous form of the exact distinct-users cube, with q115's
    // ALGEBRAIC replay shield (page-OR is idempotent as well as
    // abelian, so a whole batch redelivered under a new batch id, which
    // no txn marker recognises, is absorbed by the math). Where the KMV twin pins
    // bounds booleans, this pins EQUALITY: the streamed bitmap must
    // match the one-shot corpus bitmap BYTE FOR BYTE (page-sorted
    // serialization), and the count must equal COUNT(DISTINCT) — the
    // exactly-once proof is the integer itself.
    Q(
      "q184_stream_bitmap_distinct",
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  TRUE AS rolled_matches
        |FROM events GROUP BY 1""".stripMargin) { (spark, dir) =>
      import graft.streaming.Streams
      val root = graft.Tmp.dir("graft-q184").toString
      val bmPath = s"$root/bitmaps"
      val ev = Tables.events(spark, dir).select("event_id", "event_type", "user_id")
      def bitmapOf(df: DataFrame) =
        df.groupBy("event_type")
          .agg(call_function("graft_bitmap_sketch", col("user_id")).as("bm"))
      graft.Meta.Versioned.write(bitmapOf(ev.limit(0)), bmPath)
      // file-backed feed (Streams.FileFeed, round 16): no driver
      // collect() of the events slice; key-parity membership unchanged,
      // with the first half staged TWICE — the copy arrives under a new
      // batch id, so no txn marker skips it and OR must absorb it
      val even = ev.filter(col("event_id") % 2 === 0)
      Streams.foldOnce(root, Seq(even, even,
          ev.filter(col("event_id") % 2 =!= 0)), Seq(bmPath)) { (batch, _) =>
        Seq(graft.Meta.Versioned.read(spark, bmPath)
          .unionByName(bitmapOf(batch))
          .groupBy("event_type")
          .agg(call_function("graft_bitmap_merge", col("bm")).as("bm")))
      }
      val streamed = graft.Meta.Versioned.read(spark, bmPath)
        .select(col("event_type"), col("bm").as("bm_stream"))
      val direct = bitmapOf(ev)
        .select(col("event_type"), col("bm").as("bm_direct"))
      streamed.join(direct, "event_type")
        .select(col("event_type"),
          call_function("graft_bitmap_count", col("bm_stream")).as("n_users"),
          (col("bm_stream") === col("bm_direct")).as("rolled_matches"))
    },

    // ---- TRANSFORM-WITH-STATE running profile (L177, Spark 4 state
    // v2): per-user running (event count, latest event time) maintained
    // by a StatefulProcessor ValueState over the RocksDB store — the
    // successor API to mapGroupsWithState (typed state handles, TTL,
    // timers), exercised with the same exactly-once discipline as the
    // v1 folds: per-batch emissions upsert a standing keyed table, and
    // the FINAL per-user rows must equal the batch count/max aggregate
    // (both folds commutative+associative, so the streamed fixpoint is
    // the batch answer).
    Q(
      "q196_transform_with_state",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS last_us
        |FROM events GROUP BY 1""".stripMargin) { (spark, dir) =>
      import graft.streaming.{StateV2, Streams}
      val root = graft.Tmp.dir("graft-q196").toString
      val tblPath = s"$root/profiles"
      val ev = Tables.events(spark, dir).select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("event_us"))
      import spark.implicits._
      graft.Meta.Versioned.write(
        ev.limit(0).select(col("user_id"), lit(0L).as("n_events"),
          col("event_us").as("last_us")), tblPath)
      // file-backed feed (Streams.FileFeed, round 16): no driver
      // collect(). The old split was by collect()-order INDEX mod 3 —
      // replaced by a deterministic row-hash split; the final per-user
      // count/max fixpoint is batch-membership-independent (both folds
      // commutative+associative), which the oracle match pins.
      val feed = new Streams.FileFeed(spark, ev.schema, root)
      val src = feed.stream.as[StateV2.EventIn]
      StateV2.withRocksDbState(spark) {
        graft.Sessions.withShufflePartitions(spark, 4) {
          val q = StateV2.runningUserStats(src)
            .writeStream
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[StateV2.UserRunning],
                  _: Long) =>
                val standing = graft.Meta.Versioned.read(spark, tblPath)
                val merged = standing.unionByName(batch.toDF())
                  .groupBy("user_id")
                  // both columns are monotone per key, so max = latest
                  .agg(max("n_events").as("n_events"),
                    max("last_us").as("last_us"))
                graft.Meta.Versioned.write(merged, tblPath)
                ()
            }
            .outputMode("update")
            .option("checkpointLocation", s"$root/cp")
            .start()
          try {
            (0 until 3).foreach { b =>
              feed.add(ev.filter(
                pmod(xxhash64(col("user_id"), col("event_us")), lit(3)) === b))
              q.processAllAvailable()
            }
          } finally q.stop()
        }
      }
      graft.Meta.Versioned.read(spark, tblPath)
        .filter(col("n_events") > 0)
        .select("user_id", "n_events", "last_us")
    },

    // ---- STREAMING MANIFEST FOLD → COMPACTION PLAN (L199): how a
    // lakehouse manifest actually absorbs a streaming sink — each
    // micro-batch COMMITS its per-(partition, segment) byte partials
    // keyed by batch id (the Delta add-file shape), and the replay
    // shield is commit-overwrite: a redelivered batch REPLACES its own
    // keyed rows, so at-least-once delivery cannot double-count bytes
    // (the additive complement of q184's idempotent-OR shield — sums
    // are not idempotent, commits are). The L192 planner then runs on
    // the folded manifest, and the contract crossing the oracle is
    // fold == one-shot: the plan from streamed commits must EQUAL the
    // plan computed directly over all rows — the in-query inner join
    // on every plan column makes any divergence drop rows and fail the
    // hash. Segments are content-keyed (event_id % 64), so batch
    // boundaries don't leak into the plan.
    Q(
      "q218_stream_compaction_fold",
      """WITH segs AS (
        |  SELECT event_type AS part, event_id % 64 AS seg,
        |    CAST(sum(length(props)) AS BIGINT) AS bytes
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT part, CAST(sum(bytes) AS BIGINT) AS total
        |  FROM segs GROUP BY 1),
        |sized AS (
        |  SELECT s.part, s.seg, s.bytes,
        |    CAST((t.total + 7) // 8 AS BIGINT) AS target
        |  FROM segs s JOIN tot t ON t.part = s.part),
        |cand AS (
        |  SELECT part, seg, bytes, target,
        |    CAST(coalesce(sum(bytes) OVER (PARTITION BY part
        |      ORDER BY bytes, seg
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cb
        |  FROM sized WHERE 2 * bytes < target)
        |SELECT part, CAST(cb // target AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(sum(bytes) AS BIGINT) AS bytes_in,
        |  TRUE AS fold_matches
        |FROM cand GROUP BY part, bin, target""".stripMargin) { (spark, dir) =>
      import graft.streaming.Streams
      val root = graft.Tmp.dir("graft-q218").toString
      val manPath = s"$root/manifest"
      val ev = Tables.events(spark, dir).select(
        col("event_id"), col("event_type"),
        length(col("props")).cast("long").as("nbytes"))
      def partials(df: DataFrame, bid: Long) =
        df.groupBy(col("event_type").as("part"),
            (col("event_id") % 64).as("seg"))
          .agg(sum("nbytes").as("bytes"))
          .withColumn("_bid", lit(bid))
      // the fold every commit runs: replace THIS batch's rows, keep the
      // rest — re-running the same (batch, bid) is a no-op by
      // construction, which IS the at-least-once shield
      def commit(batch: DataFrame, bid: Long): Unit = {
        val standing = graft.Meta.Versioned.read(spark, manPath)
          .filter(col("_bid") =!= bid)
        graft.Meta.Versioned.write(
          standing.unionByName(partials(batch, bid)), manPath)
      }
      graft.Meta.Versioned.write(partials(ev.limit(0), -1L), manPath)
      // file-backed feed (Streams.FileFeed, round 16): no driver
      // collect(); key-parity batch membership unchanged
      val (even, odd) = (ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 =!= 0))
      // crash-replay the LAST commit manually: same batch, same bid —
      // the commit-overwrite shield must absorb it byte for byte
      commit(odd, Streams.fold(root, Seq(even, odd))(commit))
      val folded = graft.Meta.Versioned.read(spark, manPath)
        .groupBy("part", "seg").agg(sum("bytes").as("bytes"))
      val direct = ev.groupBy(col("event_type").as("part"),
          (col("event_id") % 64).as("seg"))
        .agg(sum("nbytes").as("bytes"))
      def plan(segs: DataFrame) =
        graft.ops.Scale.compactionPlan(segs, "part", "seg", "bytes",
          filesPerPartition = 8).drop("fill_pct")
      plan(folded)
        .join(plan(direct), Seq("part", "bin", "n_segments", "bytes_in"))
        .withColumn("fold_matches", lit(true))
    },

    // ---- L248 streaming priority-sample maintenance: a standing
    // 64-row Duffield–Lund–Thorup subset-sum sketch of an UNBOUNDED
    // document stream. The q112 sample is one-shot; a live corpus needs
    // the sample maintained as batches arrive, and the DLT state is a
    // semilattice — priorities are a pure per-row function of the key,
    // so top-(n+1) of (state ∪ batch-top-(n+1)) == top-(n+1) of
    // everything seen. Each micro-batch pays a bounded-heap TakeOrdered
    // over ITS rows plus a 2(n+1)-row merge, folded exactly-once via
    // Streams.foldOnce; the oracle is the ONE-SHOT q112 draw over the full
    // corpus — fold == one-shot pinned row-for-row, τ and estimator
    // weights included.
    Q(
      "q267_stream_priority_sample",
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
         |  SELECT coalesce((SELECT pr FROM ranked WHERE rn = 65), 0.0) AS t)
         |SELECT doc_id, n_chars,
         |  round(pr, 6) AS priority,
         |  round(greatest(CAST(n_chars AS DOUBLE), t), 6) AS est_weight
         |FROM ranked, tau WHERE rn <= 64""".stripMargin) { (spark, dir) =>
      import graft.ops.Sample
      val n = 64
      val docs = Tables.documents(spark, dir).select("doc_id", "n_chars")
      val root = graft.Tmp.dir("graft-q267").toString
      val path = s"$root/sample"
      graft.Meta.Versioned.write(
        Sample.priorityTopK(docs.filter(col("doc_id") % 3 =!= 0),
          "doc_id", "n_chars", n), path)
      // file-backed feed (Streams.FileFeed, round 16): no driver
      // collect(). The top-(n+1) priority fold is an associative
      // merge (top-of-tops == top-of-all), so batch MEMBERSHIP is
      // irrelevant to the final sample — the old sorted-half split
      // becomes the residue split doc_id ≡ 0 ∕ ≡ 3 (mod 6).
      val feedDf = docs.filter(col("doc_id") % 3 === 0)
      graft.streaming.Streams.foldOnce(root, Seq(
          feedDf.filter(col("doc_id") % 6 === 0),
          feedDf.filter(col("doc_id") % 6 === 3)), Seq(path)) { (batch, _) =>
        val bt = Sample.priorityTopK(batch.toDF("doc_id", "n_chars"),
          "doc_id", "n_chars", n)
        Seq(graft.Meta.Versioned.read(spark, path)
          .unionByName(bt)
          .orderBy(col("priority").desc, col("doc_id")).limit(n + 1))
      }
      Sample.priorityFinish(graft.Meta.Versioned.read(spark, path),
          "doc_id", "n_chars", n)
        .select(col("doc_id"), col("n_chars"),
          round(col("priority"), 6).as("priority"),
          round(col("est_weight"), 6).as("est_weight"))
    },

    // ---- L251 SPRT sequential gate-health monitor: Wald's sequential
    // probability ratio test over a documents stream — is the Gopher
    // keep rate still p₀ = 0.75 (H0) or has it degraded to p₁ = 0.65
    // (H1)? Fixed-n tests (q221/q258) need the whole sample; the SPRT
    // decides at the FIRST batch the evidence crosses a boundary —
    // the early-stopping monitor a continuous-ingest pipeline runs on
    // every micro-batch. The per-doc log-likelihood ratio takes only
    // two values, so LLR·10⁹ = k·C₁ + (n−k)·C₂ with C₁ =
    // round(ln(p₁∕p₀)·10⁹) = −143100844, C₂ = round(ln((1−p₁)∕(1−p₀))
    // ·10⁹) = 336472237, boundaries ±A₉ = round(ln((1−β)∕α)·10⁹) =
    // 2944438979 at α = β = 5% — minted once, shared verbatim, the
    // whole monitor pure integer arithmetic on fold-able (n, k)
    // counts. Stream side folds per-batch counts exactly-once via
    // Streams.foldOnce; the oracle replays the 4 deterministic doc_id % 4
    // batches and must reproduce every per-batch verdict and the
    // stopping flag.
    Q(
      "q270_sprt_monitor",
      s"""WITH sbase AS (
         |  SELECT doc_id, text, ${LlmQueries.toksSql} AS t FROM documents),
         |ssig AS (
         |  SELECT doc_id,
         |    CAST(len(t) AS BIGINT) AS n,
         |    ${LlmQueries.foldSumSql(
              "list_transform(t, w -> CAST(length(w) AS BIGINT))",
              "CAST(0 AS BIGINT)")} AS sum_len,
         |    CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
         |      AS BIGINT) AS alpha,
         |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT)
         |      AS symbols,
         |    CAST(len(list_filter(t, w -> w IN (${StatefulQueries.stopListSql})))
         |      AS BIGINT) AS stop_hits
         |  FROM sbase),
         |slab AS (
         |  SELECT doc_id % 4 AS bid,
         |    CASE WHEN n >= 20 AND n <= 100000 AND n > 0
         |      AND sum_len >= n * 3 AND sum_len <= n * 10
         |      AND symbols * 10 <= n AND alpha * 10 >= n * 8
         |      AND stop_hits >= 2 THEN 1 ELSE 0 END AS keep
         |  FROM ssig),
         |blog AS (
         |  SELECT bid, CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(keep) AS HUGEINT) AS k
         |  FROM slab GROUP BY 1),
         |cum AS (
         |  SELECT bid,
         |    CAST(sum(n) OVER (ORDER BY bid ROWS UNBOUNDED PRECEDING)
         |      AS HUGEINT) AS n_cum,
         |    CAST(sum(k) OVER (ORDER BY bid ROWS UNBOUNDED PRECEDING)
         |      AS HUGEINT) AS k_cum
         |  FROM blog),
         |v AS (
         |  SELECT bid, n_cum, k_cum,
         |    k_cum * (-143100844) + (n_cum - k_cum) * 336472237 AS llr9
         |  FROM cum)
         |SELECT CAST(bid AS BIGINT) AS batch_id,
         |  CAST(n_cum AS BIGINT) AS n_cum, CAST(k_cum AS BIGINT) AS k_cum,
         |  CAST(llr9 AS DOUBLE) / 1000000000 AS llr,
         |  CASE WHEN llr9 >= 2944438979 THEN 'reject_h0'
         |       WHEN llr9 <= -2944438979 THEN 'accept_h0'
         |       ELSE 'continue' END AS verdict,
         |  max(CASE WHEN llr9 >= 2944438979 OR llr9 <= -2944438979
         |    THEN 1 ELSE 0 END) OVER (ORDER BY bid ROWS UNBOUNDED PRECEDING)
         |    = 1 AS stopped
         |FROM v""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val C1 = -143100844L; val C2 = 336472237L; val A9 = 2944438979L
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
      val root = graft.Tmp.dir("graft-q270").toString
      val path = s"$root/sprt"
      import spark.implicits._
      graft.Meta.Versioned.write(
        Seq.empty[(Long, Long, Long)].toDF("bid", "n", "k"), path)
      // file-backed feed (Streams.FileFeed, round 16): no driver
      // collect() of the corpus text. Batch membership unchanged:
      // batch b = doc_id ≡ b (mod 4), exactly the oracle's blog CTE.
      val batches = (0L until 4L).map(b => docs.filter(col("doc_id") % 4 === b))
      // segment-append fold (round 21): one (bid, n, k) row per batch
      // is append-only — commit the delta, resolve with readAll
      graft.streaming.Streams.foldOnce(root, batches, Seq(path)) { (batch, bid) =>
        Seq(batch.toDF("doc_id", "text")
          .select(col("doc_id"),
            Text.gopherSignals(col("text")).last.cast("int").cast("long")
              .as("keep"))
          .agg(count(lit(1)).as("n"), coalesce(sum("keep"), lit(0L)).as("k"))
          .select(lit(bid).as("bid"), col("n"), col("k")))
      }
      // unpartitioned window over the |batches|-row version manifest only
      val w = Window.orderBy("bid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      graft.Meta.Versioned.readAll(spark, path)
        .withColumn("n_cum", sum("n").over(w))
        .withColumn("k_cum", sum("k").over(w))
        .withColumn("llr9", col("k_cum") * C1 + (col("n_cum") - col("k_cum")) * C2)
        .withColumn("verdict",
          when(col("llr9") >= A9, "reject_h0")
            .when(col("llr9") <= -A9, "accept_h0")
            .otherwise("continue"))
        .withColumn("stopped",
          max(when(col("llr9") >= A9 || col("llr9") <= -A9, 1).otherwise(0))
            .over(w) === 1)
        .select(col("bid").cast("long").as("batch_id"),
          col("n_cum").cast("long").as("n_cum"),
          col("k_cum").cast("long").as("k_cum"),
          (col("llr9").cast("double") / lit(1000000000.0)).as("llr"),
          col("verdict"), col("stopped"))
    },

    // ---- STREAMING SEQUENCE PACKING (L288): q299's loader fold as
    // continuous ingest — documents arrive in ascending-id micro-
    // batches and each batch folds into the standing per-shard packing
    // state (n_docs, n_tokens, bins, REMAINDER, packed, truncated,
    // max_id — O(1) per shard; the remainder is what makes the stream
    // a pure CONTINUATION of the batch fold: the next batch's first
    // doc lands in the current open window if it fits). Exactly-once
    // is doubly shielded: rows at or below the shard's standing max_id
    // drop up front (a redelivery that reached the fold would be an
    // algebraic no-op) AND the txn markers of Streams.foldOnce skip
    // it. foldOnce replays the final batch, and its guard skips the
    // step on the markers before the fold runs, so what the oracle
    // pins is the marker skip. Ascending arrival makes the streamed state
    // BIT-identical to the one-shot q299 fold, so the oracle IS q299's
    // SQL — the row-for-row hash match is the fold == rebuild proof.
    Q(
      "q307_stream_packing",
      SelectionQueries.packingOracleSql) { (spark, dir) =>
      import graft.streaming.Streams
      import graft.ops.Packing
      val root = graft.Tmp.dir("graft-q307").toString
      val stPath = s"$root/state"
      val t = Tables.documents(spark, dir)
        .select(col("source"), col("doc_id"),
          size(graft.ops.Text.tokens(col("text"))).cast("long").as("ntok"))
      graft.Meta.Versioned.write(Packing.emptyState(spark), stPath)
      val cutoff = Streams.halfCutoffByKey(t, "doc_id")
      Streams.foldOnce(root, Seq(t.filter(col("doc_id") <= cutoff),
          t.filter(col("doc_id") > cutoff)), Seq(stPath)) { (batch, _) =>
        Seq(Packing.packFold(graft.Meta.Versioned.read(spark, stPath),
          batch.toDF("source", "doc_id", "ntok"), 512L))
      }
      Packing.economics(graft.Meta.Versioned.read(spark, stPath), 512L)
    })

  /** The Gopher stop-word list as a SQL IN-list fragment (shared by the
    * q270 oracle; same list `Text.gopherSignals` gates on). */
  private[queries] def stopListSql: String =
    Text.StopWords.head._2.map(w => s"'$w'").mkString(",")
}

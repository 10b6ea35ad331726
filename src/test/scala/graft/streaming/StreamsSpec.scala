package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

/** Streaming semantics: DLQ fork (T5), exactly-once checkpoint replay
  * (T2/T3), foreachBatch SCD2 (K6), console tee (K5) and multi-query
  * monitoring (T6) — reference: kafka/consumer/kafka_DLQ.py:38-93,
  * util/verify_spark.py:108-114. */
class StreamsSpec extends SparkSuite {
  import spark.implicits._

  private val eventSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("payload", StringType),
    StructField("kafka_ts", StringType)))

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  private def writeInput(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), String.join("\n", lines: _*).getBytes)

  private def line(id: Long, inner: String): String =
    s"""{"id": $id, "payload": "${inner.replace("\"", "\\\"")}", "kafka_ts": "2024-01-01T00:00:0$id"}"""

  private val innerSchema = StructType(Seq(StructField("k", LongType)))

  test("dlqPipeline: valid rows land in parquet, malformed rows in the JSON DLQ") {
    val in = tmp("stream-in"); val valid = tmp("valid"); val dlq = tmp("dlq"); val cp = tmp("cp")
    writeInput(in, "batch0.json", Seq(
      line(1, """{"k": 10}"""), line(2, """not json"""), line(3, """{"k": 30}""")))
    val raw = Streams.jsonFileSource(spark, in.toString, eventSchema)
    val p = Streams.dlqPipeline(raw, "payload", "kafka_ts", innerSchema,
      valid.toString, dlq.toString, cp.toString)
    p.awaitAll()
    val validDf = spark.read.parquet(valid.toString)
    assert(validDf.select("k").as[Long].collect().sorted.toSeq == Seq(10L, 30L))
    val dlqDf = spark.read.json(dlq.toString)
    assert(dlqDf.count() == 1)
    assert(dlqDf.select("reason").as[String].head() == "schema_parse_failed")
    assert(dlqDf.select("value").as[String].head() == "not json")
  }

  test("checkpoint restart: new input only — each record exactly once (T2/T3)") {
    val in = tmp("stream-in"); val valid = tmp("valid"); val dlq = tmp("dlq"); val cp = tmp("cp")
    writeInput(in, "batch0.json", Seq(line(1, """{"k": 1}"""), line(2, """{"k": 2}""")))
    def run(): Unit = {
      val raw = Streams.jsonFileSource(spark, in.toString, eventSchema)
      Streams.dlqPipeline(raw, "payload", "kafka_ts", innerSchema,
        valid.toString, dlq.toString, cp.toString).awaitAll()
    }
    run()
    // "kill" = AvailableNow termination; restart over the same checkpoint
    // with one more input file: only the delta may be appended.
    writeInput(in, "batch1.json", Seq(line(3, """{"k": 3}""")))
    run()
    run() // third run with nothing new must append nothing
    val got = spark.read.parquet(valid.toString).select("k").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L), s"duplicate or lost rows: ${got.toSeq}")
  }

  test("scd2Sink: streaming foreachBatch upsert keeps the two-phase quirk (K6)") {
    val target = tmp("scd2-target"); val cp = tmp("scd2-cp")
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String, String)]
    val source = ms.toDF().toDF("id", "name", "upd")
      .withColumn("updated_at", col("upd").cast("timestamp_ntz")).drop("upd")

    val q = source.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Streams.scd2Upsert(batch, target.toString, "id", Seq("name"))
      }
      .outputMode("update")
      .option("checkpointLocation", cp.toString)
      .start()
    try {
      ms.addData((1L, "a", "2024-01-01 00:00:00"), (2L, "b", "2024-01-01 00:00:00"))
      q.processAllAvailable()
      val after1 = spark.read.parquet(target.toString)
      assert(after1.filter(col("is_current")).count() == 2)

      ms.addData((1L, "A", "2024-06-01 00:00:00"))
      q.processAllAvailable()
      val after2 = spark.read.parquet(target.toString)
      // two-phase quirk: key 1's old version is closed out, new version
      // not yet inserted (reference MERGE semantics, Merge.scala)
      assert(after2.filter(col("id") === 1 && col("is_current")).count() == 0)
      assert(after2.filter(col("id") === 1 && !col("is_current")).count() == 1)

      ms.addData((1L, "A", "2024-07-01 00:00:00"))
      q.processAllAvailable()
      val after3 = spark.read.parquet(target.toString)
      assert(after3.filter(col("id") === 1 && col("is_current")).count() == 1)
    } finally q.stop()
  }

  test("kafkaShapedSource: exact Kafka-source column contract (S4)") {
    val in = tmp("stream-in"); val cp = tmp("cp")
    writeInput(in, "b.json", Seq(line(1, """{"k": 1}""")))
    val src = Streams.kafkaShapedSource(spark, in.toString, eventSchema,
      keyCol = "id", valueCol = "payload", tsCol = "kafka_ts", topic = "hr.events")
    assert(src.schema.map(f => (f.name, f.dataType.simpleString)) == Seq(
      "key" -> "binary", "value" -> "binary", "topic" -> "string",
      "partition" -> "int", "offset" -> "bigint",
      "timestamp" -> "timestamp", "timestampType" -> "int"))
    // the canonical consumer's first step runs unchanged on this shape
    // (kafka_DLQ.py:46 selectExpr CAST value AS STRING)
    val q = src.selectExpr("CAST(value AS STRING) AS json_str", "topic")
      .writeStream.format("memory").queryName("graft_kafka_shape")
      .outputMode("append")
      .option("checkpointLocation", cp.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("graft_kafka_shape").collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0).contains(""""k": 1"""))
    assert(rows.head.getString(1) == "hr.events")
  }

  test("K3 round-trip: dlqPayload published to a kafka-shaped topic reads back intact") {
    // the Kafka SINK direction, closed testably without the connector jar:
    // PRODUCE the DLQ message exactly as it would go to Kafka — value =
    // Cdc.dlqPayload serialized body, key = event id (kafka_DLQ.py:66-79) —
    // into a file-backed topic, then CONSUME it back through
    // kafkaShapedSource's exact connector column contract and recover the
    // {value, kafka_ts, reason} body.
    val in = tmp("stream-in"); val topic = tmp("topic")
    val cp = tmp("cp"); val cp2 = tmp("cp2")
    writeInput(in, "b.json", Seq(line(1, """{"k": 1}"""), line(2, "not json")))
    val raw = Streams.jsonFileSource(spark, in.toString, eventSchema)
    val invalid = graft.ops.Cdc.split(raw, "payload", innerSchema).invalid
    val produce = invalid.select(
        col("id").cast("string").as("msg_key"),
        graft.ops.Cdc.dlqPayload(col("payload"), col("kafka_ts"),
          "schema_parse_failed").as("msg_value"),
        col("kafka_ts").as("msg_ts"))
      .writeStream.format("json")
      .option("path", topic.toString)
      .option("checkpointLocation", cp.toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    produce.awaitTermination()
    val topicSchema = StructType(Seq(
      StructField("msg_key", StringType),
      StructField("msg_value", StringType),
      StructField("msg_ts", StringType)))
    val src = Streams.kafkaShapedSource(spark, topic.toString, topicSchema,
      keyCol = "msg_key", valueCol = "msg_value", tsCol = "msg_ts", topic = "hr.dlq")
    val body = StructType(Seq(
      StructField("value", StringType),
      StructField("kafka_ts", StringType),
      StructField("reason", StringType)))
    val consume = src
      .select(from_json(col("value").cast("string"), body).as("b")).select("b.*")
      .writeStream.format("memory").queryName("graft_dlq_roundtrip")
      .option("checkpointLocation", cp2.toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    consume.awaitTermination()
    val rows = spark.table("graft_dlq_roundtrip").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("value") == "not json")
    assert(rows.head.getAs[String]("reason") == "schema_parse_failed")
    assert(rows.head.getAs[String]("kafka_ts") == "2024-01-01T00:00:02")
  }

  test("maxFilesPerTrigger: input drains over multiple micro-batches (T1/T2)") {
    val in = tmp("stream-in"); val out = tmp("out"); val cp = tmp("cp")
    (0 until 3).foreach(i =>
      writeInput(in, s"b$i.json", Seq(line(i + 1, s"""{"k": ${i + 1}}"""))))
    val raw = spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1").json(in.toString)
    val q = graft.ops.Cdc.split(raw, "payload", innerSchema).valid
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", cp.toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // AvailableNow + maxFilesPerTrigger=1 → one micro-batch per file
    assert(q.recentProgress.count(_.numInputRows > 0) == 3,
      s"expected 3 draining micro-batches, got ${q.recentProgress.map(_.numInputRows).toSeq}")
    assert(spark.read.parquet(out.toString).count() == 3)
  }

  test("streaming sketch cube: per-batch KLL sketches merged incrementally match global") {
    // continuous cube maintenance — the production shape for the
    // re-aggregatable sketch family: each micro-batch is sketched once,
    // merged with the standing materialized sketch, and overwritten;
    // the raw stream is never rescanned. The final rolled-up quantile
    // must sit inside the sketch's rank-error bound of the whole-stream
    // exact quantiles.
    val target = tmp("sketch-cube"); val cp = tmp("cp")
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Double]
    val q = ms.toDF().toDF("v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val bsk = batch.agg(call_function("graft_kll_sketch", col("v")).as("sk"))
        val merged =
          if (graft.Meta.tableExists(spark, target.toString))
            spark.read.parquet(target.toString).unionByName(bsk)
              .agg(call_function("graft_kll_merge", col("sk")).as("sk"))
          else bsk
        merged.localCheckpoint(true).write.mode("overwrite").parquet(target.toString)
      }
      .option("checkpointLocation", cp.toString)
      .start()
    try {
      Seq(1 to 1000, 1001 to 2000, 2001 to 3000).foreach { r =>
        ms.addData(r.map(_.toDouble))
        q.processAllAvailable()
      }
    } finally q.stop()
    val row = spark.read.parquet(target.toString)
      .select(
        call_function("graft_kll_quantile", col("sk"), lit(0.5d)).as("p50"),
        call_function("graft_kll_quantile", col("sk"), lit(0.99d)).as("p99"))
      .head()
    assert(math.abs(row.getDouble(0) - 1500.0) <= 60.0, s"p50=${row.getDouble(0)}")
    assert(math.abs(row.getDouble(1) - 2970.0) <= 60.0, s"p99=${row.getDouble(1)}")
  }

  test("q45/q37 fixed lifecycle cost: micro-batch COUNTS are the bounded " +
      "constant, independent of data volume (the ~1-2 s each costs is " +
      "trigger/checkpoint machinery, not per-row work)") {
    // pin the REAL registry queries via a listener — wall-clock cannot
    // distinguish fixed lifecycle cost from per-row regressions, batch
    // counts can: q45 must drain its whole input in ONE AvailableNow
    // batch, q37 in exactly its two addData batches
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import scala.collection.mutable.ArrayBuffer
    val batches = ArrayBuffer[(String, Long)]() // (query name or "", input rows)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.synchronized {
          batches += ((Option(e.progress.name).getOrElse(""), e.progress.numInputRows))
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      graft.SparkEntry.queries("q45_stream_stream_join")(spark, sfDir()).count()
      graft.SparkEntry.queries("q37_stream_scd2_upsert")(spark, sfDir()).count()
      // listener delivery is async — drain before asserting
      var waited = 0
      while (waited < 10000 &&
          batches.synchronized(batches.count(_._2 > 0)) < 3) {
        Thread.sleep(100); waited += 100
      }
    } finally spark.streams.removeListener(listener)
    val snap = batches.synchronized(batches.toSeq)
    val q45 = snap.filter(_._1.startsWith("graft_q45_"))
    assert(q45.count(_._2 > 0) == 1,
      s"q45 must drain in one AvailableNow micro-batch, saw: $q45")
    // q37's foreachBatch query is unnamed; its batches are the remainder
    val q37 = snap.filterNot(_._1.startsWith("graft_q45_"))
    assert(q37.count(_._2 > 0) == 2,
      s"q37 must run exactly its two addData micro-batches, saw: $q37")
  }

  test("streaming CDF mirror: change-feed batches applied via foreachBatch " +
      "converge the replica to the source, including deletes") {
    // the streaming consumer side of Versioned.changes/applyChanges: each
    // micro-batch of change rows is applied to the standing parquet
    // mirror; after the stream drains, the mirror equals the final
    // source state — replica maintenance pays per-batch deltas only
    val target = tmp("cdf-mirror")
    val cp = tmp("cdf-cp")
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[(Long, String, String)] // id, v, change_type
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(target.toString)
    val q = ms.toDF().toDF("id", "v", "change_type").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val cur = spark.read.parquet(target.toString)
        graft.Meta.Versioned.applyChanges(cur, batch, Seq("id"))
          .localCheckpoint(true) // materialize before overwriting the source
          .write.mode("overwrite").parquet(target.toString)
      }
      .outputMode("update")
      .option("checkpointLocation", cp.toString)
      .start()
    try {
      ms.addData((2L, "B", "update"), (4L, "d", "insert"))
      q.processAllAvailable()
      ms.addData((1L, "a", "delete"), (4L, "D", "update"))
      q.processAllAvailable()
    } finally q.stop()
    val fin = spark.read.parquet(target.toString).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fin == Map(2L -> "B", 3L -> "c", 4L -> "D"), s"got $fin")
  }

  test("console tee + multi-query monitoring (K5/T6)") {
    val in = tmp("stream-in"); val valid = tmp("valid"); val dlq = tmp("dlq"); val cp = tmp("cp")
    writeInput(in, "b.json", Seq(line(1, """{"k": 1}""")))
    val raw = Streams.jsonFileSource(spark, in.toString, eventSchema)
    val p = Streams.dlqPipeline(raw, "payload", "kafka_ts", innerSchema,
      valid.toString, dlq.toString, cp.toString)
    val tee = Streams.consoleTee(
      Streams.jsonFileSource(spark, in.toString, eventSchema))
    try {
      val summaries = Streams.activeSummaries(spark)
      assert(summaries.nonEmpty)
      assert(summaries.exists(_.contains("dlq_pipeline_valid")))
      // awaitAnyTermination returns once the fastest AvailableNow query ends
      assert(Streams.awaitAnyTermination(spark, 60000))
    } finally { p.stopAll(); tee.stop() }
    spark.streams.resetTerminated()
  }

  test("FileFeed: executor-side staging reproduces MemoryStream batch boundaries") {
    val root = tmp("filefeed")
    val src = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
    val feed = new Streams.FileFeed(spark, src.schema, root.toString)
    val seen = scala.collection.mutable.Map[Long, Set[Long]]()
    feed.add(src.filter(col("id") % 2 === 0))
    val q = feed.stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        seen(bid) = batch.select("id").as[Long].collect().toSet; ()
      }
      .option("checkpointLocation", root.resolve("cp").toString)
      .start()
    try {
      q.processAllAvailable()
      feed.add(src.filter(col("id") % 2 === 1))
      q.processAllAvailable()
    } finally q.stop()
    // one add + one drain = one batch, exact membership, nothing dropped
    assert(seen(0L) == Set(2L, 4L))
    assert(seen(1L) == Set(1L, 3L))
    assert(seen.keySet == Set(0L, 1L))
  }

  test("FileFeed: restart from checkpoint resumes without replaying committed batches") {
    val root = tmp("filefeed-restart")
    val src = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
    val feed = new Streams.FileFeed(spark, src.schema, root.toString)
    val cp = root.resolve("cp").toString
    val seen = scala.collection.mutable.Buffer[(Long, Set[Long])]()
    def start() = feed.stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        seen += bid -> batch.select("id").as[Long].collect().toSet; ()
      }
      .option("checkpointLocation", cp)
      .start()
    feed.add(src.filter(col("id") <= 2))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(seen.toList == List(0L -> Set(1L, 2L)))
    // files staged while NO query is running are picked up on restart;
    // the committed batch 0 must NOT replay (the file source's own
    // listing offsets in the checkpoint are the T2/T3 contract the
    // FileFeed path inherits)
    feed.add(src.filter(col("id") > 2))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(seen.toList == List(0L -> Set(1L, 2L), 1L -> Set(3L, 4L)),
      s"restart must resume at batch 1 with only the new files: $seen")
  }

  test("FileFeed: a multi-file add lands as ONE batch while the query is " +
      "live, and the staging area is invisible to the stream") {
    val root = tmp("filefeed-atomic")
    val src = spark.range(0, 64).select(col("id"), (col("id") % 7).as("v"))
    val feed = new Streams.FileFeed(spark, src.schema, root.toString)
    val seen = scala.collection.mutable.Map[Long, Long]()
    val q = feed.stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        seen(bid) = batch.count(); ()
      }
      .option("checkpointLocation", root.resolve("cp").toString)
      .start()
    try {
      // many part-files per add (the multi-file-commit shape the atomic
      // directory rename exists for) against a RUNNING polling query
      feed.add(src.filter(col("id") < 40).repartition(8))
      q.processAllAvailable()
      feed.add(src.filter(col("id") >= 40).repartition(8))
      q.processAllAvailable()
    } finally q.stop()
    // every add is whole-or-nothing: exact per-batch counts, no split
    assert(seen.filter(_._2 > 0) == Map(0L -> 40L, 1L -> 24L),
      s"adds must map 1:1 to non-empty batches: $seen")
    // nothing under the staging sibling leaks into the watched glob
    val staged = root.resolve("feed-stage").toFile.listFiles()
    assert(staged != null && staged.isEmpty,
      "staging directory must be drained after publish")
  }

  test("FileFeed: a NEW instance on an existing root resumes the batch-id " +
      "sequence instead of colliding with a published batch") {
    val root = tmp("filefeed-reinstance")
    val src = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    new Streams.FileFeed(spark, src.schema, root.toString)
      .add(src.filter(col("id") === 1))
    // the restart path: a fresh FileFeed over the same root (e.g. after
    // a driver restart) — its first add must mint a NEW batch dir
    val feed2 = new Streams.FileFeed(spark, src.schema, root.toString)
    feed2.add(src.filter(col("id") === 2))
    val seen = scala.collection.mutable.Map[Long, Set[Long]]()
    val q = feed2.stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        seen(bid) = batch.select("id").as[Long].collect().toSet; ()
      }
      .option("checkpointLocation", root.resolve("cp").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    // both adds visible, nothing overwritten
    assert(seen.values.flatten.toSet == Set(1L, 2L), s"lost an add: $seen")
  }

  // Three residue batches of 0..29 for the fold harness specs.
  private def foldBatches = {
    val src = spark.range(0, 30).toDF("id")
    (0L until 3L).map(b => src.filter(col("id") % 3 === b))
  }
  private val widthKey = "spark.sql.shuffle.partitions"
  // Runs `body` with the session width at 7, so the fold's 4-wide scope
  // and its restore are both observable, then puts the old width back.
  private def atWidth7(body: => Unit): Unit = {
    val prev = spark.conf.get(widthKey)
    spark.conf.set(widthKey, "7")
    try body finally spark.conf.set(widthKey, prev)
  }

  test("fold: one step per batch in order, ids from 0, returns the last id, " +
      "restores the shuffle width") {
    val batches = foldBatches
    val seen = scala.collection.mutable.Buffer[(Long, Set[Long], String)]()
    atWidth7 {
      val last = Streams.fold(tmp("fold").toString, batches) { (batch, bid) =>
        seen += ((bid, batch.select("id").as[Long].collect().toSet,
          batch.sparkSession.conf.get(widthKey)))
        ()
      }
      assert(last == 2L)
      assert(spark.conf.get(widthKey) == "7", "fold must restore the width")
    }
    assert(seen.map(_._1) == Seq(0L, 1L, 2L), s"batch ids: $seen")
    assert(seen.map(_._2) ==
      batches.map(_.select("id").as[Long].collect().toSet))
    assert(seen.forall(_._3 == "4"), s"steps must run 4 wide: $seen")
  }

  test("fold: a throwing step reaches the caller, leaves no query running " +
      "and restores the shuffle width") {
    try atWidth7 {
      val e = intercept[Exception] {
        Streams.fold(tmp("fold-throw").toString, foldBatches) { (_, bid) =>
          if (bid == 1L) throw new IllegalStateException("step failed at 1")
        }
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("step failed at 1")),
        s"the step's failure must reach the caller: $e")
      assert(spark.streams.active.isEmpty)
      assert(spark.conf.get(widthKey) == "7", "fold must restore the width")
    } finally spark.streams.resetTerminated()
  }

  test("fold: an empty batch list fails with IllegalArgumentException") {
    intercept[IllegalArgumentException] {
      Streams.fold(tmp("fold-empty").toString, Seq.empty)((_, _) => ())
    }
  }

  test("foldOnce: a non-idempotent sum equals the one-shot sum and the " +
      "guarded final-batch replay never reaches the step") {
    val root = tmp("fold-once").toString
    val path = s"$root/sum"
    graft.Meta.Versioned.write(Seq(0L).toDF("total"), path)
    val calls = new AtomicInteger()
    // a NON-idempotent step: any batch applied twice shows in the total
    Streams.foldOnce(root, foldBatches, Seq(path)) { (batch, _) =>
      calls.incrementAndGet()
      Seq(graft.Meta.Versioned.read(spark, path)
        .unionByName(batch.agg(sum("id").as("total")))
        .agg(sum("total").as("total")))
    }
    assert(graft.Meta.Versioned.read(spark, path).as[Long].collect().toSeq ==
      Seq((0L until 30L).sum))
    assert(calls.get == 3, s"step runs once per batch, ran ${calls.get}")
  }

  test("foldOnce: a split marker state recomputes, and each table " +
      "skips or applies on its own marker") {
    // the crash window between two table commits: A already records
    // bid 0, B does not
    val root = tmp("fold-split").toString
    val (a, b) = (s"$root/a", s"$root/b")
    graft.Meta.Versioned.writeOnce(Seq(-1L).toDF("total"), a,
      Streams.FoldAppId, 0L)
    val calls = new AtomicInteger()
    Streams.foldOnce(root, foldBatches.take(1), Seq(a, b)) { (batch, _) =>
      calls.incrementAndGet()
      Seq.fill(2)(batch.agg(sum("id").as("total")))
    }
    assert(calls.get == 1, s"step must run once, ran ${calls.get}")
    assert(graft.Meta.Versioned.latestVersion(spark, a).contains(1L),
      "A already recorded bid 0 and must gain no version")
    assert(graft.Meta.Versioned.read(spark, a).as[Long].collect().toSeq == Seq(-1L))
    assert(graft.Meta.Versioned.latestVersion(spark, b).contains(1L),
      "B must gain exactly one version")
    assert(graft.Meta.Versioned.read(spark, b).as[Long].collect().toSeq ==
      Seq((0L until 30L by 3).sum))
  }

  test("foldOnce: a step returning the wrong number of frames fails with " +
      "IllegalArgumentException and leaves no query running") {
    val root = tmp("fold-count").toString
    try {
      val e = intercept[Exception] {
        Streams.foldOnce(root, foldBatches, Seq(s"$root/a", s"$root/b")) {
          (batch, _) => Seq(batch)
        }
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[IllegalArgumentException]),
        s"the frame-count check must reach the caller: $e")
      assert(spark.streams.active.isEmpty)
    } finally spark.streams.resetTerminated()
  }
}

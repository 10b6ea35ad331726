package graft.streaming

import graft.SparkSuite
import graft.ops.Sessionize
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp
import java.time.LocalDateTime

/** Stateful Structured Streaming: event-time windows with watermark in
  * append mode, and mapGroupsWithState sessionization across batches. */
class StatefulStreamsSpec extends SparkSuite {
  import spark.implicits._

  test("windowed agg + watermark, append mode: closed windows emit, open ones hold") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Double)]
    val agg = ms.toDF().toDF("ts", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("graft_watermark_test")
      .outputMode("append").start()
    try {
      ms.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
        (Timestamp.valueOf("2024-01-01 11:00:00"), 2.0))
      q.processAllAvailable()
      // watermark still inside Jan 1 → nothing final yet
      assert(spark.table("graft_watermark_test").count() == 0)
      // an event far past Jan 1 advances the watermark beyond the window
      ms.addData((Timestamp.valueOf("2024-01-03 12:00:00"), 3.0))
      q.processAllAvailable()
      ms.addData((Timestamp.valueOf("2024-01-05 12:00:00"), 4.0))
      q.processAllAvailable()
      val rows = spark.table("graft_watermark_test")
        .select(col("w.start").cast("string"), col("n")).as[(String, Long)].collect().toMap
      assert(rows("2024-01-01 00:00:00") == 2L)
      assert(!rows.contains("2024-01-05 00:00:00"), "open window must not emit in append mode")
    } finally q.stop()
  }

  test("stateful restart: aggregation state restored from the checkpoint (T3)") {
    // file source + running count. The restarted query must NOT re-read
    // file 1 (offset log) yet still knows its counts — i.e. the state
    // store, not the input, carries them across the restart.
    val root = graft.Tmp.dir("graft-stateful-restart")
    val in = root.resolve("in"); val cp = root.resolve("cp").toString
    java.nio.file.Files.createDirectories(in)
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(in.resolve(name),
        String.join("\n", lines: _*).getBytes)
    def runOnce(sinkName: String) =
      graft.Sessions.withShufflePartitions(spark, 4) {
        val q = spark.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.StringType))))
          .json(in.toString)
          .groupBy("k").count()
          .writeStream.format("memory").queryName(sinkName)
          .outputMode("complete")
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    writeFile("f1.json", Seq("""{"k":"a"}""", """{"k":"a"}""", """{"k":"b"}"""))
    runOnce("graft_sr1")
    val first = spark.table("graft_sr1").as[(String, Long)].collect().toMap
    assert(first == Map("a" -> 2L, "b" -> 1L))
    writeFile("f2.json", Seq("""{"k":"a"}""", """{"k":"c"}"""))
    runOnce("graft_sr2")
    val second = spark.table("graft_sr2").as[(String, Long)].collect().toMap
    // a: 2 restored + 1 new; b: purely restored state (file 1 not re-read)
    assert(second == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
  }

  test("transformWithState (state v2): ValueState accumulates across a " +
      "restart from the RocksDB checkpoint; only touched keys emit") {
    val root = graft.Tmp.dir("graft-twstate")
    val in = root.resolve("in"); val cp = root.resolve("cp").toString
    java.nio.file.Files.createDirectories(in)
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(in.resolve(name),
        String.join("\n", lines: _*).getBytes)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_us",
        org.apache.spark.sql.types.LongType)))
    // the memory sink refuses checkpoint recovery in Update mode, so
    // each run drains its emissions through foreachBatch (which DOES
    // recover) into a run-local buffer
    def runOnce(): Set[(Long, Long, Long)] = {
      val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
      StateV2.withRocksDbState(spark) {
        graft.Sessions.withShufflePartitions(spark, 4) {
          val src = spark.readStream.schema(schema).json(in.toString)
            .as[StateV2.EventIn]
          val q = StateV2.runningUserStats(src)
            .writeStream
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[StateV2.UserRunning],
                  _: Long) =>
                val rows = batch.collect()
                  .map(u => (u.user_id, u.n_events, u.last_us))
                got.synchronized { got ++= rows }
                ()
            }
            .outputMode("update")
            .option("checkpointLocation", cp)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
      }
      got.toSet
    }
    writeFile("f1.json", Seq(
      """{"user_id":1,"event_us":100}""",
      """{"user_id":1,"event_us":200}""",
      """{"user_id":2,"event_us":50}"""))
    val first = runOnce()
    assert(first == Set((1L, 2L, 200L), (2L, 1L, 50L)))
    // restart: u1 gets an OLDER event (count grows, max must NOT move);
    // u3 is new; u2 untouched — Update mode must not re-emit it
    writeFile("f2.json", Seq(
      """{"user_id":1,"event_us":150}""",
      """{"user_id":3,"event_us":999}"""))
    val second = runOnce()
    assert(second == Set((1L, 3L, 200L), (3L, 1L, 999L)),
      s"state must restore across the restart; got $second")
  }

  test("sketch-fold restart: the standing KMV table resumes from the " +
      "checkpoint — streamed across a kill/restart equals one-shot, bit " +
      "for bit (the q115 production resume contract)") {
    val root = graft.Tmp.dir("graft-sketch-restart")
    val in = root.resolve("in"); val cp = root.resolve("cp").toString
    val skPath = root.resolve("sk").toString
    java.nio.file.Files.createDirectories(in)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    def writeFile(name: String, vs: Seq[Long]): Unit =
      java.nio.file.Files.write(in.resolve(name),
        vs.map(v => s"""{"v":$v}""").mkString("\n").getBytes)
    def sketchOf(df: org.apache.spark.sql.DataFrame) =
      df.agg(call_function("graft_kmv_sketch", col("v"), lit(256)).as("sk"))
    graft.Meta.Versioned.write(
      sketchOf(spark.range(0).selectExpr("id AS v").filter(lit(false))), skPath)
    def runOnce(): Unit =
      graft.Sessions.withShufflePartitions(spark, 4) {
        val q = spark.readStream.schema(schema).json(in.toString)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            graft.Meta.Versioned.write(
              graft.Meta.Versioned.read(spark, skPath)
                .unionByName(sketchOf(batch))
                .agg(call_function("graft_kmv_merge", col("sk")).as("sk")),
              skPath)
            ()
          }
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    val half1 = (1L to 500L) ++ (1L to 100L) // dups on purpose
    val half2 = (300L to 800L)
    writeFile("f1.json", half1)
    runOnce() // first incarnation dies here (query stopped)
    writeFile("f2.json", half2)
    runOnce() // restarted from the checkpoint: must NOT re-fold file 1
    val streamed = graft.Meta.Versioned.read(spark, skPath)
      .select(call_function("graft_kmv_estimate", col("sk")))
      .head().getLong(0)
    val direct = sketchOf((half1 ++ half2).toDF("v"))
      .select(call_function("graft_kmv_estimate", col("sk")))
      .head().getLong(0)
    assert(streamed == direct,
      s"streamed-across-restart $streamed != one-shot $direct")
    // the ESTIMATE can't witness a replay (bottom-k is idempotent), but
    // the version chain can: seed + exactly one commit per micro-batch.
    // A restart that re-read file 1 would commit a fourth version.
    assert(graft.Meta.Versioned.latestVersion(spark, skPath).contains(3L),
      s"expected versions seed+2, got ${graft.Meta.Versioned.latestVersion(spark, skPath)}")
  }

  test("writeOnce makes a replayed non-idempotent moments fold exactly-once " +
      "(the q103/q121 at-least-once window): streamed over a RANDOMIZED " +
      "batching, with one batch replayed, equals the direct aggregate") {
    import graft.ops.Incremental
    val root = graft.Tmp.dir("graft-writeonce")
    val aggPath = root.resolve("agg").toString
    val cp = root.resolve("cp").toString
    val o = graft.Tables.orders(spark, sfDir())
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val v1 = o.filter(col("o_orderkey") % 7 =!= 0)
    val v2 = o.filter(col("o_orderkey") % 11 =!= 0)
    graft.Meta.Versioned.write(
      Incremental.aggMoments(v1, Seq("o_custkey"), "o_totalprice"), aggPath)
    val feedRows = graft.Meta.Versioned
      .snapshotDiff(v1, v2, Seq("o_orderkey"), preimages = true)
      .select("o_orderkey", "o_custkey", "o_totalprice", "change_type")
      .as[(Long, Long, Double, String)].collect().toSeq
    // randomized batching: any split must fold to the same table (the
    // abelian contract), and the txn marker must absorb the replays
    val rnd = new scala.util.Random(42)
    val batches = feedRows.groupBy(_ => rnd.nextInt(5)).toSeq
      .sortBy(_._1).map(_._2)
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Double, String)]
    val src = ms.toDF()
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "change_type")
    @volatile var lastBid = -1L
    val fold = (batch: org.apache.spark.sql.DataFrame, bid: Long) => {
      if (bid > lastBid) lastBid = bid
      graft.Meta.Versioned.writeOnce(
        Incremental.maintainMoments(
          graft.Meta.Versioned.read(spark, aggPath), batch,
          Seq("o_custkey"), "o_totalprice"),
        aggPath, "moments", bid)
      ()
    }
    graft.Sessions.withShufflePartitions(spark, 4) {
      val q = src.writeStream
        .foreachBatch(fold)
        .outputMode("update")
        .option("checkpointLocation", cp)
        .start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      } finally q.stop()
    }
    val applied = graft.Meta.Versioned.latestVersion(spark, aggPath).get
    // replay the LAST batch under its own batchId (what a mid-write
    // retry does) and an OLDER one (the >= guard): both must no-op
    fold(batches.last
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "change_type"), lastBid)
    fold(batches.head
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "change_type"), 0L)
    assert(graft.Meta.Versioned.latestVersion(spark, aggPath).contains(applied),
      "replayed batches must not commit new versions")
    val got = graft.Meta.Versioned.read(spark, aggPath)
      .collect().map(_.toString).sorted
    val want = Incremental.aggMoments(v2, Seq("o_custkey"), "o_totalprice")
      .collect().map(_.toString).sorted
    assert(got.sameElements(want),
      s"maintained-under-replay != direct: ${got.take(3).mkString} vs ${want.take(3).mkString}")
    // and the guard actually recorded the stream's last batch
    assert(graft.Meta.Versioned.lastTxn(spark, aggPath, "moments")
      .contains(lastBid))
  }

  test("writeOnce crash window: a staging dir left by a pre-publish failure " +
      "is invisible to readers and does not block the retry") {
    val root = graft.Tmp.dir("graft-writeonce-crash")
    val p = root.resolve("t").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    graft.Meta.Versioned.write(df, p)
    // simulate a writer that died between parquet write and publish:
    // a staged dir with data + marker, never renamed to v=2
    val staged = new java.io.File(s"$p/v=2_staging_deadbeef")
    df.write.parquet(staged.toString)
    java.nio.file.Files.createFile(staged.toPath.resolve("_txn_app_7"))
    assert(graft.Meta.Versioned.latestVersion(spark, p).contains(1L),
      "staged dir must not surface as a version")
    assert(graft.Meta.Versioned.lastTxn(spark, p, "app").isEmpty,
      "a marker in an unpublished staging dir must not count as applied")
    // the retry of batch 7 must still apply
    assert(graft.Meta.Versioned.writeOnce(df, p, "app", 7L).contains(2L))
    assert(graft.Meta.Versioned.lastTxn(spark, p, "app").contains(7L))
    // and a second attempt of the same batch no-ops
    assert(graft.Meta.Versioned.writeOnce(df, p, "app", 7L).isEmpty)
    assert(graft.Meta.Versioned.read(spark, p).count() == 2L)
  }

  test("observe metrics ride along streaming micro-batches (T6 observability)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Long]
    val observed = ms.toDF().toDF("v")
      .observe("m", count(lit(1)).as("n"), sum(col("v")).as("s"))
    val q = observed.writeStream.format("noop").start()
    try {
      ms.addData(1L, 2L, 3L)
      q.processAllAvailable()
      val m = q.lastProgress.observedMetrics.get("m")
      assert(m.getAs[Long]("n") == 3L && m.getAs[Long]("s") == 6L)
      ms.addData(10L)
      q.processAllAvailable()
      val m2 = q.lastProgress.observedMetrics.get("m")
      // per-micro-batch metrics, not cumulative
      assert(m2.getAs[Long]("n") == 1L && m2.getAs[Long]("s") == 10L)
    } finally q.stop()
  }

  test("mapGroupsWithState sessionization: state carries across micro-batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, Long)]
    val events = ms.toDF().toDF("user_id", "ts0", "event_id")
      .withColumn("ts", col("ts0").cast("timestamp_ntz")).drop("ts0")
      .as[Sessionize.Event]
    val q = Sessionize.sessionizeStream(events, gapSeconds = 3600)
      .writeStream.format("memory").queryName("graft_session_test")
      .outputMode(Sessionize.StreamOutputMode.toString.toLowerCase).start()
    try {
      ms.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
        (1L, Timestamp.valueOf("2024-01-01 10:30:00"), 2L))
      q.processAllAvailable()
      val s1 = spark.table("graft_session_test")
        .select("session_id", "n_events").as[(Long, Long)].collect().last
      assert(s1 == ((1L, 2L)), "one open session with 2 events")
      // within the gap → same session grows across the batch boundary
      ms.addData((1L, Timestamp.valueOf("2024-01-01 11:00:00"), 3L))
      q.processAllAvailable()
      // one batch holding BOTH a continuing event and a far event: the
      // closing session's FINAL row must be emitted alongside the new
      // session's snapshot (a session closing mid-batch loses nothing)
      ms.addData((1L, Timestamp.valueOf("2024-01-01 11:30:00"), 4L),
        (1L, Timestamp.valueOf("2024-01-02 10:00:00"), 5L))
      q.processAllAvailable()
      val all = spark.table("graft_session_test")
        .select("session_id", "n_events").as[(Long, Long)].collect().toSeq
      assert(all.contains((1L, 4L)), "closed session 1 emitted its final 4-event row")
      assert(all.last == ((2L, 1L)), "gap exceeded -> new session")
    } finally q.stop()
  }

  test("typed sessionization equals the window-function variant on the fixture") {
    val ev = graft.Tables.events(spark, sfDir("0.001"))
    import spark.implicits._
    val typed = Sessionize
      .sessionizeTyped(ev.select(col("user_id"), col("ts"), col("event_id"))
        .as[Sessionize.Event], 86400)
      .toDF()
      .select("user_id", "session_start", "session_end", "n_events")
    val windowed = Sessionize
      .sessionizeWindows(ev, "ts", "user_id", "event_id", 86400)
      .select("user_id", "session_start", "session_end", "n_events")
    assert(typed.collect().map(_.toString).sorted.toSeq ==
      windowed.collect().map(_.toString).sorted.toSeq)
  }
}

package graft

import org.apache.spark.sql.functions._

/** Fixture-schema contract (round 11, verdict item 5): the driver
  * regenerates the fixture directories between rounds and has already
  * flipped an encoding in place (events.ts, round 10). `Tables.load`
  * infers each fixture file's schema once, asserts it against
  * `Tables.FixtureSchemas` (failing naming the drifted column), and
  * caches it per (path, mtime, size), so later loads read with it and
  * start no Spark job. These cases pin that the contract passes on the
  * current fixtures and catches a deliberate drift with a one-line
  * diagnosis; that a warm load starts no job; and that a fixture
  * regenerated in place is inferred and checked again, both for a
  * drifted schema and for the events ts encoding.
  */
class TablesSpec extends SparkSuite {

  /** Replace `dir/<name>.parquet` in place with `df` as one plain parquet
    * file, the fixture layout. */
  private def writeFixture(df: org.apache.spark.sql.DataFrame, dir: String,
      name: String): Unit = {
    val tmp = s"$dir/_stage"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(part.length == 1)
    java.nio.file.Files.move(part.head.toPath,
      java.nio.file.Paths.get(s"$dir/$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  test("every fixture table loads under the schema contract at two SFs") {
    for (sf <- Seq("0.001", "0.01"); name <- Tables.names) {
      val df = Tables.load(spark, sfDir(sf), name) // throws on drift
      assert(df.columns.nonEmpty, s"$name at sf$sf")
    }
  }

  test("a drifted fixture fails naming the drifted column, a missing " +
      "column and an unexpected column") {
    // documents with doc_id re-typed, n_chars dropped, one extra column
    val drifted = spark.range(3)
      .select(col("id").cast("int").as("doc_id"),
        lit("t").as("text"), lit("en").as("lang"), lit("s").as("source"),
        lit(1).as("bogus"))
    val e = intercept[IllegalStateException] {
      Tables.assertFixtureSchema("documents", drifted.schema)
    }
    assert(e.getMessage.contains("fixture schema drift in 'documents'"))
    assert(e.getMessage.contains("doc_id: expected bigint, found int"))
    assert(e.getMessage.contains("n_chars: MISSING"))
    assert(e.getMessage.contains("bogus: UNEXPECTED"))
  }

  test("an unknown table name has no contract and says so") {
    val e = intercept[IllegalStateException] {
      Tables.assertFixtureSchema("nope", spark.range(1).schema)
    }
    assert(e.getMessage.contains("no fixture-schema contract for 'nope'"))
  }

  test("a warm fixture load starts no Spark job: the schema is cached " +
      "per file") {
    val dir = sfDir()
    Tables.names.foreach(Tables.load(spark, dir, _)) // warm-up: one inference each
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val loaded = Tables.names.map(Tables.load(spark, dir, _)) :+
        Tables.events(spark, dir)
      Tables.eventsTsIsNanosLong(spark, dir)
      org.apache.spark.ListenerBusDrain(sc)
      assert(jobs.get == 0, s"warm loads launched ${jobs.get} jobs")
      assert(loaded.forall(_.columns.nonEmpty))
      // the listener does see the job an unpinned read runs to infer
      spark.read.parquet(s"$dir/region.parquet")
      org.apache.spark.ListenerBusDrain(sc)
      assert(jobs.get >= 1, "an unpinned read infers its schema with a job")
    } finally sc.removeSparkListener(listener)
  }

  test("a fixture rewritten in place with a drifted schema fails on the " +
      "next load, naming the column, and is never read under the stale " +
      "cached schema") {
    val dir = graft.Tmp.dir("graft_tables_drift").toFile.getAbsolutePath
    val file = new java.io.File(s"$dir/documents.parquet")
    def writeDocuments(docId: org.apache.spark.sql.Column): Unit = writeFixture(
      Tables.documents(spark, sfDir()).limit(10).withColumn("doc_id", docId),
      dir, "documents")
    writeDocuments(col("doc_id"))
    assert(Tables.load(spark, dir, "documents").count() == 10) // cached
    val mtime = file.lastModified
    writeDocuments(col("doc_id").cast("int"))
    // a different mtime whatever the filesystem's timestamp resolution
    assert(file.setLastModified(mtime + 10000L))
    for (_ <- 1 to 2) { // the failed check is not cached either
      val e = intercept[IllegalStateException] {
        Tables.load(spark, dir, "documents").collect()
      }
      assert(e.getMessage.contains("doc_id: expected bigint, found int"),
        e.getMessage)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("events ts-encoding probe re-probes after an in-place " +
      "regeneration (cache keys on mtime/size, not directory alone)") {
    val dir = graft.Tmp.dir("graft_tables_spec")
      .toFile.getAbsolutePath
    def writeEvents(nanosAsLong: Boolean): Unit = {
      val base = Tables.events(spark, sfDir()).limit(10)
      writeFixture(
        if (nanosAsLong)
          base.withColumn("ts", (unix_micros(col("ts").cast("timestamp")) * 1000L))
        else base.withColumn("ts", col("ts").cast("timestamp_ntz")),
        dir, "events")
    }
    writeEvents(nanosAsLong = true)
    assert(Tables.eventsTsIsNanosLong(spark, dir),
      "bigint-encoded ts must probe as nanos-long")
    // regenerate IN PLACE with the other encoding — the probe must not
    // return the stale cached verdict
    writeEvents(nanosAsLong = false)
    assert(!Tables.eventsTsIsNanosLong(spark, dir),
      "in-place regeneration must invalidate the ts-encoding cache")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}

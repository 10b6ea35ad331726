package graft

import org.apache.spark.sql.functions._

/** Fixture-schema contract (round 11, verdict item 5): the driver
  * regenerates `/root/testdata` between rounds and has already flipped
  * an encoding in place (events.ts, round 10). `Tables.load` asserts
  * every fixture's as-read schema against `Tables.FixtureSchemas` and
  * fails naming the drifted column; these cases pin that the contract
  * passes on the current fixtures, catches a deliberate drift with a
  * one-line diagnosis, and that the events ts-encoding probe re-probes
  * after an in-place regeneration (mtime/size cache key).
  */
class TablesSpec extends SparkSuite {

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

  test("events ts-encoding probe re-probes after an in-place " +
      "regeneration (cache keys on mtime/size, not directory alone)") {
    val dir = graft.Tmp.dir("graft_tables_spec")
      .toFile.getAbsolutePath
    def writeEvents(nanosAsLong: Boolean): Unit = {
      val tmp = s"$dir/_stage"
      val base = Tables.events(spark, sfDir()).limit(10)
      val out =
        if (nanosAsLong)
          base.withColumn("ts", (unix_micros(col("ts").cast("timestamp")) * 1000L))
        else base.withColumn("ts", col("ts").cast("timestamp_ntz"))
      out.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1)
      java.nio.file.Files.move(part.head.toPath,
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
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

package graft

import graft.ops._
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** MIGRATION.md executed: every reference-script → graft-API mapping in
  * the migration guide is compiled and asserted here, so the documented
  * migration surface cannot drift from the code. One test per guide row;
  * test names cite the reference script each mapping replaces. Streaming
  * rows whose end-to-end behavior is pinned in StreamsSpec are pinned
  * here at the signature level (a never-invoked thunk — compilation IS
  * the assertion). */
class MigrationSpec extends SparkSuite {
  import spark.implicits._

  test("bootstrap_delta.py → Tables.load + overwrite write (K1)") {
    val out = graft.Tmp.dir("mig-k1").toString + "/t"
    val region = Tables.load(spark, sfDir(), "region")
    region.write.mode("overwrite").parquet(out)
    assert(spark.read.parquet(out).count() == region.count())
  }

  test("bronze_builder.py:95-128 → Incremental.slice/nextWatermark + Merge.upsertMerge") {
    val base = Seq(
      (1L, "a", "2024-01-01 00:00:00"),
      (2L, "b", "2024-02-01 00:00:00"),
      (3L, "c", "2024-03-01 00:00:00"))
      .toDF("id", "v", "ts")
      .withColumn("updated_at", col("ts").cast("timestamp_ntz")).drop("ts")
    val slice = Incremental.slice(base, "updated_at", "2024-01-15 00:00:00")
    assert(slice.count() == 2)
    // the next watermark is the slice's max(updated_at)
    assert(slice.agg(max(col("updated_at")).cast("timestamp")).first().getTimestamp(0)
      .toString == "2024-03-01 00:00:00.0")
    val target = Seq((1L, "old"), (9L, "keep")).toDF("id", "v")
    val merged = Merge.upsertMerge(target, Seq((1L, "new"), (5L, "ins")).toDF("id", "v"), "id")
    assert(merged.count() == 3) // keys {1, 9} ∪ {1, 5}
    assert(merged.filter(col("id") === 1L).select("v").as[String].head() == "new")
    assert(merged.filter(col("id") === 9L).select("v").as[String].head() == "keep")
  }

  test("bronze_reader.py:85-127 → Windows.beforeAfter") {
    val cdc = Seq(
      (1L, "x", 1L), (1L, "y", 2L), // changed
      (2L, "z", 1L))                // singleton
      .toDF("id", "name", "ver")
    val ba = Windows.beforeAfter(cdc, "id", "ver", "ver", Seq("name"))
    val byId = ba.collect().map(r => r.getLong(0) -> r.getAs[String]("change_type")).toMap
    assert(byId == Map(1L -> "CHANGED", 2L -> "SINGLETON"))
  }

  test("silver_builder.py:103-132 → Merge.asScd2 + Merge.scd2Merge (two-phase quirk)") {
    val target = Merge.asScd2(Seq((1L, "a")).toDF("id", "name"), "2024-01-01 00:00:00")
    val src = Seq((1L, "A", "2024-06-01 00:00:00")).toDF("id", "name", "upd")
      .withColumn("updated_at", col("upd").cast("timestamp_ntz")).drop("upd")
    val merged = Merge.scd2Merge(target, src, "id", Seq("name"))
    // reference quirk preserved: the changed key is closed out this pass,
    // its new version lands on the next run
    assert(merged.filter(col("is_current")).count() == 0)
    assert(merged.filter(!col("is_current")).count() == 1)
  }

  test("silver_attrition_builder.py:96-137 → Facts.attritionFact/headcountFact/det") {
    val scd2 = Seq(
      (1L, true, false, "2020-01-01", "2024-03-15"),
      (2L, true, true, "2021-06-01", null))
      .toDF("id", "is_current", "active", "hire", "term")
    val att = Facts.attritionFact(scd2, "id",
      deletedCol = !col("active"), hireDate = col("hire"), termDate = col("term"))
    assert(att.count() == 1)
    val a = att.head()
    assert(a.getAs[Int]("attrition_year") == 2024 && a.getAs[Int]("attrition_month") == 3)
    assert(a.getAs[Int]("tenure_days") == 1535)
    assert(att.columns.contains("marital_status")) // synthetic features attached
    val hc = Facts.headcountFact(scd2, "id",
      activeCol = col("active"), asOf = lit("2024-04-01").cast("date"))
    assert(hc.count() == 1 && hc.columns.contains("snapshot_month"))
    // det: deterministic synthetic pick — same key, same salt → same value
    val d = spark.range(1).select(Facts.det(lit(7L), 3, 5), Facts.det(lit(7L), 3, 5)).head()
    assert(d.getLong(0) == d.getLong(1))
  }

  test("dbt/models/gold/*.sql → sql/GoldModels over temp views (S5/M5)") {
    Seq("orders", "customer", "nation").foreach(t =>
      Tables.load(spark, sfDir(), t).createOrReplaceTempView(t))
    assert(graft.sql.GoldModels.run(spark, graft.sql.GoldModels.attritionMonthly).count() > 0)
    val out = graft.Tmp.dir("mig-gold").toString + "/g"
    val mat = graft.sql.GoldModels.run(spark, graft.sql.GoldModels.attritionSummary)
    mat.write.mode("overwrite").parquet(out) // dbt materialized='table'
    assert(spark.read.parquet(out).count() == mat.count())
  }

  test("dq_checks.py + dq_rules.yaml → RuleYaml.parse + Quality rule ADT") {
    val rules = RuleYaml.parse(
      """emp:
        |  - column: id
        |    rule: not_null
        |  - column: score
        |    rule: between
        |    min: 0
        |    max: 10
        |""".stripMargin)
    assert(rules == Seq(Quality.NotNull("emp", "id"), Quality.Between("emp", "score", 0, 10)))
    val df = Seq((Some(1L), 5.0), (None, 50.0)).toDF("id", "score")
    assert(Quality.violatingRows(rules.head, df).count() == 1)
    assert(Quality.violatingRows(rules(1), df).count() == 1)
  }

  test("delta_schema_inspector.py + silver_reader.py → Meta probes + Versioned time travel") {
    val dir = graft.Tmp.dir("mig-meta").toString + "/t"
    assert(!Meta.tableExists(spark, dir))
    assert(Meta.Versioned.write(Seq(1).toDF("x"), dir) == 1L)
    assert(Meta.Versioned.write(Seq(1, 2).toDF("x"), dir) == 2L)
    assert(Meta.tableExists(spark, s"$dir/v=1"))
    assert(Meta.Versioned.read(spark, dir).schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString, f.nullable)) == Seq(("x", "int", true)))
    assert(Meta.Versioned.read(spark, dir, Some(1L)).count() == 1)   // dt.version()
    assert(Meta.Versioned.latestVersion(spark, dir).contains(2L))
  }

  test("streaming sinks/monitors → signature pins (behavior in StreamsSpec)") {
    // never invoked: compilation pins each documented entry point
    val pins: Seq[() => Any] = Seq(
      () => Streams.dlqPipeline(null, "payload", "kafka_ts", null,
        "v", "d", "cp", Trigger.AvailableNow()),              // kafka_DLQ.py:38-93
      () => Streams.parquetAppend(null, "p", "cp"),           // kafka_DLQ.py:59-63 (K2)
      () => Streams.jsonDlq(null, "v", "ts", "r", "p", "cp"), // kafka_DLQ.py:80-90 (K4)
      () => Streams.scd2Upsert(null, "t", "id", Seq("name")), // verify_spark.py:108-114 (K6)
      () => (Scale.saltedEquiJoin _): (DataFrame, DataFrame, String, Int,
        Option[org.apache.spark.sql.Column]) => DataFrame)
    assert(pins.nonEmpty)
  }

  test("incremental-view/maintenance layer (q100-q123 guide table): " +
      "txn folds, feed compose, moments maintenance") {
    // Delta `txn` analogue: a fold batch commits through one manifest
    // claim, and a replay no-ops
    val root = graft.Tmp.dir("mig-txn").toString
    val df = Seq((1L, 10.0)).toDF("k", "v")
    def fold() = Streams.foldOnce(root, Seq(df),
      Seq(Streams.Segments("t", df.limit(0))))((b, _, _) => Seq(b))
    fold()
    assert(fold().head.count() == 1L)
    assert(graft.Meta.Versioned.latestCommit(spark, root).contains(1L))
    // CDF analogue: snapshotDiff feed → maintainMoments == direct rebuild
    val v1 = Seq((1L, 1L, 10.0), (2L, 1L, 5.0), (3L, 2L, 2.0))
      .toDF("id", "k", "v")
    val v2 = Seq((1L, 1L, 12.0), (3L, 2L, 2.0), (4L, 2L, 7.0))
      .toDF("id", "k", "v")
    val feed = graft.Meta.Versioned.snapshotDiff(v1, v2, Seq("id"), preimages = true)
    val maintained = Incremental.maintainMoments(
      Incremental.aggMoments(v1, Seq("k"), "v"), feed, Seq("k"), "v")
      .collect().map(_.toString).sorted
    val direct = Incremental.aggMoments(v2, Seq("k"), "v")
      .collect().map(_.toString).sorted
    assert(maintained.sameElements(direct))
    // feed-composition analogue (CDF over a commit range): A→B ∘ B→C = A→C
    val v3 = Seq((1L, 1L, 12.0), (4L, 2L, 9.0)).toDF("id", "k", "v")
    val composed = graft.Meta.Versioned.composeFeeds(
      feed, graft.Meta.Versioned.snapshotDiff(v2, v3, Seq("id"), preimages = true),
      Seq("id")).collect().map(_.toString).sorted
    val oneHop = graft.Meta.Versioned.snapshotDiff(v1, v3, Seq("id"), preimages = true)
      .collect().map(_.toString).sorted
    assert(composed.sameElements(oneHop))
  }
}

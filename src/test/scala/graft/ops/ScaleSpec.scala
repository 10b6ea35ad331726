package graft.ops

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSuite {

  test("saltedEquiJoin: identical result to the plain join") {
    val li = Tables.lineitem(spark, sfDir()).withColumnRenamed("l_orderkey", "o_orderkey")
    val o = Tables.orders(spark, sfDir())
    val plain = li.join(o, "o_orderkey")
    val salted = Scale.saltedEquiJoin(li, o, "o_orderkey", salts = 4)
    assert(salted.count() == plain.count())
    assert(salted.columns.sorted.toSeq == plain.columns.sorted.toSeq)
    val pc = plain.groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sc = salted.groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pc == sc)
  }

  test("bucketed co-located join: no shuffle exchange in the plan") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      // disable broadcast so the join must rely on the bucket layout
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Scale.writeBucketed(Tables.orders(spark, sfDir()), "t_b_orders", "o_orderkey", 4)
      Scale.writeBucketed(
        Tables.lineitem(spark, sfDir()).withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_b_lineitem", "o_orderkey", 4)
      val j = spark.table("t_b_lineitem").join(spark.table("t_b_orders"), "o_orderkey")
      j.collect()
      val p = j.queryExecution.executedPlan.toString()
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$p")
      // and the same join on unbucketed scans DOES shuffle
      val plain = Tables.lineitem(spark, sfDir())
        .withColumnRenamed("l_orderkey", "o_orderkey")
        .join(Tables.orders(spark, sfDir()), "o_orderkey")
      plain.collect()
      assert(plain.queryExecution.executedPlan.toString().contains("Exchange hashpartitioning"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("zorderWrite: every file covers a narrow slice of BOTH clustering " +
      "dimensions — a lead-column sort leaves the second dimension unprunable") {
    val out = graft.Tmp.dir("graft-zorder").toString
    val o = Tables.orders(spark, sfDir()).select("o_orderkey", "o_custkey", "o_totalprice")
    val n = Scale.zorderWrite(o, Seq("o_custkey", "o_totalprice"), numFiles = 16, out)
    assert(n == 16, s"expected 16 files, wrote $n")
    // rows survive the rewrite intact
    assert(spark.read.parquet(out).count() == o.count())
    def coverage(dir: String): Seq[(Double, Double)] = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
      val global = o.agg(
        org.apache.spark.sql.functions.min("o_custkey"),
        org.apache.spark.sql.functions.max("o_custkey"),
        org.apache.spark.sql.functions.min("o_totalprice"),
        org.apache.spark.sql.functions.max("o_totalprice")).head()
      val (ck0, ck1) = (global.getLong(0).toDouble, global.getLong(1).toDouble)
      val (tp0, tp1) = (global.getDouble(2), global.getDouble(3))
      files.map { f =>
        val s = spark.read.parquet(f).agg(
          org.apache.spark.sql.functions.min("o_custkey"),
          org.apache.spark.sql.functions.max("o_custkey"),
          org.apache.spark.sql.functions.min("o_totalprice"),
          org.apache.spark.sql.functions.max("o_totalprice")).head()
        ((s.getLong(1) - s.getLong(0)) / (ck1 - ck0),
          (s.getDouble(3) - s.getDouble(2)) / (tp1 - tp0))
      }
    }
    val cov = coverage(out)
    val meanCk = cov.map(_._1).sum / cov.size
    val meanTp = cov.map(_._2).sum / cov.size
    // 16 files over 2 dims ⇒ ideal per-file span ≈ 1/4 of each range;
    // allow slack for bucket quantization, demand real pruning power
    assert(meanCk <= 0.6 && meanTp <= 0.6,
      s"z-order not clustering: mean file coverage custkey=$meanCk price=$meanTp")
    // contrast: the single-sort layout cannot prune the second dimension
    val sortedOut = graft.Tmp.dir("graft-sorted").toString
    o.repartitionByRange(16, org.apache.spark.sql.functions.col("o_custkey"))
      .sortWithinPartitions("o_custkey").write.mode("overwrite").parquet(sortedOut)
    val sortedCov = coverage(sortedOut)
    val sortedTp = sortedCov.map(_._2).sum / sortedCov.size
    assert(sortedTp >= 0.9,
      s"fixture degenerate — lead sort already clusters price? $sortedTp")
  }

  test("zorderWrite rankBuckets: equi-depth clustering holds on a zipfian " +
      "column where linear bucketing collapses") {
    import spark.implicits._
    // heavy exponential skew: linear min/max buckets put ~all rows in the
    // bottom buckets, so files span huge RANK ranges of the skewed dim
    val rows = (1 to 4000).map { i =>
      (i.toLong, math.exp((i % 997) / 120.0), (i % 500).toDouble)
    }
    val df = rows.toDF("id", "skewed", "uniform")
    val sortedSkew = rows.map(_._2).sorted
    def rankSpan(dir: String): Double = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
      val spans = files.map { f =>
        val s = spark.read.parquet(f).agg(
          org.apache.spark.sql.functions.min("skewed"),
          org.apache.spark.sql.functions.max("skewed")).head()
        def rank(v: Double) = sortedSkew.count(_ <= v).toDouble / sortedSkew.size
        rank(s.getDouble(1)) - rank(s.getDouble(0))
      }
      spans.sum / spans.size
    }
    val linOut = graft.Tmp.dir("graft-z-lin").toString
    val rnkOut = graft.Tmp.dir("graft-z-rnk").toString
    Scale.zorderWrite(df, Seq("skewed", "uniform"), 16, linOut, bitsPerCol = 6)
    Scale.zorderWrite(df, Seq("skewed", "uniform"), 16, rnkOut,
      bitsPerCol = 6, rankBuckets = true)
    assert(spark.read.parquet(rnkOut).count() == 4000)
    val (lin, rnk) = (rankSpan(linOut), rankSpan(rnkOut))
    // equi-depth files cover a narrow quantile slice; linear files cannot
    assert(rnk <= 0.6, s"rank-bucketed span too wide: $rnk")
    assert(rnk < lin / 1.5,
      s"rank bucketing should beat linear on skew: rank=$rnk linear=$lin")
  }

  test("skewProfile: dominant key gets a leveling salt, uniform keys salt 1, " +
      "HLL twin inside its bound") {
    import spark.implicits._
    // key 999 holds half the table; 1000 uniform keys hold the rest
    val df = ((1 to 10000).map(_ => 999L) ++
      (1 to 10000).map(i => (i % 1000).toLong)).toDF("k")
    val out = Scale.skewProfile(df, "k", topK = 5, parts = 32)
      .collect()
    assert(out.length == 5)
    val top = out.head
    assert(top.getLong(0) == 999L)
    // 999 appears 10000 (+10 from the uniform tail: 999 % 1000) times
    assert(top.getLong(1) == 10010L)
    // its salt levels it back to ~N/parts-sized slices: ceil(cnt*32/N)
    assert(top.getLong(3) == (10010L * 32 + 20000 - 1) / 20000)
    assert(top.getLong(3) >= 16L)
    // the uniform runners-up need no salting
    out.tail.foreach(r => assert(r.getLong(3) == 1L, s"over-salted: $r"))
    // exact NDV carried through; HLL twin within its pinned bound
    assert(out.forall(r => r.getLong(4) == 1000L && r.getBoolean(5)))
    // STRING keys: the HLL twin must hash the key, not cast-to-long it
    // into all-NULLs (which would report hll_ok=false on every row)
    val s = Scale.skewProfile(
      (1 to 3000).map(i => s"key_${i % 500}").toDF("k"), "k", topK = 3)
      .collect()
    assert(s.forall(r => r.getLong(4) == 500L && r.getBoolean(5)),
      s"string-key HLL twin broken: ${s.toSeq}")
  }

  test("compact: merges a many-file layout, preserves every row") {
    import spark.implicits._
    val dir = graft.Tmp.dir("graft-compact").toString + "/t"
    (1L to 5000L).toDF("id").repartition(40).write.parquet(dir)
    val before = spark.read.parquet(dir).as[Long].collect().sorted.toSeq
    val (nBefore, nAfter) = Scale.compact(spark, dir, targetRowsPerFile = 2500L)
    assert(nBefore == 40 && nAfter == 2, s"got $nBefore -> $nAfter")
    val after = spark.read.parquet(dir).as[Long].collect().sorted.toSeq
    assert(after == before)
  }

  test("compactionPlan: half-target rule, first-fit bins, exact fill") {
    import spark.implicits._
    // partition a: eight 10-byte smalls + one 100-byte large
    //   total 180, 3 files/partition -> target 60; the 100 fails the
    //   half-target rule; smalls pack 6 + 2 across two bins
    // partition b: 50 + 60, target ceil(110/3)=37 -> NO candidates
    val segs = ((1 to 8).map(i => ("a", i.toLong, 10L)) ++
      Seq(("a", 9L, 100L), ("b", 1L, 50L), ("b", 2L, 60L)))
      .toDF("source", "seg", "bytes")
    val plan = Scale.compactionPlan(segs, "source", "seg", "bytes",
      filesPerPartition = 3)
    assert(plan.columns.toSeq ==
      Seq("source", "bin", "n_segments", "bytes_in", "fill_pct"))
    val rows = plan.orderBy("source", "bin").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
      .toSeq
    assert(rows == Seq(
      ("a", 0L, 6L, 60L, 100.0),
      ("a", 1L, 2L, 20L, 33.333333)), s"got $rows")
    // idempotence: the plan is a pure function of the manifest
    assert(plan.collect().toSeq == plan.collect().toSeq)
  }

  test("data skipping: pruned scan loses no matching row, reads only the " +
      "admitted files, and an impossible bound reads none") {
    import spark.implicits._
    val root = graft.Tmp.dir("graft-skip").toString
    val o = Tables.orders(spark, sfDir())
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val n = Scale.writeWithStats(o, Seq("o_custkey", "o_totalprice"),
      numFiles = 16, root)
    assert(n == 16)
    val bounds = Seq(("o_custkey", 100.0, 400.0), ("o_totalprice", 50000.0, 120000.0))
    val scan = Scale.skippingScan(spark, root, bounds)
    // pruning actually happened, and the frame reads exactly the admitted files
    assert(scan.filesTotal == 16 && scan.filesKept < 16 && scan.filesKept > 0,
      s"kept ${scan.filesKept}/${scan.filesTotal}")
    assert(scan.df.inputFiles.length == scan.filesKept)
    // correctness: pruned scan + predicate == full scan + predicate
    def pred(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("o_custkey").between(100, 400) &&
        col("o_totalprice").between(50000, 120000))
      .select("o_orderkey").as[Long].collect().sorted.toSeq
    assert(pred(scan.df) == pred(spark.read.parquet(s"$root/data")))
    // a bound outside every file's range admits nothing, schema intact
    val none = Scale.skippingScan(spark, root, Seq(("o_custkey", -9e9, -8e9)))
    assert(none.filesKept == 0 && none.df.isEmpty &&
      none.df.columns.toSeq == Seq("o_orderkey", "o_custkey", "o_totalprice"))
  }

  test("hrwShard: balanced-ish, deterministic, and adding a shard moves " +
      "only a ~1/(n+1) slice, every moved key to the NEW shard") {
    import spark.implicits._
    val keys = (1L to 2000L).toDF("k")
    val assigned = keys.select(col("k"),
      Scale.hrwShard(col("k"), 8).as("s8"),
      Scale.hrwShard(col("k"), 9).as("s9"))
      .as[(Long, Int, Int)].collect().toSeq
    assert(assigned.forall(t => t._2 >= 0 && t._2 < 8))
    assert(assigned.forall(t => t._3 >= 0 && t._3 < 9))
    // minimal movement: every key either keeps its shard or moves to
    // the brand-new shard 8 — the rendezvous invariant, exactly
    assert(assigned.forall(t => t._2 == t._3 || t._3 == 8))
    val movedFrac = assigned.count(t => t._2 != t._3).toDouble / assigned.size
    assert(movedFrac > 0.05 && movedFrac < 0.20,
      s"expected ~1/9 ≈ 0.11 of keys to move, got $movedFrac")
    // every shard gets a non-trivial share (hash balance)
    val byShard = assigned.groupBy(_._2).view.mapValues(_.size)
    assert(byShard.size == 8 && byShard.values.forall(_ > 100))
    // deterministic: a second evaluation is identical
    val again = keys.select(col("k"), Scale.hrwShard(col("k"), 8).as("s8"))
      .as[(Long, Int)].collect().toSeq
    assert(again == assigned.map(t => (t._1, t._2)))
    // n=1 degenerates to shard 0
    val one = keys.limit(5).select(Scale.hrwShard(col("k"), 1))
      .as[Int].collect().toSeq
    assert(one.forall(_ == 0))
  }
}

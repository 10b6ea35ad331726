package graft

import java.nio.file.Files

class MetaSpec extends SparkSuite {
  import spark.implicits._

  test("tableExists: false for missing/empty dir, true after a write (M1)") {
    val dir = graft.Tmp.dir("meta").toString
    assert(!Meta.tableExists(spark, s"$dir/nope"))
    Files.createDirectory(java.nio.file.Paths.get(s"$dir/empty"))
    assert(!Meta.tableExists(spark, s"$dir/empty"))
    Seq(1, 2).toDF("x").write.parquet(s"$dir/t")
    assert(Meta.tableExists(spark, s"$dir/t"))
  }

  test("describeSchema: name/type/nullability (M2)") {
    val df = Seq((1L, Some("a"))).toDF("id", "name")
    assert(df.schema.fields.toSeq.map(f => (f.name, f.dataType.simpleString, f.nullable)) ==
      Seq(("id", "bigint", false), ("name", "string", true)))
  }

  test("snapshotVersion advances across rewrites (M3)") {
    val dir = graft.Tmp.dir("meta").toString + "/t"
    // latest modification time over the table's files: a snapshot marker
    def snapshotVersion(): Option[Long] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None else fs.listStatus(p).map(_.getModificationTime).maxOption
    }
    assert(snapshotVersion().isEmpty)
    Seq(1).toDF("x").write.parquet(dir)
    val v1 = snapshotVersion().get
    Thread.sleep(1100) // fs mtime granularity
    Seq(2).toDF("x").write.mode("overwrite").parquet(dir)
    assert(snapshotVersion().get >= v1)
  }

  test("Versioned: publish, time travel, latest, vacuum (M3 time travel)") {
    val dir = graft.Tmp.dir("meta-ver").toString + "/t"
    assert(Meta.Versioned.latestVersion(spark, dir).isEmpty)
    assert(Meta.Versioned.write(Seq(1, 2).toDF("x"), dir) == 1L)
    assert(Meta.Versioned.write(Seq(3).toDF("x"), dir) == 2L)
    assert(Meta.Versioned.write(Seq(4, 5, 6).toDF("x"), dir) == 3L)
    assert(Meta.Versioned.latestVersion(spark, dir).contains(3L))
    assert(Meta.Versioned.read(spark, dir).count() == 3)                  // latest
    assert(Meta.Versioned.read(spark, dir, Some(1L)).count() == 2)        // time travel
    assert(Meta.Versioned.vacuum(spark, dir, keep = 2) == Seq(1L))
    assert(Meta.Versioned.latestVersion(spark, dir).contains(3L))
    intercept[Exception] { Meta.Versioned.read(spark, dir, Some(1L)).count() }
  }

  test("foldOnce: a Segments table (delta only) equals a Snapshot table " +
      "(union fold), row for row; the replayed last batch adds nothing") {
    import graft.streaming.Streams
    val root = graft.Tmp.dir("meta-seg").toString
    val seed = Seq.empty[(Long, String)].toDF("id", "v")
    val batches = Seq(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      Seq((3L, "c")).toDF("id", "v"),
      Seq((4L, "d"), (5L, "e")).toDF("id", "v"))
    // the segment log commits the delta only; the snapshot, as
    // reference, rewrites the union of its standing state and the batch
    val Seq(snap, seg) = Streams.foldOnce(root, batches,
        Seq(Streams.Snapshot("snap", seed), Streams.Segments("seg", seed))) {
      case (b, _, Seq(snap, _)) => Seq(snap.unionByName(b), b)
    }
    val segRows = seg.orderBy("id").collect().toSeq
    val snapRows = snap.orderBy("id").collect().toSeq
    assert(segRows == snapRows, s"segment union $segRows != rewritten snapshot $snapRows")
    assert(segRows.size == 5)
    assert(Meta.Versioned.committedVersions(spark, root).contains(
      Map("snap" -> Seq(4L), "seg" -> Seq(1L, 2L, 3L, 4L))))
  }

  test("Versioned.write: after a write that fails mid-job, the latest " +
      "version and its rows are unchanged") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val dir = graft.Tmp.dir("meta-failwrite").toString + "/t"
    Meta.Versioned.write(Seq(1L, 2L).toDF("x"), dir)
    intercept[Exception] {
      // a Range, not a local relation: the optimizer cannot fold the
      // raise_error away, so the write job starts and fails in a task
      Meta.Versioned.write(spark.range(3L, 5L).toDF("x").select(
        when(col("x") === 4L, raise_error(lit("failed mid-job")))
          .otherwise(col("x")).as("x")), dir)
    }
    assert(Meta.Versioned.latestVersion(spark, dir).contains(1L))
    assert(Meta.Versioned.read(spark, dir).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    val pinned = Some(Seq(0L).toDF("x").schema)
    assert(Meta.Versioned.read(spark, dir, schema = pinned).as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("Versioned.vacuum: reclaims dead writeOnce staging debris, " +
      "leaves a possibly-in-flight staging dir alone") {
    val dir = graft.Tmp.dir("meta-stag").toString + "/t"
    Meta.Versioned.write(Seq(1).toDF("x"), dir)  // v=1
    Meta.Versioned.write(Seq(2).toDF("x"), dir)  // v=2
    val root = new java.io.File(dir)
    // crash debris from a write that died pre-rename at v=2 (dead:
    // v=2 has since published) and one at v=3 (may be in flight)
    def mkStaging(v: Long): java.io.File = {
      val d = new java.io.File(root, s"v=${v}_staging_deadbeef$v")
      assert(d.mkdirs()); new java.io.File(d, "part-0.parquet").createNewFile()
      d
    }
    val dead = mkStaging(2L)
    val inflight = mkStaging(3L)
    // default grace window: even a provably-dead staging dir modified
    // just now is skipped, so a doomed-but-running writer fails at its
    // publish rename instead of on a vanished staging path
    Meta.Versioned.vacuum(spark, dir, keep = 10)
    assert(dead.exists(), "fresh staging dirs sit out the grace window")
    Meta.Versioned.vacuum(spark, dir, keep = 10, stagingGraceMs = 0L)
    assert(!dead.exists(), "v<=latest staging debris must be reclaimed")
    assert(inflight.exists(), "v=latest+1 staging dir may be in flight")
    // readers still resolve only strict v=N dirs
    assert(Meta.Versioned.latestVersion(spark, dir).contains(2L))
    // once v=3 publishes, the old in-flight dir is dead and collectable
    Meta.Versioned.write(Seq(3).toDF("x"), dir)
    Meta.Versioned.vacuum(spark, dir, keep = 10, stagingGraceMs = 0L)
    assert(!inflight.exists(), "published-over staging debris must go")
  }

  test("Versioned.vacuum: refuses a manifest table and deletes nothing") {
    import graft.streaming.Streams
    val root = graft.Tmp.dir("meta-vac-fold").toString
    val seed = Seq(0L).toDF("id")
    Streams.foldOnce(root, Seq(Seq(1L).toDF("id"), Seq(2L).toDF("id")),
        Seq(Streams.Snapshot("snap", seed), Streams.Segments("segs", seed))) {
      (batch, _, _) => Seq(batch, batch)
    }
    for (t <- Seq("snap", "segs")) {
      val e = intercept[IllegalArgumentException] {
        Meta.Versioned.vacuum(spark, s"$root/$t", keep = 1)
      }
      assert(e.getMessage.contains("manifest table"), e.getMessage)
      assert((1L to 3L).forall(v => new java.io.File(s"$root/$t/v=$v").isDirectory),
        s"a refused vacuum of $t must delete nothing")
    }
    assert(Meta.Versioned.readCommitted(spark, root, "segs").as[Long]
      .collect().sorted.toSeq == Seq(0L, 1L, 2L))
    assert(Meta.Versioned.readCommitted(spark, root, "snap").as[Long]
      .collect().toSeq == Seq(2L))
  }

  test("Versioned.publishAll: readers never observe a torn multi-table publish") {
    val root = graft.Tmp.dir("meta-multi").toString
    val c1 = Meta.Versioned.publishAll(root, Seq(
      "dim" -> Seq((1L, "a")).toDF("id", "name"),
      "fact" -> Seq((1L, 10.0)).toDF("id", "v")))
    assert(c1 == 1L)
    assert(Meta.Versioned.committedVersions(spark, root)
      .contains(Map("dim" -> Seq(1L), "fact" -> Seq(1L))))
    assert(Meta.Versioned.readCommitted(spark, root, "dim").count() == 1)
    // a TORN publish: a new version dir staged (crash before the manifest
    // rename) — manifest readers must keep resolving commit 1's versions
    Meta.Versioned.write(Seq((2L, "b")).toDF("id", "name"), s"$root/dim")
    assert(Meta.Versioned.committedVersions(spark, root)
      .contains(Map("dim" -> Seq(1L), "fact" -> Seq(1L))))
    assert(Meta.Versioned.readCommitted(spark, root, "dim").count() == 1)
    // the next publishAll lands AFTER the debris version and flips the
    // whole set atomically
    val c2 = Meta.Versioned.publishAll(root, Seq(
      "dim" -> Seq((1L, "a"), (2L, "b")).toDF("id", "name"),
      "fact" -> Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")))
    assert(c2 == 2L)
    assert(Meta.Versioned.committedVersions(spark, root)
      .contains(Map("dim" -> Seq(3L), "fact" -> Seq(2L))))
    assert(Meta.Versioned.readCommitted(spark, root, "dim").count() == 2)
    assert(Meta.Versioned.readCommitted(spark, root, "fact").count() == 2)
    // cross-table time travel: the full consistent set of commit 1
    assert(Meta.Versioned.readCommitted(spark, root, "fact", commit = Some(1L)).count() == 1)
    assert(Meta.Versioned.readCommitted(spark, root, "dim", commit = Some(1L)).count() == 1)
    // unknown table in a commit is an error, not an empty frame
    intercept[IllegalArgumentException] {
      Meta.Versioned.readCommitted(spark, root, "nope")
    }
  }

  test("publishAll: two RACING committers — one wins, the loser throws, " +
      "manifests stay well-formed, readCommitted resolves the winner") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // each writer's staging task blocks on a shared in-JVM barrier, so
    // BOTH writers are provably mid-staging together — both then list an
    // empty commit log and race for the same commit id. A bounded retry
    // absorbs residual scheduler skew (a serialized outcome ids 1,2 is a
    // LEGAL linearization, just not the one under test).
    def attempt(): (String, Seq[scala.util.Try[Long]]) = {
      val root = graft.Tmp.dir("meta-race").toString
      MetaSpecRaceGate.latch = new java.util.concurrent.CountDownLatch(2)
      def slowDf = spark.range(1)
        .map { (x: java.lang.Long) =>
          MetaSpecRaceGate.latch.countDown()
          MetaSpecRaceGate.latch.await(30, java.util.concurrent.TimeUnit.SECONDS)
          x.longValue
        }(org.apache.spark.sql.Encoders.scalaLong)
        .toDF("x")
      val fs = Seq("a", "b").map { t =>
        Future(scala.util.Try(Meta.Versioned.publishAll(root, Seq(t -> slowDf))))
      }
      (root, Await.result(Future.sequence(fs), 120.seconds))
    }
    val (root, results) = Iterator.continually(attempt())
      .take(10)
      .find { case (_, rs) => rs.exists(_.isFailure) }
      .getOrElse(fail("10 attempts never collided — barrier is not forcing the race"))
    val (wins, losses) = results.partition(_.isSuccess)
    assert(wins.size == 1 && losses.size == 1,
      s"expected exactly one winner, got: $results")
    assert(wins.head.get == 1L)
    // the loser's failure names the claim conflict, not some other error
    val err = losses.head.failed.get
    assert(err.isInstanceOf[java.io.IOException] &&
      err.getMessage.contains("claimed by a concurrent writer"), s"wrong error: $err")
    // exactly one well-formed manifest; it resolves the WINNER's table only
    val winner = if (results.head.isSuccess) "a" else "b"
    val loser = if (winner == "a") "b" else "a"
    assert(Meta.Versioned.committedVersions(spark, root)
      .contains(Map(winner -> Seq(1L))))
    assert(Meta.Versioned.readCommitted(spark, root, winner).count() == 1)
    // the loser's staged version dir is invisible debris, not a table
    intercept[IllegalArgumentException] {
      Meta.Versioned.readCommitted(spark, root, loser)
    }
    // no staging files survived either outcome
    val leftovers = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("_commit_staging"))
    assert(leftovers.isEmpty, s"staging debris: ${leftovers.toSeq}")
  }

  test("compactTable: commits through the manifest — a reader holding the " +
      "old commit observes old files, a new reader the rewrite, never neither") {
    import spark.implicits._
    val root = graft.Tmp.dir("meta-compact").toString
    val n = 1000
    val c1 = Meta.Versioned.publishAll(root, Seq(
      "t" -> (1 to n).toDF("x").repartition(8),
      "other" -> Seq(1, 2).toDF("y")))
    assert(c1 == 1L)
    // a reader resolves the pre-compaction commit and HOLDS its frame
    val oldReader = Meta.Versioned.readCommitted(spark, root, "t")
    val oldDir = new java.io.File(s"$root/t/v=1")
    assert(oldDir.exists())
    val (c2, before, after) =
      Meta.Versioned.compactTable(spark, root, "t", targetRowsPerFile = 1000000L)
    assert(c2 == 2L && before == 8 && after == 1,
      s"commit $c2, files $before -> $after")
    // the old reader's files were never renamed or deleted — its frame
    // still evaluates mid-maintenance (Scale.compact's documented swap
    // window cannot happen in this layout)
    assert(oldDir.exists())
    assert(oldReader.count() == n)
    assert(Meta.Versioned.readCommitted(spark, root, "t", commit = Some(1L))
      .count() == n)
    // the new commit resolves the rewrite, losslessly, and carries the
    // untouched sibling table's version forward
    assert(Meta.Versioned.readCommitted(spark, root, "t").count() == n)
    assert(Meta.Versioned.committedVersions(spark, root)
      .contains(Map("t" -> Seq(2L), "other" -> Seq(1L))))
    assert(Meta.Versioned.readCommitted(spark, root, "other").count() == 2)
  }

  test("tableChecksum: layout-invariant, and a single-row divergence is " +
      "localized to exactly one bucket") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1L to 5000L).map(i => (i, s"name_$i", s"seg_${i % 5}"))
      .toDF("k", "name", "seg")
    def sums(d: org.apache.spark.sql.DataFrame) =
      Meta.tableChecksum(d, Seq("k", "name", "seg"), buckets = 32)
        .select(col("bucket"), col("n"), col("checksum").cast("double"))
        .as[(Long, Long, Double)].collect()
        .map { case (b, n, c) => b -> (n, c) }.toMap
    val base = sums(df)
    // row order and physical partitioning cannot move the checksum
    assert(sums(df.repartition(17).orderBy(desc("name"))) == base)
    // nulls are distinct from empty strings
    val withNull = df.withColumn("seg",
      when(col("k") === 1L, lit(null: String)).otherwise(col("seg")))
    val withEmpty = df.withColumn("seg",
      when(col("k") === 1L, lit("")).otherwise(col("seg")))
    assert(sums(withNull) != sums(withEmpty))
    // framing: values containing the separator must not alias across
    // column boundaries — ("a|b","c") vs ("a","b|c") diverge
    def cks(d: org.apache.spark.sql.DataFrame) =
      Meta.tableChecksum(d, Seq("x", "y"), 32)
        .select(col("bucket"), col("checksum").cast("double"))
        .as[(Long, Double)].collect().toMap
    assert(cks(Seq(("a|b", "c")).toDF("x", "y")) !=
      cks(Seq(("a", "b|c")).toDF("x", "y")))
    // corrupt ONE row -> only the buckets holding its old/new hash differ
    val corrupted = df.withColumn("name",
      when(col("k") === 2500L, lit("name_2500_CORRUPT")).otherwise(col("name")))
    val diff = sums(corrupted)
    val changed = base.keySet.union(diff.keySet)
      .filter(b => base.get(b) != diff.get(b))
    assert(changed.nonEmpty && changed.size <= 2,
      s"divergence must localize to <= 2 buckets, got $changed")
  }

  test("compactTable conflict: a commit landing between the read and the " +
      "claim throws CommitConflictException instead of silently reverting it") {
    import spark.implicits._
    val root = graft.Tmp.dir("meta-compact-race").toString
    Meta.Versioned.publishAll(root, Seq("t" -> (1 to 100).toDF("x").repartition(4)))
    // the compactor reads base commit 1 ... then a concurrent writer
    // lands commit 2 (t advances to v=2, 200 rows) before it commits
    val baseId = 1L
    val c2 = Meta.Versioned.publishAll(root, Seq("t" -> (1 to 200).toDF("x")))
    assert(c2 == 2L)
    // the stale RMW must fail the baseId+1 CAS — before the fix it
    // recomputed latest+1=3 at commit time and re-published v=1
    val err = intercept[Meta.CommitConflictException] {
      Meta.Versioned.compactTableFrom(spark, root, "t", 1000000L, baseId)
    }
    assert(err.getMessage.contains("claimed by a concurrent writer"))
    // the concurrent writer's commit is intact and still resolves
    assert(Meta.Versioned.committedVersions(spark, root).contains(Map("t" -> Seq(2L))))
    assert(Meta.Versioned.readCommitted(spark, root, "t").count() == 200)
    // retrying from the fresh chain succeeds and compacts the NEW version
    val (c3, _, after) = Meta.Versioned.compactTable(spark, root, "t", 1000000L)
    assert(c3 == 3L && after == 1)
    assert(Meta.Versioned.readCommitted(spark, root, "t").count() == 200)
  }

  test("Versioned.changes PROPERTY: applying the feed to the old snapshot " +
      "reconstructs the new one exactly (randomized tables with nulls)") {
    val rnd = new scala.util.Random(20260812L)
    for (round <- 1 to 3) {
      val root = graft.Tmp.dir(s"meta-cdf-prop$round").toString
      // a NULL key appears in roughly half the rounds on each side: the
      // feed must tag it delete+insert (nulls never equi-join) and the
      // apply side must still reconstruct exactly
      def randTable(): Seq[(Option[Long], Option[String], Option[Double])] =
        ((0L to 30L).filter(_ => rnd.nextDouble() < 0.7).map(Some(_)) ++
          (if (rnd.nextDouble() < 0.5) Seq(None) else Nil)).map { id =>
          (id,
            if (rnd.nextDouble() < 0.3) None else Some(s"s${rnd.nextInt(4)}"),
            if (rnd.nextDouble() < 0.3) None else Some(rnd.nextInt(5).toDouble))
        }
      val (r1, r2) = (randTable(), randTable())
      val v1 = r1.toDF("id", "a", "b")
      val v2 = r2.toDF("id", "a", "b")
      Meta.Versioned.publishAll(root, Seq("t" -> v1))
      Meta.Versioned.publishAll(root, Seq("t" -> v2))
      val feed = Meta.Versioned.changes(spark, root, "t", 1L, 2L, Seq("id"))
      val applied = Meta.Versioned.applyChanges(v1, feed, Seq("id"))
        .collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          Option(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .toSet
      assert(applied == r2.toSet,
        s"round $round: applied feed != target\n" +
          s"feed=${feed.collect().toSeq}\napplied=$applied\ntarget=${r2.toSet}")
    }
  }

  test("composeFeeds PROPERTY: compose(d12, d23) == d13 and the compose " +
      "chain is associative (randomized version chains); null keys raise") {
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(118L)
    def randTable(): Seq[(Long, Option[String], Option[Double])] =
      (0L to 25L).filter(_ => rnd.nextDouble() < 0.7).map { id =>
        (id,
          if (rnd.nextDouble() < 0.3) None else Some(s"s${rnd.nextInt(3)}"),
          if (rnd.nextDouble() < 0.3) None else Some(rnd.nextInt(4).toDouble))
      }
    def rows(df: DataFrame): Set[(Long, Option[String], Option[Double], String)] =
      df.collect().map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getString(3))).toSet
    def diff(a: DataFrame, b: DataFrame) =
      Meta.Versioned.snapshotDiff(a, b, Seq("id"), preimages = true)
    for (round <- 1 to 3) {
      val Seq(v1, v2, v3, v4) =
        Seq.fill(4)(randTable()).map(_.toDF("id", "a", "b"))
      val composed = Meta.Versioned.composeFeeds(
        diff(v1, v2), diff(v2, v3), Seq("id"))
      assert(rows(composed) == rows(diff(v1, v3)), s"round $round: d12∘d23 != d13")
      // associativity: (d12∘d23)∘d34 spans v1→v4
      val chain = Meta.Versioned.composeFeeds(composed, diff(v3, v4), Seq("id"))
      assert(rows(chain) == rows(diff(v1, v4)), s"round $round: chain != d14")
    }
    // cancellation: insert-then-delete nets to NOTHING
    val e = Seq.empty[(Long, Option[String], Option[Double])].toDF("id", "a", "b")
    val one = Seq((1L, Option("x"), Option(1.0))).toDF("id", "a", "b")
    assert(Meta.Versioned.composeFeeds(diff(e, one), diff(one, e), Seq("id")).isEmpty)
    // null keys refuse loudly rather than mis-compose
    val withNull = Seq((Option.empty[Long], Option("x"), Option(1.0)))
      .toDF("id", "a", "b")
    intercept[Exception] {
      Meta.Versioned.composeFeeds(
        diff(e, withNull), diff(withNull, e), Seq("id")).collect()
    }
    // a 3-value feed (preimages = false — updates tagged plain 'update')
    // refuses loudly: silently composing it would DROP every update
    val v1p = Seq((1L, Option("x"), Option(1.0))).toDF("id", "a", "b")
    val v2p = Seq((1L, Option("y"), Option(1.0))).toDF("id", "a", "b")
    val threeValue = Meta.Versioned.snapshotDiff(v1p, v2p, Seq("id"))
    intercept[Exception] {
      Meta.Versioned.composeFeeds(
        threeValue, diff(v2p, v2p), Seq("id")).collect()
    }
  }

  test("Versioned.gc: reclaims dropped commits, torn-publish debris and " +
      "lost-race staging — but never a fresh dir inside the min-age guard") {
    val root = graft.Tmp.dir("meta-gc").toString
    (1 to 3).foreach { i =>
      Meta.Versioned.publishAll(root, Seq(
        "t" -> (1 to i).toDF("x"), "u" -> Seq(i).toDF("y")))
    }
    // torn publish: staged version, crash before manifest
    Meta.Versioned.write(Seq(99).toDF("x"), s"$root/t")
    assert(new java.io.File(s"$root/t/v=4").exists())
    // min-age guard: with the default window nothing fresh is deletable,
    // even though commit 1 itself is dropped
    val (dead1, deleted1) = Meta.Versioned.gc(spark, root, keepCommits = 2)
    assert(dead1 == Seq(1L) && deleted1.isEmpty, s"$dead1 / $deleted1")
    assert(new java.io.File(s"$root/t/v=1").exists())
    // age-expired pass: commit 1's versions and the torn v=4 go, the two
    // retained commits' versions stay readable
    val (dead2, deleted2) = Meta.Versioned.gc(spark, root, 2, minAgeMs = 0L)
    assert(dead2.isEmpty, s"commits dropped twice: $dead2")
    assert(deleted2.toSet == Set("t/v=1", "t/v=4", "u/v=1"), s"$deleted2")
    assert(!new java.io.File(s"$root/t/v=4").exists())
    assert(Meta.Versioned.readCommitted(spark, root, "t").count() == 3)
    assert(Meta.Versioned.readCommitted(spark, root, "t", commit = Some(2L))
      .count() == 2)
    intercept[Exception] {
      Meta.Versioned.readCommitted(spark, root, "t", commit = Some(1L)).count()
    }
  }

  test("Versioned.gc: reclaims a table's dead staging debris once a " +
      "later version publishes, like vacuum") {
    val root = graft.Tmp.dir("meta-gc-stag").toString
    Meta.Versioned.publishAll(root, Seq("t" -> Seq(1).toDF("x")))
    // crash debris of a write that died before publishing v=2
    val debris = new java.io.File(s"$root/t/v=2_staging_deadbeef")
    assert(debris.mkdirs())
    new java.io.File(debris, "part-0.parquet").createNewFile()
    // v=2 may still be in flight until a later version publishes
    assert(Meta.Versioned.gc(spark, root, 1, minAgeMs = 0L)._2.isEmpty)
    assert(debris.exists())
    Meta.Versioned.publishAll(root, Seq("t" -> Seq(3).toDF("x")))
    assert(Meta.Versioned.gc(spark, root, 1)._2.isEmpty,
      "fresh debris sits out the min-age guard")
    val (_, deleted) = Meta.Versioned.gc(spark, root, 1, minAgeMs = 0L)
    assert(deleted.toSet == Set("t/v=2_staging_deadbeef", "t/v=1"), s"$deleted")
    assert(!debris.exists())
    assert(Meta.Versioned.readCommitted(spark, root, "t").as[Int].collect().toSeq ==
      Seq(3))
  }

  test("Versioned.gc on a fold root: after a two-table fold and one failed " +
      "batch, keeps every segment the newest manifest names and reclaims " +
      "the failed batch's staged version") {
    import graft.streaming.Streams
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val root = graft.Tmp.dir("meta-gc-fold").toString
    val seed = Seq(0L).toDF("id")
    val tables = Seq(Streams.Snapshot("snap", seed), Streams.Segments("segs", seed))
    val batches = (1L to 3L).map(i => Seq(i).toDF("id"))
    Streams.foldOnce(root, batches, tables)((batch, _, _) => Seq(batch, batch))
    // batch 3: snap stages v=5, then the segs frame fails mid-job
    intercept[Exception] {
      Streams.foldOnce(root, batches :+ Seq(4L).toDF("id"), tables) { (batch, _, _) =>
        Seq(batch, spark.range(1).select(
          when(col("id") === 0L, raise_error(lit("segs failed while staged")))
            .otherwise(col("id")).as("id")))
      }
    }
    def reads = tables.map(t => Meta.Versioned.readCommitted(spark, root, t.name)
      .as[Long].collect().sorted.toSeq)
    val before = reads
    assert(before == Seq(Seq(3L), Seq(0L, 1L, 2L, 3L)))
    assert(new java.io.File(s"$root/snap/v=5").isDirectory)
    val (dead, deleted) = Meta.Versioned.gc(spark, root, keepCommits = 1, minAgeMs = 0L)
    assert(dead == Seq(0L, 1L, 2L), s"$dead")
    // superseded snapshots and the unclaimed staged version go; every
    // segment stays, since the newest manifest names them all
    assert(deleted.toSet == Set("snap/v=1", "snap/v=2", "snap/v=3", "snap/v=5"), s"$deleted")
    assert((1L to 4L).forall(v => new java.io.File(s"$root/segs/v=$v").isDirectory))
    assert(reads == before, "gc must not move a standing read")
  }

  test("Versioned.changes: snapshot-diff CDF tags insert/update/delete, " +
      "excludes unchanged rows, compares null-safely, rejects schema drift") {
    val root = graft.Tmp.dir("meta-cdf").toString
    val v1 = Seq(1L -> Some("a"), 2L -> Some("b"), 3L -> None,
      4L -> Some("d"), 6L -> None, 7L -> Some("g")).toDF("id", "v")
    val v2 = Seq(1L -> Some("a"), 2L -> Some("B"), 3L -> Some("c"),
      5L -> Some("e"), 6L -> None, 7L -> None).toDF("id", "v")
    assert(Meta.Versioned.publishAll(root, Seq("t" -> v1)) == 1L)
    assert(Meta.Versioned.publishAll(root, Seq("t" -> v2)) == 2L)
    val feed = Meta.Versioned.changes(spark, root, "t", 1L, 2L, Seq("id"))
      .collect().map(r => r.getLong(0) -> (Option(r.getString(1)), r.getString(2))).toMap
    assert(feed == Map(
      2L -> (Some("B"), "update"), // value changed → postimage
      3L -> (Some("c"), "update"), // null → value is an update, not an insert
      4L -> (Some("d"), "delete"), // preimage carried for the delete
      5L -> (Some("e"), "insert"),
      7L -> (None, "update")),     // value → NULL keeps the NULL postimage,
      s"got $feed")                // never resurrects the old value
    // 1 (identical) and 6 (null==null) absent
    // schema drift between commits is an error, not a silent mis-diff
    assert(Meta.Versioned.publishAll(root,
      Seq("t" -> Seq((7L, 1.0)).toDF("id", "w"))) == 3L)
    intercept[IllegalArgumentException] {
      Meta.Versioned.changes(spark, root, "t", 2L, 3L, Seq("id"))
    }
  }
}

/** In-JVM rendezvous for the racing-committers test: both staging tasks
  * must be running before either may finish (local mode — the closure's
  * static reference resolves to this singleton). */
object MetaSpecRaceGate {
  @volatile var latch: java.util.concurrent.CountDownLatch = _
}

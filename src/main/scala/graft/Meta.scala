package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table-maintenance / metadata operators (SURVEY.md §2.11 M1-M4).
  *
  * The reference probes Delta tables (`DeltaTable.isDeltaTable`,
  * jobs/bronze/bronze_builder.py:112), prints schema with nullability
  * (jobs/bronze/delta_schema_inspector.py:35-37), reads the table version
  * (jobs/silver/silver_reader.py:71) and previews count + first rows
  * (jobs/silver/silver_reader.py:70-78). Parquet-path equivalents here.
  */
object Meta {

  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Order-independent bucketed content checksum — the anti-entropy
    * primitive for comparing two 100 TB replicas WITHOUT sorting or
    * shipping either: each row hashes to a 32-bit value (md5-derived,
    * [[graft.ops.Text.strHash32]] — any engine reproduces it), rows
    * bucket by hash mod `buckets`, and each bucket aggregates (count,
    * Σhash). Sum is commutative, so partitioning, file layout, and row
    * order cannot change a bucket's checksum; replicas compare B tiny
    * rows, and only a DIVERGED bucket needs a row-level diff (the
    * [[Versioned.changes]] feed scoped to that hash range). Σhash runs
    * in DECIMAL(38,0): ~1e12 rows × 2^32 overflows a long, and the
    * checksum must be exact, not approximately exact.
    *
    * Caveats: columns are checksummed through their STRING casts —
    * restrict to types whose rendering both engines share (integers,
    * strings, dates; NOT doubles); NULL renders as a \\u0001 sentinel
    * distinct from the empty string (concat_ws would silently drop
    * nulls and alias ("a", NULL) with ("a")). Each rendering is
    * LENGTH-PREFIXED ("3:abc") before joining — a bare separator would
    * alias ("a|b","c") with ("a","b|c") and let genuinely divergent
    * replicas checksum equal; len:value framing decodes uniquely, so
    * no cross-column aliasing exists at all. */
  def tableChecksum(df: DataFrame, cols: Seq[String],
      buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty && buckets >= 1,
      s"bad checksum spec: $cols / $buckets")
    val rendered = cols.map { c =>
      val s = coalesce(col(c).cast("string"), lit("\u0001"))
      concat(length(s).cast("string"), lit(":"), s)
    }
    val h = graft.ops.Text.strHash32(concat_ws("|", rendered: _*))
    df.select(pmod(h, lit(buckets.toLong)).as("bucket"), h.as("_h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(col("_h").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("checksum"))
  }

  /** M1: does a readable table exist at `path`? True iff the directory
    * exists and contains at least one parquet part file at any depth
    * (partitioned tables nest part files under key=value directories;
    * an empty dir — e.g. a failed write — is not a table). */
  def tableExists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(p) && {
      val it = f.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val n = it.next().getPath.getName
        found = n.endsWith(".parquet") || n.startsWith("part-")
      }
      found
    }
  }

  /** M2: schema inspection — (name, type, nullable) per field, the shape
    * the reference's inspector prints. */
  def describeSchema(df: DataFrame): Seq[(String, String, Boolean)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType.simpleString, f.nullable))

  /** M3: version stand-in without a transaction log — the latest
    * modification time (epoch millis) over the table's files. Monotone
    * under append/overwrite, so usable as a snapshot marker. */
  def snapshotVersion(spark: SparkSession, path: String): Option[Long] = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) None
    else f.listStatus(p).map(_.getModificationTime) match {
      case Array() => None
      case ts      => Some(ts.max)
    }
  }

  /** M2 extended: schema DIFF between two retained snapshot versions —
    * the release-notes view of evolution (what a consumer broke on):
    * columns ADDED/DROPPED and TYPE_CHANGED with both types named, one
    * row per drifted column, sorted. Pure metadata (schemas are footer
    * data; no table scan), the complement of the read-side
    * schema-evolution merge (L33) — that makes old data READABLE, this
    * makes the change REVIEWABLE. */
  def schemaDiff(spark: SparkSession, path: String,
      v1: Long, v2: Long): DataFrame = {
    def types(v: Long): Seq[(String, String)] =
      Versioned.read(spark, path, Some(v)).schema.fields.toSeq
        .map(f => f.name -> f.dataType.simpleString)
    val (m1, m2) = (types(v1).toMap, types(v2).toMap)
    val rows =
      (m1.keySet -- m2.keySet).toSeq.sorted
        .map(c => (c, "DROPPED", m1(c), null: String)) ++
      (m2.keySet -- m1.keySet).toSeq.sorted
        .map(c => (c, "ADDED", null: String, m2(c))) ++
      (m1.keySet & m2.keySet).toSeq.sorted
        .collect { case c if m1(c) != m2(c) =>
          (c, "TYPE_CHANGED", m1(c), m2(c)) }
    import spark.implicits._
    rows.sortBy(_._1)
      .toDF("column", "change", "from_type", "to_type")
  }

  /** M4: row count + first-n preview in one pass over a cached scan
    * (the reference runs count() and head() as two scans). */
  def preview(df: DataFrame, n: Int = 5): (Long, Seq[Row]) = {
    val rows = df.limit(n + 1).collect().toSeq
    // avoid a full count when the caller only wants a bounded preview probe
    val total = if (rows.size <= n) rows.size.toLong else df.count()
    (total, rows.take(n))
  }

  /** M3 extended: versioned snapshot writes over plain parquet — the
    * time-travel surface the reference gets from Delta (`dt.version()`,
    * jobs/silver/silver_reader.py:71), rebuilt on directory layout:
    * every write lands in `path/v=<n+1>`, readers resolve latest or any
    * retained historical version. Writers never mutate a published
    * snapshot, so concurrent readers of version n are isolated from the
    * n+1 write — the same immutability contract a transaction log gives,
    * minus cross-table atomicity. */
  /** A manifest commit lost its claim race: another writer committed
    * between this writer's read of the chain and its rename-if-absent.
    * Retryable by construction — re-read the newest commit and redo the
    * work on top of it (same contract as a lake format's
    * ConcurrentModificationException). */
  final class CommitConflictException(msg: String, cause: Throwable)
    extends java.io.IOException(msg, cause)

  object Versioned {
    // STRICTLY v=<digits> — maintenance debris (e.g. Scale.compact's
    // sibling `v=1_compacting` / `v=1_old` work dirs) must be invisible
    // to the version surface, not a parse crash
    private val VersionDir = "^v=(\\d+)$".r

    private def versions(spark: SparkSession, path: String): Seq[Long] = {
      val (f, p) = fs(spark, path)
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).toSeq
        .map(_.getPath.getName)
        .collect { case VersionDir(n) => n.toLong }
        .sorted
    }

    /** Publish `df` as the next version ([[publish]]); returns the new
      * version number. */
    def write(df: DataFrame, path: String): Long = publish(df, path, None)

    /** Stage `df` (and the `marker` file, if any) in `v=N_staging_<uuid>`,
      * N = latest + 1, then rename it to `v=N` (fail-if-exists): readers
      * see the whole version or none of it, and a write that fails
      * before the rename leaves only debris for [[sweepStaging]]. */
    private def publish(df: DataFrame, path: String, marker: Option[String]): Long = {
      val spark = df.sparkSession
      val next = versions(spark, path).lastOption.getOrElse(0L) + 1
      val (f, _) = fs(spark, path)
      val staging = new org.apache.hadoop.fs.Path(
        s"$path/v=${next}_staging_${java.util.UUID.randomUUID}")
      df.write.mode("errorifexists").parquet(staging.toString)
      marker.foreach(m => f.create(new org.apache.hadoop.fs.Path(staging, m), true).close())
      val dst = new org.apache.hadoop.fs.Path(s"$path/v=$next")
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        f.getUri, spark.sparkContext.hadoopConfiguration)
      try fc.rename(staging, dst, org.apache.hadoop.fs.Options.Rename.NONE)
      catch { case e: java.io.IOException =>
        f.delete(staging, true)
        throw e
      }
      next
    }

    // ------- exactly-once streaming folds (the Delta `txn` pattern) -------
    //
    // foreachBatch is AT-LEAST-once: Spark retries a batch whose function
    // threw after a partial write, so a non-idempotent fold (a sum, a
    // moments update) applied with plain [[write]] would double the
    // replayed delta. Delta solves this with a `txn` action (appId +
    // monotonically increasing version) committed atomically WITH the
    // data; [[writeOnce]] replays that shape on the `v=` chain: the
    // snapshot is staged with a `_txn_<appId>_<batchId>` marker file
    // inside it and published by one directory rename, so the marker
    // becomes visible atomically with the data, and a replayed batch
    // (same appId, batchId ≤ the newest recorded) is detected and
    // skipped. Underscore-prefixed files are invisible to parquet scans
    // — but ONLY while the name contains no '=': Spark's hidden-path
    // filter keeps `_`-names with '=' (they look like partition dirs),
    // so the marker must never use '=' and appId must not contain '_'
    // (it would make the name parse ambiguous).

    private val TxnFile = "^_txn_([A-Za-z0-9.-]+)_(\\d+)$".r

    /** Newest recorded batchId for `appId` across retained versions, or
      * None. Scans version dirs newest-first (driver-side listing at
      * manifest scale — O(versions), no data read). */
    def lastTxn(spark: SparkSession, path: String, appId: String): Option[Long] = {
      val (f, _) = fs(spark, path)
      versions(spark, path).reverseIterator.flatMap { v =>
        f.listStatus(new org.apache.hadoop.fs.Path(s"$path/v=$v")).toSeq
          .map(_.getPath.getName)
          .collectFirst { case TxnFile(a, b) if a == appId => b.toLong }
      }.nextOption()
    }

    /** Exactly-once [[write]] for streaming foreachBatch folds: applies
      * `df` as the next version tagged (appId, batchId), or no-ops when
      * that batch was already applied (an at-least-once replay). Returns
      * Some(version) when applied, None when skipped.
      *
      * Crash windows: failure before the publish rename leaves only an
      * unreferenced staging dir (debris — the retry re-applies from the
      * unchanged standing table); failure after it finds the marker and
      * skips. One writer per (path, appId) — concurrent folds of the
      * same table need the manifest CAS layer, not this. Retention
      * caveat (same as Delta's): [[vacuum]] must keep at least the
      * newest marker-bearing version while the stream can still retry.
      * `graft.streaming.Streams.foldOnce` commits through this, and seeds
      * each declared `Streams.FoldTable` with it under the shape appId. */
    def writeOnce(df: DataFrame, path: String, appId: String,
        batchId: Long): Option[Long] = {
      require(TxnFile.pattern.matcher(s"_txn_${appId}_0").matches,
        s"appId '$appId' must match [A-Za-z0-9.-]+ (no underscores)")
      if (lastTxn(df.sparkSession, path, appId).exists(_ >= batchId)) None
      else Some(publish(df, path, Some(s"_txn_${appId}_$batchId")))
    }

    /** Latest version number, if any snapshot exists. */
    def latestVersion(spark: SparkSession, path: String): Option[Long] =
      versions(spark, path).lastOption

    /** True iff `(appId, batchId)` is already committed at `path` — the
      * FOLD-side replay guard. [[writeOnce]] already skips the WRITE of
      * a replayed batch, but it can only check the marker after the
      * caller has built (and for eager folds, computed) the frame to
      * write. `graft.streaming.Streams.foldOnce` runs this check for
      * every declared `Streams.FoldTable` before calling its step, and
      * skips the step when all of them record the batch; folds get the
      * guard from that harness instead of calling this themselves. */
    def committed(spark: SparkSession, path: String, appId: String,
        batchId: Long): Boolean =
      lastTxn(spark, path, appId).exists(_ >= batchId)

    /** SEGMENT-LOG read: the union of EVERY retained version at `path`.
      *
      * [[writeOnce]] is commit machinery — it does not care whether the
      * frame a fold hands it is a full rewritten snapshot or just the
      * batch's delta. The round-20 streaming folds all passed
      * `read(standing).unionByName(delta)`, i.e. full-snapshot-per-
      * version: exactly-once, but the standing artifact is REWRITTEN
      * every micro-batch — O(|standing|) write amplification per
      * trigger, which at 100 TB means re-writing a corpus-sized
      * postings/ownership table per arriving batch. Folds whose
      * standing table is append-only (postings, owner rows, rewrite
      * results, additive count deltas) instead writeOnce ONLY the delta
      * and read the table back through this union — O(|delta|) written
      * per batch, the parquet-segment shape every real index/lake
      * maintains (plus periodic compaction, which here is [[write]] of
      * the squashed union when a caller wants it). Txn markers, replay
      * skip, and every crash window are unchanged — the marker scan
      * ([[lastTxn]]) already walks all retained versions. Retention
      * caveat: [[vacuum]] on a segment log would DROP DATA (old versions
      * are segments, not superseded snapshots), so it refuses a path
      * seeded as `Streams.Segments`; compact-then-rewrite instead. Folds
      * declare such a table as a `Streams.Segments` `FoldTable`, which
      * passes its seed's schema as `schema` instead of inferring it. */
    def readAll(spark: SparkSession, path: String,
        schema: Option[StructType] = None): DataFrame = {
      val vs = versions(spark, path)
      require(vs.nonEmpty, s"no versions at $path")
      schema.fold(spark.read)(spark.read.schema).parquet(vs.map(v => s"$path/v=$v"): _*)
    }

    /** Read latest (version = None) or a specific retained snapshot;
      * a given `schema` replaces the inference job (see [[readAll]]). */
    def read(spark: SparkSession, path: String, version: Option[Long] = None,
        schema: Option[StructType] = None): DataFrame = {
      val v = version.orElse(latestVersion(spark, path)).getOrElse(
        throw new IllegalArgumentException(s"no versions at $path"))
      schema.fold(spark.read)(spark.read.schema).parquet(s"$path/v=$v")
    }

    /** The seed appId that marks a `Streams.Segments` log. */
    private[graft] val SegmentsAppId = "segments"

    /** Drop all but the newest `keep` snapshots (VACUUM). Also reclaims
      * pre-publish crash debris older than `stagingGraceMs`
      * ([[sweepStaging]]). Refuses a segment log (a `Streams.Segments`
      * seed marker), see [[readAll]]. */
    def vacuum(spark: SparkSession, path: String, keep: Int,
        stagingGraceMs: Long = 10 * 60 * 1000L): Seq[Long] = {
      require(lastTxn(spark, path, SegmentsAppId).isEmpty,
        s"$path is a segment log: vacuum would drop its data")
      val dead = versions(spark, path).dropRight(keep)
      val (f, _) = fs(spark, path)
      dead.foreach(v => f.delete(new org.apache.hadoop.fs.Path(s"$path/v=$v"), true))
      sweepStaging(spark, path, stagingGraceMs)
      dead
    }

    /** Reclaims pre-publish crash debris: a [[publish]] that died before its
      * rename leaves a `v=N_staging_<uuid>` dir with full parquet data.
      * Any staging dir whose N is ≤ the latest PUBLISHED version is
      * provably dead (a publish only claims latest+1, so that N has
      * either published from a different staging dir or been skipped) —
      * delete it. A staging dir with N = latest+1 may be an in-flight
      * write and is left alone; it becomes dead — and collectable on
      * the next sweep — as soon as any later write publishes.
      *
      * "Dead" is about OUTCOME, not quiescence: a still-running
      * write whose target N was published first by a faster writer
      * is doomed either way (its rename would refuse the existing
      * `v=N`), but deleting its staging dir mid-write turns that clean
      * rename refusal into task IO errors, and its own error-path
      * cleanup then deletes an already-deleted path. `graceMs`
      * keeps the doomed writer's failure mode clean: staging dirs
      * modified within the grace window are skipped this cycle and
      * collected by any later sweep (Delta's VACUUM has the same
      * recent-file retention check, for the same reason). Returns the
      * names of the dirs deleted; a published version is never touched. */
    private val StagingDir = "^v=(\\d+)_staging_.*$".r
    private def sweepStaging(spark: SparkSession, path: String,
        graceMs: Long): Seq[String] = {
      val (f, p) = fs(spark, path)
      val latest = versions(spark, path).lastOption.getOrElse(-1L)
      val cutoff = System.currentTimeMillis() - graceMs
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).toSeq.flatMap { st =>
        st.getPath.getName match {
          case name @ StagingDir(n) if n.toLong <= latest &&
              st.getModificationTime < cutoff && f.delete(st.getPath, true) =>
            Some(name)
          case _ => None
        }
      }
    }

    // ------- cross-table ATOMIC publish (manifest pointer) -------
    //
    // Per-table `write` gives snapshot isolation WITHIN one table; a
    // pipeline that publishes several tables per run (the reference's
    // bronze MERGE commits dims + facts through one Delta log) needs the
    // SET to appear atomically. Parquet-native equivalent: stage every
    // table's next `v=` dir (invisible to manifest readers), then commit
    // ONE manifest file via atomic rename — the commit point. Readers
    // resolve versions exclusively through the newest manifest, so they
    // observe either the complete old set or the complete new set, never
    // a torn mix; a crash between staging and commit leaves only
    // unreferenced version dirs (debris, not corruption). Commit ids are
    // claimed by rename-if-absent, so a lost race throws rather than
    // overwriting another writer's manifest.

    private val CommitFile = "^_commit=(\\d+)$".r

    private def commits(spark: SparkSession, root: String): Seq[Long] = {
      val (f, p) = fs(spark, root)
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).toSeq
        .map(_.getPath.getName)
        .collect { case CommitFile(n) => n.toLong }
        .sorted
    }

    /** Claim the next commit id by writing the manifest aside (under a
      * writer-unique staging name — two racers must never share one) and
      * renaming it to `_commit=<id>` with fail-if-exists semantics. Plain
      * `FileSystem.rename` is NOT that: on the local filesystem it maps
      * to POSIX rename(2), which silently REPLACES an existing
      * destination file — a lost race would overwrite the winner's
      * manifest. `FileContext` with `Options.Rename.NONE` refuses an
      * existing destination — atomically on HDFS (namenode-serialized);
      * object stores without atomic rename need an external commit-claim
      * service, same caveat as any log-structured lake format. On the
      * LOCAL filesystem, though, Hadoop implements fail-if-exists as an
      * exists() check followed by plain rename(2) — a TOCTOU window in
      * which two racers can both pass the check and silently replace
      * each other (observed once as a flaky ChecksumException: the two
      * racers' data/crc sidecar renames interleaved). Local claims
      * therefore go through `Files.createLink` instead: hard-link
      * creation is kernel-atomic fail-if-exists, so exactly one racer
      * ever materializes `_commit=<id>`. Returns the claimed id; a lost
      * race throws [[CommitConflictException]] and removes only this
      * writer's staging file.
      *
      * `claim` pins the id instead of recomputing latest+1 at commit
      * time. A read-modify-write caller (compaction) MUST pass the id
      * it read plus one: recomputing here would let a concurrent commit
      * land in between without ever colliding, and the stale rewrite
      * would silently revert it. With the pin, any intervening commit
      * makes the rename-if-absent CAS fail — a retryable conflict. */
    private[graft] def commitManifest(spark: SparkSession, root: String,
        versions: Seq[(String, Long)], claim: Option[Long] = None): Long = {
      val (f, _) = fs(spark, root)
      val id = claim.getOrElse(commits(spark, root).lastOption.getOrElse(0L) + 1)
      val tmp = new org.apache.hadoop.fs.Path(
        s"$root/_commit_staging_${id}_${java.util.UUID.randomUUID}")
      val out = f.create(tmp, true)
      try out.write(versions.map { case (n, v) => s"$n\t$v" }.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val dst = new org.apache.hadoop.fs.Path(s"$root/_commit=$id")
      def lostRace(e: Throwable): Nothing = {
        f.delete(tmp, false)
        throw new CommitConflictException(
          s"commit $id already claimed by a concurrent writer; " +
            "staged version dirs left as debris (re-run to publish)", e)
      }
      def renameClaim(): Unit = {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          f.getUri, spark.sparkContext.hadoopConfiguration)
        try fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.NONE)
        catch {
          // only the fail-if-exists signal means a lost race; any other
          // IO failure (ENOSPC, permissions, wedged FS) surfaces as itself
          case e: org.apache.hadoop.fs.FileAlreadyExistsException => lostRace(e)
          case e: java.io.IOException =>
            f.delete(tmp, false)
            throw e
        }
      }
      if (f.getUri.getScheme == "file") {
        // kernel-atomic claim: link(2) fails with EEXIST, no TOCTOU
        val linked =
          try {
            java.nio.file.Files.createLink(
              java.nio.file.Paths.get(dst.toUri.getPath),
              java.nio.file.Paths.get(tmp.toUri.getPath))
            true
          } catch {
            case e: java.nio.file.FileAlreadyExistsException => lostRace(e)
            case _: UnsupportedOperationException =>
              // local mounts without hard links (VFAT/SMB/…): fall back to
              // the rename claim rather than refusing to commit at all
              renameClaim()
              false
            case e: java.io.IOException =>
              f.delete(tmp, false) // never leak the staging file
              throw e
          }
        // once the link exists the commit IS published — a failure
        // cleaning up the staging name must not surface as a failed
        // commit (the caller would retry, claim a fresh id, and publish
        // the same version set twice). The leftover staging file is
        // ordinary gc-able debris.
        if (linked)
          try f.delete(tmp, false)
          catch { case e: java.io.IOException =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"commit $id published but staging file $tmp not removed " +
                s"(gc-able debris): $e")
          }
      } else renameClaim()
      id
    }

    /** Publish every (tableName → df) as one atomic commit; returns the
      * commit id. Tables live at `root/<name>` with the usual `v=` layout. */
    def publishAll(root: String, tables: Seq[(String, DataFrame)]): Long = {
      require(tables.nonEmpty, "publishAll requires at least one table")
      tables.foreach { case (n, _) =>
        require(n.nonEmpty && !n.contains("/") && !n.startsWith("_"),
          s"illegal table name: $n")
      }
      val spark = tables.head._2.sparkSession
      // stage: each table's next version dir, not yet referenced anywhere
      val staged = tables.map { case (name, df) => name -> write(df, s"$root/$name") }
      commitManifest(spark, root, staged)
    }

    /** Compact one table of the newest commit THROUGH the manifest: the
      * committed version's files are rewritten (row-proportional file
      * count, as [[graft.ops.Scale.compact]]) into a NEW staged `v=` dir,
      * then a new manifest commits the whole set with only this table's
      * version advanced. No readable path is ever renamed or deleted, so
      * a reader resolving the old manifest keeps its files and a reader
      * resolving the new one gets the rewrite — never neither. This is
      * the live-table compaction path (the reference's Delta OPTIMIZE,
      * which commits through the log); `Scale.compact`'s in-place swap
      * remains for raw non-versioned dirs in a quiesced window. Old
      * versions are reclaimed later by retention vacuum, exactly like
      * snapshots. Returns (commitId, filesBefore, filesAfter).
      *
      * Read-modify-write safety: the base commit id is captured when
      * the versions map is read, and the new manifest claims exactly
      * baseId+1. A commit landing in between therefore fails the CAS
      * with a [[CommitConflictException]] instead of being silently
      * reverted by a stale republish — retry by re-running (the next
      * attempt reads the fresh chain; the orphaned rewrite dir is
      * reclaimed by [[gc]]). */
    def compactTable(spark: SparkSession, root: String, table: String,
        targetRowsPerFile: Long): (Long, Int, Int) = {
      val baseId = commits(spark, root).lastOption.getOrElse(
        throw new IllegalArgumentException(s"no commits at $root"))
      compactTableFrom(spark, root, table, targetRowsPerFile, baseId)
    }

    /** The RMW core with the base commit pinned by the caller — the
      * seam the conflict spec drives (publish between read and commit,
      * deterministically). Production entry is [[compactTable]]. */
    private[graft] def compactTableFrom(spark: SparkSession, root: String,
        table: String, targetRowsPerFile: Long, baseId: Long): (Long, Int, Int) = {
      val current = committedVersions(spark, root, Some(baseId)).getOrElse(
        throw new IllegalArgumentException(s"no commit $baseId at $root"))
      val v = current.getOrElse(table,
        throw new IllegalArgumentException(s"table $table not in commit: $current"))
      val src = s"$root/$table/v=$v"
      val (f, _) = fs(spark, root)
      def parquetFiles(p: String): Int =
        f.listStatus(new org.apache.hadoop.fs.Path(p))
          .count(_.getPath.getName.endsWith(".parquet"))
      val df = spark.read.parquet(src)
      val files = math.max(1,
        math.ceil(df.count().toDouble / targetRowsPerFile).toInt)
      val newV = write(df.repartition(files), s"$root/$table")
      val id = commitManifest(spark, root,
        (current.updated(table, newV)).toSeq.sortBy(_._1),
        claim = Some(baseId + 1))
      (id, parquetFiles(src), parquetFiles(s"$root/$table/v=$newV"))
    }

    /** The (table → version) set of `commit` (default: newest commit);
      * None if the root has no commits yet. */
    def committedVersions(spark: SparkSession, root: String,
        commit: Option[Long] = None): Option[Map[String, Long]] = {
      val id = commit.orElse(commits(spark, root).lastOption)
      id.map { c =>
        val (f, _) = fs(spark, root)
        val in = f.open(new org.apache.hadoop.fs.Path(s"$root/_commit=$c"))
        val bytes =
          try {
            val buf = new java.io.ByteArrayOutputStream()
            val chunk = new Array[Byte](8192)
            var n = in.read(chunk)
            while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
            buf.toByteArray
          } finally in.close()
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").toSeq.filter(_.nonEmpty)
          .map { line =>
            val Array(name, v) = line.split("\t")
            name -> v.toLong
          }.toMap
      }
    }

    /** Reclaim unreferenced storage under the manifest layout: drop all
      * but the newest `keepCommits` manifests, then delete every version
      * dir no retained manifest references — vacuumed snapshots,
      * torn-publish debris, lost-race staged dirs and (with `minAgeMs`
      * as grace) [[sweepStaging]]'s dead staging dirs. The min-age
      * guard (same mitigation as Delta VACUUM's retention window) keeps
      * a version dir a CONCURRENT in-flight publishAll just staged but
      * has not yet committed: fresh dirs are never deleted, so gc is
      * safe to run alongside writers as long as a stage→commit never
      * takes `minAgeMs`. Readers of retained commits are unaffected;
      * a reader pinned to a dropped commit fails explicitly. Returns
      * (droppedCommitIds, deleted dirs as `table/name`). */
    def gc(spark: SparkSession, root: String, keepCommits: Int,
        minAgeMs: Long = 3600000L): (Seq[Long], Seq[String]) = {
      require(keepCommits >= 1, "gc must retain at least the newest commit")
      val all = commits(spark, root)
      val dead = all.dropRight(keepCommits)
      val keep = all.takeRight(keepCommits)
      val (f, rootPath) = fs(spark, root)
      val live: Set[(String, Long)] = keep.flatMap { c =>
        committedVersions(spark, root, Some(c)).get.toSeq
      }.toSet
      dead.foreach(c =>
        f.delete(new org.apache.hadoop.fs.Path(s"$root/_commit=$c"), false))
      val cutoff = System.currentTimeMillis() - minAgeMs
      val deleted =
        if (!f.exists(rootPath)) Seq.empty[String]
        else f.listStatus(rootPath).toSeq
          .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
          .flatMap { t =>
            val table = t.getPath.getName
            sweepStaging(spark, s"$root/$table", minAgeMs).map(n => s"$table/$n") ++
            versions(spark, s"$root/$table")
              .filterNot(v => live.contains(table -> v))
              .filter { v =>
                val p = new org.apache.hadoop.fs.Path(s"$root/$table/v=$v")
                // age = the NEWEST timestamp visible under the dir. On
                // object stores "directories" are synthetic and their
                // mtime is meaningless (often 0 → everything looks
                // ancient), but the contained objects carry real
                // timestamps — so an in-flight stage's fresh files keep
                // protecting it there too. Empty dir: fall back to the
                // dir status (local/HDFS give a real mtime; a 0 on an
                // object store only widens deletion to an empty husk).
                val contained = f.listStatus(p).map(_.getModificationTime)
                val newest =
                  if (contained.nonEmpty) contained.max
                  else f.getFileStatus(p).getModificationTime
                newest <= cutoff
              }
              .flatMap { v =>
                // report only what was ACTUALLY removed — a false delete
                // (open handle, permissions) must not read as reclaimed
                if (f.delete(new org.apache.hadoop.fs.Path(s"$root/$table/v=$v"), true))
                  Some(s"$table/v=$v")
                else None
              }
          }
      (dead, deleted)
    }

    /** Change data feed between two commits: the row-level delta a
      * downstream consumer reads INSTEAD of re-scanning the snapshot
      * (the reference's Delta CDF surface, jobs/silver reads). Since
      * parquet snapshots carry no write-time change log, the feed is a
      * snapshot diff: one full-outer join of the two committed versions
      * on `keys`, comparing all non-key columns null-safely. Emits
      * `change_type` ∈ insert / update / delete with the postimage row
      * (the preimage for deletes); unchanged rows are excluded. Scale:
      * one key-partitioned shuffle join between the versions — with the
      * bucketed write layout (`Scale.writeBucketed`) both sides
      * co-locate and the exchange disappears; a MERGE-time capture would
      * avoid the join entirely but needs a transaction log. */
    def changes(spark: SparkSession, root: String, table: String,
        fromCommit: Long, toCommit: Long, keys: Seq[String],
        preimages: Boolean = false): DataFrame =
      snapshotDiff(
        readCommitted(spark, root, table, Some(fromCommit)),
        readCommitted(spark, root, table, Some(toCommit)),
        keys, preimages)

    /** The diff engine beneath [[changes]], usable on ANY two same-
      * schema frames (staged versions, cross-cluster replicas, a
      * pre-publish dry run) — the commit chain is just one source of
      * inputs. */
    def snapshotDiff(o: DataFrame, n: DataFrame, keys: Seq[String],
        preimages: Boolean = false): DataFrame = {
      import org.apache.spark.sql.functions._
      require(o.columns.sorted.sameElements(n.columns.sorted),
        s"schema drift between snapshots: " +
          s"${o.columns.toSeq} vs ${n.columns.toSeq}")
      require(keys.nonEmpty && keys.forall(o.columns.contains),
        s"keys $keys not all present in ${o.columns.toSeq}")
      val nonKeys = o.columns.toSeq.filterNot(keys.contains)
      val os = o.select(keys.map(col) :+ struct(nonKeys.map(col): _*).as("_old"): _*)
      val ns = n.select(keys.map(col) :+ struct(nonKeys.map(col): _*).as("_new"): _*)
      val joined = os.join(ns, keys, "full_outer")
      if (!preimages)
        joined
          .withColumn("change_type",
            when(col("_old").isNull, "insert")
              .when(col("_new").isNull, "delete")
              .when(!(col("_old") <=> col("_new")), "update")
              .otherwise(lit(null)))
          .filter(col("change_type").isNotNull)
          // postimage row = the NEW side whenever it exists (per-ROW branch
          // on _new, never per-column coalesce: an update that nulls a
          // column out must emit NULL, not resurrect the old value)
          .select(keys.map(col) ++
            nonKeys.map(c => when(col("_new").isNotNull, col(s"_new.$c"))
              .otherwise(col(s"_old.$c")).as(c)) :+
            col("change_type"): _*)
      else {
        // Delta CDF's 4-value surface: updates emit BOTH images, which is
        // what downstream incremental-view maintenance needs (a sum can't
        // be maintained without subtracting the preimage). One explode per
        // joined row — unchanged rows map to NULL and explode drops them,
        // so the tagged fan-out costs no second join or union re-scan.
        val tagged = explode(
          when(col("_old").isNull,
            array(struct(lit("insert").as("t"), col("_new").as("img"))))
          .when(col("_new").isNull,
            array(struct(lit("delete").as("t"), col("_old").as("img"))))
          .when(!(col("_old") <=> col("_new")),
            array(struct(lit("update_preimage").as("t"), col("_old").as("img")),
              struct(lit("update_postimage").as("t"), col("_new").as("img")))))
        joined
          .select(keys.map(col) :+ tagged.as("_ch"): _*)
          .select(keys.map(col) ++
            nonKeys.map(c => col(s"_ch.img.$c").as(c)) :+
            col("_ch.t").as("change_type"): _*)
      }
    }

    /** Apply a change feed (the output of [[changes]]) to a replica of
      * the old snapshot: drop every touched key, add back the non-delete
      * postimage rows. One left-anti join + union — the consumer-side
      * mirror maintenance step, costing the feed's size rather than a
      * snapshot rescan. `applyChanges(v1, changes(v1→v2)) == v2` exactly
      * (pinned as a randomized property in MetaSpec). */
    def applyChanges(target: DataFrame, feed: DataFrame,
        keys: Seq[String]): DataFrame = {
      import org.apache.spark.sql.functions.col
      require(feed.columns.contains("change_type"),
        s"not a change feed: ${feed.columns.toSeq}")
      val touched = feed.select(keys.map(col): _*).distinct().alias("_k")
      val upserts = feed.filter(col("change_type") =!= "delete").drop("change_type")
      // NULL-SAFE anti join: changes() tags a null-key row as
      // delete+insert (nulls never equi-join), so the apply side must
      // drop null-key target rows too — plain equality would keep them
      val cond = keys.map(c => col(s"_t.$c") <=> col(s"_k.$c")).reduce(_ && _)
      target.alias("_t").join(touched, cond, "left_anti").unionByName(upserts)
    }

    /** Compose two consecutive PREIMAGE change feeds (the 4-value
      * output of [[changes]]/[[snapshotDiff]] with `preimages = true`)
      * into the single feed spanning both: the checkpoint-compaction
      * step a CDC consumer runs so replaying history costs one squashed
      * feed instead of every intermediate one. Exact algebra, pinned in
      * MetaSpec: compose(diff(v1,v2), diff(v2,v3)) == diff(v1,v3),
      * including the cancellation cases (insert then delete nets to
      * nothing; update back to the original value nets to nothing).
      *
      * Per key each feed condenses to (old?, new?) — delete/update_pre
      * carry the old image, insert/update_post the new — then the
      * composed old is the FIRST feed's (a key untouched by it kept its
      * v1 state, which equals the second feed's preimage), the composed
      * new the SECOND's. Scale: one map-combined condense per feed +
      * one key-partitioned full-outer join, all feed-sized — the
      * snapshots are never read. Keys must be NON-NULL (a null-key row
      * diffs as delete+insert per row, which per-key condensation
      * cannot represent) — violations raise rather than mis-compose. */
    def composeFeeds(ab: DataFrame, bc: DataFrame,
        keys: Seq[String]): DataFrame = {
      import org.apache.spark.sql.functions._
      require(ab.columns.sorted.sameElements(bc.columns.sorted),
        s"feed schema drift: ${ab.columns.toSeq} vs ${bc.columns.toSeq}")
      Seq(ab, bc).foreach(f => require(f.columns.contains("change_type"),
        s"not a change feed: ${f.columns.toSeq}"))
      val nonKeys = ab.columns.toSeq
        .filterNot(keys.contains).filterNot(_ == "change_type")
      def condense(f: DataFrame, tag: String) = {
        val img = struct(nonKeys.map(col): _*)
        // null keys never equi-join, so snapshotDiff tags them as
        // delete+insert PER ROW — per-key condensation would silently
        // collapse them into a fabricated update. Fail loudly instead.
        // Same for the change-type vocabulary: a 3-value feed
        // (preimages=false tags updates as plain 'update') matches
        // NEITHER condense branch and its updates would vanish — refuse
        // anything but the 4-value surface rather than drop changes.
        val guarded = f.filter(
          when(keys.map(col(_).isNull).reduce(_ || _),
            raise_error(lit("composeFeeds: null key in feed — null-key " +
              "rows do not compose; filter or key-fill them first")))
          // NULL change_type must hit the explicit isNull branch: the
          // negated isin alone evaluates to NULL (not true) on NULL, so
          // a null-tagged row would slip past the raise_error and be
          // silently dropped by the condensation instead of refusing
          .when(col("change_type").isNull || !col("change_type").isin(
              "insert", "delete", "update_preimage", "update_postimage"),
            raise_error(concat(lit("composeFeeds: change_type '"),
              coalesce(col("change_type"), lit("NULL")),
              lit("' is not the 4-value preimage vocabulary — " +
                "build feeds with preimages = true"))))
          .otherwise(lit(true)))
        guarded.groupBy(keys.map(col): _*)
          .agg(
            first(when(col("change_type")
              .isin("delete", "update_preimage"), img), ignoreNulls = true)
              .as(s"_old$tag"),
            first(when(col("change_type")
              .isin("insert", "update_postimage"), img), ignoreNulls = true)
              .as(s"_new$tag"),
            lit(true).as(s"_in$tag"))
      }
      val joined = condense(ab, "A").join(condense(bc, "B"), keys, "full_outer")
      val oldImg = when(col("_inA").isNotNull, col("_oldA")).otherwise(col("_oldB"))
      val newImg = when(col("_inB").isNotNull, col("_newB")).otherwise(col("_newA"))
      // same 4-value emission shape as snapshotDiff: unchanged (or fully
      // cancelled) keys map to NULL and the explode drops them
      val tagged = explode(
        when(oldImg.isNull && newImg.isNotNull,
          array(struct(lit("insert").as("t"), newImg.as("img"))))
        .when(oldImg.isNotNull && newImg.isNull,
          array(struct(lit("delete").as("t"), oldImg.as("img"))))
        .when(oldImg.isNotNull && newImg.isNotNull && !(oldImg <=> newImg),
          array(struct(lit("update_preimage").as("t"), oldImg.as("img")),
            struct(lit("update_postimage").as("t"), newImg.as("img")))))
      joined
        .select(keys.map(col) :+ tagged.as("_ch"): _*)
        .select(keys.map(col) ++
          nonKeys.map(c => col(s"_ch.img.$c").as(c)) :+
          col("_ch.t").as("change_type"): _*)
    }

    /** Read `table` at the committed version set — never a staged (torn)
      * write. `commit` pins a historical commit for cross-table time
      * travel. */
    def readCommitted(spark: SparkSession, root: String, table: String,
        commit: Option[Long] = None): DataFrame = {
      val versions = committedVersions(spark, root, commit).getOrElse(
        throw new IllegalArgumentException(s"no commits at $root"))
      val v = versions.getOrElse(table,
        throw new IllegalArgumentException(s"table $table not in commit: $versions"))
      read(spark, s"$root/$table", version = Some(v))
    }
  }

  /** Single-pass pipeline observability (`Dataset.observe`): named
    * metrics collected DURING an action over one scan — no second
    * count()/agg() pass over the input, which at 100 TB is the
    * difference between free metrics and a doubled read. */
  def observed(df: DataFrame, name: String,
      metrics: (String, org.apache.spark.sql.Column)*): (DataFrame, org.apache.spark.sql.Observation) = {
    require(metrics.nonEmpty, "observed requires at least one metric")
    val obs = org.apache.spark.sql.Observation(name)
    val exprs = metrics.map { case (alias, c) => c.as(alias) }
    (df.observe(obs, exprs.head, exprs.tail: _*), obs)
  }
}

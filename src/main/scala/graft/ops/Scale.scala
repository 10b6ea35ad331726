package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale techniques as first-class operators: explicit key salting for
  * extreme join skew, and bucketed table layout for exchange-free
  * co-located joins. Both are semantics-neutral — results are identical
  * to the plain join; only the physical distribution changes — so their
  * oracles are the unsalted/unbucketed SQL.
  */
object Scale {

  /** Salted inner equi-join for skewed keys: the large side spreads each
    * key's rows across `salts` sub-partitions via a deterministic row
    * hash; the small side is replicated once per salt. A hot key's
    * shuffle partition is thereby split `salts` ways. AQE's skew-join
    * split handles moderate skew at runtime; explicit salting is the
    * deterministic fallback for extreme single-key skew (and works for
    * aggregations-after-join where AQE cannot).
    */
  /** @param saltBy deterministic expression spreading a hot key's rows
    *   across salts (e.g. a narrow-column hash). Defaults to row-position
    *   spreading, which is type-safe but nondeterministic-flagged —
    *   prefer passing a cheap hash of stable columns. ANY assignment
    *   yields the same join result; the salt only splits shuffle
    *   partitions. */
  /** Skew profile of a join/agg key — the diagnostic that decides
    * WHETHER to salt and BY HOW MUCH before a 100 TB shuffle, instead
    * of discovering the skew from a straggling task. ONE map-combined
    * shuffle builds the per-key count table (partials are
    * NDV-sized, never row-sized); everything else derives from it
    * without touching the input again: totals/NDV from a tiny
    * re-aggregate, the top-K heavy keys via TakeOrdered (map-side
    * bounded heap — the full count table never collects anywhere), and
    * an HLL NDV twin bounds-pinned against the exact NDV so the
    * scan-only sketch variant is trusted where even one key-shuffle is
    * too dear. Per heavy key: exact count, share of the table, and the
    * suggested salt fan-out ceil(cnt·parts/N) — the bucket count that
    * levels that key back to the average partition (integer
    * arithmetic, oracle-replayable). */
  def skewProfile(df: DataFrame, key: String, topK: Int,
      parts: Int = 32): DataFrame = {
    require(topK >= 1 && parts >= 1, s"bad skewProfile spec: $topK/$parts")
    val k = col(key)
    val keyCounts = df.groupBy(k).agg(count(lit(1)).as("cnt"))
    // xxhash64 first: the HLL aggregate hashes LONGS, and casting a
    // STRING join key to long would null every row (hll≈0, hll_ok
    // always false); hashing keeps distinctness for any key type
    val stats = keyCounts.agg(
      sum(col("cnt")).as("n_total"),
      count(lit(1)).as("ndv"),
      call_function("graft_hll_distinct", xxhash64(k)).as("hll"))
    keyCounts
      .orderBy(col("cnt").desc, k)
      .limit(topK)
      .crossJoin(broadcast(stats))
      .select(k, col("cnt"),
        round(lit(100.0) * col("cnt") / col("n_total"), 6).as("share_pct"),
        expr(s"(cnt * ${parts}L + n_total - 1L) DIV n_total").as("salt"),
        col("ndv"),
        (abs(col("hll") - col("ndv")).cast("double") <= col("ndv") * lit(0.05))
          .as("hll_ok"))
  }

  def saltedEquiJoin(large: DataFrame, small: DataFrame, key: String,
      salts: Int, saltBy: Option[Column] = None): DataFrame = {
    val salt = saltBy.getOrElse(pmod(monotonically_increasing_id(), lit(salts.toLong)))
    val saltedLarge = large.withColumn("_salt", salt.cast("int") % salts)
    val saltedSmall = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLarge.join(saltedSmall, Seq(key, "_salt")).drop("_salt")
  }

  /** Write `df` bucketed and sorted by `key` into the session catalog —
    * the co-located layout: two tables bucketed the same way join with
    * NO shuffle exchange (pinned in PlansSpec). At 100 TB this is the
    * difference between re-shuffling the fact table per join and reading
    * it pre-partitioned; bucket count is sized to executor parallelism.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    // repartition on the key with width == bucket count: Spark's bucket
    // assignment is the same murmur3 hash as HashPartitioning, so each
    // task then holds exactly one bucket and writes ONE file — without
    // this, every input partition writes a file per bucket it touches
    // (p×b small files; at 32 partitions × 8 buckets the file-commit
    // overhead dominated the write).
    df.repartition(buckets, col(key)).write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)

  /** Z-order clustered write (the OPTIMIZE ZORDER layout op): cluster
    * rows so parquet per-file min/max statistics prune on ANY of the
    * clustering columns, not just a lead sort column. Each column is
    * linearly bucketed to `bitsPerCol` bits between its global min and
    * max (`width_bucket` — codegen'd, one stats pass), the bucket bits
    * are interleaved into a Z-address, and the frame is range-partitioned
    * and sorted by that address: every output file then covers roughly a
    * (1/numFiles)^(1/d) slice of EACH dimension's range, versus a single
    * lead-column sort where every non-lead dimension spans the full
    * range in every file. At 100 TB this is the difference between a
    * selective filter on a second column skipping most files and
    * scanning the lake. Bucketing is a pure per-row expression either
    * way:
    *   - linear (default): `width_bucket` between the global min and
    *     max — heavily skewed columns degrade toward fewer effective
    *     bits (most rows share a bucket) but never lose correctness;
    *   - `rankBuckets = true`: equi-DEPTH buckets from approxQuantile
    *     boundaries (indicator-sum ladder over broadcast literals,
    *     codegen'd) — every bucket holds ~equal rows regardless of the
    *     distribution, the right choice for zipfian columns. Capped at
    *     6 bits/col (63 boundary literals per column).
    *
    * Numeric columns only (cast dates/timestamps to epoch first).
    * Returns the written file count.
    */
  def zorderWrite(df: DataFrame, cols: Seq[String], numFiles: Int,
      out: String, bitsPerCol: Int = 8, rankBuckets: Boolean = false): Int = {
    // bitsPerCol capped at 20: far past useful clustering resolution and
    // safely inside Int shift range (1 << 31 would silently wrap)
    require(cols.nonEmpty && numFiles >= 1 && bitsPerCol >= 1 &&
      bitsPerCol <= 20 && bitsPerCol * cols.size <= 60,
      s"bad zorder spec: $cols / $bitsPerCol bits")
    require(!rankBuckets || bitsPerCol <= 6,
      s"rank bucketing supports at most 6 bits/col, got $bitsPerCol")
    val buckets = 1 << bitsPerCol
    // ONE stats pass either way. rankBuckets: a single multi-column
    // approxQuantile call (one job) yields every column's boundary
    // ladder — per-column calls inside the zkey loop would each rescan
    // the corpus, d extra full passes at the scale this op targets —
    // and the min/max aggregate is skipped entirely (the quantile
    // output also answers the degenerate check: all-null → empty
    // boundary array, constant → all boundaries equal). Linear mode
    // keeps the one min/max aggregate.
    val rankBounds: Array[Array[Double]] =
      if (rankBuckets)
        df.stat.approxQuantile(cols.toArray,
          (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
      else null
    val stats =
      if (rankBuckets) null
      else {
        val statCols = cols.flatMap(c =>
          Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
        df.agg(statCols.head, statCols.tail: _*).head()
      }
    val zkey = cols.zipWithIndex.map { case (c, i) =>
      // a null/empty stats cell (all-null or empty input) degrades to a
      // constant column: zero information, zero bits, still correct
      val degenerate =
        if (rankBuckets) rankBounds(i).isEmpty || rankBounds(i).distinct.length <= 1
        else stats.isNullAt(2 * i) || stats.isNullAt(2 * i + 1) ||
          stats.getDouble(2 * i + 1) <= stats.getDouble(2 * i)
      // width_bucket is 1-based and sends v==hi to buckets+1 → clamp to [0, buckets-1]
      val b =
        if (degenerate) lit(0L)
        else if (rankBuckets) {
          // bucket = #(quantile boundaries strictly below v): an
          // indicator-sum ladder over buckets-1 approximate boundaries
          rankBounds(i).toSeq.map(bd =>
            when(col(c).cast("double") > lit(bd), 1L).otherwise(0L))
            .reduce(_ + _)
        }
        else least(lit(buckets - 1L),
          greatest(lit(0L),
            width_bucket(col(c).cast("double"),
              lit(stats.getDouble(2 * i)), lit(stats.getDouble(2 * i + 1)),
              lit(buckets)) - 1))
      // significance-aligned interleave (Morton): bucket bit j of column
      // i lands at address bit j*d + (d-1-i), so every column's high
      // bits sit in the address's high bits
      (0 until bitsPerCol).map { j =>
        shiftleft(shiftright(b, j) % 2, j * cols.size + (cols.size - 1 - i))
      }.reduce(_ + _)
    }.reduce(_ + _)
    df.withColumn("_zaddr", zkey)
      .repartitionByRange(numFiles, col("_zaddr"))
      .sortWithinPartitions("_zaddr")
      .drop("_zaddr")
      .write.mode("overwrite").parquet(out)
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Small-file compaction (the OPTIMIZE maintenance op): rewrite a
    * parquet directory into ~`targetRowsPerFile`-row files. Streaming
    * append sinks and per-trigger commits leave thousands of tiny files;
    * at 100 TB an uncompacted table pays per-file open/footer cost on
    * every scan. Row-count-proportional repartition is the
    * deterministic-size stand-in for byte-targeted sizing; returns the
    * (filesBefore, filesAfter) pair for observability.
    *
    * All directory surgery goes through Hadoop `FileSystem` (resolved
    * from the table path, same as [[graft.Meta]]), so the operator works
    * on any Hadoop-compatible filesystem, not just `file:`. Every rename
    * result is CHECKED: a silent rename failure either corrupts the swap
    * or deletes the only live copy, so failure rolls back and throws.
    *
    * Swap-window contract: the publish is two renames (dir → dir_old,
    * then dir_compacting → dir). Each rename is atomic on HDFS/local
    * filesystems, but BETWEEN them a concurrent reader resolving the
    * path sees no directory — compaction of a live table needs either a
    * read-quiesced maintenance window or a manifest-pointer layout where
    * readers never resolve raw paths ([[graft.Meta.Versioned.publishAll]]
    * is that layout: compact a NEW version dir, then commit the manifest).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetRowsPerFile: Long): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val table = new Path(dir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles(p: Path): Int =
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    require(fs.exists(table) && fs.getFileStatus(table).isDirectory,
      s"not a table directory: $dir")
    val before = parquetFiles(table)
    val df = spark.read.parquet(dir)
    val files = math.max(1, math.ceil(df.count().toDouble / targetRowsPerFile).toInt)
    val tmp = new Path(dir + "_compacting")
    df.repartition(files).write.mode("overwrite").parquet(tmp.toString)
    val dead = new Path(dir + "_old")
    if (fs.exists(dead)) // debris from a crashed previous swap — clear it
      fs.delete(dead, true)
    if (!fs.rename(table, dead)) {
      fs.delete(tmp, true)
      throw new java.io.IOException(s"compact: cannot move $dir aside; table unchanged")
    }
    if (!fs.rename(tmp, table)) {
      // roll the original back before reporting failure
      if (!fs.rename(dead, table))
        throw new java.io.IOException(
          s"compact: swap failed AND rollback failed — original preserved at $dead")
      fs.delete(tmp, true)
      throw new java.io.IOException(s"compact: cannot publish rewrite; table unchanged")
    }
    fs.delete(dead, true)
    (before, parquetFiles(table))
  }

  /** Compaction PLANNING — the pure relational half of [[compact]] /
    * [[graft.Meta.Versioned.compactTable]], as a first-class operator
    * (the Delta `OPTIMIZE`-planner / Iceberg binpack shape): given a
    * manifest of segments (file id + byte size per table partition),
    * decide which segments are small-file candidates and pack them
    * into target-sized output bins. At 100 TB the PLAN is what runs
    * per maintenance cycle over millions of manifest rows — the
    * rewrite executes only the bins the plan emits, so planning must
    * be cheap, deterministic, and idempotent (same manifest → same
    * bins → a re-run rewrites nothing new).
    *
    * Rules (all integer arithmetic):
    *  - target bytes per output file = ceil(partition total ∕
    *    `filesPerPartition`) — byte-proportional, so the same rule
    *    sizes a 1 GB and a 1 TB partition;
    *  - a segment is a CANDIDATE iff `2·bytes < target` (the classic
    *    half-target small-file rule; bigger segments are already
    *    well-sized and rewriting them would be write amplification);
    *  - candidates pack FIRST-FIT in (bytes, segment-id) order:
    *    bin = floor(cumulative-bytes-before ∕ target) — a one-window
    *    cumulative sum, no driver loop, no per-partition iteration.
    *
    * Emits one row per (partition, bin): n_segments, bytes_in, and
    * fill_pct = 100·bytes_in∕target rounded in integer space
    * ([[graft.functions.ExactRound.roundRatio]]). Scale shape: one
    * shuffle on the partition column (the aggregate + the window
    * share it), then a bounded-cardinality rollup — manifest-sized
    * input, bin-count output. */
  def compactionPlan(segs: DataFrame, partCol: String, segCol: String,
      bytesCol: String, filesPerPartition: Int): DataFrame = {
    require(filesPerPartition >= 1,
      s"filesPerPartition must be >= 1: $filesPerPartition")
    import org.apache.spark.sql.expressions.Window
    val byPart = Window.partitionBy(partCol)
    val order = Window.partitionBy(partCol)
      .orderBy(col(bytesCol), col(segCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    import graft.functions.ExactRound.floorDiv
    val bytes = col(bytesCol).cast("long")
    val n = lit(filesPerPartition.toLong)
    segs
      .withColumn("_total", sum(bytes).over(byPart))
      .withColumn("_target", floorDiv(col("_total") + n - lit(1L), n))
      .filter(bytes * 2L < col("_target"))
      .withColumn("_before", coalesce(sum(bytes).over(order), lit(0L)))
      .withColumn("bin", floorDiv(col("_before"), col("_target")))
      .groupBy(col(partCol), col("bin").cast("long").as("bin"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(bytes).as("bytes_in"),
        graft.functions.ExactRound.roundRatio(
          sum(bytes) * 100L, first(col("_target")), 6)
          .cast("double").as("fill_pct"))
  }

  /** Result of a stats-pruned scan: the data frame plus the pruning
    * evidence (how many files the stats admitted vs the layout total). */
  final case class SkipScan(df: DataFrame, filesKept: Int, filesTotal: Int)

  /** Z-order write + per-FILE min/max column statistics — the Delta-
    * style data-skipping layout: `root/data/` holds the clustered
    * parquet, `root/stats/` one tiny row per file with each clustering
    * column's [min, max]. The z-order makes ranges per file NARROW, so
    * the stats actually exclude files; stats are computed in one
    * read-back aggregate grouped by `input_file_name()` (file count
    * rows — metadata-sized). Numeric columns only, like [[zorderWrite]].
    * Returns the written file count. */
  def writeWithStats(df: DataFrame, cols: Seq[String], numFiles: Int,
      root: String, rankBuckets: Boolean = false): Int = {
    val n = zorderWrite(df, cols, numFiles, s"$root/data",
      rankBuckets = rankBuckets)
    val statCols = cols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"min_$c"),
      max(col(c)).cast("double").as(s"max_$c")))
    df.sparkSession.read.schema(df.schema).parquet(s"$root/data")
      .groupBy(input_file_name().as("file"))
      .agg(statCols.head, statCols.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$root/stats")
    n
  }

  /** Stats-pruned scan over a [[writeWithStats]] layout: a file is read
    * only if EVERY (col, lo, hi) bound intersects its [min, max] — the
    * reader-side half of data skipping. The file list is resolved from
    * the stats table on the driver (file-count-sized, the same scale as
    * any manifest replay); the returned frame scans ONLY the admitted
    * files, which the caller can verify via `df.inputFiles`. The bounds
    * only prune — the caller still applies its real predicate, so a
    * conservative stats miss costs I/O, never correctness. Files whose
    * stats are NULL (all-null column) are skipped: no row in them can
    * match a range predicate. */
  def skippingScan(spark: org.apache.spark.sql.SparkSession, root: String,
      bounds: Seq[(String, Double, Double)]): SkipScan = {
    require(bounds.nonEmpty, "skippingScan needs at least one bound")
    val stats = spark.read.parquet(s"$root/stats")
    val admit = bounds.map { case (c, lo, hi) =>
      col(s"min_$c") <= hi && col(s"max_$c") >= lo
    }.reduce(_ && _)
    val total = stats.count().toInt
    val kept = stats.filter(admit).select("file")
      .collect().map(_.getString(0))
    val df =
      if (kept.isEmpty) spark.read.parquet(s"$root/data").limit(0)
      else spark.read.parquet(kept.toSeq: _*)
    SkipScan(df, kept.length, total)
  }

  /** Rendezvous (highest-random-weight) shard assignment (Thaler &
    * Ravishankar 1998, the scheme consistent routing layers use):
    * shard(key) = argmax over s ∈ [0, n) of hash(key ‖ ':' ‖ s), ties
    * to the smaller shard id. The property that matters operationally —
    * and that the spec pins — is MINIMAL MOVEMENT: growing n → n+1
    * moves only the keys whose new-shard hash wins (≈ 1/(n+1) of them),
    * and every moved key moves TO the new shard; nothing reshuffles
    * between old shards (mod-n hashing would move (n-1)/n of all keys).
    * That is what lets a 1000-shard ingest layer add capacity without a
    * corpus-wide re-route.
    *
    * Pure scan-level projection (n inline hashes + a lexicographic
    * struct argmax) — assigning a 100 TB corpus is shuffle-free; the
    * md5-prefix hash makes the choice engine-replayable bit for bit. */
  def hrwShard(key: Column, n: Int): Column = {
    require(n >= 1, s"shard count must be >= 1: $n")
    // struct max picks the larger tie-break field, so negate the shard
    // id to land ties on the SMALLER shard
    val best = array_max(array((0 until n).map { s =>
      struct(
        Text.strHash32(concat(key.cast("string"), lit(":"), lit(s.toString)))
          .%(Text.P).as("h"),
        lit(-s).as("ns"))
    }: _*))
    -best.getField("ns")
  }
}

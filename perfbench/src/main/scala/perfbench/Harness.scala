package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The benchmark's driver process: one closed-loop client on `local[N]`.
  *
  * `Harness --workload W --seed S --seconds T --trace 0|1 --work DIR
  *  --python PY --gen GEN_PY --max-seconds M`
  *
  *  1. Set-up, three times: start a session, generate the workload's inputs
  *     into `DIR/data` (`--gen`, the path of `perfbench/gen.py`),
  *     read them back through `graft.Tables`,
  *     and warm up with the workload's first step. The first set-up also
  *     carries JVM start.
  *  2. Timed passes: each pass runs the workload's steps in order, one in
  *     flight. A step is `build` (calling the registered query function,
  *     which runs any eager inner actions and streams) then `exec`
  *     (`queryExecution.toRdd`, the consumer `graft.Bench` uses), then a
  *     catalog cache clear. Passes repeat until `T` seconds have gone by
  *     (`3T` when traced) and the workload's `passes` have run (at least two
  *     when traced), and stop early rather than overrun `M`.
  *  3. With `--trace 1`, passes alternate traced and untraced (ABBA): the
  *     traced ones register [[Recorder]]'s job and action listeners, and
  *     the steps carry a job tag. Kernel throughput is timed at the end.
  *  4. The raw record (set-ups, passes, steps, and the listener events)
  *     goes to `DIR/raw.json`; `perfbench/run.py` turns it into metrics.
  *  5. Outside the timed region, the frames the last pass's steps returned
  *     are dumped the way `graft.Verify` dumps a query (one parquet
  *     directory each, a `_FAILED_<step>` sentinel when it throws, plus
  *     `oracle_sql.json`) to `DIR/verify` for the DuckDB oracle compare.
  *     Re-running the steps through `graft.Verify` would repeat every
  *     stream and double the run.
  */
object Harness {

  /** `scale` sizes the generated base tables (1.0 = the sf0.1 fixture's row
    * counts) and `factor` replicates them, as `graft.ScaleUp` does. `passes`
    * is the fewest timed passes a run makes: short steps need more of them
    * before their percentiles settle. */
  final case class Workload(name: String, scale: Double, factor: Int, passes: Int,
      steps: Seq[String])

  val Workloads: Seq[Workload] = Seq(
    // the reference's batch path: gold models, MERGE, SCD2, DQ, watermark,
    // CDC, Debezium, DLQ split, date math, facts — per-step fixed cost
    Workload("hr_medallion", 0.1, 1, 2, Seq("q01_gold_attrition_monthly",
      "q02_gold_attrition_by_dept", "q03_gold_attrition_summary",
      "q04_latest_order_per_customer", "q05_merge_upsert", "q06_scd2_merge",
      "q07_dq_violation_counts", "q08_dq_quarantine", "q09_watermark_incremental",
      "q10_cdc_before_after", "q11_debezium_roundtrip", "q12_dlq_split",
      "q13_date_math_monthly", "q14_synthetic_features", "q15_attrition_fact",
      "q16_headcount_fact", "q17_self_fk_join")),
    // FileFeed + foreachBatch + writeOnce folds: micro-batch and commit cost
    Workload("cdc_stream_fold", 0.05, 1, 1, Seq("q18_stream_dlq_roundtrip",
      "q37_stream_scd2_upsert", "q115_stream_sketch_maintenance",
      "q124_stream_moments", "q165_stream_novelty", "q218_stream_compaction_fold",
      "q248_stream_covariance_fold", "q280_stream_exact_substring",
      "q286_stream_phrase_index")),
    // LLM-curation operators on a 4x input: kernels, shuffle, iteration
    Workload("curation_scale", 0.1, 4, 1, Seq("q23_minhash_near_dup", "q24_text_stats",
      "q25_lang_quality", "q29_blocked_jaccard", "q48_hll_distinct",
      "q50_tfidf_terms", "q126_pagerank", "q144_semantic_dedup",
      "q169_gopher_gates", "q277_exact_substring_dedup", "q308_line_dedup")))

  val cpus: Int = Runtime.getRuntime.availableProcessors()

  private def session(): SparkSession = {
    val spark = graft.Sessions.builder(s"local[$cpus]", cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // one clock for step spans and listener events: epoch ms, ns-resolved
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def secs(fromMs: Double): Double = (nowMs - fromMs) / 1000.0

  /** One step's span and the Catalyst phase times (ms) of the frame it
    * returned; eager inner actions reach [[Recorder.Actions]] instead. */
  final case class Step(name: String, tag: String, startMs: Double, buildEndMs: Double,
      endExecMs: Double, endMs: Double, phases: Map[String, Long], error: Option[String],
      frame: Option[DataFrame])

  /** Run one step; returns its span. Failures are recorded, never thrown. */
  private def runStep(spark: SparkSession, dir: String, name: String, tag: String): Step = {
    val fn = graft.SparkEntry.queries(name)
    if (tag != null) spark.sparkContext.setLocalProperty(Recorder.StepTag, tag)
    val t0 = nowMs
    var tBuild = t0
    var tExec = t0
    var phases = Map.empty[String, Long]
    var frame = Option.empty[DataFrame]
    val error =
      try {
        val df = fn(spark, dir)
        frame = Some(df)
        tBuild = nowMs
        df.queryExecution.toRdd.count()
        tExec = nowMs
        phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
        None
      } catch {
        case e: Throwable =>
          if (tBuild == t0) tBuild = nowMs
          tExec = nowMs
          spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
          Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
      }
    spark.catalog.clearCache()
    val t1 = nowMs
    spark.sparkContext.setLocalProperty(Recorder.StepTag, null)
    Step(name, tag, t0, tBuild, tExec, t1, phases, error, frame)
  }

  /** Live driver heap: a full GC, repeated after a short pause until the
    * reading stops falling. The first GC only hands Spark's ContextCleaner
    * the broadcasts and shuffles the pass dropped; their blocks are freed
    * after it, so a single reading varied by up to half from run to run. */
  private def heapAfterGcMb(): Double = {
    def usedAfterGc(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
        1048576.0
    }
    var prev = Double.MaxValue
    var cur = usedAfterGc()
    var tries = 1
    while (prev - cur > 1.0 && tries < 5) {
      Thread.sleep(250)
      prev = cur
      cur = usedAfterGc()
      tries += 1
    }
    cur
  }

  private def countFiles(root: java.io.File): Long = {
    val kids = root.listFiles()
    if (kids == null) 0L
    else kids.map(k => if (k.isDirectory) countFiles(k) else 1L).sum
  }

  /** Rows per second of each `graft_*` kernel over the input documents,
    * repeated to at least 20k rows so that job launch does not dominate:
    * the median of three timed direct SQL calls, inputs cached first. */
  private def kernels(spark: SparkSession, dir: String): Seq[(String, Map[String, Any])] = {
    val text = graft.Tables.documents(spark, dir).select("text")
    val copies = math.ceil(20000.0 / math.max(1L, text.count())).toLong
    text.crossJoin(spark.range(copies)).select("text").cache()
      .createOrReplaceTempView("pb_docs")
    val docs = spark.table("pb_docs").count()
    spark.sql("SELECT graft_token_hashes(text) AS th, graft_shingle_hashes(text, 5) AS sh " +
      "FROM pb_docs").cache().createOrReplaceTempView("pb_hashes")
    spark.sql("SELECT explode(th) AS t FROM pb_hashes").cache().createOrReplaceTempView("pb_tokens")
    val tokens = spark.table("pb_tokens").count()
    val calls = Seq(
      ("shingle", docs, "SELECT sum(size(graft_shingle_hashes(text, 5))) FROM pb_docs"),
      ("token_hashes", docs, "SELECT sum(size(graft_token_hashes(text))) FROM pb_docs"),
      ("minhash", docs, "SELECT sum(size(graft_minhash_signature(sh, 64))) FROM pb_hashes"),
      ("simhash", docs, "SELECT sum(graft_simhash(th, 64) % 7) FROM pb_hashes"),
      ("hll", tokens, "SELECT graft_hll_distinct(t) FROM pb_tokens"))
    val out = calls.map { case (k, rows, sql) =>
      val times = (0 until 3).map { _ =>
        val t0 = nowMs
        spark.sql(sql).collect()
        secs(t0)
      }.sorted
      k -> Map[String, Any]("rows" -> rows, "s" -> times(1))
    }
    spark.catalog.clearCache()
    out
  }

  /** Run the input generator (`perfbench/gen.py`), then read every table
    * back through `graft.Tables.load`, which asserts its schema contract,
    * and check its row count against the generator's. */
  private def generate(spark: SparkSession, cmd: Seq[String], dir: String)
      : Seq[(String, Long)] = {
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD).start()
    require(p.waitFor() == 0, s"input generator failed: ${cmd.mkString(" ")}")
    val src = scala.io.Source.fromFile(s"$dir/_rows.txt")
    val written = try src.getLines().map(_.split(" ")).map(a => a(0) -> a(1).toLong).toMap
      finally src.close()
    // one job counts every table
    val read = graft.Tables.names
      .map(t => graft.Tables.load(spark, dir, t).select(lit(t).as("t")))
      .reduce(_ unionAll _).groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.Tables.names.map { t =>
      require(read.get(t) == written.get(t),
        s"$t: read back ${read.get(t)} rows, the generator wrote ${written.get(t)}")
      t -> read(t)
    }
  }

  /** `graft.Verify`'s dump of the given steps' frames: `coalesce(1)`
    * parquet per step, `_FAILED_<step>` when one throws (or threw while
    * timed), and the steps' oracle SQL as `oracle_sql.json`. */
  private def dump(out: String, steps: Seq[Step]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    steps.foreach { s =>
      try s.frame.get.coalesce(1).write.mode("overwrite").parquet(s"$out/${s.name}")
      catch {
        case e: Throwable =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/_FAILED_${s.name}"),
            s.error.getOrElse(s"${e.getClass.getName}: ${e.getMessage}") + "\n")
      }
    }
    val names = steps.map(_.name).toSet
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json(graft.SparkEntry.oracleSql.filter { case (n, _) => names(n) }))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.find(_.name == opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}; " +
        s"known: ${Workloads.map(_.name).mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    // traced runs need an untraced and a traced pass, and get a longer
    // window so that warm passes of both kinds can be compared
    val (minPasses, window) =
      if (trace) (math.max(2, wl.passes), 3 * seconds) else (wl.passes, seconds)
    val maxSeconds = opts("max-seconds").toDouble
    val gen = Seq(opts("python"), opts("gen"))
    val dataDir = s"$work/data"
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // ---- set-up, several times; the first one carries JVM start
    var spark: SparkSession = null
    var rows = Seq.empty[(String, Long)]
    val setups = (0 until 3).map { k =>
      val t0 = if (k == 0) jvmStartMs else nowMs
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val tS = nowMs
      spark = session()
      val tG = nowMs
      rows = generate(spark, gen ++ Seq(dataDir, seed.toString, wl.scale.toString,
        wl.factor.toString), dataDir)
      val tW = nowMs
      val warm = runStep(spark, dataDir, wl.steps.head, null)
      warm.error.foreach(e => System.err.println(s"[perfbench] warmup ${wl.steps.head}: $e"))
      println(f"[perfbench] setup $k%d: ${spark.sparkContext.applicationId} ${secs(t0)}%.3f s")
      Map[String, Any]("total_s" -> secs(t0), "session_s" -> (tG - tS) / 1000.0,
        "gen_s" -> (tW - tG) / 1000.0, "warmup_s" -> secs(tW))
    }
    rows.foreach { case (t, n) => println(s"[perfbench] rows $t $n") }

    // the streaming progress listener feeds end-to-end metrics: always on
    val batches = new Recorder.Batches
    spark.streams.addListener(batches)
    val jobs = new Recorder.Jobs
    val actions = new Recorder.Actions
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))

    // ---- timed passes
    val tStart = nowMs
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var lastSteps = Seq.empty[Step]
    var lastWall = 0.0
    def more: Boolean = {
      val el = secs(tStart)
      passes.size < minPasses || (el < window && el + lastWall <= maxSeconds)
    }
    while (more) {
      val id = passes.size
      // T U U T …: the traced pass is the first, cold one, like the single
      // pass an untraced run times, so the layer numbers explain that pass
      val traced = trace && (id % 4 == 0 || id % 4 == 3)
      if (traced) {
        spark.sparkContext.addSparkListener(jobs)
        spark.listenerManager.register(actions)
      }
      val filesBefore = if (trace) countFiles(tmpRoot) else 0L
      val p0 = nowMs
      val steps = wl.steps.zipWithIndex.map { case (n, i) =>
        runStep(spark, dataDir, n, if (traced) s"$id:$i" else null)
      }
      val p1 = nowMs
      lastWall = (p1 - p0) / 1000.0
      lastSteps = steps
      if (traced) {
        spark.sparkContext.removeSparkListener(jobs)
        spark.listenerManager.unregister(actions)
      }
      val tmpFiles = if (trace) countFiles(tmpRoot) - filesBefore else 0L
      passes += Map("id" -> id, "traced" -> traced, "start_ms" -> p0, "end_ms" -> p1,
        "heap_mb" -> heapAfterGcMb(), "tmp_files" -> tmpFiles,
        "steps" -> steps.map(s => Map[String, Any]("name" -> s.name, "tag" -> s.tag,
          "start_ms" -> s.startMs, "build_end_ms" -> s.buildEndMs,
          "exec_end_ms" -> s.endExecMs, "end_ms" -> s.endMs, "phases" -> s.phases,
          "error" -> s.error.orNull)))
      println(f"[perfbench] pass $id%d${if (traced) " (traced)" else ""}: $lastWall%.3f s")
    }
    spark.streams.removeListener(batches)

    val kernelTimes = if (trace) kernels(spark, dataDir) else Nil
    // listener events are asynchronous: let the bus drain
    val drainUntil = nowMs + 10000
    while (jobs.unfinished > 0 && nowMs < drainUntil) Thread.sleep(50)
    Thread.sleep(300)

    val raw = Map[String, Any](
      "workload" -> wl.name, "seed" -> seed, "scale" -> wl.scale, "factor" -> wl.factor,
      "cpus" -> cpus, "trace" -> trace, "steps" -> wl.steps, "rows" -> rows.toMap,
      "setups" -> setups, "passes" -> passes.toSeq,
      "jobs" -> jobs.jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
        Map[String, Any]("id" -> j.id, "tag" -> j.tag, "streaming" -> j.streaming,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stagesDone) ++
          Recorder.TaskFields.zip(j.task.toSeq)
      },
      "actions" -> actions.actions.asScala.toSeq.map(a => Map[String, Any](
        "at_ms" -> a.atMs, "analysis_ms" -> a.analysisMs,
        "optimization_ms" -> a.optimizationMs, "planning_ms" -> a.planningMs)),
      "batches" -> batches.batches.asScala.toSeq.map(b => Map[String, Any](
        "at_ms" -> b.atMs, "trigger_ms" -> b.triggerMs, "add_batch_ms" -> b.addBatchMs,
        "commit_ms" -> b.commitMs, "plan_ms" -> b.planMs, "list_ms" -> b.listMs,
        "input_rows" -> b.inputRows, "state_rows" -> b.stateRows)),
      "kernels" -> kernelTimes.toMap)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/raw.json"), Json(raw))

    dump(s"$work/verify", lastSteps)
    spark.stop()
  }
}

/** Minimal JSON encoder for the raw record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"not JSON-encodable: $other")
  }
}

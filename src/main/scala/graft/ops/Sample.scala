package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data curation: hash-gated row
  * selection that any engine reproduces bit-for-bit, unlike
  * `df.sample`/`sampleBy` whose Bernoulli draws depend on partitioning
  * and RNG stream position. Extends the reference's only sampling shape
  * (`ORDER BY random() LIMIT 1` victim picks,
  * reference: jobs/bronze/ingest_change_source.py:81) into the
  * reproducible corpus-curation form: membership is a pure function of
  * the row KEY, so re-runs, retries, and engine migrations select the
  * same rows — the property a 100 TB training-set builder needs for
  * auditable dataset versioning (and it needs no shuffle at all: the
  * gate is a scan-level filter).
  */
object Sample {
  import Text.{Mult, P}

  /** Hash gate in [0, 100): multiplicative hash of the key, mod P, mod
    * 100 — the Knuth scheme shared with Facts.det / Text, expressible in
    * ANSI SQL as ((key * Mult) % P) % 100. Keys must be < ~3.4e9 for the
    * product to stay in Long range; wider keys should pre-mask
    * (pmod(key, P)) on BOTH engines. */
  def hashGate(key: Column): Column =
    pmod(pmod(key.cast("long") * Mult, lit(P)), lit(100))

  /** Stratified deterministic sample: per-stratum percentage with a
    * default for unlisted strata. The CASE ladder keeps the whole gate a
    * scan-level predicate — no join against a rate table, no shuffle. */
  def stratifiedSample(df: DataFrame, key: String, stratumCol: String,
      rates: Seq[(String, Int)], defaultPct: Int): DataFrame = {
    val rate = rates.foldRight(lit(defaultPct)) { case ((stratum, pct), other) =>
      when(col(stratumCol) === stratum, lit(pct)).otherwise(other)
    }
    df.filter(hashGate(col(key)) < rate)
  }

  /** Deterministic train/val/test assignment: the hash gate mapped
    * through cumulative percentage thresholds. `splits` lists
    * (name, upperPctExclusive) in ascending threshold order; rows at or
    * above the last threshold get `rest`. Pure scan-level projection —
    * no shuffle, no RNG — so the SAME row lands in the SAME split on
    * every run, engine, and partitioning: the property that keeps a
    * 100 TB corpus's eval set from leaking into train across rebuilds. */
  def assignSplit(df: DataFrame, key: String,
      splits: Seq[(String, Int)], rest: String): DataFrame = {
    require(splits.map(_._2) == splits.map(_._2).sorted,
      s"split thresholds must ascend: $splits")
    // withColumn REPLACES a same-named column silently — refuse rather
    // than destroy caller data (same defensive contract as takeByBudget's
    // weight-type require)
    Seq("bucket", "split").foreach(c =>
      require(!df.columns.contains(c),
        s"assignSplit writes column '$c' but the input already has one"))
    val gate = hashGate(col(key))
    val split = splits.foldRight(lit(rest): Column) { case ((name, upper), other) =>
      when(gate < upper, lit(name)).otherwise(other)
    }
    df.withColumn("bucket", gate).withColumn("split", split)
  }

  /** Deterministic per-epoch training-order shuffle + shard layout.
    * Every epoch needs the corpus in a different random-looking order,
    * and every worker needs a contiguous slice it can stream
    * sequentially — but `orderBy(rand())` is neither reproducible nor
    * resumable. Here the order is a pure hash permutation of the key,
    * re-keyed by epoch:
    *
    *   h = ((key·Mult mod P) + epoch) · Mult  mod P
    *
    * (bijective on [0, P) for every epoch — P prime, gcd(Mult, P)=1 —
    * so no two keys collide and no row is lost or doubled; keys ≥ P
    * alias with key mod P in EVERY epoch — same caveat as [[hashGate]]:
    * pre-fold wider key domains through a 64-bit hash first), and the
    * shard is the RANGE bucket floor(h·shards / P), so concatenating
    * shard 0..n−1, each in `pos` order, replays exactly the global
    * h-order: shard files are both the unit of worker parallelism and
    * a resumable cursor into the epoch's permutation.
    *
    * Scale shape: one shuffle on the shard key for the per-shard
    * `row_number` — the same partitioning the subsequent sharded write
    * needs (`repartitionByRange` on h), so the sort is not an extra
    * cost. No global window, no single-partition stage, no RNG state.
    * Returns the input plus (shard BIGINT, pos BIGINT). */
  def epochShuffle(df: DataFrame, key: String, epoch: Int,
      shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shards >= 1 && epoch >= 0, s"bad epochShuffle spec: $epoch/$shards")
    Seq("shard", "pos").foreach(c =>
      require(!df.columns.contains(c),
        s"epochShuffle writes column '$c' but the input already has one"))
    val h = pmod((pmod(col(key).cast("long") * Mult, lit(P)) + epoch) * Mult, lit(P))
    // h·shards ≤ 2^31·shards — exact in Double to 2^53, so the floored
    // quotient is identical on every engine
    val shard = floor(h * shards / lit(P.toDouble)).cast("long")
    df.withColumn("shard", shard)
      .withColumn("pos",
        row_number().over(
          Window.partitionBy(col("shard")).orderBy(h, col(key))).cast("long") - 1)
  }

  /** Take the best-scoring rows until a global weight budget is spent
    * ("fill the token budget with the highest-quality documents") —
    * WITHOUT the single-partition global window a naive cumulative sum
    * plans. Distributed two-phase prefix sum:
    *   1. range-partition + sort by (score desc, id) — the global order;
    *   2. one tiny aggregate of per-partition weight totals (one row per
    *      partition) is prefixed on the driver and broadcast back;
    *   3. each partition filters on offset + within-partition running
    *      weight ≤ budget.
    * The result is the exact prefix of the global order (a row is kept
    * iff its inclusive running weight fits), independent of partition
    * boundaries — range bounds shift which partition holds a row, never
    * its global prefix sum. `id` must be unique (the total-order
    * tiebreak). */
  def takeByBudget(df: DataFrame, scoreCol: String, idCol: String,
      weightCol: String, budget: Long, partitions: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // weights must be integral: a silent cast of fractional weights to
    // long would truncate them all toward zero and void the accounting
    val wType = df.schema(weightCol).dataType
    require(Seq("tinyint", "smallint", "int", "bigint").contains(wType.simpleString),
      s"takeByBudget needs an integral weight column, got $weightCol: $wType")
    // NULL weight = weightless row (kept if its position fits): coalesce
    // BEFORE summing, or the running sum goes null and drops rows silently
    val wcol = coalesce(col(weightCol).cast("long"), lit(0L))
    runningWeight(df, Seq(col(scoreCol).desc, col(idCol)), wcol, partitions)._1
      .filter(col("_cum") <= budget)
      .drop("_pid", "_cum")
  }

  /** Exact global rank + percentile of every row in the total order
    * given by `order` (quantile normalization / percentile feature
    * scaling, the transform a quality-score column gets before
    * thresholding across heterogeneous sources). Reuses the two-phase
    * prefix-sum machinery with unit weights — range-partition + sort,
    * driver-prefixed per-partition counts, per-partition window — so
    * there is NO single-partition global window at any scale. Appends
    * `rnk` (1-based BIGINT row number in the total order — callers pass
    * a unique tiebreak column last) and `pct` = rnk/N half-up at 1e-6,
    * rounded in integer space ([[graft.functions.ExactRound]]) so the
    * percentile is bit-identical on any engine. */
  def quantileNormalize(df: DataFrame, order: Seq[Column],
      partitions: Int = 32): DataFrame = {
    val (cum, total) = runningWeight(df, order, lit(1L), partitions)
    cum.withColumn("rnk", col("_cum"))
      .withColumn("pct",
        graft.functions.ExactRound.roundRatio(col("rnk"), lit(total), 6))
      .drop("_pid", "_cum")
  }

  /** Distributed inclusive prefix sum of `wcol` in the total order given
    * by `order` — the two-phase scheme takeByBudget documents (range-
    * partition + sort; one tiny per-partition-totals aggregate prefixed
    * on the driver and broadcast back; per-partition window adds the
    * offset). No single-partition global window at any point. Returns
    * (input + `_pid` + `_cum` columns, total weight). */
  private def runningWeight(df: DataFrame, order: Seq[Column], wcol: Column,
      partitions: Int): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    // materialize the partitioning ONCE: range bounds come from a sample
    // that is re-drawn per execution, so running the offsets job and the
    // final join against two separate executions could assign boundary
    // rows to DIFFERENT pids and apply the wrong offsets. The checkpoint
    // also makes this one scan+shuffle instead of two.
    val ordered = df
      .repartitionByRange(partitions, order: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    val parts = ordered.groupBy("_pid")
      .agg(sum(wcol).as("_w"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = parts
      .scanLeft((Int.MinValue, 0L)) { case ((_, acc), (pid, w)) => (pid, acc + w) }
      .sliding(2).collect { case Array((_, acc), (pid, _)) => (pid, acc) }.toSeq
    val offDf = ordered.sparkSession
      .createDataFrame(offsets).toDF("_pid", "_offset")
    val w = Window.partitionBy("_pid")
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ordered.join(broadcast(offDf), "_pid")
      .withColumn("_cum", col("_offset") + sum(wcol).over(w))
      .drop("_offset")
    (cum, parts.map(_._2).sum)
  }

  /** Priority sampling (Duffield, Lund & Thorup 2007, "Priority
    * sampling for estimation of arbitrary subset sums"): each row gets
    * priority q = w / u with u a per-key uniform in (0, 1], the n rows
    * of highest priority are kept, and each kept row carries the
    * estimator weight ŵ = max(w, τ) where τ is the (n+1)-th priority —
    * E[Σ_{kept ∩ S} ŵ] = Σ_S w for EVERY subset S, with near-optimal
    * variance among n-row sketches. The sample a 100 TB curation
    * pipeline keeps when it must answer arbitrary "how many tokens does
    * slice X hold?" questions later from n rows.
    *
    * Unlike A-ES weighted reservoirs (u^(1/w) — libm pow, cross-engine
    * only to the last ulp), the priority needs ONE IEEE division, so any
    * engine reproduces the draw bit-for-bit: u = (hash(key)+1) / P from
    * the shared multiplicative hash — deterministic, re-runnable,
    * engine-portable (same caveat as [[hashGate]]: keys must be < ~3.4e9
    * or pre-folded).
    *
    * Scale shape: the top-(n+1) select is a bounded-heap TakeOrdered
    * (map-side k-pruning, no global sort); the τ/rank pass then runs on
    * that ≤ n+1-row localCheckpoint — the only window in the plan is
    * over the bounded frame. Returns the n kept rows plus (priority,
    * est_weight). */
  def prioritySample(df: DataFrame, key: String, weightCol: String,
      n: Int): DataFrame =
    priorityFinish(priorityTopK(df, key, weightCol, n), key, weightCol, n)

  /** The top-(n+1)-by-priority state of [[prioritySample]]: input rows
    * plus the deterministic `priority` column, pruned to the n+1 the
    * estimator needs (the n kept rows and the τ row). This IS the
    * mergeable sketch: priorities are a pure per-row function of the
    * key, so top-(n+1) of a union of top-(n+1) states equals the
    * top-(n+1) of the union of their inputs — the fold identity the
    * streaming sample maintenance (q267) rides. Bounded-heap
    * TakeOrdered, no global sort. */
  def priorityTopK(df: DataFrame, key: String, weightCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"sample size must be >= 1, got $n")
    Seq("priority", "est_weight").foreach(c =>
      require(!df.columns.contains(c),
        s"prioritySample writes column '$c' but the input already has one"))
    val wType = df.schema(weightCol).dataType
    require(Seq("tinyint", "smallint", "int", "bigint").contains(wType.simpleString),
      s"prioritySample needs an integral weight column, got $weightCol: $wType")
    val u = (pmod(col(key).cast("long") * Mult, lit(P)) + 1).cast("double") / P
    val w = when(col(weightCol) < 0,
        raise_error(lit(s"prioritySample: negative weight in $weightCol")))
      .otherwise(coalesce(col(weightCol).cast("long"), lit(0L)))
    df
      .withColumn("priority", w.cast("double") / u)
      .orderBy(col("priority").desc, col(key))
      .limit(n + 1)
  }

  /** Resolve a [[priorityTopK]] state (or a fold of such states, re-cut
    * to n+1) into the n-row sample with estimator weights. */
  def priorityFinish(topState: DataFrame, key: String, weightCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = topState.localCheckpoint()
    // τ = the (n+1)-th priority; 0 when the input has ≤ n rows (then the
    // sample is exhaustive and ŵ = w exactly — the estimator is exact)
    val stats = top.agg(
      count(lit(1)).as("_cnt"), min(col("priority")).as("_minp"))
    // unpartitioned window over the ≤(n+1)-row priority state only
    // (priorityTopK already cut the corpus to its top n+1 priorities)
    val ranked = top.withColumn("_rank",
      row_number().over(Window.orderBy(col("priority").desc, col(key))))
    ranked
      .crossJoin(broadcast(stats))
      .filter(col("_rank") <= n)
      .withColumn("est_weight",
        greatest(col(weightCol).cast("double"),
          when(col("_cnt") === n + 1, col("_minp")).otherwise(lit(0.0))))
      .drop("_rank", "_cnt", "_minp")
  }

  /** Per-GROUP priority sampling: [[prioritySample]] run independently
    * inside every stratum in ONE pass — n rows per group, each with the
    * group-local τ and estimator weight, so every stratum of a 100 TB
    * corpus gets its own subset-sum sketch without a per-stratum job.
    * One shuffle on the group key; the rank and the τ extraction share
    * the same window partitioning (no second exchange). Groups with
    * ≤ n rows are exhaustive (τ = 0, ŵ = w — exact). */
  def prioritySampleByGroup(df: DataFrame, key: String, weightCol: String,
      groupCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"sample size must be >= 1, got $n")
    Seq("priority", "est_weight").foreach(c =>
      require(!df.columns.contains(c),
        s"prioritySampleByGroup writes column '$c' but the input already has one"))
    val wType = df.schema(weightCol).dataType
    require(Seq("tinyint", "smallint", "int", "bigint").contains(wType.simpleString),
      s"prioritySampleByGroup needs an integral weight column, got $weightCol: $wType")
    val u = (pmod(col(key).cast("long") * Mult, lit(P)) + 1).cast("double") / P
    val w = when(col(weightCol) < 0,
        raise_error(lit(s"prioritySampleByGroup: negative weight in $weightCol")))
      .otherwise(coalesce(col(weightCol).cast("long"), lit(0L)))
    val byGroup = Window.partitionBy(col(groupCol))
    val ranked = byGroup.orderBy(col("priority").desc, col(key))
    df.withColumn("priority", w.cast("double") / u)
      .withColumn("_rn", row_number().over(ranked))
      .withColumn("est_weight",
        greatest(col(weightCol).cast("double"),
          coalesce(max(when(col("_rn") === n + 1, col("priority"))).over(byGroup),
            lit(0.0))))
      .filter(col("_rn") <= n)
      .drop("_rn")
  }

  /** Systematic probability-proportional-to-size sampling: lay every
    * row's weight end-to-end along [0, W] in the deterministic hash
    * order of `key` (the randomization systematic sampling needs), then
    * take the rows whose weight interval contains a multiple of W/n —
    * every row selected with probability (and multiplicity) n·w/W, and
    * the draw is EXACT INTEGER ARITHMETIC end to end: no RNG, no
    * floating point, so any engine reproduces the identical sample
    * (contrast A-ES priority sampling, whose u^(1/w) keys cross-engine
    * only to libm's last ulp). Rows heavier than W/n are picked with
    * multiplicity > 1 (`n_picks`), the standard PPS-with-replacement
    * accounting; Σ n_picks == n exactly.
    *
    * Scale shape: one range-partitioned sort + the takeByBudget prefix
    * machinery (driver-prefixed per-partition totals, broadcast back) —
    * no global window. Caveat: cum·n must fit a signed 64-bit product
    * (W·n < 2^63), checked up front. */
  def systematicPps(df: DataFrame, key: String, weightCol: String,
      n: Long, partitions: Int = 32): DataFrame = {
    require(n >= 1, s"sample size must be >= 1, got $n")
    val wType = df.schema(weightCol).dataType
    require(Seq("tinyint", "smallint", "int", "bigint").contains(wType.simpleString),
      s"systematicPps needs an integral weight column, got $weightCol: $wType")
    Seq("_w", "n_picks").foreach(c =>
      require(!df.columns.contains(c),
        s"systematicPps writes column '$c' but the input already has one"))
    // a negative weight breaks the monotone weight line — fail the job,
    // never mis-sample
    val wcol = when(col(weightCol) < 0,
        raise_error(lit(s"systematicPps: negative weight in $weightCol")))
      .otherwise(coalesce(col(weightCol).cast("long"), lit(0L)))
    val h = pmod(col(key).cast("long") * Mult, lit(P))
    val withW = df.withColumn("_w", wcol)
    val (cum, total) = runningWeight(withW, Seq(h, col(key)), col("_w"), partitions)
    if (total == 0L)
      return cum.drop("_pid", "_cum", "_w").limit(0).withColumn("n_picks", lit(0L))
    require(n <= Long.MaxValue / total,
      s"W*n = $total*$n overflows 64-bit systematic grid")
    cum
      .withColumn("n_picks",
        expr(s"(_cum * ${n}L) DIV ${total}L") -
          expr(s"((_cum - _w) * ${n}L) DIV ${total}L"))
      .filter(col("n_picks") >= 1)
      .drop("_pid", "_cum", "_w")
  }

  /** Deterministic stride-scheduler interleave (Waldspurger & Weihl
    * 1995 lottery/stride scheduling, the shape data-loader mixture
    * samplers implement): every document gets an integer VIRTUAL TIME
    * `rank_within_source · STRIDE ∕ weight`, and the global training
    * order is (virtual_time, source, id) ascending — a source of weight
    * 2w appears twice as often as one of weight w, deterministically,
    * with no RNG and no epoch-boundary burst (unlike concat+shuffle,
    * the interleave is stationary from position 0).
    *
    * Exactness: weights must divide [[InterleaveStride]] (enforced), so
    * every virtual time is an exact integer — no rounding anywhere, and
    * the schedule is a pure function of (id, source, weight) any engine
    * replays bit for bit. Scale shape: the per-source rank is a keyed
    * window (bounded by the source partition); consumers take the next
    * page of the schedule with orderBy+limit — Spark's
    * TakeOrderedAndProject top-k, never a global-window shuffle.
    *
    * Returns (idCol, srcCol, vt); order by (vt, srcCol, idCol) to read
    * the schedule. */
  def strideInterleave(df: DataFrame, idCol: String, srcCol: String,
      weights: Seq[(String, Int)], defaultWeight: Int = 1): DataFrame = {
    (defaultWeight +: weights.map(_._2)).foreach(w =>
      require(w >= 1 && InterleaveStride % w == 0,
        s"weight $w must be a positive divisor of $InterleaveStride"))
    val wt = weights.foldRight(lit(defaultWeight)) { case ((s, w), acc) =>
      when(col(srcCol) === s, lit(w)).otherwise(acc)
    }
    val rn = row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(srcCol).orderBy(idCol))
    df.select(col(idCol), col(srcCol))
      .withColumn("_rn", rn.cast("long"))
      .withColumn("_w", wt.cast("long"))
      // exact long arithmetic end to end (_w divides the stride, so the
      // DIV has remainder 0); never routed through double — rank·stride
      // can pass 2^53 long before it threatens 64-bit range
      .withColumn("vt", expr(s"(_rn * ${InterleaveStride}L) DIV _w"))
      .drop("_rn", "_w")
  }

  /** Stride constant for [[strideInterleave]]: highly divisible
    * (2^6·3^2·5^4·7 — every weight ≤ 10 divides it), small enough that
    * rank·stride stays far inside 64-bit range (~3.6e12 ranks) for any
    * real corpus. */
  val InterleaveStride = 2520000L

  /** Neyman-allocation stratified sample (Neyman 1934): a fixed budget
    * of n rows splits across strata ∝ N_h·σ_h — the allocation that
    * minimizes the variance of the stratified mean estimator, so a
    * high-variance stratum (heterogeneous web source) gets more budget
    * than an equally-sized homogeneous one. The per-stratum draw is the
    * deterministic hash-rank gate, so the whole sample is a pure
    * function of (keys, strata, values).
    *
    * Exactness discipline: σ's numerator is the INTEGER
    * N·Σx² − (Σx)² (valueCol is integer-valued; no float summation
    * anywhere — Σx and Σx² accumulate in DecimalType(38,0), so a
    * large-value stratum (|x| ≳ 3e9, where a LongType Σx² silently
    * wraps) widens instead of corrupting the variance; a stratum
    * whose exact numerator exceeds 38 digits nulls loudly rather
    * than wrapping), the weight N_h·σ_h = sqrt(N_h·S_h∕(N_h−1)) is one exact
    * cast + one IEEE divide + one correctly-rounded sqrt; the weight
    * TOTAL folds sequentially over the stratum-sorted list (bounded
    * |strata| entries — never a float sum() whose partial-merge order
    * could flip a bit); quotas are Hamilton largest-remainder over the
    * resulting identical-everywhere doubles, ties to the stratum name.
    * Single-row strata get weight 0 (no variance to capture); if EVERY
    * weight is 0 the allocation falls back to proportional-to-size with
    * the exact-integer total.
    *
    * Scale shape: one integer-moments aggregate (map-side combined) +
    * one |strata|-row fold + one broadcast of the |strata|-row quota
    * table + one per-stratum rank window — the corpus shuffles once, on
    * the stratum key. Emits (idCol, stratCol, strat_rank, alloc). */
  def neymanSample(df: DataFrame, idCol: String, stratCol: String,
      valueCol: String, budget: Int): DataFrame = {
    require(budget >= 1, s"budget must be >= 1: $budget")
    import org.apache.spark.sql.expressions.Window
    // Decimal(19,0) holds any long; x*x lands in (38,0) exactly (a
    // long² has at most 38 digits), so the moment sums never wrap
    val x = col(valueCol)
      .cast(org.apache.spark.sql.types.DecimalType(19, 0))
    val s = df.groupBy(stratCol).agg(
        count(lit(1)).as("n_rows"), sum(x).as("s1"), sum(x * x).as("s2"))
      .withColumn("wt", when(col("n_rows") <= 1, lit(0.0)).otherwise(
        sqrt((col("n_rows") * (col("n_rows") * col("s2") - col("s1") * col("s1")))
          .cast("double") / (col("n_rows") - 1))))
      // loud-failure guard: a Decimal(38,0) overflow in the variance
      // numerator (or an all-null value column) nulls wt, which would
      // null the w_total fold and silently empty the whole sample —
      // fail the job with the stratum name instead. Under ANSI mode
      // (the Spark 4 default, and this engine's sessions) the decimal
      // sum itself already throws NUMERIC_VALUE_OUT_OF_RANGE at the
      // aggregate; this guard keeps the failure loud for ANSI-off
      // deployments where the overflow degrades to NULL.
      .withColumn("wt", when(col("wt").isNotNull, col("wt")).otherwise(
        raise_error(concat(
          lit("neymanSample: null variance weight (decimal overflow past " +
            "38 digits, or all-null values) in stratum "),
          col(stratCol).cast("string")))))
      .localCheckpoint() // |strata| rows; feeds the fold and the quotas
    val tot = s.agg(
      aggregate(
        array_sort(collect_list(struct(col(stratCol).as("k"), col("wt").as("w")))),
        lit(0.0), (a, e) => a + e.getField("w")).as("w_total"),
      sum(col("n_rows")).as("total_rows"))
    val q = s.crossJoin(broadcast(tot))
      .withColumn("target",
        when(col("w_total") === 0.0,
          (lit(budget.toLong) * col("n_rows")).cast("double") / col("total_rows"))
          .otherwise(lit(budget.toDouble) * col("wt") / col("w_total")))
      .withColumn("base", floor(col("target")).cast("long"))
      .withColumn("rem", col("target") - col("base"))
    val d = q.agg((lit(budget.toLong) - sum("base")).as("deficit"))
    // unpartitioned window over the |strata|-row aggregate only (the
    // q148 apportionment contract — bounded at any corpus scale)
    val alloc = q
      .withColumn("rk",
        row_number().over(Window.orderBy(col("rem").desc, col(stratCol))))
      .crossJoin(broadcast(d))
      .select(col(stratCol),
        (col("base") + when(col("rk") <= col("deficit"), 1L).otherwise(0L))
          .as("alloc"))
    val rankW = Window.partitionBy(col(stratCol))
      .orderBy(pmod(col(idCol).cast("long") * Mult, lit(P)), col(idCol))
    df.join(broadcast(alloc), stratCol)
      .withColumn("strat_rank", row_number().over(rankW).cast("long"))
      .filter(col("strat_rank") <= col("alloc"))
      .select(col(idCol), col(stratCol), col("strat_rank"), col("alloc"))
  }
}

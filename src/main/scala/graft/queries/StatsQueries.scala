package graft.queries

import graft.Tables
import graft.functions.ExactRound
import graft.ops.{Stats, Text}
import org.apache.spark.sql.functions._

/** Round-14 statistical-governance operators: the uncertainty and
  * calibration layer over the monitoring stack. The drift arm so far
  * answers "did the distribution move?" three ways (q127 counts, q220
  * binned PSI, q240 exact KS); these queries add the rank-based test
  * that is robust where KS is shape-sensitive (L239 Mann–Whitney),
  * the meta-audit that CALIBRATES the whole drift battery (L243 A/A
  * splits — a monitor whose false-positive rate is unknown pages
  * people for noise), the monotone re-fit that turns a raw
  * quality-score-vs-keep-rate curve into a usable threshold function
  * (L240 isotonic/PAVA), and two interval estimators a 100 TB corpus
  * report needs next to every point statistic: the distribution-free
  * order-statistic median CI (L241) and the deterministic
  * Poisson-multiplier bootstrap CI for a mean (L242 — resampling
  * WITHOUT replaying the corpus B times through a sampler: one scan,
  * hash-drawn Poisson(1) weights, the Efron multiplier form).
  *
  * Beyond-reference surface (the reference pipeline computes point
  * aggregates only — `dbt/models/gold/gold_attrition_summary.sql:1-9`
  * reports means with no interval); kernels in `ops/Stats.scala`,
  * edge semantics pinned in StatsSpec. Exactness follows
  * `graft.functions.ExactRound`: verdicts and ranks are integer
  * cross-multiplications against minted constants (38416 = 1.96²·10⁴;
  * the Poisson thresholds `Stats.PoissonT`), ratios cross the oracle
  * boundary via the half-up integer divide, and the only raw DOUBLEs
  * emitted (isotonic rate, replica mean spread) are integer÷integer
  * IEEE divisions — bit-identical on any engine.
  */
object StatsQueries {

  /** tokens CTE body (DuckDB dialect) — the shared corpus tokenizer. */
  private val toksSql =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  /** The grouped Mann–Whitney verdict SQL over a CTE `d(rep, side, v)`
    * — mirror of Stats.mannWhitneyBy (side 0 = A, side 1 = B). */
  private def mwSql(d: String) =
    s"""m AS (
       |  SELECT rep, v,
       |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS c1,
       |    CAST(sum(CASE WHEN side = 0 THEN 0 ELSE 1 END) AS HUGEINT) AS c2
       |  FROM $d GROUP BY 1, 2),
       |s AS (
       |  SELECT rep, c1, c2,
       |    CAST(sum(c2) OVER (PARTITION BY rep ORDER BY v
       |      ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS f2,
       |    c1 + c2 AS t
       |  FROM m),
       |a AS (
       |  SELECT rep,
       |    CAST(sum(c1 * (2 * f2 - c2)) AS HUGEINT) AS u2,
       |    CAST(sum(c1) AS HUGEINT) AS n1,
       |    CAST(sum(c2) AS HUGEINT) AS n2,
       |    CAST(sum(t * t * t - t) AS HUGEINT) AS ties
       |  FROM s GROUP BY 1),
       |vr AS (
       |  SELECT rep, u2, n1, n2, n1 + n2 AS n,
       |    abs(u2 - n1 * n2) AS dev,
       |    (n1 + n2) * (n1 + n2 - 1) * (n1 + n2 + 1) - ties AS g
       |  FROM a WHERE n1 > 0 AND n2 > 0)""".stripMargin

  private val mwSelect =
    """CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(u2 AS DOUBLE) / 2 AS u,
      |  CAST((2 * u2 * 1000000 + 2 * n1 * n2) // (4 * n1 * n2) AS DOUBLE)
      |    / 1000000 AS auc,
      |  (CASE WHEN g > 0 THEN
      |     (((dev * 100000) // (n1 * n2)) * ((dev * 100000) // (n1 * n2))
      |       * 3 * n * (n - 1) * n1 * n2) // (g * 10000)
      |   ELSE 0 END) > 3841600 AS drift_detected""".stripMargin

  /** Per-group Gopher-keep partials CTE chain (DuckDB dialect):
    * `parts(<grp>, n, pos)` — the q169 battery aggregated by `grp`
    * (source for the jackknife/EB queries, lang for the
    * disparate-impact audit). */
  private def gopherPartsSql(grp: String = "source") = {
    val stopList = Text.StopWords.head._2.map(w => s"'$w'").mkString(",")
    s"""gbase AS (
       |  SELECT doc_id, $grp, n_chars, text, $toksSql AS t FROM documents),
       |gsig AS (
       |  SELECT doc_id, $grp, n_chars,
       |    CAST(len(t) AS BIGINT) AS n,
       |    ${LlmQueries.foldSumSql(
          "list_transform(t, w -> CAST(length(w) AS BIGINT))",
          "CAST(0 AS BIGINT)")} AS sum_len,
       |    CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
       |      AS BIGINT) AS alpha,
       |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT)
       |      AS symbols,
       |    CAST(len(list_filter(t, w -> w IN ($stopList))) AS BIGINT)
       |      AS stop_hits
       |  FROM gbase),
       |glab AS (
       |  SELECT $grp,
       |    CASE WHEN n >= 20 AND n <= 100000 AND n > 0
       |      AND sum_len >= n * 3 AND sum_len <= n * 10
       |      AND symbols * 10 <= n AND alpha * 10 >= n * 8
       |      AND stop_hits >= 2 THEN 1 ELSE 0 END AS keep
       |  FROM gsig),
       |parts AS (
       |  SELECT $grp, CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(keep) AS HUGEINT) AS pos
       |  FROM glab GROUP BY 1)""".stripMargin
  }

  /** The per-group Gopher-keep partials, Spark side. */
  private def gopherParts(spark: org.apache.spark.sql.SparkSession,
      dir: String, grp: String = "source") =
    Tables.documents(spark, dir)
      .select(col(grp),
        Text.gopherSignals(col("text")).last.cast("int").cast("long")
          .as("keep"))
      .groupBy(grp)
      .agg(count(lit(1)).as("n"), sum("keep").as("pos"))

  /** The isotonic-calibration oracle SQL (q259; q272 replays it
    * verbatim — the fold == one-shot identity over the abelian bin
    * counts). */
  private def isotonicOracleSql: String = {
    val stopList = Text.StopWords.head._2
      .map(w => s"'$w'").mkString(",")
    s"""WITH base AS (
           |  SELECT doc_id, text, n_chars, $toksSql AS t FROM documents),
           |sig AS (
           |  SELECT doc_id, n_chars,
           |    CAST(len(t) AS BIGINT) AS n,
           |    ${LlmQueries.foldSumSql(
                "list_transform(t, w -> CAST(length(w) AS BIGINT))",
                "CAST(0 AS BIGINT)")} AS sum_len,
           |    CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
           |      AS BIGINT) AS alpha,
           |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT)
           |      AS symbols,
           |    CAST(len(list_filter(t, w -> w IN ($stopList))) AS BIGINT)
           |      AS stop_hits
           |  FROM base),
           |lab AS (
           |  SELECT least(n_chars // 100, 15) AS bin,
           |    CASE WHEN n >= 20 AND n <= 100000 AND n > 0
           |      AND sum_len >= n * 3 AND sum_len <= n * 10
           |      AND symbols * 10 <= n AND alpha * 10 >= n * 8
           |      AND stop_hits >= 2 THEN 1 ELSE 0 END AS keep
           |  FROM sig),
           |bins AS (
           |  SELECT bin, CAST(count(*) AS HUGEINT) AS n,
           |    CAST(sum(keep) AS HUGEINT) AS pos
           |  FROM lab GROUP BY 1),
           |pre AS (
           |  SELECT bin, n, pos,
           |    CAST(sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
           |      AS HUGEINT) AS cn,
           |    CAST(sum(pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
           |      AS HUGEINT) AS cp
           |  FROM bins),
           |iv AS (
           |  SELECT j.bin AS jb, l.bin AS lb,
           |    l.cp - j.cp + j.pos AS p, l.cn - j.cn + j.n AS nn
           |  FROM pre j JOIN pre l ON j.bin <= l.bin),
           |mi AS (
           |  SELECT b.bin, iv.jb,
           |    min(CAST(iv.p AS DOUBLE) / CAST(iv.nn AS DOUBLE)) AS m
           |  FROM pre b JOIN iv ON iv.jb <= b.bin AND iv.lb >= b.bin
           |  GROUP BY 1, 2),
           |iso AS (SELECT bin, max(m) AS iso_rate FROM mi GROUP BY 1)
           |SELECT p.bin, CAST(p.n AS BIGINT) AS n_docs,
           |  CAST(p.pos AS BIGINT) AS n_keep,
           |  CAST((2 * p.pos * 1000000 + p.n) // (2 * p.n) AS DOUBLE)
           |    / 1000000 AS raw_rate,
           |  i.iso_rate
           |FROM pre p JOIN iso i USING (bin)""".stripMargin
  }

  /** Per-row (length bin, Gopher keep) aggregated to the ≤16-row bin
    * table — the isotonic fit's corpus-side input (q259 one-shot;
    * q272 builds the same partials per micro-batch). */
  private def lengthBinnedGate(df: org.apache.spark.sql.DataFrame) =
    df.select(
        least(expr("n_chars div 100"), lit(15L)).as("bin"),
        Text.gopherSignals(col("text")).last.cast("int").cast("long")
          .as("keep"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("keep").as("pos"))

  val all: Seq[Q] = Seq(

    // ---- L239 Mann–Whitney rank-sum drift: the location-shift
    // companion to q240's KS — KS keys on the worst CDF gap (one
    // spiked value can fire it), the rank test on systematic
    // stochastic dominance, and its AUC = U∕(n₁n₂) is the
    // probability-of-superiority effect size a drift dashboard
    // reports next to the verdict. Here: does English documents'
    // length distribution dominate the other languages'? The verdict
    // is decided entirely in integer space (tie-corrected variance,
    // minted 1.96²·10⁶ on the e5 effect-size ladder that survives
    // ~sf300 — round 17; the round-16 div-reduction crossed 38 digits
    // at ~sf130) — a boundary tie cannot flip cross-engine. One
    // support-sized pass.
    Q(
      "q258_mannwhitney_drift",
      s"""WITH d AS (
         |  SELECT 0 AS rep,
         |    CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS side,
         |    n_chars AS v
         |  FROM documents),
         |${mwSql("d")}
         |SELECT $mwSelect
         |FROM vr""".stripMargin) { (spark, dir) =>
      // kernel: ops/Stats.mannWhitney (tie/degenerate semantics pinned
      // in StatsSpec)
      val docs = Tables.documents(spark, dir)
      Stats.mannWhitney(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"),
        "n_chars")
    },

    // ---- L240 isotonic gate calibration: the Gopher battery (q169)
    // gives a binary keep; a mixture planner wants P(keep | score) as
    // a MONOTONE function of the cheap score it thresholds on. PAVA
    // over 100-char length bins (capped at 15 — the tail pools), via
    // the closed max-min interval form: ŷ_i = max_{j≤i} min_{l≥i}
    // avg(keep over bins j..l). The corpus pays ONE aggregate to the
    // ≤16-row bin table; the O(k³) grid is broadcast math — the same
    // fit costs the same at 100 TB. Interval rates are exact-integer
    // IEEE divisions (bit-deterministic), raw_rate the half-up
    // integer divide.
    Q(
      "q259_isotonic_calibration", isotonicOracleSql) { (spark, dir) =>
      // kernel: ops/Stats.isotonicFit (monotone-input identity and
      // single-violator pooling pinned in StatsSpec)
      Stats.isotonicFit(lengthBinnedGate(Tables.documents(spark, dir)),
        "bin", "n", "pos")
    },

    // ---- L241 order-statistic median CI: the distribution-free ~95%
    // interval [v₍l₎, v₍n+1−l₎], l = max(1, (n−m) div 2) with m the
    // integer ceiling of 1.96√n minted via an EXACT integer sqrt (the
    // float seed corrected ±1 in integer space — a perfect square
    // cannot round off cross-engine). No global row sort: distinct-
    // value counts + a cumulative window, rank r reads back as
    // min v with F(v) ≥ r — support-sized work at any corpus size.
    Q(
      "q260_median_ci",
      """WITH sup AS (
        |  SELECT CAST(n_chars AS BIGINT) AS v, count(*) AS c
        |  FROM documents GROUP BY 1),
        |cum AS (
        |  SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |    AS HUGEINT) AS f
        |  FROM sup),
        |t AS (SELECT CAST(sum(c) AS HUGEINT) AS n FROM sup),
        |q1 AS (SELECT n, 38416 * n AS x,
        |  CAST(floor(sqrt(CAST(38416 * n AS DOUBLE))) AS HUGEINT) AS s0
        |  FROM t),
        |q2 AS (SELECT n, x,
        |  CASE WHEN s0 * s0 > x THEN s0 - 1 ELSE s0 END AS s1 FROM q1),
        |q3 AS (SELECT n, x,
        |  CASE WHEN (s1 + 1) * (s1 + 1) <= x THEN s1 + 1 ELSE s1 END AS s2
        |  FROM q2),
        |q4 AS (SELECT n, x, s2 // 100 AS m1 FROM q3),
        |q5 AS (SELECT n,
        |  CASE WHEN m1 * m1 * 10000 >= x THEN m1 ELSE m1 + 1 END AS m
        |  FROM q4),
        |r AS (SELECT n, greatest((n - m) // 2, 1) AS lo_r,
        |  n + 1 - greatest((n - m) // 2, 1) AS hi_r,
        |  (n + 1) // 2 AS m1_r, n // 2 + 1 AS m2_r FROM q5)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(min(CASE WHEN f >= m1_r THEN v END)
        |    + min(CASE WHEN f >= m2_r THEN v END) AS DOUBLE) / 2 AS median,
        |  CAST(min(CASE WHEN f >= lo_r THEN v END) AS BIGINT) AS ci_lo,
        |  CAST(min(CASE WHEN f >= hi_r THEN v END) AS BIGINT) AS ci_hi,
        |  CAST(lo_r AS BIGINT) AS rank_lo, CAST(hi_r AS BIGINT) AS rank_hi
        |FROM cum, r
        |GROUP BY n, lo_r, hi_r, m1_r, m2_r""".stripMargin) { (spark, dir) =>
      // kernel: ops/Stats.medianCI (tiny-n clamp and odd/even medians
      // pinned in StatsSpec)
      Stats.medianCI(Tables.documents(spark, dir), "n_chars")
    },

    // ---- L242 Poisson-multiplier bootstrap CI: the resampling
    // interval for mean doc length WITHOUT B corpus replays — replica
    // b reweights each doc by a Poisson(1) weight drawn via
    // inverse-CDF on the q20 Knuth hash of (doc_id, b), so both
    // engines draw the SAME resample (Efron's multiplier bootstrap;
    // Poisson(1) is the large-n limit of multinomial row counts).
    // One scan exploded ×50 with map-side per-replica partials, a
    // 50-row shuffle, and an integer percentile-rank rule — the CI is
    // bit-identical cross-engine and the plan is a single pass at any
    // corpus size.
    Q(
      "q261_bootstrap_ci", {
        val wCase = Stats.PoissonT.zipWithIndex
          .map { case (t, k) => s"WHEN u < $t THEN $k" }
          .mkString(" ")
        s"""WITH reps AS (
           |  SELECT doc_id, n_chars AS x, r.rep
           |  FROM documents, range(0, 50) r(rep)),
           |u AS (
           |  SELECT x, rep,
           |    (((doc_id * 50 + rep) % 2147483647) * 2654435761 + 77)
           |      % 2147483647 AS u
           |  FROM reps),
           |w AS (SELECT x, rep, CASE $wCase ELSE 8 END AS w FROM u),
           |mb AS (
           |  SELECT rep, CAST(sum(w * x) AS HUGEINT) AS num,
           |    CAST(sum(w) AS HUGEINT) AS den
           |  FROM w GROUP BY 1),
           |means AS (
           |  SELECT rep,
           |    CAST((2 * num * 1000000 + den) // (2 * den) AS DOUBLE)
           |      / 1000000 AS mean_b
           |  FROM mb WHERE den > 0),
           |ranked AS (
           |  SELECT mean_b,
           |    row_number() OVER (ORDER BY mean_b, rep) AS rn,
           |    count(*) OVER () AS rr
           |  FROM means),
           |ci AS (
           |  SELECT CAST(max(rr) AS BIGINT) AS b_replicas,
           |    min(CASE WHEN rn = (rr * 25) // 1000 + 1 THEN mean_b END)
           |      AS ci_lo,
           |    min(CASE WHEN rn = rr - (rr * 25) // 1000 THEN mean_b END)
           |      AS ci_hi
           |  FROM ranked),
           |pt AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST((2 * CAST(sum(n_chars) AS HUGEINT) * 1000000 + count(*))
           |      // (2 * count(*)) AS DOUBLE) / 1000000 AS point_mean
           |  FROM documents)
           |SELECT n, b_replicas, point_mean, ci_lo, ci_hi
           |FROM pt, ci""".stripMargin
      }) { (spark, dir) =>
      // kernel: ops/Stats.poissonBootstrapMean (determinism and rank
      // rule pinned in StatsSpec)
      Stats.poissonBootstrapMean(Tables.documents(spark, dir),
        "doc_id", "n_chars", b = 50, seed = 77L)
    },

    // ---- L243 A/A drift-test calibration: the monitor's own audit.
    // 20 hash-random splits of the SAME corpus run through the L239
    // verdict — every "drift" here is by construction a false
    // positive, so the per-rep verdict table IS the measured
    // false-positive rate of the α = 5% battery (expectation: ~1 of
    // 20). The replica axis is an explode (20× one scan, per-(rep,
    // value) map-side partials) — calibrating the monitor costs 20
    // aggregates, not 20 corpus copies, at any scale.
    Q(
      "q262_aa_calibration",
      s"""WITH d AS (
         |  SELECT r.rep,
         |    (((doc_id * 20 + r.rep) % 2147483647) * 2654435761 + 13)
         |      % 2147483647 % 2 AS side,
         |    n_chars AS v
         |  FROM documents, range(0, 20) r(rep)),
         |${mwSql("d")}
         |SELECT CAST(rep AS BIGINT) AS rep, $mwSelect
         |FROM vr""".stripMargin) { (spark, dir) =>
      // kernel: ops/Stats.mannWhitneyBy, grouped by replica
      val P = 2147483647L
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(0L), lit(19L))).as("rep"))
        .withColumn("side",
          ((col("doc_id") * 20 + col("rep")) % P * 2654435761L + 13) % P % 2)
      Stats.mannWhitneyBy(docs, "rep", "side", "n_chars")
        .withColumn("rep", col("rep").cast("long"))
    },

    // ---- L244 FDR-controlled per-source drift: L243 calibrates the
    // battery's false-positive rate; this CONTROLS it when the battery
    // fans out — 20 simultaneous source-vs-complement Mann–Whitney
    // tests under Benjamini–Hochberg step-up at FDR 5% (naive per-test
    // α would page ~1 source per sweep on pure noise). Per source the
    // tie-corrected z² lands on the 10⁻⁶ grid by integer divide,
    // sources rank by z², rank i compares against the minted
    // Φ⁻¹(1−0.025·i∕20)²·10⁶ ladder (Stats.BhT20), and the step-up
    // closure rejects every rank up to the largest crossing one. The
    // whole controller is |sources|-row grid math over one 20×-explode
    // scan.
    Q(
      "q263_fdr_source_drift", {
        val values = Stats.BhT20.zipWithIndex
          .map { case (t, i) => s"(${i + 1}, $t)" }.mkString(", ")
        s"""WITH srcs AS (SELECT DISTINCT source AS rep FROM documents),
           |d AS (
           |  SELECT s.rep,
           |    CASE WHEN doc.source = s.rep THEN 0 ELSE 1 END AS side,
           |    doc.n_chars AS v
           |  FROM documents doc, srcs s),
           |${mwSql("d")},
           |z AS (
           |  SELECT rep, n1, n2,
           |    CASE WHEN g > 0 THEN
           |      (((dev * 100000) // (n1 * n2)) * ((dev * 100000) // (n1 * n2))
           |        * 3 * n * (n - 1) * n1 * n2) // (g * 10000)
           |    ELSE 0 END AS z6
           |  FROM vr),
           |r AS (
           |  SELECT rep, n1, n2, z6,
           |    row_number() OVER (ORDER BY z6 DESC, rep) AS rnk
           |  FROM z),
           |t(rank_i, ti) AS (VALUES $values),
           |j AS (SELECT r.*, t.ti FROM r LEFT JOIN t ON r.rnk = t.rank_i),
           |im AS (
           |  SELECT coalesce(max(CASE WHEN ti IS NOT NULL AND z6 >= ti
           |    THEN rnk END), 0) AS im FROM j)
           |SELECT rep AS source, CAST(n1 AS BIGINT) AS n1,
           |  CAST(n2 AS BIGINT) AS n2,
           |  CAST(z6 AS DOUBLE) / 1000000 AS z2,
           |  CAST(rnk AS BIGINT) AS rank, rnk <= im AS rejected
           |FROM j, im""".stripMargin
      }) { (spark, dir) =>
      // kernel: ops/Stats.bhDrift (step-up closure pinned in StatsSpec)
      val docs = Tables.documents(spark, dir)
      val srcs = docs.select(col("source").as("rep")).distinct()
      val d = docs.crossJoin(broadcast(srcs))
        .select(col("rep"),
          when(col("source") === col("rep"), 0).otherwise(1).as("side"),
          col("n_chars").as("v"))
      Stats.bhDrift(d, "rep", "side", "v")
        .withColumnRenamed("rep", "source")
    },

    // ---- L245 delete-a-group jackknife: the SE of a NONLINEAR corpus
    // metric (the Gopher keep RATE) without resampling rows — drop one
    // source at a time, re-form the ratio from the per-source partials
    // already aggregated, and read the spread (Quenouille/Tukey;
    // delete-a-group is the production form for source-clustered
    // corpora). The corpus pays ONE gate aggregate; the G leave-one-out
    // ratios, pseudo-values, and the SE are grid math on G rows.
    // Everything on the 10⁻⁶ integer grid; se² is one scale-12 half-up
    // divide (unscaled < 2⁵³) before the single terminal sqrt.
    Q(
      "q264_jackknife_keep_rate",
      s"""WITH ${gopherPartsSql()},
         |tot AS (
         |  SELECT CAST(sum(n) AS HUGEINT) AS nn,
         |    CAST(sum(pos) AS HUGEINT) AS kk,
         |    CAST(count(*) AS HUGEINT) AS gg
         |  FROM parts),
         |loo AS (
         |  SELECT source, n, pos, gg,
         |    (2 * (kk - pos) * 1000000 + (nn - n)) // (2 * (nn - n)) AS loo6,
         |    (2 * kk * 1000000 + nn) // (2 * nn) AS a6
         |  FROM parts, tot),
         |sums AS (SELECT CAST(sum(loo6) AS HUGEINT) AS ss FROM loo),
         |dv AS (
         |  SELECT source, n, pos, gg, loo6, a6, gg * loo6 - ss AS dev
         |  FROM loo, sums),
         |se AS (
         |  SELECT sqrt(CAST(
         |    (2 * ((gg - 1) * sd2) * 1000000000000
         |      + gg * gg * gg * 1000000000000)
         |      // (2 * gg * gg * gg * 1000000000000) AS DOUBLE)
         |    / 1000000000000) AS jk_se
         |  FROM (SELECT gg, sum(dev * dev) AS sd2 FROM dv GROUP BY 1))
         |SELECT source, CAST(n AS BIGINT) AS n_docs,
         |  CAST(pos AS BIGINT) AS n_keep,
         |  CAST(loo6 AS DOUBLE) / 1000000 AS loo_rate,
         |  CAST(gg * a6 - (gg - 1) * loo6 AS DOUBLE) / 1000000
         |    AS pseudo_value,
         |  jk_se
         |FROM dv, se""".stripMargin) { (spark, dir) =>
      // kernel: ops/Stats.jackknifeRatio (two-group hand value and
      // zero-spread SE pinned in StatsSpec)
      Stats.jackknifeRatio(gopherParts(spark, dir), "source", "n", "pos")
        .withColumnRenamed("grp", "source")
    },

    // ---- L246 empirical-Bayes source quality: small sources have
    // noisy gate rates — a 40-doc source at 0.55 is weaker evidence
    // than a 4 000-doc source at 0.55. Beta-binomial shrinkage via
    // method-of-moments (the Robbins/Morris estimator): the prior
    // strength M = m(1−m)∕v − 1 reduces to ONE rational over the
    // 10⁻⁶-grid sums, α∕β split it so α+β = M exactly on the grid, and
    // each source moves to (pos·10⁶+α₆)∕(n·10⁶+M₆) — between its raw
    // rate and the family mean, small sources moving furthest. The
    // documented cap (10¹⁵) and no-shrinkage paths (zero or
    // over-binomial variance) keep the recipe total and every double
    // conversion under 2⁵³.
    Q(
      "q265_eb_source_quality",
      s"""WITH ${gopherPartsSql()},
         |ebase AS (
         |  SELECT source, n, pos,
         |    (2 * pos * 1000000 + n) // (2 * n) AS raw6
         |  FROM parts),
         |esums AS (
         |  SELECT CAST(sum(raw6) AS HUGEINT) AS s2,
         |    CAST(count(*) AS HUGEINT) AS g2
         |  FROM ebase),
         |ewd AS (
         |  SELECT ebase.*, g2, s2, g2 * raw6 - s2 AS dev
         |  FROM ebase, esums),
         |epr AS (
         |  SELECT s2, g2, g2 * 1000000 AS d, sum(dev * dev) AS sd2
         |  FROM ewd GROUP BY 1, 2, 3),
         |epr2 AS (
         |  SELECT d, s2,
         |    CASE WHEN sd2 > 0 AND s2 * (d - s2) * (g2 - 1) - sd2 > 0 THEN
         |      least((2 * (s2 * (d - s2) * (g2 - 1) - sd2) * 1000000 + sd2)
         |        // (2 * sd2), 1000000000000000)
         |    ELSE 0 END AS m6
         |  FROM epr),
         |epr3 AS (
         |  SELECT m6,
         |    CASE WHEN m6 > 0 THEN (2 * s2 * m6 + d) // (2 * d)
         |      ELSE 0 END AS alpha6
         |  FROM epr2)
         |SELECT source, CAST(n AS BIGINT) AS n_docs,
         |  CAST(pos AS BIGINT) AS n_keep,
         |  CAST(raw6 AS DOUBLE) / 1000000 AS raw_rate,
         |  CASE WHEN m6 > 0 THEN
         |    CAST((2 * (pos * 1000000 + alpha6) * 1000000
         |      + (n * 1000000 + m6)) // (2 * (n * 1000000 + m6)) AS DOUBLE)
         |      / 1000000
         |  ELSE CAST(raw6 AS DOUBLE) / 1000000 END AS shrunk_rate,
         |  CAST(m6 AS DOUBLE) / 1000000 AS prior_strength
         |FROM ebase, epr3""".stripMargin) { (spark, dir) =>
      // kernel: ops/Stats.ebShrinkRates (contraction, no-shrinkage
      // paths, and the α+β = M grid identity pinned in StatsSpec)
      Stats.ebShrinkRates(gopherParts(spark, dir), "source", "n", "pos")
        .withColumnRenamed("grp", "source")
    },

    // ---- L247 clustered bootstrap: q261 resamples DOCS — but docs
    // within a source correlate (shared crawl, template, register), so
    // the iid interval is too narrow for corpus-level inference. The
    // cluster bootstrap draws ONE Poisson(1) weight per (source,
    // replica) — the q261 kernel verbatim with the hashed source as
    // the resampling id — 20 effective units instead of the doc count,
    // so the interval widens exactly when sources genuinely differ (on
    // this fixture's exchangeable synthetic sources the two widths
    // agree within replica noise — the honest null). Same single-scan
    // plan; the id-granularity is the ONLY difference, pinned by the
    // shared kernel.
    Q(
      "q266_cluster_bootstrap", {
        val wCase = Stats.PoissonT.zipWithIndex
          .map { case (t, k) => s"WHEN u < $t THEN $k" }
          .mkString(" ")
        s"""WITH reps AS (
           |  SELECT CAST(concat('0x', substr(md5(source), 1, 8)) AS BIGINT)
           |      AS cid,
           |    n_chars AS x, r.rep
           |  FROM documents, range(0, 50) r(rep)),
           |u AS (
           |  SELECT x, rep,
           |    (((cid * 50 + rep) % 2147483647) * 2654435761 + 91)
           |      % 2147483647 AS u
           |  FROM reps),
           |w AS (SELECT x, rep, CASE $wCase ELSE 8 END AS w FROM u),
           |mb AS (
           |  SELECT rep, CAST(sum(w * x) AS HUGEINT) AS num,
           |    CAST(sum(w) AS HUGEINT) AS den
           |  FROM w GROUP BY 1),
           |means AS (
           |  SELECT rep,
           |    CAST((2 * num * 1000000 + den) // (2 * den) AS DOUBLE)
           |      / 1000000 AS mean_b
           |  FROM mb WHERE den > 0),
           |ranked AS (
           |  SELECT mean_b,
           |    row_number() OVER (ORDER BY mean_b, rep) AS rn,
           |    count(*) OVER () AS rr
           |  FROM means),
           |ci AS (
           |  SELECT CAST(max(rr) AS BIGINT) AS b_replicas,
           |    min(CASE WHEN rn = (rr * 25) // 1000 + 1 THEN mean_b END)
           |      AS ci_lo,
           |    min(CASE WHEN rn = rr - (rr * 25) // 1000 THEN mean_b END)
           |      AS ci_hi
           |  FROM ranked),
           |pt AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           |    CAST((2 * CAST(sum(n_chars) AS HUGEINT) * 1000000 + count(*))
           |      // (2 * count(*)) AS DOUBLE) / 1000000 AS point_mean
           |  FROM documents)
           |SELECT n, n_sources, b_replicas, point_mean, ci_lo, ci_hi
           |FROM pt, ci""".stripMargin
      }) { (spark, dir) =>
      // kernel: ops/Stats.poissonBootstrapMean over the hashed source —
      // cluster-level weights by construction
      val docs = Tables.documents(spark, dir)
      val nSrc = docs.agg(countDistinct("source").as("n_sources"))
      Stats.poissonBootstrapMean(
        docs.withColumn("cid", Text.strHash32(col("source"))),
        "cid", "n_chars", b = 50, seed = 91L)
        .crossJoin(broadcast(nSrc))
        .select(col("n"), col("n_sources"), col("b_replicas"),
          col("point_mean"), col("ci_lo"), col("ci_hi"))
    },

    // ---- L250 disparate-impact gate audit (the 4/5ths rule): a
    // quality gate tuned on English silently deciding against other
    // languages is a real curation failure mode — this is the
    // EEOC-style first screen applied to the Gopher battery across
    // langs: per lang the keep rate, the impact ratio vs the BEST
    // group (exact rational, half-up 6 dp), and the adverse flag
    // decided by integer cross-multiplication 5·k_g·n_b < 4·k_b·n_g —
    // a group exactly AT 0.8 is NOT adverse (strict <, pinned in
    // StatsSpec). One corpus gate aggregate; the audit itself is
    // |langs|-row grid math.
    Q(
      "q269_gate_disparate_impact",
      s"""WITH ${gopherPartsSql("lang")},
         |best AS (
         |  SELECT lang AS best_grp, n AS bn, pos AS bk FROM (
         |    SELECT lang, n, pos,
         |      (2 * pos * 1000000 + n) // (2 * n) AS raw6,
         |      row_number() OVER (
         |        ORDER BY (2 * pos * 1000000 + n) // (2 * n) DESC, lang)
         |        AS rk
         |    FROM parts) x WHERE rk = 1)
         |SELECT lang, CAST(n AS BIGINT) AS n_docs,
         |  CAST(pos AS BIGINT) AS n_keep,
         |  CAST((2 * pos * 1000000 + n) // (2 * n) AS DOUBLE) / 1000000
         |    AS keep_rate,
         |  CASE WHEN bk = 0 THEN 1.0 ELSE
         |    CAST((2 * pos * bn * 1000000 + bk * n) // (2 * bk * n)
         |      AS DOUBLE) / 1000000 END AS impact_ratio,
         |  5 * pos * bn < 4 * bk * n AS adverse,
         |  best_grp
         |FROM parts, best""".stripMargin) { (spark, dir) =>
      // kernel: ops/Stats.disparateImpact (0.8 boundary strictness and
      // zero-keep degenerate pinned in StatsSpec)
      Stats.disparateImpact(gopherParts(spark, dir, "lang"),
        "lang", "n", "pos")
        .withColumnRenamed("grp", "lang")
    },

    // ---- L252 McNemar gate-migration test: κ (q239/q253) measures
    // whether two gates AGREE; a gate-version rollout asks a sharper
    // paired question — among the docs where v1 and v2 DISAGREE, is
    // the disagreement asymmetric (v2 net stricter or looser)?
    // McNemar ignores the concordant mass entirely: χ² = (b−c)²∕(b+c)
    // over the discordant cells, verdict strictly in integer space
    // ((b−c)²·10⁴ > 38416·(b+c); a tie AT the boundary is NOT a
    // shift). v2 here tightens the word floor (25 vs 20) and loosens
    // the symbol rule (·8 vs ·10) — a realistic mixed revision whose
    // NET direction is the audit's headline (on this fixture the
    // symbol relaxation gains nothing — c = 0, a pure tightening of
    // 122 docs at sf0.1 — which is exactly the kind of fact the
    // audit exists to surface). One paired-gate aggregate.
    Q(
      "q271_mcnemar_gate_shift",
      s"""WITH ${gopherPartsSql("source").split("glab AS")(0)}
         |mg AS (
         |  SELECT
         |    CASE WHEN n >= 20 AND n <= 100000 AND n > 0
         |      AND sum_len >= n * 3 AND sum_len <= n * 10
         |      AND symbols * 10 <= n AND alpha * 10 >= n * 8
         |      AND stop_hits >= 2 THEN 1 ELSE 0 END AS ga,
         |    CASE WHEN n >= 25 AND n <= 100000 AND n > 0
         |      AND sum_len >= n * 3 AND sum_len <= n * 10
         |      AND symbols * 8 <= n AND alpha * 10 >= n * 8
         |      AND stop_hits >= 2 THEN 1 ELSE 0 END AS gb
         |  FROM gsig),
         |cc AS (
         |  SELECT
         |    CAST(sum(ga * gb) AS HUGEINT) AS a,
         |    CAST(sum(ga * (1 - gb)) AS HUGEINT) AS b,
         |    CAST(sum((1 - ga) * gb) AS HUGEINT) AS c,
         |    CAST(sum((1 - ga) * (1 - gb)) AS HUGEINT) AS d,
         |    CAST(count(*) AS HUGEINT) AS n
         |  FROM mg)
         |SELECT CAST(n AS BIGINT) AS n, CAST(a AS BIGINT) AS n_both,
         |  CAST(b AS BIGINT) AS n_v1_only, CAST(c AS BIGINT) AS n_v2_only,
         |  CAST(d AS BIGINT) AS n_neither,
         |  CASE WHEN b + c = 0 THEN 0.0 ELSE
         |    CAST((2 * (b - c) * (b - c) * 1000000 + (b + c))
         |      // (2 * (b + c)) AS DOUBLE) / 1000000 END AS chi2,
         |  (b - c) * (b - c) * 10000 > 38416 * (b + c) AS shift_detected,
         |  CASE WHEN b - c > 0 THEN 'tightened'
         |       WHEN b - c < 0 THEN 'loosened'
         |       ELSE 'balanced' END AS direction
         |FROM cc""".stripMargin) { (spark, dir) =>
      // kernel: ops/Stats.mcnemarShift (boundary strictness and the
      // fully-concordant degenerate pinned in StatsSpec)
      val n = Text.tokenCount(col("text")).cast("long")
      val sumLen = Text.sumTokenLen(col("text"))
      val alpha = Text.alphaTokenCount(col("text"))
      val symbols = regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("long")
      val stopHits = Text.stopwordHits(col("text"), Text.StopWords.head._2)
        .cast("long")
      val common = n <= 100000L && n > 0 && sumLen >= n * 3 &&
        sumLen <= n * 10 && alpha * 10 >= n * 8 && stopHits >= 2L
      val g = Tables.documents(spark, dir).select(
        when(n >= 20L && common && symbols * 10 <= n, 1L).otherwise(0L)
          .as("ga"),
        when(n >= 25L && common && symbols * 8 <= n, 1L).otherwise(0L)
          .as("gb"))
      Stats.mcnemarShift(g, "ga", "gb")
    },

    // ---- L253 streaming calibration-curve maintenance: q259's
    // isotonic fit kept ALIVE over the stream — the bin table is
    // abelian (per-bin counts add), so each micro-batch folds its own
    // (bin, n, pos) partials into the 16-row standing state
    // exactly-once via Streams.foldOnce and the PAVA fit re-runs on the
    // resolved state in O(k³) driver math. The oracle is q259's
    // ONE-SHOT SQL verbatim: fold == one-shot pinned row-for-row,
    // iso rates included — the calibration curve a live gate
    // dashboard reads never drifts from what a batch recompute would
    // say.
    Q(
      "q272_stream_calibration_fold", isotonicOracleSql) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
        .select("doc_id", "n_chars", "text")
      val root = graft.Tmp.dir("graft-q272").toString
      val path = s"$root/bins"
      import spark.implicits._
      // Batch membership: batch b = doc_id ≡ b (mod 4).
      // Segment-append fold (round 21): per-bin (n, pos) counts are
      // additive long sums — commit the batch's partial only,
      // re-reduce the retained segments at read.
      val Seq(bins) = graft.streaming.Streams.foldOnce(
          (0L until 4L).map(b => docs.filter(col("doc_id") % 4 === b)),
          Seq(graft.streaming.Streams.Segments(path,
            Seq.empty[(Long, Long, Long)].toDF("bin", "n", "pos")))) {
        (batch, _, _) => Seq(lengthBinnedGate(batch.toDF("doc_id", "n_chars", "text")))
      }
      Stats.isotonicFit(
        bins.groupBy("bin").agg(sum("n").as("n"), sum("pos").as("pos")),
        "bin", "n", "pos")
    },

    // ---- L255 Wilson score intervals: the per-source rate report's
    // honest error bars — Wald CIs collapse at k = 0 or k = n (exactly
    // the small-source rows that matter), Wilson stays inside [0, 1]
    // and keeps coverage at small n. Computed in doubles from the
    // exact (k, n) integers through ONE operand tree written
    // identically in both engines (z = 1.96 ∕ z² = 3.8416 shared
    // literals) — every IEEE step bit-identical, raw-double bounds at
    // the boundary. Complements q265: EB moves the point estimate,
    // Wilson reports the per-group uncertainty around the raw one.
    Q(
      "q274_wilson_intervals",
      s"""WITH ${gopherPartsSql()},
         |pd AS (
         |  SELECT source, n, pos,
         |    CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS p,
         |    CAST(n AS DOUBLE) AS nd
         |  FROM parts)
         |SELECT source, CAST(n AS BIGINT) AS n_docs,
         |  CAST(pos AS BIGINT) AS n_keep,
         |  CAST((2 * pos * 1000000 + n) // (2 * n) AS DOUBLE) / 1000000
         |    AS keep_rate,
         |  ((p + 3.8416 / (2.0 * nd)) - 1.96 * sqrt(p * (1.0 - p) / nd
         |    + 3.8416 / (4.0 * (nd * nd)))) / (1.0 + 3.8416 / nd)
         |    AS wilson_lo,
         |  ((p + 3.8416 / (2.0 * nd)) + 1.96 * sqrt(p * (1.0 - p) / nd
         |    + 3.8416 / (4.0 * (nd * nd)))) / (1.0 + 3.8416 / nd)
         |    AS wilson_hi
         |FROM pd""".stripMargin) { (spark, dir) =>
      // kernel: ops/Stats.wilsonIntervals (k=0/k=n boundary behavior
      // and the textbook n=100 value pinned in StatsSpec)
      Stats.wilsonIntervals(gopherParts(spark, dir), "source", "n", "pos")
        .withColumnRenamed("grp", "source")
    },

    // ---- L256 Heaps'-law vocabulary-growth fit: how fast does vocab
    // grow as the corpus grows — the planning number behind tokenizer
    // budgets and q245's richness extrapolation. The growth curve is
    // the 20-point cumulative (tokens, distinct-terms) prefix over the
    // source order (each term attributed to its FIRST source, so the
    // curve needs one min-aggregate, not 20 corpus passes), and the
    // fit is OLS on the 9-dp-ln grid (vocabulary unit = distinct
    // 3-gram shingle HASHES via the compiled kernel — the fixture's
    // unigram pool is a fixed 31 words and saturates at the first
    // prefix, the degenerate β = 0 curve, while shingle vocabulary
    // genuinely grows; the 32-bit hash dedup is identical on both
    // engines, the q23 contract, and the interpreted string-shingle
    // chain it replaces measured 6× slower): ln V = intercept + β·ln N with
    // β and intercept minted by signed half-up integer divides over
    // the exact scale-9 sums (the q65 ln-recipe risk class: a 1-ulp
    // libm divergence flips a 9th decimal with ~1e-6 probability per
    // point — accepted and documented there).
    Q(
      "q275_heaps_law",
      s"""WITH tbase AS (
         |  SELECT source, $toksSql AS t FROM documents),
         |sr AS (
         |  SELECT source, row_number() OVER (ORDER BY source) AS rk
         |  FROM (SELECT DISTINCT source FROM documents)),
         |tr AS (
         |  SELECT sr.rk, u.term
         |  FROM tbase JOIN sr USING (source), unnest(tbase.t) u(term)),
         |tok AS (SELECT rk, CAST(count(*) AS HUGEINT) AS ntok
         |  FROM tr GROUP BY 1),
         |sh AS (
         |  SELECT sr.rk, u.h
         |  FROM (SELECT source,
         |      list_transform(${LlmQueries.shinglesSql.replace("\n", " ")},
         |        x -> ${LlmQueries.strHashSql("x")}) AS hs
         |    FROM tbase) q JOIN sr USING (source), unnest(q.hs) u(h)),
         |fv AS (SELECT h, min(rk) AS frk FROM sh GROUP BY 1),
         |vb AS (SELECT frk AS rk, CAST(count(*) AS HUGEINT) AS nv
         |  FROM fv GROUP BY 1),
         |pts AS (
         |  SELECT sr.rk AS t,
         |    CAST(sum(coalesce(tok.ntok, 0)) OVER (ORDER BY sr.rk
         |      ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS n_tokens,
         |    CAST(sum(coalesce(vb.nv, 0)) OVER (ORDER BY sr.rk
         |      ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS vocab
         |  FROM sr LEFT JOIN tok ON tok.rk = sr.rk
         |    LEFT JOIN vb ON vb.rk = sr.rk),
         |xy AS (
         |  SELECT t, n_tokens, vocab,
         |    CAST(CAST(round(ln(CAST(n_tokens AS DOUBLE)), 9)
         |      AS DECIMAL(28,9)) * 1000000000 AS HUGEINT) AS x9,
         |    CAST(CAST(round(ln(CAST(vocab AS DOUBLE)), 9)
         |      AS DECIMAL(28,9)) * 1000000000 AS HUGEINT) AS y9
         |  FROM pts),
         |sm AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS g,
         |    CAST(sum(x9) AS HUGEINT) AS sx, CAST(sum(y9) AS HUGEINT) AS sy,
         |    CAST(sum(x9 * y9) AS HUGEINT) AS sxy,
         |    CAST(sum(x9 * x9) AS HUGEINT) AS sxx
         |  FROM xy),
         |bb AS (
         |  SELECT g, sx, sy, g * sxy - sx * sy AS bn,
         |    g * sxx - sx * sx AS bd
         |  FROM sm),
         |b2 AS (
         |  SELECT g, sx, sy,
         |    CASE WHEN bn >= 0 THEN (2 * bn * 1000000 + bd) // (2 * bd)
         |      ELSE -((2 * (-bn) * 1000000 + bd) // (2 * bd)) END AS b6
         |  FROM bb),
         |a2 AS (
         |  SELECT b6,
         |    CASE WHEN sy * 1000000 - b6 * sx >= 0
         |      THEN (2 * (sy * 1000000 - b6 * sx) + g * 1000000000)
         |        // (2 * g * 1000000000)
         |      ELSE -((2 * (b6 * sx - sy * 1000000) + g * 1000000000)
         |        // (2 * g * 1000000000)) END AS a6
         |  FROM b2)
         |SELECT CAST(t AS BIGINT) AS t, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(vocab AS BIGINT) AS vocab,
         |  CAST(b6 AS DOUBLE) / 1000000 AS beta,
         |  CAST(a6 AS DOUBLE) / 1000000 AS intercept_ln
         |FROM xy, a2""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val I = DecimalType(38, 0)
      val docs = Tables.documents(spark, dir)
      // unpartitioned windows below run over the |sources|-row grid only
      val srcs = docs.select("source").distinct()
        .withColumn("rk", row_number().over(Window.orderBy("source")))
      val tr = docs
        .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
        .join(broadcast(srcs), "source")
      val tok = tr.groupBy("rk").agg(count(lit(1)).as("ntok"))
      val sh = docs
        .select(col("source"), explode(
          call_function("graft_shingle_hashes", col("text"), lit(3))).as("s"))
        .join(broadcast(srcs), "source")
      val fv = sh.groupBy("s").agg(min("rk").as("frk"))
      val vb = fv.groupBy(col("frk").as("rk")).agg(count(lit(1)).as("nv"))
      val w = Window.orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def ln9(c: org.apache.spark.sql.Column) =
        (round(log(c.cast("double")), 9).cast(DecimalType(18, 9)) *
          lit(java.math.BigDecimal.valueOf(1000000000L))
            .cast(DecimalType(10, 0))).cast(I)
      val pts = srcs
        .join(tok, Seq("rk"), "left").join(vb, Seq("rk"), "left")
        .select(col("rk"),
          sum(coalesce(col("ntok"), lit(0L))).over(w).cast(I).as("n_tokens"),
          sum(coalesce(col("nv"), lit(0L))).over(w).cast(I).as("vocab"))
        .select(col("rk").cast("long").as("t"), col("n_tokens"), col("vocab"),
          ln9(col("n_tokens")).as("x9"), ln9(col("vocab")).as("y9"))
        .localCheckpoint() // 20 rows; the fit and the output both read it
      val sm = pts.agg(
        count(lit(1)).cast(I).as("g"),
        sum("x9").cast(I).as("sx"), sum("y9").cast(I).as("sy"),
        sum(col("x9") * col("y9")).cast(I).as("sxy"),
        sum(col("x9") * col("x9")).cast(I).as("sxx"))
      def signedDiv(num: org.apache.spark.sql.Column,
          den: org.apache.spark.sql.Column) =
        when(num >= 0, ExactRound.floorDiv(
          lit(2).cast(I) * num * lit(1000000L).cast(I) + den,
          lit(2).cast(I) * den))
          .otherwise(-ExactRound.floorDiv(
            lit(2).cast(I) * (-num) * lit(1000000L).cast(I) + den,
            lit(2).cast(I) * den))
      val fit = sm
        .withColumn("b6", signedDiv(
          col("g") * col("sxy") - col("sx") * col("sy"),
          col("g") * col("sxx") - col("sx") * col("sx")))
        .withColumn("a6num", col("sy") * lit(1000000L).cast(I) -
          col("b6") * col("sx"))
        .withColumn("a6", when(col("a6num") >= 0, ExactRound.floorDiv(
          lit(2).cast(I) * col("a6num") + col("g") * lit(1000000000L).cast(I),
          lit(2).cast(I) * col("g") * lit(1000000000L).cast(I)))
          .otherwise(-ExactRound.floorDiv(
            lit(2).cast(I) * (-col("a6num")) +
              col("g") * lit(1000000000L).cast(I),
            lit(2).cast(I) * col("g") * lit(1000000000L).cast(I))))
        .select((col("b6").cast("double") / lit(1000000.0)).as("beta"),
          (col("a6").cast("double") / lit(1000000.0)).as("intercept_ln"))
      pts.crossJoin(broadcast(fit))
        .select(col("t"), col("n_tokens").cast("long").as("n_tokens"),
          col("vocab").cast("long").as("vocab"), col("beta"),
          col("intercept_ln"))
    },

    // ---- L257 Kendall-tau source-ranking agreement: does the ranking
    // of sources by GATE QUALITY agree with their ranking by MEAN DOC
    // LENGTH? tau near 1 says length is already the quality signal
    // (the cheap proxy could replace a gate stage); tau near 0 says
    // the gate earns its slot — the rank-level twin of q253's
    // doc-level kappa. Ranks minted on the 6-dp integer grids with a
    // deterministic source tiebreak (distinct by construction), tau
    // and the alpha = 5% independence verdict decided strictly in
    // integer space over the 190 source pairs (18*(C-D)^2*10^4 >
    // 38416*n(n-1)(2n+5); boundary tie NOT dependence). One corpus
    // aggregate; the pair grid never touches rows.
    Q(
      "q276_kendall_source_ranks",
      s"""WITH ${gopherPartsSql("source").split("glab AS")(0)}
         |gl AS (
         |  SELECT source, n_chars,
         |    CASE WHEN n >= 20 AND n <= 100000 AND n > 0
         |      AND sum_len >= n * 3 AND sum_len <= n * 10
         |      AND symbols * 10 <= n AND alpha * 10 >= n * 8
         |      AND stop_hits >= 2 THEN 1 ELSE 0 END AS keep
         |  FROM gsig),
         |gp AS (
         |  SELECT source, CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(keep) AS HUGEINT) AS pos,
         |    CAST(sum(n_chars) AS HUGEINT) AS sc
         |  FROM gl GROUP BY 1),
         |rk AS (
         |  SELECT source,
         |    row_number() OVER (ORDER BY (2 * pos * 1000000 + n)
         |      // (2 * n) DESC, source) AS rate_rank,
         |    row_number() OVER (ORDER BY (2 * sc * 1000000 + n)
         |      // (2 * n) DESC, source) AS len_rank
         |  FROM gp),
         |pr AS (
         |  SELECT CAST(sum(CASE WHEN (a.rate_rank - b.rate_rank)
         |      * (a.len_rank - b.len_rank) > 0 THEN 1 ELSE 0 END)
         |      AS HUGEINT) AS c,
         |    CAST(sum(CASE WHEN (a.rate_rank - b.rate_rank)
         |      * (a.len_rank - b.len_rank) < 0 THEN 1 ELSE 0 END)
         |      AS HUGEINT) AS d
         |  FROM rk a JOIN rk b ON a.source < b.source),
         |tt AS (
         |  SELECT c, d, c - d AS cd,
         |    (SELECT CAST(count(*) AS HUGEINT) FROM rk) AS n
         |  FROM pr)
         |SELECT rk.source, CAST(rate_rank AS BIGINT) AS rate_rank,
         |  CAST(len_rank AS BIGINT) AS len_rank,
         |  CAST(CASE WHEN cd >= 0
         |    THEN (2 * (2 * cd) * 1000000 + n * (n - 1))
         |      // (2 * n * (n - 1))
         |    ELSE -((2 * (2 * (-cd)) * 1000000 + n * (n - 1))
         |      // (2 * n * (n - 1))) END AS DOUBLE) / 1000000 AS tau,
         |  18 * cd * cd * 10000 > 38416 * n * (n - 1) * (2 * n + 5)
         |    AS dependent
         |FROM rk, tt""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val I = DecimalType(38, 0)
      // kernel: ops/Stats.kendallTau (perfect agreement/reversal and
      // boundary strictness pinned in StatsSpec)
      val gp = Tables.documents(spark, dir)
        .select(col("source"), col("n_chars"),
          Text.gopherSignals(col("text")).last.cast("int").cast("long")
            .as("keep"))
        .groupBy("source")
        .agg(count(lit(1)).cast(I).as("n"), sum("keep").cast(I).as("pos"),
          sum("n_chars").cast(I).as("sc"))
      def grid6(num: org.apache.spark.sql.Column) = ExactRound.floorDiv(
        lit(2).cast(I) * num * lit(1000000L).cast(I) + col("n"),
        lit(2).cast(I) * col("n"))
      val rk = gp.select(col("source"),
          grid6(col("pos")).as("rate6"), grid6(col("sc")).as("len6"))
        // unpartitioned windows over the |sources|-row aggregate only
        .withColumn("rate_rank", row_number().over(
          Window.orderBy(col("rate6").desc, col("source"))))
        .withColumn("len_rank", row_number().over(
          Window.orderBy(col("len6").desc, col("source"))))
        .localCheckpoint() // 20 rows; the pair grid and output read it
      val tau = Stats.kendallTau(rk, "source", "rate_rank", "len_rank")
      rk.crossJoin(broadcast(tau))
        .select(col("source"),
          col("rate_rank").cast("long").as("rate_rank"),
          col("len_rank").cast("long").as("len_rank"),
          col("tau"), col("dependent"))
    })
}

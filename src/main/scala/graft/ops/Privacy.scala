package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII detection and redaction for training-corpus governance: a
  * rule-driven regex scrubber in the same ADT-interpreter style as the
  * DQ rule engine (Quality/RuleYaml). The reference pipeline has no
  * privacy layer — this extends the engine toward the compliance pass a
  * 100 TB training-set build runs before anything ships to a trainer.
  *
  * Everything compiles to codegen'd `regexp_count` / `regexp_replace`
  * expressions — no UDFs, per-row work O(len · rules), no shuffle at
  * all: detection and rewrite are scan-level projections, so the pass
  * pipelines with whatever filter/write follows it. Patterns stick to
  * the regex subset Java (Spark) and RE2 (DuckDB oracle) agree on:
  * character classes, bounded counts, no backrefs/lookaround.
  */
object Privacy {

  /** One redaction rule: leftmost-non-overlapping matches of `pattern`
    * are counted and rewritten to `replacement`. `name` keys the count
    * column (`n_<name>s`). */
  final case class Rule(name: String, pattern: String, replacement: String)

  /** Email addresses (simplified RFC shape, lowercase input). */
  val Email: Rule =
    Rule("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>")

  /** Dashed phone numbers in the 2-3-3-4 digit-group shape. */
  val Phone: Rule =
    Rule("phone", "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>")

  def matchCount(text: Column, rule: Rule): Column =
    regexp_count(text, lit(rule.pattern))

  /** Apply all rules in order; each rule rewrites the previous rule's
    * output, so overlapping patterns resolve by list position. */
  def redact(text: Column, rules: Seq[Rule]): Column =
    rules.foldLeft(text)((c, r) => regexp_replace(c, r.pattern, r.replacement))

  /** Scan `textCol` for every rule: appends one `n_<name>s` count per
    * rule (counted on the ORIGINAL text, so counts are independent of
    * rule order) and `redacted` with all rules applied in order. */
  def scan(df: DataFrame, textCol: String, rules: Seq[Rule]): DataFrame = {
    // withColumn silently replaces same-named columns — refuse rather
    // than destroy caller data (rule names drive the output names, so a
    // collision is a caller bug worth a loud message)
    (rules.map(r => s"n_${r.name}s") :+ "redacted").foreach(c =>
      require(!df.columns.contains(c),
        s"Privacy.scan writes column '$c' but the input already has one"))
    val counted = rules.foldLeft(df) { (acc, r) =>
      acc.withColumn(s"n_${r.name}s", matchCount(col(textCol), r).cast("long"))
    }
    counted.withColumn("redacted", redact(col(textCol), rules))
  }

  /** Dashed 4-4-4-4 payment-card CANDIDATE shape. A digit shape alone
    * over-redacts (order ids, timestamps); pair with [[luhnValid]] to
    * confirm — the ISO/IEC 7812 checksum every real PAN carries. */
  val CreditCardRe = "[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}"

  /** Luhn (mod-10) checksum over a dashed-or-plain 16-digit candidate:
    * from the right, every second digit doubles (minus 9 when > 9); the
    * total must divide by 10. For a 16-digit PAN the doubled positions
    * are the odd LEFT indices, so the whole check is one sequential
    * integer fold over the candidate — no UDF, engine-exact, and cheap
    * enough to run inside a scan projection. */
  def luhnValid(cand: Column): Column = {
    val d = translate(cand, "-", "")
    val total = aggregate(
      transform(sequence(lit(1), lit(16)), i => {
        val dig = (ascii(d.substr(i, lit(1))) - 48).cast("long")
        when(i % 2 === 1,
          when(dig * 2 > 9, dig * 2 - 9).otherwise(dig * 2)).otherwise(dig)
      }),
      lit(0L), _ + _)
    total % 10 === 0
  }

  /** Checksum-validated card scan: counts candidate PANs
    * ([[CreditCardRe]]), counts the Luhn-valid subset, and redacts ONLY
    * the valid ones (an invalid candidate is an order id, not PII —
    * redacting it destroys data for no privacy gain). Appends
    * `n_cc_candidates`, `n_cc_valid`, `redacted`. Scan-level
    * projection: extraction, validation, and the per-candidate rewrite
    * fold all run inside the row. */
  def ccScan(df: DataFrame, textCol: String): DataFrame = {
    Seq("n_cc_candidates", "n_cc_valid", "redacted").foreach(c =>
      require(!df.columns.contains(c),
        s"Privacy.ccScan writes column '$c' but the input already has one"))
    val cands = regexp_extract_all(col(textCol), lit(CreditCardRe), lit(0))
    val valid = filter(cands, c => luhnValid(c))
    df.withColumn("n_cc_candidates", size(cands).cast("long"))
      .withColumn("n_cc_valid", size(valid).cast("long"))
      .withColumn("redacted",
        aggregate(valid, col(textCol),
          (acc, c) => call_function("replace", acc, c, lit("<CC>"))))
  }

  /** k-anonymity / l-diversity audit: one row per quasi-identifier
    * combination with its population `n`, the distinct count of the
    * sensitive attribute `n_sensitive`, and the two release gates —
    * `k_anonymous` (every individual hides among ≥ k records) and
    * `l_diverse` (the group doesn't give the sensitive value away by
    * uniformity). One hash aggregate over the QID key; output is
    * O(|QID combinations|), not O(rows). */
  def kAnonymityAudit(df: DataFrame, qids: Seq[String], sensitive: Column,
      k: Int, l: Int): DataFrame =
    df.groupBy(qids.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(sensitive).as("n_sensitive"))
      .withColumn("k_anonymous", col("n") >= k)
      .withColumn("l_diverse", col("n_sensitive") >= l)

  /** t-closeness audit (Li et al. ICDE 2007) for an ORDERED sensitive
    * attribute: per QID group, the Earth-Mover's Distance between the
    * group's distribution over sensitive bins and the global one —
    * EMD = Σ_b |Σ_{b'≤b}(p_{b'} − q_{b'})| ∕ (m−1) for ordinal bins
    * with unit ground distance (their Eq. for numeric attributes).
    * The l-diversity gate (kAnonymityAudit) only counts distinct
    * sensitive values; a group can pass it while its value
    * DISTRIBUTION still leaks (all-but-one member in the top bin) —
    * t-closeness is the audit that catches that.
    *
    * Exact integer arithmetic throughout: the cumulative diff at bin
    * b is Σ(n_gb·N − n_b·N_g) over the common denominator N_g·N, so
    * emd = Σ|cum| ∕ (N_g·N·(m−1)) — one ExactRound.roundRatio at the
    * presentation boundary, and the pass flag (emd ≤ tNum∕tDen)
    * compares integers, never a float. m = 1 (a single global bin)
    * means identical distributions: emd 0, pass.
    *
    * Scale shape: two corpus aggregates (QID×bin, bin) + the QID
    * rollup — the corpus shuffles on its natural keys only; the EMD
    * itself is arithmetic over the bounded groups×bins frame
    * (broadcast joins + one window over that aggregate). Emits
    * (qids…, n, n_bins, emd, t_close). */
  def tClosenessAudit(df: DataFrame, qids: Seq[String], sensitive: Column,
      tNum: Long = 1, tDen: Long = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tNum >= 0 && tDen > 0, s"need a ratio, got $tNum/$tDen")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df.select(qids.map(col) :+ sensitive.as("_bin"): _*)
    val gb = base.groupBy(col("_bin")).agg(count(lit(1)).as("_nb"))
    val g = base.groupBy(qids.map(col) :+ col("_bin"): _*)
      .agg(count(lit(1)).as("_ngb"))
    val gt = base.groupBy(qids.map(col): _*).agg(count(lit(1)).as("n"))
    val tot = base.agg(count(lit(1)).as("_n"),
      countDistinct(col("_bin")).as("_m"))
    val filled = gt.crossJoin(broadcast(gb))
      .join(g, qids :+ "_bin", "left")
      .withColumn("_ngb", coalesce(col("_ngb"), lit(0L)))
      .crossJoin(broadcast(tot))
    val w = Window.partitionBy(qids.map(col): _*).orderBy(col("_bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val den = col("n").cast(dec) * col("_n") * (col("_m") - 1)
    filled
      .withColumn("_cum", sum(col("_ngb").cast(dec) * col("_n")
        - col("_nb").cast(dec) * col("n")).over(w))
      .groupBy(qids.map(col) :+ col("n") :+ col("_n") :+ col("_m"): _*)
      .agg(sum(abs(col("_cum"))).as("_sumabs"))
      .select(qids.map(col) :+ col("n") :+
        col("_m").cast("long").as("n_bins") :+
        when(col("_m") > 1,
          graft.functions.ExactRound.roundRatio(col("_sumabs"), den, 6)
            .cast("double")).otherwise(lit(0.0)).as("emd") :+
        when(col("_m") > 1,
          col("_sumabs") * tDen <= den * tNum).otherwise(lit(true))
          .as("t_close"): _*)
  }

  /** Gazetteer (deny-list) redaction: terms live in a TABLE maintained
    * elsewhere (the realistic shape — legal's name list, a competitor
    * glossary — versioned independently of code), matched as whole
    * lowercase-alphanumeric words against the token stream via ONE
    * broadcast join, then each doc rewrites only its own matched terms
    * (a bounded per-row fold, sorted for determinism — not a
    * |gazetteer|-term regex applied to every doc). Unlike the L72
    * regex rules (shape-based, code-deployed), the deny list updates
    * without a release.
    *
    * Contract: gazetteer terms must be lowercase alphanumeric — the
    * match side guarantees it structurally (terms only reach the
    * rewrite via the token join, and [[Text.tokens]] emits `[a-z0-9]+`
    * only), and the rewrite \Q…\E-quotes each term so a
    * non-conforming table entry can never inject regex syntax; it
    * simply matches no token and redacts nothing. Matching is
    * CASE-INSENSITIVE end to end: hits count against lowercased
    * tokens, and the rewrite carries `(?i)` so capitalized
    * occurrences ('Alice') are redacted, not just counted.
    * Occurrences count ALL hits, redaction rewrites every occurrence
    * of each matched term. Appends
    * (n_gazetteer_hits, n_gazetteer_terms, redacted). Scale shape: one
    * broadcast hash join on the exploded token stream + one per-doc
    * rollup — the corpus shuffles once on its own id. */
  def gazetteerRedact(df: DataFrame, idCol: String, textCol: String,
      gazetteer: DataFrame, termCol: String,
      replacement: String = "<NAME>"): DataFrame = {
    Seq("n_gazetteer_hits", "n_gazetteer_terms", "redacted").foreach(c =>
      require(!df.columns.contains(c),
        s"Privacy.gazetteerRedact writes column '$c' but the input already has one"))
    val hits = df
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("_tok"))
      .join(broadcast(gazetteer.select(col(termCol).as("_tok"))), "_tok")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_gazetteer_hits"),
        array_sort(collect_set(col("_tok"))).as("_terms"))
    df.join(hits, Seq(idCol), "left")
      .withColumn("n_gazetteer_hits",
        coalesce(col("n_gazetteer_hits"), lit(0L)))
      .withColumn("_terms",
        coalesce(col("_terms"), array().cast("array<string>")))
      .withColumn("n_gazetteer_terms", size(col("_terms")).cast("long"))
      .withColumn("redacted",
        aggregate(col("_terms"), col(textCol), (acc, t) =>
          regexp_replace(acc,
            concat(lit("(?i)\\b\\Q"), t, lit("\\E\\b")),
            lit(replacement))))
      .drop("_terms")
  }
}

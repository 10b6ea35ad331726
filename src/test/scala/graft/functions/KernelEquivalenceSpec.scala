package graft.functions

import graft.SparkSuite
import graft.ops.{Dedup, Text}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Bit-identity pins: each compiled kernel must produce EXACTLY the value
  * of the higher-order-function formula it replaced (the DuckDB oracles
  * were written against those formulas; fixture data alone doesn't
  * exercise every edge, so these run on adversarial + seeded-random
  * inputs). */
class KernelEquivalenceSpec extends SparkSuite {
  import spark.implicits._

  private val rng = new scala.util.Random(17)
  private val texts: Seq[String] = Seq(
    "", " ", "a", "A-b_c 42!", "x " * 500, "tok1 tok2 tok1 tok2",
    "Ünïcode émojis stay out", "1 2 3 4 5 6 7 8 9") ++
    (1 to 30).map { _ =>
      (1 to rng.nextInt(80)).map(_ => s"w${rng.nextInt(40)}").mkString(" ")
    }

  test("ShingleHashes == sorted distinct HOF md5-shingle pipeline") {
    val df = texts.toDF("text")
    val kernel = df.select(
      call_function("graft_shingle_hashes", col("text"), lit(3)).as("hv"))
    val hof = df.select(
      array_sort(array_distinct(transform(
        array_distinct(Text.shingles(Text.tokens(col("text")), 3)),
        s => Text.strHash32(s) % Text.P))).as("hv"))
    assert(kernel.as[Seq[Long]].collect().toSeq == hof.as[Seq[Long]].collect().toSeq)
  }

  test("RollingHash == interpreted per-char ascii/substr fold (q24 " +
      "fingerprint), surrogate pairs and NULL included") {
    // the astral case matters: substring slices by CODE POINT, so the
    // kernel must advance by Character.charCount, not by UTF-16 unit
    val hard = texts ++ Seq("emoji 😀 pair", "😀",
      "mixed é́ ü € 世界 end")
    val df = hard.toDF("text")
    val kernel = df.select(call_function("graft_rolling_hash", col("text")))
    val hof = df.select(
      when(length(col("text")) === 0, lit(0L)).otherwise(
        aggregate(
          transform(sequence(lit(1), length(col("text"))),
            i => ascii(col("text").substr(i, lit(1))).cast("long")),
          lit(0L),
          (acc, c) => (acc * 31 + c) % 1000000007L)))
    assert(kernel.as[Long].collect().toSeq == hof.as[Long].collect().toSeq)
    val n = Seq[Option[String]](None).toDF("t")
      .select(call_function("graft_rolling_hash", col("t")))
      .collect().head
    assert(n.isNullAt(0), "NULL input must stay NULL")
  }

  test("q24 mean_token_len sum: one regexp pass == per-token length fold") {
    val df = texts.toDF("text")
    val toks = Text.tokens(col("text"))
    val rewritten = df.select(
      length(regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
        .cast("long"))
    val hof = df.select(
      aggregate(transform(toks, t => length(t).cast("long")), lit(0L), _ + _))
    assert(rewritten.as[Long].collect().toSeq == hof.as[Long].collect().toSeq)
  }

  test("compiled token-stat passes == per-token HOF folds (tokenCount, " +
      "sumTokenLen, alphaTokenCount, stopwordHits incl. non-alnum words)") {
    val hard = texts ++ Seq(
      "the and of to a in is it that for",   // every en stopword
      "für und der die das",                  // 'für' must NOT count (tokenizer splits it)
      "the_and.that3for the", "123 456 a1 1a 0", "athe thea the9 9the the",
      "der hund und die katze ist nicht hier", "Ünïcode émojis stay out")
    val df = hard.toDF("text")
    val toks = Text.tokens(col("text"))
    def pin(newC: org.apache.spark.sql.Column, oldC: org.apache.spark.sql.Column,
        tag: String): Unit = {
      val got = df.select(newC.cast("long"), oldC.cast("long"))
        .collect().toSeq.map(r => (r.get(0), r.get(1)))
      assert(got.forall(p => p._1 == p._2), s"$tag mismatch: $got")
    }
    pin(Text.tokenCount(col("text")), size(toks), "tokenCount")
    pin(Text.sumTokenLen(col("text")),
      aggregate(transform(toks, t => length(t).cast("long")), lit(0L), _ + _),
      "sumTokenLen")
    pin(Text.alphaTokenCount(col("text")),
      size(filter(toks, t => t.rlike("[a-z]"))), "alphaTokenCount")
    for ((lang, words) <- Text.StopWords)
      pin(Text.stopwordHits(col("text"), words),
        size(filter(toks, t => t.isInCollection(words))), s"stopwordHits/$lang")
    val all = Text.StopWords.flatMap(_._2).distinct
    pin(Text.stopwordHits(col("text"), all),
      size(filter(toks, t => t.isInCollection(all))), "stopwordHits/all")
    // NULL text: every compiled pass must stay NULL like the HOF forms
    val n = Seq[Option[String]](None).toDF("text").select(
      Text.tokenCount(col("text")), Text.sumTokenLen(col("text")),
      Text.alphaTokenCount(col("text")),
      Text.stopwordHits(col("text"), all)).collect().head
    assert((0 until 4).forall(n.isNullAt), s"NULL must propagate: $n")
  }

  test("TokenHashes == per-token raw md5-prefix HOF") {
    val df = texts.toDF("text")
    val kernel = df.select(call_function("graft_token_hashes", col("text")).as("th"))
    val hof = df.select(
      transform(Text.tokens(col("text")), t => Text.strHash32(t)).as("th"))
    // strHash32 is the raw 32-bit parse (no mod); TokenHashes must match it
    assert(kernel.as[Seq[Long]].collect().toSeq == hof.as[Seq[Long]].collect().toSeq)
  }

  test("MinHashSignature == k independent array_min HOF signatures") {
    val hv = (1 to 20).map(_ => (1 to rng.nextInt(50) + 1).map(_ =>
      rng.nextLong().abs % Text.P).toSeq)
    val df = hv.toDF("hv")
    val kernel = df.select(
      call_function("graft_minhash_signature", col("hv"), lit(12)).as("sig"))
    val hof = df.select(array((1 to 12).map { i =>
      array_min(transform(col("hv"),
        x => (lit(Dedup.minhashA(i)) * x + lit(Dedup.minhashB(i))) % Text.P))
    }: _*).as("sig"))
    assert(kernel.as[Seq[Long]].collect().toSeq == hof.as[Seq[Long]].collect().toSeq)
  }

  test("SimHash == unrolled per-bit HOF formula over raw 32-bit hashes") {
    val th = (1 to 20).map(_ => (1 to rng.nextInt(60) + 1).map(_ =>
      rng.nextLong().abs % (1L << 32)).toSeq)
    val df = th.toDF("th")
    val kernel = df.select(
      call_function("graft_simhash", col("th"), lit(32)).as("sim"))
    val hof = df.select((0 until 32).map { j =>
      val pow = 1L << j
      val bitSum = aggregate(col("th"), lit(0L),
        (acc, x) => acc + (x.cast("long") / pow).cast("long") % 2 * 2 - 1)
      when(bitSum > 0, lit(pow)).otherwise(lit(0L))
    }.reduce(_ + _).as("sim"))
    assert(kernel.as[Long].collect().toSeq == hof.as[Long].collect().toSeq)
  }

  test("SortedIntersectSize == size(array_intersect) on sorted distinct arrays") {
    val pairs = (1 to 30).map { _ =>
      def arr = (1 to rng.nextInt(40)).map(_ => rng.nextInt(60).toLong)
        .distinct.sorted.toSeq
      (arr, arr)
    } :+ ((Seq.empty[Long], Seq(1L, 2L))) :+ ((Seq(5L), Seq(5L)))
    val df = pairs.toDF("a", "b")
    val kernel = df.select(
      call_function("graft_sorted_intersect_size", col("a"), col("b")).as("n"))
    val hof = df.select(size(array_intersect(col("a"), col("b"))).as("n"))
    assert(kernel.as[Int].collect().toSeq == hof.as[Int].collect().toSeq)
  }

  test("LshBuckets == per-table interpreted HOF projection formula") {
    // vectors at, below, and ABOVE the declared dim: the kernel must fold
    // every element exactly like the HOF (overhang signs via formula)
    val dim = 16
    for (len <- Seq(8, dim, 40)) {
      val vecs = (1 to 20).map(_ => (1 to len).map(_ => rng.nextDouble() * 2 - 1).toSeq)
      val df = vecs.toDF("v")
      val kernel = df.select(
        call_function("graft_lsh_buckets", col("v"), lit(4), lit(dim), lit(4)).as("bk"))
      val hof = df.select(array((0 until 4).map(t =>
        KernelEquivalenceSpec.lshBucketHof(col("v"), 4, dim, t)): _*).as("bk"))
      assert(kernel.as[Seq[Long]].collect().toSeq == hof.as[Seq[Long]].collect().toSeq,
        s"len=$len")
    }
  }

  test("DotProduct == aggregate(zip_with) sequential fold, bit for bit") {
    val vecs = (1 to 20).map { _ =>
      val n = rng.nextInt(64) + 1
      ((1 to n).map(_ => rng.nextDouble() * 2 - 1).toSeq,
        (1 to n).map(_ => rng.nextDouble() * 2 - 1).toSeq)
    }
    val df = vecs.toDF("a", "b")
    val kernel = df.select(call_function("graft_dot_product", col("a"), col("b")).as("d"))
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v).as("d"))
    // bit-identical, not approximately equal — the oracle depends on it
    assert(kernel.as[Double].collect().toSeq == hof.as[Double].collect().toSeq)
  }

  test("AHash64 == the defining stride-sample/mean/bit-pack HOF chain; " +
      "NULL under 64 bytes") {
    val payloads = Seq("a" * 63, "b" * 64, "ab" * 40, "xyz" * 100) ++
      (1 to 20).map(_ =>
        (1 to (64 + rng.nextInt(400))).map(_ => (32 + rng.nextInt(95)).toChar)
          .mkString)
    val df = payloads.toDF("text")
    val kernel = df.select(call_function("graft_ahash", col("text")).as("ah"))
      .as[Option[Seq[Long]]].collect().toSeq
    val stride = floor(length(col("text")) / 64).cast("long")
    val bs = transform(sequence(lit(0L), lit(63L)), i =>
      ascii(col("text").substr((i * col("stride") + 1).cast("int"), lit(1)))
        .cast("long"))
    def pack(slice: org.apache.spark.sql.Column, m: org.apache.spark.sql.Column) =
      aggregate(slice, lit(0L), (a, x) => a * 2 + when(x > m, 1L).otherwise(0L))
    val hof = df.filter(length(col("text")) >= 64)
      .withColumn("stride", stride).withColumn("bs", bs)
      .withColumn("m",
        floor(aggregate(col("bs"), lit(0L), (a, x) => a + x) / 64).cast("long"))
      .select(array(pack(slice(col("bs"), 1, 32), col("m")),
        pack(slice(col("bs"), 33, 32), col("m"))).as("ah"))
      .as[Seq[Long]].collect().toSeq
    assert(kernel.head.isEmpty, "63-byte payload must hash to NULL")
    assert(kernel.flatten == hof, "kernel diverged from the defining fold")
  }

  test("AHash64 non-ASCII input is BYTE-level by design (the documented " +
      "divergence from the char-level HOF chain)") {
    // 40 chars but 80 UTF-8 bytes: char-level gate (HOF chain) says
    // too-short, byte-level gate (kernel, the intended binary-payload
    // semantics) hashes it. Pin the kernel against a reference fold
    // over the raw UTF-8 bytes.
    val s = "é" * 40
    val bytes = s.getBytes("UTF-8")
    assert(s.length < 64 && bytes.length >= 64)
    val stride = bytes.length / 64
    val sampled = (0 until 64).map(i => bytes(i * stride) & 0xff)
    val m = sampled.map(_.toLong).sum / 64
    def pack(sl: Seq[Int]): Long =
      sl.foldLeft(0L)((a, b) => a * 2 + (if (b > m) 1L else 0L))
    val expected = Seq(pack(sampled.take(32)), pack(sampled.drop(32)))
    val got = Seq(s).toDF("text")
      .select(call_function("graft_ahash", col("text")).as("ah"))
      .as[Seq[Long]].collect().head
    assert(got == expected,
      "kernel must sample raw UTF-8 bytes and gate on byte length")
  }

  test("PairProducts == the nested-transform decimal HOF formula, " +
      "bit for bit, at 64 and odd lengths") {
    import org.apache.spark.sql.types.DecimalType
    for (len <- Seq(64, 5, 1, 0)) {
      val vecs = (1 to 12).map(_ =>
        (1 to len).map(_ => (rng.nextDouble() * 20 - 10).toFloat).toSeq)
      val df = vecs.toDF("v")
      val kernel = df
        .select(call_function("graft_pair_products", col("v")).as("p"))
        .as[Seq[Long]].collect().toSeq
      val dec = transform(col("v"),
        x => x.cast("double").cast(DecimalType(9, 5)))
      val hof = df.withColumn("d", dec)
        .select(flatten(transform(col("d"), (x, i) =>
          transform(slice(col("d"), i + lit(2), lit(len)), w =>
            (x * lit(100000)).cast("long") * (w * lit(100000)).cast("long"))))
          .as("p"))
        .as[Seq[Long]].collect().toSeq
      assert(kernel == hof, s"len=$len diverged")
    }
  }

  test("NormText: NFD and NFC spellings fingerprint identically; case " +
      "and whitespace runs collapse; ASCII round-trips unchanged") {
    def norm(s: String): String =
      Seq(s).toDF("t")
        .select(call_function("graft_norm_text", col("t")))
        .as[String].collect().head
    // e-acute composed (U+00E9) vs decomposed (e + combining U+0301):
    // the merge the operator exists for — spelled via escapes so a
    // source re-encoding cannot silently normalize the fixture
    val composed = "caf\u00e9"
    val decomposed = "cafe\u0301"
    assert(composed != decomposed, "fixture sanity: distinct raw strings")
    assert(norm(decomposed) == norm(composed),
      "NFC must merge composed and decomposed accents")
    assert(norm(composed) == composed)
    // case fold + whitespace collapse + trim
    assert(norm("  Hello\t\n  WORLD  ") == "hello world")
    // plain ASCII with single spaces is a fixed point
    assert(norm("already normal text") == "already normal text")
    // NULL propagates
    val n = Seq[Option[String]](None).toDF("t")
      .select(call_function("graft_norm_text", col("t")))
      .collect().head
    assert(n.isNullAt(0), "NULL input must stay NULL")
  }
}

object KernelEquivalenceSpec {
  import graft.ops.Text.{Mult, P}

  /** Deterministic ±1 hyperplane component for (bit, dim) — same det-hash
    * family as Facts.det so the oracle reproduces the planes exactly. */
  private def planeSign(bit: Int, d: Column, dim: Int): Column =
    when(pmod((lit(bit.toLong * dim) + d) * Mult, lit(P)) % 2 === 0, lit(1.0))
      .otherwise(lit(-1.0))

  /** Interpreted HOF formula of `Similarity.lshBuckets` for hash `table` —
    * kept as the executable spec the compiled kernel is pinned against;
    * the hot paths call the kernel. */
  def lshBucketHof(v: Column, nbits: Int, dim: Int, table: Int = 0): Column =
    (0 until nbits).map { b =>
      val proj = aggregate(
        transform(v, (x, i) => x * planeSign(table * nbits + b, i, dim)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
}

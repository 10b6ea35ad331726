package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for training-data curation: exact (content
  * hash), MinHash+LSH near-dup (banded candidate generation — never
  * all-pairs), SimHash near-dup, and exact n-gram Jaccard over blocked
  * candidate pairs.
  *
  * Scale design: every candidate-generation step is a shuffle keyed on a
  * hash/band bucket — `groupBy`-shaped, linear in corpus size — and the
  * quadratic verification (Jaccard / Hamming) only ever runs on bucket
  * collisions. At 100 TB the knobs are (k, bands, rowsPerBand) for the
  * candidate recall/cost trade and the band-key shuffle partitioning;
  * there is no O(n²) stage to outgrow.
  *
  * Caching contract: the pair operators `cache()` their per-doc
  * signature table because it feeds both sides of a self-join plus the
  * verify lookup (uncached it would be recomputed up to 4×). Each
  * operator materializes its (small, near-dup-tail-sized) result via
  * `localCheckpoint` and UNPERSISTS the signature cache before
  * returning, so repeated calls — in particular the per-batch
  * `nearDupPairsAgainst` ingest path — never accumulate stale
  * O(corpus-signature) caches in executor storage memory.
  */
object Dedup {
  import Text.{Mult, P}

  /** Exact dedup (content hash): tags every row with its content hash and
    * whether it is a non-first copy (first = lowest id wins). Single
    * shuffle on the hash. */
  def exactDupTag(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash")).orderBy(col(idCol))
    df.withColumn("content_hash", md5(col(textCol)))
      .withColumn("is_dup", row_number().over(w) > 1)
  }

  /** Per-doc SORTED DISTINCT shingle-hash set: tokens → word n-grams →
    * 32-bit hashes reduced mod P. Column name: `hv`. One compiled kernel
    * call per row (graft.functions.ShingleHashes) — the equivalent
    * higher-order-function chain evaluates interpreted per element and
    * was the measured hot spot. Sortedness feeds the two-pointer
    * intersect below. */
  def withShingleHashes(df: DataFrame, textCol: String, n: Int): DataFrame =
    df.withColumn("hv", call_function("graft_shingle_hashes", col(textCol), lit(n)))

  /** MinHash parameters for signature i (1-based): h_i(x) = (a_i·x + b_i) mod P.
    * a_i odd-ish and nonzero by construction; x is already < P so the
    * product stays < 2^62 (no Long overflow). */
  def minhashA(i: Int): Long = ((2L * i + 1) * Mult) % P
  def minhashB(i: Int): Long = (i.toLong * 40503L) % P

  /** k-wide MinHash signature over the `hv` shingle-hash set — all k mins
    * in one compiled pass (graft.functions.MinHashSignature). */
  def minhashSignature(hv: Column, k: Int): Column =
    call_function("graft_minhash_signature", hv, lit(k))

  /** LSH banding over a prepared (id, hv, sig) frame: one row per
    * (doc, band) with the band's signature slice as the bucket key. */
  private def bandKeys(sigs: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    require(bands * r == k, s"bands ($bands) must divide k ($k)")
    sigs.select(col(idCol), posexplode(
      array((0 until bands).map(b =>
        concat_ws(",", transform(slice(col("sig"), b * r + 1, r),
          x => x.cast("string")))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
  }

  /** Candidate pairs = docs sharing any (band, band_key) bucket — the
    * banded LSH join (shuffle on the bucket key), then exact Jaccard on
    * the candidates only. Returns (id_a, id_b, jaccard) with id_a < id_b,
    * filtered to `threshold`.
    *
    * The shingle/signature table is computed ONCE and cached: the band
    * self-join and the two hash-set lookups all reuse it (uncached, the
    * md5-shingle pipeline would run 4×). Band rows carry only (id, band,
    * key) — the heavy hash arrays never enter the explode shuffle. */
  /** Cached (id, hv, sig) signature table — shared by the self-join and
    * incremental near-dup paths (cache contract in the object doc). */
  private def sigTable(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int): DataFrame =
    withShingleHashes(df, textCol, shingleN)
      .filter(size(col("hv")) > 0)
      .withColumn("sig", minhashSignature(col("hv"), k))
      .select(col(idCol), col("hv"), col("sig"))
      .cache()

  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val sigs = sigTable(df, idCol, textCol, shingleN, k)
    val banded = bandKeys(sigs, idCol, k, bands)
    val cand = banded.select(col("band"), col("band_key"), col(idCol).as("id_a"))
      .join(banded.select(col("band"), col("band_key"), col(idCol).as("id_b")),
        Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val out = jaccardJoin(cand, sigs, sigs, idCol, "id_a", "id_b", threshold)
      .localCheckpoint() // materialize the tail-sized result …
    sigs.unpersist()     // … so the corpus-sized cache can be released now
    out
  }

  /** Degree-capped [[nearDupPairs]] — the PRODUCTION MinHash-LSH
    * candidate stream: identical banded candidate generation and exact
    * Jaccard verification, but each band bucket emits pairs only where
    * the SMALLER id ranks among the bucket's `cap` smallest ids — the
    * SAME [[cappedBucketPairs]] rank prune [[simhashPairsCapped]] uses
    * (one implementation, both call sites), so a bucket of B
    * members contributes ≤ cap·B candidates instead of B². The uncapped
    * generator's candidate volume grows quadratically with bucket
    * population on template-heavy corpora (the sf0.1→sf1 probe measured
    * 27× pair growth for 10× docs — a 100 TB scale-killer for every
    * downstream rescoring pass); the cap bounds it linearly.
    *
    * Semantics contract (mirrors [[simhashPairsCapped]]'s): the result
    * is a SUBSET of `nearDupPairs(df, …, threshold)` — equal when `cap`
    * ≥ the largest band bucket (pinned in TextDedupSpec). Recall loss is
    * confined to pairs whose smaller endpoint ranks > cap in EVERY
    * shared bucket; inside a dup cluster such members still connect
    * through a low-rank representative, and production folds absorb
    * capped-away links via the periodic FULL recompute (the q49
    * reconciliation rule). The rank prune is a pure function of bucket
    * contents — `row_number() OVER (PARTITION BY band, band_key ORDER BY
    * id) <= cap` — deterministic under any partitioning and replayed
    * bit-for-bit by the DuckDB oracle.
    *
    * Scale shape: the prune is a rank-pruned window on the bucket key
    * (WindowGroupLimit — partial top-cap per partition before the
    * shuffle), the band join probes ≤ cap rows per bucket per side, and
    * the Jaccard verify runs on the (now linear) candidate set only. */
  def nearDupPairsCapped(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 4,
      threshold: Double = 0.5, cap: Int = DefaultDegreeCap): DataFrame = {
    val sigs = sigTable(df, idCol, textCol, shingleN, k)
    val banded = bandKeys(sigs, idCol, k, bands)
    val cand = cappedBucketPairs(banded, idCol, Seq("band", "band_key"), cap)
      .select("id_a", "id_b")
      .distinct()
    val out = jaccardJoin(cand, sigs, sigs, idCol, "id_a", "id_b", threshold)
      .localCheckpoint() // materialize the tail-sized result …
    sigs.unpersist()     // … so the corpus-sized cache can be released now
    out
  }

  /** The ONE rank-prune implementation behind both degree-capped
    * candidate streams — [[nearDupPairsCapped]] (MinHash-LSH band
    * buckets) and [[simhashPairsCapped]] (SimHash band buckets) — so
    * the cap semantics cannot drift between the two paths (round-19
    * unification; the rule was previously written twice). Within every
    * bucket (`bucketCols` key), only rows whose id ranks among the
    * bucket's `cap` smallest take the LEFT (id_a) side of a pair:
    * `row_number() OVER (PARTITION BY bucket ORDER BY id) <= cap` — a
    * pure function of bucket contents (deterministic under any
    * partitioning, engine-replayable), planned as WindowGroupLimit
    * (partial top-cap per partition BEFORE the shuffle, pinned in
    * PlansSpec). The probe join then emits id_a < id_b candidates —
    * ≤ cap·B per bucket of B members instead of B². `carry` columns
    * ride along as `<c>_a`/`<c>_b` for the caller's verification
    * predicate; callers apply their own verify filter and distinct. */
  private[graft] def cappedBucketPairs(banded: DataFrame, idCol: String,
      bucketCols: Seq[String], cap: Int,
      carry: Seq[String] = Nil): DataFrame = {
    require(cap >= 1, s"cap must be positive, got $cap")
    val bc = bucketCols.map(col)
    val reps = banded
      .withColumn("_rk", row_number().over(
        Window.partitionBy(bc: _*).orderBy(col(idCol))))
      .filter(col("_rk") <= cap)
      .select((bc :+ col(idCol).as("id_a")) ++
        carry.map(c => col(c).as(c + "_a")): _*)
    val probe = banded.select((bc :+ col(idCol).as("id_b")) ++
      carry.map(c => col(c).as(c + "_b")): _*)
    reps.join(probe, bucketCols)
      .filter(col("id_a") < col("id_b"))
  }

  /** Incremental near-dup: a NEW batch deduplicated AGAINST an existing
    * corpus — the continuous-ingest shape (nobody re-runs the self-join
    * over 100 TB per arriving batch). Same banded-LSH candidate
    * generation, but the band join is corpus × batch (shuffle keyed on
    * the band bucket; the corpus side would be a pre-materialized
    * signature table in production — signatures are computed once per
    * document ever, not per batch). Returns (corpus_id, batch_id,
    * jaccard) for candidates with Jaccard ≥ threshold. */
  def nearDupPairsAgainst(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 12, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val cSigs = sigTable(corpus, idCol, textCol, shingleN, k)
    val bSigs = sigTable(batch, idCol, textCol, shingleN, k)
    val cand = bandKeys(cSigs, idCol, k, bands)
      .select(col("band"), col("band_key"), col(idCol).as("corpus_id"))
      .join(bandKeys(bSigs, idCol, k, bands)
        .select(col("band"), col("band_key"), col(idCol).as("batch_id")),
        Seq("band", "band_key"))
      .select("corpus_id", "batch_id")
      .distinct()
    val out = jaccardJoin(cand, cSigs, bSigs, idCol, "corpus_id", "batch_id", threshold)
      .localCheckpoint() // per-batch path: without the release below, every
    cSigs.unpersist()    // ingest batch would leak TWO signature caches
    bSigs.unpersist()
    out
  }

  /** Intersection size of two sorted distinct hash sets — codegen'd
    * two-pointer merge (graft.functions.SortedIntersectSize), no per-call
    * hash-set build like array_intersect. */
  def intersectSize(a: Column, b: Column): Column =
    call_function("graft_sorted_intersect_size", a, b)

  /** Join hash sets (possibly from two different tables) onto candidate
    * pairs and keep Jaccard ≥ threshold. */
  private def jaccardJoin(pairs: DataFrame, hvLeft: DataFrame, hvRight: DataFrame,
      idCol: String, leftCol: String, rightCol: String,
      threshold: Double): DataFrame = {
    val inter = intersectSize(col("hv_a"), col("hv_b"))
    val union = size(col("hv_a")) + size(col("hv_b")) - inter
    pairs
      .join(hvLeft.select(col(idCol).as(leftCol), col("hv").as("hv_a")), Seq(leftCol))
      .join(hvRight.select(col(idCol).as(rightCol), col("hv").as("hv_b")), Seq(rightCol))
      .withColumn("jaccard", inter.cast("double") / union)
      .filter(col("jaccard") >= threshold)
      .select(leftCol, rightCol, "jaccard")
  }

  /** Number of bits in the SimHash fingerprints below. 32 bits / 8-bit
    * bands keeps band buckets selective (256 values per band): at 16 bits
    * the 4-bit band keys had only 16 values and candidate buckets grew
    * quadratically with corpus size. Token hashes feeding SimHash use the
    * RAW 32-bit hash (not the mod-P MinHash domain) so bit 31 is live. */
  val SimHashBits = 32

  /** The shared default for [[simhashPairsCapped]]'s per-bucket degree
    * cap — one constant so every capped consumer (q151/q152/q156/q160/
    * q168) and its DuckDB oracle replay the SAME bound; q156's degree
    * profile is the measurement that re-sizes it. */
  val DefaultDegreeCap = 16

  /** SimHash fingerprint over the doc's token-hash multiset: bit j is set
    * iff the sum over tokens of (bit_j(hash)·2 − 1) is positive. Near-dup
    * docs differ in few bits. Compiled single-pass kernel
    * (graft.functions.SimHash); pure integer arithmetic, engine-portable. */
  def simhash(tokenHashes: Column): Column =
    call_function("graft_simhash", tokenHashes, lit(SimHashBits))

  /** SimHash near-dup pairs: candidates from an equality join on banded
    * fingerprint keys, kept at Hamming ≤ maxHamming.
    *
    * ADAPTIVE two-level pigeonhole banding (round 10): a template-heavy
    * corpus concentrates fingerprints — at the sf1 probe ONE 8-bit band
    * bucket held 9 250 docs and the one-level band join probed 167.6 M
    * collision rows for 2.26 M surviving pairs (74× overhead; the
    * adjudication is bench/README.md "Round-10 adjudication: the
    * SimHash-family regression"). But the second pigeonhole level is not
    * free either: exploding bands² composite keys per doc cost the whole
    * SimHash family 1.6–2.7× at sf0.1 (BENCH_r09 vs the one-level
    * round-8 baseline), where buckets are small and the wider shuffle
    * buys nothing. So the level is applied PER BUCKET, where it pays:
    * the level-1 key universe is only bands·2^bitsPerBand (1024 at the
    * defaults), so bucket sizes are one broadcast-sized aggregate — the
    * measure-then-pick move — and
    *
    *  - buckets ≤ `refineBucketOver` join directly on (band, band_key)
    *    — the one-level plan, linear shuffle, bounded probe cost;
    *  - oversized buckets refine with the second pigeonhole: ≤
    *    maxHamming flips leave ≥ 1 of `bands` bands intact (level 1),
    *    and within the intact band the complementary bits still carry
    *    ALL the flips, so ≥ 1 of `bands` slices of them is also intact
    *    (level 2) — a collision must now agree on 8+6 = 14 bits instead
    *    of 8 (sf1 hot buckets: 2.8× fewer probes). At 100 TB every
    *    bucket of the 1024-key universe is hot, so the whole corpus
    *    takes the refined path — exactly the asymptote that needs it.
    *
    * Recall is exact on both paths (both pigeonholes need
    * maxHamming < bands), and each true pair is emitted EXACTLY ONCE
    * across both paths: first-match-wins keyed on the pair's
    * fingerprints alone — the emission key is the lexicographically
    * first intact (band, sub) composite, a function of sim_a XOR sim_b,
    * independent of which bucket path carries the row. The first intact
    * band b* decides the path (its bucket is either refined or not, and
    * both endpoints agree on that), so the small join emits only at
    * b* and the refined join only at (b*, first intact sub) — no
    * pair-keyed dedup shuffle anywhere, the dup-density-proportional
    * cost a dedup pipeline must not have. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, maxHamming: Int = 3,
      refineBucketOver: Int = 4096): DataFrame = {
    val bitsPerBand = SimHashBits / bands
    val compBits = SimHashBits - bitsPerBand
    val subBits = compBits / bands
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming < bands, got $maxHamming >= $bands")
    // fingerprints computed once and cached — both sides of the band
    // join reuse them
    val hashed = df
      .withColumn("th", call_function("graft_token_hashes", col(textCol)))
      .filter(size(col("th")) > 0)
      .withColumn("sim", simhash(col("th")))
      .select(col(idCol), col("sim"))
      .cache()
    def bandKey(sim: Column, b: Int): Column =
      shiftright(sim, b * bitsPerBand) % (1 << bitsPerBand)
    // complementary bits of band b: the fingerprint with band b excised
    def comp(sim: Column, b: Int): Column =
      shiftright(sim, (b + 1) * bitsPerBand) * (1L << (b * bitsPerBand)) +
        sim % (1L << (b * bitsPerBand))
    def subKey(sim: Column, b: Int, s: Int): Column =
      shiftright(comp(sim, b), s * subBits) % (1 << subBits)

    // level-1 rows; bucket sizes over the ≤ bands·2^bitsPerBand key
    // universe decide each bucket's path
    val l1 = hashed
      .select(col(idCol), col("sim"),
        posexplode(array((0 until bands).map(b => bandKey(col("sim"), b)): _*)))
      .select(col(idCol), col("sim"), col("pos").as("band"), col("col").as("bk"))
    val big = l1.groupBy("band", "bk").agg(count(lit(1)).as("n"))
      .filter(col("n") > refineBucketOver)
      .select("band", "bk")

    // per-pair XOR decides band/sub agreement — the emission key, a
    // pure function of the two fingerprints. The first intact indices
    // are computed as ONE nested-when index expression each (≤ bands +
    // bands² bit tests per probe row) instead of the O(bands⁴)
    // every-earlier-key disjunction chain the round-9 code evaluated
    // per row — the band join's probe volume is the hot loop, and the
    // chain's per-probe cost was most of the two-level slowdown.
    val diff = col("sim_a").bitwiseXOR(col("sim_b"))
    def bandMatches(b: Int): Column =
      shiftright(diff, b * bitsPerBand) % (1 << bitsPerBand) === 0
    def subMatches(b: Int, s: Int): Column =
      shiftright(comp(diff, b), s * subBits) % (1 << subBits) === 0
    // first intact band (the join guarantees one exists on a kept row)
    val bandIdx = (0 until bands).foldRight(lit(bands): Column) { (b, acc) =>
      when(bandMatches(b), lit(b)).otherwise(acc)
    }
    // first intact sub-slice WITHIN that band (pigeonhole: exists)
    val subIdx = (0 until bands).foldRight(lit(0): Column) { (b, acc) =>
      when(bandIdx === b,
        (0 until bands).foldRight(lit(bands): Column) { (s, a2) =>
          when(subMatches(b, s), lit(s)).otherwise(a2)
        }).otherwise(acc)
    }

    // path 1: small buckets, direct level-1 join; emit iff this row's
    // band is the pair's FIRST intact band
    val small = l1.join(broadcast(big), Seq("band", "bk"), "left_anti")
    val sa = small.select(col("band"), col("bk"),
      col(idCol).as("id_a"), col("sim").as("sim_a"))
    val sb = small.select(col("band"), col("bk"),
      col(idCol).as("id_b"), col("sim").as("sim_b"))
    val smallPairs = sa.join(sb, Seq("band", "bk"))
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(diff) <= maxHamming && col("band") === bandIdx)
      .select(col("id_a"), col("id_b"), bit_count(diff).as("hamming"))

    // path 2: oversized buckets, composite (band, sub) keys — the
    // explode is map-side and the broadcast semi-join drops non-hot
    // rows before any shuffle; emit iff this row's composite is the
    // pair's lexicographically first intact one (its band is then b*,
    // so the two paths never both emit)
    val keys = for (b <- 0 until bands; s <- 0 until bands) yield
      struct(bandKey(col("sim"), b).as("bk"), subKey(col("sim"), b, s).as("sk"))
    val l2 = hashed
      .select(col(idCol), col("sim"), posexplode(array(keys: _*)))
      .select(col(idCol), col("sim"), col("pos"),
        col("col.bk").as("bk"), col("col.sk").as("sk"))
      .withColumn("band", expr(s"pos div $bands").cast("int"))
      .join(broadcast(big), Seq("band", "bk"))
    val ba = l2.select(col("pos"), col("bk"), col("sk"),
      col(idCol).as("id_a"), col("sim").as("sim_a"))
    val bb = l2.select(col("pos"), col("bk"), col("sk"),
      col(idCol).as("id_b"), col("sim").as("sim_b"))
    val bigPairs = ba.join(bb, Seq("pos", "bk", "sk"))
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(diff) <= maxHamming &&
        col("pos") === bandIdx * bands + subIdx)
      .select(col("id_a"), col("id_b"), bit_count(diff).as("hamming"))

    val out = smallPairs.unionByName(bigPairs).localCheckpoint()
    hashed.unpersist()
    out
  }

  /** Degree-capped SimHash candidate pairs — the mega-component guard
    * for continuous dedup (round-8 verdict follow-up): on a
    * template-heavy corpus one near-dup component can span ~90% of the
    * docs, and the exact pair set ([[simhashPairs]]) is then quadratic
    * in the bucket populations (the sf0.1→sf1 probe measured 27× pair
    * growth for 10× docs). This variant bounds candidate volume
    * LINEARLY: a pair is checked iff its SMALLER id is among its
    * bucket's `cap` smallest ids, so a bucket of B members emits
    * ≤ cap·B candidates instead of B² — the low-rank members act as the
    * bucket's hub representatives. The rule is a pure function of the
    * bucket contents — deterministic under any partitioning, engine-
    * replayable as `row_number() OVER (PARTITION BY bucket ORDER BY id)
    * <= cap` — so the oracle verifies it bit for bit.
    *
    * Semantics contract: the result is a SUBSET of `simhashPairs(df,
    * bands, maxHamming)` (pinned in TextDedupSpec, with equality when
    * `cap` ≥ the largest bucket). Recall loss is confined to pairs whose
    * smaller endpoint ranks > cap in EVERY shared bucket; inside a dup
    * cluster such members still connect through any in-range low-rank
    * representative — the typical template-clone shape. Production folds
    * using the cap spill to a periodic FULL recompute (simhashPairs)
    * that absorbs missed links; the cap bounds the per-batch incremental
    * work, it is not the system of record.
    *
    * Scale shape: the rank prune is a rank-pruned window on the bucket
    * key (Spark's WindowGroupLimit — partial top-cap per partition
    * before the shuffle, plan-pinned in PlansSpec), the candidate join
    * probes ≤ cap rows per bucket key per side, and the final distinct
    * dedups ≤ bands·cap·B rows — every stage linear in the corpus. */
  def simhashPairsCapped(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, maxHamming: Int = 3, cap: Int = 16): DataFrame = {
    val hashed = df
      .withColumn("th", call_function("graft_token_hashes", col(textCol)))
      .filter(size(col("th")) > 0)
      .withColumn("sim", simhash(col("th")))
      .select(col(idCol), col("sim"))
      .cache()
    val out = cappedPairsFrame(hashed, idCol, bands, maxHamming, cap)
      .localCheckpoint()
    hashed.unpersist()
    out
  }

  /** The pre-checkpoint capped-pair plan over a (id, sim) fingerprint
    * table — split out so PlansSpec can pin the physical shape (rank
    * prune = WindowGroupLimit, bucket-keyed join, no cartesian). */
  private[graft] def cappedPairsFrame(hashed: DataFrame, idCol: String,
      bands: Int, maxHamming: Int, cap: Int): DataFrame = {
    val bitsPerBand = SimHashBits / bands
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming < bands, got $maxHamming >= $bands")
    def bandKey(sim: Column, b: Int): Column =
      shiftright(sim, b * bitsPerBand) % (1 << bitsPerBand)
    val l1 = hashed
      .select(col(idCol), col("sim"),
        posexplode(array((0 until bands).map(b => bandKey(col("sim"), b)): _*)))
      .select(col(idCol), col("sim"), col("pos").as("band"), col("col").as("bk"))
    val diff = col("sim_a").bitwiseXOR(col("sim_b"))
    cappedBucketPairs(l1, idCol, Seq("band", "bk"), cap, carry = Seq("sim"))
      .filter(bit_count(diff) <= maxHamming)
      .select(col("id_a"), col("id_b"), bit_count(diff).as("hamming"))
      .distinct()
  }

  /** Winnowing document fingerprints + the fingerprint match matrix
    * (Schleimer, Wilkerson & Aiken 2003 — the MOSS local fingerprinting
    * algorithm): per position, hash the k-gram starting there; slide a
    * w-wide window over the hash stream and select each window's
    * MINIMUM (rightmost on ties — the paper's plain winnowing; the
    * "robust" variant instead prefers re-selecting the previous
    * window's fingerprint, a tie policy that changes selected
    * POSITIONS but not the distinct VALUES matched here), so any shared
    * run of ≥ w+k−1 tokens shares ≥ 1 selected fingerprint (the paper's
    * guarantee) while only ~2/(w+1) of positions are kept. Doc pairs
    * are then matched on selected fingerprint VALUES only — the
    * sampled, bounded alternative to an all-positions join.
    *
    * Determinism: the rightmost-tie-break argmin is encoded as a pure
    * integer key min((h+1)·2²² − p) — no argmin/arg_max aggregate, no
    * engine tie policy; both engines replay it bit for bit. Bounds:
    * h < 2³¹ and p < 2²² keep the key < 2⁵³ (docs longer than ~4M
    * tokens chunk upstream — fixture max is orders below).
    *
    * Scale shape: the k-gram hash stream comes from ONE codegen'd
    * lead() window per doc (the q289 discipline — never an interpreted
    * HOF chain); the winnow min is a doc-bounded running window; the
    * match join is keyed on fingerprint value with a df ≤ `dfCap`
    * stop-fingerprint filter first (the paper's "too many documents"
    * rule), so a hot boilerplate fingerprint can emit at most
    * dfCap·(dfCap−1)/2 pairs — candidate volume linear in the corpus.
    * Returns (id_a, id_b, n_shared, overlap) for pairs sharing ≥ 2
    * surviving fingerprints; overlap = n_shared ∕ min(|fp_a|, |fp_b|)
    * by the integer-space half-up divide. */
  /** The per-doc winnow stage shared by [[winnowingPairs]] and
    * [[winnowingPairsAgainst]]: selected fingerprint VALUES per doc —
    * (id, h) distinct. Per-doc LOCAL computation (the paper's point),
    * so fingerprinting a batch never touches the standing corpus. */
  private def winnowFp(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 2 && w >= 2, s"degenerate winnowing parameters: k=$k w=$w")
    val C = 1L << 22
    val byPos = Window.partitionBy(idCol).orderBy("pos")
    var toks = df
      .select(col(idCol), posexplode(Text.tokens(col(textCol))))
      .withColumnRenamed("col", "t1")
    val parts = (1 until k).map { j =>
      val c = s"t${j + 1}"
      toks = toks.withColumn(c, lead(col("t1"), j).over(byPos))
      col(c)
    }
    val sh = toks
      .filter(parts.last.isNotNull)
      .select(col(idCol), (col("pos") + 1).as("p"),
        (Text.strHash32(concat_ws(" ", (col("t1") +: parts): _*)) % Text.P)
          .as("h"))
    val winFrame = Window.partitionBy(idCol).orderBy("p")
      .rowsBetween(Window.currentRow, w - 1)
    sh
      .withColumn("m", count(lit(1)).over(Window.partitionBy(idCol)))
      .withColumn("selkey", min((col("h") + 1) * C - col("p")).over(winFrame))
      // trailing starts have truncated windows; keep exactly the full
      // windows, or the single global-min window for docs with m < w
      .filter(col("p") <= greatest(col("m") - (w - 1), lit(1)))
      .select(col(idCol), col("selkey")).distinct()
      // decode: selkey = (h+1)·C − p with p ∈ [1, C) ⇒ selkey div C = h
      .select(col(idCol), expr(s"selkey div $C").as("h"))
      .distinct()
  }

  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, dfCap: Int = 64): DataFrame = {
    require(dfCap >= 2, s"degenerate dfCap: $dfCap")
    val fp = winnowFp(df, idCol, textCol, k, w)
    val kept = fp
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("df") <= dfCap)
      .select(col(idCol), col("h"))
      .localCheckpoint() // fingerprint-sample-sized; read 3× below
    val fpc = kept.groupBy(idCol).agg(count(lit(1)).as("nfp"))
    val pairs = kept.select(col("h"), col(idCol).as("id_a"))
      .join(kept.select(col("h"), col(idCol).as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    pairs
      .join(fpc.select(col(idCol).as("id_a"), col("nfp").as("na")), Seq("id_a"))
      .join(fpc.select(col(idCol).as("id_b"), col("nfp").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        graft.functions.ExactRound
          .roundRatio(col("n_shared"), least(col("na"), col("nb")), 6)
          .cast("double").as("overlap"))
  }

  /** Incremental [[winnowingPairs]]: an arriving BATCH matched against
    * a STANDING corpus — the continuous-ingest shape (nobody
    * re-fingerprints 100 TB per batch; winnowing is per-doc LOCAL, so
    * batch fingerprints compute from batch text alone and the standing
    * (id, h) fingerprint index is append-only). Document frequency for
    * the stop-fingerprint rule is taken over the MAINTAINED index
    * (standing ∪ batch) — exactly the df a full recompute would see,
    * so fold == one-shot on the cross pairs (pinned in
    * LayoutPackingSpec). Returns (corpus_id, batch_id, n_shared,
    * overlap) for cross pairs sharing ≥ 2 surviving fingerprints. */
  def winnowingPairsAgainst(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, dfCap: Int = 64): DataFrame = {
    require(dfCap >= 2, s"degenerate dfCap: $dfCap")
    val cfp = winnowFp(corpus, idCol, textCol, k, w)
    val bfp = winnowFp(batch, idCol, textCol, k, w)
    val all = cfp.withColumn("_side", lit(0))
      .unionByName(bfp.withColumn("_side", lit(1)))
    val kept = all
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("df") <= dfCap)
      .select(col(idCol), col("h"), col("_side"))
      .localCheckpoint() // fingerprint-sample-sized; read 3× below
    val fpc = kept.groupBy(idCol, "_side").agg(count(lit(1)).as("nfp"))
    val pairs = kept.filter(col("_side") === 0)
      .select(col("h"), col(idCol).as("corpus_id"))
      .join(kept.filter(col("_side") === 1)
        .select(col("h"), col(idCol).as("batch_id")), Seq("h"))
      .groupBy("corpus_id", "batch_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    pairs
      .join(fpc.filter(col("_side") === 0)
        .select(col(idCol).as("corpus_id"), col("nfp").as("na")),
        Seq("corpus_id"))
      .join(fpc.filter(col("_side") === 1)
        .select(col(idCol).as("batch_id"), col("nfp").as("nb")),
        Seq("batch_id"))
      .select(col("corpus_id"), col("batch_id"), col("n_shared"),
        graft.functions.ExactRound
          .roundRatio(col("n_shared"), least(col("na"), col("nb")), 6)
          .cast("double").as("overlap"))
  }

  /** Paragraph/line-level EXACT dedup, ownership stage (Wenzek et al.
    * 2020 CCNet §3.1 — normalized-paragraph dedup is the stage every
    * published CommonCrawl pipeline runs BEFORE LM scoring; RefinedWeb
    * runs the same rule line-wise): the granularity between whole-doc
    * hashing ([[exactDupTag]]) and the every-position exact-substring
    * pass. Input is a pre-split (id, pos 1-based, line) frame — the
    * splitter and normalization are the caller's (newline/paragraph
    * boundaries + CCNet lowercase-strip-punct in production; the
    * fixture queries chunk tokens deterministically because the corpus
    * carries no line structure).
    *
    * Ownership rule: of all occurrences of the same line VALUE
    * corpus-wide, exactly the one with the minimum (prio, id, pos) is
    * kept — first occurrence wins. `prio` defaults to a constant (pure
    * (id, pos) order) and is the arrival-order hook of
    * [[dedupLinesIncremental]] (standing docs rank before the batch,
    * so an arriving batch can never steal ownership from published
    * docs). The rule is a pure function of the line multiset —
    * deterministic under any partitioning, engine-replayable.
    *
    * Scale shape: the owner per value is ONE map-side-combinable
    * min-struct aggregate keyed on the line's md5 — never a rank
    * window (a boilerplate line with millions of occurrences would
    * serialize a window partition; the partial-agg min folds it in
    * combiners) — the ownership join fans out exactly one owner row
    * per occurrence, and the shuffled key is the 32-char md5, never
    * the paragraph text. Returns (id, pos, line, kept). */
  def lineOwnershipTag(lines: DataFrame, idCol: String, posCol: String,
      lineCol: String, prio: Column = lit(0L)): DataFrame = {
    val keyed = lines.select(col(idCol), col(posCol), col(lineCol),
      md5(col(lineCol)).as("_h"), prio.as("_prio"))
    val site = struct(col("_prio"), col(idCol), col(posCol))
    val owners = keyed.groupBy("_h").agg(min(site).as("_owner"))
    keyed.join(owners, "_h")
      .withColumn("kept", site === col("_owner"))
      .select(col(idCol), col(posCol), col(lineCol), col("kept"))
  }

  /** Per-doc rollup of [[lineOwnershipTag]]: (id, n_lines, n_kept,
    * n_removed, kept_frac, clean_text) — clean_text re-joins the
    * SURVIVING lines in position order (a doc whose every line is
    * owned elsewhere comes back with clean_text = "", the
    * full-duplicate drop). One hash aggregate on the doc id; the
    * surviving-line sort is doc-bounded array math, never a shuffle. */
  def lineDedupStats(tagged: DataFrame, idCol: String, posCol: String,
      lineCol: String): DataFrame =
    tagged
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col(posCol).as("p"), col(lineCol).as("l"))))),
          x => x.getField("l")), " ").as("clean_text"))
      .select(col(idCol), col("n_lines"), col("n_kept"),
        (col("n_lines") - col("n_kept")).as("n_removed"),
        graft.functions.ExactRound
          .roundRatio(col("n_kept"), col("n_lines"), 6)
          .cast("double").as("kept_frac"),
        col("clean_text"))

  /** One-shot line/paragraph dedup: [[lineOwnershipTag]] +
    * [[lineDedupStats]]. */
  def dedupLines(lines: DataFrame, idCol: String, posCol: String,
      lineCol: String, prio: Column = lit(0L)): DataFrame =
    lineDedupStats(lineOwnershipTag(lines, idCol, posCol, lineCol, prio),
      idCol, posCol, lineCol)

  /** Incremental [[dedupLines]]: an arriving BATCH folded against a
    * STANDING line-ownership index — the continuous-ingest shape
    * (nobody re-splits 100 TB per batch; published docs' lines are
    * already owned, so the value index is APPEND-ONLY — arriving lines
    * can only add ownership of values never seen, never reassign one).
    * A batch line survives iff its value is absent from the standing
    * index AND it is the batch's own first occurrence by (id, pos);
    * standing docs' stats are untouched (their published rollup unions
    * through verbatim). Row-for-row equal to the one-shot
    * [[dedupLines]] under arrival priority (standing before batch) —
    * the fold == rebuild contract the oracle pins. */
  def dedupLinesIncremental(standing: DataFrame, batch: DataFrame,
      idCol: String, posCol: String, lineCol: String): DataFrame = {
    // the artifacts a real fold reads back: the standing docs' own
    // ownership tags (their rollup is already published) and the
    // standing distinct-value index (md5 set — metadata next to the
    // corpus, like the q301 feature table)
    val standingTag = lineOwnershipTag(standing, idCol, posCol, lineCol)
    val index = standing.select(md5(col(lineCol)).as("_h")).distinct()
      .localCheckpoint()
    val keyed = batch.select(col(idCol), col(posCol), col(lineCol),
      md5(col(lineCol)).as("_h"))
    val site = struct(col(idCol), col(posCol))
    val batchOwners = keyed.groupBy("_h").agg(min(site).as("_owner"))
      .join(index.withColumn("_standing", lit(true)), Seq("_h"), "left")
    val batchTag = keyed.join(batchOwners, "_h")
      .withColumn("kept", col("_standing").isNull && site === col("_owner"))
      .select(col(idCol), col(posCol), col(lineCol), col("kept"))
    lineDedupStats(standingTag.unionByName(batchTag), idCol, posCol, lineCol)
  }

  /** Exact n-gram Jaccard over *blocked* candidate pairs: all pairs
    * within a blocking key (e.g. source) — the classic bounded-quadratic
    * fallback when a metadata key already localizes duplicates. */
  /** Benchmark decontamination: per-corpus-document overlap with the
    * n-gram shingle set of a (small) benchmark/eval corpus — the
    * "13-gram overlap" pass every published LLM pretraining pipeline
    * runs before training. Returns only contaminated docs
    * (`n_overlap` ≥ 1) with their distinct-shingle count and the
    * contamination ratio.
    *
    * Scale shape: benchmark suites are tiny next to a 100 TB corpus, so
    * the distinct benchmark shingle-hash set is BROADCAST (plan-pinned
    * in PlansSpec) — the corpus side is one scan + explode + partial
    * aggregate on `idCol`; the corpus is never shuffled on the shingle
    * key and there is no corpus self-join. */
  def contamination(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame = {
    // one compiled kernel call per doc (sorted DISTINCT mod-P hashes) —
    // the interpreted tokens→shingles→distinct HOF chain here measured
    // ~10× slower at sf0.1 (and collapse re-evaluates it per reference)
    def hashes(df: DataFrame): DataFrame =
      withShingleHashes(df.select(col(idCol), col(textCol)), textCol, shingleN)
        .where(size(col("hv")) > 0)
        .select(col(idCol), size(col("hv")).cast("long").as("n_shingles"),
          explode(col("hv")).as("h"))
    val benchHashes = hashes(bench).select("h").distinct()
    hashes(corpus)
      .join(broadcast(benchHashes), "h")
      .groupBy(col(idCol), col("n_shingles"))
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("contamination",
        round(col("n_overlap").cast("double") / col("n_shingles"), 6))
  }

  /** [[contamination]] with a Bloom prefilter — the scale path when the
    * benchmark shingle set is LARGE (a full eval-suite union at 1e8–1e9
    * n-grams): a broadcast-join hash relation of that set costs
    * ~150+ bits/element of executor memory and a hash-table probe per
    * corpus shingle; the Bloom costs `bitsPerItem` (default 10, FP
    * ≈ 0.8%) and its probe runs as k bit-tests INSIDE the scan's
    * generated code, so the overwhelmingly-negative corpus majority
    * dies before a single join-input row materializes (the explicit
    * form of Spark's InjectRuntimeFilter). Bloom FPs are then removed
    * by the exact confirm join — which now sees only the ~0.8% + true
    * survivors — so the output is IDENTICAL to [[contamination]], and
    * q101's oracle (the same exact SQL as q89's) proves it.
    *
    * `n_shingles` still counts each doc's FULL distinct-shingle set:
    * the count is captured per row before the prefilter drops
    * non-candidate shingle rows, so the contamination ratio's
    * denominator is unaffected by the pruning. */
  def contaminationBloom(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, shingleN: Int, bitsPerItem: Int = 10): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, lit}
    def hashes(df: DataFrame): DataFrame =
      withShingleHashes(df.select(col(idCol), col(textCol)), textCol, shingleN)
        .where(size(col("hv")) > 0)
        .select(col(idCol), size(col("hv")).cast("long").as("n_shingles"),
          explode(col("hv")).as("h"))
    // the bench set comes to the driver ONCE to become bits — the same
    // locality a broadcast build side needs, at a fraction of the bytes.
    // The confirm join's frame is then REBUILT from the collected array
    // (localized, one partition): re-referencing the uncached bench
    // pipeline would re-execute the whole tokenize+shingle+distinct job
    // a second time for the broadcast build.
    val benchSet: Array[Long] = hashes(bench).select("h").distinct()
      .collect().map(_.getLong(0))
    val spark = corpus.sparkSession
    val benchHashes = spark.createDataset(benchSet.toSeq)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("h")
    val bloom = graft.functions.Bloom.build(
      benchSet.iterator, benchSet.length.toLong, bitsPerItem)
    hashes(corpus)
      .where(call_function("graft_bloom_contains", lit(bloom), col("h")))
      .join(broadcast(benchHashes), "h")
      .groupBy(col(idCol), col("n_shingles"))
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("contamination",
        round(col("n_overlap").cast("double") / col("n_shingles"), 6))
  }

  /** Cross-document boilerplate signal: for every document, the count
    * and fraction of its distinct n-gram shingles that occur in at least
    * `minDf` documents corpus-wide (the RefinedWeb "duplicated n-gram
    * across documents" gate — template headers/footers/SEO spam score
    * high, original prose low).
    *
    * Scale shape: distinct (doc, shingle-hash) pairs → ONE shuffle on
    * the hash for a whole-partition window count (= document frequency,
    * since pairs are distinct) → one hash aggregate back to the doc.
    * No join, no second pass over the corpus, nothing cached: the
    * doc-frequency never materializes as a standalone table. */
  def crossDocShingleStats(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, minDf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the kernel emits each doc's hashes already DISTINCT, so the pair
    // frame needs no dedup shuffle of its own — the window's hash
    // partitioning is the only exchange before the per-doc aggregate
    val pairs = withShingleHashes(df.select(col(idCol), col(textCol)), textCol, shingleN)
      .select(col(idCol), explode(col("hv")).as("h"))
    val docFreq = count(lit(1)).over(Window.partitionBy("h"))
    pairs.withColumn("df", docFreq)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") / col("n_shingles"), 6))
  }

  def blockedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, shingleN: Int, threshold: Double): DataFrame = {
    // hash sets computed once, cached, reused by both join sides
    val hv = withShingleHashes(df, textCol, shingleN)
      .filter(size(col("hv")) > 0)
      .select(col(blockCol), col(idCol), col("hv"))
      .cache()
    val a = hv.select(col(blockCol), col(idCol).as("id_a"), col("hv").as("hv_a"))
    val b = hv.select(col(blockCol), col(idCol).as("id_b"), col("hv").as("hv_b"))
    val inter = intersectSize(col("hv_a"), col("hv_b"))
    val union = size(col("hv_a")) + size(col("hv_b")) - inter
    val out = a.join(b, Seq(blockCol))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", inter.cast("double") / union)
      .filter(col("jaccard") >= threshold)
      .select(col(blockCol), col("id_a"), col("id_b"), col("jaccard"))
      .localCheckpoint()
    hv.unpersist()
    out
  }

  /** EXACT-threshold Jaccard similarity self-join via prefix filtering
    * (Bayardo et al. 2007 "Scaling Up All Pairs Similarity Search";
    * Xiao et al. 2008 PPJoin): every pair of docs with shingle-set
    * Jaccard ≥ t, with NO false negatives — the exact complement to the
    * probabilistic MinHash/SimHash candidate generators.
    *
    * Prefix-filter lemma: order every set by one global canonical order
    * (here: ascending document frequency — rarest first — then hash);
    * J(A,B) ≥ t forces |A∩B| ≥ ⌈t·|A|⌉ and ≥ ⌈t·|B|⌉, so the pair must
    * share an element inside each side's first |S| − ⌈t·|S|⌉ + 1
    * elements. Candidates = docs sharing a PREFIX element; with the
    * rarest-first order each prefix hash is carried by few docs, so the
    * candidate join is bucket-shaped (like LSH bands) rather than
    * quadratic — there is no all-pairs stage at any corpus size.
    *
    * Plan: one shuffle for document frequencies, one explode+self-join
    * on prefix hash, verify on bucket collisions only via the sorted
    * two-pointer intersect kernel. The signature cache is released
    * after the (near-dup-tail-sized) result materializes, matching the
    * Dedup release contract. Integer prefix arithmetic
    * (⌈t·s⌉ = (num·s + den − 1) div den) keeps the cut engine-exact. */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"bad threshold $tNum/$tDen")
    val hv = withShingleHashes(df.select(col(idCol), col(textCol)), textCol, shingleN)
      .filter(size(col("hv")) > 0)
      .select(col(idCol), col("hv"))
      .cache()
    // global canonical order: (df asc, hash asc); df via one explode+agg
    val dfreq = hv.select(explode(col("hv")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("hdf"))
    // per-doc prefix of length s − ⌈t·s⌉ + 1 in that order
    val prefixLen = (size(col("hv"))
      - expr(s"(($tNum * size(hv)) + ${tDen - 1}) DIV $tDen") + 1).cast("int")
    val prefixes = hv.select(col(idCol), explode(col("hv")).as("h"), prefixLen.as("plen"))
      .join(dfreq, "h")
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("hdf"), col("h"))))
      .filter(col("_rk") <= col("plen"))
      .select(col(idCol), col("h"))
    val cand = prefixes.select(col(idCol).as("id_a"), col("h"))
      .join(prefixes.select(col(idCol).as("id_b"), col("h")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val threshold = tNum.toDouble / tDen
    val out = jaccardJoin(cand, hv, hv, idCol, "id_a", "id_b", threshold)
      .localCheckpoint()
    hv.unpersist()
    out
  }

  /** Asymmetric CONTAINMENT self-join via ONE-SIDED prefix filtering:
    * every ordered pair (a, b), a ≠ b, with
    * C(a→b) = |S_a ∩ S_b| / |S_a| ≥ tNum/tDen — document a's shingle
    * set is (near-)subsumed by document b's. The directional complement
    * of [[prefixJaccardPairs]]: symmetric Jaccard misses a short quote
    * embedded in a long page (the union term swamps it), while
    * containment flags exactly the subset/quote/excerpt duplication
    * Lee et al. 2022 observe dominating web corpora.
    *
    * One-sided prefix lemma: C(a→b) ≥ t forces |A∩B| ≥ ⌈t·|A|⌉, so in
    * ANY global element order A must share one of its first
    * |A| − ⌈t·|A|⌉ + 1 elements with B — but B's size is unconstrained,
    * so only the CONTAINEE side can be prefix-pruned; the containER
    * side posts its full set (an inverted index, linear in corpus
    * shingle volume). With the rarest-first canonical order each
    * A-prefix element carries few postings, so the candidate join is
    * bucket-shaped. Verification = exact two-pointer intersect on
    * candidates only; the cut inter·tDen ≥ tNum·|A| is pure integer —
    * engine-exact. Presentation ratio rounds in integer space
    * ([[graft.functions.ExactRound]]). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"bad threshold $tNum/$tDen")
    val hv = withShingleHashes(df.select(col(idCol), col(textCol)), textCol, shingleN)
      .filter(size(col("hv")) > 0)
      .select(col(idCol), col("hv"))
      .cache()
    val dfreq = hv.select(explode(col("hv")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("hdf"))
    val prefixLen = (size(col("hv"))
      - expr(s"(($tNum * size(hv)) + ${tDen - 1}) DIV $tDen") + 1).cast("int")
    val prefixes = hv.select(col(idCol), explode(col("hv")).as("h"), prefixLen.as("plen"))
      .join(dfreq, "h")
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("hdf"), col("h"))))
      .filter(col("_rk") <= col("plen"))
      .select(col(idCol).as("id_a"), col("h"))
    val postings = hv.select(col(idCol).as("id_b"), explode(col("hv")).as("h"))
    val cand = prefixes.join(postings, Seq("h"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val inter = intersectSize(col("hv_a"), col("hv_b"))
    val out = cand
      .join(hv.select(col(idCol).as("id_a"), col("hv").as("hv_a")), Seq("id_a"))
      .join(hv.select(col(idCol).as("id_b"), col("hv").as("hv_b")), Seq("id_b"))
      .withColumn("n_a", size(col("hv_a")).cast("long"))
      .withColumn("inter", inter.cast("long"))
      .filter(col("inter") * tDen >= col("n_a") * tNum)
      .withColumn("containment",
        graft.functions.ExactRound.roundRatio(col("inter"), col("n_a"), 6)
          .cast("double"))
      .select("id_a", "id_b", "n_a", "inter", "containment")
      .localCheckpoint()
    hv.unpersist()
    out
  }

  /** Sub-document duplicated-span REMOVAL (the rewrite counterpart of
    * [[crossDocShingleStats]]'s signal — Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" removes repeated spans,
    * not whole documents): any word n-gram occurring in ≥ minDf distinct
    * documents is boilerplate, every token covered by such an n-gram is
    * dropped, and the document is re-emitted as the remaining tokens in
    * order. Returns (id, clean_text, n_tokens, n_removed).
    *
    * minDf is a Column so callers can scale the gate with corpus size
    * (e.g. greatest(5, ⌈N/200⌉) — a fixed count is boilerplate at 500
    * docs but normal prose at 5M).
    *
    * Scale shape: shingle doc-frequency is one map-combined shuffle;
    * the boilerplate set (df ≥ minDf — tiny by construction) broadcasts
    * back onto the shingle stream to mark covered token positions,
    * which aggregate to ONE SORTED ARRAY PER AFFECTED DOC (rows bounded
    * by boilerplate volume, not corpus size); the rewrite itself is a
    * per-row array filter over the re-tokenized doc — the corpus token
    * stream is never shuffled. */
  def stripDupSpans(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, minDf: Column): DataFrame = {
    val toks = df.select(col(idCol),
      Text.tokens(col(textCol)).as("t"))
    // (id, spos, shingle string), spos 1-based start token position
    val sh = toks.select(col(idCol),
        posexplode(Text.shingles(col("t"), shingleN)))
      .select(col(idCol), (col("pos") + 1).as("spos"), col("col").as("s"))
    val boiler = sh.groupBy("s")
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDf)
      .select("s")
    stripSpansOf(toks, sh, idCol, shingleN, boiler)
  }

  /** Strip every token span matching a shingle from an EXTERNAL bad set
    * (e.g. a benchmark suite's shingles — surgical decontamination: the
    * rewrite counterpart of [[contamination]]'s drop verdict, keeping
    * the document minus the leaked spans). Same span semantics and
    * output shape as [[stripDupSpans]]; the bad set is broadcast (the
    * benchmark side is tiny next to a 100 TB corpus — q89's scale
    * contract), the corpus side stays scan-shaped. */
  def stripSpans(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, bad: DataFrame): DataFrame = {
    val toks = df.select(col(idCol),
      Text.tokens(col(textCol)).as("t"))
    val sh = toks.select(col(idCol),
        posexplode(Text.shingles(col("t"), shingleN)))
      .select(col(idCol), (col("pos") + 1).as("spos"), col("col").as("s"))
    stripSpansOf(toks, sh, idCol, shingleN, bad.toDF("s"))
  }

  /** Shared span-removal tail: covered positions from the (id, spos, s)
    * stream joined against the bad-shingle set, then the order-keeping
    * token filter. */
  private def stripSpansOf(toks: DataFrame, sh: DataFrame, idCol: String,
      shingleN: Int, bad: DataFrame): DataFrame = {
    // per-AFFECTED-doc covered token positions: every [spos, spos+n−1]
    // of a bad-shingle occurrence, one sorted distinct array per doc
    val covered = sh.join(broadcast(bad), "s")
      .select(col(idCol),
        explode(sequence(col("spos"), col("spos") + (shingleN - 1))).as("p"))
      .groupBy(idCol)
      .agg(array_sort(collect_set(col("p"))).as("cps"))
    rewriteMinusCovered(toks, covered, idCol)
  }

  /** The order-keeping rewrite shared by every span-removal operator:
    * drop the covered 1-based token positions, re-join the survivors.
    * `covered` is (id, cps: sorted int array) for AFFECTED docs only —
    * untouched docs left-join to null and pass through whole.
    * (`private[graft]`: the streamed exact-substring fold rewrites its
    * micro-batch through the same tail.) */
  private[graft] def rewriteMinusCovered(toks: DataFrame, covered: DataFrame,
      idCol: String): DataFrame =
    toks.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        array_join(
          filter(col("t"), (_, i) =>
            col("cps").isNull || !array_contains(col("cps"), i + 1)),
          " ").as("clean_text"),
        size(col("t")).cast("long").as("n_tokens"),
        coalesce(size(col("cps")), lit(0)).cast("long").as("n_removed"))

  /** Exact-substring dedup at suffix granularity (L258 — Lee et al.
    * 2022's EXACTSUBSTR mode, the exact twin of [[stripDupSpans]]'s
    * df-thresholded n-gram approximation): a token span is duplicated
    * iff it is part of a ≥ `minLen`-token run that appears VERBATIM at
    * a second site (another document, or another offset of the same
    * document); every duplicated span keeps exactly ONE canonical
    * occurrence and is stripped from all others. Returns the
    * [[stripDupSpans]] shape (id, clean_text, n_tokens, n_removed).
    *
    * Mechanism — suffix-key grouping with a bounded window: each token
    * position's length-`minLen` window is the bounded suffix key (a
    * full suffix array extends matches unboundedly; grouping the first
    * `minLen` tokens of every suffix finds exactly the runs ≥ minLen,
    * because a run of length M ≥ minLen contributes M−minLen+1 aligned
    * duplicated windows whose union covers it completely — no
    * approximation). Each window value's canonical site is the global
    * min (id, spos); NON-owner window positions union into per-doc
    * covered intervals (overlapping repeats merge by construction —
    * the cover is a position SET), and the rewrite is the shared
    * order-keeping token filter. Because ownership is per window and
    * the min site of every window of a shared run lands in the
    * minimal document, the owner doc keeps the run intact while every
    * other site loses it whole — all-but-one semantics at span
    * granularity, matching the paper's removal rule.
    *
    * Scale shape: window count ≈ corpus token count (one per
    * position), but the window STRING is minLen tokens — building and
    * shuffling it for every position would be a minLen× token-volume
    * blow-up. The compiled `graft_window_hashes` kernel avoids both:
    * a Rabin–Karp ROLLING 64-bit hash per position — O(tokens) per
    * doc regardless of minLen, no string allocation — whose stream
    * (8 bytes/position) map-combines into the candidate set of hashes
    * seen ≥ 2 times. Only SURVIVOR positions (actual repeats plus the
    * vanishing hash-collision rate) materialize their window strings
    * (an array slice at the surviving offsets) for the exact
    * (s)-grouping, so the string work is bounded by the corpus's true
    * duplication volume, not its size. The prefilter has no false
    * negatives (equal token windows hash equal) and its false
    * positives die at the exact occ ≥ 2 recheck — the hash narrows,
    * the string DECIDES, so the result is exact at any scale. The
    * candidate-hash side enters the filter join as a plain equi-join
    * (AQE broadcasts it when small; a 100 TB corpus with a large dup
    * surface degrades to one bucketed shuffle, never all-pairs). The
    * survivor table is cached (the [[sigTable]] contract): ownership
    * and cover both read it, and it is repeat-volume-sized. */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame = {
    val toks = df.select(col(idCol), Text.tokens(col(textCol)).as("t"))
    val sites = dupWindowSites(df, idCol, textCol, minLen)
    val covered = sites
      .select(col(idCol),
        explode(sequence(col("spos"), col("spos") + (minLen - 1))).as("p"))
      .groupBy(idCol)
      .agg(array_sort(collect_set(col("p"))).as("cps"))
    rewriteMinusCovered(toks, covered, idCol)
  }

  /** The exact-substring family's shared site stream: every NON-owner
    * duplicated-window occurrence as (id, spos, own_id) — the owner
    * (global min (id, spos) of the window's verbatim value) is carried
    * so consumers can attribute direction. Materialized (repeat-volume-
    * sized) via `localCheckpoint` and the survivor cache released
    * before return, per the object-doc caching contract. */
  private def dupWindowSites(df: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame = {
    val (sitesPlan, cand) = dupWindowSitesPlan(df, idCol, textCol, minLen)
    val sites = sitesPlan.localCheckpoint()
    cand.unpersist()
    sites
  }

  /** The LAZY site-stream recipe + the survivor cache handle —
    * `private[graft]` so PlansSpec pins the compiled `graft_window_
    * hashes` prefilter on the un-materialized plan (the checkpoint in
    * [[dupWindowSites]] makes it invisible in consumers' plans — the
    * PairMoments.pass precedent). Callers other than the spec go
    * through [[dupWindowSites]], which materializes and releases the
    * cache. */
  private[graft] def dupWindowSitesPlan(df: DataFrame, idCol: String,
      textCol: String, minLen: Int): (DataFrame, DataFrame) = {
    val toks = df.select(col(idCol), Text.tokens(col(textCol)).as("t"))
    // per-position rolling window hashes: the bounded suffix keys
    val pos = df.select(col(idCol), posexplode(
        call_function("graft_window_hashes", col(textCol), lit(minLen))))
      .select(col(idCol), (col("pos") + 1).as("spos"), col("col").as("h"))
    // pass 1: candidate hashes (8-byte stream, map-side combine)
    val candH = pos.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    // pass 2: survivors materialize their window string; exact groups
    // decide ownership
    val cand = pos.join(candH, "h")
      .join(toks, Seq(idCol))
      .select(col(idCol), col("spos"),
        concat_ws(" ", slice(col("t"), col("spos"), lit(minLen))).as("s"))
      .cache()
    val owned = cand.groupBy("s")
      .agg(count(lit(1)).as("occ"),
        min(struct(col(idCol), col("spos"))).as("own"))
      .filter(col("occ") >= 2)
      .select(col("s"), col("own").getField(idCol).as("own_id"),
        col("own").getField("spos").as("own_spos"))
    val sites = cand.join(owned, "s")
      .filter(!(col(idCol) === col("own_id") &&
        col("spos") === col("own_spos")))
      .select(col(idCol), col("spos"), col("own_id"))
    (sites, cand)
  }

  /** Directional exact-substring PROVENANCE flow (L259 — the
    * measurement companion of [[exactSubstrDedup]]'s rewrite, and the
    * span-level directional twin of the doc-level UNDIRECTED near-dup
    * matrix): per (src_from = the owning document's source, src_to =
    * the losing document's source), the count of duplicated-window
    * occurrences that flow that way and the distinct losing docs.
    * Every non-owner window occurrence has exactly ONE owner, so the
    * matrix is well-defined with no double counting (token-level
    * attribution would be ambiguous where runs from different owners
    * overlap — window units are the exact, canonical unit here).
    * Diagonal rows (src_from = src_to) are INTRA-source duplication —
    * template boilerplate; off-diagonal rows are syndication/mirror
    * flow, and their asymmetry says who copies whom. Scale: the site
    * stream is repeat-volume-sized; the two source lookups are
    * id-keyed metadata joins (broadcast-shaped here, co-partitioned at
    * corpus scale), then a |sources|²-bounded rollup. */
  def spanProvenance(df: DataFrame, idCol: String, textCol: String,
      srcCol: String, minLen: Int): DataFrame = {
    val sites = dupWindowSites(df, idCol, textCol, minLen)
    val src = df.select(col(idCol), col(srcCol))
    sites
      .join(src.select(col(idCol), col(srcCol).as("src_to")), Seq(idCol))
      .join(src.select(col(idCol).as("own_id"), col(srcCol).as("src_from")),
        Seq("own_id"))
      .groupBy("src_from", "src_to")
      .agg(count(lit(1)).as("n_windows"),
        countDistinct(col(idCol)).as("n_docs"))
  }

  /** Incremental exact-substring dedup, one micro-batch against the
    * STANDING window-ownership state (L261 — [[exactSubstrDedup]]'s
    * continuous-ingest twin, the shape a growing corpus actually runs:
    * nobody re-suffix-groups 100 TB per arriving batch). `standing` is
    * (h, own_id, own_spos) — one row per distinct window string ever
    * seen, keyed by the 64-bit rolling hash with the OWNER SITE stored
    * instead of the string: state stays ~24 bytes/window, and owner
    * strings are re-derived FROM THE LAKE (an id-keyed join pruned to
    * hash-hit owners + an array slice) only when a batch window
    * collides on h — the hash narrows, the lake-fetched string
    * DECIDES, so hash collisions can never mis-own a window (a
    * colliding new string simply becomes its own owner row under the
    * same h; the exact (h, s) match disambiguates forever after).
    * Batch windows with no state match group among themselves with
    * [[exactSubstrDedup]]'s exact semantics. Under ascending-id
    * arrival the fold is BIT-identical to the one-shot rewrite (a
    * later doc can never steal ownership from an earlier one), which
    * is the q280 oracle pin. Returns (rewritten batch docs in the
    * [[stripDupSpans]] shape, new owner rows to append to state) —
    * both materialized batch-/repeat-sized, the survivor cache
    * released before return (the object-doc contract). Re-applying an
    * already-folded batch is a NO-OP by construction: every window
    * matches state and its owner site (inside the replayed batch) is
    * excluded from cover, so the rewrite reproduces itself and the
    * new-owner set is empty — the algebraic half of the exactly-once
    * story, next to the caller's writeOnce markers. */
  def exactSubstrBatch(standing: DataFrame, batch: DataFrame,
      lake: DataFrame, idCol: String, textCol: String, minLen: Int)
      : (DataFrame, DataFrame) = {
    val toksB = batch.select(col(idCol), Text.tokens(col(textCol)).as("t"))
    // The three subtrees below are each consumed by SEVERAL of the
    // downstream plans (win → candH/cand/unique-owner anti-join, candH →
    // cand/anti-join, stateHit → matched/fresh), and several of those
    // consumers are BROADCAST sides whose build jobs run the subtree
    // again from scratch — a warm q280 pass spent 13.6 of 15.7 s in 25
    // broadcast-build jobs re-running the rolling-hash kernel and the
    // lake re-tokenization (ProbeJobs, r20). Caching them makes every
    // re-read O(cached bytes); all are batch-/repeat-sized, never
    // corpus-sized, and all are released before return (the object-doc
    // caching contract, same as `cand`).
    val win = batch.select(col(idCol), posexplode(
        call_function("graft_window_hashes", col(textCol), lit(minLen))))
      .select(col(idCol), (col("pos") + 1).as("spos"), col("col").as("h"))
      .cache()
    // candidate hashes: repeated within the batch OR present in state
    val candH = win.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
      .unionByName(standing.select("h")).distinct()
      .cache()
    val cand = win.join(candH, Seq("h"))
      .join(toksB, Seq(idCol))
      .select(col(idCol), col("spos"), col("h"),
        concat_ws(" ", slice(col("t"), col("spos"), lit(minLen))).as("s"))
      .cache()
    // owner strings from the LAKE at the stored sites, hash-hits only —
    // tokenization sits ABOVE the join so only hit rows pay it (below
    // it, every lake doc would re-tokenize per fold)
    val stateHit = standing.join(cand.select("h").distinct(), Seq("h"))
      .join(lake.select(col(idCol).as("own_id"),
        col(textCol).as("own_text")), Seq("own_id"))
      .select(col("h"), col("own_id"), col("own_spos"),
        concat_ws(" ", slice(Text.tokens(col("own_text")),
          col("own_spos"), lit(minLen))).as("s"))
      .cache()
    // state-owned occurrences: covered unless the occurrence IS the
    // owner site (the at-least-once replay path re-folds its own docs)
    val matched = cand.join(stateHit, Seq("h", "s"))
    val stateCovered = matched
      .filter(!(col(idCol) === col("own_id") &&
        col("spos") === col("own_spos")))
      .select(col(idCol), col("spos"))
    // state-unmatched candidates group within the batch: q277 semantics
    val fresh = cand.join(stateHit.select("h", "s"), Seq("h", "s"),
      "left_anti")
    val freshOwn = fresh.groupBy("h", "s")
      .agg(count(lit(1)).as("occ"),
        min(struct(col(idCol), col("spos"))).as("own"))
    val batchCovered = fresh
      .join(freshOwn.filter(col("occ") >= 2)
        .select(col("h"), col("s"),
          col("own").getField(idCol).as("own_id"),
          col("own").getField("spos").as("own_spos")), Seq("h", "s"))
      .filter(!(col(idCol) === col("own_id") &&
        col("spos") === col("own_spos")))
      .select(col(idCol), col("spos"))
    val covered = stateCovered.unionByName(batchCovered)
      .select(col(idCol),
        explode(sequence(col("spos"), col("spos") + (minLen - 1))).as("p"))
      .groupBy(idCol)
      .agg(array_sort(collect_set(col("p"))).as("cps"))
      .localCheckpoint()
    // new owners: every distinct window state has not seen — the
    // candidate-path minima plus the unique-hash windows (whose string
    // never materializes: a unique h absent from state matches nothing)
    val newOwners = freshOwn
      .select(col("h"), col("own").getField(idCol).as("own_id"),
        col("own").getField("spos").as("own_spos"))
      .unionByName(win.join(candH, Seq("h"), "left_anti")
        .select(col("h"), col(idCol).as("own_id"),
          col("spos").as("own_spos")))
      .localCheckpoint()
    cand.unpersist()
    win.unpersist()
    candH.unpersist()
    stateHit.unpersist()
    (rewriteMinusCovered(toksB, covered, idCol), newOwners)
  }

  /** Duplicated-span LENGTH distribution (L260 — the dup-length
    * histogram of the exact-substring analyses): per losing document
    * the covered positions merge into maximal spans (overlapping
    * repeats union — every span is ≥ minLen tokens by construction),
    * and the output is (span_len, n_spans) over the whole corpus. The
    * gaps-and-islands grouping key is p − row_number per doc — a
    * per-doc window over the repeat-volume-sized cover stream, never
    * a corpus-wide sort. The histogram drives the minLen threshold
    * choice: a heavy tail of just-above-minLen spans means the
    * threshold sits inside the boilerplate mass, a flat tail means it
    * cleared it. */
  def dupSpanLengths(df: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame = {
    val sites = dupWindowSites(df, idCol, textCol, minLen)
    val covered = sites
      .select(col(idCol),
        explode(sequence(col("spos"), col("spos") + (minLen - 1))).as("p"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("p"))
    covered
      .withColumn("grp", col("p") - row_number().over(w))
      .groupBy(col(idCol), col("grp"))
      .agg(count(lit(1)).as("span_len"))
      .groupBy("span_len")
      .agg(count(lit(1)).as("n_spans"))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`): brute-force
  * cosine top-k as the exact baseline, and a random-hyperplane LSH
  * bucketed variant as the scale path.
  *
  * All float math is done as a *sequential left fold over doubles*
  * (functions.aggregate) — bit-for-bit reproducible in any engine that
  * folds left-to-right, which is what makes the DuckDB oracle exact.
  *
  * Scale design: brute force is a broadcast of the (small) query set
  * against a full scan of the corpus — linear, no shuffle of the corpus.
  * The LSH variant buckets the corpus once (nbits tuned to corpus size;
  * ~log2(n/bucket_target) bits) and only scores within matching buckets:
  * candidate cost drops by ~2^nbits at a recall cost; both are resident
  * plans a 1000-executor cluster runs without a cartesian anywhere.
  */
object Similarity {

  /** Sequential-fold dot product of two double arrays — compiled kernel
    * (graft.functions.DotProduct), bit-identical to the
    * aggregate(zip_with(...)) fold it replaces. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot_product", a, b)

  /** Cast a float vector to doubles (all arithmetic happens in f64). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Cosine similarity of two double vectors. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact top-k neighbors for each query vector: broadcast the query
    * set, score every corpus vector, rank per query. Norms are
    * precomputed per VECTOR before the join (n sqrt-dots, not n·q) —
    * same values, same fold order, one dot per pair inside the join. */
  def topKBruteForce(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("nv"))
      .withColumn("nn", sqrt(dot(col("nv"), col("nv"))))
    val q = queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Reciprocal-rank-fusion contribution of one ranking position
    * (Cormack et al. 2009), scaled to an exact INTEGER:
    * floor(1e9 / (k0 + rank)), 0 for an id absent from the ranking.
    * Integer contributions make fusion arithmetic engine-exact — no
    * float sum whose ties could flip the fused order. (The double
    * division is exact enough to floor correctly: numerator and
    * denominator are both ≤ 2^53 and the true quotient is ≥ 1/(k0+rank)
    * away from any integer it doesn't hit exactly.) */
  def rrfContrib(rank: Column, k0: Int = 60): Column =
    coalesce(floor(lit(1000000000L) / (lit(k0.toLong) + rank)).cast("long"), lit(0L))

  /** Fuse two rankings by reciprocal rank: full-outer union on id, fused
    * score = the sum of both integer contributions (absent → 0). Emits
    * (id, rrf_score, rank_a, rank_b); callers order by (rrf_score desc,
    * id) and cut top-k. Rankings are expected to be bounded top-N cuts,
    * so the join is a few-hundred-row reduction regardless of corpus
    * size. */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, rankCol: String,
      k0: Int = 60): DataFrame =
    a.select(col(idCol).as("_id_a"), col(rankCol).as("_rn_a")).as("l")
      .join(b.select(col(idCol).as("_id_b"), col(rankCol).as("_rn_b")).as("r"),
        col("_id_a") === col("_id_b"), "full")
      .select(
        coalesce(col("_id_a"), col("_id_b")).as(idCol),
        (rrfContrib(col("_rn_a"), k0) + rrfContrib(col("_rn_b"), k0)).as("rrf_score"),
        col("_rn_a").cast("long").as("rank_a"),
        col("_rn_b").cast("long").as("rank_b"))

  /** Mean intra-group pairwise cosine WITHOUT the pairwise join: for
    * unit vectors u, mean_{i≠j} cos(u_i, u_j) = (‖Σu‖² − n) / (n(n−1))
    * — the centroid-norm identity that turns an O(n²) redundancy audit
    * into one scan + one (group, dim) aggregate. High mean cosine = a
    * semantically redundant source (candidate for aggressive dedup /
    * down-weighting); the metric data-selection pipelines threshold.
    *
    * Exactness: normalization is per-row IEEE; each per-dim component
    * is quantized to DECIMAL(27,10) and summed as DECIMAL (partial-agg
    * merge order can't change it); the 64 per-dim sums come back as an
    * index-sorted array and square-sum in a sequential double fold —
    * bit-identical in any engine. Scale shape: one shuffle keyed on
    * (group, dim), then a |groups|-row rollup; the corpus is never
    * joined to itself. Emits (groupCol, n_vectors, sum_norm_sq,
    * mean_pairwise_cos — NULL below 2 vectors). */
  def groupDispersion(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val u = df
      .withColumn("_dv", toDouble(col(vecCol)))
      .withColumn("_nrm", sqrt(dot(col("_dv"), col("_dv"))))
      .withColumn("_u", transform(col("_dv"), x => x / col("_nrm")))
    val dimSums = u.select(col(groupCol), posexplode(col("_u")))
      .groupBy(col(groupCol), col("pos"))
      .agg(sum(col("col").cast(DecimalType(27, 10))).as("s"))
    val ssq = dimSums.groupBy(groupCol)
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("pos"), col("s")))),
          st => { val d = st.getField("s").cast("double"); d * d }),
        lit(0.0), _ + _).as("sum_norm_sq"))
    val n = u.groupBy(groupCol).agg(count(lit(1)).as("n_vectors"))
    ssq.join(n, groupCol)
      .select(col(groupCol), col("n_vectors"), col("sum_norm_sq"),
        when(col("n_vectors") >= 2,
          (col("sum_norm_sq") - col("n_vectors")) /
            (col("n_vectors") * (col("n_vectors") - 1)))
          .as("mean_pairwise_cos"))
  }

  /** Deterministic Rademacher (±1) projection planes for a
    * Johnson–Lindenstrauss dimensionality reduction (Achlioptas 2003,
    * "Database-friendly random projections": ±1 entries preserve
    * pairwise distances like Gaussians do). Same det-hash family as
    * the LSH planes so any engine reproduces the planes exactly;
    * `family` offsets past the LSH tables' plane ids (g ≤ tables·nbits)
    * so the two never share a plane. */
  def rademacherPlanes(outDim: Int, dim: Int,
      family: Int = 1000): Seq[Array[Double]] =
    (0 until outDim).map { j =>
      (0 until dim).map { i =>
        val h = java.lang.Math.floorMod(
          ((family + j).toLong * dim + i) * Text.Mult, Text.P)
        if (h % 2 == 0) 1.0 else -1.0
      }.toArray
    }

  /** JL-project a double vector onto `outDim` Rademacher planes: one
    * compiled dot per output dimension against a plane LITERAL — a
    * scan-level projection (no shuffle, no join), the 4–8× shrink an
    * embedding column gets before brute-force scoring at scale. Fold
    * order is index order on both engines, so projected coordinates are
    * bit-identical cross-engine. */
  def randomProjection(dv: Column, outDim: Int, dim: Int,
      family: Int = 1000): Column =
    array(rademacherPlanes(outDim, dim, family)
      .map(p => dot(dv, typedLit(p))): _*)

  /** All `tables` random-hyperplane LSH bucket ids (nbits bits each) of a
    * double vector in ONE compiled pass (graft.functions.LshBuckets) —
    * bucket of table t at array index t+1 (1-based element_at). Tables use
    * disjoint plane families. */
  def lshBuckets(v: Column, nbits: Int, dim: Int, tables: Int): Column =
    call_function("graft_lsh_buckets", v, lit(nbits), lit(dim), lit(tables))

  /** Single-table LSH bucket id (see [[lshBuckets]]). */
  def lshBucket(v: Column, nbits: Int, dim: Int): Column =
    element_at(lshBuckets(v, nbits, dim, 1), 1)

  /** One row per (vector, table) with the table's bucket as key. */
  private def withTableBuckets(df: DataFrame, vCol: String, nbits: Int,
      dim: Int, tables: Int): DataFrame =
    df.select(df.columns.toSeq.map(col) :+
      posexplode(lshBuckets(col(vCol), nbits, dim, tables)): _*)
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "bucket")

  /** Bucketed ANN top-k with multi-table LSH: a candidate is any corpus
    * vector sharing a bucket with the query in ANY of `tables` hash
    * tables (union-of-tables is the standard recall amplifier:
    * P(candidate) = 1 − (1 − p^nbits)^tables). Candidates are deduped
    * before scoring, then ranked per query. */
  def topKBucketed(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nbits: Int, dim: Int, tables: Int = 4): DataFrame = {
    val c = withTableBuckets(
      corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("nv"))
        .withColumn("nn", sqrt(dot(col("nv"), col("nv")))),
      "nv", nbits, dim, tables)
    val q = withTableBuckets(
      queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv"))
        .withColumn("qn", sqrt(dot(col("qv"), col("qv")))),
      "qv", nbits, dim, tables)
    val cand = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "qv", "qn", "neighbor_id", "nv", "nn")
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** IVF-style ANN top-k: corpus vectors are assigned to their nearest of
    * `centroids` cells; queries probe their `nprobe` nearest cells and
    * score only those members (candidates ≈ nprobe/centroids of the
    * corpus). Centroids here are the first C vectors by id — a
    * deterministic stand-in for trained centroids (swap in k-means
    * output in production; the cell-assignment/probe plumbing is
    * identical). Assignment is a broadcast of the tiny centroid set
    * against a corpus scan — no shuffle of the corpus beyond the final
    * per-query ranking. */
  def topKIvf(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Int, nprobe: Int): DataFrame =
    topKIvfWith(corpus, queries, idCol, vecCol, k, nprobe,
      corpus.filter(col(idCol) < centroids)
        .select(col(idCol).as("cid"), toDouble(col(vecCol)).as("cv")))

  /** [[topKIvf]] with TRAINED centroids (the production wiring its doc
    * promises): cells come from [[kmeansLloyd]] output instead of the
    * first-C stand-in. Same plan shape — the centroid set broadcasts,
    * the corpus is never shuffled for assignment. */
  def topKIvfTrained(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, cents: Seq[(Int, Seq[Double])],
      nprobe: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    topKIvfWith(corpus, queries, idCol, vecCol, k, nprobe,
      cents.toDF("cid", "cv").select(col("cid").cast("long").as("cid"), col("cv")))
  }

  /** IVF cell ENCODE as a standalone step: cosine-nearest centroid id
    * (ties to the lower cid) — exactly the corpus-side cell rule the
    * IVF search applies, exposed so a continuous-ingest pipeline can
    * encode a NEW batch against a STANDING codebook and append the
    * codes to a versioned index table ([[graft.Meta.Versioned]])
    * instead of re-assigning the whole corpus per batch. Because the
    * code is a pure per-row function of (vector, codebook),
    * fold(standing, encode(batch)) == encode(standing ∪ batch) — the
    * q119/q222 fold identity, here on the index itself (q223's oracle
    * crosses it engine-to-engine). Pure projection against centroid
    * literals — one scan, no join, no shuffle. Returns (idCol, cid
    * LONG). */
  def ivfEncode(df: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Int, Seq[Double])]): DataFrame = {
    require(cents.nonEmpty, "ivfEncode needs a non-empty codebook")
    val dv = toDouble(col(vecCol))
    val vn = sqrt(dot(dv, dv))
    // max cosine with ties to the lower cid == lexicographic min of
    // (−cos, cid); negation is exact, so the order matches the
    // search's `ORDER BY cos DESC, cid` bit for bit
    val best = array_min(array(cents.map { case (c, cv) =>
      val cn = math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x))
      struct((-(dot(dv, typedLit(cv)) / (vn * lit(cn)))).as("nc"),
        lit(c.toLong).as("cid"))
    }: _*)).getField("cid")
    df.select(col(idCol), best.as("cid"))
  }

  /** [[topKIvfTrained]] over a PRE-ENCODED corpus: cell membership
    * comes from `codes` (idCol, cid) — the standing versioned index
    * table a continuous-ingest pipeline maintains via [[ivfEncode]]
    * folds — instead of being recomputed per search. At 100 TB this is
    * the difference between a search touching the k·d codebook + the
    * probed cells and a search re-encoding the corpus: the index is
    * the materialized state, each batch pays only its own encode.
    * Queries probe their `nprobe` nearest cells; only those cells'
    * members are scored. */
  def topKIvfEncoded(corpus: DataFrame, codes: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      cents: Seq[(Int, Seq[Double])], nprobe: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cent = cents.toDF("cid", "cv")
      .select(col("cid").cast("long").as("cid"), col("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    val c = corpus
      .select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("nv"))
      .withColumn("nn", sqrt(dot(col("nv"), col("nv"))))
      .join(codes.select(col(idCol).as("neighbor_id"), col("cid")),
        Seq("neighbor_id"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cid"))
    val q = queries
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
      .join(broadcast(cent), lit(true))
      .withColumn("ccos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("crn", row_number().over(pw))
      .filter(col("crn") <= nprobe)
      .drop("cv", "cn", "ccos", "crn")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  private def topKIvfWith(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nprobe: Int, centSet: DataFrame): DataFrame = {
    val cent = centSet
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    def cells(df: DataFrame, id: String, v: String, nrm: String, keep: Int) = {
      val w = Window.partitionBy(col(id)).orderBy(col("ccos").desc, col("cid"))
      df.join(broadcast(cent), lit(true))
        .withColumn("ccos", dot(col(v), col("cv")) / (col(nrm) * col("cn")))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") <= keep)
        .drop("cv", "cn", "ccos", "crn")
    }
    val c = cells(
      corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("nv"))
        .withColumn("nn", sqrt(dot(col("nv"), col("nv")))),
      "neighbor_id", "nv", "nn", 1)
    val q = cells(
      queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv"))
        .withColumn("qn", sqrt(dot(col("qv"), col("qv")))),
      "query_id", "qv", "qn", nprobe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Bucketed (id, dv, bucket, nrm) side table for the near-dup joins. */
  private def bucketed(df: DataFrame, idCol: String, vecCol: String,
      nbits: Int, dim: Int): DataFrame =
    df.select(col(idCol), toDouble(col(vecCol)).as("dv"))
      .withColumn("bucket", lshBucket(col("dv"), nbits, dim))
      .withColumn("nrm", sqrt(dot(col("dv"), col("dv"))))
      .cache()

  /** Embedding-cosine near-dup pairs within LSH buckets (the dedup use of
    * similarity search): pairs in the same bucket with cosine ≥ threshold.
    * Buckets + norms are computed once per vector and cached for both join
    * sides; the (tail-sized) result is materialized and the cache released
    * before returning — same lifetime contract as graft.ops.Dedup. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nbits: Int, dim: Int): DataFrame = {
    val v = bucketed(df, idCol, vecCol, nbits, dim)
    val a = v.select(col("bucket"), col(idCol).as("id_a"),
      col("dv").as("va"), col("nrm").as("na"))
    val b = v.select(col("bucket"), col(idCol).as("id_b"),
      col("dv").as("vb"), col("nrm").as("nb"))
    val out = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
      .localCheckpoint()
    v.unpersist()
    out
  }

  /** Incremental embedding near-dup: a NEW batch of vectors deduplicated
    * AGAINST the standing corpus — the continuous-ingest shape mirroring
    * Dedup.nearDupPairsAgainst: the bucket join is corpus × batch, never
    * a corpus self-join per batch (the corpus side's buckets/norms would
    * be a pre-materialized index table in production — computed once per
    * vector ever). Returns (corpus_id, batch_id, cos) at cosine ≥
    * threshold. */
  def cosineNearDupAgainst(corpus: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String,
      threshold: Double, nbits: Int, dim: Int): DataFrame = {
    val c = bucketed(corpus, idCol, vecCol, nbits, dim)
    val b = bucketed(batch, idCol, vecCol, nbits, dim)
    val out = c.select(col("bucket"), col(idCol).as("corpus_id"),
        col("dv").as("va"), col("nrm").as("na"))
      .join(b.select(col("bucket"), col(idCol).as("batch_id"),
        col("dv").as("vb"), col("nrm").as("nb")), Seq("bucket"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("corpus_id", "batch_id", "cos")
      .localCheckpoint()
    c.unpersist()
    b.unpersist()
    out
  }

  /** Scalar (int8) quantization trainer: per-dimension global [min, max]
    * over the corpus in ONE aggregate (posexplode → d groups; the
    * quantizer parameters are 2·d doubles, collected to the driver —
    * the same codebook-on-driver shape as [[kmeansLloyd]]). */
  def sqTrain(df: DataFrame, vecCol: String): (Seq[Double], Seq[Double]) = {
    val rows = df.select(posexplode(toDouble(col(vecCol))))
      .groupBy("pos")
      .agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
      .collect().sortBy(_.getInt(0))
    // refuse loudly, matching the kmeansLloyd bootstrap contract pinned
    // in EmptyInputSpec: an empty (or all-null-vector) corpus would
    // otherwise return empty codebooks and sqEncode would silently emit
    // null codes via element_at on empty literal arrays
    require(rows.nonEmpty,
      s"sqTrain: no vectors to train on (empty corpus or all-null '$vecCol')")
    require(rows.forall(r => !r.isNullAt(1) && !r.isNullAt(2)),
      s"sqTrain: null bounds in '$vecCol' (null vector components)")
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** Encode a float vector into int8-range codes against trained
    * per-dimension bounds: code_i = round((x_i − mn_i)/(mx_i − mn_i)·255)
    * — 4× smaller than float32, engine-exact arithmetic (round half away
    * from zero in both engines; a degenerate dimension encodes 0).
    * Codes CLAMP to [0, 255]: a vector outside the trained bounds
    * (new ingest against an older codebook) saturates instead of
    * wrapping when stored as a byte. Pure scan-level projection against
    * codebook literals. */
  def sqEncode(v: Column, mins: Seq[Double], maxs: Seq[Double]): Column = {
    requireCodebook(mins, maxs, "sqEncode")
    transform(toDouble(v), (x, i) => {
      val mn = element_at(typedLit(mins), i + 1)
      val mx = element_at(typedLit(maxs), i + 1)
      when(mx === mn, lit(0))
        .otherwise(least(lit(255),
          greatest(lit(0), round((x - mn) / (mx - mn) * 255.0).cast("int"))))
    })
  }

  /** Decode int8-range codes back to the reconstruction
    * x̂_i = mn_i + code_i·(mx_i − mn_i)/255 — the approximate vector all
    * quantized distance math runs on. */
  def sqDecode(code: Column, mins: Seq[Double], maxs: Seq[Double]): Column = {
    requireCodebook(mins, maxs, "sqDecode")
    transform(code, (c, i) => {
      val mn = element_at(typedLit(mins), i + 1)
      val mx = element_at(typedLit(maxs), i + 1)
      mn + (c.cast("double") * (mx - mn)) / 255.0
    })
  }

  /** Shared degenerate-codebook refusal for [[sqEncode]]/[[sqDecode]]. */
  private def requireCodebook(mins: Seq[Double], maxs: Seq[Double],
      who: String): Unit = {
    require(mins.nonEmpty && maxs.nonEmpty,
      s"$who: empty codebook (train on a non-empty corpus first)")
    require(mins.length == maxs.length,
      s"$who: codebook length mismatch (${mins.length} mins, ${maxs.length} maxs)")
  }

  /** Distributed Lloyd's k-means over an embedding column — the trainer
    * for [[topKIvf]]'s coarse quantizer (which documents "swap in k-means
    * output in production"; this is that output). DETERMINISTIC end to
    * end: init = the k lowest-id vectors (no RNG seed to disagree on),
    * every distance is the sequential-fold dot kernel, and centroid
    * updates sum components as DECIMAL(30,12) — exact and order-free, so
    * partial-aggregation shape cannot perturb the means. (Scale 12 makes
    * the decimal cast provably tie-free for float32 inputs: a rounding
    * tie needs value = odd/(2¹³·5¹²), impossible for a 24-bit mantissa.)
    *
    * Scale shape (the MLlib pattern): centroids are k·d doubles living on
    * the driver between iterations — each iteration plans ONE corpus scan
    * whose assignment is a pure projection against centroid literals
    * (argmin over k inline dot products, no crossJoin, no n·k shuffle)
    * followed by ONE map-combined aggregate of k·d cells. Per-iteration
    * driver traffic is k·d decimals, independent of corpus size. Empty
    * clusters keep their previous centroid.
    *
    * Returns (assignments (input + `cluster` INT), centroids
    * Seq[(cluster, components)] after `iters` iterations). */
  def kmeansLloyd(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): (DataFrame, Seq[(Int, Seq[Double])]) = {
    require(k >= 1 && iters >= 1, s"bad kmeans spec: k=$k iters=$iters")
    require(!df.columns.contains("cluster"),
      "kmeansLloyd writes column 'cluster' but the input already has one")
    val vecs = df.select(col(idCol), toDouble(col(vecCol)).as("dv"))
      .withColumn("vn2", dot(col("dv"), col("dv")))
      .cache()
    // init: k lowest ids — TakeOrdered bounded heap, k·d doubles collected
    val init: Seq[(Int, Seq[Double])] = vecs
      .orderBy(col(idCol)).limit(k)
      .select(col("dv")).collect()
      .zipWithIndex.map { case (r, i) => i -> r.getSeq[Double](0) }.toSeq
    require(init.size == k, s"kmeans needs >= $k vectors, got ${init.size}")

    // argmin over k inline distances: d2_c = (vn2 + |c|²) − 2·(dv·c);
    // ties broken by cluster id via lexicographic struct min
    def assignExpr(cents: Seq[(Int, Seq[Double])], dv: Column, vn2: Column): Column =
      array_min(array(cents.map { case (c, cv) =>
        val cn2 = cv.foldLeft(0.0)((acc, x) => acc + x * x)
        struct(
          (vn2 + lit(cn2) - lit(2.0) * dot(dv, typedLit(cv))).as("d2"),
          lit(c).as("c"))
      }: _*)).getField("c")

    val finalCents = (1 to iters).foldLeft(init) { (cents, _) =>
      val sums = vecs
        .select(assignExpr(cents, col("dv"), col("vn2")).as("cluster"),
          posexplode(col("dv")))
        .groupBy("cluster", "pos")
        .agg(sum(col("col").cast("decimal(30,12)")).as("sd"),
          count(lit(1)).as("cnt"))
        .collect()
        .groupBy(_.getInt(0))
      cents.map { case (c, old) =>
        c -> sums.get(c).fold(old) { rows =>
          // BigDecimal.doubleValue is the correctly-rounded cast both
          // engines apply; the division is one IEEE op
          rows.sortBy(_.getInt(1))
            .map(r => r.getDecimal(2).doubleValue() / r.getLong(3)).toSeq
        }
      }
    }
    // training is done (every collect above ran from the cache); release
    // it NOW so no corpus-sized cache outlives the call — the returned
    // assignment is a pure projection over one clean uncached scan
    vecs.unpersist()
    val dv = toDouble(col(vecCol))
    val assigned = df.withColumn("cluster",
      assignExpr(finalCents, dv, dot(dv, dv)).cast("int"))
    (assigned, finalCents)
  }

  /** Nearest-centroid id for a sub-vector — the [[kmeansLloyd]]
    * assignment formula (d2 = ‖s‖² + ‖c‖² − 2·s·c, ties to the lower
    * cluster id via lexicographic struct min), against codebook
    * literals. */
  private def argminCode(cents: Seq[(Int, Seq[Double])], sub: Column): Column = {
    val sn2 = dot(sub, sub)
    array_min(array(cents.map { case (c, cv) =>
      val cn2 = cv.foldLeft(0.0)((acc, x) => acc + x * x)
      struct((sn2 + lit(cn2) - lit(2.0) * dot(sub, typedLit(cv))).as("d2"),
        lit(c).as("c"))
    }: _*)).getField("c")
  }

  /** Product-quantization codebooks (Jégou et al. 2011): the vector
    * space splits into `m` contiguous subspaces of dim∕m dims, and each
    * subspace trains its own deterministic k-means on the sub-vectors
    * ([[kmeansLloyd]] — lowest-id init, DECIMAL centroid sums, so the
    * codebooks are a pure function of the corpus). An encoded vector is
    * then m small ids instead of dim floats (16× smaller at m=2/ksub=4
    * over 64 f32 dims; production shapes reach 32–64×), and distance
    * math runs on per-subspace centroid tables — the memory trade that
    * lets an ANN index hold a 100 TB corpus's vectors in RAM.
    *
    * Scale shape: m runs of the kmeansLloyd scan-per-iteration recipe;
    * the codebooks are m·ksub·(dim∕m) doubles on the driver — the same
    * broadcast-sized model shape as [[sqTrain]]/[[topKIvfTrained]]. */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int, ksub: Int, iters: Int): Seq[Seq[(Int, Seq[Double])]] = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val sd = dim / m
    (0 until m).map { j =>
      val sub = df.select(col(idCol),
        slice(toDouble(col(vecCol)), j * sd + 1, sd).as("_sub"))
      kmeansLloyd(sub, idCol, "_sub", ksub, iters)._2
    }
  }

  /** PQ encoding: array of m codes, each the nearest subspace centroid
    * (same distance expansion + tie-break as the trainer's assignment).
    * Pure scan-level projection against codebook literals — encoding a
    * corpus is shuffle-free. */
  def pqEncode(v: Column, codebooks: Seq[Seq[(Int, Seq[Double])]],
      dim: Int): Column = {
    val m = codebooks.size
    val sd = dim / m
    array(codebooks.zipWithIndex.map { case (cb, j) =>
      argminCode(cb, slice(toDouble(v), j * sd + 1, sd))
    }: _*)
  }

  /** ADC (asymmetric distance computation): approximate squared
    * euclidean distance from a RAW query vector to an ENCODED corpus
    * vector — Σ over subspaces of ‖q_j − centroid(code_j)‖², each term
    * the same ‖q_j‖² + ‖c‖² − 2·q_j·c expansion the trainer uses, terms
    * summed left to right (engine-exact). The corpus side touches only
    * its m-byte codes; centroids and their norms are literal lookups. */
  def pqAdcDist(v: Column, codes: Column,
      codebooks: Seq[Seq[(Int, Seq[Double])]], dim: Int): Column = {
    val m = codebooks.size
    val sd = dim / m
    codebooks.zipWithIndex.map { case (cb, j) =>
      val q = slice(toDouble(v), j * sd + 1, sd)
      val code = element_at(codes, j + 1)
      val cvs = cb.sortBy(_._1).map(_._2)
      val cn2s = cvs.map(_.foldLeft(0.0)((a, x) => a + x * x))
      dot(q, q) + element_at(typedLit(cn2s), code + 1) -
        lit(2.0) * dot(q, element_at(typedLit(cvs), code + 1))
    }.reduce(_ + _)
  }

  /** PQ-ANN top-k: encode the corpus once, broadcast the query set, rank
    * per query by ADC distance (ties to the lower neighbor id). The
    * join carries only (id, m codes) on the corpus side — at scale the
    * compressed table is the whole point: it stays in memory where the
    * raw vectors cannot. Emits (query_id, rank, neighbor_id, adc_d2). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, codebooks: Seq[Seq[(Int, Seq[Double])]], dim: Int,
      k: Int): DataFrame = {
    val enc = corpus.select(col(idCol).as("neighbor_id"),
      pqEncode(col(vecCol), codebooks, dim).as("_codes"))
    val q = queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("_qv"))
    val scored = enc.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_d2", pqAdcDist(col("_qv"), col("_codes"), codebooks, dim))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "adc_d2")
  }

  /** Greedy k-center diversity seeds (Gonzalez's farthest-first
    * traversal, a 2-approximation to the k-center cover): start from
    * the lowest id, then k−1 times pick the vector FARTHEST from the
    * chosen set (max over corpus of min over centers of squared
    * Euclidean distance) — the canonical diverse-subset selector for
    * seeding annotation batches, eval panels, or codebook training
    * where k-means' density-seeking is exactly wrong. Deterministic end
    * to end: ties break to the lower id, each distance is the kmeans
    * operand tree vn2 + cn2 − 2·dot over the engine's sequential dot
    * kernel, so the oracle replays every pick move for move. Cost: k
    * scans of the cached vector table, each a bounded-heap TakeOrdered
    * (no global sort); driver state is k·d doubles — codebook-sized,
    * the kmeansLloyd precedent. Returns (pick_order, id, min_dist2 at
    * selection; 0.0 for the seed). */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val v = df.select(col(idCol).cast("long").as("vid"),
      toDouble(col(vecCol)).as("dv"))
      .withColumn("vn2", dot(col("dv"), col("dv")))
      .cache()
    val first = v.orderBy("vid").limit(1)
      .select("vid", "dv", "vn2").as[(Long, Seq[Double], Double)].head()
    var chosen = Vector((first._1, first._2, first._3, 0.0))
    while (chosen.length < k) {
      val minD = array_min(array(chosen.map { case (_, cv, cn2, _) =>
        col("vn2") + lit(cn2) - lit(2.0) * dot(col("dv"), typedLit(cv))
      }: _*))
      val next = v
        .filter(!col("vid").isInCollection(chosen.map(_._1)))
        .withColumn("md", minD)
        .orderBy(col("md").desc, col("vid")).limit(1)
        .select("vid", "dv", "vn2", "md")
        .as[(Long, Seq[Double], Double, Double)].head()
      chosen = chosen :+ ((next._1, next._2, next._3, next._4))
    }
    v.unpersist()
    chosen.zipWithIndex
      .map { case ((vid, _, _, d), i) => ((i + 1).toLong, vid, d) }
      .toDF("pick_order", "vec_id", "min_dist2")
  }
}

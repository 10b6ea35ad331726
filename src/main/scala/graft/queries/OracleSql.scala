package graft.queries

import graft.ops.{Dedup, Text}

/** DuckDB-dialect oracle SQL shared across the query files: each idiom an
  * oracle repeats (tokenizer, shingles, SimHash candidate pairs,
  * connected components, BM25 term statistics, Gopher features, κ, the
  * k-means/PQ chains) is written once here and interpolated at the call
  * site, the SQL twin of the shared Spark operators in `graft.ops`.
  * Fragments are CTE bodies or CTE lists without a leading `WITH` or a
  * trailing comma; the caller writes both.
  *
  * `stripMargin` runs over the interpolated text, so no fragment line may
  * start with `|` after its indentation.
  */
object OracleSql {
  import Text.P

  /** tokens CTE body: lowercase alnum tokens of `text`. */
  private[queries] val toksSql =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  /** The 3-gram shingle starting at token `i` of token list `t`. */
  private[queries] val shingle3Sql = "concat_ws(' ', t[i], t[i+1], t[i+2])"

  /** Start positions of the 3-gram shingles of token list `t`. */
  private[queries] val shinglePosSql =
    "CASE WHEN len(t) < 3 THEN [] ELSE range(1, len(t)-1) END"

  /** All 3-gram shingles of token list `t`, in token order. */
  private[queries] val shingleListSql =
    s"""CASE WHEN len(t) < 3 THEN []
       |    ELSE list_transform(range(1, len(t)-1),
       |           i -> $shingle3Sql) END""".stripMargin

  /** distinct 3-gram shingles over token list `t`. */
  private[queries] val shinglesSql = s"list_distinct($shingleListSql)"

  /** md5-prefix 32-bit string hash of `x`, reduced mod P. */
  private[queries] def strHashSql(x: String) =
    s"CAST(concat('0x', substr(md5($x),1,8)) AS BIGINT) % $P"

  /** md5-prefix 32-bit hash of every token of token list `t` (no mod). */
  private[queries] val tokHashSql =
    "list_transform(t, x -> CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT))"

  /** Sequential left fold: sum of `elems` starting at `init`. */
  private[queries] def foldSumSql(elems: String, init: String, step: String = "a + x") =
    s"list_reduce(list_prepend($init, $elems), (a, x) -> $step)"

  /** SimHash CTE chain (toks → th → sims → banded) shared by q28 and the
    * q49 component clustering oracle — generated from the same constants
    * as Dedup.simhashPairs. */
  private[queries] val simhashCtes: String = {
    val simSql = (0 until Dedup.SimHashBits).map { j =>
      val pow = 1L << j
      val bitSum = foldSumSql(
        s"list_transform(th, x -> ((x // $pow) % 2) * 2 - 1)",
        "CAST(0 AS BIGINT)")
      s"(CASE WHEN $bitSum > 0 THEN $pow ELSE 0 END)"
    }.mkString("\n     + ")
    val bitsPerBand = Dedup.SimHashBits / 4
    val bandedSql = (0 until 4).map(b =>
      s"SELECT doc_id, sim, $b AS band, (sim // ${1L << (b * bitsPerBand)}) % ${1 << bitsPerBand} AS band_key FROM sims")
      .mkString("\n  UNION ALL ")
    s"""toks AS (
       |  SELECT doc_id, $toksSql AS t FROM documents),
       |th AS (
       |  SELECT doc_id, $tokHashSql AS th
       |  FROM toks WHERE len(t) > 0),
       |sims AS (
       |  SELECT doc_id, $simSql AS sim FROM th),
       |banded AS (
       |  $bandedSql)""".stripMargin
  }

  /** SimHash bucket members numbered by doc id: `rk <= cap` keeps the
    * first `Dedup.DefaultDegreeCap` members of each (band, band_key). */
  private[queries] def rankedCte(ranked: String = "ranked"): String =
    s"""$ranked AS (
       |  SELECT doc_id, sim, band, band_key,
       |    row_number() OVER (PARTITION BY band, band_key ORDER BY doc_id) AS rk
       |  FROM banded)""".stripMargin

  /** Capped SimHash candidate pairs `pairs(id_a, id_b)` over
    * `simhashCtes`, Hamming ≤ 3 — the oracle of `Dedup.simhashPairsCapped`. */
  private[queries] def simhashPairsCtes(pairs: String = "pairs",
      ranked: String = "ranked"): String =
    s"""${rankedCte(ranked)},
       |$pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM $ranked a JOIN banded b USING (band, band_key)
       |  WHERE a.rk <= ${Dedup.DefaultDegreeCap} AND a.doc_id < b.doc_id
       |    AND bit_count(xor(a.sim, b.sim)) <= 3)""".stripMargin

  /** Transitive closure of the undirected pair CTE `pairs(id_a, id_b)`:
    * `reach(id, comp)` pairs each id with every id it reaches (needs
    * `WITH RECURSIVE`; the oracle of `ops.Components`). */
  private[queries] def reachCtes(pairs: String): String =
    s"""edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM $pairs
       |  UNION SELECT id_b, id_a FROM $pairs),
       |reach AS (
       |  SELECT DISTINCT src AS id, src AS comp FROM edges
       |  UNION
       |  SELECT e.src AS id, r.comp FROM edges e JOIN reach r ON e.dst = r.id)""".stripMargin

  /** Connected components `cmp(id, component)` of `pairs`, component =
    * min member id, over `reachCtes`. */
  private[queries] def componentCtes(pairs: String): String =
    s"""${reachCtes(pairs)},
       |cmp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id)""".stripMargin

  /** Hashed token features `tb(doc_id, source, b)`, one row per token,
    * `b` its hash mod `buckets`, over `toks(doc_id, source, t)`. */
  private[queries] def tokenBucketCtes(buckets: Int): String =
    s"""thc AS (
       |  SELECT doc_id, source, $tokHashSql AS th
       |  FROM toks WHERE len(t) > 0),
       |tb AS (
       |  SELECT doc_id, source, u.h % $buckets AS b
       |  FROM thc, unnest(thc.th) AS u(h))""".stripMargin

  /** Naive Bayes bucket weights `nbw(b, w9)` (ln ratio at scale 9,
    * Laplace-smoothed over `buckets`) for target sources `tgt` (an SQL
    * IN-list) against the rest, over `toks(doc_id, source, t)` — the
    * oracle of `Classify.nbWeights`; also emits `tb`. */
  private[queries] def nbWeightCtes(tgt: String, buckets: Int): String =
    s"""${tokenBucketCtes(buckets)},
       |bc AS (
       |  SELECT b,
       |    CAST(count(*) FILTER (WHERE source IN ($tgt)) AS BIGINT)
       |      AS cpos,
       |    CAST(count(*) FILTER (WHERE source NOT IN ($tgt)) AS BIGINT)
       |      AS cneg
       |  FROM tb GROUP BY 1),
       |nbt AS (SELECT CAST(sum(cpos) AS BIGINT) AS npos,
       |    CAST(sum(cneg) AS BIGINT) AS nneg FROM bc),
       |nbw AS (SELECT b,
       |    CAST(round(ln(((cpos + 1.0) * (nneg + $buckets)) /
       |      ((cneg + 1.0) * (npos + $buckets))), 9) AS DECIMAL(13,9)) AS w9
       |  FROM bc, nbt)""".stripMargin

  /** Distinct (doc, 3-gram shingle hash) rows `pairs(doc_id, h)`, hash
    * mod P, over `documents`. */
  private[queries] val shingleHashPairsCtes: String =
    s"""toks AS (
       |  SELECT doc_id, $toksSql AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, $shingleListSql AS s
       |  FROM toks),
       |ex AS (SELECT doc_id, unnest(s) AS x FROM sh WHERE len(s) > 0),
       |pairs AS (SELECT DISTINCT doc_id,
       |  ${strHashSql("x")} AS h FROM ex)""".stripMargin

  /** The k MinHash signature expressions over hash-set column `hv` (a
    * def: reading `LlmQueries.k` while this object initialises would
    * start LlmQueries, whose oracles read fragments not yet set). */
  private[queries] def sigSql = (1 to LlmQueries.k).map(i =>
    s"list_min(list_transform(hv, x -> (${Dedup.minhashA(i)}*x + ${Dedup.minhashB(i)}) % $P))")
    .mkString("[", ",\n    ", "]")

  /** Shared CTE prefix: documents → tokens → shingles → hash sets. */
  private[queries] val hvCte =
    s"""WITH toks AS (
       |  SELECT doc_id, source, $toksSql AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, source, $shinglesSql AS s FROM toks),
       |hvt AS (
       |  SELECT doc_id, source,
       |    list_sort(list_distinct(list_transform(s, x -> ${strHashSql("x")}))) AS hv
       |  FROM sh WHERE len(s) > 0)""".stripMargin

  private[queries] val jaccardSql =
    """CAST(len(list_intersect(ha.hv, hb.hv)) AS DOUBLE)
      |      / (len(ha.hv) + len(hb.hv) - len(list_intersect(ha.hv, hb.hv)))""".stripMargin

  /** Term counts `tf(doc_id, term, tf)` over `from(doc_id, term)`. */
  private[queries] def termFreqCte(from: String = "toks"): String =
    s"""tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM $from GROUP BY 1, 2)""".stripMargin

  /** Document frequencies `dfx(term, df)` over `tf`. */
  private[queries] val docFreqCte =
    "dfx AS (\n  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)"

  /** BM25 corpus statistics over `toks(doc_id, term)`: `tf`, document
    * lengths `dl(doc_id, dl)`, `dfx` and `stats(n_docs, sum_dl)`. */
  private[queries] val bm25StatsCtes: String =
    s"""${termFreqCte()},
       |dl AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |$docFreqCte,
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl)""".stripMargin

  /** One term's BM25 weight (k1 = 1.2, b = 0.75) over `bm25StatsCtes`. */
  private[queries] val bm25Sql: String =
    """ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |      * (tf * 2.2)
      |      / (tf + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
      |          / (CAST(sum_dl AS DOUBLE) / n_docs))))""".stripMargin

  /** The Gopher quality features (n, sum_len, alpha, symbols, stop_hits)
    * of token list `t` and raw `text` — the oracle of `Text.gopherSignals`. */
  private[queries] val gopherFeaturesSql: String =
    s"""CAST(len(t) AS BIGINT) AS n,
       |    ${foldSumSql("list_transform(t, w -> CAST(length(w) AS BIGINT))", "CAST(0 AS BIGINT)")} AS sum_len,
       |    CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS alpha,
       |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS symbols,
       |    CAST(len(list_filter(t, w -> w IN ($stopListSql))) AS BIGINT) AS stop_hits""".stripMargin

  /** The Gopher keep verdict over `gopherFeaturesSql`'s columns. */
  private[queries] val gopherGateSql: String =
    """n >= 20 AND n <= 100000 AND n > 0
      |     AND sum_len >= n * 3 AND sum_len <= n * 10
      |     AND symbols * 10 <= n AND alpha * 10 >= n * 8
      |     AND stop_hits >= 2""".stripMargin

  /** Cohen's κ chance (`pe`) and observed (`po`) agreement terms over
    * the 2×2 counts (a, b, c, d, n), all HUGEINT. */
  private[queries] val kappaTermsSql =
    """(a + b) * (a + c) + (c + d) * (b + d) AS pe,
      |    n * (a + d) AS po""".stripMargin

  /** κ's 2×2 counts and agreement terms over `g(ga, gb)` (0/1 verdicts):
    * `c(a, b, c, d, n)` then `k`, which `kappaSql` reads. */
  private[queries] val kappaCtes: String =
    s"""c AS (
       |  SELECT
       |    CAST(sum(ga * gb) AS HUGEINT) AS a,
       |    CAST(sum(ga * (1 - gb)) AS HUGEINT) AS b,
       |    CAST(sum((1 - ga) * gb) AS HUGEINT) AS c,
       |    CAST(sum((1 - ga) * (1 - gb)) AS HUGEINT) AS d,
       |    CAST(count(*) AS HUGEINT) AS n
       |  FROM g),
       |k AS (
       |  SELECT a, b, c, d, n,
       |    $kappaTermsSql
       |  FROM c)""".stripMargin

  /** The κ report columns over (a, b, c, d, n, pe, po): the 2×2 counts,
    * observed agreement and κ, each rounded half away in integer space. */
  private[queries] val kappaSql: String =
    """CAST(a AS BIGINT) AS n_both, CAST(b AS BIGINT) AS n_a_only,
      |  CAST(c AS BIGINT) AS n_b_only, CAST(d AS BIGINT) AS n_neither,
      |  CASE WHEN n = 0 THEN 1.0 ELSE
      |    CAST((2 * (a + d) * 1000000 + n) // (2 * n) AS DOUBLE)
      |      / 1000000 END AS observed_agreement,
      |  CASE WHEN n * n - pe = 0 THEN 1.0 ELSE
      |    CAST(CASE WHEN po - pe >= 0
      |      THEN (2 * (po - pe) * 1000000 + (n * n - pe))
      |        // (2 * (n * n - pe))
      |      ELSE -((2 * (pe - po) * 1000000 + (n * n - pe))
      |        // (2 * (n * n - pe))) END AS DOUBLE) / 1000000 END
      |    AS kappa""".stripMargin

  /** 64-dim sequential-fold dot product (DuckDB dialect) — the oracle
    * twin of the graft_dot_product kernel. */
  private[queries] def dot64Sql(a: String, b: String) =
    foldSumSql(
      s"list_transform(range(1, 65), i -> $a[i]*$b[i])", "CAST(0 AS DOUBLE)")

  /** Exact cosine top-5 `ek(query_id, neighbor_id)` of queries vec_id <
    * 10 over the vector CTE `vn(vec_id, dv, vn2)` (brute force, ties to
    * the lower neighbor id) — the ground truth ANN recall is read against. */
  private[queries] def exactTop5Ctes(vn: String): String =
    s"""es AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${dot64Sql("q.dv", "c.dv")} / (sqrt(q.vn2) * sqrt(c.vn2)) AS cos
       |  FROM $vn q, $vn c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
       |ek AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM es) z WHERE rn <= 5)""".stripMargin

  /** `vn` read under alias `t` in a FROM list: the bare CTE name when
    * the alias is the name itself. */
  private def aliased(vn: String, t: String) = if (t == vn) vn else s"$vn $t"

  /** Euclidean argmin assignment CTE (kmeans): nearest of `cents` per
    * vector from the `vn` CTE (read as `t`), ties to the lower cluster
    * id. A free `vn` lets two training chains coexist in one query. */
  private[queries] def kmeansAssignSql(name: String, cents: String,
      vn: String = "vn", t: String = "vn") =
    s"""$name AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT $t.vec_id, c.cluster,
       |      row_number() OVER (PARTITION BY $t.vec_id
       |        ORDER BY $t.vn2 + ${dot64Sql("c.cv", "c.cv")}
       |          - 2.0 * ${dot64Sql(s"$t.dv", "c.cv")}, c.cluster) AS rn
       |    FROM ${aliased(vn, t)}, $cents c) x WHERE rn = 1)""".stripMargin

  /** Centroid-update CTE pair (kmeans): DECIMAL(30,12) component means
    * of `assign`'s clusters over the `vn` CTE (read as `t`); empty
    * clusters keep `prev`'s centroid. */
  private[queries] def kmeansUpdateSql(sums: String, assign: String,
      prev: String, next: String, vn: String = "vn", t: String = "vn") =
    s"""$sums AS (
       |  SELECT a.cluster, i,
       |    CAST(sum(CAST($t.dv[i] AS DECIMAL(30,12))) AS DOUBLE)
       |      / count(*) AS m
       |  FROM $assign a JOIN ${aliased(vn, t)} USING (vec_id),
       |    unnest(range(1, 65)) u(i)
       |  GROUP BY 1, 2),
       |$next AS (
       |  SELECT p.cluster, coalesce(n.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN (
       |    SELECT cluster, list(m ORDER BY i) AS cv FROM $sums GROUP BY 1) n
       |  USING (cluster))""".stripMargin

  /** The full deterministic 2-iteration k=4 training chain (v, vn, c0 …
    * c2) shared by q113 (reports the model) and q116 (uses it as the
    * IVF coarse quantizer). */
  private[queries] val kmeansCtes: String =
    s"""v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
       |  FROM embeddings),
       |vn AS (SELECT vec_id, dv, ${dot64Sql("dv", "dv")} AS vn2 FROM v),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, dv AS cv
       |  FROM v ORDER BY vec_id LIMIT 4),
       |${kmeansAssignSql("a1", "c0")},
       |${kmeansUpdateSql("s1", "a1", "c0", "c1")},
       |${kmeansAssignSql("a2", "c1")},
       |${kmeansUpdateSql("s2", "a2", "c1", "c2")}""".stripMargin

  /** PQ (q179/q189) oracle chain: two 32-dim subspaces, each the
    * deterministic 2-iteration k=4 training + final encoding — the
    * kmeansCtes recipe parameterized per subspace, from the same
    * constants as `Similarity.pqTrain(dim=64, m=2, ksub=4, iters=2)`. */
  private[queries] val PqSubDim = 32
  private[queries] val PqKsub = 4

  private[queries] def pqDotSql(a: String, b: String) = foldSumSql(
    s"list_transform(range(1, ${PqSubDim + 1}), i -> $a[i]*$b[i])",
    "CAST(0 AS DOUBLE)")

  private[queries] def pqAssignSql(name: String, vn: String, cents: String) =
    s"""$name AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT v.vec_id, c.cluster,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY v.vn2 + ${pqDotSql("c.cv", "c.cv")}
       |          - 2.0 * ${pqDotSql("v.dv", "c.cv")}, c.cluster) AS rn
       |    FROM $vn v, $cents c) x WHERE rn = 1)""".stripMargin

  private[queries] def pqUpdateSql(sums: String, assign: String, vn: String,
      prev: String, next: String) =
    s"""$sums AS (
       |  SELECT a.cluster, i,
       |    CAST(sum(CAST(v.dv[i] AS DECIMAL(30,12))) AS DOUBLE)
       |      / count(*) AS mval
       |  FROM $assign a JOIN $vn v USING (vec_id),
       |    unnest(range(1, ${PqSubDim + 1})) u(i)
       |  GROUP BY 1, 2),
       |$next AS (
       |  SELECT p.cluster, coalesce(n.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN (
       |    SELECT cluster, list(mval ORDER BY i) AS cv FROM $sums
       |    GROUP BY 1) n
       |  USING (cluster))""".stripMargin

  // ---- whole-query oracles shared by a query and its streamed twin ----

  /** q109's per-customer price moments over the v2 orders snapshot —
    * also the oracle of the streamed fold (q124): fold == rebuild. */
  private[queries] val momentsOracleSql: String =
    """WITH s AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
      |    sum(pc) AS s1c, sum(pc * pc) AS s2c4
      |  FROM (SELECT o_custkey,
      |          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS pc
      |        FROM orders WHERE o_orderkey % 11 <> 0) t
      |  GROUP BY o_custkey)
      |SELECT o_custkey, cnt,
      |  CAST(((2 * s1c * 1000000 + cnt * 100) // (2 * cnt * 100))
      |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS mean_price,
      |  CAST(CASE WHEN cnt > 1 THEN
      |    ((2 * (s2c4 * cnt - s1c * s1c) * 100 + cnt * (cnt - 1) * 10000)
      |      // (2 * cnt * (cnt - 1) * 10000))
      |      * CAST(0.01 AS DECIMAL(3,2)) END AS DOUBLE) AS var_price
      |FROM s""".stripMargin

  /** q277's one-shot exact-substring rewrite SQL — ALSO the oracle of
    * the streamed fold (q280): ascending-id arrival makes per-batch
    * ownership equal the global (doc, pos) order, so the streamed
    * result must be bit-identical to this one-shot replay. */
  private[queries] def exactSubstrOracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS t FROM documents),
       |shp AS (
       |  SELECT doc_id, i AS spos, array_to_string(t[i:i+19], ' ') AS s
       |  FROM toks, unnest(CASE WHEN len(t) < 20 THEN []
       |    ELSE range(1, len(t)-18) END) u(i)),
       |r AS (
       |  SELECT doc_id, spos,
       |    row_number() OVER (PARTITION BY s ORDER BY doc_id, spos) AS rk,
       |    count(*) OVER (PARTITION BY s) AS occ
       |  FROM shp),
       |covered AS (
       |  SELECT DISTINCT doc_id, spos + o AS p
       |  FROM r, unnest(range(0, 20)) v(o)
       |  WHERE occ >= 2 AND rk > 1),
       |toklist AS (
       |  SELECT doc_id, i AS p, t[i] AS tok
       |  FROM toks, unnest(CASE WHEN len(t) = 0 THEN []
       |    ELSE range(1, len(t)+1) END) u(i)),
       |kept AS (
       |  SELECT k.doc_id,
       |    string_agg(k.tok, ' ' ORDER BY k.p) AS clean_text,
       |    CAST(count(*) AS BIGINT) AS n_kept
       |  FROM toklist k LEFT JOIN covered c
       |    ON k.doc_id = c.doc_id AND k.p = c.p
       |  WHERE c.doc_id IS NULL GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(k.clean_text, '') AS clean_text,
       |  CAST(len($toksSql) AS BIGINT) AS n_tokens,
       |  CAST(len($toksSql) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
       |FROM documents d LEFT JOIN kept k USING (doc_id)""".stripMargin


  /** Shared novelty oracle (q157/q158/q165): first-owner counts over the
    * full corpus, restricted by `where` at the boundary. */
  private[queries] def noveltyOracleSql(where: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, $shinglesSql AS s FROM toks),
       |hvt AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(s, x -> ${strHashSql("x")})) AS hv
       |  FROM sh WHERE len(s) > 0),
       |e AS (
       |  SELECT doc_id, h FROM hvt, unnest(hv) u(h)),
       |own AS (
       |  SELECT h, min(doc_id) AS owner FROM e GROUP BY h),
       |per AS (
       |  SELECT e.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_shingles,
       |    CAST(sum(CASE WHEN o.owner = e.doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_novel
       |  FROM e JOIN own o USING (h) GROUP BY e.doc_id)
       |SELECT doc_id, n_shingles, n_novel,
       |  CAST(((2 * CAST(n_novel AS HUGEINT) * 1000000 + n_shingles)
       |    // (2 * CAST(n_shingles AS HUGEINT)))
       |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS novelty
       |FROM per $where""".stripMargin

  /** q127 oracle — also the oracle for q133 (the STREAMED
    * maintenance of the same drift table must land on identical
    * values; sharing the string makes that exactness literal). */
  private[queries] val driftSql: String =
    """WITH v1 AS (SELECT lang, source, n_chars FROM documents WHERE doc_id % 10 <> 0),
          |v2 AS (SELECT lang, source, n_chars FROM documents WHERE doc_id % 7 <> 0),
          |a AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_v1,
          |        CAST(sum(n_chars) AS BIGINT) AS chars_v1
          |      FROM v1 GROUP BY lang, source),
          |b AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_v2,
          |        CAST(sum(n_chars) AS BIGINT) AS chars_v2
          |      FROM v2 GROUP BY lang, source),
          |t AS (SELECT (SELECT count(*) FROM v1) AS t1, (SELECT count(*) FROM v2) AS t2),
          |j AS (SELECT coalesce(a.lang, b.lang) AS lang,
          |        coalesce(a.source, b.source) AS source,
          |        coalesce(n_v1, 0) AS n_v1, coalesce(n_v2, 0) AS n_v2,
          |        coalesce(chars_v1, 0) AS chars_v1, coalesce(chars_v2, 0) AS chars_v2
          |      FROM a FULL OUTER JOIN b ON a.lang = b.lang AND a.source = b.source)
          |SELECT lang, source, n_v1, n_v2,
          |  CAST(CASE WHEN n_v1 > 0 THEN
          |    ((2 * chars_v1 * 1000000 + n_v1) // (2 * n_v1))
          |      * CAST(0.000001 AS DECIMAL(7,6)) END AS DOUBLE) AS mean_chars_v1,
          |  CAST(CASE WHEN n_v2 > 0 THEN
          |    ((2 * chars_v2 * 1000000 + n_v2) // (2 * n_v2))
          |      * CAST(0.000001 AS DECIMAL(7,6)) END AS DOUBLE) AS mean_chars_v2,
          |  CAST(((2 * n_v1 * 1000000 + t1) // (2 * t1))
          |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS share_v1,
          |  CAST(((2 * n_v2 * 1000000 + t2) // (2 * t2))
          |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS share_v2,
          |  CAST(((2 * n_v2 * 1000000 + t2) // (2 * t2))
          |    * CAST(0.000001 AS DECIMAL(7,6))
          |  - ((2 * n_v1 * 1000000 + t1) // (2 * t1))
          |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS share_drift
          |FROM j CROSS JOIN t""".stripMargin

  /** The q299 packing oracle — shared verbatim by q307's streamed twin
    * (fold == rebuild is that query's contract). Packed/truncated token
    * totals are ORDER-FREE plain sums; only (bins, remainder) is the
    * sequential fold, packed into ONE BIGINT (nb·1024 + rem, rem <
    * 1024 > L) — a scalar list_reduce (the q178 fold idiom; DuckDB
    * 1.0.0's list_reduce mis-computes multi-field STRUCT accumulators
    * through CASE branches — found while building this oracle, worked
    * around by design). */
  private[queries] val packingOracleSql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id, CAST(len($toksSql) AS BIGINT)
       |    AS ntok
       |  FROM documents),
       |o AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(ntok) AS BIGINT) AS n_tokens,
       |    CAST(sum(least(ntok, 512)) AS BIGINT) AS pk,
       |    CAST(sum(greatest(ntok - 512, 0)) AS BIGINT) AS tr,
       |    list(ntok ORDER BY doc_id) AS ls
       |  FROM t GROUP BY 1),
       |f AS (
       |  SELECT source, n_docs, n_tokens, pk, tr,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(ls, x -> CAST(least(x, 512) AS BIGINT))),
       |      (a, x) -> CASE WHEN x <= a % 1024 THEN a - x
       |        ELSE ((a // 1024) + 1) * 1024 + 512 - x END) // 1024
       |      AS nb
       |  FROM o)
       |SELECT source, n_docs, n_tokens, nb AS n_bins,
       |  CAST(CASE WHEN nb = 0 THEN 0 ELSE
       |      ((2 * CAST(pk AS HUGEINT) * 1000000 + nb * 512)
       |        // (2 * CAST(nb * 512 AS HUGEINT))) END AS DOUBLE)
       |    / 1000000 AS fill_rate,
       |  CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE
       |      ((2 * CAST(tr AS HUGEINT) * 1000000 + n_tokens)
       |        // (2 * CAST(n_tokens AS HUGEINT))) END AS DOUBLE)
       |    / 1000000 AS trunc_rate
       |FROM f""".stripMargin

  /** The Gopher stop-word list as a SQL IN-list fragment (shared by the
    * q270 oracle; same list `Text.gopherSignals` gates on). */
  private[queries] def stopListSql: String =
    Text.StopWords.head._2.map(w => s"'$w'").mkString(",")
}

package graft.queries

import graft.Tables
import graft.ops.Text
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse-retrieval operators (round 17, L262/L265): query-time search
  * over a positional inverted index — the retrieval side of the corpus
  * the engine already scores (q50 TF-IDF / q54 BM25 emit per-DOC term
  * weights; these answer QUERIES against the whole corpus). A
  * training-data pipeline runs exactly these two shapes at scale:
  * verbatim phrase lookup (decontamination evidence, quote tracing,
  * boilerplate provenance) and ranked keyword retrieval (BM25 hard
  * negatives for embedding training, benchmark-adjacent document
  * pulls). The reference pipeline has no retrieval surface; the shapes
  * follow the published inverted-index formulation (Zobel & Moffat
  * 2006) re-expressed as DataFrame joins.
  *
  * Scale design, both operators: the standing artifact at 100 TB is the
  * POSTINGS table — (term, doc, pos) for phrases, (term, doc, tf) for
  * BM25 — partitioned by term. A query workload touches only its own
  * terms' postings: the workload's term table is tiny and BROADCAST, so
  * the corpus-sized postings stream is pruned map-side to matching
  * terms before any shuffle; the only shuffles that remain are keyed on
  * (query, doc[, anchor]) over the MATCHED postings, which is
  * workload-volume, not corpus-volume. Neither operator ever joins
  * postings to postings (the classic m-way positional join): phrase
  * matching is the anchor trick — slot k of a phrase matching position
  * p votes for anchor p−k, and a position-run is a hit iff all slots
  * vote for the same anchor — ONE join + ONE aggregate for any phrase
  * length.
  */
object RetrievalQueries {
  import OracleSql._

  /** Shared workload derivation (DuckDB): top `k` word n-grams of the
    * corpus by occurrence count, ties broken by the n-gram string — the
    * deterministic stand-in for a user query log. */
  private def topNgramSql(n: Int, k: Int): String = {
    val gram = (0 until n).map(j => s"t[i+$j]").mkString(", ")
    s"""rq_tokl AS (
       |  SELECT doc_id, $toksSql AS t FROM documents),
       |rq_gram AS (
       |  SELECT unnest(list_transform(range(1, len(t) - ${n - 2}),
       |    i -> concat_ws(' ', $gram))) AS q
       |  FROM rq_tokl WHERE len(t) >= $n),
       |rq_top AS (
       |  SELECT q FROM (
       |    SELECT q, count(*) AS cnt FROM rq_gram GROUP BY 1
       |    ORDER BY cnt DESC, q LIMIT $k)),
       |rq_terms AS (
       |  SELECT q, i AS slot, string_split(q, ' ')[i] AS term
       |  FROM rq_top, unnest(range(1, ${n + 1})) u(i))""".stripMargin
  }

  /** q281's top-3-docs-per-trigram phrase search oracle — also the
    * oracle of its streamed index fold (q286): fold == one-shot. */
  private def phraseSearchOracleSql: String =
    s"""WITH ${topNgramSql(n = 3, k = 10)},
       |post AS (
       |  SELECT doc_id, i AS pos1, t[i] AS term
       |  FROM rq_tokl, unnest(range(1, len(t) + 1)) u(i)),
       |hits AS (
       |  SELECT p.q, post.doc_id, post.pos1 - p.slot AS anchor
       |  FROM post JOIN rq_terms p USING (term)
       |  GROUP BY 1, 2, 3
       |  HAVING count(DISTINCT p.slot) = 3),
       |pd AS (
       |  SELECT q, doc_id, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM hits GROUP BY 1, 2),
       |nd AS (
       |  SELECT q, CAST(count(*) AS BIGINT) AS n_docs FROM pd GROUP BY 1)
       |SELECT q AS phrase, doc_id, CAST(rk AS INT) AS rank, n_hits, n_docs
       |FROM (
       |  SELECT q, doc_id, n_hits,
       |    row_number() OVER (PARTITION BY q
       |      ORDER BY n_hits DESC, doc_id) AS rk
       |  FROM pd) r
       |JOIN nd USING (q)
       |WHERE rk <= 3""".stripMargin

  /** Per-corpus n-gram occurrence counts: (q, cnt) — the aggregate the
    * workload derivation (batch) and the count fold (streaming) share.
    * Built from the postings frame with lead() windows (all leads share
    * ONE window operator, fully codegen'd) instead of the interpreted
    * Text.shingles transform chain — the known HOF hazard that cost
    * 4.7 s alone at sf0.1 elsewhere; measured here it was +4 s on q281. */
  private def ngramCounts(tokDf: org.apache.spark.sql.DataFrame,
      n: Int): org.apache.spark.sql.DataFrame =
    ngramCountsFrom(postings(tokDf), n)

  /** [[ngramCounts]] over an already-built postings frame — so a caller
    * that also needs the postings themselves (q281's anchor match,
    * q286's index append) shares ONE tokenize+posexplode pass instead
    * of exploding the corpus once per consumer. */
  private def ngramCountsFrom(post: org.apache.spark.sql.DataFrame,
      n: Int): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos1")
    var df = post
    val nexts = (1 until n).map { j =>
      val c = s"t$j"
      df = df.withColumn(c, lead(col("term"), j).over(w))
      col(c)
    }
    df.filter(nexts.map(_.isNotNull).reduce(_ && _))
      .select(concat_ws(" ", col("term") +: nexts: _*).as("q"))
      .groupBy("q").agg(count(lit(1)).as("cnt"))
  }

  /** Top-k workload from an n-gram count table → (q, slot, term),
    * slot 1-based; the Spark twin of [[topNgramSql]]'s rq_terms. */
  private def workloadTerms(counts: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    counts.orderBy(col("cnt").desc, col("q")).limit(k)
      // parameter-sized (k rows); pinned so the workload is derived once
      // and both consumers (broadcast prune + output labels) agree
      .localCheckpoint()
      .select(col("q"), posexplode(split(col("q"), " ")))
      .select(col("q"), (col("pos") + 1).as("slot"), col("col").as("term"))

  /** The positional postings stream of a (doc_id, t) token frame:
    * (doc_id, pos1, term), pos1 1-based. */
  private def postings(tokDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    tokDf.select(col("doc_id"), posexplode(col("t")))
      .select(col("doc_id"), (col("pos") + 1).as("pos1"),
        col("col").as("term"))

  /** Anchor-join phrase match + top-3-per-phrase ranking (shared by the
    * batch q281 and the folded q286 — both must emit the same rows). */
  private def phraseTopDocs(post: org.apache.spark.sql.DataFrame,
      qterms: org.apache.spark.sql.DataFrame, phraseLen: Int)
      : org.apache.spark.sql.DataFrame = {
    val hits = post.join(broadcast(qterms), "term")
      .groupBy(col("q"), col("doc_id"),
        (col("pos1") - col("slot")).as("anchor"))
      .agg(count_distinct(col("slot")).as("ns"))
      .filter(col("ns") === phraseLen)
    val pd = hits.groupBy("q", "doc_id").agg(count(lit(1)).as("n_hits"))
    val nd = pd.groupBy("q").agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("q").orderBy(col("n_hits").desc, col("doc_id"))
    pd.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .join(broadcast(nd), "q")
      .select(col("q").as("phrase"), col("doc_id"),
        col("rk").cast("int").as("rank"), col("n_hits"), col("n_docs"))
  }

  val all: Seq[Q] = Seq(

    // ---- L262: positional phrase search. The workload is the corpus's
    // top-10 trigrams (a deterministic query log); each is matched
    // VERBATIM via the anchor formulation over (term, doc, pos)
    // postings: slot k at position p votes anchor p−k, a hit is an
    // anchor with all 3 distinct slots present (duplicate terms inside
    // a phrase vote different anchors from their different slots, so
    // "a b a" cannot self-match on two a's). Overlapping occurrences
    // count separately (they are distinct anchors). Output: top-3 docs
    // per phrase by hit count (ties → doc_id), with the phrase's
    // total matched-doc count.
    Q(
      "q281_phrase_search", phraseSearchOracleSql) { (spark, dir) =>
      val tokDf = Tables.documents(spark, dir)
        .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      // Deliberately NOT sharing one cached postings frame here (the
      // q284/q287 pattern): A/B'd at r20 and the cache WRITE of the
      // corpus-token-sized postings costs more than the saved explode
      // (1.58 vs 1.47 s min-of-6) because both consumers are cheap
      // map-side passes over it.
      val qterms = workloadTerms(ngramCounts(tokDf, n = 3), k = 10)
      // the postings stream: one corpus pass; broadcast-pruned to the
      // workload's terms BEFORE the anchor shuffle
      phraseTopDocs(postings(tokDf), qterms, phraseLen = 3)
    },

    // ---- L265: BM25 ranked retrieval. The query workload is the
    // corpus's top-10 bigrams as 2-term keyword queries; per (query,
    // doc) the score is the sum over query-term OCCURRENCES (a repeated
    // term scores twice — the standard bag-of-words query semantics) of
    // the q54 BM25 weight (same literals k1=1.2 b=0.75, same smoothed
    // idf, the SAME operand tree in both engines; the 2-addend
    // per-group sum is IEEE-commutative so partial-merge order cannot
    // move it). Disjunctive matching: a doc containing any query term
    // is scored on the terms it has. Top-5 docs per query by (score
    // desc, doc_id). The tf/df/dl/stats tables are the standing BM25
    // index at 100 TB — built once per corpus version, term-partitioned;
    // the query path touches only matched terms' rows.
    Q(
      "q284_bm25_retrieval",
      s"""WITH ${topNgramSql(n = 2, k = 10)},
         |toks AS (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |$bm25StatsCtes,
         |scored AS (
         |  SELECT qt.q, tf.doc_id,
         |    $bm25Sql AS s
         |  FROM rq_terms qt
         |  JOIN tf USING (term) JOIN dfx USING (term) JOIN dl USING (doc_id),
         |  stats),
         |agg AS (
         |  SELECT q, doc_id, sum(s) AS score FROM scored GROUP BY 1, 2)
         |SELECT q AS query, doc_id, CAST(rk AS INT) AS rank,
         |  round(score, 6) AS score
         |FROM (
         |  SELECT q, doc_id, score,
         |    row_number() OVER (PARTITION BY q
         |      ORDER BY score DESC, doc_id) AS rk
         |  FROM agg) r
         |WHERE rk <= 5""".stripMargin) { (spark, dir) =>
      val tokDf = Tables.documents(spark, dir)
        .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      // one postings pass shared by the workload derivation and the tf
      // build (each exploded the corpus separately before)
      val post = postings(tokDf).cache()
      val qterms = workloadTerms(ngramCountsFrom(post, n = 2), k = 10)
      // the standing index: cached for its four consumers (dl, df,
      // stats, scoring join) — the q54 discipline
      val tf = post.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")).cache()
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val scored = broadcast(qterms)
        .join(tf, "term").join(dfT, "term").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("s",
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
            * (col("tf") * 2.2)
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75)
                * (col("dl").cast("double")
                  / (col("sum_dl").cast("double") / col("n_docs"))))))
      val agg = scored.groupBy("q", "doc_id").agg(sum("s").as("score"))
      val w = Window.partitionBy("q").orderBy(col("score").desc, col("doc_id"))
      val out = agg.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q").as("query"), col("doc_id"),
          col("rk").cast("int").as("rank"),
          round(col("score"), 6).as("score"))
        .localCheckpoint() // ≤ 50 rows; releases both caches below
      tf.unpersist()
      post.unpersist()
      out
    },

    // ---- L268: proximity (sloppy) search — the third retrieval shape a
    // positional index answers (Zobel & Moffat 2006 §6; Lucene's sloppy
    // PhraseQuery): the workload's two terms co-occurring within a
    // ±5-token window in EITHER order, per (query, doc) the unordered
    // pair count and the tightest gap. The position range-join is
    // bucketed (bkt = pos div 6; a pair with 0 < Δ ≤ 5 can only land in
    // the same or the next bucket, so the left side explodes to TWO
    // candidate buckets and the join is pure equality — the q39 range-
    // join discipline, never an unbounded position cross product).
    // Candidate volume is Σ_terms tf·2 — the standard postings read for
    // a proximity query; workload terms broadcast-prune the corpus
    // stream first, as in L262/L265.
    Q(
      "q287_proximity_search",
      s"""WITH ${topNgramSql(n = 2, k = 10)},
         |qp AS (
         |  SELECT q, string_split(q, ' ')[1] AS t1, string_split(q, ' ')[2] AS t2
         |  FROM rq_top),
         |qt AS (SELECT DISTINCT q, term FROM rq_terms),
         |post AS (
         |  SELECT doc_id, i AS pos1, t[i] AS term
         |  FROM rq_tokl, unnest(range(1, len(t) + 1)) u(i)),
         |ca AS (
         |  SELECT qt.q, post.doc_id, post.pos1, post.term
         |  FROM post JOIN qt USING (term)),
         |prs AS (
         |  SELECT a.q, a.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(min(b.pos1 - a.pos1) AS BIGINT) AS min_gap
         |  FROM ca a JOIN ca b ON a.q = b.q AND a.doc_id = b.doc_id
         |    AND b.pos1 > a.pos1 AND b.pos1 - a.pos1 <= 5
         |  JOIN qp ON qp.q = a.q
         |    AND ((a.term = qp.t1 AND b.term = qp.t2)
         |      OR (a.term = qp.t2 AND b.term = qp.t1))
         |  GROUP BY 1, 2)
         |SELECT q AS query, doc_id, CAST(rk AS INT) AS rank, n_pairs, min_gap
         |FROM (
         |  SELECT q, doc_id, n_pairs, min_gap,
         |    row_number() OVER (PARTITION BY q
         |      ORDER BY n_pairs DESC, doc_id) AS rk
         |  FROM prs) r
         |WHERE rk <= 5""".stripMargin) { (spark, dir) =>
      val tokDf = Tables.documents(spark, dir)
        .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      // postings deliberately NOT cached (the q281 A/B: the corpus-
      // token-sized cache write costs what the saved explode saves);
      // the workload-sized candidate frame below IS cached — it feeds
      // both join sides
      val qterms = workloadTerms(ngramCounts(tokDf, n = 2), k = 10)
        .localCheckpoint() // read for qp, the distinct prune, and labels
      val qp = qterms.groupBy("q").agg(
        max(when(col("slot") === 1, col("term"))).as("t1"),
        max(when(col("slot") === 2, col("term"))).as("t2"))
      val qt = qterms.select("q", "term").distinct()
      // workload-volume; cached because it feeds BOTH join sides (a, b)
      val ca = postings(tokDf).join(broadcast(qt), "term")
        .select(col("q"), col("doc_id"), col("pos1"), col("term"))
        .cache()
      val a = ca
        .withColumn("jb",
          explode(array(floor(col("pos1") / 6), floor(col("pos1") / 6) + 1)))
        .select(col("q"), col("doc_id"), col("jb"),
          col("pos1").as("a_pos"), col("term").as("a_term"))
      val b = ca.select(col("q"), col("doc_id"),
        floor(col("pos1") / 6).as("jb"),
        col("pos1").as("b_pos"), col("term").as("b_term"))
      val prs = a.join(b, Seq("q", "doc_id", "jb"))
        .filter(col("b_pos") > col("a_pos") &&
          col("b_pos") - col("a_pos") <= 5)
        .join(broadcast(qp), "q")
        .filter((col("a_term") === col("t1") && col("b_term") === col("t2"))
          || (col("a_term") === col("t2") && col("b_term") === col("t1")))
        .groupBy("q", "doc_id")
        .agg(count(lit(1)).as("n_pairs"),
          min(col("b_pos") - col("a_pos")).cast("long").as("min_gap"))
      val w = Window.partitionBy("q").orderBy(col("n_pairs").desc, col("doc_id"))
      val out = prs.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q").as("query"), col("doc_id"),
          col("rk").cast("int").as("rank"), col("n_pairs"), col("min_gap"))
        .localCheckpoint() // ≤ 50 rows; releases the candidate cache
      ca.unpersist()
      out
    },

    // ---- L267 STREAMING positional-index maintenance: q281's index
    // kept ALIVE under continuous ingest (nobody re-tokenizes 100 TB
    // per arriving batch). Two standing versioned tables: the postings
    // index (per-doc facts — each batch APPENDS only its own postings;
    // the anchor matcher never needs cross-batch state because a
    // phrase cannot span documents) and the trigram count table (an
    // abelian sum fold — batch partials merge by key, so batch
    // MEMBERSHIP cannot move it). Both folds commit exactly-once
    // through Streams.foldOnce (a postings re-append would duplicate
    // hits, a count re-fold would double-count — neither is
    // idempotent), which REPLAYS the final batch under its original
    // batch id after the last batch: the oracle only matches because
    // the replay no-ops. Final answer = workload from the
    // RESOLVED count state + anchor match over the RESOLVED postings —
    // the oracle is q281's one-shot SQL VERBATIM, pinning
    // fold(b₁) ⊕ fold(b₂) == one-shot row-for-row.
    Q(
      "q286_stream_phrase_index", phraseSearchOracleSql) { (spark, dir) =>
      import graft.streaming.Streams
      val feedDf = Tables.documents(spark, dir).select("doc_id", "text")
      def toks(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"), Text.tokens(col("text")).as("t"))
      // Segment-append fold (round 21, guide §2.3/§6): both artifacts
      // take the batch's DELTA only — postings rows are append-only
      // and trigram counts are additive, so the standing tables are
      // the union of retained segments (counts re-aggregated at read).
      // The full-rewrite fold re-wrote the corpus-token-sized postings
      // table every micro-batch; now a batch writes O(|batch|).
      // Seeds: an empty index and an empty count state.
      val Seq(posts, counts) = Streams.foldOnce(graft.Tmp.dir("graft-q286").toString, Seq(
          feedDf.filter(col("doc_id") % 2 === 0),
          feedDf.filter(col("doc_id") % 2 =!= 0)),
          Seq(Streams.Segments("postings", postings(toks(feedDf)).limit(0)),
            Streams.Segments("tricnt", ngramCounts(toks(feedDf), 3).limit(0)))) {
        (batch, _, _) =>
        // one tokenize+posexplode of the batch, materialized once and
        // read by both commits (the postings append and the trigram-
        // count delta)
        val bp = postings(toks(batch)).localCheckpoint()
        Seq(bp, ngramCountsFrom(bp, 3))
      }
      // resolve the segment logs: counts re-aggregate (long sums —
      // order-free), postings union as-is
      val qterms = workloadTerms(
        counts.groupBy("q").agg(sum("cnt").as("cnt")), k = 10)
      phraseTopDocs(posts, qterms, phraseLen = 3)
    },

    // ---- L275 INCREMENTAL BM25 index maintenance under a CDC batch
    // (inserts AND deletes — the case q286's append-only postings never
    // face): the standing index (tf/df/dl over corpus v1 = doc_id%7≠0)
    // is maintained to corpus v2 = doc_id%11≠0 WITHOUT re-tokenizing
    // the standing corpus — deleted docs' term presence comes from the
    // standing tf TABLE itself (per-doc rows delete by key; df/dl are
    // abelian counts that take signed deltas; a term whose df reaches 0
    // leaves the dictionary), inserted docs tokenize fresh. The final
    // ranking is the q54 operand tree over the MAINTAINED tables, and
    // the oracle computes q54 DIRECTLY on v2 — maintenance == rebuild
    // pinned row-for-row, the incremental-view contract (q100) applied
    // to a retrieval index. Maintenance cost: |standing tf table| +
    // |batch| — the 100 TB raw corpus is never re-read.
    Q(
      "q294_incremental_bm25",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents
         |  WHERE doc_id % 11 <> 0),
         |$bm25StatsCtes,
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    $bm25Sql AS bm25
         |  FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id), stats),
         |ranked AS (
         |  SELECT doc_id, term, bm25,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY bm25 DESC, term) AS rn
         |  FROM scored)
         |SELECT doc_id, CAST(rn AS INT) AS rank, term, round(bm25, 6) AS bm25
         |FROM ranked WHERE rn <= 3""".stripMargin) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      def tfOf(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // the standing index artifact (corpus v1), pinned: maintenance
      // reads THIS, never the v1 corpus
      val tf1 = tfOf(docs.filter(col("doc_id") % 7 =!= 0)).localCheckpoint()
      val isDel = col("doc_id") % 11 === 0
      val tfIns = tfOf(docs.filter(col("doc_id") % 7 === 0 &&
        col("doc_id") % 11 =!= 0))
        .localCheckpoint() // read by tfM, the df delta, and dl delta
      // maintained per-doc rows: delete by key, append the batch
      val tfM = tf1.filter(!isDel).unionByName(tfIns)
      // maintained dictionary: signed presence deltas on the abelian df
      val presDel = tf1.filter(isDel).groupBy("term")
        .agg(count(lit(1)).as("d_del"))
      val presIns = tfIns.groupBy("term").agg(count(lit(1)).as("d_ins"))
      val dfM = tf1.groupBy("term").agg(count(lit(1)).as("df0"))
        .join(presDel, Seq("term"), "full_outer")
        .join(presIns, Seq("term"), "full_outer")
        .na.fill(0L, Seq("df0", "d_del", "d_ins"))
        .select(col("term"),
          (col("df0") - col("d_del") + col("d_ins")).as("df"))
        .filter(col("df") > 0)
      val dlM = tfM.groupBy("doc_id").agg(sum("tf").as("dl"))
      val stats = dlM.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val w = Window.partitionBy("doc_id").orderBy(col("bm25").desc, col("term"))
      tfM.join(dfM, "term").join(dlM, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("bm25",
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
            * (col("tf") * 2.2)
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75)
                * (col("dl").cast("double")
                  / (col("sum_dl").cast("double") / col("n_docs"))))))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"),
          round(col("bm25"), 6).as("bm25"))
    })
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword retrieval and rank fusion — the sparse half of a RAG /
  * retrieval pipeline (the dense half is [[Similarity]]'s ANN family).
  *
  * Reference scope: the warehouse backends expose full-text relevance
  * ranking through their SQL engines (BigQuery SEARCH(), Snowflake/Trino
  * full-text predicates ride through `load_sql` /
  * `fugue_trino/execution_engine.py:27`'s raw-select path); re-expressed
  * Spark-first as declarative DataFrame transforms over the engine-wide
  * spaceTokens contract so Catalyst owns the plan.
  *
  * Scoring is INTEGER-EXACT (the lift_e6 / rational-idf house pattern —
  * see [[TextAnalysis.collocations]] and [[TextAnalysis.tfidfTopK]]):
  * BM25's idf is kept rational ((N-df+1/2)/(df+1/2), no log damping —
  * monotone in Robertson idf per term), the length-normalized tf part is
  * cleared of fractions by multiplying through by 10·SUMDL, and each
  * term's score is emitted as one truncating decimal division to e6
  * scale. Per-document scores are SUMS OF INTEGERS — order-free, so any
  * engine (the DuckDB oracle included) replays scores and the total
  * (score desc, id asc) ranking bit-identically. No float, no libm.
  */
object Retrieval {

  /** BM25 top-k keyword search (Robertson–Spärck Jones / Okapi BM25,
    * TREC-3 1994) with k1 = 6/5 and b = 3/4 — the standard defaults,
    * chosen rational so the whole score clears to integers.
    *
    * Per query term t in doc d:
    * {{{
    *   idf(t)      = (2N - 2·df + 1) / (2·df + 1)          // rational, no log
    *   tfnorm(t,d) = 22·tf·SUMDL / (10·SUMDL·tf + 3·SUMDL + 9·dl·N)
    *                 // = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
    *                 //   cleared by 10·SUMDL, avgdl = SUMDL/N
    *   score_e6(t,d) = floor(1e6 · idf · tfnorm)           // ONE truncating div
    * }}}
    * and score_e6(d) = Σ_t score_e6(t,d) — an integer sum. Decimal(38,0)
    * headroom: the numerator is ≤ 2e6·22·N·tf·SUMDL, under 10^38 for
    * N·tf·SUMDL < 2e30 (a 10^9-doc corpus of 500-token docs with tf
    * up to 10^3 fits with margin).
    *
    * Plan shape (the part that must survive 100 TB): the term filter is
    * applied AT THE EXPLODE, before any shuffle — only query-term hits
    * leave the scan stage. The one wide shuffle is the (id, term) tf
    * count, bounded by matched-docs × |query|; df comes from a second
    * tiny aggregation of that same frame and joins back as a broadcast;
    * the corpus scalars (N, SUMDL) join as a broadcast single row; the
    * final top-k is `orderBy(...).limit(k)` which Spark executes as
    * TakeOrderedAndProject (per-partition heaps, no global sort).
    *
    * Output: (id, dl, n_matched, matched_terms, score_e6, rank) for the
    * top `k` docs by (score_e6 desc, id asc). `matched_terms` is the
    * comma-joined sorted term list (engine-portable string, not array).
    */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val dec = "decimal(38,0)"
    // spaceTokens contract: trim spaces, split on ' ' keeping empties
    val toks = split(trim(col(textCol)), " ", -1)
    val withDl = df.select(col(idCol).as("id"), toks.as("t"))
      .withColumn("dl", size(col("t")).cast("long"))
    // corpus scalars: one row, broadcast into the scoring join
    val stats = withDl.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    // term filter BEFORE the shuffle: only query-term occurrences survive
    // the explode; everything else dies in the scan stage
    val hits = withDl
      .select(col("id"), col("dl"), explode(col("t")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
    // materialized: df below re-aggregates this frame, and without the
    // materialization Catalyst column-prunes the two consumers into
    // DIFFERENT subtrees (no exchange reuse) and scans the corpus twice
    // more. localCheckpoint (not persist) so the cached blocks are
    // released by the ContextCleaner when the result frame is dropped —
    // a persist() would sit in the CacheManager until an explicit
    // unpersist the operator has no hook for. tf is the bounded
    // matched-docs × |query| frame; the corpus is the thing to scan once.
    val tf = hits.groupBy("id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    // document frequency per query term: |query|-row frame, broadcast back
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__num",
        lit(1000000L).cast(dec)
          * (lit(2).cast(dec) * col("n_docs").cast(dec)
             - lit(2).cast(dec) * col("df").cast(dec) + lit(1).cast(dec))
          * lit(22).cast(dec) * col("tf").cast(dec) * col("sum_dl").cast(dec))
      .withColumn("__den",
        (lit(2).cast(dec) * col("df").cast(dec) + lit(1).cast(dec))
          * (lit(10).cast(dec) * col("sum_dl").cast(dec) * col("tf").cast(dec)
             + lit(3).cast(dec) * col("sum_dl").cast(dec)
             + lit(9).cast(dec) * col("dl").cast(dec) * col("n_docs").cast(dec)))
      .withColumn("term_score_e6", expr("CAST(__num div __den AS long)"))
    val perDoc = scored.groupBy("id", "dl").agg(
      count(lit(1)).as("n_matched"),
      concat_ws(",", sort_array(collect_list(col("term")))).as("matched_terms"),
      sum(col("term_score_e6")).as("score_e6"))
    val top = perDoc.orderBy(col("score_e6").desc, col("id")).limit(k)
    // rank materializes on the k-row result only — the single-partition
    // window touches k rows, never the corpus
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("score_e6").desc, col("id")))
        .cast("long"))
      .select("id", "rank", "score_e6", "n_matched", "matched_terms", "dl")
  }

  /** MMR diversity re-rank (maximal marginal relevance — Carbonell &
    * Goldstein, SIGIR 1998): greedily select `k` of each query's
    * shortlist candidates, each step taking the candidate maximizing
    * {{{ mmr = 0.7·score − 0.3·max_{s ∈ selected} cosine(cand, s) }}}
    * (ties broken by candidate id) — the standard redundancy-removal
    * re-rank between ANN retrieval and a RAG context window. The first
    * pick has no selected set: the redundancy term is 0 and the pick is
    * the plain top-scored candidate.
    *
    * The k greedy steps are built as k chained aggregations over the
    * eagerly checkpointed shortlist frame — bounded (|queries| × shortlist) rows,
    * never the corpus; each step is one `max_by` argmax per query plus a
    * broadcastable join of the accumulated picks. All arithmetic is the
    * engine's exact cosine kernel plus IEEE double multiply/subtract in
    * a fixed order, so the DuckDB oracle replays every step's argmax
    * bit-identically.
    *
    * `candidates`: one row per (query, candidate) with the candidate's
    * vector and relevance score (e.g. [[Similarity.bruteForceTopK]]
    * output joined back to its vectors). Output: (query_id, rank,
    * neighbor_id, mmr) for ranks 1..k.
    */
  def mmrRerank(candidates: DataFrame, qIdCol: String, cIdCol: String,
      vecCol: String, scoreCol: String, k: Int = 5): DataFrame = {
    val cands = candidates.select(
      col(qIdCol).cast("long").as("query_id"),
      col(cIdCol).cast("long").as("cand_id"),
      col(vecCol).as("vec"), col(scoreCol).cast("double").as("score"))
      // localCheckpoint: k steps re-read this bounded frame; blocks are
      // ContextCleaner-released with the result (persist would leak in
      // the CacheManager — no unpersist hook after return)
      .localCheckpoint(true)
    var picks: DataFrame = null
    for (i <- 1 to k) {
      val scored =
        if (picks == null) cands.withColumn("m", lit(null).cast("double"))
        else {
          val selected = picks.groupBy("query_id").agg(
            collect_list(col("cand_id")).as("sel_ids"),
            collect_list(col("vec")).as("sel_vecs"))
          cands.join(broadcast(selected), Seq("query_id"))
            .filter(!array_contains(col("sel_ids"), col("cand_id")))
            .withColumn("m", array_max(transform(col("sel_vecs"),
              v => graft.functions.GraftFunctions.cosineSim(col("vec"), v))))
            .drop("sel_ids", "sel_vecs")
        }
      val stepped = scored.withColumn("mmr",
        lit(0.7) * col("score") - lit(0.3) * coalesce(col("m"), lit(0.0)))
      val pick = stepped.groupBy("query_id")
        .agg(max_by(
          struct(col("cand_id"), col("vec"), col("mmr")),
          struct(col("mmr"), (-col("cand_id")).as("tie"))).as("p"))
        .select(col("query_id"), col("p.cand_id").as("cand_id"),
          col("p.vec").as("vec"), col("p.mmr").as("mmr"),
          lit(i.toLong).as("rank"))
        // each pick is |queries| rows; the eager checkpoint caps the
        // otherwise exponential plan nesting (step i's join would
        // re-embed every earlier step's full plan) and its blocks are
        // GC-released with the result
        .localCheckpoint(true)
      picks = if (picks == null) pick else picks.unionByName(pick)
    }
    picks.select(col("query_id"), col("rank"),
      col("cand_id").as("neighbor_id"), col("mmr"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of
    * two rankings — the standard hybrid-retrieval combiner (sparse BM25 +
    * dense ANN). Contribution of a list where the doc holds rank r is
    * 1/(rrfK + r); we emit it integer-exact as floor(1e9 / (rrfK + r)),
    * so the fused score is a sum of two integers and every engine
    * replays the fused ordering bit-identically. Docs present in only
    * one list contribute 0 from the other (standard RRF semantics).
    *
    * Both inputs are top-k lists — bounded, broadcast-sized frames; the
    * full-outer join and the final TakeOrdered are trivially small. The
    * heavy lifting (corpus-scale search) already happened upstream in
    * [[bm25TopK]] / [[Similarity]].
    *
    * Output: (id, rrf_e9, rank_a, rank_b, rank) by (rrf_e9 desc, id asc),
    * top `k`. Absent ranks surface as NULL (portable to the oracle).
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, rankCol: String,
      k: Int = 10, rrfK: Int = 60): DataFrame = {
    def side(d: DataFrame, out: String) =
      d.select(col(idCol).as("id"), col(rankCol).cast("long").as(out))
    val fused = side(a, "rank_a").join(side(b, "rank_b"), Seq("id"), "full_outer")
      .withColumn("rrf_e9",
        coalesce(expr(s"CAST(1000000000 div (rank_a + $rrfK) AS long)"), lit(0L))
          + coalesce(expr(s"CAST(1000000000 div (rank_b + $rrfK) AS long)"), lit(0L)))
    fused.orderBy(col("rrf_e9").desc, col("id")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf_e9").desc, col("id")))
          .cast("long"))
      .select("id", "rank", "rrf_e9", "rank_a", "rank_b")
  }

  /** IR EVALUATION metrics — recall@k, MRR@k and nDCG@k per query — the
    * measurement verb that closes the retrieval loop: a pipeline that
    * ships BM25 / ANN / fused rankers needs the eval harness next to
    * them (TREC-style qrels in, per-query metrics out). Metrics are only
    * emitted for JUDGED queries (those present in `qrels`, the TREC
    * convention); ranked lists for unjudged queries are ignored.
    *
    * All arithmetic is integer fixed-point, so every metric replays
    * bit-identically in any engine: recall and reciprocal rank as ppm
    * floor divisions, and the DCG discount 1/log2(rank+1) as
    * `1e6·2^20 div ilog2Fp(rank+1)` ([[graft.functions.Kernels.ilog2Fp]]
    * — the same no-libm recurrence the drift monitor and the quality
    * classifier replay; a rank-1 hit scores exactly 10⁶). Binary
    * relevance; ideal DCG for m = min(n_rel, k) relevant docs is the
    * cumulative discount sum, joined from a k-row broadcast lookup built
    * with the same kernel.
    *
    * Scale shape: hits = one equi-join of the rank-k-truncated results
    * against the (distinct) qrels, then a per-query partial aggregation;
    * the idcg lookup broadcasts. Nothing corpus-sized shuffles beyond
    * the judged result lists themselves.
    */
  def retrievalMetrics(results: DataFrame, qrels: DataFrame,
      qCol: String, dCol: String, rankCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = results.sparkSession
    import spark.implicits._
    // a doc retrieved twice for one query counts ONCE, at its best rank
    // (a dup would otherwise inflate hits_k past n_rel and double its
    // DCG gain — trec_eval's duplicate-doc discipline)
    val r = results.select(col(qCol).as("__q"), col(dCol).as("__d"),
        col(rankCol).cast("long").as("__rk"))
      .filter(col("__rk") >= 1 && col("__rk") <= k)
      .groupBy("__q", "__d").agg(min("__rk").as("__rk"))
    val rel = qrels.select(col(qCol).as("__q"), col(dCol).as("__d")).distinct()
    val nrel = rel.groupBy("__q").agg(count(lit(1)).as("n_rel"))
    val hits = r.join(rel, Seq("__q", "__d"))
      .withColumn("__l", graft.functions.GraftFunctions.ilog2FpCol(col("__rk") + lit(1L)))
      .withColumn("__term", expr("1048576000000 div __l"))
      .groupBy("__q")
      .agg(count(lit(1)).as("hits_k"), min("__rk").as("__best"),
        sum("__term").as("dcg_e6"))
    val idcgRows = (1 to k).scanLeft(0L) { (acc, i) =>
        acc + 1048576000000L / graft.functions.Kernels.ilog2Fp(i + 1L)
      }.tail.zipWithIndex.map { case (s, i) => ((i + 1).toLong, s) }
    val idcg = broadcast(idcgRows.toDF("__m", "idcg_e6"))
    nrel
      .join(hits, Seq("__q"), "left")
      .withColumn("hits_k", coalesce(col("hits_k"), lit(0L)))
      .withColumn("dcg_e6", coalesce(col("dcg_e6"), lit(0L)))
      .withColumn("__m", least(col("n_rel"), lit(k.toLong)))
      .join(idcg, Seq("__m"))
      .withColumn("recall_ppm", expr("hits_k * 1000000 div n_rel"))
      .withColumn("rr_ppm", coalesce(expr("1000000 div __best"), lit(0L)))
      .withColumn("ndcg_ppm", expr("dcg_e6 * 1000000 div idcg_e6"))
      .select(col("__q").as(qCol), col("n_rel"), col("hits_k"),
        col("recall_ppm"), col("rr_ppm"), col("dcg_e6"), col("ndcg_ppm"))
  }

  /** EXACT PHRASE SEARCH over the positional inverted index — the
    * token-adjacency query [[bm25TopK]]'s bag-of-words scoring cannot
    * express ("slow scan" as a phrase, not two terms). Positional
    * intersection (the classic IR formulation): tokenize ONCE into
    * postings (word, doc, pos) over the engine-wide non-empty
    * space-token contract, keep only postings of the phrase's words
    * (a broadcast semi-filter — the corpus-scale win: every non-phrase
    * token drops BEFORE the shuffle), anchor each slot-i posting at
    * pos − i, and a doc position matches when ALL k slots land on one
    * anchor (count of distinct slots = k; repeated phrase words fill
    * their several slots independently). Overlapping matches count —
    * "a a" occurs twice in "a a a".
    *
    * Scale shape: one tokenize scan, postings filtered to the phrase's
    * ≤ k words map-side, ONE (doc, anchor) exchange, two groupBys on
    * the same key prefix. No regex over text, no cross join, no
    * full-postings shuffle.
    *
    * Returns (idCol, n_matches, first_pos) — docs with ≥ 1 match,
    * positions 1-based over non-empty tokens.
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrase: String): DataFrame = {
    val pts = phrase.split(" ").filter(_.nonEmpty).toSeq
    require(pts.nonEmpty, "phraseSearch: phrase has no tokens")
    val spark = docs.sparkSession
    val k = pts.length
    val slots = spark.createDataFrame(pts.zipWithIndex.map {
      case (w, i) => (w, i.toLong) }).toDF("w", "slot")
    val postings = docs
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__doc"),
        posexplode(expr(s"filter(split(`$textCol`, ' '), x -> x != '')"))
          .as(Seq("__p0", "w")))
      .where(col("w").isin(pts.distinct: _*)) // map-side prune pre-shuffle
      .select(col("__doc"), (col("__p0") + 1L).as("pos"), col("w"))
    postings.join(broadcast(slots), "w")
      .withColumn("anchor", col("pos") - col("slot"))
      .where(col("anchor") >= 1L)
      .groupBy("__doc", "anchor")
      .agg(countDistinct(col("slot")).as("__nslots"))
      .where(col("__nslots") === k.toLong)
      .groupBy("__doc")
      .agg(count(lit(1)).as("n_matches"), min(col("anchor")).as("first_pos"))
      .select(col("__doc").as(idCol), col("n_matches"), col("first_pos"))
  }
}

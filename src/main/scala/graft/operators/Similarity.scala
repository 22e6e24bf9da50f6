package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search over an embedding column,
  * SURVEY §2.3 rows 43-44.
  *
  * Both variants return one row per (query, rank): columns
  * (query_id, rank, neighbor_id, score), rank 1 = best, ties broken by
  * smaller neighbor_id — fully deterministic.
  *
  * Scale design: the query set is the small side (broadcast); the corpus is
  * never shuffled whole. Brute force is map-side only — the TopKAgg partial
  * aggregate reduces every partition to ≤ k entries per query before the
  * single shuffle, so shuffle volume is partitions × |queries| × k rows
  * regardless of corpus size. The LSH variant shuffles the corpus once as
  * narrow (id, table, bucket) rows and scores candidates only.
  */
object Similarity {

  /** Exact top-k cosine neighbors per query via a broadcast nested-loop
    * pass over the corpus. `excludeSelf` drops neighbor_id == query_id
    * matches (the usual "don't return the query itself" semantics).
    */
  def bruteForceTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val (c, q) = (corpusVecs(corpus, idCol, vecCol), queryVecs(queries, qIdCol, qVecCol))
    topKPerQuery(
      dropSelf(c.crossJoin(broadcast(q)), excludeSelf).withColumn("score", cosine),
      k)
  }

  /** LSH-bucketed approximate top-k: corpus and queries are bucketed with
    * the same `numTables` hyperplane tables (one expression pass each);
    * candidates are corpus rows sharing ≥ 1 (table, bucket) with a query.
    * Expected recall per true neighbor at angle θ is
    * 1-(1-(1-θ/π)^numBits)^numTables.
    *
    * `maxBucketSize` (default 100000) is a RECALL TRADE, not a free
    * knob: members of a hot (table, bucket) cell are dropped WHOLE
    * before candidate generation, so on skewed or duplicate-heavy
    * corpora true neighbors that only collide with their query inside a
    * hot bucket are lost (they may still surface via another table).
    * The cap is what bounds the candidate set to |queries| × numTables ×
    * maxBucketSize regardless of corpus shape; pass 0 to disable it and
    * accept unbounded candidates, or use [[bruteForceTopK]] when exact
    * results are required.
    *
    * `broadcastCandidates` (default true) broadcasts the capped
    * candidate id-pair set so corpus vectors are probed MAP-SIDE and
    * never shuffle (the intended 100 TB plan, asserted in
    * SimilaritySpec). The broadcast only fits while |queries| ×
    * numTables × maxBucketSize rows of two longs stay well under the
    * 8 GB broadcast limit — a few million candidates. For LARGE query
    * sets pass false: the scoring join becomes a plain equi-join that
    * AQE sizes (shuffling the corpus if the candidate side really is
    * big), which degrades gracefully instead of OOMing the driver.
    */
  def lshTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, numBits: Int = 8, numTables: Int = 16, seed: Long = 42L,
      excludeSelf: Boolean = true, maxBucketSize: Int = 100000,
      broadcastCandidates: Boolean = true): DataFrame = {
    val (c, q) = (corpusVecs(corpus, idCol, vecCol), queryVecs(queries, qIdCol, qVecCol))
    def bucketize(df: DataFrame, id: String, vec: String) =
      df.withColumn("bks", GraftFunctions.hyperplaneLshMulti(col(vec), numBits, numTables, seed))
        .select(col(id), posexplode(col("bks")).as(Seq("tbl", "bucket")))
    val cb = bucketize(c, "neighbor_id", "nbr_vec")
    // Degenerate-bucket cap: a skewed corpus (duplicate / near-zero
    // vectors) can pile into one (table, bucket) and make the candidate
    // set approach |queries| × |corpus| — which the downstream broadcast
    // must not see. Bucket counts aggregate to ≤ numTables × 2^numBits
    // rows (map-side combine, tiny shuffle), and the anti-join against
    // the hot list is a broadcast probe — the corpus-side frame itself
    // never shuffles. With the cap, candidates are bounded by
    // queries × numTables × maxBucketSize regardless of corpus shape.
    val capped =
      if (maxBucketSize > 0) {
        val hot = cb.groupBy("tbl", "bucket")
          .agg(count(lit(1)).as("__bs"))
          .filter(col("__bs") > maxBucketSize)
          .select("tbl", "bucket")
        cb.join(broadcast(hot), Seq("tbl", "bucket"), "left_anti")
      } else cb
    // Queries stay broadcast through bucketing (map-side hash probe on the
    // corpus side), then candidates dedup on (query, neighbor). The
    // broadcast escape hatch must cover THIS join too — |queries| ×
    // numTables bucket rows are exactly what outgrows the broadcast limit
    // on a large query set, so broadcastCandidates=false leaves it to AQE.
    val maybeBcast: DataFrame => DataFrame =
      if (broadcastCandidates) broadcast else identity
    val cand = capped
      .join(maybeBcast(bucketize(q, "query_id", "query_vec")), Seq("tbl", "bucket"))
      .select("query_id", "neighbor_id")
      .distinct()
    // Candidate scoring probes the CORPUS with a broadcast of the (narrow,
    // queries-bounded) candidate id pairs — corpus vectors are never
    // shuffled on neighbor_id. The reverse join order would leave AQE to
    // decide, and a sort-merge fallback at 100 TB moves the whole corpus
    // for |queries| × k rows of output. Plan shape asserted in
    // SimilaritySpec (no exchange on neighbor_id). When the caller
    // disabled the broadcast (large query set — see scaladoc), the same
    // joins run unhinted and AQE picks the strategy from runtime sizes.
    val scored = c
      .join(maybeBcast(cand), "neighbor_id")
      .join(maybeBcast(q), "query_id")
      .withColumn("score", cosine)
    topKPerQuery(dropSelf(scored, excludeSelf), k)
  }

  /** IVF-flat approximate top-k: `numCells` corpus vectors (seeded hash
    * order — a uniform data sample, the degenerate-but-valid centroid
    * choice when no training pass is budgeted) become cell centroids;
    * every corpus vector is assigned to its nearest centroid in one
    * broadcast pass; each query probes its `numProbe` nearest cells and
    * scores only those cells' members.
    *
    * Scale: centroids are broadcast (numCells ≪ corpus); assignment is
    * map-side; the only shuffle is the candidate join on cell id. Recall
    * rises with numProbe (numProbe == numCells degenerates to exact).
    */
  /** Spherical k-means centroid training on a bounded, seeded corpus
    * sample — the standard IVF recipe: the model trains driver-side on
    * ≤ sampleSize vectors (Lloyd's with cosine assignment: normalize,
    * assign by max dot product, mean, renormalize), while assignment of
    * the full corpus stays distributed in ivfTopK. Deterministic in seed.
    */
  def trainCentroidsKMeans(
      corpus: DataFrame, idCol: String, vecCol: String,
      numCells: Int, iters: Int = 10, sampleSize: Int = 10000,
      seed: Long = 42L): Array[Seq[Float]] = {
    val sample: Array[Array[Double]] = corpus
      .withColumn("__h", xxhash64(col(idCol), lit(seed)))
      .orderBy("__h").limit(sampleSize)
      .select(vecCol).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "cannot train centroids on an empty corpus")
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val unit = sample.map(normalize)
    var centroids = unit.take(math.min(numCells, unit.length))
    for (_ <- 1 to iters) {
      val dim = centroids.head.length
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      unit.foreach { v =>
        var best = 0; var bestDot = Double.MinValue
        var c = 0
        while (c < centroids.length) {
          var dot = 0.0; var i = 0
          while (i < dim) { dot += v(i) * centroids(c)(i); i += 1 }
          if (dot > bestDot) { bestDot = dot; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c) // empty cell keeps its centroid
        else normalize(sums(c).map(_ / counts(c)))
      }.toArray
    }
    centroids.map(_.map(_.toFloat).toSeq)
  }

  /** Deterministic uniform sample as centroids, collected to the driver —
    * the centroid set is the (bounded) trained model of IVF. Empty result
    * means an empty corpus.
    */
  private def selectCentroids(
      c: DataFrame, numCells: Int, seed: Long,
      trainedCentroids: Option[Array[Seq[Float]]]): Array[(Int, Seq[Float])] =
    trainedCentroids match {
      case Some(cs) => cs.zipWithIndex.map { case (v, i) => (i, v) }
      case None => c
        .withColumn("__h", xxhash64(col("neighbor_id"), lit(seed)))
        .orderBy("__h").limit(numCells)
        .select("nbr_vec").collect()
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Float](0)) }
    }

  /** Shared IVF cell routing: corpus rows → their single nearest cell,
    * queries → their `numProbe` nearest cells (exploded). Materialized
    * centroids let assignment run as a pure map-side expression over
    * literals: no crossJoin, no window, no shuffle. The literal form only
    * scales to modest models (the plan embeds numCells × dim floats
    * twice); beyond the cap, assignment falls back to a broadcast join +
    * max_by aggregation — one narrow shuffle on the id, no giant plan.
    * Tie-breaking is identical on both paths (max over struct(sim, cell)
    * picks the LARGEST cell id on exact score ties).
    *
    * `probeMargin` (NaN = off) makes the probe count ADAPTIVE per query:
    * within the numProbe nearest cells, only those with
    * sim ≥ best_sim − probeMargin are probed. numProbe stays the recall
    * CEILING (the cover the contracts certify); the margin prunes probes
    * that cannot matter — a query whose best cell dominates scans one
    * cell, a boundary query near several centroids keeps all numProbe.
    * Mean probed cells (= scanned corpus fraction × numCells) drops
    * measurably at equal recall; the r9 margin sweep is in SURVEY §7.0
    * (round-9 second session, item 7).
    */
  private def assignCells(
      c: DataFrame, q: DataFrame, centroids: Array[(Int, Seq[Float])],
      numProbe: Int, literalModelLimit: Int,
      probeMargin: Double = Double.NaN): (DataFrame, DataFrame) = {
    require(probeMargin.isNaN || probeMargin >= 0,
      s"probeMargin must be NaN (off) or >= 0, got $probeMargin — a " +
        "negative margin would silently prune below the certified recall")
    val spark = c.sparkSession
    val dim = centroids.head._2.length
    val literalOk = centroids.length.toLong * dim <= literalModelLimit
    val (assigned, probed) =
      if (literalOk) {
        def cellSims(vec: Column): Column = array(centroids.map { case (i, v) =>
          struct(GraftFunctions.cosineSim(vec, typedLit(v)).as("sim"), lit(i).as("cell"))
        }: _*)
        // corpus → its single nearest cell (argmax via struct array_max)
        val a = c.withColumn("cell",
          array_max(cellSims(col("nbr_vec"))).getField("cell"))
        // queries → their numProbe nearest cells (sort desc, slice),
        // margin-pruned against the best cell when adaptive
        val top = slice(reverse(array_sort(cellSims(col("query_vec")))), 1, numProbe)
        val sel =
          if (probeMargin.isNaN) top
          else filter(top, e =>
            e.getField("sim") >= element_at(top, 1).getField("sim") - lit(probeMargin))
        val p = q.withColumn("__cells", sel)
          .select(col("query_id"), col("query_vec"),
            explode(col("__cells").getField("cell")).as("cell"))
        (a, p)
      } else {
        val cellDf = broadcast(spark.createDataFrame(centroids.map {
          case (i, v) => (i, v)
        }.toSeq).toDF("cell", "centroid"))
        val a = c.crossJoin(cellDf)
          .withColumn("__sim", GraftFunctions.cosineSim(col("nbr_vec"), col("centroid")))
          .groupBy("neighbor_id")
          .agg(max(struct(col("__sim"), col("cell"))).getField("cell").as("cell"),
            first(col("nbr_vec")).as("nbr_vec"))
        val pw = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("__sim").desc, col("cell").desc)
        val pq0 = q.crossJoin(cellDf)
          .withColumn("__sim", GraftFunctions.cosineSim(col("query_vec"), col("centroid")))
          .withColumn("__rk", row_number().over(pw))
          .filter(col("__rk") <= numProbe)
        val pq1 =
          if (probeMargin.isNaN) pq0
          else pq0
            .withColumn("__best", max(col("__sim")).over(
              org.apache.spark.sql.expressions.Window.partitionBy("query_id")))
            .filter(col("__sim") >= col("__best") - lit(probeMargin))
        val p = pq1.select("query_id", "query_vec", "cell")
        (a, p)
      }
    (assigned, probed)
  }

  def ivfTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, numCells: Int = 16, numProbe: Int = 4, seed: Long = 42L,
      excludeSelf: Boolean = true, literalModelLimit: Int = 64 * 1024,
      trainedCentroids: Option[Array[Seq[Float]]] = None,
      probeMargin: Double = Double.NaN): DataFrame = {
    val (c, q) = (corpusVecs(corpus, idCol, vecCol), queryVecs(queries, qIdCol, qVecCol))
    val centroids = selectCentroids(c, numCells, seed, trainedCentroids)
    if (centroids.isEmpty) return emptyResult(corpus.sparkSession)
    val (assigned, probed) =
      assignCells(c, q, centroids, numProbe, literalModelLimit, probeMargin)
    // each corpus row lives in exactly one cell and probed cells are
    // distinct, so (query, neighbor) pairs are already unique: no dedup
    val scored = assigned
      .join(broadcast(probed), "cell")
      .withColumn("score", cosine)
      .select("query_id", "neighbor_id", "score")
    topKPerQuery(dropSelf(scored, excludeSelf), k)
  }

  /** IVF-PQ composed top-k — the standard billion-vector production
    * recipe (Jégou et al., TPAMI 2011, §IV): route every corpus vector
    * to its nearest IVF cell AND compress it to an m-byte PQ code in the
    * SAME map-side pass; each query probes its `numProbe` nearest cells
    * and ADC-scans only those cells' codes. Combines the two scale
    * levers multiplicatively: IVF cuts the scanned fraction to
    * ~numProbe/numCells, PQ cuts bytes-per-scanned-row by 4·dim/m — at
    * 100 TB of float32 embeddings (dim 64, m 16, 16 cells, 4 probes)
    * the per-query scan touches ~1.6 TB of codes instead of 100 TB of
    * vectors.
    *
    * Plan shape: corpus vectors are read ONCE (cell argmax + pqEncode,
    * both codegen map-side), never shuffled — the probed queries (with
    * their ADC tables) broadcast to the codes, and TopKAgg
    * partial-aggregates each partition to ≤ k entries per query before
    * the single bounded shuffle (asserted in SimilaritySpec).
    *
    * `rerankShortlistK > 0` switches on the exact tail: the ADC pass
    * shortlists that many candidates per query, then only those
    * candidates' true vectors are fetched (broadcast probe of the
    * corpus, same as [[pqTopKExactRerank]]) and rescored with exact
    * cosine — scores in the result are then EXACT. With the default 0
    * the result carries approximate ADC scores.
    */
  def ivfPqTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, model: graft.functions.PqModel,
      numCells: Int = 16, numProbe: Int = 4, seed: Long = 42L,
      excludeSelf: Boolean = true, rerankShortlistK: Int = 0,
      literalModelLimit: Int = 64 * 1024,
      trainedCentroids: Option[Array[Seq[Float]]] = None,
      probeMargin: Double = Double.NaN,
      shortlistMargin: Double = Double.NaN): DataFrame = {
    require(rerankShortlistK == 0 || rerankShortlistK >= k,
      s"rerankShortlistK ($rerankShortlistK) must be 0 (off) or >= k ($k)")
    val (c, q) = (corpusVecs(corpus, idCol, vecCol), queryVecs(queries, qIdCol, qVecCol))
    val centroids = selectCentroids(c, numCells, seed, trainedCentroids)
    if (centroids.isEmpty) return emptyResult(corpus.sparkSession)
    val (assigned, probed) =
      assignCells(c, q, centroids, numProbe, literalModelLimit, probeMargin)
    // one pass over corpus vectors: cell id + m-byte code, vector dropped
    val codes = assigned.select(col("cell"), col("neighbor_id"),
      GraftFunctions.pqEncode(col("nbr_vec"), model).as("codes"))
    // ADC table per probed (query, cell) row — numProbe copies of an
    // m × ksub double table per query, still broadcast-trivial
    val qtabs = probed.select(col("cell"), col("query_id"),
      GraftFunctions.pqQueryTable(col("query_vec"), model).as("qtab"))
    val scored = codes
      .join(broadcast(qtabs), "cell")
      .withColumn("score", GraftFunctions.pqAdcScore(col("codes"), col("qtab")))
      .select("query_id", "neighbor_id", "score")
    val filtered = dropSelf(scored, excludeSelf)
    if (rerankShortlistK == 0) topKPerQuery(filtered, k)
    else exactRerank(c, q,
      pruneShortlist(topKPerQuery(filtered, rerankShortlistK), k, shortlistMargin), k)
  }

  /** Margin-adaptive shortlist cut for exact-rerank paths: keep
    * candidates whose approximate (ADC) score is within `margin` of the
    * approximate score at rank k — a candidate further below cannot be
    * promoted into the true top-k unless the ADC error on that pair
    * exceeds the margin, so the margin is the measured ADC-error budget
    * (the r9 shortlist sweep, SURVEY §7.0 round-9 second session), not
    * a guess. NaN = off (keep the full shortlist). The per-query kth
    * score is taken from the shortlist itself (bounded rows); queries
    * with fewer than k shortlist rows keep everything.
    */
  private def pruneShortlist(shortlist: DataFrame, k: Int,
      margin: Double): DataFrame = {
    require(margin.isNaN || margin >= 0,
      s"shortlistMargin must be NaN (off) or >= 0, got $margin")
    if (margin.isNaN) return shortlist
    val kth = shortlist.filter(col("rank") === k)
      .select(col("query_id"), col("score").as("__kth"))
    shortlist.join(broadcast(kth), Seq("query_id"), "left")
      .filter(col("__kth").isNull || col("score") >= col("__kth") - lit(margin))
      .drop("__kth")
  }

  /** Product-quantization codebook training (Jégou et al., TPAMI 2011):
    * per-subspace Lloyd's k-means (L2, the classic PQ objective) on a
    * bounded, seeded corpus sample of UNIT-NORMALIZED vectors — the same
    * driver-side trained-model recipe as [[trainCentroidsKMeans]] /
    * BPE / bigram-LM: training cost is O(sampleSize × ksub × dim × iters)
    * regardless of corpus size, and the artifact (m × ksub × dsub floats)
    * rides to executors as one codegen reference object. Deterministic in
    * seed (sample order, first-ksub init, strict-< assignment ties).
    */
  def trainPq(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, iters: Int = 10, sampleSize: Int = 10000,
      seed: Long = 42L): graft.functions.PqModel = {
    require(ksub >= 1 && ksub <= 256, s"ksub must be in [1, 256], got $ksub")
    val sample: Array[Array[Double]] = corpus
      .withColumn("__h", xxhash64(col(idCol), lit(seed)))
      .orderBy("__h").limit(sampleSize)
      .select(vecCol).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "cannot train a PQ codebook on an empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"vector dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val unit = sample.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val flat = new Array[Float](m * ksub * dsub)
    for (s <- 0 until m) {
      val off = s * dsub
      val subs = unit.map(v => java.util.Arrays.copyOfRange(v, off, off + dsub))
      var cents = subs.take(math.min(ksub, subs.length))
      // short sample: pad by cycling (duplicates merge to empty cells,
      // which keep their centroid — harmless, deterministic)
      while (cents.length < ksub) cents = cents ++ subs.take(ksub - cents.length)
      for (_ <- 1 to iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Int](ksub)
        subs.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var j = 0
          while (j < ksub) {
            var d = 0.0; var t = 0
            while (t < dsub) { val df = v(t) - cents(j)(t); d += df * df; t += 1 }
            if (d < bestD) { bestD = d; best = j }
            j += 1
          }
          counts(best) += 1
          var t = 0
          while (t < dsub) { sums(best)(t) += v(t); t += 1 }
        }
        cents = Array.tabulate(ksub) { j =>
          if (counts(j) == 0) cents(j) else sums(j).map(_ / counts(j))
        }
      }
      for (j <- 0 until ksub; t <- 0 until dsub)
        flat((s * ksub + j) * dsub + t) = cents(j)(t).toFloat
    }
    new graft.functions.PqModel(m, dsub, ksub, flat)
  }

  /** PQ-ADC approximate top-k (the flat-scan form; compose with IVF cells
    * for the full IVF-PQ recipe): the corpus is ENCODED ONCE to m-byte
    * codes — a 4·dim/m-fold compression (dim=64, m=8: 32× smaller than
    * the float vectors) that is what makes a 100 TB embedding corpus
    * scannable at interactive rates — and every query precomputes its
    * m × ksub ADC lookup table so scoring a corpus row costs m array
    * reads, not a dim-length dot product.
    *
    * Scale shape mirrors [[bruteForceTopK]]: queries (with tables)
    * broadcast, the code scan is map-side, TopKAgg partial-aggregates to
    * ≤ k entries per query per partition — shuffle volume is
    * partitions × |queries| × k regardless of corpus size; corpus
    * vectors are read once by the encoder and never shuffled. Scores are
    * approximate cosine (reconstruction dot products over unit vectors);
    * rank/tie contract matches the other ANN variants.
    */
  def pqTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, model: graft.functions.PqModel,
      excludeSelf: Boolean = true): DataFrame = {
    val codes = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      GraftFunctions.pqEncode(col(vecCol), model).as("codes"))
    val qt = queries.select(col(qIdCol).cast("long").as("query_id"),
      GraftFunctions.pqQueryTable(col(qVecCol), model).as("qtab"))
    val scored = codes.crossJoin(broadcast(qt))
      .withColumn("score", GraftFunctions.pqAdcScore(col("codes"), col("qtab")))
    topKPerQuery(dropSelf(scored, excludeSelf), k)
  }

  /** PQ shortlist + EXACT rerank — the standard production recipe: the
    * compressed-code scan shortlists `shortlistK` candidates per query
    * (approximate, cheap), then ONLY those candidates' true vectors are
    * fetched and scored with exact cosine. The vector fetch is a join of
    * the narrow (query_id, neighbor_id) shortlist against the corpus —
    * broadcast-sized (|queries| × shortlistK rows), so corpus vectors
    * are probed map-side and never shuffled (same join direction as
    * [[lshTopK]]'s scoring). Scores in the result are EXACT cosine;
    * recall equals the probability the true top-k survived the
    * shortlist, which the PQ recall contract pins.
    */
  def pqTopKExactRerank(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, shortlistK: Int, model: graft.functions.PqModel,
      excludeSelf: Boolean = true,
      shortlistMargin: Double = Double.NaN): DataFrame = {
    require(shortlistK >= k, s"shortlistK ($shortlistK) must be >= k ($k)")
    val shortlist = pruneShortlist(
      pqTopK(corpus, idCol, vecCol, queries, qIdCol, qVecCol, shortlistK, model, excludeSelf),
      k, shortlistMargin)
    exactRerank(corpusVecs(corpus, idCol, vecCol), queryVecs(queries, qIdCol, qVecCol),
      shortlist, k)
  }

  /** kNN LABEL CLASSIFICATION — the ANN consumer every training-data
    * pipeline ends up writing (label propagation / weak supervision /
    * quality-tier transfer): each query takes the MAJORITY label of its
    * k nearest corpus neighbors. Deterministic end-to-end: the top-k
    * contract's tie order (score desc, neighbor_id asc) fixes the
    * neighbor set, and vote ties break toward the SMALLEST label, so
    * results are engine-exact and the DuckDB oracle replays them
    * bit-for-bit.
    *
    * `searcher` swaps the neighbor source: brute force by default
    * (exact — the oracle-checkable form), or any index variant via the
    * ANN family ([[ivfTopK]] etc. — same output contract), e.g.
    * `knnClassify(..., searcher = ivfTopK(c, "id", "v", q, "id", "v", k,
    * numCells = 16, probeMargin = 0.1))`.
    *
    * Scale shape: the label join probes the corpus by neighbor id with a
    * BROADCAST of the bounded (queries × k) neighbor list — corpus rows
    * never shuffle; the vote aggregation keys on (query, label), both
    * bounded.
    */
  def knnClassify(
      corpus: DataFrame, idCol: String, vecCol: String, labelCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, searcher: DataFrame = null): DataFrame = {
    val topk =
      if (searcher != null) searcher
      else bruteForceTopK(corpus, idCol, vecCol, queries, qIdCol, qVecCol, k)
    // NULL labels cannot vote (and Spark's NULLS FIRST asc vs SQL
    // engines' NULLS LAST default would make a NULL winner's tie-break
    // engine-dependent) — an unlabeled neighbor simply contributes no
    // evidence
    val labels = corpus
      .filter(col(labelCol).isNotNull)
      .select(col(idCol).cast("long").as("neighbor_id"),
        col(labelCol).as("__label"))
    val votes = labels
      .join(broadcast(topk.select("query_id", "neighbor_id")), "neighbor_id")
      .groupBy("query_id", "__label")
      .agg(count(lit(1)).as("votes"))
    // majority winner; the row_number window is over the BOUNDED vote
    // rows (≤ queries × k), not corpus rows — ties pick the smallest
    // label, engine-exact
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("__label").asc)
    votes
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("query_id"), col("__label").as("pred_label"), col("votes"))
  }

  /** The corpus as (neighbor_id, nbr_vec) rows. */
  private def corpusVecs(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("nbr_vec"))

  /** The queries as (query_id, query_vec) rows. */
  private def queryVecs(queries: DataFrame, qIdCol: String, qVecCol: String): DataFrame =
    queries.select(col(qIdCol).cast("long").as("query_id"), col(qVecCol).as("query_vec"))

  /** Exact cosine of a (neighbor, query) row. */
  private def cosine: Column = GraftFunctions.cosineSim(col("nbr_vec"), col("query_vec"))

  /** `excludeSelf`: drop neighbor_id == query_id matches. */
  private def dropSelf(scored: DataFrame, excludeSelf: Boolean): DataFrame =
    if (excludeSelf) scored.filter(col("neighbor_id") =!= col("query_id")) else scored

  /** Exact tail of the shortlisting searches: fetch only the shortlisted
    * candidates' true vectors — a broadcast probe of the corpus by the
    * narrow (query_id, neighbor_id) shortlist, so corpus vectors never
    * shuffle — and rescore them with exact cosine.
    */
  private def exactRerank(c: DataFrame, q: DataFrame, shortlist: DataFrame,
      k: Int): DataFrame =
    topKPerQuery(c
      .join(broadcast(shortlist.select("query_id", "neighbor_id")), "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("score", cosine), k)

  /** The result of a search over an empty corpus, with the contract schema. */
  private def emptyResult(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long, Double)].toDF("query_id", "rank", "neighbor_id", "score")
  }

  /** Shared tail: bounded top-k per query (TopKAgg partial-aggregates
    * map-side), exploded to (query_id, rank, neighbor_id, score) rows.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("query_id")
      .agg(GraftFunctions.topK(col("neighbor_id"), col("score"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "entry")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("entry.id").as("neighbor_id"),
        col("entry.score").as("score"))

  /** SIGNED RANDOM PROJECTION dimensionality reduction (Achlioptas 2003
    * / the Johnson–Lindenstrauss ±1 form): map each d-dim embedding to
    * k integer coordinates `proj_j = Σ_i sign(i,j) · round(v_i · 10⁶)`,
    * where `sign(i,j) = +1` iff the first 15 hex digits of
    * `md5("rp:<seed>:<i>:<j>")` are even — a matrix any engine rebuilds
    * from the seed, no stored model. The standard shrink step before
    * ANN indexing or pairwise-similarity passes when d is large (JL:
    * inner products are preserved within ε at k = O(log n / ε²));
    * float inputs are exact in the fixed-point form (24-bit float
    * mantissa × 10⁶ < 2⁵³), so projections replay bit-identically.
    *
    * Plan shape: the sign matrix is d·k literals embedded in ONE
    * codegen projection pass — no shuffle, no join; the output explodes
    * to (id, dim, proj) rows only because downstream consumers (and the
    * oracle compare) want them narrow. At 100 TB this is a map-only
    * scan: corpus in, k integers per row out.
    */
  def randomProject(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, seed: Long = 7L): DataFrame = {
    require(k >= 1 && k <= 256, s"k must be in [1, 256] (got $k)")
    // d = the corpus MAX dimension (deterministic — a first-row probe
    // would depend on scan order); rows with another dim are dropped
    val dims = corpus.agg(max(size(col(vecCol)))).collect()
    require(dims.nonEmpty && !dims(0).isNullAt(0),
      "randomProject: no non-null vectors")
    val d = dims(0).getInt(0)
    require(d >= 1, s"randomProject: empty embedding column $vecCol")
    require(d.toLong * k <= 65536,
      s"randomProject: d*k = ${d.toLong * k} literal signs exceed the codegen " +
        "budget (65536) — reduce k or pre-slice the vectors")
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Long = {
      val hex = md.digest(s"rp:$seed:$i:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
    }
    // one literal ±1 array per output dim, folded over the fixed-point
    // vector with a codegen `aggregate` — the multiply-add stays inside
    // whole-stage codegen, d·k longs per row
    val projCols = (0 until k).map { j =>
      val signs = (0 until d).map(i => sign(i, j)).mkString("array(", "L, ", "L)")
      expr(
        s"""aggregate(zip_with(__vc, $signs, (v, s) -> v * s),
           |  CAST(0 AS bigint), (acc, x) -> acc + x)""".stripMargin).as(s"__p$j")
    }
    corpus
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === d)
      .select(col(idCol).cast("long").as("vec_id"),
        expr(s"transform(`$vecCol`, v -> CAST(round(CAST(v AS double) * 1000000) AS bigint))")
          .as("__vc"))
      .select(col("vec_id") +: projCols: _*)
      .select(col("vec_id"),
        posexplode(array((0 until k).map(j => col(s"__p$j")): _*)))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        col("col").as("proj"))
  }

  /** CLUSTER MEDOID election — the representative member of every
    * embedding cluster (cluster summarization: "show me ONE document
    * per semantic group", the keep-best policy of 38j for vector
    * space): the row minimizing the exact sum of squared L2 distances
    * to its cluster. NO pairwise join — with the e4-quantized integer
    * vectors q the identity Σ_j ‖q_i − q_j‖² = n·‖q_i‖² − 2·q_i·S +
    * Σ_j ‖q_j‖² (S = element-wise cluster sum) turns the medoid into
    * ONE cluster aggregate + one map-side dot per row: O(n·d) per
    * cluster instead of O(n²·d). All integer and ENGINE-EXACT: q =
    * round-half-away(x·10⁴) per component (the cents convention, in
    * DOUBLE on both engines), so scores replay bit-identically; ties →
    * smallest id. Long-safety contract (ALL loud, none prose-only):
    * \|component\| ≤ 1 pre-quantization (unit-normalized embeddings —
    * \|q\| ≤ 10⁴), n ≤ 10⁶ per cluster, n·d ≤ 2·10¹⁰ (dimension-scaled:
    * every long term n·nq / dot / sumn is ≤ n·d·10⁸ ≤ 2·10¹⁸ < 2⁶³),
    * and UNIFORM vector dimension within each cluster (a ragged
    * zip_with would yield a NULL score, which sorts first in the
    * argmin and would silently win the election).
    *
    * Scale shape: one posexplode groupBy for the S vectors (d rows per
    * cluster), one narrow aggregate, one broadcast-sized join back,
    * argmin by window over the cluster — nothing quadratic.
    *
    * Returns (clusterCol, medoid_id, n, score_e8) — one row per
    * cluster; score_e8 is the exact Σ squared distance in (10⁻⁴)²
    * units.
    */
  def clusterMedoid(df: DataFrame, idCol: String, vecCol: String,
      clusterCol: String): DataFrame = {
    // the quantized frame feeds THREE consumers (S vectors, cluster
    // aggregates, the scoring join) — persist it so the upstream vector
    // derivation runs once, release after the bounded per-cluster
    // result checkpoints (the editDistanceJoinIncremental discipline)
    val base = df.select(col(clusterCol).cast("long").as("c"),
        col(idCol).cast("long").as("id"),
        expr(s"transform(`$vecCol`, x -> IF(abs(x) <= 1.0D, " +
          "CAST(round(CAST(x AS double) * 10000.0D) AS bigint), " +
          "assert_true(false, 'clusterMedoid: |component| > 1 — " +
          "unit-normalize the embeddings')))").as("q"))
      .where(col("c").isNotNull && col("id").isNotNull && col("q").isNotNull)
      .withColumn("nq", expr("aggregate(q, 0L, (a, x) -> a + x * x)"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val agg = base.groupBy("c")
      .agg(count(lit(1)).as("n"), sum("nq").as("sumn"),
        min(size(col("q"))).as("__dmin"), max(size(col("q"))).as("__dmax"))
      // both loud guards ride on n (always consumed by the score), so
      // column pruning cannot silence them: (1) uniform dimension per
      // cluster — a ragged zip_with would NULL the score, and NULL
      // sorts first in the argmin, electing a garbage medoid; (2)
      // n·d ≤ 2·10¹⁰ ⟹ every long term (n·nq, dot, sumn ≤ n·d·10⁸)
      // stays ≤ 8·10¹⁸ < 2⁶³ — the dimension-scaled bound, not the
      // doc-prose d ≤ 10⁴ contract
      .withColumn("n", expr(
        "IF(__dmin = __dmax, " +
          "IF(n <= 1000000L AND n * CAST(__dmax AS BIGINT) <= 20000000000L, " +
          "n, assert_true(false, " +
          "'clusterMedoid: n exceeds 10^6 or n*d exceeds 2*10^10 — the " +
          "long-safe score contract; split the cluster upstream')), " +
          "assert_true(false, 'clusterMedoid: ragged vector dimensions " +
          "within a cluster — the squared-distance identity needs one " +
          "d; normalize the embedding column'))").cast("long"))
      .drop("__dmin", "__dmax")
    val svec = base
      .select(col("c"), posexplode(col("q")).as(Seq("i", "qv")))
      .groupBy("c", "i").agg(sum("qv").as("sv"))
      .groupBy("c").agg(expr(
        "transform(array_sort(collect_list(struct(i, sv))), p -> p.sv)")
        .as("s"))
    val result = base.join(svec, "c").join(agg, "c")
      .withColumn("dot", expr(
        "aggregate(zip_with(q, s, (a, b) -> a * b), 0L, (a, x) -> a + x)"))
      .withColumn("score_e8", expr("n * nq - 2L * dot + sumn"))
      .withColumn("__pick", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("c")
          .orderBy(col("score_e8"), col("id"))))
      .where(col("__pick") === 1)
      .select(col("c").as(clusterCol), col("id").as("medoid_id"),
        col("n"), col("score_e8"))
    val out = result.localCheckpoint(eager = true,
      storageLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.unpersist()
    out
  }
}

package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite with SparkTestBase {

  private lazy val emb = wh.loadTable("embeddings")
  private lazy val queries = emb.filter(col("vec_id") < 5)

  /** Reference top-k via plain cross join + window — the obvious-but-
    * unscalable formulation the TopKAgg path must agree with exactly.
    */
  private lazy val reference: Set[(Long, Long, Long)] = {
    val c = emb.select(col("vec_id").cast("long").as("nid"), col("embedding").as("cv"))
    val q = queries.select(col("vec_id").cast("long").as("qid"), col("embedding").as("qv"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))
    c.crossJoin(q).filter(col("nid") =!= col("qid"))
      .withColumn("score", GraftFunctions.cosineSim(col("cv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("qid", "rank", "nid")
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2))).toSet
  }

  test("bruteForceTopK matches the cross-join + window reference exactly") {
    val got = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === reference)
  }

  test("lshTopK reaches usable recall against brute force") {
    val got = Similarity.lshTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, numBits = 6, numTables = 32)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ref = reference.map { case (q, _, n) => (q, n) }
    val recall = ref.intersect(got).size.toDouble / ref.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("lshTopK shuffle-join fallback (broadcastCandidates=false) is result-identical") {
    def run(bcast: Boolean) = Similarity.lshTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, numBits = 6, numTables = 32,
      broadcastCandidates = bcast)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // the large-query-set escape hatch changes the JOIN STRATEGY only —
    // candidates, scores, ranks and tie-breaks must not move
    assert(run(bcast = false) === run(bcast = true))
  }

  test("adaptive probeMargin: an unprunable margin is result-identical on both paths") {
    // cosine sims live in [-1, 1], so margin 2 can never prune a probe —
    // the adaptive path must then equal fixed probing exactly, on the
    // literal-model path AND the broadcast-join fallback
    for (limit <- Seq(64 * 1024, 1)) {
      def run(margin: Double) = Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, numCells = 8, numProbe = 4,
        literalModelLimit = limit, probeMargin = margin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(run(2.0) === run(Double.NaN), s"literalModelLimit=$limit")
    }
  }

  test("adaptive probeMargin prunes probed cells while keeping self-recall") {
    // margin 0.1 at ceiling 6: every query's own vector sits in the
    // query's best cell, which is always probed (margin is relative to
    // the best), so self-neighbors at rank 1 must survive pruning
    val got = Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, numCells = 16, numProbe = 6,
        excludeSelf = false, probeMargin = 0.1)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got === queries.select("vec_id").collect()
      .map(r => { val v = r.getLong(0); (v, v) }).toSet)
  }

  test("knnClassify: ANN searcher at full probe equals the brute-force classifier") {
    val emb2 = emb.select("vec_id", "embedding", "label")
    def classify(searcher: org.apache.spark.sql.DataFrame) =
      Similarity.knnClassify(emb2, "vec_id", "embedding", "label",
          queries, "vec_id", "embedding", k = 7, searcher = searcher)
        .collect().map(_.toSeq).toSet
    val brute = Similarity.knnClassify(emb2, "vec_id", "embedding", "label",
        queries, "vec_id", "embedding", k = 7)
      .collect().map(_.toSeq).toSet
    // full probe ⇒ IVF is exact ⇒ identical votes and winners
    val ivf = Similarity.ivfTopK(emb2, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 7, numCells = 8, numProbe = 8)
    assert(classify(ivf) === brute)
    assert(brute.nonEmpty && brute.forall(_.length == 3))
  }

  test("knnClassify votes break ties toward the smallest label") {
    val spark2 = spark
    import spark2.implicits._
    // 1 query at the origin-ish vector; 4 corpus points, two labels with
    // 2 votes each → the winner must be the SMALLER label
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f), 7), (2L, Seq(0.9f, 0.1f), 7),
      (3L, Seq(0.8f, 0.2f), 3), (4L, Seq(0.7f, 0.3f), 3)
    ).toDF("vec_id", "embedding", "label")
    val q = Seq((100L, Seq(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val got = Similarity.knnClassify(corpus, "vec_id", "embedding", "label",
        q, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === Set((100L, 3, 2L)))
  }

  test("shortlistMargin: unprunable margin is result-identical; tight margin only prunes") {
    val model = Similarity.trainPq(emb, "vec_id", "embedding", m = 16, ksub = 32)
    def rerank(margin: Double) = Similarity.pqTopKExactRerank(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 5, shortlistK = 50, model, shortlistMargin = margin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // ADC scores live in [-1, 1]: margin 4 can never prune
    assert(rerank(4.0) === rerank(Double.NaN))
    // a zero margin keeps only the ADC top-k — results may differ, but
    // stay well-formed (k rows per query) and are a subset of the
    // corpus; this is the measured-and-rejected operating point
    // (r9 shortlist sweep, SURVEY §7.0: natural-corpus parity needs
    // margin >= 0.2)
    val zero = rerank(0.0)
    assert(zero.groupBy(_._1).forall(_._2.size == 5))
    assertThrows[IllegalArgumentException] { rerank(-0.1) }
  }

  test("ivfTopK reaches usable recall and degenerates to exact at full probe") {
    val got = Similarity.ivfTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, numCells = 16, numProbe = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ref = reference.map { case (q, _, n) => (q, n) }
    val recall = ref.intersect(got).size.toDouble / ref.size
    assert(recall >= 0.4, s"recall $recall")
    // probing every cell must recover the exact result
    val full = Similarity.ivfTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, numCells = 16, numProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full === reference)
  }

  test("k-means-trained IVF centroids reach at least sampled-centroid recall") {
    val trained = Similarity.trainCentroidsKMeans(emb, "vec_id", "embedding",
      numCells = 16, iters = 10)
    assert(trained.length === 16)
    def recallOf(cents: Option[Array[Seq[Float]]]) = {
      val got = Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, numCells = 16, numProbe = 6,
        trainedCentroids = cents)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val ref = reference.map { case (q, _, n) => (q, n) }
      ref.intersect(got).size.toDouble / ref.size
    }
    val trainedRecall = recallOf(Some(trained))
    val sampledRecall = recallOf(None)
    assert(trainedRecall >= 0.4, s"trained recall $trainedRecall")
    assert(trainedRecall >= sampledRecall - 0.15,
      s"trained $trainedRecall much worse than sampled $sampledRecall")
  }

  test("lshTopK scores candidates without shuffling the corpus") {
    // The candidate-scoring join must probe the corpus with a BROADCAST of
    // the (narrow, queries-bounded) candidate set: an exchange of corpus
    // vectors on neighbor_id would move the whole corpus at 100 TB. AQE is
    // irrelevant here — the broadcast is explicit in the plan, so we
    // assert it with the broadcast threshold disabled (nothing may rely on
    // size estimates).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Similarity.lshTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, numBits = 6, numTables = 32)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      assert(!plan.contains("hashpartitioning(neighbor_id"),
        "corpus shuffled on neighbor_id for candidate scoring:\n" + plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ivfTopK broadcast-join fallback equals the literal-expression path") {
    def run(limit: Int) = Similarity.ivfTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, numCells = 16, numProbe = 6,
      literalModelLimit = limit)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(1) === run(64 * 1024)) // 1 forces the join path
  }

  test("ivfTopK paths agree on exact cell-score ties (duplicate centroids)") {
    import spark.implicits._
    // duplicated centroids force every assignment/probe decision through
    // an exact score tie — the two paths must still pick identical cells
    val cents: Array[Seq[Float]] = Array(
      Seq(1f, 0f), Seq(1f, 0f), Seq(0f, 1f), Seq(0f, 1f))
    val data = Seq(
      (0L, Seq(1f, 0.1f)), (1L, Seq(0.9f, 0.2f)), (2L, Seq(0.1f, 1f)),
      (3L, Seq(0.2f, 0.9f)), (4L, Seq(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    def run(limit: Int) = Similarity.ivfTopK(
      data, "vec_id", "embedding", data.filter(col("vec_id") < 2), "vec_id", "embedding",
      k = 3, numCells = 4, numProbe = 2, literalModelLimit = limit,
      trainedCentroids = Some(cents))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(1) === run(64 * 1024))
  }

  test("pqTopK reaches usable recall against brute force and is deterministic") {
    val model = Similarity.trainPq(emb, "vec_id", "embedding", m = 16, ksub = 32)
    def run() = Similarity.pqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10, model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val got = run()
    // recall@10 of the true top-5 — the standard over-fetch regime
    // (request 2k PQ candidates, exact-rerank k downstream)
    val found = got.map(r => (r._1, r._3)).toSet
    val ref = reference.map { case (q, _, n) => (q, n) }
    val recall = ref.intersect(found).size.toDouble / ref.size
    assert(recall >= 0.6, s"recall $recall")
    assert(run().toSeq === got.toSeq, "pqTopK must be deterministic")
  }

  test("pq codes are m bytes and ADC scores approximate cosine") {
    val model = Similarity.trainPq(emb, "vec_id", "embedding", m = 16, ksub = 32)
    assert(model.m === 16 && model.dsub === 4 && model.ksub === 32)
    val codes = emb.select(
      GraftFunctions.pqEncode(col("embedding"), model).as("c")).collect()
    assert(codes.forall(_.getAs[Array[Byte]](0).length === 16))
    // ADC score vs exact cosine: mean absolute error small on unit data
    val pairs = Similarity.pqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, model)
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")), "neighbor_id")
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qv")), "query_id")
      .select(col("score"), GraftFunctions.cosineSim(col("nv"), col("qv")).as("exact"))
      .collect().map(r => math.abs(r.getDouble(0) - r.getDouble(1)))
    val mae = pairs.sum / pairs.length
    assert(mae < 0.15, s"ADC mean absolute error $mae")
  }

  test("pqTopK scans codes map-side — corpus never shuffles before the partial agg") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val model = Similarity.trainPq(emb, "vec_id", "embedding", m = 8, ksub = 16)
      val df = Similarity.pqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, model)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      assert(!plan.contains("hashpartitioning(neighbor_id"),
        "corpus shuffled on neighbor_id:\n" + plan)
      // the only exchange is the bounded per-query partial-agg shuffle
      assert(plan.contains("hashpartitioning(query_id"),
        "expected the TopKAgg partial shuffle on query_id:\n" + plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ivfPqTopK scans codes map-side — corpus never shuffles before the partial agg") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val model = Similarity.trainPq(emb, "vec_id", "embedding", m = 8, ksub = 16)
      val df = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, model, numCells = 16, numProbe = 4)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      assert(!plan.contains("hashpartitioning(neighbor_id"),
        "corpus shuffled on neighbor_id:\n" + plan)
      assert(!plan.contains("hashpartitioning(cell"),
        "codes shuffled on cell — probed queries must broadcast:\n" + plan)
      // the only exchange is the bounded per-query partial-agg shuffle
      assert(plan.contains("hashpartitioning(query_id"),
        "expected the TopKAgg partial shuffle on query_id:\n" + plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ivfPqTopK full-probe + full-shortlist rerank recovers brute force exactly") {
    val model = Similarity.trainPq(emb, "vec_id", "embedding", m = 16, ksub = 32)
    val n = emb.count().toInt
    // probe every cell and rerank the whole corpus → the composition
    // degenerates to brute force: ids, ranks and tie-breaks must be
    // IDENTICAL, and every returned score must be exact cosine
    val full = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, model,
      numCells = 16, numProbe = 16, rerankShortlistK = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full === reference)
    // a realistic probe/shortlist keeps exact scores for what it returns
    val quick = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, model,
      numCells = 16, numProbe = 4, rerankShortlistK = 50)
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")), "neighbor_id")
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qv")), "query_id")
      .select(col("score"), GraftFunctions.cosineSim(col("nv"), col("qv")).as("exact"))
      .collect()
    assert(quick.nonEmpty && quick.forall(r => r.getDouble(0) === r.getDouble(1)),
      "rerank scores must be exact cosine")
  }

  test("pqTopKExactRerank with a generous shortlist recovers brute force exactly") {
    val model = Similarity.trainPq(emb, "vec_id", "embedding", m = 16, ksub = 32)
    val n = emb.count().toInt
    // shortlist = whole corpus → the rerank IS brute force (scores exact)
    val full = Similarity.pqTopKExactRerank(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, shortlistK = n, model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full === reference)
    // a realistic shortlist keeps exact scores for whatever it returns
    val quick = Similarity.pqTopKExactRerank(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, shortlistK = 50, model)
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")), "neighbor_id")
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qv")), "query_id")
      .select(col("score"), GraftFunctions.cosineSim(col("nv"), col("qv")).as("exact"))
      .collect()
    assert(quick.forall(r => r.getDouble(0) === r.getDouble(1)),
      "rerank scores must be exact cosine")
  }

  test("scores are descending per query with deterministic tie order") {
    val rows = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank").collect()
    rows.grouped(5).foreach { g =>
      val scores = g.map(_.getDouble(3)).toSeq
      assert(scores === scores.sorted.reverse)
    }
  }

  test("randomProject matches a local md5-sign replay; filters bad rows") {
    import spark.implicits._
    val vecs = Seq(
      (10L, Array(0.5f, -1.25f, 2.0f, 0.125f)),
      (11L, Array(1.0f, 1.0f, -3.5f, 0.0f)),
      (12L, null.asInstanceOf[Array[Float]]), // dropped
      (13L, Array(1.0f, 2.0f))) // dim mismatch vs first row — dropped
      .toDF("vec_id", "embedding")
    val got = Similarity.randomProject(vecs, "vec_id", "embedding",
        k = 3, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def sign(i: Int, j: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"rp:7:$i:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
    }
    val expect = (for {
      (id, v) <- Seq(10L -> Array(0.5f, -1.25f, 2.0f, 0.125f),
        11L -> Array(1.0f, 1.0f, -3.5f, 0.0f))
      j <- 0 until 3
    } yield (id, j.toLong) ->
      v.zipWithIndex.map { case (x, i) =>
        math.round(x.toDouble * 1000000) * sign(i, j) }.sum).toMap
    assert(got === expect)
  }

  test("randomProject preserves planted near-duplicates (JL sanity)") {
    // the corpus is near-orthogonal by construction, so unplanted top-1s
    // are noise no 16-dim sketch could preserve; plant a clone per query
    // (one element zeroed — cosine ≈ 0.98 vs ≈ 0 elsewhere, the recall
    // contracts' construction) and require the clone to be the projected
    // space's exact top-1
    val clones = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, (v, i) -> IF(i = CAST(vec_id - 1000000 AS int), " +
          "CAST(0 AS float), v))").as("embedding"))
    val proj = Similarity.randomProject(
        emb.select("vec_id", "embedding").unionByName(clones),
        "vec_id", "embedding", k = 16)
      .groupBy("vec_id").agg(collect_list(struct(col("dim"), col("proj"))).as("pv"))
      .select(col("vec_id"),
        expr("transform(array_sort(pv, (a, b) -> CASE WHEN a.dim < b.dim THEN -1 " +
          "WHEN a.dim > b.dim THEN 1 ELSE 0 END), p -> CAST(p.proj AS double))").as("v"))
    val hits = Similarity.bruteForceTopK(proj, "vec_id", "v",
        proj.filter(col("vec_id") < 5), "vec_id", "v", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    (0L until 5L).foreach { q =>
      assert(hits(q) === q + 1000000L,
        s"query $q: projected top-1 should be its planted clone")
    }
  }

  test("clusterMedoid: hand-exact scores, ties, singletons, unit contract") {
    import spark.implicits._
    // cluster 1: 0.1 / 0.2 / 0.9 on one axis — the middle point wins;
    // score(b) = 3*4e6 - 2*(2000*12000) + 8.6e7 = 5.0e7 exactly
    // cluster 2: two identical vectors — the smaller id wins at score 0
    // cluster 3: singleton — its own medoid, score 0
    val df = Seq(
      (1L, 10L, Seq(0.1f, 0.0f)), (1L, 11L, Seq(0.2f, 0.0f)),
      (1L, 12L, Seq(0.9f, 0.0f)),
      (2L, 20L, Seq(0.5f, 0.5f)), (2L, 21L, Seq(0.5f, 0.5f)),
      (3L, 30L, Seq(-0.3f, 0.4f)))
      .toDF("c", "id", "v")
    val got = Similarity.clusterMedoid(df, "id", "v", "c")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((11L, 3L, 50000000L)),
      "the middle point minimizes the exact sum of squared distances")
    assert(got(2L) === ((20L, 2L, 0L)), "identical vectors tie to min id")
    assert(got(3L) === ((30L, 1L, 0L)), "a singleton is its own medoid")
    // |component| > 1 violates the unit contract loudly
    val ex = intercept[Exception] {
      Similarity.clusterMedoid(
        Seq((1L, 1L, Seq(1.5f, 0.0f))).toDF("c", "id", "v"),
        "id", "v", "c").collect()
    }
    assert(root(ex).contains("unit-normalize"))
  }

  test("clusterMedoid: ragged dimensions and n*d overflow refuse loudly") {
    import spark.implicits._
    // two members of one cluster with different dimensions: a silent
    // zip_with would NULL the score (NULL sorts first and would win
    // the argmin) — must refuse instead
    val ragged = intercept[Exception] {
      Similarity.clusterMedoid(
        Seq((1L, 1L, Seq(0.5f, 0.5f)), (1L, 2L, Seq(0.5f, 0.5f, 0.5f)))
          .toDF("c", "id", "v"),
        "id", "v", "c").collect()
    }
    assert(root(ragged).contains("ragged vector dimensions"))
    // uniform dimensions across DIFFERENT clusters stay fine
    val ok = Similarity.clusterMedoid(
      Seq((1L, 1L, Seq(0.5f, 0.5f)), (2L, 2L, Seq(0.5f, 0.5f, 0.5f)))
        .toDF("c", "id", "v"),
      "id", "v", "c").collect()
    assert(ok.length === 2)
  }
}

package graft

import java.lang.ref.WeakReference

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AcModel, DsirModel, GraftFunctions => F, PqModel, QualityLrModel}
import graft.operators.{Bpe, Dedup, TextAnalysis}

/** The Column API builds graft's expressions directly: a column resolves
  * in a session where nothing graft was ever registered, registers nothing
  * itself, and holds its model only through the plan that carries it.
  */
class GraftFunctionsSpec extends AnyFunSuite with SparkTestBase {

  /** A session that shares the test context but none of its registered
    * functions: `newSession` starts from the built-in registry. */
  private lazy val fresh: SparkSession = spark.newSession()

  private def registrySize(s: SparkSession): Int =
    s.sessionState.functionRegistry.listFunction().size

  test("every Column API function resolves and runs in a session with nothing registered") {
    val s = fresh
    import s.implicits._
    val before = registrySize(s)
    assert(!s.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_minhash")))
    val docs = Seq(
        (1L, "the cat sat on the mat", "martha", Seq(1.0f, 0.0f, 0.5f, 0.5f), 3.0),
        (2L, "a dog sat on the log", "marhta", Seq(0.0f, 1.0f, 0.5f, 0.5f), 1.0))
      .toDF("id", "text", "name", "vec", "score")
    val bench = docs.filter(col("id") === 1L)
    val bloom = BloomFilter.create(100L)
    bloom.putLong(1L)
    def check(name: String, frame: => DataFrame): Unit = {
      val df = frame
      assert(df.queryExecution.analyzed.resolved, s"$name did not resolve")
      assert(df.collect().nonEmpty, s"$name returned no rows")
    }
    // the functions that need no trained model first, before any trainer runs in `s`
    Seq(
      "wordNgrams" -> F.wordNgrams(col("text"), 2),
      "charNgrams" -> F.charNgrams(col("text"), 3),
      "minhash" -> F.minhash(F.wordNgrams(col("text"), 2), 8, 7L),
      "wordNgramsTf" -> F.wordNgramsTf(col("text"), 2),
      "icwsMinhash" -> F.icwsMinhash(col("text"), 2, 8, 7L),
      "simhash64" -> F.simhash64(F.wordNgrams(col("text"), 2)),
      "simhashTf" -> F.simhashTf(col("text"), 2),
      "cosineSim" -> F.cosineSim(col("vec"), col("vec")),
      "jaroWinkler" -> F.jaroWinkler(col("name"), lit("martha")),
      "rakeTopK" -> F.rakeTopK(col("text"), 2),
      "hyperplaneLshMulti" -> F.hyperplaneLshMulti(col("vec"), 4, 2, 7L),
      "langIdHits" -> F.langIdHits(col("text")),
      "qualityCounts" -> F.qualityCounts(col("text")),
      "normalizeText" -> F.normalizeText(col("text")),
      "soundex" -> F.soundex(col("name")),
      "repetitionStats" -> F.repetitionStats(col("text"), 2),
      "winnow" -> F.winnow(col("text"), 4, 3),
      "winnowPos" -> F.winnowPos(col("text"), 4, 3),
      "extendMatch" -> F.extendMatch(col("text"), col("text"), lit(1), lit(1), 4),
      "dsirBuckets" -> F.dsirBuckets(col("text"), 16),
      "charEntropy" -> F.charEntropy(col("text")),
      "cdcChunks" -> F.cdcChunks(col("text"), 2, 2, 8),
      "ilog2FpCol" -> F.ilog2FpCol(col("id")),
      "bloomContainsLong" -> F.bloomContainsLong(col("id"), bloom)
    ).foreach { case (name, c) => check(name, docs.select(c.as(name))) }
    Seq(
      "topK" -> F.topK(col("id"), col("score"), 1),
      "heavyHitters" -> F.heavyHitters(col("name"), 2)
    ).foreach { case (name, c) => check(name, docs.agg(c.as(name))) }
    val pq = new PqModel(2, 2, 2, Array.tabulate(8)(_.toFloat))
    Seq(
      "bpeCount" -> F.bpeCount(col("text"), Bpe.trainOnTexts(Seq("the cat sat"), 4)),
      "tfidfTopK" -> F.tfidfTopK(col("text"), TextAnalysis.trainDfModel(docs, "text"), 2),
      "gramSetContains" -> F.gramSetContains(col("text"),
        Dedup.trainDecontaminationSet(bench, "text", n = 2)),
      "semanticHits" -> F.semanticHits(col("vec"),
        Dedup.trainSemanticContaminationSet(bench, "vec"), 900),
      "blocklistStats" -> F.blocklistStats(col("text"), AcModel.build(Seq("cat", "dog"))),
      "gramBloomContains" -> F.gramBloomContains(col("text"),
        Dedup.trainDecontaminationBloom(bench, "text", n = 2)),
      "lmFluency" -> F.lmFluency(col("text"), TextAnalysis.trainLmModel(docs, "text")),
      "qualityLrScore" -> F.qualityLrScore(col("text"),
        new QualityLrModel(Array.fill(16)(1L), 16, 64L)),
      "dsirScore" -> F.dsirScore(col("text"), new DsirModel(Array.fill(16)(1L), 16, 1L)),
      "pqAdcScore" ->
        F.pqAdcScore(F.pqEncode(col("vec"), pq), F.pqQueryTable(col("vec"), pq))
    ).foreach { case (name, c) => check(name, docs.select(c.as(name))) }
    // exact answers, so a column bound to the wrong kernel cannot pass
    val got = docs.orderBy("id")
      .select(F.jaroWinkler(col("name"), lit("martha")), F.soundex(col("name")))
      .collect()
    assert(got.map(_.getDouble(0)).toSeq === Seq(1.0, 0.9611111111111111))
    assert(got.map(_.getString(1)).toSeq === Seq("M630", "M630"))
    val top = docs.agg(F.topK(col("id"), col("score"), 1)).collect()(0)
      .getSeq[Row](0).map(_.getLong(0))
    assert(top === Seq(1L))
    assert(registrySize(s) === before, "building or running a column registered a function")
  }

  /** Builds and analyzes a frame over a fresh model, drops it unrun, and
    * returns only a weak reference to the model. */
  private def modelOfADroppedFrame(s: SparkSession): WeakReference[AnyRef] = {
    import s.implicits._
    val model = Bpe.trainOnTexts(Seq("low lower lowest", "new newer newest"), 8)
    val df = Seq("lower newest").toDF("text").select(F.bpeCount(col("text"), model).as("n"))
    assert(df.queryExecution.analyzed.resolved)
    new WeakReference[AnyRef](model)
  }

  test("a model is freed with the last plan that holds it") {
    val ref = modelOfADroppedFrame(fresh)
    val deadline = System.nanoTime() + 30_000_000_000L
    while (ref.get() != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    assert(ref.get() == null, "a dropped frame's model is still reachable")
  }

  test("two models of one kind in one plan each give their own answer") {
    val s = fresh
    import s.implicits._
    val catSet = Dedup.trainDecontaminationSet(Seq("the cat sat").toDF("text"), "text", n = 2)
    val dogSet = Dedup.trainDecontaminationSet(Seq("a dog ran").toDF("text"), "text", n = 2)
    val dfModel = TextAnalysis.trainDfModel(
      Seq("alpha beta gamma", "alpha beta", "alpha").toDF("text"), "text")
    val rows = Seq((1L, "so the cat sat down"), (2L, "then a dog ran off"))
      .toDF("id", "text")
      .select(col("id"),
        F.gramSetContains(col("text"), catSet).as("cat"),
        F.gramSetContains(col("text"), dogSet).as("dog"),
        F.tfidfTopK(lit("alpha beta gamma"), dfModel, 1).as("k1"),
        F.tfidfTopK(lit("alpha beta gamma"), dfModel, 3).as("k3"))
      .orderBy("id").collect()
    def terms(r: Row, i: Int) =
      r.getSeq[Row](i).map(_.getString(0))
    assert(rows.map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSeq ===
      Seq((1L, true, false), (2L, false, true)))
    rows.foreach { r =>
      assert(terms(r, 3) === Seq("gamma"))
      assert(terms(r, 4) === Seq("gamma", "beta", "alpha"))
    }
  }
}

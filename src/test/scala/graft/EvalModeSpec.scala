package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AcModel, DsirModel, GraftFunctions => F, PqModel, QualityLrModel}
import graft.operators.{Bpe, Dedup, TextAnalysis}

/** A graft kernel gives the same rows whether Spark evaluates it
  * interpreted or in generated code: every Column API function runs on one
  * frame under `NO_CODEGEN` (whole-stage codegen off) and under
  * `CODEGEN_ONLY`.
  */
class EvalModeSpec extends AnyFunSuite with SparkTestBase {

  private val modeConfs = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")

  /** `body` with the shared session's codegen confs set, restored after. */
  private def inMode[T](factoryMode: String, wholeStage: Boolean)(body: => T): T = {
    val saved = modeConfs.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("every Column API function gives the same rows interpreted and in generated code") {
    // an RDD-backed frame: the optimizer folds projections over a local
    // relation with the interpreted evaluator in every mode
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType),
      StructField("name", StringType),
      StructField("vec", ArrayType(FloatType, containsNull = false)),
      StructField("score", DoubleType)))
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "the cat sat on the mat", "martha", Seq(1.0f, 0.0f, 0.5f, 0.5f), 3.0),
      Row(2L, "a dog sat on the log", "marhta", Seq(0.0f, 1.0f, 0.5f, 0.5f), 1.0),
      Row(3L, null, null, null, null)), 2), schema)
    val confsBefore = modeConfs.map(spark.conf.getOption)
    val texts = docs.filter(col("id") < 3L)
    val bench = docs.filter(col("id") === 1L)
    val bloom = BloomFilter.create(100L)
    bloom.putLong(1L)
    val pq = new PqModel(2, 2, 2, Array.tabulate(8)(_.toFloat))
    val columns: Seq[(String, Column)] = Seq(
      "wordNgrams" -> F.wordNgrams(col("text"), 2),
      "charNgrams" -> F.charNgrams(col("text"), 3),
      "minhash" -> F.minhash(F.wordNgrams(col("text"), 2), 8, 7L),
      "minhashTokens" -> F.minhash(split(col("text"), " "), 8, 7L),
      "wordNgramsTf" -> F.wordNgramsTf(col("text"), 2),
      "icwsMinhash" -> F.icwsMinhash(col("text"), 2, 8, 7L),
      "simhash64" -> F.simhash64(F.wordNgrams(col("text"), 2)),
      "simhash64Tokens" -> F.simhash64(split(col("text"), " ")),
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
      // anchors whose k-grams differ: the kernel returns null
      "extendMatchNull" -> F.extendMatch(col("text"), lit("zzzz zzzz"), lit(1), lit(1), 4),
      "dsirBuckets" -> F.dsirBuckets(col("text"), 16),
      "charEntropy" -> F.charEntropy(col("text")),
      "cdcChunks" -> F.cdcChunks(col("text"), 2, 2, 8),
      "ilog2FpCol" -> F.ilog2FpCol(col("id")),
      "bloomContainsLong" -> F.bloomContainsLong(col("id"), bloom),
      "bpeCount" -> F.bpeCount(col("text"), Bpe.trainOnTexts(Seq("the cat sat"), 4)),
      "tfidfTopK" -> F.tfidfTopK(col("text"), TextAnalysis.trainDfModel(texts, "text"), 2),
      "gramSetContains" -> F.gramSetContains(col("text"),
        Dedup.trainDecontaminationSet(bench, "text", n = 2)),
      "semanticHits" -> F.semanticHits(col("vec"),
        Dedup.trainSemanticContaminationSet(bench, "vec"), 900),
      "blocklistStats" -> F.blocklistStats(col("text"), AcModel.build(Seq("cat", "dog"))),
      "gramBloomContains" -> F.gramBloomContains(col("text"),
        Dedup.trainDecontaminationBloom(bench, "text", n = 2)),
      "lmFluency" -> F.lmFluency(col("text"), TextAnalysis.trainLmModel(texts, "text")),
      "qualityLrScore" -> F.qualityLrScore(col("text"),
        new QualityLrModel(Array.fill(16)(1L), 16, 64L)),
      "dsirScore" -> F.dsirScore(col("text"), new DsirModel(Array.fill(16)(1L), 16, 1L)),
      "pqEncode" -> F.pqEncode(col("vec"), pq),
      // a 3-dim vector against the 4-dim codebook: null
      "pqEncodeMismatch" -> F.pqEncode(slice(col("vec"), 1, 3), pq),
      "pqQueryTable" -> F.pqQueryTable(col("vec"), pq),
      "pqAdcScore" ->
        F.pqAdcScore(F.pqEncode(col("vec"), pq), F.pqQueryTable(col("vec"), pq)))
    val aggregates: Seq[(String, Column)] = Seq(
      "topK" -> F.topK(col("id"), col("score"), 1),
      "heavyHitters" -> F.heavyHitters(col("name"), 2))
    def rows(): (Seq[Row], Seq[Row]) = {
      val selected: DataFrame = docs.select(col("id") +: columns.map { case (n, c) => c.as(n) }: _*)
      (selected.orderBy("id").collect().toSeq,
        docs.agg(aggregates.head._2.as("topK"), aggregates(1)._2.as("heavyHitters"))
          .collect().toSeq)
    }
    val interpreted = inMode("NO_CODEGEN", wholeStage = false)(rows())
    val generated = inMode("CODEGEN_ONLY", wholeStage = true)(rows())
    // column by column first, so a mismatch names its function
    def value(r: Row, i: Int): Any = r.get(i) match {
      case bytes: Array[Byte] => bytes.toSeq
      case v                  => v
    }
    columns.map(_._1).zipWithIndex.foreach { case (name, i) =>
      assert(interpreted._1.map(value(_, i + 1)) === generated._1.map(value(_, i + 1)), name)
    }
    assert(interpreted === generated)
    // the NULL row is NULL in every kernel column; the two null-returning
    // kernels are NULL on non-null input too
    val nullRow = generated._1.find(_.getLong(0) == 3L).get
    columns.map(_._1).zipWithIndex.foreach { case (name, i) =>
      if (name != "ilog2FpCol" && name != "bloomContainsLong")
        assert(nullRow.isNullAt(i + 1), s"$name on a NULL row")
    }
    val named = columns.map(_._1).zipWithIndex.toMap
    generated._1.filter(_.getLong(0) != 3L).foreach { r =>
      assert(r.isNullAt(named("extendMatchNull") + 1))
      assert(r.isNullAt(named("pqEncodeMismatch") + 1))
      assert(!r.isNullAt(named("extendMatch") + 1))
      assert(!r.isNullAt(named("pqEncode") + 1))
    }
    assert(modeConfs.map(spark.conf.getOption) === confsBefore)
  }
}

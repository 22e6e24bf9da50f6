package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.{lit, nullif}
import org.apache.spark.sql.graft.SparkInternals.{column, expression}

/** graft's native expressions, reachable two ways:
  *  - the Column API below builds each expression case class directly, so
  *    a column needs nothing registered in its session, and a trained model
  *    or sketch it carries lives exactly as long as the plans that hold it;
  *  - SQL text names them through the function registry: `ensure(spark)`
  *    registers [[builders]] in one session, [[graft.GraftExtensions]] in
  *    every session of a deployment. A model or sketch is not a SQL value,
  *    so the functions that take one have no SQL name.
  */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _)  => v
    case Literal(v: Long, _) if v.isValidInt => v.toInt
    case Literal(v: Long, _) =>
      throw new IllegalArgumentException(s"$what must fit in an int, got $v")
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _)  => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(s"$what must be a long literal, got $other")
  }

  /** One builder list shared by session-level registration (`ensure`) and
    * the SparkSessionExtensions route ([[graft.GraftExtensions]]) — the two
    * surfaces cannot drift.
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_word_ngrams" ->
      ((args: Seq[Expression]) => WordNgramHashes(args.head, intLit(args(1), "n"))),
    "graft_char_ngrams" ->
      ((args: Seq[Expression]) => CharNgramHashes(args.head, intLit(args(1), "n"))),
    "graft_word_ngrams_tf" ->
      ((args: Seq[Expression]) => WordNgramHashesTf(args.head, intLit(args(1), "n"))),
    "graft_icws_minhash" ->
      ((args: Seq[Expression]) =>
        IcwsMinHashSig(args.head, intLit(args(1), "n"),
          intLit(args(2), "numPerms"), longLit(args(3), "seed"))),
    "graft_minhash" ->
      ((args: Seq[Expression]) =>
        MinHashSig(args.head, intLit(args(1), "numPerms"), longLit(args(2), "seed"))),
    "graft_simhash64" ->
      ((args: Seq[Expression]) => SimHash64(args.head)),
    "graft_simhash_tf" ->
      ((args: Seq[Expression]) => SimHashTf(args.head, intLit(args(1), "n"))),
    "graft_cosine" ->
      ((args: Seq[Expression]) => CosineSim(args.head, args(1))),
    "graft_jaro_winkler" ->
      ((args: Seq[Expression]) => JaroWinkler(args.head, args(1))),
    "graft_rake_topk" ->
      ((args: Seq[Expression]) =>
        RakeKeywords(args.head, intLit(args(1), "k"),
          LangIdHits.defaultStopwords("en"))),
    "graft_hyperplane_lsh_multi" ->
      ((args: Seq[Expression]) =>
        HyperplaneLshMulti(args.head, intLit(args(1), "numBits"),
          intLit(args(2), "numTables"), longLit(args(3), "seed"))),
    "graft_langid_hits" ->
      ((args: Seq[Expression]) => LangIdHits(args.head, LangIdHits.defaultLangs)),
    "graft_quality_counts" ->
      ((args: Seq[Expression]) =>
        QualityCounts(args.head, LangIdHits.defaultStopwords("en"))),
    "graft_normalize" ->
      ((args: Seq[Expression]) => NormalizeText(args.head)),
    "graft_soundex" ->
      ((args: Seq[Expression]) => SoundexCode(args.head)),
    "graft_repetition_stats" ->
      ((args: Seq[Expression]) => RepetitionStats(args.head, intLit(args(1), "n"))),
    "graft_winnow" ->
      ((args: Seq[Expression]) =>
        WinnowFingerprint(args.head, intLit(args(1), "k"), intLit(args(2), "w"))),
    "graft_winnow_pos" ->
      ((args: Seq[Expression]) =>
        WinnowPositions(args.head, intLit(args(1), "k"), intLit(args(2), "w"))),
    "graft_extend_match" ->
      ((args: Seq[Expression]) =>
        ExtendMatch(args.head, args(1), args(2), args(3), intLit(args(4), "k"))),
    "graft_pq_adc_score" ->
      ((args: Seq[Expression]) => PqAdcScore(args.head, args(1))),
    "graft_topk" ->
      ((args: Seq[Expression]) =>
        TopKAgg(args.head, args(1), intLit(args(2), "k")).toAggregateExpression()),
    "graft_heavy_hitters" ->
      ((args: Seq[Expression]) =>
        MisraGriesAgg(args.head, intLit(args(1), "k")).toAggregateExpression())
  )

  /** Registers [[builders]] in `spark`'s function registry, for SQL text. */
  def ensure(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  // Column API ------------------------------------------------------------

  def wordNgrams(text: Column, n: Int): Column =
    column(WordNgramHashes(expression(text), n))

  def charNgrams(text: Column, n: Int): Column =
    column(CharNgramHashes(expression(text), n))

  def minhash(tokens: Column, numPerms: Int, seed: Long): Column =
    column(MinHashSig(expression(tokens), numPerms, seed))

  /** Occurrence-indexed gram hashes: set ops on these = TF-weighted ops. */
  def wordNgramsTf(text: Column, n: Int): Column =
    column(WordNgramHashesTf(expression(text), n))

  /** ICWS weighted-MinHash signature of raw text (Ioffe, ICDM 2010). */
  def icwsMinhash(text: Column, n: Int, numPerms: Int, seed: Long): Column =
    column(IcwsMinHashSig(expression(text), n, numPerms, seed))

  def simhash64(tokens: Column): Column =
    column(SimHash64(expression(tokens)))

  /** TF-weighted simhash of raw text (word n-grams, occurrences vote). */
  def simhashTf(text: Column, n: Int): Column =
    column(SimHashTf(expression(text), n))

  def cosineSim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  /** Jaro-Winkler similarity, byte-exact with DuckDB's builtin. */
  def jaroWinkler(a: Column, b: Column): Column =
    column(JaroWinkler(expression(a), expression(b)))

  /** RAKE top-k keyword phrases (en stopwords), sorted. */
  def rakeTopK(text: Column, k: Int): Column =
    column(RakeKeywords(expression(text), k, LangIdHits.defaultStopwords("en")))

  def hyperplaneLshMulti(vec: Column, numBits: Int, numTables: Int, seed: Long): Column =
    column(HyperplaneLshMulti(expression(vec), numBits, numTables, seed))

  /** [h_en, h_de, h_fr, h_es, h_zh] stopword/CJK hit counts, one scan. */
  def langIdHits(text: Column): Column =
    column(LangIdHits(expression(text), LangIdHits.defaultLangs))

  /** [n_chars, n_tokens, stop_hits, punct_hits], one scan. */
  def qualityCounts(text: Column): Column =
    column(QualityCounts(expression(text), LangIdHits.defaultStopwords("en")))

  /** NFC + lowercase + whitespace-collapse canonical text, one scan. */
  def normalizeText(text: Column): Column =
    column(NormalizeText(expression(text)))

  /** American Soundex phonetic code; NULL when no ASCII letters. */
  def soundex(text: Column): Column =
    nullif(column(SoundexCode(expression(text))), lit(""))

  /** struct(n_words, n_distinct_words, n_grams, n_distinct_grams,
    * top_word, top_word_cnt, top_ngram, top_ngram_cnt), one scan.
    */
  def repetitionStats(text: Column, n: Int): Column =
    column(RepetitionStats(expression(text), n))

  def winnow(text: Column, k: Int, w: Int): Column =
    column(WinnowFingerprint(expression(text), k, w))

  /** selected winnowing minima with 1-based positions:
    * array<struct<pos:int, h:bigint>>.
    */
  def winnowPos(text: Column, k: Int, w: Int): Column =
    column(WinnowPositions(expression(text), k, w))

  /** maximal exact shared span around a candidate anchor:
    * struct(start_a, start_b, len), null if the anchor k-grams differ.
    */
  def extendMatch(ta: Column, tb: Column, pa: Column, pb: Column, k: Int): Column =
    column(ExtendMatch(expression(ta), expression(tb), expression(pa), expression(pb), k))

  /** top-k (id, score) pairs per group, best first. */
  def topK(id: Column, score: Column, k: Int): Column =
    column(TopKAgg(expression(id), expression(score), k).toAggregateExpression())

  def heavyHitters(item: Column, k: Int): Column =
    column(MisraGriesAgg(expression(item), k).toAggregateExpression())

  // Model- and sketch-parameterized functions. The model rides in the
  // expression (a codegen reference object), so these have no SQL name.

  /** BPE token count under a trained [[BpeModel]]. */
  def bpeCount(text: Column, model: BpeModel): Column =
    column(BpeCount(expression(text), model))

  /** TF-IDF top-k terms under a trained [[DfModel]]. */
  def tfidfTopK(text: Column, model: DfModel, k: Int): Column =
    column(TfidfTopK(expression(text), model, k))

  /** Gram-set membership under a trained [[GramSetModel]]; the shingling
    * parameters live in the model.
    */
  def gramSetContains(text: Column, model: GramSetModel): Column =
    column(GramSetContains(expression(text), model))

  /** Semantic (embedding-cosine) hit count under a trained [[VecSetModel]]
    * at threshold `tE3`/1000.
    */
  def semanticHits(vec: Column, model: VecSetModel, tE3: Int): Column =
    column(SemanticHitCount(expression(vec), model, tE3))

  /** Blocklist statistics `[total_hits, distinct, first_pos, first_pat]`
    * under a trained Aho-Corasick [[AcModel]].
    */
  def blocklistStats(text: Column, model: AcModel): Column =
    column(BlocklistStats(expression(text), model))

  /** Bloom gram membership under a trained [[GramBloomModel]]. */
  def gramBloomContains(text: Column, model: GramBloomModel): Column =
    column(GramBloomContains(expression(text), model))

  /** Long-key Bloom membership probe. The filter is usually a per-call
    * sketch (one per [[graft.operators.Relational.bloomPrefilteredJoin]]);
    * it is freed with the last plan that holds it.
    */
  def bloomContainsLong(keyHash: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    column(BloomContainsLong(expression(keyHash), bloom))

  /** Bigram-LM fluency under a trained [[LmModel]]. */
  def lmFluency(text: Column, model: LmModel): Column =
    column(LmFluencyScore(expression(text), model))

  /** Quality-classifier margin under a trained [[QualityLrModel]]. */
  def qualityLrScore(text: Column, model: QualityLrModel): Column =
    column(QualityLrScoreExpr(expression(text), model))

  /** All hashed DSIR gram buckets (multiset) of a text column, over a
    * bucket space of size `d`.
    */
  def dsirBuckets(text: Column, d: Int): Column =
    column(DsirBucketsExpr(expression(text), d))

  /** DSIR importance sum under a trained [[DsirModel]]. */
  def dsirScore(text: Column, model: DsirModel): Column =
    column(DsirScoreExpr(expression(text), model))

  /** Character-distribution entropy of a string column
    * ([[Kernels.charEntropy]]).
    */
  def charEntropy(text: Column): Column =
    column(CharEntropyExpr(expression(text)))

  /** Content-defined chunks of a string column ([[Kernels.cdcChunks]]). */
  def cdcChunks(text: Column, maskBits: Int, minLen: Int, maxLen: Int): Column =
    column(CdcChunksExpr(expression(text), maskBits, minLen, maxLen))

  /** Fixed-point log2 of a positive bigint column ([[Kernels.ilog2Fp]]
    * as a codegen scalar).
    */
  def ilog2FpCol(n: Column): Column =
    column(Ilog2Fp(expression(n)))

  /** PQ byte codes of a float-vector column under a trained [[PqModel]]. */
  def pqEncode(vec: Column, model: PqModel): Column =
    column(PqEncode(expression(vec), model))

  /** Per-query ADC lookup table under a trained [[PqModel]]. */
  def pqQueryTable(vec: Column, model: PqModel): Column =
    column(PqQueryTable(expression(vec), model))

  /** ADC score of (codes, query table). */
  def pqAdcScore(codes: Column, table: Column): Column =
    column(PqAdcScore(expression(codes), expression(table)))
}

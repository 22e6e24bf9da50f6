package graft.functions

import scala.jdk.CollectionConverters._
import scala.reflect.{classTag, ClassTag}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.{lit, nullif}
import org.apache.spark.sql.graft.SparkInternals.{column, expression}
import org.apache.spark.sql.types._

/** graft's native functions. Each kernel is defined once, below, as one
  * [[KernelCall]]: its SQL name, its [[Kernels]] method, its result type
  * and its constant arguments. It is reachable two ways:
  *  - the Column API puts the expression into the plan directly, so a
  *    column needs nothing registered in its session, and a trained model
  *    or sketch it carries lives exactly as long as the plans that hold it;
  *  - SQL text names the model-free functions through the function
  *    registry: `ensure(spark)` registers [[builders]] in one session,
  *    [[graft.GraftExtensions]] in every session of a deployment. Each
  *    builder calls the Column API function. A model or sketch is not a
  *    SQL value, so the functions that take one have no SQL name.
  */
object GraftFunctions {

  /** `Kernels.<method>(args…, consts…)` as a column named `name`. */
  private def kernel(name: String, method: String, dataType: DataType,
      nullableResult: Boolean = false)(args: Column*)(consts: Literal*): Column =
    column(KernelCall(name, method, dataType, args.map(expression), consts, nullableResult))

  private def int(v: Int): Literal = Literal(v, IntegerType)
  private def long(v: Long): Literal = Literal(v, LongType)

  /** A model or sketch argument, typed by its declared class `T`. Typed by
    * its runtime class instead (`Literal.fromObject(v)`), a Bloom sketch
    * names Spark's package-private `BloomFilterImplV2`, which generated
    * code cannot access.
    */
  private def obj[T: ClassTag](v: T): Literal =
    Literal.fromObject(v, ObjectType(classTag[T].runtimeClass))

  private def arrayOf(t: DataType): DataType = ArrayType(t, containsNull = false)
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private val longs = arrayOf(LongType)
  private val ints = arrayOf(IntegerType)

  // the default stopword tables, built once so equal columns compare equal
  private lazy val langLookup = LangLookup.build(LangIdHits.defaultLangs)
  private lazy val enStopLookup = LangLookup.build(Seq(LangIdHits.defaultStopwords("en")))
  private lazy val enStopSet = new java.util.HashSet[String](
    LangIdHits.defaultStopwords("en").asJava)

  /** The arguments of a SQL call: columns, or int / bigint literals. */
  private final class SqlArgs(es: Seq[Expression]) {
    def apply(i: Int): Column = column(es(i))
    def int(i: Int, what: String): Int = es(i) match {
      case Literal(v: Int, _)  => v
      case Literal(v: Long, _) if v.isValidInt => v.toInt
      case Literal(v: Long, _) =>
        throw new IllegalArgumentException(s"$what must fit in an int, got $v")
      case other =>
        throw new IllegalArgumentException(s"$what must be an int literal, got $other")
    }
    def long(i: Int, what: String): Long = es(i) match {
      case Literal(v: Int, _)  => v.toLong
      case Literal(v: Long, _) => v
      case other =>
        throw new IllegalArgumentException(s"$what must be a long literal, got $other")
    }
  }

  /** One builder list shared by session-level registration (`ensure`) and
    * the SparkSessionExtensions route ([[graft.GraftExtensions]]) — the two
    * surfaces cannot drift.
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = {
    def sql(name: String)(f: SqlArgs => Column): (String, Seq[Expression] => Expression) =
      name -> ((es: Seq[Expression]) => expression(f(new SqlArgs(es))))
    Seq(
      sql("graft_word_ngrams")(a => wordNgrams(a(0), a.int(1, "n"))),
      sql("graft_char_ngrams")(a => charNgrams(a(0), a.int(1, "n"))),
      sql("graft_word_ngrams_tf")(a => wordNgramsTf(a(0), a.int(1, "n"))),
      sql("graft_icws_minhash")(a => icwsMinhash(a(0), a.int(1, "n"),
        a.int(2, "numPerms"), a.long(3, "seed"))),
      sql("graft_minhash")(a => minhash(a(0), a.int(1, "numPerms"), a.long(2, "seed"))),
      sql("graft_simhash64")(a => simhash64(a(0))),
      sql("graft_simhash_tf")(a => simhashTf(a(0), a.int(1, "n"))),
      sql("graft_cosine")(a => cosineSim(a(0), a(1))),
      sql("graft_jaro_winkler")(a => jaroWinkler(a(0), a(1))),
      sql("graft_rake_topk")(a => rakeTopK(a(0), a.int(1, "k"))),
      sql("graft_hyperplane_lsh_multi")(a => hyperplaneLshMulti(a(0),
        a.int(1, "numBits"), a.int(2, "numTables"), a.long(3, "seed"))),
      sql("graft_langid_hits")(a => langIdHits(a(0))),
      sql("graft_quality_counts")(a => qualityCounts(a(0))),
      sql("graft_normalize")(a => normalizeText(a(0))),
      sql("graft_soundex")(a => soundexCode(a(0))),
      sql("graft_repetition_stats")(a => repetitionStats(a(0), a.int(1, "n"))),
      sql("graft_winnow")(a => winnow(a(0), a.int(1, "k"), a.int(2, "w"))),
      sql("graft_winnow_pos")(a => winnowPos(a(0), a.int(1, "k"), a.int(2, "w"))),
      sql("graft_extend_match")(a => extendMatch(a(0), a(1), a(2), a(3), a.int(4, "k"))),
      sql("graft_pq_adc_score")(a => pqAdcScore(a(0), a(1))),
      sql("graft_topk")(a => topK(a(0), a(1), a.int(2, "k"))),
      sql("graft_heavy_hitters")(a => heavyHitters(a(0), a.int(1, "k"))))
  }

  /** Registers [[builders]] in `spark`'s function registry, for SQL text. */
  def ensure(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  // Column API ------------------------------------------------------------

  /** Distinct hashed word n-grams → array<bigint>. */
  def wordNgrams(text: Column, n: Int): Column =
    kernel("graft_word_ngrams", "wordNgramHashes", longs)(text)(int(n))

  /** Distinct hashed char n-grams → array<bigint>. */
  def charNgrams(text: Column, n: Int): Column =
    kernel("graft_char_ngrams", "charNgramHashes", longs)(text)(int(n))

  /** minhash signature of array<string> tokens or array<bigint> pre-hashed
    * grams → array<bigint>.
    */
  def minhash(tokens: Column, numPerms: Int, seed: Long): Column =
    kernel("graft_minhash", "minhash", longs)(tokens)(int(numPerms), long(seed))

  /** Occurrence-indexed gram hashes: set ops on these = TF-weighted ops
    * ([[Kernels.wordNgramHashesTf]]).
    */
  def wordNgramsTf(text: Column, n: Int): Column =
    kernel("graft_word_ngrams_tf", "wordNgramHashesTf", longs)(text)(int(n))

  /** ICWS weighted-MinHash signature of raw text (Ioffe, ICDM 2010). */
  def icwsMinhash(text: Column, n: Int, numPerms: Int, seed: Long): Column =
    kernel("graft_icws_minhash", "icwsMinhash", longs)(text)(
      int(n), int(numPerms), long(seed))

  /** 64-bit simhash of array<string> tokens or array<bigint> grams. */
  def simhash64(tokens: Column): Column =
    kernel("graft_simhash64", "simhash64", LongType)(tokens)()

  /** TF-weighted simhash of raw text (word n-grams, occurrences vote). */
  def simhashTf(text: Column, n: Int): Column =
    kernel("graft_simhash_tf", "simhashTf", LongType)(text)(int(n))

  /** cosine(array<float>, array<float>) → double. */
  def cosineSim(a: Column, b: Column): Column =
    kernel("graft_cosine", "cosine", DoubleType)(a, b)()

  /** Jaro-Winkler similarity, byte-exact with DuckDB's builtin. */
  def jaroWinkler(a: Column, b: Column): Column =
    kernel("graft_jaro_winkler", "jaroWinkler", DoubleType)(a, b)()

  /** RAKE top-k keyword phrases (en stopwords), sorted by (score desc,
    * phrase asc).
    */
  def rakeTopK(text: Column, k: Int): Column = {
    require(k >= 1, s"rake: k must be >= 1 (got $k)")
    kernel("graft_rake_topk", "rakeTopK",
      arrayOf(struct("phrase" -> StringType, "score_ppm" -> LongType)))(text)(
      int(k), obj(enStopSet))
  }

  /** Per-table LSH bucket ids of array<float> → array<bigint> (numTables);
    * one table is numTables = 1.
    */
  def hyperplaneLshMulti(vec: Column, numBits: Int, numTables: Int, seed: Long): Column =
    kernel("graft_hyperplane_lsh_multi", "hyperplaneMulti", longs)(vec)(
      int(numBits), int(numTables), long(seed))

  /** [h_en, h_de, h_fr, h_es, h_zh] stopword/CJK hit counts, one scan. */
  def langIdHits(text: Column): Column =
    kernel("graft_langid_hits", "langIdHits", ints)(text)(obj(langLookup))

  /** [n_chars, n_tokens, stop_hits, punct_hits], one scan. */
  def qualityCounts(text: Column): Column =
    kernel("graft_quality_counts", "qualityCounts", ints)(text)(obj(enStopLookup))

  /** NFC + lowercase + whitespace-collapse canonical text, one scan. */
  def normalizeText(text: Column): Column =
    kernel("graft_normalize", "normalizeText", StringType)(text)()

  /** American Soundex phonetic code; NULL when no ASCII letters. */
  def soundex(text: Column): Column = nullif(soundexCode(text), lit(""))

  /** The Soundex kernel itself: "" when no ASCII letters (SQL's form). */
  private def soundexCode(text: Column): Column =
    kernel("graft_soundex", "soundex", StringType)(text)()

  /** struct(n_words, n_distinct_words, n_grams, n_distinct_grams,
    * top_word, top_word_cnt, top_ngram, top_ngram_cnt), one scan.
    */
  def repetitionStats(text: Column, n: Int): Column =
    kernel("graft_repetition_stats", "repetitionStats", struct(
      "n_words" -> LongType, "n_distinct_words" -> LongType,
      "n_grams" -> LongType, "n_distinct_grams" -> LongType,
      "top_word" -> StringType, "top_word_cnt" -> LongType,
      "top_ngram" -> StringType, "top_ngram_cnt" -> LongType))(text)(int(n))

  /** Winnowing fingerprint → array<bigint> (sorted). */
  def winnow(text: Column, k: Int, w: Int): Column =
    kernel("graft_winnow", "winnow", longs)(text)(int(k), int(w))

  /** selected winnowing minima with 1-based positions:
    * array<struct<pos:int, h:bigint>>.
    */
  def winnowPos(text: Column, k: Int, w: Int): Column =
    kernel("graft_winnow_pos", "winnowPos",
      arrayOf(struct("pos" -> IntegerType, "h" -> LongType)))(text)(int(k), int(w))

  /** maximal exact shared span around a candidate anchor:
    * struct(start_a, start_b, len), null if the anchor k-grams differ.
    */
  def extendMatch(ta: Column, tb: Column, pa: Column, pb: Column, k: Int): Column =
    kernel("graft_extend_match", "extendMatch", struct("start_a" -> IntegerType,
      "start_b" -> IntegerType, "len" -> IntegerType), nullableResult = true)(
      ta, tb, pa, pb)(int(k))

  /** top-k (id, score) pairs per group, best first. */
  def topK(id: Column, score: Column, k: Int): Column =
    column(TopKAgg(expression(id), expression(score), k).toAggregateExpression())

  def heavyHitters(item: Column, k: Int): Column =
    column(MisraGriesAgg(expression(item), k).toAggregateExpression())

  // Model- and sketch-parameterized functions. The model rides in the
  // expression (a codegen reference object), so these have no SQL name.

  /** BPE token count under a trained [[BpeModel]]. */
  def bpeCount(text: Column, model: BpeModel): Column =
    kernel("graft_bpe_count", "bpeTokenCount", IntegerType)(text)(obj(model))

  /** TF-IDF top-k terms under a trained [[DfModel]]:
    * array<struct<term, tf, df, score>>, best first.
    */
  def tfidfTopK(text: Column, model: DfModel, k: Int): Column =
    kernel("graft_tfidf_topk", "tfidfTopK", arrayOf(struct("term" -> StringType,
      "tf" -> LongType, "df" -> LongType, "score" -> DoubleType)))(text)(obj(model), int(k))

  /** Gram-set membership under a trained [[GramSetModel]]; the shingling
    * parameters live in the model.
    */
  def gramSetContains(text: Column, model: GramSetModel): Column =
    kernel("graft_gram_set_contains", "anyGramIn", BooleanType)(text)(
      obj[GramProbe](model))

  /** Semantic (embedding-cosine) hit count under a trained [[VecSetModel]]
    * at threshold `tE3`/1000.
    */
  def semanticHits(vec: Column, model: VecSetModel, tE3: Int): Column =
    kernel("graft_semantic_hits", "semanticHits", IntegerType)(vec)(obj(model), int(tE3))

  /** Blocklist statistics `[total_hits, distinct, first_pos, first_pat]`
    * under a trained Aho-Corasick [[AcModel]].
    */
  def blocklistStats(text: Column, model: AcModel): Column =
    kernel("graft_blocklist_stats", "blocklistStats", longs)(text)(obj(model))

  /** Bloom gram membership under a trained [[GramBloomModel]]. */
  def gramBloomContains(text: Column, model: GramBloomModel): Column =
    kernel("graft_gram_bloom_contains", "anyGramIn", BooleanType)(text)(
      obj[GramProbe](model))

  /** Long-key Bloom membership probe. The filter is usually a per-call
    * sketch (one per [[graft.operators.Relational.bloomPrefilteredJoin]]);
    * it is freed with the last plan that holds it.
    */
  def bloomContainsLong(keyHash: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    kernel("graft_bloom_contains_long", "bloomContainsLong", BooleanType)(keyHash)(
      obj(bloom))

  /** Bigram-LM fluency under a trained [[LmModel]]:
    * struct(n_pairs, known_pairs, fluency).
    */
  def lmFluency(text: Column, model: LmModel): Column =
    kernel("graft_lm_fluency", "lmFluency", struct("n_pairs" -> LongType,
      "known_pairs" -> LongType, "fluency" -> DoubleType))(text)(obj(model))

  /** Quality-classifier margin under a trained [[QualityLrModel]]:
    * struct(n_feat, margin).
    */
  def qualityLrScore(text: Column, model: QualityLrModel): Column =
    kernel("graft_quality_lr_score", "qualityLrScore",
      struct("n_feat" -> LongType, "margin" -> LongType))(text)(obj(model))

  /** All hashed DSIR gram buckets (multiset) of a text column, over a
    * bucket space of size `d`.
    */
  def dsirBuckets(text: Column, d: Int): Column =
    kernel("graft_dsir_buckets", "dsirBucketArray", ints)(text)(int(d))

  /** DSIR importance sum under a trained [[DsirModel]]:
    * struct(n_grams, w_sum).
    */
  def dsirScore(text: Column, model: DsirModel): Column =
    kernel("graft_dsir_score", "dsirScore",
      struct("n_grams" -> LongType, "w_sum" -> LongType))(text)(obj(model))

  /** Character-distribution entropy of a string column,
    * struct(n_chars, ent_num) in 2^-20 fixed point ([[Kernels.charEntropy]]).
    */
  def charEntropy(text: Column): Column =
    kernel("graft_char_entropy", "charEntropy",
      struct("n_chars" -> LongType, "ent_num" -> LongType))(text)()

  /** Content-defined chunks of a string column,
    * array<struct(start, len, chunk_md5)> ([[Kernels.cdcChunks]]).
    */
  def cdcChunks(text: Column, maskBits: Int, minLen: Int, maxLen: Int): Column =
    kernel("graft_cdc_chunks", "cdcChunks", arrayOf(struct("start" -> LongType,
      "len" -> LongType, "chunk_md5" -> StringType)))(text)(
      int(maskBits), int(minLen), int(maxLen))

  /** Fixed-point log2 of a positive bigint column ([[Kernels.ilog2Fp]]). */
  def ilog2FpCol(n: Column): Column =
    kernel("graft_ilog2_fp", "ilog2Fp", LongType)(n)()

  /** PQ byte codes of a float-vector column under a trained [[PqModel]];
    * null on a dimension mismatch.
    */
  def pqEncode(vec: Column, model: PqModel): Column =
    kernel("graft_pq_encode", "pqEncode", BinaryType, nullableResult = true)(vec)(
      obj(model))

  /** Per-query ADC lookup table under a trained [[PqModel]]; null on a
    * dimension mismatch.
    */
  def pqQueryTable(vec: Column, model: PqModel): Column =
    kernel("graft_pq_query_table", "pqQueryTable", arrayOf(DoubleType),
      nullableResult = true)(vec)(obj(model))

  /** ADC score of (codes, query table). */
  def pqAdcScore(codes: Column, table: Column): Column =
    kernel("graft_pq_adc_score", "pqAdcScore", DoubleType)(codes, table)()
}

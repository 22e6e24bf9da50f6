package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions wrapping [[Kernels]]. Each emits a single
  * static call in codegen so the surrounding plan stays in whole-stage
  * codegen (no UDF serialization / boxing on the hot path).
  */

/** Distinct hashed word n-grams of a string column → array<bigint>. */
case class WordNgramHashes(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.wordNgramHashes(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.wordNgramHashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordNgramHashes =
    copy(child = newChild)
  override def prettyName: String = "graft_word_ngrams"
}

/** Distinct hashed char n-grams of a string column → array<bigint>. */
case class CharNgramHashes(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.charNgramHashes(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.charNgramHashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): CharNgramHashes =
    copy(child = newChild)
  override def prettyName: String = "graft_char_ngrams"
}

/** Occurrence-indexed hashed word n-grams of a string column →
  * array<bigint>: set jaccard over the output equals TF-weighted jaccard
  * exactly. See [[Kernels.wordNgramHashesTf]].
  */
case class WordNgramHashesTf(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.wordNgramHashesTf(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.wordNgramHashesTf($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordNgramHashesTf =
    copy(child = newChild)
  override def prettyName: String = "graft_word_ngrams_tf"
}

/** ICWS weighted-MinHash signature of a string column (TF-weighted word
  * n-grams, Ioffe ICDM 2010) → array<bigint>; slot-agreement fraction is an
  * unbiased weighted-jaccard estimator. See [[Kernels.icwsMinhash]].
  */
case class IcwsMinHashSig(child: Expression, n: Int, numPerms: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.icwsMinhash(input.asInstanceOf[UTF8String], n, numPerms, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Kernels.icwsMinhash($c, $n, $numPerms, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): IcwsMinHashSig =
    copy(child = newChild)
  override def prettyName: String = "graft_icws_minhash"
}

/** minhash signature of array<string> tokens OR array<bigint> pre-hashed
  * grams → array<bigint>.
  */
case class MinHashSig(child: Expression, numPerms: Int, seed: Long)
    extends UnaryExpression {
  private def longInput: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _                      => false
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    if (longInput) Kernels.minhashLongs(input.asInstanceOf[ArrayData], numPerms, seed)
    else Kernels.minhash(input.asInstanceOf[ArrayData], numPerms, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (longInput) "minhashLongs" else "minhash"
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Kernels.$fn($c, $numPerms, ${seed}L)")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash"
}

/** 64-bit simhash of array<string> tokens OR array<bigint> grams → bigint. */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  private def longInput: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _                      => false
  }
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    if (longInput) Kernels.simhash64Longs(input.asInstanceOf[ArrayData])
    else Kernels.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (longInput) "simhash64Longs" else "simhash64"
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.$fn($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash64"
}

/** TF-weighted 64-bit simhash of a string column (word n-grams, every
  * occurrence votes) → bigint. See [[Kernels.simhashTf]].
  */
case class SimHashTf(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Kernels.simhashTf(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.simhashTf($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): SimHashTf =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash_tf"
}

/** cosine(array<float>, array<float>) → double. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    Kernels.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.cosine($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_cosine"
}

/** RAKE top-k keyword phrases of a string column → array<struct<phrase,
  * score_ppm>> sorted by (score desc, phrase asc) — one text scan, see
  * [[Kernels.rakeTopK]] for the replayable token-stream contract.
  */
case class RakeKeywords(child: Expression, k: Int, stopwords: Seq[String])
    extends UnaryExpression {
  require(k >= 1, s"rake: k must be >= 1 (got $k)")
  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(w => s.add(w))
    s
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("phrase", StringType, nullable = false),
    StructField("score_ppm", LongType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.rakeTopK(input.asInstanceOf[UTF8String], k, stopSet)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rakeStop", stopSet,
      "java.util.HashSet<String>")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.rakeTopK($c, $k, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): RakeKeywords =
    copy(child = newChild)
  override def prettyName: String = "graft_rake_topk"
}

/** Jaro-Winkler similarity of two string columns → double, byte-level,
  * operation-order-identical to DuckDB's builtin — see
  * [[Kernels.jaroWinkler]] for the validated contract.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    Kernels.jaroWinkler(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.jaroWinkler($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_jaro_winkler"
}

/** Per-table LSH bucket ids of array<float> → array<bigint> (numTables).
  * The single-table case is numTables = 1 — there is deliberately no
  * separate scalar variant.
  */
case class HyperplaneLshMulti(child: Expression, numBits: Int, numTables: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.hyperplaneMulti(input.asInstanceOf[ArrayData], numBits, numTables, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Kernels.hyperplaneMulti($c, $numBits, $numTables, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): HyperplaneLshMulti =
    copy(child = newChild)
  override def prettyName: String = "graft_hyperplane_lsh_multi"
}

/** Per-language stopword hits + CJK char count of a string column in ONE
  * text scan → array<int> of length langs.size + 1 (last slot = CJK).
  * Counts are identical to running `\b(w1|w2|…)\b` per language over
  * lower(text) plus a `[一-鿿]` pass — see [[Kernels.langIdHits]].
  */
case class LangIdHits(child: Expression, langs: Seq[Seq[String]])
    extends UnaryExpression {
  @transient private lazy val lookup = LangLookup.build(langs)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.langIdHits(input.asInstanceOf[UTF8String], lookup)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langLookup", lookup, classOf[LangLookup].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.langIdHits($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): LangIdHits =
    copy(child = newChild)
  override def prettyName: String = "graft_langid_hits"
}

object LangIdHits {
  /** Canonical marker-stopword lists (public knowledge, ten high-frequency
    * function words per language), in the fixed output order en/de/fr/es;
    * the kernel's trailing slot is the CJK (zh) count.
    */
  val defaultOrder: Seq[String] = Seq("en", "de", "fr", "es")
  val defaultStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ich", "ein", "sie", "mit"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "los", "las", "es", "una", "como", "por", "para", "con", "se"))
  def defaultLangs: Seq[Seq[String]] = defaultOrder.map(defaultStopwords)
}

/** Quality counts [n_chars, n_tokens, stop_hits, punct_hits] of a string
  * column in ONE text scan → array<int> of length 4. Counts are identical
  * to length(text) / len(split(trim(text),' ')) / `\b(stopwords)\b` /
  * `[^a-z0-9 ]` over lower(text) — see [[Kernels.qualityCounts]].
  */
case class QualityCounts(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {
  @transient private lazy val lookup = LangLookup.build(Seq(stopwords))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.qualityCounts(input.asInstanceOf[UTF8String], lookup)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("qualityLookup", lookup, classOf[LangLookup].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.qualityCounts($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): QualityCounts =
    copy(child = newChild)
  override def prettyName: String = "graft_quality_counts"
}

/** Repetition stats of a string column in ONE scan → struct(n_words,
  * n_distinct_words, n_grams, n_distinct_grams, top_word, top_word_cnt,
  * top_ngram, top_ngram_cnt). See [[Kernels.repetitionStats]]; the
  * map-side replacement for explode → groupBy → argmax window, which
  * would shuffle the whole token stream.
  */
case class RepetitionStats(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = RepetitionStats.schema
  override def nullSafeEval(input: Any): Any =
    Kernels.repetitionStats(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.repetitionStats($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
  override def prettyName: String = "graft_repetition_stats"
}

object RepetitionStats {
  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_distinct_words", LongType, nullable = false),
    StructField("n_grams", LongType, nullable = false),
    StructField("n_distinct_grams", LongType, nullable = false),
    StructField("top_word", StringType, nullable = false),
    StructField("top_word_cnt", LongType, nullable = false),
    StructField("top_ngram", StringType, nullable = false),
    StructField("top_ngram_cnt", LongType, nullable = false)))
}

/** TF-IDF top-k terms of a string column under a trained document-
  * frequency model → array<struct<term, tf, df, score>>, best first, one
  * kernel pass. See [[Kernels.tfidfTopK]]; model-parameterized like
  * [[BpeCount]].
  */
case class TfidfTopK(child: Expression, model: DfModel, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false),
      StructField("df", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.tfidfTopK(input.asInstanceOf[UTF8String], model, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dfModel", model, classOf[DfModel].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.tfidfTopK($c, $ref, $k)")
  }
  override protected def withNewChildInternal(newChild: Expression): TfidfTopK =
    copy(child = newChild)
  override def prettyName: String = "graft_tfidf_topk"
}

/** Canonical text normalization (NFC + lower + whitespace collapse) of a
  * string column → string, one kernel pass. See [[Kernels.normalizeText]].
  */
case class NormalizeText(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    Kernels.normalizeText(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.normalizeText($c)")
  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
  override def prettyName: String = "graft_normalize"
}

/** American Soundex phonetic code ([[Kernels.soundex]]) — "" when the
  * string has no ASCII letters (the Column wrapper NULLs it).
  */
case class SoundexCode(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    Kernels.soundex(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.soundex($c)")
  override protected def withNewChildInternal(newChild: Expression): SoundexCode =
    copy(child = newChild)
  override def prettyName: String = "graft_soundex"
}

/** BPE token count of a string column under a trained merge table → int.
  * The model rides along as a codegen reference object (like the langid
  * lookup) so the count stays a single static call in whole-stage codegen.
  */
case class BpeCount(child: Expression, model: BpeModel)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    Kernels.bpeTokenCount(input.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeModel", model, classOf[BpeModel].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.bpeTokenCount($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeCount =
    copy(child = newChild)
  override def prettyName: String = "graft_bpe_count"
}

/** Winnowing fingerprints with positions → array<struct<pos:int,
  * h:bigint>> (ascending by pos). The anchor form for substring-span
  * dedup; see [[Kernels.winnowPos]].
  */
case class WinnowPositions(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.winnowPos(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.winnowPos($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowPositions =
    copy(child = newChild)
  override def prettyName: String = "graft_winnow_pos"
}

/** Maximal exact shared span around an anchor (text_a, text_b, pos_a,
  * pos_b) → struct(start_a, start_b, len), or null on a hash-collision
  * anchor. See [[Kernels.extendMatch]].
  */
case class ExtendMatch(ta: Expression, tb: Expression, pa: Expression,
    pb: Expression, k: Int) extends QuaternaryExpression {
  override def first: Expression = ta
  override def second: Expression = tb
  override def third: Expression = pa
  override def fourth: Expression = pb
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("start_a", IntegerType, nullable = false),
    StructField("start_b", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false)))
  override protected def nullSafeEval(a: Any, b: Any, p1: Any, p2: Any): Any =
    Kernels.extendMatch(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String],
      p1.asInstanceOf[Int], p2.asInstanceOf[Int], k)
  // nullSafeCodeGen (not defineCodeGen): the kernel returns null on a
  // hash-collision anchor, so the result's null flag must be re-derived
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, p1, p2) => s"""
      ${ev.value} = graft.functions.Kernels.extendMatch($a, $b, $p1, $p2, $k);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression,
      newFourth: Expression): ExtendMatch =
    copy(ta = newFirst, tb = newSecond, pa = newThird, pb = newFourth)
  override def prettyName: String = "graft_extend_match"
}

/** Bigram-LM fluency of a string column under a trained [[LmModel]] →
  * struct(n_pairs, known_pairs, fluency). Model-parameterized like
  * [[BpeCount]].
  */
case class LmFluencyScore(child: Expression, model: LmModel)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_pairs", LongType, nullable = false),
    StructField("known_pairs", LongType, nullable = false),
    StructField("fluency", DoubleType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    Kernels.lmFluency(input.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lmModel", model, classOf[LmModel].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.lmFluency($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): LmFluencyScore =
    copy(child = newChild)
  override def prettyName: String = "graft_lm_fluency"
}

/** Quality-classifier margin of a string column under a trained
  * [[QualityLrModel]] → struct(n_feat, margin). Model-parameterized like
  * [[BpeCount]]/[[LmFluencyScore]].
  */
case class QualityLrScoreExpr(child: Expression, model: QualityLrModel)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_feat", LongType, nullable = false),
    StructField("margin", LongType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    Kernels.qualityLrScore(input.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("qualityLrModel", model,
      classOf[QualityLrModel].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.qualityLrScore($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): QualityLrScoreExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_quality_lr_score"
}

/** All hashed DSIR gram buckets of a string column (multiset, doc
  * order) → array<int>. Used by the trainer's distributed bucket-count
  * aggregation; `d` is the bucket-space size.
  */
case class DsirBucketsExpr(child: Expression, d: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Kernels.dsirBuckets(input.asInstanceOf[UTF8String], d))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.Kernels.dsirBuckets($c, $d))")
  override protected def withNewChildInternal(newChild: Expression): DsirBucketsExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_dsir_buckets"
}

/** Character-distribution entropy of a string column →
  * struct(n_chars, ent_num) in 2^-20 fixed point ([[Kernels.charEntropy]]).
  */
case class CharEntropyExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("ent_num", LongType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    Kernels.charEntropy(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.charEntropy($c)")
  override protected def withNewChildInternal(newChild: Expression): CharEntropyExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_char_entropy"
}

/** Content-defined chunking of a string column →
  * array<struct(start, len, chunk_md5)> ([[Kernels.cdcChunks]]) —
  * parameters embedded at construction like the model-parameterized
  * expressions.
  */
case class CdcChunksExpr(child: Expression, maskBits: Int, minLen: Int,
    maxLen: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("start", LongType, nullable = false),
    StructField("len", LongType, nullable = false),
    StructField("chunk_md5", StringType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.cdcChunks(input.asInstanceOf[UTF8String], maskBits, minLen, maxLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Kernels.cdcChunks($c, $maskBits, $minLen, $maxLen)")
  override protected def withNewChildInternal(newChild: Expression): CdcChunksExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_cdc_chunks"
}

/** Fixed-point log2 of a positive BIGINT column —
  * [[Kernels.ilog2Fp]] as a codegen scalar (20 fraction bits, pure
  * integer recurrence, engine-replayable). Input must be ≥ 1.
  */
case class Ilog2Fp(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Kernels.ilog2Fp(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.ilog2Fp($c)")
  override protected def withNewChildInternal(newChild: Expression): Ilog2Fp =
    copy(child = newChild)
  override def prettyName: String = "graft_ilog2_fp"
}

/** DSIR importance of a string column under a trained [[DsirModel]] →
  * struct(n_grams, w_sum). Model-parameterized like
  * [[QualityLrScoreExpr]].
  */
case class DsirScoreExpr(child: Expression, model: DsirModel)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("w_sum", LongType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    Kernels.dsirScore(input.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dsirModel", model, classOf[DsirModel].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.dsirScore($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): DsirScoreExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_dsir_score"
}

/** True iff any of the text's n-gram hashes is in a trained
  * [[GramSetModel]] — one scan, early exit, no gram array materialized.
  * Model-parameterized like [[BpeCount]] (codegen reference object).
  */
case class GramSetContains(child: Expression, model: GramSetModel)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(input: Any): Any =
    Kernels.anyGramIn(input.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gramSet", model, classOf[GramSetModel].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.anyGramIn($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): GramSetContains =
    copy(child = newChild)
  override def prettyName: String = "graft_gram_set_contains"
}

/** Count of trained [[VecSetModel]] vectors whose e4-quantized cosine
  * with the array<float> column clears tE3/1000 — the semantic-
  * decontamination probe ([[Kernels.semanticHits]]); model rides as a
  * codegen reference object like [[GramSetContains]].
  */
case class SemanticHitCount(child: Expression, model: VecSetModel, tE3: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    Kernels.semanticHits(input.asInstanceOf[ArrayData], model, tE3)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vecSet", model, classOf[VecSetModel].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.semanticHits($c, $ref, $tE3)")
  }
  override protected def withNewChildInternal(newChild: Expression): SemanticHitCount =
    copy(child = newChild)
  override def prettyName: String = "graft_semantic_hits"
}

/** All-pattern blocklist statistics under a trained Aho-Corasick
  * [[AcModel]] — `[total_hits, distinct_patterns, first_pos, first_pat]`
  * in ONE byte scan of the document ([[Kernels.blocklistStats]]); the
  * automaton rides as a codegen reference object like [[GramSetContains]].
  */
case class BlocklistStats(child: Expression, model: AcModel)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.blocklistStats(input.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("acModel", model, classOf[AcModel].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.blocklistStats($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): BlocklistStats =
    copy(child = newChild)
  override def prettyName: String = "graft_blocklist_stats"
}

/** Bloom-filter gram membership probe under a trained [[GramBloomModel]] —
  * the same [[Kernels.anyGramIn]] scan as [[GramSetContains]] against the
  * approximate (no-false-negative) backend.
  */
case class GramBloomContains(child: Expression, model: GramBloomModel)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(input: Any): Any =
    Kernels.anyGramIn(input.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gramBloom", model, classOf[GramBloomModel].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.anyGramIn($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): GramBloomContains =
    copy(child = newChild)
  override def prettyName: String = "graft_gram_bloom_contains"
}

/** Long-key membership probe against a broadcast-serialized
  * [[org.apache.spark.util.sketch.BloomFilter]] — the map-side pre-filter
  * of [[graft.operators.Relational.bloomPrefilteredJoin]]. No false
  * negatives by the sketch contract, so filtering a join side with it
  * never loses a matching row; false positives are removed by the join
  * itself. Codegen'd, stays inside whole-stage codegen.
  */
case class BloomContainsLong(child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(input: Any): Any =
    bloom.mightContainLong(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomContainsLong =
    copy(child = newChild)
  override def prettyName: String = "graft_bloom_contains_long"
}

/** Winnowing fingerprint of a string column → array<bigint> (sorted). */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.winnow(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.winnow($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprint =
    copy(child = newChild)
  override def prettyName: String = "graft_winnow"
}

/** PQ byte codes of an array<float> vector under a trained [[PqModel]] —
  * `m` bytes (binary), null on dimension mismatch. Model-parameterized
  * like [[BpeCount]] (codegen reference object).
  */
case class PqEncode(child: Expression, model: PqModel)
    extends UnaryExpression {
  override def nullable: Boolean = true
  override def dataType: DataType = BinaryType
  override def nullSafeEval(input: Any): Any =
    Kernels.pqEncode(input.asInstanceOf[ArrayData], model)
  // nullSafeCodeGen: the kernel returns null on a dimension mismatch, so
  // the result's null flag must be re-derived (see [[ExtendMatch]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqModel", model, classOf[PqModel].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Kernels.pqEncode($c, $ref);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
  override def prettyName: String = "graft_pq_encode"
}

/** Per-query ADC lookup table under a trained [[PqModel]] →
  * array<double> of m × ksub dot products; null on dimension mismatch.
  */
case class PqQueryTable(child: Expression, model: PqModel)
    extends UnaryExpression {
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.pqQueryTable(input.asInstanceOf[ArrayData], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqModel", model, classOf[PqModel].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Kernels.pqQueryTable($c, $ref);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }
  override protected def withNewChildInternal(newChild: Expression): PqQueryTable =
    copy(child = newChild)
  override def prettyName: String = "graft_pq_query_table"
}

/** ADC score of (codes binary, query table array<double>) → double —
  * pure lookups, no model parameter (ksub is inferred from lengths).
  */
case class PqAdcScore(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    Kernels.pqAdcScore(l.asInstanceOf[Array[Byte]], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.pqAdcScore($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcScore =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_pq_adc_score"
}

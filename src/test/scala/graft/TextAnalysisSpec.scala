package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("langId identifies real multilingual text") {
    val samples = Seq(
      ("the cat and the dog sat in the house that it built", "en"),
      ("der hund und die katze ist nicht mit ihnen, sie hat ein haus", "de"),
      ("le chat et la souris sont dans les maisons que pour une fête", "fr"),
      ("el perro y los gatos son una familia como por para con ellos se", "es"),
      ("这是一个中文句子，用来测试语言识别功能。", "zh"))
    val got = TextAnalysis.langId(samples.toDF("text", "expect"), "text")
      .select("expect", "pred_lang").collect()
    got.foreach(r => assert(r.getString(1) === r.getString(0), r.toString))
  }

  test("single-pass langid kernel matches ASCII-boundary regex counts on the corpus") {
    // langId's contract is "stopword matches delimited by ASCII \b, the
    // semantics of RE2 (the DuckDB oracle)". The ground truth here uses
    // explicit ASCII-word-char lookarounds because Java's bare \b is
    // Unicode-aware (a CJK or accented letter suppresses the boundary),
    // which neither RE2 nor the kernel follows.
    import graft.operators.TextAnalysis.stopwords
    def asciiHits(t: org.apache.spark.sql.Column, lang: String) =
      size(regexp_extract_all(lower(t),
        lit("(?<![a-z0-9_])(" + stopwords(lang).mkString("|") + ")(?![a-z0-9_])"), lit(0)))
    val edge = Seq(
      "", " ", "the", "xthe them the_", "the,the;THE", "的 the 中文the中文",
      "l'été est la", "und_der der- der", "a1 it2 it _it it_ it").toDF("text")
    val docs = wh.loadTable("documents").select("text").unionByName(edge)
    val t = col("text")
    val cmp = TextAnalysis.langId(docs, "text")
      .withColumn("r_en", asciiHits(t, "en"))
      .withColumn("r_de", asciiHits(t, "de"))
      .withColumn("r_fr", asciiHits(t, "fr"))
      .withColumn("r_es", asciiHits(t, "es"))
      .withColumn("r_zh", TextAnalysis.cjkHits(t))
    val bad = cmp.filter(
      col("h_en") =!= col("r_en") || col("h_de") =!= col("r_de") ||
      col("h_fr") =!= col("r_fr") || col("h_es") =!= col("r_es") ||
      col("h_zh") =!= col("r_zh"))
    assert(bad.count() === 0, bad.take(3).mkString("\n"))
  }

  test("single-pass quality kernel matches the regex column forms on the corpus") {
    // The kernel's contract: n_chars = length(text), n_tokens =
    // size(split(trim(text), ' ')), stop_hits = RE2-\b en-stopword matches
    // over lower(text), punct_hits = [^a-z0-9 ] matches over lower(text).
    // Ground truth uses ASCII lookarounds for the same reason as the
    // langid spec above (Java bare \b is Unicode-aware; RE2's is not).
    import graft.operators.TextAnalysis.stopwords
    val edge = Seq(
      "", " ", "   ", "the", " the  cat ", "a  b", "xthe them the_",
      "the,the;THE", "的 the 中文the中文", "l'été est la", "_ __ a_b",
      "tab\tand\nnewline the", "it it2 _it it_ it").toDF("text")
    val docs = wh.loadTable("documents").select("text").unionByName(edge)
    val t = col("text")
    val counts = graft.functions.GraftFunctions.qualityCounts(t)
    val cmp = docs
      .withColumn("k_chars", counts.getItem(0))
      .withColumn("k_tokens", counts.getItem(1))
      .withColumn("k_stop", counts.getItem(2))
      .withColumn("k_punct", counts.getItem(3))
      .withColumn("r_chars", length(t))
      .withColumn("r_tokens", size(split(trim(t), " ")))
      .withColumn("r_stop", size(regexp_extract_all(lower(t),
        lit("(?<![a-z0-9_])(" + stopwords("en").mkString("|") + ")(?![a-z0-9_])"), lit(0))))
      .withColumn("r_punct", size(regexp_extract_all(lower(t), lit("[^a-z0-9 ]"), lit(0))))
    val bad = cmp.filter(
      col("k_chars") =!= col("r_chars") || col("k_tokens") =!= col("r_tokens") ||
      col("k_stop") =!= col("r_stop") || col("k_punct") =!= col("r_punct"))
    assert(bad.count() === 0, bad.take(3).mkString("\n"))
  }

  test("quality rewards stopword-rich prose over punctuation soup") {
    val df = Seq(
      ("the quick brown fox jumps over the lazy dog and it is happy for that reason", "good"),
      ("@@@ ### !!! ??? %% ^^ && ** (( )) __ ++ == ~~ `` ;; :: '' \"\"", "bad"))
      .toDF("text", "tag")
    val q = TextAnalysis.quality(df, "text").select("tag", "quality")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(q("good") > q("bad"))
  }

  test("tokenCount counts whitespace and word tokens") {
    val r = TextAnalysis.tokenCount(Seq(Tuple1("one two  three 42")).toDF("text"), "text")
      .select("n_ws_tokens", "n_word_tokens").collect()(0)
    assert(r.getInt(0) === 4)
    assert(r.getInt(1) === 4)
  }

  test("distributed BPE training: hand-computed merges, greedy overlap, ties") {
    import graft.operators.Bpe
    // corpus words: aaa (f2), b (f1). Round 1: pair (a,a) counted at BOTH
    // positions of 'a a a' per occurrence → count 4; greedy merge gives
    // 'aa a' (the new token never re-merges within the round). Round 2:
    // (aa, a) count 2.
    val docs = Seq((1L, "Aaa aaa b")).toDF("doc_id", "text")
    val got = Bpe.trainDistributed(docs, "text", numMerges = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1L, "a", "a", 4L), (2L, "aa", "a", 2L)))
    // tie-break: (a,b) and (c,d) both count 2 → lexicographically
    // smaller (a,b) wins round 1
    val tie = Seq((1L, "ab cd ab cd")).toDF("doc_id", "text")
    val first = Bpe.trainDistributed(tie, "text", numMerges = 1).collect()(0)
    assert((first.getString(1), first.getString(2), first.getLong(3)) === (("a", "b", 2L)))
    // exhausted corpus (every word one symbol) is refused loudly
    assertThrows[IllegalArgumentException] {
      Bpe.trainDistributed(Seq((1L, "ab")).toDF("doc_id", "text"), "text",
        numMerges = 3).collect()
    }
  }

  test("distributed BPE merges feed the codegen apply kernel via modelFromMerges") {
    import graft.operators.Bpe
    val docs = Seq((1L, "hash hash hash join join scan")).toDF("doc_id", "text")
    val merges = Bpe.trainDistributed(docs, "text", numMerges = 6)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val model = Bpe.modelFromMerges(merges)
    assert(model.numMerges === 6)
    val counts = TextAnalysis.tokenCountBpe(
        Seq((1L, "hash"), (2L, "zq")).toDF("id", "text"), "text", model)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // 'hash' dominates the corpus: 3 of the 6 merges collapse it fully
    assert(counts(1L) === 1, "most frequent word should collapse to one token")
    assert(counts(2L) === 2, "untrained chars stay single symbols")
    // malformed tables are refused: rank gap and unknown symbol
    assertThrows[IllegalArgumentException] {
      Bpe.modelFromMerges(Seq((2L, "a", "b")))
    }
    assertThrows[IllegalArgumentException] {
      Bpe.modelFromMerges(Seq((1L, "xy", "z")))
    }
  }

  test("encodeCorpus counts tokens under the trained merges; empty docs report zero") {
    import graft.operators.Bpe
    val docs = Seq((1L, "hash hash hash join join scan"), (2L, "hash zq"),
      (3L, null.asInstanceOf[String]), (4L, "!!!")).toDF("doc_id", "text")
    val merges = Bpe.trainDistributed(docs, "text", numMerges = 6)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val got = Bpe.encodeCorpus(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // merges 1-3 collapse 'hash', merges 4-6 collapse 'join';
    // 'scan' stays 4 single chars: 3x1 + 2x1 + 4 = 9 tokens over 6 words
    assert(got(1L) === ((6L, 9L)))
    assert(got(2L) === ((2L, 1L + 2L)), "hash=1 token, zq=2 chars")
    assert(got(3L) === ((0L, 0L)))
    assert(got(4L) === ((0L, 0L)))
    // symbols outside [a-z0-9] are refused at the boundary (they would
    // be interpolated into the SQL fold)
    assertThrows[IllegalArgumentException] {
      Bpe.encodeCorpus(docs, "doc_id", "text", Seq((1L, "a'b", "c")))
    }
  }

  test("struct-accumulator merge fold equals the reference greedy single pass") {
    import graft.operators.Bpe
    // r12: mergeExpr tracks the trailing token in a struct instead of
    // re-deriving it with regexp_extract — pin the fold against an
    // in-memory greedy left-to-right reference over words that exercise
    // every branch: overlap runs, merge-at-end, merged-output re-merging
    // only on a LATER pass, and non-matching symbols.
    def refMerge(w: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        if (i < w.length - 1 && w(i) == l && w(i + 1) == r) { out += (l + r); i += 2 }
        else { out += w(i); i += 1 }
      }
      out.toSeq
    }
    val words = Seq("aaaa", "aab", "baa", "ab", "a", "abab", "aaab", "bbaa")
    val merges = Seq(("a", "a"), ("aa", "a"), ("a", "b"), ("aa", "ab"))
    val expected = words.map { w =>
      var syms: Seq[String] = w.map(_.toString)
      merges.foreach { case (l, r) => syms = refMerge(syms, l, r) }
      w -> syms.mkString(" ")
    }.toMap
    val got = Bpe.encodeCorpus(
        words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text"),
        "doc_id", "text",
        merges.zipWithIndex.map { case ((l, r), i) => (i + 1L, l, r) })
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    words.zipWithIndex.foreach { case (w, i) =>
      assert(got(i.toLong) === expected(w).split(" ").length.toLong,
        s"token count for '$w' (expected segmentation '${expected(w)}')")
    }
  }

  test("BPE training merges frequent pairs and counting follows the model") {
    import graft.operators.{Bpe, TextAnalysis}
    // "the" dominates → its pairs merge first; the trained model should
    // collapse "the" to a single token
    val corpus = Seq.fill(50)("the cat sat on the mat the end") ++ Seq("zq xv")
    val model = Bpe.trainOnTexts(corpus, numMerges = 50)
    assert(model.numMerges > 0)
    val df = Seq(
      (1L, "the"), (2L, "the the the"), (3L, "zq"), (4L, "")).toDF("id", "text")
    val got = TextAnalysis.tokenCountBpe(df, "text", model)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got(1L) === 1, "frequent word should be one token")
    assert(got(2L) === 3)
    assert(got(4L) === 0)
    // an untrained model counts every char; training can only shrink counts
    val empty = Bpe.trainOnTexts(Seq("a"), numMerges = 0)
    val docs = wh.loadTable("documents").limit(100)
    val chars = TextAnalysis.tokenCountBpe(docs, "text", empty)
    val trained = TextAnalysis.tokenCountBpe(docs, "text",
      Bpe.train(docs, "text", numMerges = 200, sampleSize = 100))
    val pairs = chars.select("doc_id", "n_bpe_tokens")
      .withColumnRenamed("n_bpe_tokens", "n_chars_tok")
      .join(trained.select("doc_id", "n_bpe_tokens"), "doc_id")
    assert(pairs.filter(col("n_bpe_tokens") > col("n_chars_tok")).count() === 0)
    assert(pairs.filter(col("n_bpe_tokens") < col("n_chars_tok")).count() > 0,
      "training should compress at least some documents")
    // CODE-POINT symbol space (r12): an astral char is ONE symbol for
    // both trainer and kernel — a surrogate-unit walk would see two and
    // count/merge differently
    val emoji = "😀" // U+1F600, one code point, two chars
    val astral = Seq.fill(10)(s"$emoji$emoji x")
    val mA = Bpe.trainOnTexts(astral, numMerges = 1)
    val gotA = TextAnalysis.tokenCountBpe(
        Seq((1L, s"$emoji$emoji"), (2L, emoji), (3L, s"$emoji x"))
          .toDF("id", "text"), "text", mA)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(gotA(2L) === 1, "one astral char = one symbol, not two units")
    assert(gotA(1L) === 1,
      "the learned (emoji, emoji) merge collapses the pair to one token")
    assert(gotA(3L) === 2)
  }

  test("normalize canonicalizes case, whitespace and unicode composition") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "  Hello\t\tWORLD  \n"),
      (2L, "café"),           // decomposed é → NFC composes
      (3L, "café"),            // precomposed é — must equal row 2
      (4L, ""), (5L, "   ")).toDF("id", "text")
    val out = TextAnalysis.normalize(df, "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) === "hello world")
    assert(out(2L) === out(3L), "NFC must unify composed and decomposed forms")
    assert(out(2L) === "café")
    assert(out(4L) === "" && out(5L) === "")
    // SIMPLE case mapping (utf8proc/DuckDB semantics), not Java's full
    // casing: no context-sensitive final sigma, İ maps to a single 'i'
    val special = TextAnalysis.normalize(
      Seq((1L, "ΜΕΓΑΣ"), (2L, "İstanbul")).toDF("id", "text"), "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(special(1L) === "μεγασ", s"expected simple-mapped sigma: ${special(1L)}")
    assert(special(2L) === "istanbul" && special(2L).length === 8)
  }

  test("chunking covers every token with the declared overlap") {
    import graft.operators.TextAnalysis
    val text = (1 to 100).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, text), (2L, "short doc"), (3L, (1 to 32).map(i => s"e$i").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunk(df, "text", chunkTokens = 32, overlap = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2).split(" ").toSeq))
    val byDoc = chunks.groupBy(_._1)
    // doc 1: 100 tokens, stride 24 -> ceil(92/24)=4 chunks
    val d1 = byDoc(1L).sortBy(_._2).map(_._3)
    assert(d1.length === 4)
    assert(d1.take(3).forall(_.length === 32) && d1.last.length === 100 - 3 * 24)
    // adjacent chunks share exactly the declared overlap
    d1.sliding(2).foreach { w => assert(w(0).takeRight(8) === w(1).take(8)) }
    // union of chunks reconstructs the document exactly
    assert((d1.head ++ d1.tail.flatMap(_.drop(8))).mkString(" ") === text)
    // short docs and exact-fit docs are a single chunk
    assert(byDoc(2L).length === 1 && byDoc(2L).head._3 === Seq("short", "doc"))
    assert(byDoc(3L).length === 1 && byDoc(3L).head._3.length === 32)
    // empty / whitespace-only docs emit no chunks at all
    val empties = TextAnalysis.chunk(
      Seq((9L, ""), (10L, "   ")).toDF("doc_id", "text"), "text")
    assert(empties.count() === 0)
    // metadata columns ride along to every chunk row (text is dropped)
    val meta = TextAnalysis.chunk(
      Seq((1L, "en", (1 to 50).map(i => s"m$i").mkString(" "))).toDF("doc_id", "lang", "text"),
      "text", chunkTokens = 32, overlap = 8)
    assert(meta.columns.toSeq === Seq("doc_id", "lang", "chunk_idx", "chunk", "n_chunk_tokens"))
    assert(meta.select("lang").distinct().collect().map(_.getString(0)).toSeq === Seq("en"))
    intercept[IllegalArgumentException] {
      TextAnalysis.chunk(df, "text", chunkTokens = 8, overlap = 8)
    }
  }

  test("redact scrubs planted emails and IPs and leaves clean text alone") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "write to alice.b+spam@mail.example.org today"),
      (2L, "server at 192.168.0.12 is down"),
      (3L, "clean prose with no identifiers")).toDF("id", "text")
    val out = TextAnalysis.redact(df, "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) === "write to [REDACTED] today")
    assert(out(2L) === "server at [REDACTED] is down")
    assert(out(3L) === "clean prose with no identifiers")
  }

  test("winnowing fingerprints are robust to local edits") {
    val base = "the quick brown fox jumps over the lazy dog while the sun sets slowly behind distant hills"
    val edited = base.replace("lazy", "idle") // one word changed
    val other = "completely different content with no overlap whatsoever in any shingle of this string at all"
    val df = Seq((1L, base), (2L, edited), (3L, other)).toDF("id", "text")
    val fps = TextAnalysis.fingerprint(df, "text")
      .select("id", "fp").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    def jac(a: Set[Long], b: Set[Long]) =
      a.intersect(b).size.toDouble / a.union(b).size
    assert(jac(fps(1L), fps(2L)) > 0.5, "edit destroyed the fingerprint")
    assert(jac(fps(1L), fps(3L)) < 0.1, "unrelated texts share fingerprints")
  }

  test("fingerprint summary columns are consistent") {
    val out = TextAnalysis.fingerprint(wh.loadTable("documents").limit(20), "text")
    assert(out.filter(col("n_fp") =!= size(col("fp"))).count() === 0)
    assert(out.filter(col("fp_min") > col("fp_max")).count() === 0)
  }

  test("keywords: RAKE scores hand-exact — phrases, ties, stopword/punct breaks") {
    // doc 2 hand trace: phrases [deep learning][deep neural networks]
    // [deep learning][neural networks][training]; freq(deep)=3 deg=7,
    // freq(learning)=2 deg=4, freq(neural)=2 deg=5, freq(networks)=2
    // deg=5, freq(training)=1 deg=1 → score(deep neural networks) =
    // 2333333+2500000+2500000 = 7333333
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog. " +
        "Quick brown foxes are quick!"),
      (2L, "deep learning of deep neural networks; deep learning, " +
        "neural networks and training"),
      (3L, "the the of to"),   // all stopwords: no candidate phrase
      (4L, ""),                // empty: nothing
      (6L, "Repeat repeat REPEAT, repeat again")) // case-folds, dup phrase collapses
      .toDF("doc_id", "text")
    val got = operators.TextAnalysis.keywords(docs, "doc_id", "text", k = 3)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val expect = Seq(
      (1L, 1L, "quick brown fox jumps over", 25000000L),
      (1L, 2L, "quick brown foxes are quick", 25000000L), // tie → phrase asc
      (1L, 3L, "lazy dog", 4000000L),
      (2L, 1L, "deep neural networks", 7333333L),
      (2L, 2L, "neural networks", 5000000L),
      (2L, 3L, "deep learning", 4333333L),
      (6L, 1L, "repeat repeat repeat", 8250000L),
      (6L, 2L, "repeat again", 4750000L))
    assert(got.sorted === expect.sorted,
      "docs 3 and 4 emit nothing; everything else hand-exact")
  }

  test("repetition metrics match hand-computed values and tie-break") {
    val df = Seq(
      (1L, "a a a b"),      // top word a×3; bigrams [a a, a a, a b]
      (2L, "b b a a"),      // tie: a and b both ×2 → lexicographically first wins
      (3L, "x")             // single word: no bigrams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(df, "text", n = 2)
      .select("doc_id", "n_words", "dup_word_frac", "dup_ngram_frac",
        "top_word", "top_word_cnt", "top_word_frac",
        "top_ngram", "top_ngram_cnt", "top_ngram_char_frac")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getLong(1) === 4L)
    assert(r1.getDouble(2) === 0.5)            // 4 words, 2 distinct
    assert(r1.getDouble(3) === 1.0 / 3.0)      // 3 bigrams, 2 distinct
    assert(r1.getString(4) === "a" && r1.getLong(5) === 3L)
    assert(r1.getDouble(6) === 0.75)
    assert(r1.getString(7) === "a a" && r1.getLong(8) === 2L)
    assert(r1.getDouble(9) === 2.0 * 3 / 7)    // 2 runs × 3 chars / 7 chars
    val r2 = out(2L)
    assert(r2.getString(4) === "a" && r2.getLong(5) === 2L,
      "count tie must pick the lexicographically smallest word")
    val r3 = out(3L)
    assert(r3.getLong(1) === 1L && r3.getDouble(2) === 0.0)
    assert(r3.getString(7) === "" && r3.getLong(8) === 0L &&
      r3.getDouble(9) === 0.0, "no bigrams for a one-word doc")
  }

  test("gopherFilter flags follow the documented thresholds on planted docs") {
    val longGood = (1 to 60).map(i => s"word$i").mkString(" ") + " the and of it"
    val tooShort = "the and of it brief words here"
    val repetitive = (("spam spam " * 40).trim + " the and of")
    val noStops = (1 to 60).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, longGood), (2L, tooShort), (3L, repetitive), (4L, noStops))
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherFilter(df, "text")
      .select("doc_id", "f_word_count", "f_dup_ngram", "f_stopwords", "gopher_pass")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(got(1L)._1 && got(1L)._2 && got(1L)._3 && got(1L)._4, s"good doc failed: ${got(1L)}")
    assert(!got(2L)._1 && !got(2L)._4, "7-word doc must fail the word-count rule")
    assert(!got(3L)._2 && !got(3L)._4, "spam-spam doc must fail the dup-ngram rule")
    assert(!got(4L)._3 && !got(4L)._4, "stopword-free doc must fail the stopword rule")
  }

  test("tfidfTopK scores, ranks and tie-breaks against hand-computed values") {
    val df = Seq(
      (1L, "a a b"),   // a: tf2 df1 → 6.0; b: tf1 df2 → 1.5
      (2L, "b c"),     // b and c both 1×3/2 = 1.5 → tie → term asc
      (3L, "c c c")    // c: tf3 df2 → 4.5
    ).toDF("doc_id", "text")
    val model = TextAnalysis.trainDfModel(df, "text")
    assert(model.nDocs === 3L && model.vocabSize === 3)
    assert(model.df("a") === 1L && model.df("b") === 2L && model.df("c") === 2L)
    assert(model.df("zzz") === -1L)
    val got = TextAnalysis.tfidfTopK(df, "text", model, k = 2)
      .select(col("doc_id"), col("tfidf"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => (e.getString(0), e.getLong(1), e.getLong(2), e.getDouble(3)))).toMap
    assert(got(1L) === Seq(("a", 2L, 1L, 6.0), ("b", 1L, 2L, 1.5)))
    assert(got(2L) === Seq(("b", 1L, 2L, 1.5), ("c", 1L, 2L, 1.5)),
      "equal scores must rank by term ascending")
    assert(got(3L) === Seq(("c", 3L, 2L, 4.5)))
  }

  test("tfidf model truncation drops the low-df tail and scoring skips OOV") {
    val df = Seq(
      (1L, "common rare1"), (2L, "common rare2"), (3L, "common rare3")
    ).toDF("doc_id", "text")
    val model = TextAnalysis.trainDfModel(df, "text", maxVocab = 2)
    assert(model.vocabSize === 2)
    assert(model.df("common") === 3L)
    // deterministic truncation: df desc, term asc → keeps common + rare1
    assert(model.df("rare1") === 1L)
    assert(model.df("rare2") === -1L && model.df("rare3") === -1L)
    val got = TextAnalysis.tfidfTopK(df, "text", model, k = 5)
      .filter(col("doc_id") === 3L)
      .select(explode(col("tfidf")).as("e")).select("e.term")
      .collect().map(_.getString(0)).toSet
    assert(got === Set("common"), "OOV terms must be skipped, not scored")
  }

  test("lmFluency matches hand-computed bigram statistics and floors OOV docs") {
    // training corpus: "a b" occurs 3x and "a c" 1x (so P(b|a)=3/4 in
    // relative-frequency terms), plus a distinct filler sentence
    val train = Seq(
      (1L, "a b x a b y a b z a c"),
      (2L, "completely different filler words here")).toDF("doc_id", "text")
    val model = TextAnalysis.trainLmModel(train, "text")
    // counts: a=4, b=3; bigram (a,b)=3 -> rel = 3/4
    val got = TextAnalysis.lmFluency(
        Seq((10L, "a b"), (11L, "a c"), (12L, "qq rr ss"), (13L, "b a"))
          .toDF("doc_id", "text"), "text", model)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("known_pairs"),
          r.getAs[Double]("lm_fluency"))).toMap
    assert(got(10L) === ((1L, 1L, 3.0 / 4.0)))            // c(a,b)/c(a)
    assert(got(11L) === ((1L, 1L, 1.0 / 4.0)))            // c(a,c)/c(a)
    assert(got(12L) === ((2L, 0L, 0.0)))                  // all OOV
    assert(got(13L)._3 === 0.0 / 3.0)                     // unseen pair (b,a)
    // NULL-text contract: 0/0/0.0, not NULL — same rule as
    // decontaminateMapSide's NULL-flags-false, and what the oracle's
    // coalesce produces
    val nul = TextAnalysis.lmFluency(
        Seq((20L, null: String), (21L, "a b")).toDF("doc_id", "text"),
        "text", model)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("known_pairs"),
          r.getAs[Double]("lm_fluency"))).toMap
    assert(nul(20L) === ((0L, 0L, 0.0)), "NULL text must score 0/0/0.0")
    assert(nul(21L) === ((1L, 1L, 3.0 / 4.0)))
    // a model trained on structured text separates in-domain sentences
    // from their own shuffled tokens by a wide margin
    val sent = "the quick brown fox jumps over the lazy dog"
    val structured = (1L to 20L).map(i => (i, sent)).toDF("doc_id", "text")
    val structModel = TextAnalysis.trainLmModel(structured, "text")
    def score(t: String): Double =
      TextAnalysis.lmFluency(Seq((1L, t)).toDF("doc_id", "text"), "text", structModel)
        .collect()(0).getAs[Double]("lm_fluency")
    val fluent = score(sent)
    val garbled = score("dog lazy the over jumps fox brown quick the")
    assert(fluent > 5 * garbled && fluent > 0.4,
      s"fluent=$fluent must dominate garbled=$garbled")
    // and on the real corpus the separation is directional (synthetic
    // corpus text has weak bigram structure, so only the SIGN is pinned —
    // the shuffle is seeded, so this is deterministic, not flaky)
    val docs = wh.loadTable("documents")
    val corpusModel = TextAnalysis.trainLmModel(docs, "text")
    val natural = docs.orderBy("doc_id").limit(30)
    val shuffled = natural.withColumn("text",
      concat_ws(" ", shuffle(split(trim(col("text")), " ", -1), lit(7))))
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      TextAnalysis.lmFluency(df, "text", corpusModel)
        .agg(avg("lm_fluency")).collect()(0).getDouble(0)
    val (mn, ms) = (mean(natural), mean(shuffled))
    assert(mn > ms,
      s"natural text must out-score shuffled tokens: natural=$mn shuffled=$ms")
  }

  test("map-side repetition top counts equal the relational explode/groupBy recompute") {
    // The operator computes argmax counts via sort + run-length aggregate
    // (zero shuffle); ground truth here is the naive explode → groupBy →
    // window formulation. Every doc in the corpus must agree on count AND
    // the tie-broken element.
    import org.apache.spark.sql.expressions.Window
    val docs = wh.loadTable("documents").select("doc_id", "text")
    val got = TextAnalysis.repetition(docs, "text", n = 2)
      .select("doc_id", "top_word", "top_word_cnt", "top_ngram", "top_ngram_cnt")
    val w = Window.partitionBy("doc_id")
      .orderBy(col("c").desc, col("t").asc)
    val words = docs
      .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("t").as("e_word"), col("c").as("e_cnt"))
    val bad = got.join(words, "doc_id")
      .filter(col("top_word") =!= col("e_word") || col("top_word_cnt") =!= col("e_cnt"))
    assert(bad.count() === 0, bad.take(3).mkString("\n"))
  }

  test("qualityFeatures match a hand-computed code-point polynomial hash") {
    import graft.functions.Kernels
    import org.apache.spark.unsafe.types.UTF8String
    val d = 4096
    def bucket(g: String): Int = {
      var h = 0L
      g.codePoints().forEach(cp => h = (h * 31 + cp) % 1000003L)
      (h % d).toInt
    }
    // " a bb a" -> tokens [a, bb, a]; unigrams {a, bb}, bigrams
    // {"a bb", "bb a"}; n_words=3, n_chars=7 (untrimmed), mean word len
    // = (7 - 2) / 3 = 1, floor(log2 3) = 1
    val expected = Set(bucket("a"), bucket("bb"), bucket("a bb"), bucket("bb a"),
      bucket("\u0001B"), bucket("\u0001L1"), bucket("\u0001M1"))
    val got = Kernels.qualityFeatures(UTF8String.fromString(" a bb a"), d)
    assert(got.toSet === expected)
    assert(got.toSeq === got.toSeq.sorted, "buckets must be sorted")
    // astral chars: one code point each, not two UTF-16 units
    val astral = Kernels.qualityFeatures(UTF8String.fromString("😀"), d)
    assert(astral.toSet.contains(bucket(new String(Character.toChars(0x1f600)))))
  }

  test("trainQualityClassifier is deterministic and beats the majority baseline") {
    val docs = wh.loadTable("documents")
    val labeled = TextAnalysis.gopherFilter(docs.filter(col("text").isNotNull), "text")
    val sample = labeled.filter(col("doc_id") % 2 === 0)
      .orderBy("doc_id").limit(1024)
      .select(col("text"), col("gopher_pass"))
    val m1 = TextAnalysis.trainQualityClassifier(sample, "text", "gopher_pass")
    val m2 = TextAnalysis.trainQualityClassifier(sample, "text", "gopher_pass")
    assert(m1.weights.toSeq === m2.weights.toSeq, "training must be bit-reproducible")
    assert(m1.weights.exists(_ != 0L), "training must move some weight")
    // full-corpus accuracy vs the gopher labels must beat always-majority —
    // the classifier generalizes to the odd-doc_id half it never saw
    val scored = TextAnalysis.qualityClassify(labeled, "text", m1)
      .select(col("gopher_pass"), col("pred_pass"))
      .collect()
    val n = scored.length
    val acc = scored.count(r => r.getBoolean(0) == r.getBoolean(1)).toDouble / n
    val pos = scored.count(_.getBoolean(0))
    val base = math.max(pos, n - pos).toDouble / n
    assert(acc >= base + 0.05,
      s"classifier accuracy $acc must beat majority baseline $base by >= 0.05")
  }

  test("qualityClassify is one map-side kernel scan (zero exchanges) and handles NULL text") {
    val docs = wh.loadTable("documents")
    val sample = TextAnalysis.gopherFilter(docs.filter(col("text").isNotNull), "text")
      .filter(col("doc_id") % 2 === 0).orderBy("doc_id").limit(64)
      .select(col("text"), col("gopher_pass"))
    val model = TextAnalysis.trainQualityClassifier(sample, "text", "gopher_pass")
    val plan = TextAnalysis.qualityClassify(docs, "text", model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring must not shuffle:\n$plan")
    val withNull = Seq((1L, "the cat sat"), (2L, null)).toDF("doc_id", "text")
    val out = TextAnalysis.qualityClassify(withNull, "text", model)
      .orderBy("doc_id")
      .select("n_feat", "margin", "q_score", "pred_pass").collect()
    assert(out(1).getLong(0) === 0L && out(1).getLong(1) === 0L &&
      out(1).getDouble(2) === 0.0 && !out(1).getBoolean(3),
      s"NULL text must score 0/0/0.0/false, got ${out(1)}")
  }

  test("packWindows assigns exact global offsets — the naive running sum, distributed") {
    val docs = wh.loadTable("documents").select("doc_id", "text")
    val got = TextAnalysis.packWindows(docs, "doc_id", "text", windowTokens = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    // reference: driver-side exclusive prefix sum over id order
    val toks = docs
      .select(col("doc_id").cast("long"),
        coalesce(size(split(trim(col("text")), "\\s+")).cast("long"), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val want = toks.map { case (id, t) =>
      val s = acc; acc += t; (id, t, s, s / 100L, s % 100L)
    }
    assert(got.toSeq === want.toSeq)
    // windows are dense: consecutive docs' windows never skip backwards
    assert(got.sliding(2).forall(p => p.length < 2 || p(0)._4 <= p(1)._4))
  }

  test("packWindows counts NULL text as zero tokens") {
    val docs = Seq((1L, "one two three"), (2L, null.asInstanceOf[String]),
      (3L, "four five")).toDF("doc_id", "text")
    val got = TextAnalysis.packWindows(docs, "doc_id", "text", windowTokens = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 3L, 0L), (2L, 0L, 3L), (3L, 2L, 3L)))
  }

  test("cdcChunkDocs matches an independent closed-form replay on the corpus") {
    val docs = wh.loadTable("documents").select("doc_id", "text")
    val got = TextAnalysis.cdcChunkDocs(docs, "doc_id", "text",
        maskBits = 6, minLen = 1, maxLen = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    // independent replay from the CLOSED FORM (windowed sum, not the
    // kernel's recurrence): h_i = sum_{k=0..39} g_{i-k} 2^k mod 2^40
    val mod = 1L << 40
    def replay(text: String): Seq[(Long, Long, String)] = {
      val cps = text.codePoints().toArray
      val g = cps.map(cp => (cp.toLong * 2654435761L) % mod)
      val cutSet = g.indices.filter { i =>
        val h = (0 to math.min(39, i)).map { k =>
          (g(i - k) % (1L << (40 - k))) << k
        }.sum % mod
        (h & 63L) == 0L
      }.map(_ + 1).toSet // cut AFTER position i (1-based end)
      val ends = (cutSet + cps.length).toSeq.sorted
      ends.zip(0L +: ends.map(_.toLong).dropRight(1)).map { case (e, s) =>
        val sub = new String(cps.slice(s.toInt, e), 0, e - s.toInt)
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(sub.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        (s, e - s, hex)
      }
    }
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    rows.filter(r => r._2 != null && r._2.nonEmpty).foreach { case (id, text) =>
      val want = replay(text)
      val g = got.getOrElse(id, Seq.empty).map(t => (t._3, t._4, t._5))
      assert(g === want, s"doc $id")
    }
    // contiguous cover: starts chain and lengths sum to the doc length
    got.foreach { case (id, chunks) =>
      chunks.sliding(2).foreach {
        case Seq(a, b) => assert(a._3 + a._4 === b._3, s"doc $id gap")
        case _ => ()
      }
    }
  }

  test("cdcChunks: boundaries shift WITH content; min/max gate cuts; empty text") {
    val base = wh.loadTable("documents").select("doc_id", "text")
      .filter(col("text").isNotNull).limit(1)
      .collect().head.getString(1)
    val edited = "INSERTED PREFIX SENTENCE. " + base
    val two = Seq((1L, base), (2L, edited), (3L, null.asInstanceOf[String]),
      (4L, "")).toDF("doc_id", "text")
    val chunks = TextAnalysis.cdcChunkDocs(two, "doc_id", "text",
        maskBits = 4, minLen = 1, maxLen = 1000000)
      .collect().map(r => (r.getLong(0), r.getString(4)))
    val h1 = chunks.filter(_._1 == 1L).map(_._2).toSet
    val h2 = chunks.filter(_._1 == 2L).map(_._2).toSet
    // content-defined: most of the original's chunks survive the prefix
    // insertion (fixed-size chunking would share ~none)
    assert(h1.intersect(h2).size * 2 >= h1.size,
      s"shared=${h1.intersect(h2).size} of ${h1.size}")
    assert(!chunks.exists(c => c._1 == 3L || c._1 == 4L), "no rows for null/empty")
    // maxLen forces cuts on a cut-free run; minLen suppresses early cuts
    val run = Seq((1L, "a" * 500)).toDF("doc_id", "text")
    val forced = TextAnalysis.cdcChunkDocs(run, "doc_id", "text",
        maskBits = 6, minLen = 1, maxLen = 50)
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(forced.map(_._2).sum === 500L)
    assert(forced.forall(_._2 <= 50L))
    val gated = TextAnalysis.cdcChunkDocs(
        Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text",
        maskBits = 4, minLen = 24, maxLen = 64)
      .collect().map(r => r.getLong(3))
    gated.dropRight(1).foreach(l => assert(l >= 24L && l <= 64L))
    intercept[IllegalArgumentException] {
      TextAnalysis.cdcChunkDocs(run, "doc_id", "text", maskBits = 0)
    }
  }

  test("packBins replays the per-shard next-fit fold on the real corpus") {
    val docs = wh.loadTable("documents").select("doc_id", "text")
    val got = TextAnalysis.packBins(docs, "doc_id", "text",
        binTokens = 90L, nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    // independent driver-side fold: group by the operator's own shard
    // assignment, order by id, replay next-fit — bins and fills must match
    got.groupBy(_._3).foreach { case (_, rows) =>
      var bin = -1L; var fill = Long.MinValue
      rows.sortBy(_._1).foreach { case (id, t, _, gotBin, gotFill, over) =>
        if (fill == Long.MinValue || fill + t > 90L) { bin += 1; fill = t }
        else fill += t
        assert((gotBin, gotFill) === (bin, fill), s"doc $id")
        assert(over === (t > 90L), s"doc $id oversize flag")
      }
    }
    // token counts agree with the packWindows counting contract
    val want = docs.select(col("doc_id").cast("long"),
        coalesce(size(split(trim(col("text")), "\\s+")).cast("long"), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    got.foreach { case (id, t, _, _, _, _) => assert(t === want(id), s"doc $id") }
    // every shard's bins are dense from 0
    got.groupBy(_._3).foreach { case (sh, rows) =>
      val bins = rows.map(_._4).distinct.sorted
      assert(bins === (0L until bins.length).toArray.toSeq, s"shard $sh")
    }
  }

  test("packBins: no-split, oversize singleton, NULL text, fresh bin after overflow") {
    val docs = Seq(
      (1L, "a b c"),                  // 3 -> bin 0 fill 3
      (2L, "d e"),                    // 2 -> fits exactly: bin 0 fill 5
      (3L, "p q r s t u"),            // 6 > 5: oversize, own bin 1
      (4L, "y"),                      // overflows the oversize bin -> bin 2
      (5L, null.asInstanceOf[String]) // 0 tokens joins bin 2
    ).toDF("doc_id", "text")
    val got = TextAnalysis.packBins(docs, "doc_id", "text",
        binTokens = 5L, nShards = 1)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSeq
    assert(got === Seq(
      (1L, 3L, 0L, 3L, false), (2L, 2L, 0L, 5L, false),
      (3L, 6L, 1L, 6L, true), (4L, 1L, 2L, 1L, false),
      (5L, 0L, 2L, 1L, false)))
  }

  test("packSequences joins member texts in id order; counts conserve the corpus") {
    val fix = Seq(
      (1L, "a b c"), (2L, "d e"), (3L, "p q r s t u"),
      (4L, "y"), (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.packSequences(fix, "doc_id", "text",
        binTokens = 5L, nShards = 1)
      .orderBy("bin")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getString(5))).toSeq
    assert(got === Seq(
      (0L, 2L, 5L, false, "a b c d e"),
      (1L, 1L, 6L, true, "p q r s t u"),
      (2L, 2L, 1L, false, "y ")))
    // corpus conservation on real data: every doc lands in exactly one bin
    val docs = wh.loadTable("documents").select("doc_id", "text")
    val seqs = TextAnalysis.packSequences(docs, "doc_id", "text",
      binTokens = 90L, nShards = 8)
    val (nDocs, nToks) = seqs.agg(sum("n_docs"), sum("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(nDocs === docs.count())
    val totalToks = docs
      .select(coalesce(size(split(trim(col("text")), "\\s+")).cast("long"),
        lit(0L)).as("t"))
      .agg(sum("t")).collect().head.getLong(0)
    assert(nToks === totalToks)
  }

  test("packBinsIncremental: snapshot-fold == one-shot under append-ordered batches") {
    val docs = wh.loadTable("documents").select("doc_id", "text")
    val oneShot = TextAnalysis.packBins(docs, "doc_id", "text",
        binTokens = 90L, nShards = 8)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    // three append-ordered batches folded through the store
    val cuts = Seq(0L, 150L, 350L, 10000L)
    var store = TextAnalysis.packStore(
      docs.filter(col("doc_id") < 0), "doc_id", "text", 90L, 8)
    val folded = cuts.sliding(2).flatMap { case Seq(lo, hi) =>
      val batch = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      val asg = TextAnalysis.packBinsIncremental(batch, store,
        "doc_id", "text", 90L, 8)
      store = TextAnalysis.updatePackStore(store, asg, "doc_id")
      asg.collect().map(_.toSeq)
    }.toSeq.sortBy(_.head.asInstanceOf[Long])
    assert(folded === oneShot.toSeq)
    // final store equals the one-shot store
    val gotStore = store.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val wantStore = TextAnalysis.packStore(docs, "doc_id", "text", 90L, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotStore === wantStore)
  }

  test("packBinsIncremental: store-less shards start fresh; open bin continues or overflows") {
    // one shard; history packs (3) into bin 0 fill 3 of budget 5
    val hist = Seq((1L, "a b c")).toDF("doc_id", "text")
    val store = TextAnalysis.packStore(hist, "doc_id", "text", 5L, 1)
    assert(store.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).toSeq === Seq((0L, 0L, 3L)))
    // batch: (2) fits the open bin -> bin 0 fill 5; (4) overflows -> bin 1
    val batch = Seq((2L, "d e"), (3L, "f g h i")).toDF("doc_id", "text")
    val got = TextAnalysis.packBinsIncremental(batch, store,
        "doc_id", "text", 5L, 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSeq
    assert(got === Seq((2L, 0L, 5L), (3L, 1L, 4L)))
    // empty store: identical to packBins
    val fresh = TextAnalysis.packBinsIncremental(batch,
        store.filter(col("shard") < 0), "doc_id", "text", 5L, 1)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val plain = TextAnalysis.packBins(batch, "doc_id", "text", 5L, 1)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(fresh === plain)
  }

  test("packBins is invariant to input partitioning") {
    val docs = wh.loadTable("documents").select("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.packBins(d, "doc_id", "text", binTokens = 90L, nShards = 4)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(run(docs) === run(docs.repartition(17)))
  }

  test("collocations: closed-form lifts, truncating division, tie-break order") {
    // N=7 tokens; uni p=3 q=2 x=1 y=1; all lifts hand-computed, two of
    // them non-integral (floor) and two tied (lexicographic tie-break)
    val docs = Seq((1L, "p q x"), (2L, "q p p y")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, "text", minCount = 1, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got === Seq(
      ("q", "x", 1L, 2L, 1L, 7L, 3500000L),
      ("p", "y", 1L, 3L, 1L, 7L, 2333333L),
      ("p", "q", 1L, 3L, 2L, 7L, 1166666L),
      ("q", "p", 1L, 2L, 3L, 7L, 1166666L),
      ("p", "p", 1L, 3L, 3L, 7L, 777777L)))
  }

  test("collocations: minCount prunes and topK caps") {
    val docs = Seq((1L, "a b a b a b"), (2L, "c d")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, "text", minCount = 2, topK = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // (a,b) appears 3x, (b,a) 2x, (c,d) 1x pruned; topK=1 keeps the
    // highest-lift survivor only
    assert(got.length === 1 && got.head._3 >= 2L)
  }

  test("ilog2Fp: exact at powers of two, monotone, within 2^-20 of log2") {
    import graft.functions.Kernels.ilog2Fp
    assert(ilog2Fp(1L) === 0L)
    (0 to 40).foreach(e => assert(ilog2Fp(1L << e) === e.toLong << 20))
    val vals = Seq(2L, 3L, 7L, 100L, 12345L, 1000003L, (1L << 40) + 9999L)
    vals.foreach { n =>
      val fp = ilog2Fp(n).toDouble / (1 << 20)
      val exact = math.log(n.toDouble) / math.log(2.0)
      assert(math.abs(fp - exact) < 2.0 / (1 << 20) + 1e-9,
        s"ilog2Fp($n) = $fp vs log2 = $exact")
    }
    vals.sliding(2).foreach { case Seq(a, b) =>
      assert(ilog2Fp(a) < ilog2Fp(b))
    }
  }

  test("dsirScore favors target-like docs; NULL text scores 0") {
    // target corpus is all-'alpha' docs; raw mixes alpha and beta —
    // an alpha doc must outscore a beta doc under the trained weights
    val target = Seq.tabulate(8)(i => (i.toLong, "alpha alpha common"))
      .toDF("doc_id", "text")
    val raw = (Seq.tabulate(8)(i => (i.toLong, "alpha alpha common")) ++
      Seq.tabulate(8)(i => (100L + i, "beta beta common")) :+
      ((200L, null.asInstanceOf[String]))).toDF("doc_id", "text")
    val model = TextAnalysis.trainDsir(target, raw, "text")
    val scored = TextAnalysis.dsirScore(raw, "text", model)
      .select("doc_id", "n_grams", "dsir_score")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(scored(0L)._2 > scored(100L)._2)
    assert(scored(200L) === ((0L, 0L)))
    // kernel vs local replay: weights are pure ilog2Fp differences, the
    // doc score a plain sum over gram instances
    val m = model
    val buckets = graft.functions.Kernels.dsirBuckets(
      org.apache.spark.unsafe.types.UTF8String.fromString("alpha alpha common"),
      m.numBuckets)
    val expected = buckets.map(b => m.weights(b)).sum + buckets.length * m.perGram
    assert(scored(0L)._2 === expected)
    assert(scored(0L)._1 === buckets.length.toLong)
  }

  test("charEntropy: closed-form values, flag thresholds, NULL contract") {
    import graft.functions.Kernels.ilog2Fp
    val docs = Seq(
      (1L, "aaaa"),                       // one symbol → entropy 0
      (2L, "ab"),                         // two equiprobable → exactly 1.0 bit
      (3L, "a" * 100),                    // long single-symbol → low_entropy
      (4L, ("abcdefghijklmnop" * 8)),     // 16 symbols uniform → 4.0 bits
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(docs, "text")
      .select("doc_id", "n_chars_ent", "entropy_fp", "low_entropy")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(1L) === ((4L, 0L, false)))       // short → no flag
    assert(got(2L) === ((2L, 1L << 20, false))) // exactly 1.0 bit
    assert(got(3L) === ((100L, 0L, true)))      // long + zero entropy → flag
    assert(got(4L)._2 === 4L << 20)             // exactly 4.0 bits
    assert(!got(4L)._3)
    assert(got(5L) === ((0L, 0L, false)))       // NULL contract
    // local replay on a mixed-text value
    val text = "hello world, hello entropy!"
    val counts = text.groupBy(identity).view.mapValues(_.length.toLong)
    val n = text.length.toLong
    val num = counts.values.map(c => c * (ilog2Fp(n) - ilog2Fp(c))).sum
    val row = TextAnalysis.charEntropy(Seq((9L, text)).toDF("doc_id", "text"), "text")
      .select("entropy_fp").collect().head.getLong(0)
    assert(row === num / n)
  }

  test("dsirSelect returns exactly k docs ranked (score desc, id asc)") {
    val target = Seq.tabulate(4)(i => (i.toLong, "x y z")).toDF("doc_id", "text")
    val raw = (Seq.tabulate(6)(i => (i.toLong, "x y z")) ++
      Seq.tabulate(6)(i => (50L + i, "q r s"))).toDF("doc_id", "text")
    val model = TextAnalysis.trainDsir(target, raw, "text")
    val sel = TextAnalysis.dsirSelect(raw, "doc_id", "text", model, 6)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    // the 6 target-like docs win, in id order within the tied score
    assert(sel === Seq(0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("readability: hand-exact fixed-point metrics, NULL/empty contracts") {
    val docs = Seq(
      (1L, Some("the cat sat. it was flat! or what?!")),
      // W=8 (".","!","?!" → 3 runs... counted: '.','!','?!' = 3? see below)
      (2L, Some("")), (3L, Some("   ")),      // zero words, scores NULL
      (4L, Some("rhythm myth")),              // no vowels → 1 syllable each
      (5L, None),                             // NULL text → NULL metrics
      (6L, Some("a b c")),
      (7L, Some("hello world. this is a test of readability metrics.")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.readability(docs, "text")
      .collect().map(r => r.getLong(0) -> (
        (Option(r.getAs[Any]("n_words")), Option(r.getAs[Any]("n_sentences")),
         Option(r.getAs[Any]("n_syllables")), Option(r.getAs[Any]("flesch_e3")),
         Option(r.getAs[Any]("fk_grade_e3"))))).toMap
    // independently computed with the python/DuckDB reference:
    assert(got(1L) === ((Some(8L), Some(3L), Some(8L), Some(119529L),
      Some(-2750L))))
    assert(got(2L) === ((Some(0L), Some(1L), Some(0L), None, None)))
    assert(got(3L) === ((Some(0L), Some(1L), Some(0L), None, None)))
    assert(got(4L) === ((Some(2L), Some(1L), Some(2L), Some(120205L),
      Some(-3010L))), "vowel-less words still count one syllable")
    assert(got(5L) === ((None, None, None, None, None)))
    assert(got(6L) === ((Some(3L), Some(1L), Some(3L), Some(119190L),
      Some(-2620L))))
    assert(got(7L) === ((Some(9L), Some(2L), Some(15L), Some(61268L),
      Some(5831L))), "multi-sentence doc: both divisions exercised")
  }

  test("blocklistTag: overlapping/nested counts, firsts, NULLs, case") {
    // patterns: 'ab'(0) ⊂ 'abab'(1); 'b'(2) overlaps both; 'xyz'(3) absent
    val model = TextAnalysis.trainBlocklist(Seq("ab", "abab", "b", "xyz"))
    val docs = Seq(
      (1L, Some("ababab")),  // ab@1,3,5 abab@1,3 b@2,4,6 → 8 hits, 3 distinct
      (2L, Some("zzz")),     // clean
      (3L, None),            // NULL text: clean by convention
      (4L, Some("AB")),      // case-sensitive: clean
      (5L, Some("xxb")))     // single 'b' at char 3
      .toDF("doc_id", "text")
    val got = TextAnalysis.blocklistTag(docs, "text", model)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("block_hits"), r.getAs[Long]("block_distinct"),
          Option(r.getAs[Any]("block_first_pos")).map(_.asInstanceOf[Long]),
          Option(r.getAs[Any]("block_first_pat")).map(_.asInstanceOf[Long]),
          r.getAs[Boolean]("blocked")))).toMap
    assert(got(1L) === ((8L, 3L, Some(1L), Some(0L), true)),
      "all overlapping and nested occurrences count; pos tie → smallest id")
    assert(got(2L) === ((0L, 0L, None, None, false)))
    assert(got(3L) === ((0L, 0L, None, None, false)), "NULL text is clean")
    assert(got(4L) === ((0L, 0L, None, None, false)), "exact-byte matching")
    assert(got(5L) === ((1L, 1L, Some(3L), Some(2L), true)))
    // first_pos counts CODE POINTS, not bytes: 'é' is 2 UTF-8 bytes
    val utf = TextAnalysis.blocklistTag(
        Seq((1L, "héllo héllo")).toDF("doc_id", "text"), "text",
        TextAnalysis.trainBlocklist(Seq("él")))
      .collect().head
    assert(utf.getAs[Long]("block_hits") === 2L &&
      utf.getAs[Long]("block_first_pos") === 2L,
      "two matches; the first starts at code point 2")
    // nested 'aa' in 'aaaa' → 3 overlapping starts
    val aa = TextAnalysis.blocklistTag(
        Seq((1L, "aaaa")).toDF("doc_id", "text"), "text",
        TextAnalysis.trainBlocklist(Seq("aa"))).collect().head
    assert(aa.getAs[Long]("block_hits") === 3L)
    // a long suffix chain: pattern sharing forces fail-link traversal
    val chain = TextAnalysis.blocklistTag(
        Seq((1L, "mississippi")).toDF("doc_id", "text"), "text",
        TextAnalysis.trainBlocklist(Seq("issi", "ssi", "si", "i", "ppi")))
      .collect().head
    // i@2,5,8,11(4) si@4,7(2) ssi@3,6(2) issi@2,5(2) ppi@9(1) = 11 hits
    assert(chain.getAs[Long]("block_hits") === 11L &&
      chain.getAs[Long]("block_distinct") === 5L &&
      chain.getAs[Long]("block_first_pos") === 2L)
  }

  test("trainBlocklist: DataFrame trainer sorts/dedups; guards hold") {
    val model = TextAnalysis.trainBlocklist(
      Seq("zeta", "alpha", "zeta", "", "beta").toDF("p"), "p")
    assert(model.numPatterns === 3, "dedup + empty drop")
    // sorted ids: alpha=0, beta=1, zeta=2
    val got = TextAnalysis.blocklistTag(
        Seq((1L, "zeta then alpha")).toDF("doc_id", "text"), "text", model)
      .collect().head
    assert(got.getAs[Long]("block_first_pat") === 2L,
      "first match is 'zeta' → sorted id 2")
    intercept[IllegalArgumentException] {
      TextAnalysis.trainBlocklist(Seq.empty[String])
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.trainBlocklist(
        Seq.tabulate(12)(i => s"p$i").toDF("p"), "p", maxPatterns = 10)
    }
  }
}

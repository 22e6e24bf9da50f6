package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row compute kernels, written as static methods: a
  * [[KernelCall]] column calls one of them by name, the same call
  * interpreted and in generated code, and stays inside whole-stage codegen.
  *
  * All hashing is self-contained (FNV-1a base hash + splitmix64
  * finalizer + affine 64-bit permutations) so results are deterministic
  * across JVMs and partitions.
  */
/** Trained BPE merge table (Sennrich et al., ACL 2016). Symbols are ints:
  * initial symbols are Unicode CODE POINTS (r12 — unified with the
  * engine-wide codepoint convention; UTF-16 units diverged from every
  * substring/unicode oracle on astral chars), merge r creates symbol
  * 0x110000 + r — the first integer NO code point can be, which is why
  * merged symbols can never collide with initials. `sortedKeys` holds
  * pair keys ((a.toLong << 32) | b)
  * sorted for binary search; `rankAt(i)` is the training rank (merge
  * priority — lower merges first) of `sortedKeys(i)`.
  */
final class BpeModel(val sortedKeys: Array[Long], val rankAt: Array[Int])
    extends Serializable {
  def numMerges: Int = sortedKeys.length
  /** rank of pair (a,b), or -1 if the pair was never merged. */
  def rank(a: Int, b: Int): Int = {
    val idx = java.util.Arrays.binarySearch(sortedKeys, (a.toLong << 32) | (b & 0xffffffffL))
    if (idx >= 0) rankAt(idx) else -1
  }
}

/** Trained eval-set gram membership model for map-side decontamination:
  * the benchmark's distinct shingle hashes, sorted for binary search,
  * PLUS the shingling parameters they were trained under (`n`, `char`) —
  * the model is self-contained like [[BpeModel]]/[[DfModel]], so a probe
  * can never silently run with a mismatched gram width/shingler (which
  * would report everything uncontaminated). Eval sets are small by
  * definition (bounded by
  * [[graft.operators.Dedup.trainDecontaminationSet]]), so the whole set
  * rides to executors as one codegen reference object.
  */
final class GramSetModel(val sorted: Array[Long], val n: Int,
    val char: Boolean) extends Serializable with GramProbe {
  def size: Int = sorted.length
  def contains(h: Long): Boolean =
    java.util.Arrays.binarySearch(sorted, h) >= 0
}

/** Quantized eval-set embeddings for map-side SEMANTIC decontamination
  * ([[graft.operators.Dedup.trainSemanticContaminationSet]]): each bench
  * vector stored as round-half-away(x·10⁴) longs with its precomputed
  * squared norm. The e4 quantization makes the cosine threshold a pure
  * INTEGER decision any engine replays bit-exactly (DuckDB `round` has
  * the same ties-away convention) at ~10⁻⁴ cosine precision — noise at
  * decontamination thresholds. Bounded like [[GramSetModel]]: eval sets
  * are small by definition, and the whole set rides to executors as one
  * codegen reference object.
  */
final class VecSetModel(val qvecs: Array[Array[Long]], val norms: Array[Long])
    extends Serializable {
  def size: Int = qvecs.length
}

/** Common face of the gram-membership models ([[GramSetModel]] exact,
  * [[GramBloomModel]] approximate) — [[Kernels.anyGramIn]] probes either.
  */
trait GramProbe {
  def n: Int
  def char: Boolean
  def contains(h: Long): Boolean
}

/** Bloom-filter gram membership for map-side decontamination at eval-set
  * sizes the exact sorted-array model refuses (beyond its maxGrams the
  * array would not fit a codegen reference object): ~1.2 bytes/gram at
  * 1% fpp instead of 8, built DISTRIBUTED (treeAggregate — grams never
  * collect to the driver). One-sided error in the SAFE direction for
  * decontamination: an inserted gram always probes true (no false
  * negatives ⇒ nothing contaminated ever slips through); false positives
  * over-flag clean documents at a bounded, seedless-deterministic rate
  * (bloom bits are an OR over value hashes — insertion-order and
  * partitioning independent).
  */
final class GramBloomModel(val bloom: org.apache.spark.util.sketch.BloomFilter,
    val n: Int, val char: Boolean) extends Serializable with GramProbe {
  def contains(h: Long): Boolean = bloom.mightContainLong(h)
}

/** Trained bigram language model for fluency scoring (the CCNet-style
  * LM-filtering step, Wenzek et al. 2020, reduced to engine-exact rational
  * arithmetic): `sortedWords` (natural order, binary-searchable) with
  * per-word total counts, and the top-B bigrams over that vocabulary as
  * packed (id1 << 32 | id2) keys with counts. Bounded like
  * [[BpeModel]]/[[DfModel]] — the trained artifact of
  * [[graft.operators.TextAnalysis.trainLmModel]].
  */
final class LmModel(val sortedWords: Array[String], val wordCount: Array[Long],
    val bigramKeys: Array[Long], val bigramCount: Array[Long])
    extends Serializable {
  def vocabSize: Int = sortedWords.length
  /** vocabulary id of `w` (index into sortedWords), or -1 if OOV. */
  def wordId(w: String): Int = {
    val idx = java.util.Arrays.binarySearch(
      sortedWords.asInstanceOf[Array[AnyRef]], w)
    if (idx >= 0) idx else -1
  }
  /** count of bigram (a, b), 0 if the pair was not retained. */
  def bigram(a: Int, b: Int): Long = {
    val idx = java.util.Arrays.binarySearch(
      bigramKeys, (a.toLong << 32) | (b & 0xffffffffL))
    if (idx >= 0) bigramCount(idx) else 0L
  }
}

/** Document-frequency vocabulary for TF-IDF scoring: `sortedWords` in
  * Java natural order for binary search, `dfAt(i)` the document
  * frequency of `sortedWords(i)`, `nDocs` the corpus size at training
  * time. Built by a vocabulary-bounded aggregation
  * ([[graft.operators.TextAnalysis.trainDfModel]]); words absent from
  * the vocabulary score 0 and are skipped.
  */
final class DfModel(val sortedWords: Array[String], val dfAt: Array[Long],
    val nDocs: Long) extends Serializable {
  def vocabSize: Int = sortedWords.length
  /** document frequency of `w`, or -1 if out of vocabulary. */
  def df(w: String): Long = {
    val idx = java.util.Arrays.binarySearch(
      sortedWords.asInstanceOf[Array[AnyRef]], w)
    if (idx >= 0) dfAt(idx) else -1L
  }
}

/** Trained product-quantization codebook (Jégou et al., TPAMI 2011): the
  * vector dimension splits into `m` subspaces of `dsub` dims; each
  * subspace carries its own table of `ksub` sub-centroids over
  * UNIT-NORMALIZED vectors. Flattened for cache locality: centroid j of
  * subspace s occupies `flat[(s*ksub + j)*dsub ..+ dsub]`. Bounded like
  * [[BpeModel]]/[[LmModel]] — the trained artifact of
  * [[graft.operators.Similarity.trainPq]]; codes index with one byte, so
  * ksub ≤ 256.
  */
final class PqModel(val m: Int, val dsub: Int, val ksub: Int,
    val flat: Array[Float]) extends Serializable {
  require(m >= 1 && dsub >= 1, s"need m >= 1, dsub >= 1, got m=$m dsub=$dsub")
  require(ksub >= 1 && ksub <= 256, s"ksub must be in [1, 256], got $ksub")
  require(flat.length == m * ksub * dsub,
    s"flat codebook length ${flat.length} != m*ksub*dsub = ${m * ksub * dsub}")
  def dim: Int = m * dsub
}

/** Trained hashed-n-gram quality classifier (fastText-style linear text
  * classifier, Joulin et al. 2017, reduced to engine-exact integer
  * arithmetic): `weights(b)` is the fixed-point weight (scaled by
  * `scale`) of feature bucket `b` under the hashing trick. Trained by
  * [[graft.operators.TextAnalysis.trainQualityClassifier]] — bounded
  * driver-side least-squares GD whose every operation is integer, so
  * the DuckDB oracle rebuilds the weights bit-for-bit. Bounded like
  * [[BpeModel]]/[[LmModel]]/[[DfModel]].
  */
final class QualityLrModel(val weights: Array[Long], val numBuckets: Int,
    val scale: Long) extends Serializable {
  require(weights.length == numBuckets,
    s"weights length ${weights.length} != numBuckets $numBuckets")
  require(scale > 0, s"scale must be positive, got $scale")
}

/** Trained DSIR importance model (Data Selection via Importance
  * Resampling, Xie et al. NeurIPS 2023, reduced to engine-exact integer
  * arithmetic): `weights(b)` = ilog2Fp(c_target(b)+1) −
  * ilog2Fp(c_raw(b)+1) for hashed-n-gram bucket `b`, and `perGram` =
  * ilog2Fp(N_raw + d) − ilog2Fp(N_target + d) carries the two
  * normalizer constants once per gram instance, so a document's
  * importance score Σ_g [log2 p̂_target(g) − log2 p̂_raw(g)] (add-one
  * smoothing, fixed point 2^-20) is a pure LONG sum — order-free,
  * bit-identical in any engine. Trained by
  * [[graft.operators.TextAnalysis.trainDsir]].
  */
final class DsirModel(val weights: Array[Long], val numBuckets: Int,
    val perGram: Long) extends Serializable {
  require(weights.length == numBuckets,
    s"weights length ${weights.length} != numBuckets $numBuckets")
}

/** Packed stopword lookup table for [[Kernels.langIdHits]]: each word
  * (≤ 8 ASCII word chars) packs into one long (8 bits/char); `packed` is
  * sorted for binary search and `langIdx(i)` is the language index of
  * `packed(i)` (duplicates allowed — a word shared by two languages counts
  * for both, like the per-language regexes would). It prints as its
  * words, so a plan that carries it shows which stopwords it counts.
  */
final class LangLookup private (
    val packed: Array[Long], val langIdx: Array[Int], val numLangs: Int,
    words: Seq[String])
    extends Serializable {
  override def toString: String = words.mkString(", ")
}

object LangLookup {
  def pack(w: String): Long = {
    require(w.nonEmpty && w.length <= 8 &&
      w.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'),
      s"stopword must be 1-8 lowercase ASCII word chars: '$w'")
    var p = 0L
    w.foreach(c => p = (p << 8) | c)
    p
  }

  def build(langs: Seq[Seq[String]]): LangLookup = {
    val entries = (for ((ws, li) <- langs.zipWithIndex; w <- ws) yield (pack(w), li))
      .sortBy(_._1)
    new LangLookup(entries.map(_._1).toArray, entries.map(_._2).toArray, langs.length,
      langs.flatten)
  }
}

object LangIdHits {
  /** Canonical marker-stopword lists (public knowledge, ten high-frequency
    * function words per language), in the fixed output order en/de/fr/es;
    * the [[Kernels.langIdHits]] trailing slot is the CJK (zh) count.
    */
  val defaultOrder: Seq[String] = Seq("en", "de", "fr", "es")
  val defaultStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ich", "ein", "sie", "mit"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "los", "las", "es", "una", "como", "por", "para", "con", "se"))
  def defaultLangs: Seq[Seq[String]] = defaultOrder.map(defaultStopwords)
}

/** Trained Aho-Corasick automaton over UTF-8 BYTES for multi-pattern
  * blocklist tagging ([[graft.operators.TextAnalysis.blocklistTag]]):
  * ALL patterns are matched in ONE scan of each document regardless of
  * blocklist size — the per-pattern LIKE/instr formulation is
  * O(|text|·|patterns|) and loses by the pattern count at 100 TB.
  * CSR node storage (edges sorted by unsigned byte for binary search),
  * BFS fail links, per-node exact-end pattern lists plus `outLink`
  * (nearest fail-ancestor with ends) and `hitCum` (total patterns
  * ending at the node INCLUDING the fail chain — the zero-check fast
  * path: documents with no hits never walk an output chain). Blocklists
  * are small by definition (bounded by the trainer), so the automaton
  * rides to executors as one codegen reference object like
  * [[GramSetModel]]. Byte-level matching equals code-point matching on
  * valid UTF-8: a pattern's first byte is a lead byte, and lead bytes
  * only occur at character boundaries.
  */
final class AcModel(
    val edgeStart: Array[Int], val edgeByte: Array[Byte],
    val edgeTo: Array[Int], val fail: Array[Int],
    val endStart: Array[Int], val endPat: Array[Int],
    val outLink: Array[Int], val hitCum: Array[Long],
    val patByteLen: Array[Int]) extends Serializable {
  def numPatterns: Int = patByteLen.length
}

object AcModel {
  /** Build the automaton from distinct non-empty patterns (pattern id =
    * position in `patterns`). Driver-side, O(total pattern bytes).
    */
  def build(patterns: Seq[String]): AcModel = {
    require(patterns.nonEmpty, "AcModel: need at least one pattern")
    require(patterns.distinct.length == patterns.length,
      "AcModel: patterns must be distinct")
    val pats = patterns.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    pats.zipWithIndex.foreach { case (p, i) =>
      require(p.nonEmpty, s"AcModel: pattern $i is empty") }
    // trie with per-node sorted (unsigned byte -> child) maps
    val children = scala.collection.mutable.ArrayBuffer(
      new java.util.TreeMap[Int, Int]())
    val endsAt = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    pats.zipWithIndex.foreach { case (p, pid) =>
      var node = 0
      p.foreach { b =>
        val ub = b & 0xff
        val nxt = children(node).getOrDefault(ub, -1)
        node = if (nxt >= 0) nxt
        else {
          children += new java.util.TreeMap[Int, Int]()
          endsAt += scala.collection.mutable.ArrayBuffer.empty[Int]
          val id = children.length - 1
          children(node).put(ub, id); id
        }
      }
      endsAt(node) += pid
    }
    val n = children.length
    // CSR edges
    val edgeStart = new Array[Int](n + 1)
    var e = 0
    for (i <- 0 until n) { edgeStart(i) = e; e += children(i).size() }
    edgeStart(n) = e
    val edgeByte = new Array[Byte](e)
    val edgeTo = new Array[Int](e)
    for (i <- 0 until n) {
      var j = edgeStart(i)
      children(i).forEach { (ub, to) =>
        edgeByte(j) = ub.toByte; edgeTo(j) = to; j += 1 }
    }
    // BFS fail links + outLink + hitCum
    val fail = new Array[Int](n)
    val outLink = Array.fill(n)(-1)
    val hitCum = new Array[Long](n)
    hitCum(0) = endsAt(0).length.toLong
    val queue = new java.util.ArrayDeque[Int]()
    children(0).forEach { (_, to) =>
      fail(to) = 0
      hitCum(to) = endsAt(to).length.toLong
      outLink(to) = if (endsAt(0).nonEmpty) 0 else -1
      queue.add(to)
    }
    while (!queue.isEmpty) {
      val u = queue.poll()
      children(u).forEach { (ub, v) =>
        // follow u's fail chain for a ub-edge (u is never the root here,
        // so the found node is always in another subtree, never v itself)
        var f = fail(u)
        var t = -1
        var done = false
        while (!done) {
          val hit = children(f).getOrDefault(ub, -1)
          if (hit >= 0) { t = hit; done = true }
          else if (f == 0) done = true
          else f = fail(f)
        }
        fail(v) = if (t >= 0) t else 0
        hitCum(v) = endsAt(v).length.toLong + hitCum(fail(v))
        outLink(v) =
          if (endsAt(fail(v)).nonEmpty) fail(v) else outLink(fail(v))
        queue.add(v)
      }
    }
    // CSR exact-end pattern lists
    val endStart = new Array[Int](n + 1)
    var k = 0
    for (i <- 0 until n) { endStart(i) = k; k += endsAt(i).length }
    endStart(n) = k
    val endPat = new Array[Int](k)
    for (i <- 0 until n; (pid, j) <- endsAt(i).zipWithIndex)
      endPat(endStart(i) + j) = pid
    new AcModel(edgeStart, edgeByte, edgeTo, fail, endStart, endPat,
      outLink, hitCum, pats.map(_.length).toArray)
  }
}

object Kernels {

  /** FNV-1a 64-bit over UTF-8 bytes, strengthened with splitmix64. */
  def hash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    splitmix64(h)
  }

  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Distinct hashes of word n-grams, one pass over the text: tokens split
    * on a single space (empty tokens preserved — same tokenization as
    * split(trim(text), ' ') / DuckDB string_split), per-token FNV-1a over
    * chars, n-gram hash = order-sensitive polynomial combine of n
    * consecutive token hashes, splitmix64-finalized, sorted distinct.
    *
    * Replaces the shingle pipeline
    * split → transform(sequence → slice → array_join) → array_distinct →
    * per-gram hash, which materializes every gram as a string (~3× slower
    * and allocation-heavy). Set sizes are preserved modulo 64-bit
    * collisions, so jaccard results are unchanged.
    */
  /** Finalized word-n-gram hashes in TEXT ORDER, or null for < n tokens —
    * the single shared basis of the unweighted ([[wordNgramHashes]]),
    * occurrence-indexed ([[wordNgramHashesTf]]) and ICWS
    * ([[icwsMinhash]]) variants: one definition of tokenization + hashing,
    * so the three can never drift apart bit-wise (the weighted oracles
    * and the occurrence-expansion identity depend on that).
    */
  private def wordGramHashArray(text: UTF8String, n: Int): Array[Long] = {
    val s = text.toString.trim
    val toks = s.split(" ", -1)
    if (toks.length < n) return null
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < t.length) {
        h ^= t.charAt(j).toLong
        h *= 0x100000001b3L
        j += 1
      }
      th(i) = h
      i += 1
    }
    val m = toks.length - n + 1
    val grams = new Array[Long](m)
    i = 0
    while (i < m) {
      var g = 0xcbf29ce484222325L
      var j = i
      while (j < i + n) {
        g = (g ^ th(j)) * 0x100000001b3L
        j += 1
      }
      grams(i) = splitmix64(g)
      i += 1
    }
    grams
  }

  def wordNgramHashes(text: UTF8String, n: Int): ArrayData = {
    val grams = wordGramHashArray(text, n)
    if (grams == null) return new GenericArrayData(Array.empty[Long])
    val m = grams.length
    java.util.Arrays.sort(grams)
    var unique = 1
    var i = 1
    while (i < m) {
      if (grams(i) != grams(i - 1)) { grams(unique) = grams(i); unique += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(grams, unique))
  }

  /** Distinct hashes of character n-grams — the shingle basis for
    * unspaced scripts (zh/ja/th) where word tokenization is meaningless.
    * Same output contract as [[wordNgramHashes]]: sorted distinct longs.
    */
  def charNgramHashes(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString.trim
    if (s.length < n) return new GenericArrayData(Array.empty[Long])
    val m = s.length - n + 1
    val grams = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        h ^= s.charAt(i + j).toLong
        h *= 0x100000001b3L
        j += 1
      }
      grams(i) = splitmix64(h)
      i += 1
    }
    java.util.Arrays.sort(grams)
    var unique = 1
    i = 1
    while (i < m) {
      if (grams(i) != grams(i - 1)) { grams(unique) = grams(i); unique += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(grams, unique))
  }

  /** OCCURRENCE-INDEXED hashes of word n-grams: the j-th occurrence of a
    * gram hashes to mix(gramHash, j), so the multiset of grams becomes a
    * SET of (gram, occurrence) elements. Set jaccard over these equals
    * TF-weighted jaccard Σmin(tfₐ,tf_b)/Σmax(tfₐ,tf_b) EXACTLY (integer
    * weights): min(tfₐ,tf_b) occurrence elements are shared, max is the
    * union contribution. Standard MinHash over this set is therefore an
    * unbiased weighted-MinHash, and PPJoin prefix filtering stays exact.
    * The 0-th occurrence keeps the plain finalized gram hash, so a doc
    * with all-distinct grams emits exactly [[wordNgramHashes]]'s set.
    * Output sorted (distinct by construction modulo 64-bit collisions).
    */
  def wordNgramHashesTf(text: UTF8String, n: Int): ArrayData = {
    val grams = wordGramHashArray(text, n)
    if (grams == null) return new GenericArrayData(Array.empty[Long])
    val m = grams.length
    // sort → equal runs; occurrence index = position in run
    java.util.Arrays.sort(grams)
    var i = 0
    var occ = 0L
    while (i < m) {
      if (i > 0 && grams(i) == grams(i - 1)) occ += 1 else occ = 0L
      if (occ > 0) grams(i) = splitmix64(grams(i) + occ * 0x9e3779b97f4a7c15L)
      i += 1
    }
    java.util.Arrays.sort(grams)
    new GenericArrayData(grams)
  }

  /** Improved Consistent Weighted Sampling signature (Ioffe, ICDM 2010)
    * over TF-weighted word n-grams: per permutation k, each distinct gram
    * with weight w draws r,c ~ Gamma(2,1), β ~ U(0,1) from a seeded hash
    * stream; t = ⌊ln(w)/r + β⌋, ln(a) = ln(c) − r·(t − β) − r; the slot
    * records hash(gram, t) of the argmin-a gram. Pr[slotₐ == slot_b] =
    * weighted jaccard EXACTLY, for arbitrary non-negative real weights —
    * the scale path when weights stop being integers (tf-idf, scores),
    * where the occurrence-expansion trick ([[wordNgramHashesTf]]) can't
    * apply. Empty input (< n tokens) → empty array (caller filters).
    */
  def icwsMinhash(text: UTF8String, n: Int, numPerms: Int, seed: Long): ArrayData = {
    val grams = wordGramHashArray(text, n)
    if (grams == null) return new GenericArrayData(Array.empty[Long])
    val m = grams.length
    java.util.Arrays.sort(grams)
    // run-length → (distinct gram, tf, ln(tf)) arrays
    var d = 1
    var i = 1
    while (i < m) { if (grams(i) != grams(i - 1)) d += 1; i += 1 }
    val gs = new Array[Long](d)
    val lnW = new Array[Double](d)
    var run = 1
    var di = 0
    i = 1
    while (i <= m) {
      if (i == m || grams(i) != grams(i - 1)) {
        gs(di) = grams(i - 1); lnW(di) = math.log(run.toDouble)
        di += 1; run = 1
      } else run += 1
      i += 1
    }
    // per-gram stream base, gram-dependent only — computed once, not once
    // per permutation (numPerms× redundant mixes otherwise)
    val gh = new Array[Long](d)
    i = 0
    while (i < d) { gh(i) = splitmix64(gs(i) + seed); i += 1 }
    val sig = new Array[Long](numPerms)
    val inv53 = 1.0 / 9007199254740992.0 // 2^-53
    var k = 0
    while (k < numPerms) {
      var bestLnA = Double.MaxValue
      var bestG = 0L
      var bestT = 0L
      // (perm, draw)-unique offsets, gram-independent — hoisted out of the
      // inner loop (distinct across all (k, draw): k*5+1 … k*5+5)
      val base = k.toLong * 5L
      val o0 = splitmix64(base + 1L)
      val o1 = splitmix64(base + 2L)
      val o2 = splitmix64(base + 3L)
      val o3 = splitmix64(base + 4L)
      val o4 = splitmix64(base + 5L)
      i = 0
      while (i < d) {
        // five independent uniforms in (0,1) per (gram, perm): one mix of
        // the gram stream with each offset — the same gram draws the same
        // (r, c, β) in every document, the consistency ICWS requires
        val g = gh(i)
        val u0 = ((splitmix64(g ^ o0) >>> 11) + 0.5) * inv53
        val u1 = ((splitmix64(g ^ o1) >>> 11) + 0.5) * inv53
        val u2 = ((splitmix64(g ^ o2) >>> 11) + 0.5) * inv53
        val u3 = ((splitmix64(g ^ o3) >>> 11) + 0.5) * inv53
        val u4 = ((splitmix64(g ^ o4) >>> 11) + 0.5) * inv53
        val r = -math.log(u0 * u1) // Gamma(2,1) = Exp(1) + Exp(1)
        val c = -math.log(u2 * u3)
        val beta = u4
        val t = math.floor(lnW(i) / r + beta)
        val lnA = math.log(c) - r * (t - beta) - r
        if (lnA < bestLnA) { bestLnA = lnA; bestG = gs(i); bestT = t.toLong }
        i += 1
      }
      sig(k) = splitmix64(bestG ^ splitmix64(bestT + seed))
      k += 1
    }
    new GenericArrayData(sig)
  }

  /** MinHash signature: for each of `numPerms` affine permutations
    * (a*h+b with odd a), the minimum over all token hashes.
    * Empty input → Long.MaxValue per slot (never matches a non-empty sig).
    */
  def minhash(tokens: ArrayData, numPerms: Int, seed: Long): ArrayData = {
    val n = tokens.numElements()
    val base = new Array[Long](n)
    var i = 0
    while (i < n) {
      base(i) = if (tokens.isNullAt(i)) 0L else hash64(tokens.getUTF8String(i))
      i += 1
    }
    minhashBase(base, numPerms, seed)
  }

  /** MinHash over pre-hashed tokens/grams (array<bigint>) — pairs with
    * [[wordNgramHashes]] so no gram string is ever materialized.
    */
  def minhashLongs(hashes: ArrayData, numPerms: Int, seed: Long): ArrayData =
    minhashBase(hashes.toLongArray(), numPerms, seed)

  private def minhashBase(base: Array[Long], numPerms: Int, seed: Long): ArrayData = {
    val sig = new Array[Long](numPerms)
    var p = 0
    while (p < numPerms) {
      val a = splitmix64(seed + 2L * p) | 1L
      val b = splitmix64(seed + 2L * p + 1L)
      var m = Long.MaxValue
      var i = 0
      while (i < base.length) {
        val v = a * base(i) + b
        if (v < m) m = v
        i += 1
      }
      sig(p) = m
      p += 1
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash over token hashes (unweighted). Empty input → 0. */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) simhashAccumulate(counts, hash64(tokens.getUTF8String(i)))
      i += 1
    }
    simhashFinish(counts)
  }

  /** SimHash over pre-hashed tokens/grams (array<bigint>). */
  def simhash64Longs(hashes: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      simhashAccumulate(counts, hashes.getLong(i))
      i += 1
    }
    simhashFinish(counts)
  }

  /** Term-frequency-weighted 64-bit SimHash (Charikar, STOC 2002 weighted
    * form): every OCCURRENCE of a word n-gram votes, so a gram appearing
    * k times carries weight k — where the unweighted form over distinct
    * grams treats boilerplate repeated 100× and a one-off typo equally.
    * One pass over the text, no gram array materialized: token hashes →
    * rolling n-gram hash → direct bit-count accumulation.
    */
  def simhashTf(text: UTF8String, n: Int): Long = {
    val s = text.toString.trim
    val toks = s.split(" ", -1)
    if (toks.length < n) return 0L
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < t.length) {
        h ^= t.charAt(j).toLong
        h *= 0x100000001b3L
        j += 1
      }
      th(i) = h
      i += 1
    }
    val counts = new Array[Int](64)
    val m = toks.length - n + 1
    i = 0
    while (i < m) {
      var g = 0xcbf29ce484222325L
      var j = i
      while (j < i + n) {
        g = (g ^ th(j)) * 0x100000001b3L
        j += 1
      }
      simhashAccumulate(counts, splitmix64(g))
      i += 1
    }
    simhashFinish(counts)
  }

  private def simhashAccumulate(counts: Array[Int], h: Long): Unit = {
    var b = 0
    while (b < 64) {
      if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
      b += 1
    }
  }

  private def simhashFinish(counts: Array[Int]): Long = {
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Cosine similarity between two float vectors (double accumulation,
    * sequential order — deterministic). Zero-norm or length-mismatch → 0.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements() || n == 0) return 0.0
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** RAKE keyword extraction (Rose et al. 2010), per document, ONE text
    * scan → the top-k candidate phrases as array<struct<phrase,
    * score_ppm>> sorted by (score desc, phrase asc). The token-stream
    * contract any engine can replay relationally:
    *
    *  1. ASCII-lower; token chars are [a-z0-9]; ' ' closes a token
    *     (soft boundary), any OTHER char closes it AND breaks the
    *     phrase (equivalently: replace `[^a-z0-9 ]` with a breaker
    *     token and split on spaces — the oracle's formulation).
    *     Unicode never diverges: a non-ASCII letter is a breaker on
    *     both paths whatever `lower()` maps it to.
    *  2. A candidate phrase is a maximal run of consecutive
    *     non-stopword tokens (stopwords and hard breaks both end it).
    *  3. Per doc: freq(w) = occurrences of w across phrase tokens,
    *     deg(w) = Σ over occurrences of the containing phrase length;
    *     score_ppm(w) = 10⁶·deg(w) div freq(w) (truncating — both
    *     positive, so `/`, `div` and `//` agree);
    *     phrase score = Σ score_ppm(w) with multiplicity. deg/freq
    *     rewards words that co-occur in long phrases (RAKE's degree
    *     heuristic); the ppm fixed point keeps the sum integer-exact.
    *  4. Duplicate phrase instances collapse (their scores are equal
    *     by construction); ties rank by phrase text ascending (pure
    *     ASCII, so Java and UTF-8 byte order agree).
    *
    * Per-row cost is linear in the text; no shuffle anywhere — the
    * corpus-independent per-doc form of the published algorithm.
    */
  def rakeTopK(text: UTF8String, k: Int,
      stop: java.util.HashSet[String]): ArrayData = {
    val s = text.toString
    val toks = new scala.collection.mutable.ArrayBuffer[String]()
    val sb = new java.lang.StringBuilder()
    def flush(): Unit =
      if (sb.length > 0) { toks += sb.toString; sb.setLength(0) }
    var i = 0
    while (i < s.length) {
      val c0 = s.charAt(i)
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      else if (c == ' ') flush()
      else { flush(); toks += "|" }
      i += 1
    }
    flush()
    val phrases = new scala.collection.mutable.ArrayBuffer[
      scala.collection.mutable.ArrayBuffer[String]]()
    var cur: scala.collection.mutable.ArrayBuffer[String] = null
    toks.foreach { t =>
      if (t == "|" || stop.contains(t)) cur = null
      else {
        if (cur == null) {
          cur = new scala.collection.mutable.ArrayBuffer[String]()
          phrases += cur
        }
        cur += t
      }
    }
    if (phrases.isEmpty) return new GenericArrayData(Array.empty[Any])
    val freq = new scala.collection.mutable.HashMap[String, Long]()
    val deg = new scala.collection.mutable.HashMap[String, Long]()
    phrases.foreach { p =>
      val len = p.size.toLong
      p.foreach { w =>
        freq.update(w, freq.getOrElse(w, 0L) + 1L)
        deg.update(w, deg.getOrElse(w, 0L) + len)
      }
    }
    val scored = new scala.collection.mutable.LinkedHashMap[String, Long]()
    phrases.foreach { p =>
      val key = p.mkString(" ")
      if (!scored.contains(key)) {
        var sc = 0L
        p.foreach { w => sc += 1000000L * deg(w) / freq(w) }
        scored.update(key, sc)
      }
    }
    val top = scored.toArray
      .sortWith((a, b) => if (a._2 != b._2) a._2 > b._2 else a._1 < b._1)
      .take(k)
    new GenericArrayData(top.map { case (phrase, sc) =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(phrase), sc)): Any
    })
  }

  /** round-half-AWAY-from-zero of x·10⁴ — the DuckDB `round` convention
    * (`Math.round` ties toward +∞ and would diverge on negative dyadic
    * ties: −0.03125·10⁴ = −312.5 must quantize to −313 on both engines).
    * The float→double product is exact (24-bit mantissa × 10⁴ < 53
    * bits), so the tie cases are decided identically everywhere.
    */
  def quantE4(x: Double): Long = {
    val s = x * 10000.0
    (if (s >= 0) math.floor(s + 0.5) else math.ceil(s - 0.5)).toLong
  }

  /** Largest e4-quantized component magnitude for which a d-term long
    * dot/norm accumulation provably cannot wrap: min(10⁸, ⌊√(2⁶³−1)/d⌋).
    * The 10⁸ cap (|x| ≤ 10⁴ pre-quantization) binds up to d ≈ 922;
    * beyond that the dimension term takes over — the bound is shared by
    * [[semanticHits]] and the model trainer so both sides of every dot
    * product carry it, making every partial sum ≤ d·m² ≤ 2⁶³−1.
    */
  def maxSemanticCompE4(d: Int): Long = {
    val cap = Long.MaxValue / math.max(d, 1).toLong
    var m = math.min(100000000L, math.sqrt(cap.toDouble).toLong + 1L)
    while (m * m > cap) m -= 1 // m ≤ 10⁸+1 so m·m itself cannot wrap
    m
  }

  /** Count of [[VecSetModel]] vectors whose QUANTIZED cosine with `vec`
    * clears tE3/1000 — the semantic-decontamination hit counter: dot
    * and squared norms over the e4-quantized longs, the threshold
    * cleared of its sqrt and denominators as
    * dot ≥ 0 ∧ 10⁶·dot² ≥ tE3²·na·nb (BigInt — the cleared products
    * pass 2⁶³; DuckDB replays them in HUGEINT). Zero-norm sides never
    * hit (cosine defined 0); a model vector of different dimension
    * never hits. One scan per row, no shuffle, streaming-safe.
    * Component magnitudes are asserted ≤ [[maxSemanticCompE4]] (the
    * dimension-scaled bound) so the long dot/norm accumulation cannot
    * wrap at ANY dimension — never-wrap-silently.
    */
  def semanticHits(vec: ArrayData, model: VecSetModel, tE3: Int): Int = {
    val d = vec.numElements()
    val maxAbs = maxSemanticCompE4(d)
    val q = new Array[Long](d)
    var na = 0L
    var i = 0
    while (i < d) {
      val v = quantE4(vec.getFloat(i).toDouble)
      if (math.abs(v) > maxAbs)
        throw new ArithmeticException(
          s"semanticHits: |component| > $maxAbs after e4 quantization " +
            s"(dimension-scaled bound at d=$d) — rescale the embeddings")
      q(i) = v; na += v * v; i += 1
    }
    if (na == 0L) return 0
    val t2 = BigInt(tE3.toLong * tE3)
    var hits = 0
    var j = 0
    while (j < model.qvecs.length) {
      val bv = model.qvecs(j)
      if (bv.length == d && model.norms(j) > 0L) {
        var dot = 0L
        var k = 0
        while (k < d) { dot += q(k) * bv(k); k += 1 }
        if (dot >= 0 &&
            BigInt(dot) * dot * 1000000L >= t2 * na * model.norms(j)) hits += 1
      }
      j += 1
    }
    hits
  }

  /** Jaro-Winkler similarity of two strings over their UTF-8 BYTES —
    * operation-for-operation the formulation DuckDB's builtin
    * `jaro_winkler_similarity` computes (validated bit-exact on 19,641
    * pairs including an exhaustive ≤4-char sweep, so the q_jaro_winkler
    * oracle is a genuinely INDEPENDENT implementation): greedy
    * left-to-right matching inside a window of max(l1,l2)/2 − 1,
    * half-transpositions, jaro = (m/l1 + m/l2 + (m−t)/m)/3 in exactly
    * that double-division order, then the Winkler boost
    * jaro + p·0.1·(1−jaro) for the common byte prefix p ≤ 4 applied
    * only when jaro > 0.7. Either side empty → 0 (the DuckDB
    * convention, even both-empty); both length 1 → byte equality.
    * Byte-level comparison matches DuckDB for ALL inputs (its kernel
    * also works on raw bytes). Cost O(l1·window) — a short-string
    * (names, titles, keys) metric; cap inputs like the fuzzy-join
    * prefixes for corpus-scale use.
    */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.getBytes; val s2 = b.getBytes
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    if (l1 == 1 && l2 == 1) return if (s1(0) == s2(0)) 1.0 else 0.0
    val window = math.max(l1, l2) / 2 - 1
    val m1 = new Array[Boolean](l1); val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      var open = true
      while (j <= hi && open) {
        if (!m2(j) && s1(i) == s2(j)) { m1(i) = true; m2(j) = true; m += 1; open = false }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1(i) != s2(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3.0
    if (jaro > 0.7) {
      var p = 0
      while (p < 4 && p < l1 && p < l2 && s1(p) == s2(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    } else jaro
  }

  /** PQ-encode a float vector under a trained [[PqModel]]: normalize to
    * unit length (the cosine contract — reconstruction dot products then
    * approximate cosine directly), and per subspace pick the L2-NEAREST
    * sub-centroid (classic PQ assignment; ties break to the smaller id —
    * strict `<` keeps the first minimum). Returns `m` bytes; null on a
    * dimension mismatch (degrade the row, never the scan).
    */
  def pqEncode(vec: ArrayData, model: PqModel): Array[Byte] = {
    val dim = model.dim
    if (vec.numElements() != dim) return null
    val v = new Array[Double](dim)
    var nrm = 0.0
    var i = 0
    while (i < dim) {
      val x = vec.getFloat(i).toDouble
      v(i) = x; nrm += x * x; i += 1
    }
    val inv = if (nrm == 0.0) 0.0 else 1.0 / math.sqrt(nrm)
    i = 0
    while (i < dim) { v(i) *= inv; i += 1 }
    val m = model.m; val dsub = model.dsub; val ksub = model.ksub
    val flat = model.flat
    val codes = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val off = s * dsub
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < ksub) {
        val coff = (s * ksub + j) * dsub
        var d = 0.0
        var t = 0
        while (t < dsub) {
          val diff = v(off + t) - flat(coff + t)
          d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      codes(s) = best.toByte
      s += 1
    }
    codes
  }

  /** Per-query ADC lookup table (asymmetric distance computation, Jégou
    * et al. 2011): `table[s*ksub + j] = dot(q̂_sub_s, centroid(s, j))`
    * over the unit-normalized query, so `Σ_s table[s*ksub + code_s]` is
    * the dot of q̂ with the PQ reconstruction of a unit corpus vector —
    * the cosine approximation. Computed ONCE per query (m × ksub
    * doubles); each corpus row then costs m array reads instead of a
    * dim-length dot product. Null on dimension mismatch.
    */
  def pqQueryTable(vec: ArrayData, model: PqModel): ArrayData = {
    val dim = model.dim
    if (vec.numElements() != dim) return null
    val q = new Array[Double](dim)
    var nrm = 0.0
    var i = 0
    while (i < dim) {
      val x = vec.getFloat(i).toDouble
      q(i) = x; nrm += x * x; i += 1
    }
    val inv = if (nrm == 0.0) 0.0 else 1.0 / math.sqrt(nrm)
    i = 0
    while (i < dim) { q(i) *= inv; i += 1 }
    val m = model.m; val dsub = model.dsub; val ksub = model.ksub
    val flat = model.flat
    val table = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      val off = s * dsub
      var j = 0
      while (j < ksub) {
        val coff = (s * ksub + j) * dsub
        var dot = 0.0
        var t = 0
        while (t < dsub) { dot += q(off + t) * flat(coff + t); t += 1 }
        table(s * ksub + j) = dot
        j += 1
      }
      s += 1
    }
    new GenericArrayData(table)
  }

  /** ADC score of one corpus code array against one query table:
    * `Σ_s table[s*ksub + code_s]` (ksub inferred from the lengths).
    * Sequential double accumulation — deterministic.
    *
    * Codes and tables built under DIFFERENT PqModels (mismatched m or
    * ksub) degrade to -Infinity — below every legitimate ADC score
    * (cosine-derived sums can be negative, so 0.0 would let a degraded
    * row outrank real neighbors in topKPerQuery) — instead of silently
    * mis-striding the lookup or throwing mid-scan: a table length that
    * m doesn't divide, or a code beyond the inferred ksub, sinks the row.
    */
  def pqAdcScore(codes: Array[Byte], table: ArrayData): Double = {
    val m = codes.length
    if (m == 0) return Double.NegativeInfinity
    val n = table.numElements()
    if (n == 0 || n % m != 0) return Double.NegativeInfinity
    val ksub = n / m
    var sum = 0.0
    var s = 0
    while (s < m) {
      val c = codes(s) & 0xff
      if (c >= ksub) return Double.NegativeInfinity
      sum += table.getDouble(s * ksub + c)
      s += 1
    }
    sum
  }

  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Array[Double]]]()

  /** Deterministic pseudo-random Gaussian hyperplanes (seed, numBits, dim). */
  def hyperplanes(seed: Long, numBits: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((seed, numBits, dim), { key =>
      val (s, nb, d) = key
      Array.tabulate(nb) { i =>
        val rnd = new java.util.Random(splitmix64(s + i))
        Array.fill(d)(rnd.nextGaussian())
      }
    })

  /** Random-hyperplane LSH: sign bit of <vec, r_i> for i < numBits.
    * Similar (cosine) vectors collide with prob 1 - theta/pi per bit.
    */
  def hyperplaneBits(vec: ArrayData, numBits: Int, seed: Long): Long = {
    val dim = vec.numElements()
    if (dim == 0) return 0L
    val planes = hyperplanes(seed, numBits, dim)
    var out = 0L
    var i = 0
    while (i < numBits) {
      val p = planes(i)
      var dot = 0.0
      var j = 0
      while (j < dim) {
        dot += vec.getFloat(j).toDouble * p(j)
        j += 1
      }
      if (dot >= 0) out |= (1L << i)
      i += 1
    }
    out
  }

  /** One bucket id per LSH table, all computed in a single pass over the
    * vector (one expression → one scan, instead of numTables plan branches
    * re-reading the source). Table t uses an independent plane set derived
    * from seed + t.
    */
  def hyperplaneMulti(vec: ArrayData, numBits: Int, numTables: Int, seed: Long): ArrayData = {
    val out = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      out(t) = hyperplaneBits(vec, numBits, splitmix64(seed + t))
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Single-pass language-ID hit counting: one scan of the lowered text
    * counts, per language, the word-char runs equal to a marker stopword,
    * plus CJK (U+4E00–U+9FFF) characters — exactly the counts of the five
    * separate `\b(w1|w2|…)\b` / `[一-鿿]` regex passes it replaces, at one
    * scan of the document instead of five.
    *
    * \b equivalence: a regex match of an all-word-char stopword requires a
    * non-word char (or string edge) on both sides, i.e. the maximal
    * word-char run ([a-z0-9_] on the lowered text — ASCII \w, RE2's \b
    * definition and therefore the DuckDB oracle's; Java's bare \b is
    * Unicode-aware and differs next to non-ASCII letters) must equal the
    * stopword. Runs are packed into a long (8 bits/char, ≤ 8 chars —
    * longer runs can't match) and matched against the sorted packed table
    * with binary search: zero allocation per run.
    */
  def langIdHits(text: UTF8String, lookup: LangLookup): ArrayData = {
    val s = text.toString.toLowerCase(java.util.Locale.ROOT)
    val counts = new Array[Int](lookup.numLangs + 1)
    val table = lookup.packed
    var packed = 0L
    var runLen = 0
    var i = 0
    val n = s.length
    while (i <= n) {
      val c = if (i < n) s.charAt(i) else ' ' // virtual trailing boundary
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9') || lc == '_') {
        if (runLen < 8) { packed = (packed << 8) | lc; runLen += 1 }
        else runLen = 9 // too long for any stopword; keep consuming
      } else {
        if (runLen >= 1 && runLen <= 8) {
          var idx = java.util.Arrays.binarySearch(table, packed)
          if (idx >= 0) {
            while (idx > 0 && table(idx - 1) == packed) idx -= 1
            while (idx < table.length && table(idx) == packed) {
              counts(lookup.langIdx(idx)) += 1
              idx += 1
            }
          }
        }
        packed = 0L
        runLen = 0
        if (c >= 0x4E00 && c <= 0x9FFF) counts(lookup.numLangs) += 1
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  /** Single-pass quality counts: [n_chars, n_tokens, stop_hits, punct_hits]
    * in ONE scan of the document — replaces the three regex passes (en
    * stopword `\b(...)\b`, punct class `[^a-z0-9 ]`, plus two `lower()`
    * materializations) the column-expression form needed. At 100 TB the
    * quality score is a full-corpus map, so this is 1× instead of ~3× the
    * scan cost (same shape as [[langIdHits]]' 5×→1× win).
    *
    * Semantics are EXACTLY the DuckDB oracle's (and the previous green
    * column form's, asserted equal in TextAnalysisSpec):
    *  - n_chars  = length(text): code points of the ORIGINAL text.
    *  - n_tokens = len(string_split(trim(text), ' ')): single-space splits
    *    of the space-trimmed text, empty tokens preserved — i.e. interior
    *    spaces + 1 (an empty/all-space doc has 1 empty token).
    *  - stop_hits = RE2 `\b(stopwords)\b` matches over lower(text):
    *    maximal [a-z0-9_] runs of the SIMPLE-lowercased text equal to a
    *    stopword (per-code-point Character.toLowerCase = utf8proc lower;
    *    Java's full String.toLowerCase would diverge on İ/final-sigma).
    *  - punct_hits = `[^a-z0-9 ]` matches over lower(text): code points of
    *    the lowered text outside [a-z0-9 ] (underscore and all whitespace
    *    except the plain space count as punctuation, like the regex).
    */
  def qualityCounts(text: UTF8String, lookup: LangLookup): ArrayData = {
    val s = text.toString
    val n = s.length
    val table = lookup.packed
    var nChars = 0
    var stopHits = 0
    var punctHits = 0
    var totalSpaces = 0
    var leadingSpaces = 0
    var trailingSpaces = 0
    var seenNonSpace = false
    var packed = 0L
    var runLen = 0
    var i = 0
    while (i <= n) {
      val cp = if (i < n) s.codePointAt(i) else ' ' // virtual trailing boundary
      val lc = Character.toLowerCase(cp)
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9') || lc == '_') {
        if (runLen < 8) { packed = (packed << 8) | lc; runLen += 1 }
        else runLen = 9 // longer than any stopword; keep consuming the run
      } else {
        if (runLen >= 1 && runLen <= 8) {
          var idx = java.util.Arrays.binarySearch(table, packed)
          if (idx >= 0) {
            while (idx > 0 && table(idx - 1) == packed) idx -= 1
            while (idx < table.length && table(idx) == packed) {
              stopHits += 1
              idx += 1
            }
          }
        }
        packed = 0L
        runLen = 0
      }
      if (i < n) {
        nChars += 1
        if (!((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9') || lc == ' '))
          punctHits += 1
        if (cp == ' ') {
          totalSpaces += 1
          if (!seenNonSpace) leadingSpaces += 1
          trailingSpaces += 1
        } else {
          seenNonSpace = true
          trailingSpaces = 0
        }
        i += Character.charCount(cp)
      } else i += 1
    }
    val interior =
      if (!seenNonSpace) 0 else totalSpaces - leadingSpaces - trailingSpaces
    new GenericArrayData(Array(nChars, interior + 1, stopHits, punctHits))
  }

  /** BPE token count of a text under a trained merge table: words
    * (whitespace-split) start as code-unit symbols; the lowest-rank
    * adjacent pair merges first (standard greedy BPE apply), repeated to
    * fixpoint; the result is the number of surviving symbols summed over
    * words — the trained-tokenizer budget estimate for LLM pipelines.
    * Deterministic in (text, model).
    */
  def bpeTokenCount(text: UTF8String, model: BpeModel): Int = {
    val s = text.toString
    var total = 0
    var wStart = 0
    var i = 0
    val n = s.length
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ' || s.charAt(i) == '\t' || s.charAt(i) == '\n' ||
          s.charAt(i) == '\r') {
        if (i > wStart) total += bpeWordTokens(s, wStart, i, model)
        wStart = i + 1
      }
      i += 1
    }
    total
  }

  /** Greedy BPE apply over one word (s[from, until)); returns the number of
    * symbols left. Merges the single lowest-rank pair per round,
    * left-to-right non-overlapping — the canonical apply order, matching
    * how the trainer replayed merges.
    */
  private def bpeWordTokens(s: String, from: Int, until: Int, model: BpeModel): Int = {
    // symbols are CODE POINTS (the trainer's space — a surrogate pair
    // is ONE symbol); len counts points, not chars
    var len = 0
    var j = from
    while (j < until) { len += 1; j += Character.charCount(s.codePointAt(j)) }
    if (len <= 1) return len
    val syms = new Array[Int](len)
    var i = 0
    j = from
    while (j < until) {
      val cp = s.codePointAt(j)
      syms(i) = cp; i += 1; j += Character.charCount(cp)
    }
    while (len > 1) {
      var bestRank = Int.MaxValue
      i = 0
      while (i < len - 1) {
        val r = model.rank(syms(i), syms(i + 1))
        if (r >= 0 && r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) return len
      val merged = 0x110000 + bestRank
      var out = 0
      i = 0
      while (i < len) {
        if (i < len - 1 && model.rank(syms(i), syms(i + 1)) == bestRank) {
          syms(out) = merged; i += 2
        } else {
          syms(out) = syms(i); i += 1
        }
        out += 1
      }
      if (out == len) return len // defensive: no progress
      len = out
    }
    len
  }

  /** Canonical text normalization in one pass: Unicode NFC, lowercase,
    * collapse runs of [\t\n\f\r ] to one space, strip leading/trailing
    * runs. The whitespace class is exactly RE2's \s (what the DuckDB
    * oracle's regexp uses) — deliberately NOT Java's Character
    * .isWhitespace, whose wider set (U+000B, U+2000…) would silently
    * diverge from the SQL re-expression. The canonical first step of a
    * dedup pipeline: near-dup detection over normalized text stops
    * treating case/whitespace variants as distinct documents.
    */
  def normalizeText(text: UTF8String): UTF8String = {
    val nfc = java.text.Normalizer
      .normalize(text.toString, java.text.Normalizer.Form.NFC)
    // Per-code-point SIMPLE lowercase (Character.toLowerCase), not Java's
    // full/special-cased String.toLowerCase: simple mapping is what
    // utf8proc (DuckDB's lower()) applies, and the two diverge on e.g.
    // final sigma (ΜΕΓΑΣ → μεγασ simple vs μεγας full) and dotted İ
    // (→ 'i' simple vs "i"+combining-dot full, which also changes length).
    val sb = new java.lang.StringBuilder(nfc.length)
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < nfc.length) {
      val cp = nfc.codePointAt(i)
      val lc = Character.toLowerCase(cp)
      if (lc == ' ' || lc == '\t' || lc == '\n' || lc == '\f' || lc == '\r') {
        pendingSpace = started // leading runs drop; interior runs pend
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.appendCodePoint(lc)
        started = true
      }
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }

  /** Winnowing document fingerprint (Schleimer et al., SIGMOD 2003):
    * rolling hash over char k-grams, minimum per window of w, distinct
    * selected hashes sorted ascending. Robust to local edits; the
    * standard scalable doc-fingerprint for near-dup detection.
    */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val s = text.toString
    if (s.length < k) return new GenericArrayData(Array.empty[Long])
    val nGrams = s.length - k + 1
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < k) {
        h ^= s.charAt(i + j).toLong
        h *= 0x100000001b3L
        j += 1
      }
      hashes(i) = splitmix64(h)
      i += 1
    }
    // sliding-window minimum via monotonic deque — O(n) total (each index
    // enters and leaves the deque once) vs the naive O(n·w) rescan
    val selected = new java.util.TreeSet[java.lang.Long]()
    val win = math.min(w, nGrams)
    val deque = new Array[Int](nGrams)
    var head = 0
    var tail = 0 // deque holds indices with increasing hash values
    i = 0
    while (i < nGrams) {
      while (tail > head && hashes(deque(tail - 1)) >= hashes(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - win) head += 1
      if (i >= win - 1) selected.add(hashes(deque(head)))
      i += 1
    }
    val out = new Array[Long](selected.size())
    val it = selected.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** Membership probe against a trained gram set ([[GramSetModel]]) in ONE
    * scan with early exit: true iff any of the text's word (or char)
    * n-gram hashes is in the set. The gram hashing is [[wordNgramHashes]]/
    * [[charNgramHashes]] verbatim (shared helpers), so the result equals
    * an explode + semi-join on those kernels' outputs exactly — minus the
    * explode, the shuffle, and the join: this is the streaming-safe,
    * zero-shuffle form of benchmark decontamination.
    */
  def anyGramIn(text: UTF8String, model: GramProbe): Boolean = {
    val n = model.n
    if (model.char) {
      val s = text.toString.trim
      if (s.length < n) return false
      val m = s.length - n + 1
      var i = 0
      while (i < m) {
        var h = 0xcbf29ce484222325L
        var j = 0
        while (j < n) {
          h ^= s.charAt(i + j).toLong
          h *= 0x100000001b3L
          j += 1
        }
        if (model.contains(splitmix64(h))) return true
        i += 1
      }
      false
    } else {
      val grams = wordGramHashArray(text, n)
      if (grams == null) return false
      var i = 0
      while (i < grams.length) {
        if (model.contains(grams(i))) return true
        i += 1
      }
      false
    }
  }

  /** Winnowing fingerprints WITH POSITIONS: the selected window minima as
    * array<struct<pos:int, h:bigint>>, `pos` the 1-based Unicode
    * CODE-POINT index of the selected k-gram's first character, ascending,
    * distinct by pos. Code points (not UTF-16 code units) are the position
    * contract of the whole substring-span family: they compose with Spark
    * SQL `substring`/`length` (UTF8String counts code points) and with the
    * DuckDB oracle's `substr`/`unicode`, so splices and coverage math stay
    * exact on supplementary-plane text (emoji are routine in crawl
    * corpora). k-grams are k consecutive code points; the FNV-1a chain
    * folds each code point once, which is byte-identical to the historical
    * per-char chain on BMP-only text. Same hash chain as [[winnow]]
    * (FNV-1a k-gram + splitmix64, signed-long window minima via the
    * monotonic deque).
    *
    * This is the ANCHOR form for substring-span dedup: any substring
    * shared by two documents with length ≥ w+k-1 contains at least one
    * window of w consecutive k-grams lying FULLY inside the shared region
    * in both documents; that window's content is identical in both, so
    * its minimum is selected at the SAME relative offset — the pair share
    * an (h, aligned position) anchor, and extending around it recovers
    * the exact span (Schleimer et al., SIGMOD 2003 guarantee).
    */
  /** Code points of a UTF8String. ASCII fast path: when numBytes ==
    * numChars every char is one byte AND one code point, so the bytes ARE
    * the code points — no String materialization, no codePoints() boxing
    * (sharedSpans at the 500k-doc tier measured ~25% slower through the
    * general path; crawl text is overwhelmingly ASCII).
    */
  private def toCodePoints(t: UTF8String): Array[Int] =
    if (t.numBytes() == t.numChars()) {
      val n = t.numBytes()
      val a = new Array[Int](n)
      var i = 0
      while (i < n) { a(i) = t.getByte(i) & 0xff; i += 1 }
      a
    } else t.toString.codePoints().toArray

  def winnowPos(text: UTF8String, k: Int, w: Int): ArrayData = {
    val cps = toCodePoints(text) // positions are code points
    if (cps.length < k) return new GenericArrayData(Array.empty[Any])
    val nGrams = cps.length - k + 1
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < k) {
        h ^= cps(i + j).toLong
        h *= 0x100000001b3L
        j += 1
      }
      hashes(i) = splitmix64(h)
      i += 1
    }
    val selected = new java.util.TreeSet[Integer]() // distinct positions asc
    val win = math.min(w, nGrams)
    val deque = new Array[Int](nGrams)
    var head = 0
    var tail = 0
    i = 0
    while (i < nGrams) {
      while (tail > head && hashes(deque(tail - 1)) >= hashes(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - win) head += 1
      if (i >= win - 1) selected.add(deque(head))
      i += 1
    }
    val out = new Array[Any](selected.size())
    val it = selected.iterator()
    i = 0
    while (it.hasNext) {
      val idx = it.next().intValue()
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](idx + 1, hashes(idx)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Maximal exact shared span through an aligned anchor: `pa`/`pb` are
    * 1-based CODE-POINT positions of a candidate shared k-gram in
    * `ta`/`tb` (the [[winnowPos]] contract). Verifies the k code points
    * actually match (hash-collision guard — returns null when they
    * don't), then extends left and right as far as the texts agree.
    * Returns struct(start_a:int, start_b:int, len:int) — the maximal span
    * containing the anchor, 1-based, Unicode code-point units, so the
    * result splices exactly with Spark SQL `substring`/`length` and the
    * DuckDB oracle's `substr` on any Unicode text.
    */
  def extendMatch(ta: UTF8String, tb: UTF8String, pa: Int, pb: Int,
      k: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val a = toCodePoints(ta)
    val b = toCodePoints(tb)
    val i = pa - 1
    val j = pb - 1
    if (i < 0 || j < 0 || i + k > a.length || j + k > b.length) return null
    var t = 0
    while (t < k) {
      if (a(i + t) != b(j + t)) return null
      t += 1
    }
    var lo = 0
    while (i - lo - 1 >= 0 && j - lo - 1 >= 0 &&
        a(i - lo - 1) == b(j - lo - 1)) lo += 1
    var hi = k
    while (i + hi < a.length && j + hi < b.length &&
        a(i + hi) == b(j + hi)) hi += 1
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](i - lo + 1, j - lo + 1, lo + hi))
  }

  /** TF-IDF top-k terms of one document in ONE scan: tokenize (same
    * contract as [[repetitionStats]]), count term frequencies, score each
    * in-vocabulary distinct term tf × N / df (the RATIONAL idf form —
    * exact integer division to double, so the DuckDB oracle reproduces it
    * bit-for-bit; log-damped idf is a monotone transform of 1/df and
    * ranks identically per fixed tf), and return the k best as
    * array<struct<term, tf, df, score>> ordered score DESC then term
    * BINARY ASC — the oracle's `ORDER BY score DESC, t ASC` window.
    * Out-of-vocabulary terms are skipped (df unknown ⇒ unscorable).
    */
  def tfidfTopK(text: UTF8String, model: DfModel, k: Int): ArrayData = {
    val tf = termFrequencies(spaceTokens(text))
    final class Entry(val term: UTF8String, val tf: Long, val df: Long, val score: Double)
    val entries = new java.util.ArrayList[Entry](tf.size)
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val en = it.next()
      val df = model.df(en.getKey)
      if (df > 0) {
        val t = en.getValue()(0)
        entries.add(new Entry(UTF8String.fromString(en.getKey), t, df,
          (t * model.nDocs).toDouble / df))
      }
    }
    val arr = entries.toArray(new Array[Entry](entries.size))
    java.util.Arrays.sort(arr, new java.util.Comparator[Entry] {
      override def compare(a: Entry, b: Entry): Int = {
        val c = java.lang.Double.compare(b.score, a.score)
        if (c != 0) c else a.term.compareTo(b.term)
      }
    })
    val n = math.min(k, arr.length)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](arr(i).term, arr(i).tf, arr(i).df, arr(i).score))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Bigram-LM fluency of one document in ONE scan under a trained
    * [[LmModel]]: tokenize ([[spaceTokens]] — the shared contract), and
    * over adjacent token pairs whose BOTH words are in vocabulary,
    * average the next-word relative frequency c(w1,w2) / c(w1). The
    * RATIONAL form (no log) is deliberate, exactly like tfidf's rational
    * idf: every division is two exact integers → one correctly-rounded
    * double, summed left-to-right in document order, so the DuckDB
    * oracle reproduces the doubles bit-for-bit — while ranking documents
    * by next-word predictability the same way a smoothed LM's
    * probability (a monotone transform per fixed pair count) would.
    * Natural text scores high; shuffled/garbage text scores near the
    * unigram floor. Returns struct(n_pairs, known_pairs, fluency).
    */
  def lmFluency(text: UTF8String, model: LmModel)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val toks = spaceTokens(text)
    var nPairs = 0L
    var known = 0L
    var sum = 0.0
    var prev = if (toks.length > 0) model.wordId(toks(0)) else -1
    var i = 1
    while (i < toks.length) {
      val cur = model.wordId(toks(i))
      nPairs += 1
      if (prev >= 0 && cur >= 0) {
        known += 1
        sum += model.bigram(prev, cur).toDouble / model.wordCount(prev).toDouble
      }
      prev = cur
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      nPairs, known, if (known == 0) 0.0 else sum / known))
  }

  /** Tokenization contract shared by [[repetitionStats]] and
    * [[tfidfTopK]], and replayed by their DuckDB oracles: trim SPACES
    * only (Spark `trim` default — NOT Java String.trim, which strips all
    * chars <= U+0020), split on single ' ' KEEPING empty tokens (Spark
    * split limit -1). One definition so the two kernels cannot drift.
    */
  private def spaceTokens(text: UTF8String): Array[String] = {
    val raw = text.toString
    var b = 0
    var e = raw.length
    while (b < e && raw.charAt(b) == ' ') b += 1
    while (e > b && raw.charAt(e - 1) == ' ') e -= 1
    raw.substring(b, e).split(" ", -1)
  }

  /** Term-frequency map of a token array (long counts in 1-cell arrays
    * to avoid per-increment boxing).
    */
  private def termFrequencies(toks: Array[String]): java.util.HashMap[String, Array[Long]] = {
    val m = new java.util.HashMap[String, Array[Long]]()
    var i = 0
    while (i < toks.length) {
      val slot = m.computeIfAbsent(toks(i), _ => new Array[Long](1))
      slot(0) += 1
      i += 1
    }
    m
  }

  /** Repetition stats (Gopher repetition rules) in ONE scan: tokenize
    * ([[spaceTokens]]), count words and word n-grams (joined with ' ')
    * in hash maps, and select the most-frequent of each — tie-broken to
    * the BINARY-smallest key (the order DuckDB's `ORDER BY c DESC,
    * t ASC` and Spark's sort_array use; Java String.compareTo would
    * diverge on supplementary planes). Returns a struct row (n_words,
    * n_distinct_words, n_grams, n_distinct_grams, top_word,
    * top_word_cnt, top_ngram, top_ngram_cnt) — field order is the
    * `GraftFunctions.repetitionStats` contract its consumers index by.
    */
  def repetitionStats(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = spaceTokens(text)
    val wcnt = termFrequencies(toks)
    val gcnt = new java.util.HashMap[String, Array[Long]]()
    var nGrams = 0L
    if (toks.length >= n) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j <= toks.length - n) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(toks(j + k))
          k += 1
        }
        val slot = gcnt.computeIfAbsent(sb.toString, _ => new Array[Long](1))
        slot(0) += 1
        nGrams += 1
        j += 1
      }
    }
    def top(m: java.util.HashMap[String, Array[Long]]): (String, Long) = {
      var bestK = ""
      var bestC = 0L
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val en = it.next()
        val c = en.getValue()(0)
        if (c > bestC ||
            (c == bestC && c > 0 &&
             UTF8String.fromString(en.getKey).compareTo(UTF8String.fromString(bestK)) < 0)) {
          bestK = en.getKey
          bestC = c
        }
      }
      (bestK, bestC)
    }
    val (tw, twc) = top(wcnt)
    val (tg, tgc) = top(gcnt)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      toks.length.toLong, wcnt.size.toLong, nGrams, gcnt.size.toLong,
      UTF8String.fromString(tw), twc, UTF8String.fromString(tg), tgc))
  }

  /** Polynomial code-point hash of one feature gram, mod the bucket
    * space: h = fold(h*31 + codepoint mod 1000003) % d. Iterates CODE
    * POINTS (not UTF-16 units) so the DuckDB oracle's per-character
    * `unicode(substring(g, i, 1))` walk reproduces it exactly on any
    * text, astral characters included.
    */
  private def qualityBucket(g: String, d: Int): Int = {
    var h = 0L
    var i = 0
    while (i < g.length) {
      val cp = g.codePointAt(i)
      h = (h * 31 + cp) % 1000003L
      i += Character.charCount(cp)
    }
    (h % d).toInt
  }

  /** Fixed-point base-2 logarithm of a positive integer, 20 fraction
    * bits, computed by the classic integer square-and-normalize digit
    * recurrence — NO floating point anywhere, so any engine replays it
    * bit-identically (the DuckDB oracle unrolls the same 20 steps over
    * BIGINTs). x is carried in Q30 (x ∈ [2^30, 2^31) after normalize, so
    * x·x < 2^62 never overflows a long); each step squares, renormalizes,
    * and emits one result bit. Result ≈ floor(log2(n) · 2^20) (the
    * truncating recurrence, exactly defined; ilog2Fp(1) = 0).
    */
  def ilog2Fp(n: Long): Long = {
    require(n >= 1, s"ilog2Fp needs n >= 1, got $n")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(n)
    var x = if (e <= 30) n << (30 - e) else n >> (e - 30)
    var acc = e.toLong << 20
    var i = 1
    while (i <= 20) {
      x = (x * x) >> 30
      if (x >= (1L << 31)) { x >>= 1; acc |= 1L << (20 - i) }
      i += 1
    }
    acc
  }

  /** Long-key membership probe of a Bloom sketch: no false negatives, so
    * a join side filtered by it never loses a matching row.
    */
  def bloomContainsLong(key: Long, bloom: org.apache.spark.util.sketch.BloomFilter): Boolean =
    bloom.mightContainLong(key)

  /** All hashed gram buckets of one document WITH multiplicity, in doc
    * order — the DSIR feature contract: word unigrams and adjacent-pair
    * bigrams (w1 + ' ' + w2) over [[spaceTokens]], each through
    * [[qualityBucket]]'s polynomial hash mod `d`. Unlike
    * [[qualityFeatures]] (distinct set + structural grams), DSIR's bag
    * model counts every instance and adds nothing structural — the
    * paper's hashed n-gram estimator.
    */
  def dsirBuckets(text: UTF8String, d: Int): Array[Int] = {
    val toks = spaceTokens(text)
    val n = toks.length
    val out = new Array[Int](2 * n - 1)
    var i = 0
    while (i < n) {
      out(i) = qualityBucket(toks(i), d)
      if (i + 1 < n) out(n + i) = qualityBucket(toks(i) + " " + toks(i + 1), d)
      i += 1
    }
    out
  }

  /** [[dsirBuckets]] as a Catalyst array<int>. */
  def dsirBucketArray(text: UTF8String, d: Int): ArrayData =
    new GenericArrayData(dsirBuckets(text, d))

  /** DSIR importance of one document under a trained [[DsirModel]] in
    * ONE scan: struct(n_grams, w_sum) where w_sum = Σ over gram
    * INSTANCES of the bucket weight (long adds — order-free, engine
    * exact). The score is w_sum + n_grams · perGram in plain column
    * arithmetic downstream.
    */
  def dsirScore(text: UTF8String, model: DsirModel)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val bs = dsirBuckets(text, model.numBuckets)
    var s = 0L
    var i = 0
    while (i < bs.length) { s += model.weights(bs(i)); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bs.length.toLong, s))
  }

  /** Character-distribution Shannon entropy of one document in 2^-20
    * fixed point (log2 units), computed ENTIRELY in integers via
    * [[ilog2Fp]]: with n total code points and c_x the count of code
    * point x,
    *
    *   ent_num = Σ_x c_x · (ilog2Fp(n) − ilog2Fp(c_x))
    *
    * and entropy ≈ ent_num / n (one truncating division downstream).
    * Low entropy flags repeated-character runs and short alphabets
    * (base64 blobs, ASCII art, keyboard mash); natural prose sits around
    * 4–4.5 bits. Returns struct(n_chars, ent_num) — the division and any
    * thresholding ride as plain column arithmetic so every engine
    * replays them. Empty text → (0, 0).
    */
  /** CONTENT-DEFINED chunking (Gear-style rolling hash; Muthitacharoen
    * et al. SOSP 2001 LBFS / FastCDC family): cut a document into
    * chunks at positions where a rolling hash of the trailing content
    * masks to zero — boundaries move WITH the content, so inserting a
    * byte shifts only the chunk it lands in, where fixed-size chunking
    * shifts every later boundary (the property sub-document dedup of
    * shifted/edited text needs). One pass per doc, O(1) state.
    *
    * The hash is deliberately ENGINE-REPLAYABLE: per code point
    * g = (cp · 2654435761) mod 2^40 (Knuth multiplicative), rolled as
    * h = (2·h + g) mod 2^40 with NO reset at cuts — each code point's
    * influence expires after 40 positions (2^40 | g·2^40), so
    * h_i = Σ_{k=0..39} g_{i−k}·2^k mod 2^40 is a closed-form windowed
    * sum any SQL engine computes without sequential state. Cut AFTER
    * position i when (h_i & (2^maskBits − 1)) == 0 and the open chunk
    * has ≥ minLen code points; a chunk reaching maxLen cuts regardless.
    * Because h never resets, minLen/maxLen only gate WHICH mask
    * positions become cuts — they never perturb the hash stream.
    *
    * Returns array<struct(start, len, chunk_md5)>: 0-based code-point
    * offset, code-point length, and the md5 hex of the chunk substring
    * (the dedup key). Empty text → empty array. Expected chunk size
    * ≈ 2^maskBits + minLen.
    */
  def cdcChunks(text: UTF8String, maskBits: Int, minLen: Int,
      maxLen: Int): ArrayData = {
    val raw = text.toString
    if (raw.isEmpty) return new GenericArrayData(Array.empty[Any])
    val mask = (1L << maskBits) - 1
    val mod = 1L << 40
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.catalyst.InternalRow]
    val md = java.security.MessageDigest.getInstance("MD5")
    def emit(startCp: Long, lenCp: Long, startJ: Int, endJ: Int): Unit = {
      md.reset()
      val hex = md.digest(raw.substring(startJ, endJ).getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](startCp, lenCp, UTF8String.fromString(hex)))
    }
    var h = 0L
    var j = 0            // UTF-16 index
    var cpIdx = 0L       // code-point index (0-based)
    var chunkStartJ = 0
    var chunkStartCp = 0L
    var chunkLen = 0L
    while (j < raw.length) {
      val cp = raw.codePointAt(j)
      j += Character.charCount(cp)
      cpIdx += 1
      chunkLen += 1
      h = (2L * h + (cp.toLong * 2654435761L) % mod) % mod
      if ((chunkLen >= minLen && (h & mask) == 0L) || chunkLen >= maxLen) {
        emit(chunkStartCp, chunkLen, chunkStartJ, j)
        chunkStartJ = j
        chunkStartCp = cpIdx
        chunkLen = 0L
      }
    }
    if (chunkLen > 0) emit(chunkStartCp, chunkLen, chunkStartJ, raw.length)
    new GenericArrayData(out.toArray[Any])
  }

  def charEntropy(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val raw = text.toString
    val counts = new java.util.HashMap[Integer, Array[Long]]()
    var i = 0
    var n = 0L
    while (i < raw.length) {
      val cp = raw.codePointAt(i)
      val cell = counts.get(cp)
      if (cell == null) counts.put(cp, Array(1L)) else cell(0) += 1
      n += 1
      i += Character.charCount(cp)
    }
    var num = 0L
    if (n > 0) {
      val ln = ilog2Fp(n)
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next()(0)
        num += c * (ln - ilog2Fp(c))
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, num))
  }

  /** Distinct sorted feature buckets of one document for the quality
    * classifier — the EXACT feature contract both engines replay:
    * word unigrams and adjacent-pair bigrams (w1 + ' ' + w2) over
    * [[spaceTokens]], plus three structural grams that give the linear
    * model access to the length/shape signals pure content hashes can't
    * express, each prefixed with U+0001 (no space-split token
    * starts with a control char in practice; collisions would be
    * harmless hashing-trick noise anyway): B (bias, always present), L +
    * floor(log2(n_words)), and M + clamp((n_chars - (n_words-1))
    * / n_words, 0, 20) — the separator-adjusted mean word length under
    * INTEGER floor division (never a rounded double, whose floor could
    * disagree across engines at exact-integer boundaries). n_chars
    * counts code points of the UNTRIMMED text, matching DuckDB's
    * `length(text)`.
    */
  def qualityFeatures(text: UTF8String, d: Int): Array[Int] = {
    val raw = text.toString
    val toks = spaceTokens(text)
    val n = toks.length // >= 1: split of "" is [""]
    val set = new java.util.TreeSet[Integer]
    var i = 0
    while (i < n) {
      set.add(qualityBucket(toks(i), d))
      if (i + 1 < n) set.add(qualityBucket(toks(i) + " " + toks(i + 1), d))
      i += 1
    }
    val nc = raw.codePointCount(0, raw.length).toLong
    val lg = 31 - Integer.numberOfLeadingZeros(n)
    val mwl = math.max(0L, math.min(20L, (nc - (n - 1)) / n))
    set.add(qualityBucket("\u0001B", d))
    set.add(qualityBucket("\u0001L" + lg, d))
    set.add(qualityBucket("\u0001M" + mwl, d))
    val out = new Array[Int](set.size)
    val it = set.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** Score one document under a trained [[QualityLrModel]] in ONE scan:
    * margin = sum of the weights of the document's distinct feature
    * buckets (integer addition — order-free, bit-exact in any engine).
    * Returns struct(n_feat, margin); the double score and the pass
    * decision derive from the margin in plain column arithmetic.
    */
  def qualityLrScore(text: UTF8String, model: QualityLrModel)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val f = qualityFeatures(text, model.numBuckets)
    var m = 0L
    var i = 0
    while (i < f.length) { m += model.weights(f(i)); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](f.length.toLong, m))
  }

  /** ALL-pattern blocklist statistics of one document under a trained
    * [[AcModel]] in ONE byte scan:
    * `[total_hits, distinct_patterns, first_pos, first_pat]` — every
    * (position, pattern) occurrence counts (overlapping and nested
    * included, exactly the all-starts substring scan an oracle
    * replays); `first_pos` is the 1-based CODE-POINT position of the
    * earliest match start (0 = no match; ties take the smallest
    * pattern id into `first_pat`, −1 = none). The no-hit fast path is
    * one `hitCum` load per byte — documents that never match walk no
    * output chain and allocate nothing; the distinct bitset allocates
    * lazily on the first hit only.
    */
  def blocklistStats(text: UTF8String, model: AcModel): ArrayData = {
    val len = text.numBytes()
    var st = 0
    var total = 0L
    var distinct = 0L
    var seen: Array[Long] = null
    var bestStart = Int.MaxValue
    var bestPat = -1
    var i = 0
    while (i < len) {
      val ub = text.getByte(i) & 0xff
      // transition: follow fail links until an edge or the root
      var s = st
      var nxt = acEdge(model, s, ub)
      while (nxt < 0 && s != 0) { s = model.fail(s); nxt = acEdge(model, s, ub) }
      st = if (nxt >= 0) nxt else 0
      if (model.hitCum(st) > 0L) {
        if (seen == null) seen = new Array[Long]((model.numPatterns + 63) >> 6)
        var cur =
          if (model.endStart(st + 1) > model.endStart(st)) st
          else model.outLink(st)
        while (cur >= 0) {
          var j = model.endStart(cur)
          val jEnd = model.endStart(cur + 1)
          while (j < jEnd) {
            val pid = model.endPat(j)
            total += 1L
            if ((seen(pid >> 6) & (1L << (pid & 63))) == 0L) {
              seen(pid >> 6) |= 1L << (pid & 63); distinct += 1L
            }
            val start = i - model.patByteLen(pid) + 1
            if (start < bestStart || (start == bestStart && pid < bestPat)) {
              bestStart = start; bestPat = pid
            }
            j += 1
          }
          cur = model.outLink(cur)
        }
      }
      i += 1
    }
    val firstPos =
      if (bestPat < 0) 0L
      else {
        // byte offset -> 1-based code-point position: count lead bytes
        // strictly before the match start (bounded by the offset)
        var chars = 0L
        var b = 0
        while (b < bestStart) {
          if ((text.getByte(b) & 0xc0) != 0x80) chars += 1
          b += 1
        }
        chars + 1L
      }
    new GenericArrayData(Array(total, distinct, firstPos,
      if (bestPat < 0) -1L else bestPat.toLong))
  }

  /** American Soundex code of a string — the classic phonetic blocking
    * key for record linkage (same-sounding names share a code; vowel
    * substitutions NEVER change it, so vowel-level misspellings block
    * together by construction). One byte scan:
    *  - only ASCII letters code (case-insensitive); everything else —
    *    digits, punctuation, and every non-ASCII byte — is ignored,
    *    exactly the `upper(c) BETWEEN 'A' AND 'Z'` filter of the
    *    relational replay;
    *  - first letter kept verbatim; b f p v→1, c g j k q s x z→2,
    *    d t→3, l→4, m n→5, r→6; a e i o u y separate groups (code 0);
    *    h w are transparent (adjacent same-code letters separated by
    *    h/w still collapse — the Ashcraft→A261 rule);
    *  - adjacent same-code letters collapse; the first letter's own
    *    group never emits; 3 digits, zero-padded.
    * Returns "" when the string has no ASCII letters (the expression
    * layer turns that into NULL — kernels stay total).
    */
  def soundex(text: UTF8String): UTF8String = {
    val len = text.numBytes()
    var first = 0
    var prev = -1
    val digits = new Array[Byte](3)
    var nOut = 0
    var i = 0
    while (i < len && nOut < 3) {
      val b = text.getByte(i) & 0xff
      val u = if (b >= 'a' && b <= 'z') b - 32 else b
      if (u >= 'A' && u <= 'Z') {
        val d = (u: @unchecked) match {
          case 'B' | 'F' | 'P' | 'V' => 1
          case 'C' | 'G' | 'J' | 'K' | 'Q' | 'S' | 'X' | 'Z' => 2
          case 'D' | 'T' => 3
          case 'L' => 4
          case 'M' | 'N' => 5
          case 'R' => 6
          case 'H' | 'W' => 9
          case _ => 0 // A E I O U Y
        }
        if (first == 0) { first = u; prev = d }
        else if (d != 9 && d != prev) {
          prev = d
          if (d != 0) { digits(nOut) = ('0' + d).toByte; nOut += 1 }
        }
      }
      i += 1
    }
    if (first == 0) UTF8String.EMPTY_UTF8
    else {
      val out = new Array[Byte](4)
      out(0) = first.toByte
      var j = 0
      while (j < 3) {
        out(j + 1) = if (j < nOut) digits(j) else '0'
        j += 1
      }
      UTF8String.fromBytes(out)
    }
  }

  /** Binary search for node `s`'s edge on unsigned byte `ub`; −1 = none. */
  def acEdge(model: AcModel, s: Int, ub: Int): Int = {
    var lo = model.edgeStart(s)
    var hi = model.edgeStart(s + 1) - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val mb = model.edgeByte(mid) & 0xff
      if (mb == ub) return model.edgeTo(mid)
      else if (mb < ub) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }
}

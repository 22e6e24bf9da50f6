package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite with SparkTestBase {

  private lazy val docs = wh.loadTable("documents")
  // Exact trigram-jaccard pairs at >= 0.8 — ground truth for the
  // probabilistic variants (ngramJaccard itself is oracle-checked by the
  // driver's DuckDB gate).
  private lazy val truth: Set[(Long, Long)] = {
    Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("corpus has planted near-dup pairs (fixture sanity)") {
    assert(truth.nonEmpty)
  }

  test("minhashLsh finds every planted pair and estimates jaccard closely") {
    val got = Dedup.minhashLsh(docs, "doc_id", "text",
      shingleWidth = 3, numPerms = 128, bands = 32, threshold = 0.5)
    val pairs = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(pairs), s"missed: ${truth -- pairs}")
    // estimates vs exact on the true pairs: within 0.2 (128 perms ⇒ se ~0.04)
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exact.get(key).foreach(j => assert(math.abs(r.getDouble(2) - j) < 0.2, key))
    }
  }

  test("simhash finds most planted pairs within the hamming radius") {
    val pairs = Dedup.simhash(docs, "doc_id", "text", shingleWidth = 3, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = truth.intersect(pairs).size
    assert(found >= (truth.size * 0.8).toInt, s"found $found of ${truth.size}")
  }

  test("pigeonholeBlocks partitions the 64 bits disjointly for every radius") {
    (1 to 64).foreach { nBlocks =>
      val blocks = Dedup.pigeonholeBlocks(nBlocks)
      assert(blocks.length === nBlocks)
      assert(blocks.map(_._2).sum === 64, s"widths must sum to 64 at nBlocks=$nBlocks")
      assert(blocks.forall { case (off, w) => w >= 1 && off >= 0 && off + w <= 64 },
        s"block out of range at nBlocks=$nBlocks: ${blocks.mkString(",")}")
      // contiguous + disjoint: each block starts where the previous ended
      blocks.sliding(2).foreach {
        case Array((o1, w1), (o2, _)) => assert(o2 === o1 + w1)
        case _                        =>
      }
    }
  }

  test("simhash blocking is pigeonhole-exact at wide radii (adversarial bit placement)") {
    // Worst case for the OLD uniform-ceil-width scheme at maxHamming=14:
    // uniform width ceil(64/15)=5 shifts blocks 13/14 by 65/70 bits, which
    // the JVM aliases mod 64 — only 13 effective blocks, so a pair
    // differing in one bit of each of those 13 blocks (hamming 13 <= 14)
    // would be missed. The disjoint variable-width partition must catch
    // every such pair: plant one differing bit inside each of the first
    // k blocks for every k <= maxHamming and check a shared block remains.
    val maxHamming = 14
    val blocks = Dedup.pigeonholeBlocks(maxHamming + 1)
    (1 to maxHamming).foreach { k =>
      val sigA = 0L
      val sigB = blocks.take(k).map { case (off, _) => 1L << off }.reduce(_ | _)
      assert(java.lang.Long.bitCount(sigA ^ sigB) === k)
      val shared = blocks.exists { case (off, w) =>
        val m = Dedup.blockMask(w)
        ((sigA >>> off) & m) === ((sigB >>> off) & m)
      }
      assert(shared, s"no shared block at hamming $k — pigeonhole broken")
    }
  }

  test("simhash default (maxHamming=3) is exact for its radius") {
    // The scale-safe default: 16-bit blocks whose bucket space doesn't
    // saturate at real corpus sizes (sizing law in Dedup.simhash). The
    // pigeonhole blocking is EXACT for the radius — verify against an
    // all-pairs brute-force hamming computation over the same signatures.
    val sigs = docs
      .select(col("doc_id").cast("long").as("id"),
        Dedup.shingleHashes(col("text"), 3, "word").as("g"))
      .filter(size(col("g")) > 0)
      .select(col("id"), GraftFunctions.simhash64(col("g")).as("sig"))
    val brute = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("hd", expr("bit_count(a.sig ^ b.sig)"))
      .filter(col("hd") <= 3)
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = Dedup.simhash(docs, "doc_id", "text", shingleWidth = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === brute, s"blocked=${pairs.size} brute=${brute.size}")
    assert(pairs.nonEmpty, "fixture has no pairs within the default radius")
  }

  test("weighted simhash: equals unweighted on distinct grams, diverges on repetition, finds near-dups") {
    import spark.implicits._
    // On text whose trigrams are all distinct, the tf multiset equals the
    // distinct set — the weighted and unweighted signatures must be
    // IDENTICAL (an exact equivalence, not a statistical one).
    val distinctText = (1 to 120).map(i => s"w$i").mkString(" ")
    val repeatedText = (Seq.fill(30)("spam ham jam") :+ distinctText).mkString(" ")
    val sigs = Seq((1L, distinctText), (2L, repeatedText)).toDF("doc_id", "text")
      .select(col("doc_id"),
        GraftFunctions.simhashTf(col("text"), 3).as("w"),
        GraftFunctions.simhash64(Dedup.shingleHashes(col("text"), 3, "word")).as("u"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sigs(1L)._1 === sigs(1L)._2, "distinct-gram text: weighted must equal unweighted")
    assert(sigs(2L)._1 !== sigs(2L)._2, "repeated grams must change the tf-weighted signature")
    // Near-dup pair: one word changed out of 120 → 3 differing trigrams;
    // found within the wider radius (and the blocking stays exact for it).
    val changed = distinctText.replace(" w60 ", " XX ")
    val other = (1 to 120).map(i => s"z$i").mkString(" ")
    val pairs = Dedup.simhash(
      Seq((1L, distinctText), (2L, changed), (3L, other)).toDF("doc_id", "text"),
      "doc_id", "text", maxHamming = 7, weighted = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"weighted simhash missed the planted pair: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("weighted simhash drops short docs with non-space whitespace (trim parity)") {
    import spark.implicits._
    // Java String.trim (the kernel) strips \n; a spaces-only filter would
    // over-count tokens, pass these docs, and flood blocking with sig=0
    // false hamming-0 dups — both shorts must be excluded entirely.
    val df = Seq(
      (1L, "\n a b"), (2L, "\t x y"),
      (3L, "one two three four five"), (4L, "six seven eight nine ten"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhash(df, "doc_id", "text", weighted = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists(p => p._1 <= 2 || p._2 <= 2),
      s"gram-less short docs leaked into blocking: $pairs")
  }

  test("embeddingNearDup recall vs brute force") {
    val emb = wh.loadTable("embeddings")
    val e = emb.select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
    val brute = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("c", GraftFunctions.cosineSim(col("a.v"), col("b.v")))
      .filter(col("c") >= 0.4)
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.embeddingNearDup(emb, "vec_id", "embedding",
      threshold = 0.4, numBits = 6, numTables = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(brute), "LSH returned a pair below threshold")
    val recall = if (brute.isEmpty) 1.0 else got.size.toDouble / brute.size
    assert(recall >= 0.7, s"recall $recall (${got.size}/${brute.size})")
  }

  test("decontaminateSemantic: hand-exact flags — scale invariance, boundary, NULLs") {
    import spark.implicits._
    val bench = Seq((100L, Seq(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val model = Dedup.trainSemanticContaminationSet(bench, "embedding")
    val corpus = Seq(
      (1L, Some(Seq(1.0f, 0.0f, 0.0f))),   // identical: cosine 1
      (2L, Some(Seq(0.9f, 0.1f, 0.0f))),   // near-paraphrase: ~0.994
      (3L, Some(Seq(0.0f, 1.0f, 0.0f))),   // orthogonal: 0
      (4L, Some(Seq(-1.0f, 0.0f, 0.0f))),  // opposite: dot < 0 never hits
      (5L, None),                          // NULL vector: 0 hits, false
      (6L, Some(Seq(0.0f, 0.0f, 0.0f))),   // zero norm: cosine defined 0
      (7L, Some(Seq(5.0f, 0.0f, 0.0f))),   // scaled copy: cosine is scale-free
      (8L, Some(Seq(4.0f, 3.0f, 0.0f))))   // cosine EXACTLY 0.8: ≥ is inclusive
      .toDF("vec_id", "embedding")
    val got = Dedup.decontaminateSemantic(corpus, "embedding", model,
        thresholdPermille = 800)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Int]("n_bench_hits"), r.getAs[Boolean]("contaminated")))).toMap
    assert(got(1L) === ((1, true)))
    assert(got(2L) === ((1, true)), "a reworded neighbor the n-gram forms miss")
    assert(got(3L) === ((0, false)))
    assert(got(4L) === ((0, false)), "negative cosine never clears a positive τ")
    assert(got(5L) === ((0, false)), "NULL vectors flag false like NULL texts")
    assert(got(6L) === ((0, false)), "zero-norm cosine is 0, not NaN")
    assert(got(7L) === ((1, true)))
    assert(got(8L) === ((1, true)), "the exact-threshold pair is IN (≥, both engines)")
  }

  test("decontaminateSemantic: multi-hit counts, quantization tie convention") {
    import spark.implicits._
    // two bench vectors both within τ of the probe → n_bench_hits = 2
    val bench = Seq(
      (100L, Seq(1.0f, 0.0f)), (101L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val model = Dedup.trainSemanticContaminationSet(bench, "embedding")
    val got = Dedup.decontaminateSemantic(
        Seq((1L, Seq(1.0f, 0.05f))).toDF("vec_id", "embedding"),
        "embedding", model, thresholdPermille = 800)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("n_bench_hits")).toMap
    assert(got(1L) === 2, "hit count sees every matching bench vector")
    // the quantizer ties AWAY from zero (DuckDB round), not toward +∞
    // (Math.round) — the negative dyadic tie is exactly representable
    assert(graft.functions.Kernels.quantE4(0.03125) === 313L)
    assert(graft.functions.Kernels.quantE4(-0.03125) === -313L,
      "-312.5 must quantize to -313 on both engines")
    // corpus-level sanity at the q_decontaminate_semantic operating point:
    // all 20 bench members self-match at cosine 1
    val emb = wh.loadTable("embeddings")
    val m2 = Dedup.trainSemanticContaminationSet(
      emb.filter(col("vec_id") % 25 === 0), "embedding")
    val flags = Dedup.decontaminateSemantic(emb, "embedding", m2,
        thresholdPermille = 350)
      .filter(col("contaminated")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert((0L until 500L by 25L).toSet.subsetOf(flags),
      "every bench member self-matches")
  }

  test("semanticHits: component bound scales with dimension — no silent wrap") {
    import spark.implicits._
    import graft.functions.Kernels.maxSemanticCompE4
    // the bound is the largest m with d·m² ≤ 2⁶³−1, capped at 10⁸
    assert(maxSemanticCompE4(1) === 100000000L)
    assert(maxSemanticCompE4(64) === 100000000L)
    assert(maxSemanticCompE4(922) === 100000000L, "the cap binds to d≈922")
    val m1000 = maxSemanticCompE4(1000)
    assert(m1000 < 100000000L, "beyond d≈922 the dimension term binds")
    assert(m1000 * m1000 <= Long.MaxValue / 1000L &&
      (m1000 + 1) * (m1000 + 1) > Long.MaxValue / 1000L, "tight")
    // d=1000 at component 9999.0 passed the old flat 10⁸ check but the
    // norm Σv² ≈ 9.998·10¹⁸ > 2⁶³−1 would have wrapped silently — the
    // trainer and the kernel must both refuse it loudly now
    val hot = Seq.fill(1000)(9999.0f)
    val exTrain = intercept[IllegalArgumentException] {
      Dedup.trainSemanticContaminationSet(
        Seq((1L, hot)).toDF("vec_id", "embedding"), "embedding")
    }
    assert(exTrain.getMessage.contains("dimension-scaled"))
    val okModel = Dedup.trainSemanticContaminationSet(
      Seq((1L, Seq.fill(1000)(1.0f))).toDF("vec_id", "embedding"), "embedding")
    val exScore = intercept[Exception] {
      Dedup.decontaminateSemantic(
        Seq((2L, hot)).toDF("vec_id", "embedding"), "embedding", okModel,
        thresholdPermille = 800).collect()
    }
    assert(root(exScore).contains("dimension-scaled"))
    // an in-bound high-dimension corpus still scores exactly: the
    // identical 1000-dim vector hits at cosine 1
    val got = Dedup.decontaminateSemantic(
        Seq((3L, Seq.fill(1000)(1.0f))).toDF("vec_id", "embedding"),
        "embedding", okModel, thresholdPermille = 999)
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("contaminated")).toMap
    assert(got(3L) === true)
  }

  test("incremental embedding near-dup probes the vector store, no old-old") {
    val emb = wh.loadTable("embeddings")
    val store = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    // batch: exact copies of two stored vectors (cosine 1.0) + themselves
    val batch = emb.filter(col("vec_id").isin(3L, 11L))
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
    val got = Dedup.embeddingNearDupIncremental(batch, "vec_id", "embedding",
        store, threshold = 0.9, numBits = 6, numTables = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((3L, 5000003L)) && got.contains((11L, 5000011L)),
      s"planted copies not found: $got")
    // every pair involves a new id
    assert(got.forall(p => p._1 >= 5000000L || p._2 >= 5000000L),
      s"old-vs-old pair leaked: $got")
    // parity with the one-shot operator restricted to batch-involving pairs
    val full = Dedup.embeddingNearDup(
        store.select(col("id").as("vec_id"), col("vec").as("embedding"))
          .unionByName(batch), "vec_id", "embedding",
        threshold = 0.9, numBits = 6, numTables = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => p._1 >= 5000000L || p._2 >= 5000000L)
    assert(got === full, "incremental diverges from full-run batch-involving pairs")
    // re-delivery of a stored id supersedes it: no self pair
    val reIngest = emb.filter(col("vec_id") === 3L)
      .select(col("vec_id"), col("embedding"))
    val got2 = Dedup.embeddingNearDupIncremental(reIngest, "vec_id", "embedding",
        store, threshold = 0.9, numBits = 6, numTables = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!got2.contains((3L, 3L)), "stale self-comparison leaked")
  }

  test("incremental simhash probes the signature store, no old-old pairs") {
    import spark.implicits._
    val docs = wh.loadTable("documents").select("doc_id", "text")
    val store = Dedup.simhashSignatures(docs, "doc_id", "text")
    val old7 = docs.filter(col("doc_id") === 7L).collect()(0).getString(1)
    val batch = Seq(
      (1000007L, old7), // exact copy → hamming 0, must be found
      (1000999L, (1 to 40).map(i => s"zq$i unique").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.hammingNearDupIncremental(
        Dedup.simhashSignatures(batch, "doc_id", "text"), "id", "sig", store,
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((7L, 1000007L)), s"planted copy not found: $got")
    assert(got.forall(p => p._1 >= 1000000L || p._2 >= 1000000L),
      s"old-vs-old pair leaked: $got")
    // parity with the one-shot simhash restricted to batch-involving pairs
    val full = Dedup.simhash(docs.unionByName(batch), "doc_id", "text",
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => p._1 >= 1000000L || p._2 >= 1000000L)
    assert(got === full, "incremental diverges from full-run batch pairs")
    // re-delivered stored id supersedes: no self pair
    val got2 = Dedup.hammingNearDupIncremental(
        Dedup.simhashSignatures(Seq((7L, old7)).toDF("doc_id", "text"),
          "doc_id", "text"), "id", "sig", store, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!got2.contains((7L, 7L)), "stale self-comparison leaked")
  }

  test("fingerprintOverlap finds containment that symmetric jaccard misses") {
    import spark.implicits._
    val core = (1 to 40).map(i => s"w$i").mkString(" ")
    val extra = (1 to 160).map(i => s"z$i").mkString(" ")
    val df = Seq(
      (1L, core),               // fully contained in 2
      (2L, s"$extra $core"),    // superset: jaccard vs 1 is low (~0.2)
      (3L, (1 to 40).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.fingerprintOverlap(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(pairs.contains((1L, 2L)), s"containment missed the subset pair: $pairs")
    assert(pairs((1L, 2L)) > 0.8, s"contained doc should overlap strongly: ${pairs((1L, 2L))}")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // and symmetric jaccard indeed misses it at the same threshold
    val jac = Dedup.ngramJaccard(df, "doc_id", "text", n = 3, threshold = 0.5)
    assert(!jac.collect().map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
  }

  test("fingerprintOverlap cap drops boilerplate but keeps real containment") {
    import spark.implicits._
    // every doc shares one boilerplate sentence (its fingerprints exceed
    // the cap and must be dropped); the planted containment pair shares
    // unique content and must survive on the informative subspace
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")
    val core = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = (1 to 60).map(i =>
      (100L + i, s"$boiler " + (1 to 30).map(j => s"u${i}x$j").mkString(" "))) ++
      Seq((1L, s"$boiler $core"), (2L, s"$boiler $core extra tail content here"))
    val pairs = Dedup.fingerprintOverlap(docs.toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.5, maxHashDocs = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"cap destroyed the real containment pair: $pairs")
    assert(!pairs.exists(p => p._1 > 100L && p._2 > 100L),
      s"boilerplate-only docs should not pair: $pairs")
  }

  test("containment floor excludes docs that are ~all boilerplate") {
    import spark.implicits._
    // 150 docs share the boilerplate (capped away); docs 1 and 2 are pure
    // boilerplate plus ONE shared sub-cap phrase — with almost no
    // surviving fingerprints they must not report containment=1.0
    val boiler = (1 to 30).map(i => s"bb$i").mkString(" ")
    val phrase = "rare shared phrase here"
    val docs = (1 to 150).map(i => (100L + i, s"$boiler filler$i")) ++
      Seq((1L, s"$boiler $phrase"), (2L, s"$phrase $boiler"))
    val pairs = Dedup.fingerprintOverlap(docs.toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.5, maxHashDocs = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.contains((1L, 2L)),
      s"near-zero-evidence pair should be excluded by the floor: $pairs")
  }

  // Brute-force TF-weighted trigram jaccard (Σmin/Σmax) over the corpus,
  // with the kernels' exact tokenization (trim, single-space split) —
  // ground truth for the weighted variants.
  private lazy val weightedTruth: Map[(Long, Long), Double] = {
    val byDoc = docs.select(col("doc_id").cast("long"), col("text")).collect().map { r =>
      val toks = r.getString(1).trim.split(" ", -1)
      val grams = toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
      r.getLong(0) -> grams.groupBy(identity).map { case (g, o) => g -> o.size }
    }.sortBy(_._1)
    (for {
      i <- byDoc.indices.iterator
      j <- (i + 1) until byDoc.length
      (ida, a) = byDoc(i)
      (idb, b) = byDoc(j)
      if a.nonEmpty && b.nonEmpty
    } yield {
      val smin = a.keysIterator.map(g => math.min(a(g), b.getOrElse(g, 0))).sum
      val ta = a.valuesIterator.sum
      val tb = b.valuesIterator.sum
      (ida, idb) -> smin.toDouble / (ta + tb - smin)
    }).toMap
  }

  test("word_tf shingles make ngramJaccard exactly TF-weighted") {
    // occurrence expansion: set jaccard over (gram, occurrence) elements
    // == Σmin/Σmax weighted jaccard, bit-for-bit (int/int division)
    val got = Dedup.ngramJaccard(docs, "doc_id", "text",
        n = 3, threshold = 0.7, shingler = "word_tf")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val expect = weightedTruth.filter(_._2 >= 0.7)
    assert(got.keySet === expect.keySet,
      s"missed: ${expect.keySet -- got.keySet}; spurious: ${got.keySet -- expect.keySet}")
    got.foreach { case (k, v) => assert(v === expect(k), s"value drift at $k") }
    // repetition changes the weighted score where distinct-gram jaccard
    // can't see it: a doc of one repeated gram vs the same gram once
    import spark.implicits._
    // same DISTINCT trigram set {abc, bca, cab}, different multiplicities:
    // doc1 has 10 gram occurrences (abc×4, bca×3, cab×3), doc2 has 4
    // (abc×2, bca, cab) → Σmin = 4, Σmax = 10 + 4 − 4 = 10
    val rep = Seq((1L, "a b c a b c a b c a b c"), (2L, "a b c a b c")).toDF("doc_id", "text")
    val w = Dedup.ngramJaccard(rep, "doc_id", "text", n = 3,
      threshold = 0.0, shingler = "word_tf").collect()
    val u = Dedup.ngramJaccard(rep, "doc_id", "text", n = 3,
      threshold = 0.0, shingler = "word").collect()
    assert(u.head.getDouble(2) === 1.0) // distinct grams identical
    assert(w.head.getDouble(2) === 0.4, // weighted sees the repetition
      s"weighted jaccard should punish repetition: ${w.head}")
  }

  test("icwsLsh estimates weighted jaccard and finds every high-Jw pair") {
    val got = Dedup.icwsLsh(docs, "doc_id", "text",
      shingleWidth = 3, numPerms = 128, bands = 32, threshold = 0.5)
    val pairs = got.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // recall: every exact weighted-jaccard >= 0.7 pair must surface
    val high = weightedTruth.filter(_._2 >= 0.7).keySet
    assert(high.nonEmpty, "fixture: no high-Jw pairs in corpus")
    assert(high.subsetOf(pairs.keySet), s"missed: ${high -- pairs.keySet}")
    // estimator: slot agreement within 0.2 of exact (128 perms, se ~0.04)
    pairs.foreach { case (k, est) =>
      weightedTruth.get(k).foreach(jw =>
        assert(math.abs(est - jw) < 0.2, s"$k est=$est exact=$jw"))
    }
    // identical texts agree on every slot
    import spark.implicits._
    val twins = Seq((1L, "p q r p q r s"), (2L, "p q r p q r s")).toDF("doc_id", "text")
    val t = Dedup.icwsLsh(twins, "doc_id", "text", shingleWidth = 3,
      numPerms = 64, bands = 16, threshold = 0.9).collect()
    assert(t.length === 1 && t.head.getDouble(2) === 1.0)
  }

  test("paragraphDedup keeps the corpus-wide first occurrence and splices in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha\nshared footer\nbeta"),
      (2L, "gamma\nshared footer\ndelta\nshared footer"),
      (3L, "shared footer")
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 owns (min doc_id, pos) for all three of its paragraphs
    assert(got(1L) === ((3L, 3L, "alpha\nshared footer\nbeta")))
    // doc 2 loses BOTH copies of the shared footer, keeps its own order
    assert(got(2L) === ((4L, 2L, "gamma\ndelta")))
    // doc 3 loses its only paragraph: empty but present
    assert(got(3L) === ((1L, 0L, "")))
  }

  test("paragraphDedupIncremental: history wins, batch elects first, parity with batch dedup") {
    import spark.implicits._
    val hist = Seq(
      (1L, "alpha\nshared footer"),
      (2L, "gamma")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha\nnew one\nshared footer"),
      (11L, "new one\nnew two\ngamma")).toDF("doc_id", "text")
    val store = Dedup.paragraphHashStore(hist, "doc_id", "text")
    val got = Dedup.paragraphDedupIncremental(batch, "doc_id", "text", store)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // history segments collapse everywhere; "new one" first occurs in 10
    assert(got(10L) === ((3L, 1L, "new one")))
    assert(got(11L) === ((3L, 1L, "new two")))
    // corpus parity: with batch ids AFTER history ids (temporal order),
    // incremental == full-corpus keep-first restricted to the batch
    val docs = wh.loadTable("documents").filter(col("text").isNotNull)
    val h = docs.filter(col("doc_id") < 250)
    val b = docs.filter(col("doc_id") >= 250)
    val inc = Dedup.paragraphDedupIncremental(b, "doc_id", "text",
      Dedup.paragraphHashStore(h, "doc_id", "text", sep = " "), sep = " ")
      .collect().map(_.toSeq).toSet
    val full = Dedup.paragraphDedup(docs, "doc_id", "text", sep = " ")
      .filter(col("doc_id") >= 250)
      .collect().map(_.toSeq).toSet
    assert(inc === full)
  }

  test("paragraphDedupIncremental probes the store without shuffling it") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = wh.loadTable("documents").filter(col("text").isNotNull)
      val store = Dedup.paragraphHashStore(
        docs.filter(col("doc_id") < 250), "doc_id", "text", sep = " ")
      val plan = Dedup.paragraphDedupIncremental(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", store, sep = " ")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning(__store_h"),
        "store must stream through the broadcast semi-join, never shuffle:\n" + plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("removeBoilerplate drops hot lines everywhere, first occurrence included") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique one\ncookie banner"),
      (2L, "cookie banner\nunique two"),
      (3L, "cookie banner\nunique three\ncookie banner"),
      (4L, "only unique things here")
    ).toDF("doc_id", "text")
    val got = Dedup.removeBoilerplate(docs, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) === ((2L, 1L, "unique one")))
    assert(got(2L) === ((2L, 1L, "unique two")))
    assert(got(3L) === ((3L, 1L, "unique three")))
    assert(got(4L) === ((1L, 1L, "only unique things here")))
    // below the threshold nothing is hot
    val none = Dedup.removeBoilerplate(docs, "doc_id", "text", minDocs = 4)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(none(1L) === "unique one\ncookie banner")
  }

  test("connectedComponents resolves pair transitivity into min-id clusters") {
    import spark.implicits._
    // chain 20-21-22-23 needs 3 propagation rounds; star 1-{2,3}; pair 10-11
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (21L, 20L), (21L, 22L), (22L, 23L))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    // cluster decision: singletons keep themselves; one keeper per cluster
    val df = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 22L, 23L, 50L).toDF("doc_id")
    val decided = Dedup.dedupByClusters(df, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val keepers = decided.filter(_._3).map(_._1).toSet
    assert(keepers === Set(1L, 10L, 20L, 50L))
    assert(decided.find(_._1 == 50L).get._2 === 50L) // singleton: own cluster
    // corpus-level: components over the jaccard pairs equal a union-find
    val jp = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    jp.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = jp.flatMap(p => Seq(p._1, p._2)).distinct.map(x => x -> find(x)).toMap
    val got = Dedup.connectedComponents(
        Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.7),
        "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("dedupByClusters elects a keeper PRESENT in df when pairs cover a superset corpus") {
    import spark.implicits._
    // pairs over a superset: cluster {1,2,3} where canonical-by-global-min
    // (id 1) is NOT in df — the keeper must fall to the min PRESENT id (2),
    // or a filter(keep) would silently drop the whole group
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val df = Seq(2L, 3L, 11L, 50L).toDF("doc_id")
    val got = Dedup.dedupByClusters(df, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got === Set(
      (2L, 2L, true), (3L, 2L, false),   // keeper re-elected among present ids
      (11L, 11L, true),                  // global min 10 absent → 11 keeps
      (50L, 50L, true)))                 // singleton untouched
    // invariant: every represented cluster keeps exactly one row
    val perCluster = got.groupBy(_._2).view.mapValues(_.count(_._3)).toMap
    assert(perCluster.values.forall(_ == 1), s"keeper count per cluster: $perCluster")
  }

  test("cdcDedup: keep-first over CDC chunks, splice parity with a local election") {
    import spark.implicits._
    val base = wh.loadTable("documents").select("doc_id", "text")
      .filter(col("text").isNotNull).orderBy("doc_id").limit(2)
      .collect().map(_.getString(1))
    val fix = Seq(
      (1L, base(0)),                       // first occurrence: keeps all
      (2L, base(0)),                       // exact clone: keeps nothing
      (3L, base(0) + " TAIL " + base(1)),  // shifted reuse: tail survives
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = Dedup.cdcDedup(fix, "doc_id", "text",
        maskBits = 4, minLen = 1, maxLen = 1000000)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(1L)._4 === base(0), "first doc keeps its whole text")
    assert(byId(1L)._2 === byId(1L)._3)
    assert(byId(2L)._3 === 0L && byId(2L)._4 === "", "exact clone fully dedups")
    assert(byId(4L) === ((4L, 0L, 0L, "")), "null text -> empty")
    // local election parity over the operator's own chunk frame
    val chunks = graft.operators.TextAnalysis.cdcChunkDocs(fix, "doc_id", "text",
        maskBits = 4, minLen = 1, maxLen = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val firstOwner = chunks.groupBy(_._5).view
      .mapValues(_.map(c => (c._1, c._2)).min).toMap
    val wantKept = chunks.filter(c => firstOwner(c._5) == ((c._1, c._2)))
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    got.foreach { case (id, _, nk, _) =>
      assert(nk === wantKept.getOrElse(id, 0L), s"doc $id")
    }
    // doc 3 keeps its genuinely new content but drops the cloned prefix
    assert(byId(3L)._3 > 0L && byId(3L)._3 < byId(3L)._2)
    assert(byId(3L)._4.contains(base(1).takeRight(32)))
  }

  test("cdcDedupIncremental: store probe == one-shot restricted to the batch") {
    import spark.implicits._
    val docs = wh.loadTable("documents").select("doc_id", "text")
    val hist = docs.filter(col("doc_id") < 300)
    val batch = docs.filter(col("doc_id") >= 300)
    val store = Dedup.cdcHashStore(hist, "doc_id", "text",
      maskBits = 5, minLen = 1, maxLen = 1000000).localCheckpoint()
    val inc = Dedup.cdcDedupIncremental(batch, "doc_id", "text", store,
        maskBits = 5, minLen = 1, maxLen = 1000000)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val oneShot = Dedup.cdcDedup(docs, "doc_id", "text",
        maskBits = 5, minLen = 1, maxLen = 1000000)
      .filter(col("doc_id") >= 300)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(inc.toSeq === oneShot.toSeq)
    // history wins outright: a batch clone of a history doc keeps nothing
    val histText = hist.filter(col("text").isNotNull).limit(1)
      .collect().head.getString(1)
    val clone = Seq((9999L, histText)).toDF("doc_id", "text")
    val cleaned = Dedup.cdcDedupIncremental(clone, "doc_id", "text", store,
        maskBits = 5, minLen = 1, maxLen = 1000000)
      .collect().head
    assert(cleaned.getLong(2) === 0L && cleaned.getString(3) === "")
    // empty store degenerates to the one-shot batch dedup
    val empty = store.filter(lit(false))
    val fresh = Dedup.cdcDedupIncremental(batch, "doc_id", "text", empty,
        maskBits = 5, minLen = 1, maxLen = 1000000)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val plain = Dedup.cdcDedup(batch, "doc_id", "text",
        maskBits = 5, minLen = 1, maxLen = 1000000)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(fresh.toSeq === plain.toSeq)
  }

  test("splitByCluster: cluster members share a fold, folds replay the md5 draw") {
    import spark.implicits._
    val docs = (1L to 200L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (50L, 60L))
      .toDF("id_a", "id_b")
    val got = Dedup.splitByCluster(docs, "id", pairs, weights = Seq(8, 1, 1))
      .select("id", "cluster_id", "keep", "fold").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getInt(3)))
    val byId = got.map(t => t._1 -> t).toMap
    assert(got.length === 200)
    // whole duplicate classes move together
    assert(Set(byId(1L)._4, byId(2L)._4, byId(3L)._4).size === 1)
    assert(byId(10L)._4 === byId(11L)._4)
    assert(byId(50L)._4 === byId(60L)._4)
    // keep is the min-id dedupByClusters election, unchanged
    assert(byId(1L)._3 && !byId(2L)._3 && !byId(3L)._3 && byId(4L)._3)
    // exact local replay: fold is a pure md5 function of cluster_id
    def foldOf(cid: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"42:$cid".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val k = java.lang.Long.parseLong(hex.take(15), 16) % 1000000L
      if (k < 800000L) 0 else if (k < 900000L) 1 else 2
    }
    got.foreach { case (id, cid, _, f) =>
      assert(f === foldOf(cid), s"id $id cluster $cid") }
    // 8/1/1 over 196 clusters: the big fold dominates and no fold is empty
    val byFold = got.groupBy(_._4).view.mapValues(_.length).toMap
    assert(byFold.keySet.subsetOf(Set(0, 1, 2)))
    assert(byFold(0) > 100, s"train fold implausibly small: $byFold")
    // invalid weights refused
    intercept[IllegalArgumentException] {
      Dedup.splitByCluster(docs, "id", pairs, weights = Seq(1, 0))
    }
  }

  test("dedupByClustersKeepBest elects the highest score, ties to min id") {
    import spark.implicits._
    // cluster {1,2,3}: scores 5,9,9 → keeper 2 (max score, tie min id);
    // cluster {10,11}: keeper 11 (higher score); singleton 50 keeps itself
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val df = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 4L), (11L, 8L), (50L, 1L))
      .toDF("doc_id", "score")
    val got = Dedup.dedupByClustersKeepBest(df, "doc_id", "score", pairs)
      .select("doc_id", "cluster_id", "keeper_id", "keep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(got === Set(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 1L, 2L, false),
      (10L, 10L, 11L, false), (11L, 10L, 11L, true),
      (50L, 50L, 50L, true)))
    // the keeper must be elected among PRESENT members only
    val df2 = Seq((2L, 1L), (3L, 2L)).toDF("doc_id", "score") // id 1 absent
    val got2 = Dedup.dedupByClustersKeepBest(df2, "doc_id", "score", pairs)
      .select("doc_id", "keeper_id", "keep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got2 === Set((2L, 3L, false), (3L, 3L, true)))
  }

  /** Count files under the context's checkpoint dir, tolerating the
    * ContextCleaner deleting superseded round dirs concurrently
    * (cleanCheckpoints=true — a plain Files.walk throws NoSuchFile
    * mid-iteration when a dir vanishes under it).
    */
  private def countCheckpointFiles(): Long = {
    import java.nio.file._
    import java.nio.file.attribute.BasicFileAttributes
    val root = Paths.get(new java.net.URI(spark.sparkContext.getCheckpointDir.get))
    var n = 0L
    Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        n += 1; FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    n
  }

  test("connectedComponents with a reliable checkpoint dir matches localCheckpoint labels") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val pairs = Seq((2L, 1L), (2L, 3L), (21L, 20L), (21L, 22L), (22L, 23L))
      .toDF("id_a", "id_b")
    val want = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b",
        checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // the reliable path really wrote recoverable checkpoint data
    // (getCheckpointDir is a file: URI on local fs)
    assert(countCheckpointFiles() > 0, "no reliable checkpoint files written")
  }

  test("reliable-checkpoint CC: deep path graph converges, releases caches, errors on tight maxIters") {
    import spark.implicits._
    // diameter 21 (> 15): deep enough that per-round truncation is what
    // keeps the doubling lineage viable — exercised END-TO-END on the
    // reliable branch (executor-loss-tolerant round files), not just the
    // shallow star graphs of the parity test above
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-deep").toString
    val chain = (1L until 22L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // Cache-leak detection is MAGNITUDE-based, not exact-count: suites
    // share one SparkContext and run concurrently, so other tests add and
    // drop persistent RDDs while this one runs. A broken release would
    // leak ~one cache per round (≈ diameter ≈ 21) plus the edge cache —
    // far above any plausible concurrent churn, so assert the growth
    // stays well under the round count (with a short drain window for
    // async unpersists).
    def cachedCount = spark.sparkContext.getPersistentRDDs.size
    def assertNoRoundLeak(before: Int, what: String): Unit = {
      val deadline = System.nanoTime() + 10_000_000_000L
      var grown = cachedCount - before
      while (grown >= 10 && System.nanoTime() < deadline) {
        Thread.sleep(200); grown = cachedCount - before
      }
      assert(grown < 10, s"$what leaked ~per-round caches: +$grown")
    }
    val before = cachedCount
    val labels = Dedup.connectedComponents(chain, "id_a", "id_b",
      maxIters = 30, checkpointDir = Some(dir))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 22 && got.values.forall(_ === 1L),
      "min label must propagate the full diameter")
    // superseded round caches and the symmetric edge cache are released —
    // reads are now backed by the round files, so nothing stays pinned
    assertNoRoundLeak(before, "deep CC")
    assert(countCheckpointFiles() > 0, "no reliable checkpoint files written")
    // the converge-or-throw boundary holds on the reliable branch too,
    // and the throw path must not leak caches either (the finally block)
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "id_a", "id_b",
        maxIters = 4, checkpointDir = Some(dir)).collect()
    }
    assertNoRoundLeak(before, "non-convergence throw")
  }

  /** Ground-truth maximal shared spans >= minLen via the L-gram diagonal
    * method, computed in plain Scala — the obvious-but-quadratic
    * formulation the anchored operator must reproduce EXACTLY.
    */
  private def bruteSpans(corpus: Seq[(Long, String)], minLen: Int)
      : Set[(Long, Long, Long, Long, Long)] = {
    val out = scala.collection.mutable.Set[(Long, Long, Long, Long, Long)]()
    for {
      (ida, ta) <- corpus
      (idb, tb) <- corpus
      if ida < idb
    } {
      val bPos = scala.collection.mutable.Map[String, List[Int]]()
      for (j <- 0 to tb.length - minLen)
        bPos.updateWith(tb.substring(j, j + minLen))(o => Some(j :: o.getOrElse(Nil)))
      val matches = scala.collection.mutable.Set[(Int, Int)]()
      for (i <- 0 to ta.length - minLen; j <- bPos.getOrElse(ta.substring(i, i + minLen), Nil))
        matches += ((i, j))
      // maximal runs along each diagonal
      matches.groupBy { case (i, j) => i - j }.foreach { case (diag, ms) =>
        val is = ms.map(_._1).toSeq.sorted
        var runStart = is.head
        var prev = is.head
        def emit(): Unit =
          out += ((ida, idb, (runStart + 1).toLong, (runStart - diag + 1).toLong,
            (prev - runStart + minLen).toLong))
        for (i <- is.tail) {
          if (i != prev + 1) { emit(); runStart = i }
          prev = i
        }
        emit()
      }
    }
    out.toSet
  }

  test("sharedSpans reports exactly the maximal shared spans on a planted fixture") {
    import spark.implicits._
    val S = "the quick brown fox jumps over the lazy dog near the riverbank today"
    val short = "tiny shared bit here"
    val d1 = s"alpha opening words_${S}_closing remark one"
    val d2 = s"beta other preamble-${S}-different ending two"
    val d3 = s"gamma has only $short and nothing else of note in common with anyone"
    val d4 = s"delta also has $short plus completely unrelated trailing content xyz"
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4)).toDF("doc_id", "text")
    val got = Dedup.sharedSpans(docs, "doc_id", "text", minLen = 40, k = 8,
        maxHashDocs = 0, maxHashOccurrences = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // exactly one span: S between d1 and d2, exact 1-based positions, exact
    // length (the surrounding separators differ so extension stops at S)
    assert(got === Set((1L, 2L, (d1.indexOf(S) + 1).toLong,
      (d2.indexOf(S) + 1).toLong, S.length.toLong)))
    // the ~20-char shared bit between d3/d4 is below minLen → absent
    assert(!got.exists(s => s._1 >= 3L || s._2 >= 3L))
    // and the brute-force diagonal method agrees in full
    assert(got === bruteSpans(Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4)), 40))
  }

  test("sharedSpans equals the brute-force diagonal method on the corpus") {
    val sub = docs.select("doc_id", "text").filter(col("doc_id") < 60)
    def run(k: Int) = Dedup.sharedSpans(sub, "doc_id", "text", minLen = 40, k = k,
        maxHashDocs = 0, maxHashOccurrences = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val got = run(20)
    val want = bruteSpans(
      sub.collect().map(r => (r.getLong(0), r.getString(1))).toSeq, 40)
    assert(got === want, s"missing=${want -- got} spurious=${got -- want}")
    assert(want.nonEmpty, "corpus fixture should contain shared spans >= 40 chars")
    // k is a selectivity dial, not a correctness one: any k <= minLen exact
    assert(run(8) === want)
  }

  test("sharedSpans hot-anchor cap drops ubiquitous boilerplate spans only") {
    import spark.implicits._
    val boiler = "this exact boilerplate license header appears in every single document verbatim"
    val rare = "a genuinely rare shared passage occurring in just two documents here"
    val corpus = (1L to 12L).map { i =>
      val extra = if (i <= 2) s" middle_$i $rare" else ""
      (i, s"doc $i unique preamble number$i $boiler$extra unique tail $i")
    }.toDF("doc_id", "text")
    val capped = Dedup.sharedSpans(corpus, "doc_id", "text", minLen = 40, k = 8,
        maxHashDocs = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 12-doc boilerplate pairs are gone; the 2-doc rare span survives
    assert(capped === Set((1L, 2L)))
    val uncapped = Dedup.sharedSpans(corpus, "doc_id", "text", minLen = 40, k = 8,
        maxHashDocs = 0, maxHashOccurrences = 0).count()
    assert(uncapped >= 66, s"uncapped must report all boilerplate pairs, got $uncapped")
  }

  test("sharedSpansIncremental against an anchor store equals the filtered one-shot pass") {
    val history = docs.select("doc_id", "text").filter(col("doc_id") < 60)
    // prefix-edited clones guarantee nontrivial cross-boundary spans
    val batch = history.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"),
        concat(lit("BATCH CLONE PREFIX >> "), col("text")).as("text"))
    def spanSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val store = Dedup.spanAnchorStore(history, "doc_id", "text", minLen = 40, k = 20)
    val got = spanSet(Dedup.sharedSpansIncremental(batch, "doc_id", "text",
      store, history, minLen = 40, k = 20, maxHashDocs = 0, maxHashOccurrences = 0))
    val full = spanSet(Dedup.sharedSpans(history.unionByName(batch), "doc_id",
        "text", minLen = 40, k = 20, maxHashDocs = 0, maxHashOccurrences = 0)
      .filter(col("id_a") >= 1000L || col("id_b") >= 1000L))
    assert(got.nonEmpty, "fixture must produce cross-boundary spans")
    assert(got === full)
    // the incremental contract: no old-vs-old pair is ever generated
    assert(!got.exists(p => p._1 < 1000L && p._2 < 1000L))
  }

  test("sharedSpansIncremental: a re-delivered history id supersedes its anchors and text") {
    import spark.implicits._
    val history = docs.select("doc_id", "text").filter(col("doc_id") < 60)
    val clones = history.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"),
        concat(lit("BATCH CLONE PREFIX >> "), col("text")).as("text"))
    val hist = history.collect().map(r => r.getLong(0) -> r.getString(1))
      .filter(_._2 != null).sortBy(_._1)
    // x has a clone in the batch; its changed text is another doc's
    val (x, xText) = hist.find(_._1 % 7 == 0).get
    val other = hist.find(p => p._1 % 7 != 0).get._2
    def spanSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val store = Dedup.spanAnchorStore(history, "doc_id", "text", minLen = 40, k = 20)
    Seq(xText, "CHANGED >> " + other).foreach { text =>
      val batch = clones.unionByName(Seq((x, text)).toDF("doc_id", "text"))
      val got = spanSet(Dedup.sharedSpansIncremental(batch, "doc_id", "text",
        store, history, minLen = 40, k = 20, maxHashDocs = 0, maxHashOccurrences = 0))
      val expect = spanSet(Dedup.sharedSpans(
          history.filter(col("doc_id") =!= x).unionByName(batch), "doc_id", "text",
          minLen = 40, k = 20, maxHashDocs = 0, maxHashOccurrences = 0)
        .filter(col("id_a") >= 1000L || col("id_b") >= 1000L ||
          col("id_a") === x || col("id_b") === x))
      assert(got === expect,
        s"missing: ${(expect diff got).take(3)}; extra: ${(got diff expect).take(3)}")
      assert(got.exists(p => p._1 == x || p._2 == x), "the re-delivered id has spans")
    }
  }

  test("sharedSpansIncremental cap parity: per-hash counts match the one-shot pass") {
    import spark.implicits._
    val boiler = "this exact boilerplate license header appears in every single document verbatim"
    val history = (1L to 8L)
      .map(i => (i, s"doc $i unique preamble number$i $boiler unique tail $i"))
      .toDF("doc_id", "text")
    val batch = (101L to 104L)
      .map(i => (i, s"batch doc $i other words $boiler closing part $i"))
      .toDF("doc_id", "text")
    val store = Dedup.spanAnchorStore(history, "doc_id", "text", minLen = 40, k = 8)
    def runInc(cap: Int) = Dedup.sharedSpansIncremental(batch, "doc_id", "text",
        store, history, minLen = 40, k = 8, maxHashDocs = cap,
        maxHashOccurrences = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def runFull(cap: Int) = Dedup.sharedSpans(history.unionByName(batch),
        "doc_id", "text", minLen = 40, k = 8, maxHashDocs = cap,
        maxHashOccurrences = 0)
      .filter(col("id_a") >= 100L || col("id_b") >= 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 12 docs carry the boilerplate: under cap 5 its anchors must be
    // dropped on the FULL corpus count (8 history + 4 batch > 5) — a
    // batch-only count (4) would diverge from the one-shot pass. The
    // batch docs' private context anchors (4 docs <= 5) survive on both
    // sides, so parity, not emptiness, is the property.
    val inc5 = runInc(5)
    assert(inc5 === runFull(5))
    // history-vs-batch boilerplate pairs ARE capped out under cap 5
    assert(!inc5.exists(p => p._1 < 100L))
    assert(runInc(0) === runFull(0))
    assert(runInc(0).exists(p => p._1 < 100L))
  }

  /** Intra-doc ground truth: maximal repeated-pair spans >= minLen via
    * the same L-gram diagonal method, per document.
    */
  private def bruteSelfSpans(corpus: Seq[(Long, String)], minLen: Int)
      : Set[(Long, Long, Long, Long)] = {
    val out = scala.collection.mutable.Set[(Long, Long, Long, Long)]()
    for ((id, t) <- corpus) {
      val pos = scala.collection.mutable.Map[String, List[Int]]()
      for (i <- 0 to t.length - minLen)
        pos.updateWith(t.substring(i, i + minLen))(o => Some(i :: o.getOrElse(Nil)))
      val matches = for {
        (_, ps) <- pos.toSeq
        i <- ps; j <- ps if i < j
      } yield (i, j)
      matches.groupBy { case (i, j) => j - i }.foreach { case (diag, ms) =>
        val is = ms.map(_._1).distinct.sorted
        var runStart = is.head
        var prev = is.head
        def emit(): Unit =
          out += ((id, (runStart + 1).toLong, (runStart + diag + 1).toLong,
            (prev - runStart + minLen).toLong))
        for (i <- is.tail) {
          if (i != prev + 1) { emit(); runStart = i }
          prev = i
        }
        emit()
      }
    }
    out.toSet
  }

  test("selfSpans finds maximal within-document repeats, including overlapping periodic ones") {
    import spark.implicits._
    val R = "this exact paragraph repeats itself inside one document"
    val d1 = s"intro_one $R middle filler words $R outro_one"
    val d2 = "completely unrepetitive content with every word appearing once only"
    val d3 = "ab" * 30 // periodic: overlapping repeats
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val got = Dedup.selfSpans(docs, "doc_id", "text", minLen = 20, k = 10,
        maxHashOccurrences = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = bruteSelfSpans(Seq((1L, d1), (2L, d2), (3L, d3)), 20)
    assert(got === want, s"missing=${want -- got} spurious=${got -- want}")
    // the planted repeat is found with exact positions (span includes the
    // flanking spaces: ' R ' occurs around both copies)
    val p1 = d1.indexOf(R); val p2 = d1.indexOf(R, p1 + 1)
    assert(got.contains((1L, p1.toLong, p2.toLong, (R.length + 2).toLong)),
      s"planted repeat not found at exact positions: $got")
    assert(!got.exists(_._1 == 2L), "unrepetitive doc must report nothing")
    // periodic doc: the dominant diagonal-2 repeat spans the whole string
    assert(got.contains((3L, 1L, 3L, 58L)), s"periodic repeat wrong: $got")
  }

  test("selfSpans equals the brute-force diagonal method on the corpus") {
    val sub = docs.select("doc_id", "text").filter(col("doc_id") < 400)
    val got = Dedup.selfSpans(sub, "doc_id", "text", minLen = 20, k = 10,
        maxHashOccurrences = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = bruteSelfSpans(
      sub.collect().map(r => (r.getLong(0), r.getString(1))).toSeq, 20)
    assert(got === want, s"missing=${want -- got} spurious=${got -- want}")
  }

  test("removeSpans keeps the canonical copy and splices non-canonical occurrences out") {
    import spark.implicits._
    // boundary chars around S differ across docs, so the maximal span is
    // exactly S (no accidental extension through shared separators)
    val S = "shared passage of considerable length repeated verbatim across documents"
    val d1 = s"alpha9_${S}_omega1"
    val d2 = s"beta7-${S}-kappa2"
    val d3 = s"gamma5|${S}|sigma3"
    val d4 = "untouched document with no shared content at all beyond itself"
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4)).toDF("doc_id", "text")
    val spans = Dedup.sharedSpans(docs, "doc_id", "text", minLen = 40, k = 20,
      maxHashDocs = 0, maxHashOccurrences = 0)
    val got = Dedup.removeSpans(docs, "doc_id", "text", spans)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text_clean"), r.getAs[Long]("removed_chars"))).toMap
    // doc 1 is id_a in every pair -> canonical, untouched
    assert(got(1L)._1 === d1 && got(1L)._2 === 0L)
    // docs 2 and 3 lose S (pairs (1,2),(1,3),(2,3) merge to ONE removal
    // interval each)
    assert(!got(2L)._1.contains(S) && !got(3L)._1.contains(S))
    assert(got(2L)._1 === "beta7--kappa2" && got(3L)._1 === "gamma5||sigma3")
    assert(got(2L)._2 === (d2.length - got(2L)._1.length).toLong)
    // the span survives in exactly one document
    assert(got.values.count(_._1.contains(S)) === 1)
    assert(got(4L)._1 === d4 && got(4L)._2 === 0L)
    // expected splice computed independently: remove the merged id_b
    // intervals from each doc
    val spanRows = spans.collect().map(r => (r.getLong(1), r.getLong(3), r.getLong(4)))
    val texts = Map(1L -> d1, 2L -> d2, 3L -> d3, 4L -> d4)
    texts.foreach { case (id, t) =>
      val ivs = spanRows.filter(_._1 == id).map { case (_, s, l) =>
        (s.toInt - 1, s.toInt - 1 + l.toInt) }.sortBy(x => (x._1, x._2))
      val mergedIvs = ivs.foldLeft(List.empty[(Int, Int)]) {
        case (acc, (s, e)) if acc.nonEmpty && s <= acc.head._2 =>
          (acc.head._1, math.max(acc.head._2, e)) :: acc.tail
        case (acc, iv) => iv :: acc
      }.reverse
      val kept = new StringBuilder
      var cursor = 0
      mergedIvs.foreach { case (s, e) => kept ++= t.substring(cursor, s); cursor = e }
      kept ++= t.substring(cursor)
      assert(got(id)._1 === kept.toString, s"doc $id splice mismatch")
    }
  }

  test("removeSpans splices multiple disjoint cuts and merges overlapping ones") {
    import spark.implicits._
    val t = ('a' to 'z').mkString * 4 // 104 chars
    val df = Seq((5L, t)).toDF("doc_id", "text")
    // two overlapping cuts [11,31) + [21,41) merge to [11,41); one
    // disjoint cut [61,71): kept = [1,11) + [41,61) + [71,105)
    val spans = Seq(
      (1L, 5L, 1L, 11L, 20L),
      (2L, 5L, 1L, 21L, 20L),
      (3L, 5L, 1L, 61L, 10L)).toDF("id_a", "id_b", "pos_a", "pos_b", "span_len")
    val got = Dedup.removeSpans(df, "doc_id", "text", spans).collect()(0)
    val expect = t.substring(0, 10) + t.substring(40, 60) + t.substring(70)
    assert(got.getAs[String]("text_clean") === expect)
    assert(got.getAs[Long]("removed_chars") === 40L)
  }

  test("span family is code-point exact on supplementary-plane text (emoji)") {
    import spark.implicits._
    def cp(s: String): Long = s.codePoints().count()
    // emoji (2 UTF-16 code units each) BEFORE the shared span shift UTF-16
    // offsets vs code-point offsets — the splice and coverage math must
    // stay exact anyway (the position contract is code points)
    val S = "shared unicode passage long enough to clear the forty character minimum"
    val d1 = s"😀🚀 first_$S!tail one"
    val d2 = s"🍕x second#$S?tail two 😀"
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val spans = Dedup.sharedSpans(docs, "doc_id", "text", minLen = 40, k = 20,
      maxHashDocs = 0, maxHashOccurrences = 0)
    val got = spans.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val pa = cp(d1.substring(0, d1.indexOf(S))) + 1
    val pb = cp(d2.substring(0, d2.indexOf(S))) + 1
    assert(got === Set((1L, 2L, pa, pb, cp(S))),
      s"code-point positions wrong: $got (want pa=$pa pb=$pb len=${cp(S)})")
    // splice: d2 loses exactly S, including when the cut sits between
    // supplementary-plane chars; cleaned text is byte-identical to the
    // code-point complement
    val clean = Dedup.removeSpans(docs, "doc_id", "text", spans)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text_clean"), r.getAs[Long]("removed_chars"))).toMap
    assert(clean(1L)._1 === d1 && clean(1L)._2 === 0L)
    assert(clean(2L)._1 === d2.replace(S, "") && clean(2L)._2 === cp(S))
    // coverage: n_chars and dup_chars in the same (code-point) unit, so
    // dup_frac is a true fraction even with emoji in the text
    val stats = Dedup.spanDupStats(docs, "doc_id", "text", spans)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    assert(stats(1L) === ((cp(d1), cp(S), cp(S).toDouble / cp(d1))))
    assert(stats(2L) === ((cp(d2), cp(S), cp(S).toDouble / cp(d2))))
    assert(stats.values.forall(_._3 <= 1.0))
  }

  test("spanDupStats unions overlapping spans per doc without double counting") {
    import spark.implicits._
    val df = Seq((1L, "x" * 100), (2L, "y" * 80), (3L, "z" * 50)).toDF("doc_id", "text")
    // doc 1: [1,41) and [21,61) overlap -> 60 covered; [81,91) separate -> 10
    val spans = Seq(
      (1L, 2L, 1L, 5L, 40L),
      (1L, 2L, 21L, 41L, 40L),
      (1L, 3L, 81L, 1L, 10L)).toDF("id_a", "id_b", "pos_a", "pos_b", "span_len")
    val got = Dedup.spanDupStats(df, "doc_id", "text", spans)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(got(1L) === ((100L, 70L, 3L, 0.7)))
    // doc 2 receives the b-side: [5,45) and [41,81) merge -> 76
    assert(got(2L) === ((80L, 76L, 2L, 0.95)))
    assert(got(3L) === ((50L, 10L, 1L, 0.2)))
  }

  test("exact dedup groups identical texts") {
    val base = docs.limit(50)
    val dup = base.unionByName(base.withColumn("doc_id", col("doc_id") + 100000))
    val out = Dedup.exact(dup, "doc_id", "text")
    assert(out.count() === 50)
    assert(out.agg(min("dup_count")).collect()(0).getLong(0) === 2)
  }

  test("char shingler finds near-dups in unspaced (zh) text") {
    import spark.implicits._
    val zh = Seq(
      (1L, "机器学习模型需要大量高质量的训练数据才能表现良好"),
      (2L, "机器学习模型需要大量高质量的训练数据集才能表现良好"), // near-dup of 1
      (3L, "今天的天气非常好我们一起去公园散步吧"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(zh, "doc_id", "text", n = 3, threshold = 0.5,
      shingler = "char")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
    // word shingler is blind here: no spaces → single giant token
    val wordPairs = Dedup.ngramJaccard(zh, "doc_id", "text", n = 3, threshold = 0.5)
      .count()
    assert(wordPairs === 0)
  }

  test("shingle helpers produce distinct n-grams") {
    import spark.implicits._
    val df = Seq(Tuple1("a b c d")).toDF("t")
    val words = df.select(Dedup.wordShingles(col("t"), 2)).collect()(0).getSeq[String](0)
    assert(words.toSet === Set("a b", "b c", "c d"))
    val chars = df.select(Dedup.charShingles(col("t"), 3)).collect()(0).getSeq[String](0)
    assert(chars.contains("a b") && chars.contains("b c"))
  }

  test("incremental minhash dedups a new batch against the store without old-old pairs") {
    import spark.implicits._
    val docs = wh.loadTable("documents").select("doc_id", "text")
    // sign the "historical corpus" once — the persisted store
    val store = Dedup.minhashSignatures(docs, "doc_id", "text",
      shingleWidth = 3, numPerms = 128, seed = 42L)
    // new batch: one near-dup of a stored doc (suffix edit), one clean
    val old = docs.filter(col("doc_id") === 7L).collect()(0).getString(1)
    val batch = Seq(
      (1000007L, old + " tiny suffix edit"),
      (1000999L, (1 to 40).map(i => s"fresh$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.minhashLshIncremental(batch, "doc_id", "text", store,
      shingleWidth = 3, numPerms = 128, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((7L, 1000007L)), s"planted near-dup not found: $got")
    assert(!got.exists(p => p._1 == 1000999L || p._2 == 1000999L),
      "clean new doc reported as duplicate")
    // every pair involves a NEW id — old-vs-old is excluded by design
    assert(got.forall(p => p._1 >= 1000000L || p._2 >= 1000000L),
      s"old-vs-old pair leaked: $got")
    // parity: new-vs-store results equal running full LSH over old+new
    val full = Dedup.minhashLsh(docs.unionByName(batch), "doc_id", "text",
      shingleWidth = 3, numPerms = 128, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => p._1 >= 1000000L || p._2 >= 1000000L)
    assert(got === full, "incremental result diverges from full-run new-involving pairs")
    // re-ingestion: a batch id already in the store SUPERSEDES the stored
    // signature — no self pair, no duplicate conflicting pair rows
    val reIngest = Seq((7L, old + " updated revision")).toDF("doc_id", "text")
    val got2 = Dedup.minhashLshIncremental(reIngest, "doc_id", "text", store,
      shingleWidth = 3, numPerms = 128, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!got2.contains((7L, 7L)), "stale self-comparison leaked")
    assert(got2.distinct.length === got2.length, s"duplicate pair rows: ${got2.toSeq}")
    // non-integral store ids are rejected, not silently NULL-cast
    intercept[IllegalArgumentException] {
      Dedup.minhashLshIncremental(batch, "doc_id", "text",
        store.withColumn("id", concat(lit("doc-"), col("id"))))
    }
    // steady-state ingestion must not accumulate cache entries: after the
    // call, only the returned (eagerly checkpointed) pair list may remain
    // cached — the per-snapshot signature/bucket intermediates are freed
    val before = cachedRddIds
    val snap = Dedup.minhashLshIncremental(batch, "doc_id", "text", store,
      shingleWidth = 3, numPerms = 128, bands = 32, threshold = 0.5)
    val added = cachedSince(before, 1)
    assert(added <= 1, s"per-snapshot intermediates leaked: $added cached RDDs")
    assert(snap.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === got,
      "eager-checkpoint path changed the results")
  }

  test("connectedComponents converges on deep chains, errors past maxIters, rejects string ids") {
    import spark.implicits._
    // a 31-node path: diameter 30 — needs >15 rounds to reach the far end
    val chain = (1L until 31L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(chain, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 31 && labels.values.forall(_ === 1L),
      "every chain node must reach the component minimum")
    // insufficient maxIters must FAIL, not silently split the cluster
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "id_a", "id_b", maxIters = 5).collect()
    }
    // string ids would cast('long') to NULL labels — rejected up front
    val strPairs = Seq(("doc-1", "doc-2")).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(strPairs, "id_a", "id_b")
    }
    intercept[IllegalArgumentException] {
      Dedup.dedupByClusters(Seq(Tuple1("doc-1")).toDF("doc_id"), "doc_id",
        Seq((1L, 2L)).toDF("id_a", "id_b"))
    }
  }

  test("semanticNearDup is sound, deterministic, and recalls clustered near-dups") {
    val emb = wh.loadTable("embeddings")
    val got = Dedup.semanticNearDup(emb, "vec_id", "embedding",
      threshold = 0.4, numCells = 8).collect()
    // soundness: every reported pair really has cosine >= threshold
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    got.foreach { r =>
      val c = cos(vecs(r.getLong(0)), vecs(r.getLong(1)))
      assert(c >= 0.4 - 1e-9, s"unsound pair ${r.getLong(0)},${r.getLong(1)}: $c")
    }
    // recall vs exact all-pairs at the operating point
    val ids = vecs.keys.toSeq.sorted
    val exact = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      if cos(vecs(ids(i)), vecs(ids(j))) >= 0.4
    } yield (ids(i), ids(j))).toSet
    val found = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.subsetOf(exact))
    val recall = if (exact.isEmpty) 1.0 else found.size.toDouble / exact.size
    assert(recall >= 0.3,
      s"cluster-blocked recall collapsed: $recall (${found.size}/${exact.size})")
    // deterministic across runs (seeded k-means, literal assignment)
    val again = Dedup.semanticNearDup(emb, "vec_id", "embedding",
      threshold = 0.4, numCells = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === found)
    // degenerate-cell cap drops oversized cells whole
    val capped = Dedup.semanticNearDup(emb, "vec_id", "embedding",
      threshold = 0.4, numCells = 8, maxCellSize = 1)
    assert(capped.count() === 0)
  }

  test("decontaminate flags exactly the docs sharing an n-gram with the eval set") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "we saw the quick brown animal run"), // shares "the quick brown"
      (2L, "entirely different words appear here now"),
      (3L, "fox jumps high over everything else"),  // shares "fox jumps high"
      (4L, "too short")                             // < 3 words: no grams
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 3)
      .select("doc_id", "contaminated")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
    // the trained-model kernel probe flags the identical set
    val model = Dedup.trainDecontaminationSet(bench, "text", n = 3)
    val mapSide = Dedup.decontaminateMapSide(corpus, "text", model)
      .select("doc_id", "contaminated")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(mapSide === got)
  }

  test("decontaminateBloom: superset of exact flags, no false negatives, both shinglers") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "we saw the quick brown animal run"),
      (2L, "entirely different words appear here now"),
      (3L, "fox jumps high over everything else"),
      (4L, "too short"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    Seq("word", "char").foreach { sh =>
      val exact = Dedup.decontaminateMapSide(corpus, "text",
          Dedup.trainDecontaminationSet(bench, "text", n = 3, shingler = sh))
        .select("doc_id", "contaminated")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val bloom = Dedup.decontaminateBloom(corpus, "text",
          Dedup.trainDecontaminationBloom(bench, "text", n = 3, shingler = sh))
        .select("doc_id", "contaminated")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      // one-sided: every exact hit is bloom-flagged
      exact.foreach { case (id, hit) =>
        if (hit) assert(bloom(id), s"shingler=$sh: bloom missed exact hit $id") }
      // at fpp=1e-4 over a handful of grams, this fixture has no FPs —
      // and bloom bits are deterministic, so this equality is stable
      assert(bloom === exact, s"shingler=$sh")
    }
    // determinism across rebuilds and repartitionings
    val m1 = Dedup.trainDecontaminationBloom(bench, "text", n = 3)
    val m2 = Dedup.trainDecontaminationBloom(bench.repartition(4), "text", n = 3)
    val f1 = Dedup.decontaminateBloom(corpus, "text", m1)
      .select("doc_id", "contaminated").collect().map(_.toSeq).toSet
    val f2 = Dedup.decontaminateBloom(corpus, "text", m2)
      .select("doc_id", "contaminated").collect().map(_.toSeq).toSet
    assert(f1 === f2)
  }

  test("decontaminateMapSide equals the join form on the corpus (word and char shinglers)") {
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    for (sh <- Seq("word", "char")) {
      val joined = Dedup.decontaminate(corpus, bench, "doc_id", "text",
          n = 3, shingler = sh)
        .select("doc_id", "contaminated")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val model = Dedup.trainDecontaminationSet(bench, "text", n = 3, shingler = sh)
      val mapSide = Dedup.decontaminateMapSide(corpus, "text", model)
        .select("doc_id", "contaminated")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(mapSide === joined, s"shingler=$sh diverged")
      assert(joined.values.exists(identity), s"fixture sanity: no hits under $sh")
    }
    // a corpus-sized "eval set" is not a trainable model — rejected loudly
    intercept[IllegalArgumentException] {
      Dedup.trainDecontaminationSet(docs, "text", n = 3, maxGrams = 10)
    }
    // occurrence-indexed shinglers have no membership meaning — rejected
    intercept[IllegalArgumentException] {
      Dedup.trainDecontaminationSet(bench, "text", n = 3, shingler = "word_tf")
    }
    // NULL texts: both forms must say false (not NULL — a filter(!flag)
    // would silently drop NULL-flag rows on one path and keep them on
    // the other)
    import spark.implicits._
    val dirty = Seq((1L, Some("the quick brown fox jumps high today")),
      (2L, None: Option[String])).toDF("doc_id", "text")
    val model = Dedup.trainDecontaminationSet(
      Seq((9L, "the quick brown fox jumps high")).toDF("doc_id", "text"), "text")
    val viaModel = Dedup.decontaminateMapSide(dirty, "text", model)
      .select("doc_id", "contaminated")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val viaJoin = Dedup.decontaminate(dirty,
        Seq((9L, "the quick brown fox jumps high")).toDF("doc_id", "text"),
        "doc_id", "text")
      .select("doc_id", "contaminated")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(viaModel === Map(1L -> true, 2L -> false))
    assert(viaJoin === viaModel)
  }

  test("semanticNearDup caps cells without windowing the corpus (agg + broadcast anti-join)") {
    // The pre-cap funnel: Window.partitionBy(__cell) would exchange every
    // (id, vec, cell) row into <= numCells tasks BEFORE the cap applies.
    // The cap must instead partial-combine counts (tiny shuffle) and
    // broadcast-anti-join the oversized-cell list, leaving the capped pair
    // join as the only exchange that moves corpus rows.
    val emb = wh.loadTable("embeddings")
    val out = Dedup.semanticNearDup(emb, "vec_id", "embedding",
      threshold = 0.4, numCells = 8)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"cell-size cap must not window the full corpus:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"oversized-cell list must broadcast into the anti-join:\n$plan")
    // maxCellSize <= 0 disables the cap entirely: no count branch at all
    val uncapped = Dedup.semanticNearDup(emb, "vec_id", "embedding",
      threshold = 0.4, numCells = 8, maxCellSize = 0)
    assert(uncapped.queryExecution.analyzed.toString.indexOf("count(1)") < 0)
  }

  test("sharedSpansIncremental probes the store by BROADCAST, never a store shuffle") {
    // the O(batch) contract's load-bearing join: the batch's distinct
    // anchor hashes broadcast into the store semi-join — a sort-merge
    // probe would shuffle the WHOLE store by hash every batch (measured
    // 2× on the 50k-doc harness, SURVEY §5)
    val history = docs.select("doc_id", "text").filter(col("doc_id") < 60)
    val batch = history.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    val store = Dedup.spanAnchorStore(history, "doc_id", "text")
    // the operator checkpoints its result eagerly: inspect the plan that
    // checkpoint ran
    val plans = plansRunBy {
      Dedup.sharedSpansIncremental(batch, "doc_id", "text", store, history)
    }.collect { case ("localCheckpoint", p) => p }
    assert(plans.size === 1)
    val plan = plans.head.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"store probe must be a broadcast semi-join:\n$plan")
    assert(!"SortMergeJoin[^\\n]*LeftSemi".r.findFirstIn(plan).isDefined,
      s"store probe must not sort-merge the store:\n$plan")
  }

  test("hammingNearDup over precomputed signatures: exact pairs, nulls dropped") {
    import spark.implicits._
    val sigs = Seq(
      (1L, java.lang.Long.valueOf(0x00FFL)), (2L, java.lang.Long.valueOf(0x00FDL)), // hamming 1
      (3L, java.lang.Long.valueOf(0xFF00L)),                                        // far from 1/2
      (4L, null.asInstanceOf[java.lang.Long])                                       // undecodable
    ).toDF("id", "sig")
    def run(r: Int) = Dedup.hammingNearDup(sigs, "id", "sig", maxHamming = r)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2).toLong)).toSet
    assert(run(1) === Set((1L, 2L, 1L)))
    assert(run(0) === Set.empty)
    // radius 8 spans the 1↔3 distance (16 differing bits) only at 16+
    assert(run(16).contains((1L, 3L, 16L)))
  }

  test("decontaminateMapSide plans with ZERO exchanges (pure map over the corpus)") {
    val model = Dedup.trainDecontaminationSet(
      docs.filter(col("doc_id") % 20 === 0), "text", n = 3)
    val plan = Dedup.decontaminateMapSide(
        docs.filter(col("doc_id") % 20 =!= 0), "text", model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"map-side decontamination must not shuffle anything:\n$plan")
  }

  test("decontaminate probes the corpus with a broadcast of the eval grams (no corpus shuffle)") {
    // The gram membership join must broadcast the (small-by-definition)
    // eval-set gram table: a shuffle of exploded corpus grams on the gram
    // hash would move ~the whole token stream at 100 TB. The broadcast is
    // explicit in the plan, so assert with size-estimate broadcasts off.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = wh.loadTable("documents")
      val out = Dedup.decontaminate(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", n = 3)
      val plan = out.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      assert(plan.contains("BroadcastHashJoin [__g"),
        "gram membership join is not a broadcast probe:\n" + plan)
      // exactly ONE gram exchange may exist: the eval set's own distinct
      // (small by definition, feeding the BroadcastExchange) — the
      // exploded CORPUS gram stream must never shuffle
      val gramExchanges = "Exchange hashpartitioning\\(__g".r
        .findAllIn(plan).size
      assert(gramExchanges === 1,
        s"expected only the eval-side gram distinct to shuffle, found $gramExchanges:\n" + plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("hashed-gram decontamination equals the string-gram recompute on the corpus") {
    // The operator joins on 64-bit kernel hashes; ground truth recomputes
    // the overlap on the gram STRINGS (wordShingles) — a collision or a
    // tokenization divergence between kernel and column shingler flips a
    // flag and fails this.
    val docs = wh.loadTable("documents").select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val got = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 3)
      .select("doc_id", "contaminated")
    val bg = bench.select(explode(Dedup.wordShingles(col("text"), 3)).as("g")).distinct()
    val expHits = corpus
      .select(col("doc_id"), explode(Dedup.wordShingles(col("text"), 3)).as("g"))
      .join(bg, "g").select("doc_id").distinct()
      .withColumn("exp", lit(true))
    val bad = got.join(expHits, Seq("doc_id"), "left")
      .filter(col("contaminated") =!= coalesce(col("exp"), lit(false)))
    assert(bad.count() === 0, bad.take(5).mkString("\n"))
  }
}

package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.BpeModel

/** Byte-pair-encoding training (Sennrich et al., ACL 2016) for the
  * trained-tokenizer token budget estimate (SURVEY §2.3 row 47 extension).
  *
  * The model trains driver-side on a bounded, seeded corpus sample — the
  * same train-on-sample recipe as IVF centroids
  * ([[Similarity.trainCentroidsKMeans]]): the merge table is the (small)
  * model; applying it to the full corpus stays distributed via the
  * codegen'd [[graft.functions.Kernels.bpeTokenCount]] kernel.
  * Deterministic in (data, seed): ties in pair frequency break on the
  * smaller pair key.
  */
object Bpe {

  /** Greedy left-to-right single-pass merge of pair (l, r) over the
    * space-separated symbol string in `__s` (pre-split) — the SQL fold
    * both [[trainDistributed]] and [[encodeCorpus]] apply, mirrored
    * token-for-token by the DuckDB oracle's `list_reduce`. The
    * accumulator is a struct `(s, t)` where `t` carries the trailing
    * token explicitly (r12 — the earlier form re-derived it with TWO
    * regexp_extract calls per fold step, the dominant per-task cost of
    * the encode family; tokens never contain spaces, so tracked-`t` ≡
    * trailing-run-of-non-spaces by construction, and every emitted
    * string is bit-identical).
    */
  private def mergeExpr(l: String, r: String): String =
    s"""aggregate(slice(__s, 2, greatest(size(__s) - 1, 0)),
       |  struct(element_at(__s, 1) AS s, element_at(__s, 1) AS t),
       |  (acc, x) -> IF(acc.t = '$l' AND x = '$r',
       |    struct(concat(substr(acc.s, 1, length(acc.s) - length(acc.t)), '$l$r') AS s,
       |           '$l$r' AS t),
       |    struct(concat(acc.s, ' ', x) AS s, x AS t)),
       |  acc -> acc.s)""".stripMargin

  def train(df: DataFrame, textCol: String, numMerges: Int = 500,
      sampleSize: Int = 500, seed: Long = 42L): BpeModel = {
    val texts = df
      .filter(col(textCol).isNotNull)
      .withColumn("__h", xxhash64(col(textCol), lit(seed)))
      .orderBy("__h").limit(sampleSize)
      .select(textCol).collect().map(_.getString(0))
    trainOnTexts(texts.toSeq, numMerges)
  }

  /** DISTRIBUTED BPE training with an engine-exact contract — the corpus
    * never collects to the driver, so this is the form that trains a
    * tokenizer over 100 TB where [[train]]'s collect-a-sample recipe
    * caps at the sample. Semantics (all replayable by any engine, which
    * is what makes the merge table oracle-checkable):
    *
    *  - words = `regexp_extract_all(lower(text), '[a-z0-9]+')`,
    *    frequency-weighted; initial symbols are single characters.
    *  - per round: count ALL adjacent symbol pairs (overlaps included —
    *    the Sennrich zip(word, word[1:]) statistic) weighted by word
    *    frequency; merge the most frequent pair, ties to the
    *    lexicographically smallest (left, right).
    *  - merge application is the greedy LEFT-TO-RIGHT single pass: a
    *    token formed by this round's merge never immediately re-merges
    *    with the next symbol ('a a a' under (a,a) → 'aa a').
    *
    * Plan shape: the word table is ONE distinct-word aggregation of the
    * corpus (vocabulary-sized from then on — at web scale still millions
    * of rows, far under the corpus); each round is one map-side-partial
    * pair count + a 1-row argmax collect (the merge decision is the
    * model, like the classifier's weights), and the merge itself is a
    * lazy codegen `aggregate` fold over each word's symbols. Lineage is
    * truncated every 4 rounds (the pageRank materialization contract).
    *
    * Returns the merge table `(merge_rank, lsym, rsym, pair_count)` —
    * feed it to [[modelFromMerges]] for distributed application via the
    * [[graft.functions.Kernels.bpeTokenCount]] codegen kernel.
    */
  def trainDistributed(docs: DataFrame, textCol: String,
      numMerges: Int = 16): DataFrame = {
    require(numMerges >= 1 && numMerges <= 256,
      s"numMerges must be in [1, 256] (got $numMerges) — the merge loop " +
        "collects one row per round")
    val spark = docs.sparkSession
    import spark.implicits._
    var words = docs
      .select(explode(
        expr(s"regexp_extract_all(lower(`$textCol`), '[a-z0-9]+', 0)")).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("f"))
      .select(expr("array_join(regexp_extract_all(__w, '.', 0), ' ')").as("w"),
        col("f"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var k = 1
    while (k <= numMerges) {
      val best = words
        .withColumn("__s", split(col("w"), " "))
        .select(explode(expr(
          """zip_with(slice(__s, 1, greatest(size(__s) - 1, 0)),
            |         slice(__s, 2, greatest(size(__s) - 1, 0)),
            |         (a, b) -> struct(a AS l, b AS r))""".stripMargin)).as("p"),
          col("f"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("f")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      require(best.nonEmpty,
        s"trainDistributed: corpus exhausted after ${k - 1} merges — " +
          s"every word is a single symbol; ask for fewer than $numMerges")
      val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      merges += ((k.toLong, l, r, c))
      val merged = words
        .withColumn("__s", split(col("w"), " "))
        .select(expr(mergeExpr(l, r)).as("w"), col("f"))
      // the FINAL round's frame is never read again (the model is the
      // driver-side merge buffer), so it does not checkpoint: the r12
      // `k == numMerges` eager checkpoint paid one whole materialization
      // of the 16-merge fold chain for a frame nothing consumes (r13).
      // A broadcast-param fold (codegen-cache-stable across rounds) and
      // lazy interval checkpoints were probed interleaved and REGRESSED
      // (2.64 -> 3.00 s, jobs 38 -> 70, OPTIMIZATION_r13.md §5): the
      // per-round broadcast-join jobs cost more than the Janino recompiles they
      // save at vocabulary scale. Literal fold + eager truncation kept.
      words =
        if (k % 4 == 0 && k < numMerges) merged.localCheckpoint(true) else merged
      k += 1
    }
    merges.toSeq.toDF("merge_rank", "lsym", "rsym", "pair_count")
  }

  /** Apply a [[trainDistributed]] merge table corpus-wide: per document,
    * the word count and the TOKEN count under the trained tokenizer —
    * the budget numbers a packing/mixture stage consumes. The
    * segmentation replays the training fold on the DISTINCT-WORD table
    * (vocabulary-sized — each merge is one lazy codegen fold, never a
    * corpus pass), then documents join the segmented vocabulary
    * broadcast-side and aggregate per doc: corpus-scale work is ONE
    * explode + map-side-combined count, one narrow shuffle. Documents
    * with NULL text or no `[a-z0-9]+` words report (0, 0).
    *
    * Returns `(doc_id, n_words, n_tokens)`.
    */
  def encodeCorpus(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(Long, String, String)]): DataFrame = {
    require(merges.nonEmpty, "encodeCorpus: empty merge table")
    val sorted = merges.sortBy(_._1)
    sorted.zipWithIndex.foreach { case ((rank, l, r), idx) =>
      require(rank == idx + 1, s"merge ranks must be 1..n (saw $rank at ${idx + 1})")
      // the symbols are interpolated into SQL literals by mergeExpr —
      // restrict them to the trainDistributed word alphabet so a
      // hand-built table can never smuggle quotes into the fold
      require(l.nonEmpty && r.nonEmpty && (l + r).forall(c =>
          (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')),
        s"merge $rank symbols must be non-empty [a-z0-9] strings (got '$l', '$r')")
    }
    var seg = docs
      .select(explode(
        expr(s"regexp_extract_all(lower(`$textCol`), '[a-z0-9]+', 0)")).as("raw"))
      .distinct()
      .withColumn("w", expr("array_join(regexp_extract_all(raw, '.', 0), ' ')"))
    sorted.foreach { case (_, l, r) =>
      seg = seg
        .withColumn("__s", split(col("w"), " "))
        .withColumn("w", expr(mergeExpr(l, r)))
        .drop("__s")
    }
    val vocab = broadcast(
      seg.select(col("raw"), size(split(col("w"), " ")).cast("long").as("__n"))
        .localCheckpoint(true))
    val perDoc = docs
      .select(col(idCol).as("doc_id"), explode(
        expr(s"regexp_extract_all(lower(`$textCol`), '[a-z0-9]+', 0)")).as("raw"))
      .join(vocab, "raw")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("__n")).as("n_tokens"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }

  /** Rebuild a [[BpeModel]] (int-symbol pair→rank table for the codegen
    * apply kernel) from a [[trainDistributed]] merge table: initial
    * symbols are UTF-16 code units, merge r's output symbol is
    * 0x110000 + (r-1) — the same id scheme [[trainOnTexts]] emits, so
    * the one [[graft.functions.Kernels.bpeTokenCount]] kernel applies
    * either model. Symbols seen in `lsym`/`rsym` must be reachable
    * (single chars or earlier merges) — malformed tables are refused.
    */
  def modelFromMerges(merges: Seq[(Long, String, String)]): BpeModel = {
    val symId = mutable.HashMap.empty[String, Int]
    val keys = new Array[Long](merges.size)
    merges.sortBy(_._1).zipWithIndex.foreach { case ((rank, l, r), idx) =>
      require(rank == idx + 1, s"merge ranks must be 1..n (saw $rank at ${idx + 1})")
      def id(s: String): Int =
        if (s.length == 1) s.charAt(0).toInt
        else symId.getOrElse(s,
          throw new IllegalArgumentException(
            s"merge $rank references unknown symbol '$s'"))
      keys(idx) = (id(l).toLong << 32) | (id(r) & 0xffffffffL)
      symId(l + r) = 0x110000 + idx
    }
    val order = keys.indices.sortBy(keys(_))
    new BpeModel(order.map(keys(_)).toArray, order.toArray)
  }

  /** Train on literal texts (exposed for specs and local tooling). */
  /** Driver-side greedy BPE on collected texts. Symbols are Unicode
    * CODE POINTS (r12 — unified with the engine-wide codepoint
    * convention shared by the `bpeTokenCount` kernel and every
    * substring/unicode oracle; the earlier UTF-16-unit space diverged
    * from all of them on astral characters).
    */
  def trainOnTexts(texts: Seq[String], numMerges: Int): BpeModel = {
    // word frequencies — BPE statistics are over distinct words weighted
    // by count, so repeated words cost one symbol array, not many
    val wordFreq = mutable.HashMap.empty[String, Long]
    texts.foreach(_.split("\\s+").foreach { w =>
      if (w.nonEmpty) wordFreq(w) = wordFreq.getOrElse(w, 0L) + 1L
    })
    var words: Array[(Array[Int], Long)] = wordFreq.toArray
      .sortBy(_._1) // deterministic iteration order
      .map { case (w, f) => (w.codePoints().toArray, f) }
    val merges = mutable.ArrayBuffer.empty[Long]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val freq = mutable.HashMap.empty[Long, Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i).toLong << 32) | (syms(i + 1) & 0xffffffffL)
          freq(key) = freq.getOrElse(key, 0L) + f
          i += 1
        }
      }
      if (freq.isEmpty) done = true
      else {
        // most frequent pair; ties break on the smaller key (deterministic)
        val (bestKey, bestF) = freq.foldLeft((0L, -1L)) {
          case ((bk, bf), (k, f)) =>
            if (f > bf || (f == bf && k < bk)) (k, f) else (bk, bf)
        }
        if (bestF < 2) done = true // nothing left worth merging
        else {
          merges += bestKey
          val a = (bestKey >>> 32).toInt
          val b = bestKey.toInt
          val newSym = 0x110000 + rank
          words = words.map { case (syms, f) =>
            var i = 0
            var out = 0
            val res = new Array[Int](syms.length)
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                res(out) = newSym; i += 2
              } else {
                res(out) = syms(i); i += 1
              }
              out += 1
            }
            (java.util.Arrays.copyOf(res, out), f)
          }
          rank += 1
        }
      }
    }
    val keys = merges.toArray
    val order = keys.indices.sortBy(keys(_))
    new BpeModel(order.map(keys(_)).toArray, order.toArray)
  }
}

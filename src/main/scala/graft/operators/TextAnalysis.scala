package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Text-corpus analysis operators, SURVEY §2.3 rows 45-48: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * Everything here is vectorized column expressions over Spark built-ins
  * (regexp_extract_all / split / length — all codegen'd) except the
  * winnowing fingerprint, which is a native Catalyst expression. No UDFs:
  * at 100 TB the per-row closure cost of a Scala UDF dominates, and
  * built-ins keep the whole stage in codegen.
  *
  * The oracle-checked queries (langid / quality / token count) are
  * deterministic functions of the text that DuckDB re-expresses with the
  * same regexes and the same double-arithmetic shapes, so results must
  * match bit-for-bit.
  */
object TextAnalysis {

  /** Marker stopwords per language — tiny, high-frequency function words.
    * Public knowledge (standard stopword lists); canonical copy lives with
    * the kernel ([[graft.functions.LangIdHits.defaultStopwords]]).
    */
  val stopwords: Map[String, Seq[String]] =
    graft.functions.LangIdHits.defaultStopwords

  /** Count of CJK (U+4E00–U+9FFF) characters — the zh signal. */
  def cjkHits(text: Column): Column =
    size(regexp_extract_all(text, lit("[一-鿿]"), lit(0)))

  /** Language ID: per-language marker hits + CJK char count, argmax with a
    * fixed tie order (zh strict-wins, then en ≥ de ≥ fr ≥ es). Appends
    * h_en/h_de/h_fr/h_es/h_zh and pred_lang.
    *
    * All five counts come from ONE pass of the single-scan counting kernel,
    * not five regexp_extract_all scans of every document: at 100 TB that is
    * the difference between 1× and 5× the map cost of the whole corpus. The
    * five projections of the hits array collapse to a single kernel call
    * under whole-stage codegen subexpression elimination.
    *
    * Boundary semantics are ASCII \b — RE2's (and the DuckDB oracle's)
    * definition, asserted against explicit-lookaround regexes in
    * TextAnalysisSpec. (Java's bare \b is Unicode-aware: a CJK or accented
    * letter adjacent to a stopword suppresses the boundary — a divergence
    * from the oracle the old regexp path silently carried.)
    */
  def langId(df: DataFrame, textCol: String): DataFrame = {
    val hits = GraftFunctions.langIdHits(col(textCol))
    val withHits = df
      .withColumn("h_en", hits.getItem(0))
      .withColumn("h_de", hits.getItem(1))
      .withColumn("h_fr", hits.getItem(2))
      .withColumn("h_es", hits.getItem(3))
      .withColumn("h_zh", hits.getItem(4))
    withHits.withColumn("pred_lang",
      when(col("h_zh") > col("h_en") && col("h_zh") > col("h_de") &&
           col("h_zh") > col("h_fr") && col("h_zh") > col("h_es"), "zh")
        .when(col("h_en") >= col("h_de") && col("h_en") >= col("h_fr") &&
              col("h_en") >= col("h_es"), "en")
        .when(col("h_de") >= col("h_fr") && col("h_de") >= col("h_es"), "de")
        .when(col("h_fr") >= col("h_es"), "fr")
        .otherwise("es"))
  }

  /** Quality scoring: length, token count, stopword ratio, punctuation
    * ratio, and a [0,1]-ish composite. All ratios are double divisions of
    * exact ints with explicit casts, and the composite's operation order is
    * mirrored exactly in the oracle SQL.
    *
    * All four counts come from ONE pass of the counting kernel
    * ([[graft.functions.Kernels.qualityCounts]]) instead of three regex
    * scans plus two lower() materializations per document — same 1× vs k×
    * map-cost argument as [[langId]]. The four getItem projections collapse
    * to a single kernel call under whole-stage codegen subexpression
    * elimination; count semantics (incl. RE2 ASCII `\b` and simple-case
    * lower) are pinned to the regex forms in TextAnalysisSpec.
    */
  def quality(df: DataFrame, textCol: String): DataFrame = {
    val counts = GraftFunctions.qualityCounts(col(textCol))
    df.withColumn("n_chars", counts.getItem(0))
      .withColumn("n_tokens", counts.getItem(1))
      .withColumn("stop_hits", counts.getItem(2))
      .withColumn("punct_hits", counts.getItem(3))
      .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tokens"))
      .withColumn("punct_ratio", col("punct_hits").cast("double") / col("n_chars"))
      .withColumn("quality",
        least(lit(1.0), col("n_tokens").cast("double") / 50.0) * 0.5 +
          col("stop_ratio") * 0.3 + (lit(1.0) - col("punct_ratio")) * 0.2)
  }

  /** Token counts: whitespace tokens and word-ish (alpha / numeric runs)
    * tokens — the cheap proxy pair for LLM-token budgeting.
    */
  def tokenCount(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_ws_tokens", size(split(trim(t), "\\s+")))
      .withColumn("n_word_tokens",
        size(regexp_extract_all(t, lit("[A-Za-z]+|[0-9]+"), lit(0))))
  }

  /** SEQUENCE-PACKING PLAN: every document's global token offset in the
    * id-ordered corpus concatenation, plus the context window it starts
    * in — the deterministic sharding step of "concatenate the corpus and
    * cut every `windowTokens` tokens" pretraining-batch construction
    * (each trainer shard then materializes only its own window range).
    *
    * The global running sum is a DISTRIBUTED two-pass prefix sum, never
    * a global single-task window (`Window.orderBy` without partitions is
    * the one-reducer anti-pattern at corpus scale): range-partition the
    * narrow (id, n_tokens) frame by id, collect ONE partial sum per
    * partition (bytes, not rows), broadcast the exclusive per-partition
    * offsets, and emit global starts map-side in the second pass. The
    * narrow frame persists between the passes so both observe the
    * identical range boundaries (the range partitioner samples — an
    * unpersisted re-execution could re-draw them).
    *
    * All-integer output (whitespace token counts — swap in
    * [[tokenCountBpe]] upstream for tokenizer-accurate budgets), so any
    * engine replays it with a cumulative-sum window. NULL text counts 0.
    */
  def packWindows(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Long): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be > 0, got $windowTokens")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(col(idCol).cast("long").as("id"),
      coalesce(size(split(trim(col(textCol)), "\\s+")).cast("long"), lit(0L))
        .as("n_tokens"))
    val ranged = toks
      .repartitionByRange(col("id")).sortWithinPartitions("id")
      .as[(Long, Long)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val partSums = ranged.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var s = 0L
        it.foreach { case (_, t) => s += t }
        Iterator((pid, s))
      }.collect().sortBy(_._1)
      val offsets = partSums.map(_._2).scanLeft(0L)(_ + _).init
      val offByPid = partSums.map(_._1).zip(offsets).toMap
      val bc = spark.sparkContext.broadcast(offByPid)
      val withStart = ranged.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var acc = bc.value.getOrElse(pid, 0L)
        it.map { case (id, t) => val start = acc; acc += t; (id, t, start) }
      }.toDF("id", "n_tokens", "global_start")
      withStart.select(
          col("id").as(idCol), col("n_tokens"), col("global_start"),
          expr(s"global_start div ${windowTokens}L").as("window_id"),
          (col("global_start") % lit(windowTokens)).as("offset_in_window"))
        // materialize before unpersist in the finally — the caller's plan
        // must not depend on the evicted cache
        .localCheckpoint(true)
    } finally ranged.unpersist()
  }

  /** NO-SPLIT bin packing (next-fit): each document lands INTACT in
    * exactly one fixed-capacity bin — the SFT / instruction-tuning
    * packing discipline, where an example must not straddle two
    * training sequences ([[packWindows]] is the pretraining
    * concat-and-chunk that splits freely). Documents hash to `nShards`
    * independent packing lines via the [[Relational.shardAssign]] md5
    * key (pure function of (seed, id): retries and re-runs agree), and
    * within a shard bins fill in id order by the NEXT-FIT rule: a doc
    * that would overflow the open bin closes it and opens the next
    * (≤ 2× OPT bins — Johnson 1973; the price of one streaming pass).
    * Docs longer than `binTokens` get a bin of their own, flagged
    * `oversize` (the caller truncates or routes them).
    *
    * Scale shape: sequential packing needs a total order, but only
    * WITHIN a shard — at corpus scale each trainer shard packs alone,
    * so the sequential dependency never crosses a shard and `nShards`
    * scales with the data. Plan: one hash exchange on shard + an
    * in-partition sort by (shard, id), then ONE streaming pass per
    * partition with O(1) state (shards are co-located by the exchange
    * and contiguous after the sort; state resets at each shard
    * boundary). No global window, nothing driver-side. All-integer
    * output (`bin_fill` pins the running recurrence), so any engine
    * replays it as a per-shard sequential fold. NULL text counts 0.
    */
  def packBins(df: DataFrame, idCol: String, textCol: String,
      binTokens: Long, nShards: Int, seed: Long = 42L): DataFrame =
    // definitionally the empty-store incremental form — ONE fold
    // implementation to maintain (the spec suite pins the equivalence;
    // every shard starts from the fresh-bin sentinel)
    packBinsIncremental(df,
      df.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("shard",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("bin",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("fill",
            org.apache.spark.sql.types.LongType)))),
      idCol, textCol, binTokens, nShards, seed)

  /** CONTENT-DEFINED chunking of documents ([[graft.functions.Kernels
    * .cdcChunks]] — Gear-style rolling-hash boundaries, LBFS/FastCDC
    * family): chunk boundaries move WITH the content, so an insertion
    * shifts only the chunk it lands in, where fixed chunking ([[chunk]])
    * shifts every later boundary — the property sub-document dedup of
    * edited/shifted text needs (chunk_md5 is the dedup key; group on it
    * like [[graft.operators.Dedup.paragraphDedup]] groups paragraph
    * hashes). One codegen kernel scan + a map-side explode — ZERO
    * shuffle; downstream dedup pays the one hash aggregation.
    *
    * Output: (id, chunk_idx, start, len, chunk_md5) — code-point
    * offsets, engine-replayable: the rolling hash has a closed
    * windowed-sum form (see the kernel) so any SQL engine recomputes
    * boundaries without sequential state. NULL/empty text → no rows.
    */
  def cdcChunkDocs(df: DataFrame, idCol: String, textCol: String,
      maskBits: Int = 6, minLen: Int = 16, maxLen: Int = 256): DataFrame = {
    require(maskBits >= 1 && maskBits <= 40,
      s"maskBits must be in [1, 40], got $maskBits")
    require(minLen >= 1 && maxLen >= minLen,
      s"need 1 <= minLen <= maxLen, got ($minLen, $maxLen)")
    df.select(col(idCol),
        posexplode(GraftFunctions.cdcChunks(coalesce(col(textCol), lit("")),
          maskBits, minLen, maxLen)))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        col("col.start").as("start"), col("col.len").as("len"),
        col("col.chunk_md5").as("chunk_md5"))
  }

  /** Per-shard OPEN-BIN state after packing `df` — the persistable
    * store for [[packBinsIncremental]] (the 39c signature-store pattern
    * for packing: pack history once, continue packing arriving batches
    * forever without re-touching it). One narrow row per shard:
    * (shard, bin, fill) of the LAST-packed doc, i.e. the open bin the
    * next append continues into. nShards rows total — trivially
    * persistable through the Warehouse.
    */
  def packStore(df: DataFrame, idCol: String, textCol: String,
      binTokens: Long, nShards: Int, seed: Long = 42L): DataFrame =
    openBinState(packBins(df, idCol, textCol, binTokens, nShards, seed),
      idCol)

  /** Per-shard (bin, fill) of the LAST-packed doc — the rollup shared
    * by [[packStore]] and [[updatePackStore]]. */
  private def openBinState(assign: DataFrame, idCol: String): DataFrame =
    assign.groupBy("shard")
      .agg(max(struct(col(idCol).as("i"), col("bin").as("b"),
        col("bin_fill").as("f"))).as("__m"))
      .select(col("shard"), col("__m.b").as("bin"), col("__m.f").as("fill"))

  /** Merge a new batch's assignment into the store: touched shards take
    * the batch's final open-bin state, untouched shards carry over. */
  def updatePackStore(store: DataFrame, newAssign: DataFrame,
      idCol: String): DataFrame = {
    val upd = openBinState(newAssign, idCol)
    store.join(upd.select(col("shard")), Seq("shard"), "left_anti")
      .unionByName(upd)
  }

  /** INCREMENTAL [[packBins]]: pack an arriving batch CONTINUING from a
    * persisted [[packStore]] — bins keep filling and numbering from
    * where history left off, history is never rescanned (its whole
    * footprint is the nShards-row store). Exactly equals the one-shot
    * [[packBins]] over history∪batch whenever batch ids sort after
    * history's within each shard — the append-ordered arrival every
    * log/stream source provides (the 38h-inc contract). Shards absent
    * from the store start fresh at bin 0.
    *
    * Plan: the store broadcast-joins the batch's narrow token frame on
    * shard (nShards rows), then the same one-streaming-pass shape as
    * [[packBins]].
    */
  def packBinsIncremental(batch: DataFrame, store: DataFrame,
      idCol: String, textCol: String,
      binTokens: Long, nShards: Int, seed: Long = 42L): DataFrame = {
    require(binTokens > 0, s"binTokens must be > 0, got $binTokens")
    require(nShards > 0, s"nShards must be > 0, got $nShards")
    val spark = batch.sparkSession
    import spark.implicits._
    val key = conv(
      substring(md5(concat(lit(seed.toString), lit(":"),
        col(idCol).cast("string"))), 1, 15), 16, 10).cast("long")
    val toks = batch.select(col(idCol).cast("long").as("id"),
      coalesce(size(split(trim(col(textCol)), "\\s+")).cast("long"), lit(0L))
        .as("n_tokens"),
      pmod(key, lit(nShards.toLong)).as("shard"))
    val st = store.select(col("shard"),
      col("bin").cast("long").as("__sb"), col("fill").cast("long").as("__sf"))
    toks
      .join(broadcast(st), Seq("shard"), "left")
      .select("id", "n_tokens", "shard", "__sb", "__sf")
      .repartition(nShards.min(64), col("shard"))
      .sortWithinPartitions("shard", "id")
      .as[(Long, Long, Long, Option[Long], Option[Long])]
      .mapPartitions { it =>
        var curShard = Long.MinValue
        var bin = -1L
        var fill = Long.MinValue
        it.map { case (id, t, sh, sb, sf) =>
          if (sh != curShard) {
            curShard = sh
            bin = sb.getOrElse(-1L)
            fill = sf.getOrElse(Long.MinValue)
          }
          if (fill == Long.MinValue || fill + t > binTokens) { bin += 1; fill = t }
          else fill += t
          (id, t, sh, bin, fill)
        }
      }
      .toDF("id", "n_tokens", "shard", "bin", "bin_fill")
      .select(col("id").as(idCol), col("n_tokens"), col("shard"),
        col("bin"), col("bin_fill"),
        (col("n_tokens") > lit(binTokens)).as("oversize"))
  }

  /** MATERIALIZE [[packBins]]' assignment into the actual training
    * sequences: one row per (shard, bin) with the member documents'
    * texts joined in id order — the final "write the packed batches"
    * step after the assignment plan. NULL text joins as the empty
    * string (its 0-token contract). `n_tokens` is the sum of member
    * token counts — the packing budget's currency; the space-separated
    * join adds no tokens for non-empty members.
    *
    * Scale shape: [[packBins]]' exchange + one groupBy(shard, bin)
    * whose per-group state is BOUNDED BY THE BIN BUDGET (a bin holds at
    * most `binTokens` tokens plus one oversize doc) — collect_list here
    * is safe by construction, unlike a per-key collect over arbitrary
    * groups. The wide text column joins the narrow assignment once, on
    * the id.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      binTokens: Long, nShards: Int, seed: Long = 42L): DataFrame = {
    val assign = packBins(df, idCol, textCol, binTokens, nShards, seed)
    val texts = df.select(col(idCol).cast("long").as("__pid"),
      coalesce(col(textCol).cast("string"), lit("")).as("__ptxt"))
    assign
      .join(texts, col(idCol).cast("long") === col("__pid"))
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        max("oversize").as("oversize"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pid").as("i"),
              col("__ptxt").as("t")))),
            x => x.getField("t")),
          " ").as("seq_text"))
  }

  /** Token count under a TRAINED BPE merge table ([[Bpe.train]]) — the
    * budget estimate that tracks a real LLM tokenizer far closer than
    * whitespace/word-run counts (common words collapse to one token, rare
    * words split into subwords). Distributed apply via the codegen'd
    * kernel; the model is the only driver-side state.
    */
  def tokenCountBpe(df: DataFrame, textCol: String,
      model: graft.functions.BpeModel): DataFrame =
    df.withColumn("n_bpe_tokens",
      GraftFunctions.bpeCount(col(textCol), model))

  /** Character-distribution entropy per document — the gibberish /
    * encoded-blob detector (low entropy = repeated chars or a tiny
    * alphabet: base64 walls, ASCII art, keyboard mash; natural prose
    * sits ~4–4.5 bits). ONE codegen kernel scan, zero shuffle, and the
    * arithmetic is pure integer ([[graft.functions.Kernels.charEntropy]]
    * over [[graft.functions.Kernels.ilog2Fp]]), so `entropy_fp` (2^-20
    * fixed-point bits) replays bit-identically in any engine. NULL text
    * → (0, 0, false) (the [[lmFluency]] NULL contract). `low_entropy`
    * flags docs below `minEntropyFp` with at least `minChars` chars
    * (short docs are legitimately low-entropy).
    */
  def charEntropy(df: DataFrame, textCol: String,
      minEntropyFp: Long = 2097152L /* 2.0 bits */,
      minChars: Long = 64L): DataFrame =
    df.withColumn("__e",
        GraftFunctions.charEntropy(col(textCol)))
      .withColumn("n_chars_ent", coalesce(col("__e.n_chars"), lit(0L)))
      .withColumn("entropy_fp",
        when(col("n_chars_ent") > 0,
          expr("__e.ent_num div n_chars_ent")).otherwise(lit(0L)))
      .withColumn("low_entropy",
        col("n_chars_ent") >= minChars && col("entropy_fp") < minEntropyFp)
      .drop("__e")

  /** Canonical normalization (NFC + lowercase + whitespace collapse) —
    * run before dedup so case/whitespace variants stop counting as
    * distinct documents. One codegen'd kernel pass.
    */
  def normalize(df: DataFrame, textCol: String, outCol: String = "norm"): DataFrame = {
    df.withColumn(outCol, GraftFunctions.normalizeText(col(textCol)))
  }

  /** Context-window chunking: split each document into overlapping
    * windows of `chunkTokens` whitespace tokens with `overlap` tokens
    * shared between neighbors — the step that fits long documents into a
    * model's context window. Pure declarative column arithmetic (split /
    * sequence / slice / array_join), so it explodes map-side with no
    * shuffle and the DuckDB oracle replays it exactly. Chunk count is
    * ceil((n - overlap) / stride) for n > chunkTokens, else 1.
    *
    * Column contract: every input column EXCEPT `textCol` rides along to
    * each chunk row (joined by chunk_idx / chunk / n_chunk_tokens) —
    * carrying the full source text per chunk would multiply the data by
    * the chunk count, but doc metadata (ids, language, quality) stays
    * attached for free.
    */
  def chunk(df: DataFrame, textCol: String,
      chunkTokens: Int = 128, overlap: Int = 16): DataFrame = {
    require(chunkTokens > overlap && overlap >= 0,
      s"need chunkTokens > overlap >= 0, got ($chunkTokens, $overlap)")
    val stride = chunkTokens - overlap
    val toks = split(trim(col(textCol)), " ")
    val n = size(toks)
    // empty / whitespace-only docs emit NO chunks (split of "" yields [""]
    // — without this guard they'd count as one 1-token chunk)
    val nChunks = when(n <= chunkTokens, lit(1))
      .otherwise(ceil((n - overlap).cast("double") / stride).cast("int"))
    df.filter(trim(col(textCol)) =!= "")
      .withColumn("__toks", toks)
      .withColumn("chunk_idx", explode(sequence(lit(0), nChunks - 1)))
      .withColumn("chunk",
        array_join(
          slice(col("__toks"), col("chunk_idx") * stride + 1, lit(chunkTokens)), " "))
      .withColumn("n_chunk_tokens",
        least(size(col("__toks")) - col("chunk_idx") * stride, lit(chunkTokens)))
      .drop("__toks", textCol)
  }

  /** PII redaction patterns — public-knowledge regex shapes, written to
    * mean the same thing in Java regex and RE2 (no lookaround, no \b, so
    * the DuckDB oracle replays them exactly).
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "([0-9]{1,3}\\.){3}[0-9]{1,3}")

  /** Redact PII-shaped substrings (emails, IPv4 addresses by default) —
    * the scrub pass every training-data pipeline runs before anything
    * else. Chained regexp_replace: codegen'd, map-side, one scan per
    * pattern; order is the declaration order (emails first, so an IP
    * inside a hostname is already gone).
    */
  def redact(df: DataFrame, textCol: String, outCol: String = "clean",
      replacement: String = "[REDACTED]",
      patterns: Seq[String] = piiPatterns.map(_._2)): DataFrame =
    df.withColumn(outCol,
      patterns.foldLeft(col(textCol)) { (c, p) => regexp_replace(c, p, replacement) })

  /** Repetition metrics (Gopher-style quality rules, Rae et al. 2021
    * §A1.1): per document — duplicate-word fraction, duplicate-n-gram
    * fraction, the most-frequent word and n-gram with their counts, and
    * the character mass of the top n-gram. These are the "repetitious
    * document" filters every large-scale training pipeline applies.
    *
    * 100 TB shape: ZERO shuffle. The naive formulation (explode tokens →
    * groupBy(doc, token) → max) shuffles the entire token stream — at
    * corpus scale that is a shuffle the size of the data. Instead ALL
    * counts and both argmaxes come from ONE codegen'd kernel scan per
    * document ([[graft.functions.Kernels.repetitionStats]]); the struct's
    * getField projections collapse to a single kernel call under
    * whole-stage codegen subexpression elimination (same pattern as
    * [[quality]]). The DuckDB oracle deliberately uses the relational
    * formulation (unnest + GROUP BY + window) — two independent
    * derivations must agree exactly, including the tie-break: the
    * BINARY-smallest gram among the argmax set, the order of the oracle's
    * `ORDER BY c DESC, g ASC` window.
    */
  def repetition(df: DataFrame, textCol: String, n: Int = 2): DataFrame = {
    require(n >= 2, s"n-gram width must be >= 2, got $n")
    val st = GraftFunctions.repetitionStats(col(textCol), n)
    df.withColumn("__rep", st)
      .withColumn("n_words", col("__rep").getField("n_words"))
      .withColumn("n_grams", col("__rep").getField("n_grams"))
      .withColumn("dup_word_frac",
        (col("n_words") - col("__rep").getField("n_distinct_words")).cast("double")
          / col("n_words"))
      .withColumn("dup_ngram_frac",
        when(col("n_grams") > 0,
          (col("n_grams") - col("__rep").getField("n_distinct_grams")).cast("double")
            / col("n_grams"))
          .otherwise(lit(0.0)))
      .withColumn("top_word", col("__rep").getField("top_word"))
      .withColumn("top_word_cnt", col("__rep").getField("top_word_cnt"))
      .withColumn("top_word_frac",
        col("top_word_cnt").cast("double") / col("n_words"))
      .withColumn("top_ngram", col("__rep").getField("top_ngram"))
      .withColumn("top_ngram_cnt", col("__rep").getField("top_ngram_cnt"))
      .withColumn("top_ngram_char_frac",
        when(col("n_grams") > 0,
          (col("top_ngram_cnt") * length(col("top_ngram"))).cast("double")
            / length(col(textCol)))
          .otherwise(lit(0.0)))
      .drop("__rep")
  }

  /** RAKE keyword extraction (Rose et al. 2010): per document, the
    * top-k candidate phrases by the degree/frequency score — the
    * unsupervised topic-surface verb (corpus tagging, dedup key
    * enrichment, retrieval query expansion) running entirely map-side:
    * ONE kernel scan per doc, no shuffle, streaming-safe. Candidate
    * phrases are maximal runs of non-stopword tokens between
    * punctuation breaks; word score = 10⁶·deg div freq (integer ppm),
    * phrase score = Σ word scores — the whole contract lives in
    * [[graft.functions.Kernels.rakeTopK]] and replays relationally
    * (breaker marking → gaps-and-islands phrase ids → two grouped
    * aggregates). Returns (idCol, rank, phrase, score_ppm); docs with
    * no candidate phrase (NULL, empty, all-stopword) emit nothing.
    */
  def keywords(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1, s"keywords: k must be >= 1 (got $k)")
    df.where(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(GraftFunctions.rakeTopK(col(textCol), k))
          .as(Seq("__pos", "__kw")))
      .select(col(idCol), (col("__pos") + 1).cast("long").as("rank"),
        col("__kw").getField("phrase").as("phrase"),
        col("__kw").getField("score_ppm").as("score_ppm"))
  }

  /** Gopher-style document FILTER (Rae et al. 2021, §A1.1): thresholded
    * pass/fail flags over the repetition and quality kernel metrics —
    * the concrete keep/drop decision a pipeline applies after scoring.
    * Two codegen kernel scans per document ([[repetition]] +
    * [[quality]]), all flags map-side; `gopher_pass` is the AND of every
    * rule. Mean word length is separator-adjusted:
    * (n_chars − (n_words − 1)) / n_words, exact for single-space
    * tokenized text. Thresholds are parameters with the paper's
    * defaults adapted to word-level metrics; the oracle mirrors the
    * exact expressions.
    */
  def gopherFilter(df: DataFrame, textCol: String,
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxDupNgramFrac: Double = 0.2, maxTopWordFrac: Double = 0.3,
      minStopHits: Long = 2): DataFrame = {
    val withMetrics = quality(repetition(df, textCol), textCol)
    withMetrics
      .withColumn("mean_word_len",
        (col("n_chars") - (col("n_words") - 1)).cast("double") / col("n_words"))
      .withColumn("f_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("f_mean_word_len",
        col("mean_word_len") >= minMeanWordLen && col("mean_word_len") <= maxMeanWordLen)
      .withColumn("f_dup_ngram", col("dup_ngram_frac") <= maxDupNgramFrac)
      .withColumn("f_top_word", col("top_word_frac") <= maxTopWordFrac)
      .withColumn("f_stopwords", col("stop_hits") >= minStopHits)
      .withColumn("gopher_pass",
        col("f_word_count") && col("f_mean_word_len") && col("f_dup_ngram") &&
          col("f_top_word") && col("f_stopwords"))
  }

  /** Document frequency per word: the inverted-index statistic TF-IDF
    * needs — for each distinct word, the number of documents containing
    * it. One distinct-per-doc explode, then a word-keyed count with
    * map-side partial aggregation: shuffle volume is vocabulary-bounded
    * per partition, not token-stream-sized.
    */
  def docFrequency(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(array_distinct(split(trim(col(textCol)), " "))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))

  /** Train a [[graft.functions.DfModel]]: collect the (vocabulary-bounded)
    * document-frequency table to the driver — the same bounded-model
    * pattern as BPE training and k-means centroids. `maxVocab` guards the
    * collect: if the vocabulary exceeds it, the LOWEST-df words (the long
    * tail, least useful for scoring and most numerous) are dropped
    * (deterministically: df desc, term asc) and scoring treats them as
    * OOV.
    */
  def trainDfModel(df: DataFrame, textCol: String, maxVocab: Int = 1 << 20)
      : graft.functions.DfModel = {
    val nDocs = df.count()
    val rows = docFrequency(df, textCol)
      .orderBy(col("df").desc, col("term").asc)
      .limit(maxVocab)
      .collect()
    val words = rows.map(_.getString(0))
    val dfs = rows.map(_.getLong(1))
    val order = words.indices.sortBy(words(_))
    new graft.functions.DfModel(
      order.map(words(_)).toArray, order.map(dfs(_)).toArray, nDocs)
  }

  /** Train the bounded bigram LM for [[lmFluency]] — the CCNet-style
    * LM-filter recipe (Wenzek et al. 2020) as a trained-model fit like
    * BPE/k-means/DfModel: vocabulary = the `maxVocab` most frequent
    * words (count desc, word asc — the deterministic truncation both
    * engines replay), bigram table = the `maxBigrams` most frequent
    * adjacent pairs over that vocabulary. Two distributed aggregations,
    * two bounded driver-side collects; at corpus scale train on a
    * sampled/filtered frame the way Bpe.train does.
    */
  def trainLmModel(df: DataFrame, textCol: String,
      maxVocab: Int = 1 << 16, maxBigrams: Int = 1 << 20)
      : graft.functions.LmModel = {
    // the spaceTokens contract: trim SPACES only, split on ' ' keeping
    // empties — identical to the kernel and to the oracle's string_split
    val toks = split(trim(col(textCol)), " ", -1)
    val words = df.select(explode(toks).as("w"))
    val vocabRows = words.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxVocab)
      .collect()
    val byWord = vocabRows.map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val sortedWords = byWord.map(_._1)
    val wordCount = byWord.map(_._2)
    val vocabDf = broadcast(
      df.sparkSession.createDataFrame(sortedWords.toSeq.map(Tuple1(_)))
        .toDF("__v"))
    val pairs = df
      .select(toks.as("t"))
      .where(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("w1"),
          element_at(col("t"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .join(vocabDf.withColumnRenamed("__v", "w1"), Seq("w1"), "left_semi")
      .join(vocabDf.withColumnRenamed("__v", "w2"), Seq("w2"), "left_semi")
    val bigramRows = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w1").asc, col("w2").asc)
      .limit(maxBigrams)
      .collect()
    val id = sortedWords.zipWithIndex.toMap
    val packed = bigramRows.map { r =>
      val key = (id(r.getString(0)).toLong << 32) | (id(r.getString(1)) & 0xffffffffL)
      (key, r.getLong(2))
    }.sortBy(_._1)
    new graft.functions.LmModel(sortedWords, wordCount,
      packed.map(_._1), packed.map(_._2))
  }

  /** Train the hashed-n-gram quality classifier for [[qualityClassify]]
    * — a fastText-style linear text classifier (Joulin et al., EACL
    * 2017) fit by batch least-squares gradient descent in PURE INTEGER
    * fixed-point arithmetic, so training is bit-reproducible in any
    * engine: margins, errors, gradients, and weight updates are all
    * 64-bit integer adds and truncating divisions (no float anywhere,
    * no saturating link whose dead gradient would stall batch GD — the
    * LMS rule converges for lrDiv ≳ the mean feature count, and the
    * update divisor n·lrDiv normalizes the step by sample size so the
    * same lrDiv works at every SF). `sample` must already carry the
    * label column and be BOUNDED (the frame is collected — pass the
    * seeded/limited sample, maxSample only guards the collect).
    * Features per doc: [[graft.functions.Kernels.qualityFeatures]]
    * (distinct hashed unigram/bigram buckets + bias/length/shape
    * structural grams). Labels: any deterministic boolean (the
    * [[gopherFilter]] `gopher_pass` flag in the flagship query).
    */
  def trainQualityClassifier(sample: DataFrame, textCol: String, labelCol: String,
      numBuckets: Int = 4096, iters: Int = 64, scale: Long = 65536L,
      lrDiv: Long = 64L, maxSample: Int = 65536): graft.functions.QualityLrModel = {
    val rows = sample
      .filter(col(textCol).isNotNull)
      .select(col(textCol), col(labelCol).cast("boolean"))
      .collect()
    require(rows.length <= maxSample,
      s"training sample ${rows.length} exceeds maxSample $maxSample — pre-sample the frame")
    require(rows.nonEmpty, "empty training sample")
    val n = rows.length.toLong
    val feats = rows.map { r =>
      (graft.functions.Kernels.qualityFeatures(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)), numBuckets),
        if (r.getBoolean(1)) 1L else 0L)
    }
    val w = new Array[Long](numBuckets)
    var t = 0
    while (t < iters) {
      val grad = new Array[Long](numBuckets)
      feats.foreach { case (bs, y) =>
        var m = 0L
        var i = 0
        while (i < bs.length) { m += w(bs(i)); i += 1 }
        val err = m - y * scale
        i = 0
        while (i < bs.length) { grad(bs(i)) += err; i += 1 }
      }
      var j = 0
      while (j < numBuckets) { w(j) -= grad(j) / (n * lrDiv); j += 1 }
      t += 1
    }
    new graft.functions.QualityLrModel(w, numBuckets, scale)
  }

  /** Score every document under a trained [[trainQualityClassifier]]
    * model: ONE codegen kernel scan, zero shuffle (the model rides as a
    * codegen reference object like [[lmFluency]]'s). Appends n_feat /
    * margin / q_score / pred_pass; the double `q_score` is one exact
    * long→double division, so it is bit-identical in any engine. NULL
    * text scores 0 features / 0 margin / 0.0 / false (the
    * [[lmFluency]] NULL contract).
    */
  def qualityClassify(df: DataFrame, textCol: String,
      model: graft.functions.QualityLrModel): DataFrame =
    df.withColumn("__q",
        GraftFunctions.qualityLrScore(col(textCol), model))
      .withColumn("n_feat", coalesce(col("__q.n_feat"), lit(0L)))
      .withColumn("margin", coalesce(col("__q.margin"), lit(0L)))
      .withColumn("q_score",
        least(lit(1.0), greatest(lit(0.0),
          col("margin").cast("double") / lit(model.scale.toDouble))))
      .withColumn("pred_pass", col("margin") > lit(model.scale / 2))
      .drop("__q")

  /** Train a DSIR importance model (Data Selection via Importance
    * Resampling, Xie et al. NeurIPS 2023): hashed unigram+bigram bag
    * counts of a TARGET corpus (what good data looks like) and of the
    * RAW corpus (what's available), add-one smoothed, reduced to one
    * integer weight per bucket via [[graft.functions.Kernels.ilog2Fp]]
    * (fixed-point log2 — square-and-normalize digit recurrence, no
    * float anywhere) so scoring is pure long addition and any engine
    * replays weights AND scores bit-identically.
    *
    * Scale posture: each corpus is ONE map-side gram-explode +
    * groupBy(bucket) — the shuffle is bounded by `numBuckets` (4096
    * default) regardless of corpus size; only the d-row count tables
    * are collected (the bounded trained-model contract, like
    * [[trainQualityClassifier]]).
    */
  def trainDsir(target: DataFrame, raw: DataFrame, textCol: String,
      numBuckets: Int = 4096): graft.functions.DsirModel = {
    def bucketCounts(df: DataFrame): (Array[Long], Long) = {
      val rows = df
        .filter(col(textCol).isNotNull)
        .select(explode(GraftFunctions.dsirBuckets(col(textCol), numBuckets)).as("b"))
        .groupBy("b").agg(count(lit(1)).as("c"))
        .collect()
      val counts = new Array[Long](numBuckets)
      var total = 0L
      rows.foreach { r =>
        val c = r.getLong(1)
        counts(r.getInt(0)) = c
        total += c
      }
      (counts, total)
    }
    val (ct, nt) = bucketCounts(target)
    val (cr, nr) = bucketCounts(raw)
    val ilog = graft.functions.Kernels.ilog2Fp _
    val w = Array.tabulate(numBuckets)(b => ilog(ct(b) + 1) - ilog(cr(b) + 1))
    new graft.functions.DsirModel(w, numBuckets,
      ilog(nr + numBuckets) - ilog(nt + numBuckets))
  }

  /** Score every document's DSIR importance under a trained
    * [[trainDsir]] model: ONE codegen kernel scan, zero shuffle.
    * Appends n_grams and dsir_score = Σ_g [log2 p̂_target(g) − log2
    * p̂_raw(g)] in 2^-20 fixed point — positive means "more like the
    * target corpus than the raw pool". NULL text scores 0 grams / 0
    * (the [[lmFluency]] NULL contract).
    */
  def dsirScore(df: DataFrame, textCol: String,
      model: graft.functions.DsirModel): DataFrame =
    df.withColumn("__d",
        GraftFunctions.dsirScore(col(textCol), model))
      .withColumn("n_grams", coalesce(col("__d.n_grams"), lit(0L)))
      .withColumn("dsir_score",
        coalesce(col("__d.w_sum"), lit(0L)) +
          col("n_grams") * lit(model.perGram))
      .drop("__d")

  /** DSIR selection: the `k` documents whose importance is highest,
    * deterministic tie-break by id — the top-k importance-selection
    * variant (the paper's sampled variant trades determinism for
    * diversity; at warehouse scale the ranking is the reusable
    * artifact, and a seeded Gumbel draw can ride on top). TakeOrdered
    * plan: per-partition top-k, k × partitions rows to the driver-side
    * merge, never a global sort.
    */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
      model: graft.functions.DsirModel, k: Int): DataFrame =
    dsirScore(df, textCol, model)
      .orderBy(col("dsir_score").desc, col(idCol).asc)
      .limit(k)

  /** Bigram-LM fluency per document under a trained [[trainLmModel]]
    * model: mean next-word relative frequency c(w1,w2)/c(w1) over
    * in-vocabulary adjacent pairs — ONE kernel scan, zero shuffle (the
    * model rides as a codegen reference object), streaming-safe like the
    * other map-side scorers. Appends n_pairs / known_pairs / lm_fluency.
    *
    * NULL-text contract: NULL documents score 0 / 0 / 0.0, not NULL —
    * the same coalesce rule as [[Dedup.decontaminateMapSide]]'s
    * NULL-flags-false, so dirty corpora keep a total scoring function and
    * the DuckDB oracle's coalesce matches by construction.
    */
  def lmFluency(df: DataFrame, textCol: String,
      model: graft.functions.LmModel): DataFrame =
    df.withColumn("__lm",
        GraftFunctions.lmFluency(col(textCol), model))
      .withColumn("n_pairs", coalesce(col("__lm.n_pairs"), lit(0L)))
      .withColumn("known_pairs", coalesce(col("__lm.known_pairs"), lit(0L)))
      .withColumn("lm_fluency", coalesce(col("__lm.fluency"), lit(0.0)))
      .drop("__lm")

  /** TF-IDF top-k terms per document: one kernel scan per doc scores
    * every in-vocabulary term tf × N / df and keeps the k best
    * (score desc, term asc). ZERO shuffle at scoring time — the df model
    * broadcasts with the plan (Catalyst reference object), the kernel
    * call is codegen'd, and each output row carries its own top-k array.
    * The rational idf (no log damping) is deliberate: it is exactly
    * reproducible in the DuckDB oracle (integer-exact division), and for
    * a FIXED tf it ranks identically to log-idf; the spec pins the
    * ordering contract.
    */
  def tfidfTopK(df: DataFrame, textCol: String,
      model: graft.functions.DfModel, k: Int = 5): DataFrame =
    df.withColumn("tfidf",
      GraftFunctions.tfidfTopK(col(textCol), model, k))

  /** PMI collocation mining (Church & Hanks, CL 1990): the corpus's most
    * associated adjacent word pairs — phrase candidates for tokenizer
    * vocabularies, boilerplate signatures, quality diagnostics. Emits the
    * top `topK` bigrams with count ≥ `minCount`, ranked by association
    * LIFT = P(w1,w2) / (P(w1)·P(w2)) = pair·N / (left·right); PMI is
    * log(lift), monotone in it, so the ranking IS the PMI ranking. The
    * lift is emitted as `lift_e6` — floor(10^6 · pair·N / (left·right))
    * computed in EXACT decimal integer arithmetic (truncating `div`, all
    * operands positive), so any engine replays the scores and the total
    * (lift_e6 DESC, w1, w2) order bit-identically — no float log in the
    * ranking path. Raw pair/left/right/N counts ride along for consumers
    * that want real PMI or another association measure, and the Dunning
    * LLR significance score is computed directly: `llr_u20` =
    * [[Stats.llrU20]] over the PROPER bigram-event table (row margin =
    * bigrams starting w1, column = bigrams ending w2, N = all bigrams —
    * the unigram margins lift uses are not closed under the 2×2
    * identity), exact ilog2 fixed point, engine-replayable.
    *
    * Tokenization is the engine-wide spaceTokens contract (trim spaces,
    * split on ' ' keeping empties — [[trainLmModel]], the kernels, and
    * the DuckDB oracles all agree).
    *
    * Scale shape: one map pass explodes bigrams, ONE wide shuffle counts
    * them (partial aggregation map-side), the minCount filter prunes the
    * candidate set BEFORE the two unigram-count joins, and the
    * total-token count joins as a broadcast scalar. Nothing is
    * quadratic; the expensive shuffle is bounded by the distinct-bigram
    * count, the joins by the post-filter survivors.
    */
  def collocations(df: DataFrame, textCol: String,
      minCount: Long = 5, topK: Int = 100): DataFrame = {
    val toks = split(trim(col(textCol)), " ", -1)
    val words = df.select(explode(toks).as("w"))
    val uni = words.groupBy("w").agg(count(lit(1)).as("c"))
    val total = uni.agg(sum("c").as("n_tokens"))
    val pairs = df
      .select(toks.as("t"))
      .where(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("w1"),
          element_at(col("t"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // the pair frame feeds FOUR aggregates (bigram counts + the three
    // margins of the proper bigram 2x2 table); persist so the corpus
    // explode runs once, release after the topK-bounded result
    // checkpoints (the clusterMedoid discipline)
    val pairsP = pairs.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val big = pairsP.groupBy("w1", "w2").agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minCount)
    // LLR needs a PROPER contingency table: margins over BIGRAM events
    // (row = bigrams starting w1, col = bigrams ending w2, N = all
    // bigrams) — the unigram counts that feed lift are NOT closed
    // under the table identity (k22 can go negative with them)
    val rowm = pairsP.groupBy("w1").agg(count(lit(1)).as("__row_cnt"))
    val colm = pairsP.groupBy("w2").agg(count(lit(1)).as("__col_cnt"))
    val totp = pairsP.agg(count(lit(1)).as("__n_pairs"))
    val dec = "decimal(38,0)"
    // the rank key is lift_e6 (unigram margins + total) — the LLR margin
    // joins and the four-ilog2 llr_u20 projection rank nothing, so they
    // sit ABOVE the topK limit: computed on <= topK survivors instead of
    // every minCount-qualified bigram (r13, the associationFromStore
    // deferral). Every bigram in `big` has a rowm/colm row by
    // construction (same pairsP source), so moving those inner joins
    // past the limit cannot drop rows.
    val ranked = big
      .join(uni.select(col("w").as("w1"), col("c").as("left_cnt")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("right_cnt")), Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("__num",
        col("pair_cnt").cast(dec) * col("n_tokens").cast(dec) * lit(1000000L).cast(dec))
      .withColumn("__den", col("left_cnt").cast(dec) * col("right_cnt").cast(dec))
      .withColumn("lift_e6", expr("CAST(__num div __den AS long)"))
      .orderBy(col("lift_e6").desc, col("w1"), col("w2"))
      .limit(topK)
    val out = ranked
      .join(rowm, Seq("w1"))
      .join(colm, Seq("w2"))
      .crossJoin(broadcast(totp))
      // nullAboveN: past 10^9 bigram events llr_u20 reads NULL rather
      // than killing the lift read that worked before the score existed
      .withColumn("llr_u20", Stats.llrU20(col("pair_cnt"), col("__row_cnt"),
        col("__col_cnt"), col("__n_pairs"), nullAboveN = true))
      .select("w1", "w2", "pair_cnt", "left_cnt", "right_cnt", "n_tokens",
        "lift_e6", "llr_u20")
      // the margin joins sit past the TakeOrdered — restore the contract
      // order on the <= topK survivors
      .orderBy(col("lift_e6").desc, col("w1"), col("w2"))
      .localCheckpoint(eager = true)
    pairsP.unpersist()
    out
  }

  /** Winnowing fingerprint (k-gram rolling hash, window minima — Schleimer
    * et al., SIGMOD 2003) plus summary stats. The full array<bigint> is the
    * join key set for containment-style near-dup detection; n/min/max give
    * a cheap fixed-width sketch.
    */
  def fingerprint(df: DataFrame, textCol: String, k: Int = 8, w: Int = 4): DataFrame = {
    df.withColumn("fp", GraftFunctions.winnow(col(textCol), k, w))
      .withColumn("n_fp", size(col("fp")))
      .withColumn("fp_min", array_min(col("fp")))
      .withColumn("fp_max", array_max(col("fp")))
  }

  /** Query parameters dropped by URL canonicalization: the tracking
    * params that make two fetches of the same page distinct strings
    * (the CCNet / RefinedWeb URL-dedup prefilter drops these before
    * hashing). Matched on the exact `name=` prefix or bare name.
    */
  val trackingParams: Seq[String] =
    Seq("utm_source", "utm_medium", "utm_campaign", "utm_term",
      "utm_content", "fbclid", "gclid", "msclkid", "ref")

  /** URL canonicalization — the key-normalization step of URL-level
    * dedup, the cheapest and first dedup pass of every web-corpus
    * pipeline (two crawls of one page almost always differ only in
    * scheme case, www, default port, fragment, tracking params, or
    * param order). Emits:
    *
    *  - `url_host`: lowercased host, `www.` and default port stripped
    *    (`:80` for http, `:443` for https) — the domain-cap grouping key;
    *  - `url_canonical`: scheme lowercased, canonical host, path with
    *    the trailing slash stripped (root stays `/`... emitted as empty
    *    path + no slash, matching the host-only form), fragment dropped,
    *    tracking params dropped, surviving query params SORTED
    *    bytewise and rejoined.
    *
    * Everything is a chain of codegen'd `regexp_extract` / array
    * functions over regexes written to mean the same thing in Java
    * regex and RE2 (no lookaround, no \b) — one map-side scan, zero
    * shuffle, and the DuckDB oracle replays it function-for-function.
    * Path CASE is preserved (paths are case-sensitive per RFC 3986;
    * only scheme and host are case-insensitive).
    */
  def canonicalizeUrl(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rawHost = lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val noPort = when(scheme === "http", regexp_replace(rawHost, ":80$", ""))
      .when(scheme === "https", regexp_replace(rawHost, ":443$", ""))
      .otherwise(rawHost)
    val host = regexp_replace(noPort, "^www\\.", "")
    val path0 = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    val path = regexp_replace(path0, "/$", "")
    // the query must come from the PRE-fragment part: a '?' inside the
    // fragment (SPA routes like '#/x?tab=1') is fragment content, and
    // matching it would leak the fragment into the canonical URL
    val query0 = regexp_extract(regexp_replace(u, "#.*", ""), "\\?(.*)", 1)
    val kept = array_sort(filter(
      split(query0, "&", -1),
      p => p =!= "" && !trackingParams
        .map(t => p === t || p.startsWith(t + "=")).reduce(_ || _)))
    val query = array_join(kept, "&")
    df.withColumn("url_host", host)
      .withColumn("url_canonical",
        concat(scheme, lit("://"), host, path,
          when(query === "", lit("")).otherwise(concat(lit("?"), query))))
  }

  /** READABILITY metrics in exact integer fixed-point — the
    * quality-bucketing signal complementing [[quality]]'s ratios and
    * [[lmFluency]]'s trained model: Flesch reading ease and
    * Flesch-Kincaid grade level (×1000, one truncating division per
    * term, positive operands so trunc = floor in every engine) over
    * deterministic counting contracts any engine replays:
    *  - n_words: non-empty single-space splits;
    *  - n_sentences: max(1, maximal `[.!?]+` runs);
    *  - n_syllables: Σ per word of max(1, maximal `[aeiouyAEIOUY]+`
    *    runs) — the standard vowel-group heuristic, fully pinned (no
    *    silent-e modeling: a DEFINED approximation beats an ambiguous
    *    "better" one, the langId convention).
    *
    *   flesch_e3 = 206835 − (1015·W) div S − (84600·Y) div W
    *   fk_grade_e3 = (390·W) div S + (11800·Y) div W − 15590
    *
    * NULL text → NULL metrics; zero-word text → counts with NULL
    * scores. Pure codegen'd column expressions (regex + higher-order
    * aggregate), one map scan, zero shuffle — streaming-safe.
    */
  def readability(df: DataFrame, textCol: String): DataFrame = {
    val t = s"`$textCol`"
    df.withColumn("__w", expr(s"filter(split($t, ' '), x -> x != '')"))
      .withColumn("n_words",
        when(col(textCol).isNotNull, size(col("__w")).cast("long")))
      .withColumn("n_sentences",
        when(col(textCol).isNotNull, greatest(lit(1L),
          size(expr(s"regexp_extract_all($t, '[.!?]+', 0)")).cast("long"))))
      .withColumn("n_syllables",
        when(col(textCol).isNotNull, expr(
          "aggregate(__w, 0L, (acc, x) -> acc + greatest(1L, " +
            "CAST(size(regexp_extract_all(x, '[aeiouyAEIOUY]+', 0)) AS bigint)))")))
      .withColumn("flesch_e3", when(col("n_words") > 0,
        lit(206835L) - expr("(1015 * n_words) div n_sentences") -
          expr("(84600 * n_syllables) div n_words")))
      .withColumn("fk_grade_e3", when(col("n_words") > 0,
        expr("(390 * n_words) div n_sentences") +
          expr("(11800 * n_syllables) div n_words") - lit(15590L)))
      .drop("__w")
  }

  /** Train the Aho-Corasick blocklist automaton from a pattern table
    * (driver-collected like [[trainDfModel]]'s vocab — blocklists are
    * small by definition; `maxPatterns` guards against passing a
    * corpus). Pattern id = 0-based position in the deterministic
    * (pattern-string) sort order, so both engines derive identical ids.
    * Matching is exact-byte (case-sensitive): compose with
    * [[normalize]]/`lower` upstream for case-folded blocking.
    */
  def trainBlocklist(patterns: DataFrame, patternCol: String,
      maxPatterns: Int = 100000): graft.functions.AcModel = {
    val rows = patterns.select(col(patternCol))
      .where(col(patternCol).isNotNull && col(patternCol) =!= "")
      .distinct().limit(maxPatterns + 1).collect()
    require(rows.length <= maxPatterns,
      s"blocklist exceeds $maxPatterns patterns — not a blocklist; " +
        "use Dedup.decontaminate for corpus-sized pattern sets")
    val pats = rows.map(_.getString(0)).sorted.toSeq
    graft.functions.AcModel.build(pats)
  }

  /** Seq convenience: ids follow the GIVEN order (no resort) — callers
    * who number their patterns keep their numbering. */
  def trainBlocklist(patterns: Seq[String]): graft.functions.AcModel =
    graft.functions.AcModel.build(patterns)

  /** BLOCKLIST multi-pattern tagging: every document scored against ALL
    * patterns of a trained [[graft.functions.AcModel]] in ONE byte scan
    * (Aho & Corasick, CACM 1975) — the bad-word / banned-phrase /
    * PII-trigger filter of a training-data pipeline, where the naive
    * per-pattern `LIKE` plan costs |patterns| scans and a regex
    * alternation backtracks. Appends
    *  - `block_hits`: total (position, pattern) occurrences —
    *    overlapping and nested matches all count (the all-starts
    *    substring scan an oracle replays relationally);
    *  - `block_distinct`: distinct patterns that occur;
    *  - `block_first_pos`: 1-based code-point position of the earliest
    *    match start (NULL when clean);
    *  - `block_first_pat`: pattern id at that position (smallest id on
    *    ties; NULL when clean);
    *  - `blocked`: block_hits > 0.
    * NULL texts are clean (0 hits, false — the gram-form convention).
    *
    * 100 TB shape: the automaton rides as ONE codegen reference object;
    * corpus cost is one map scan with an O(1) no-hit fast path per
    * byte, no explode, no shuffle, no join — applies unchanged to
    * STREAMING frames like [[graft.operators.Dedup.decontaminateMapSide]].
    */
  def blocklistTag(df: DataFrame, textCol: String,
      model: graft.functions.AcModel): DataFrame = {
    val stats = graft.functions.GraftFunctions.blocklistStats(col(textCol), model)
    df.withColumn("__bl", stats)
      .withColumn("block_hits", coalesce(col("__bl").getItem(0), lit(0L)))
      .withColumn("block_distinct", coalesce(col("__bl").getItem(1), lit(0L)))
      .withColumn("block_first_pos",
        when(col("__bl").getItem(2) > 0L, col("__bl").getItem(2)))
      .withColumn("block_first_pat",
        when(col("__bl").getItem(3) >= 0L, col("__bl").getItem(3)))
      .withColumn("blocked", col("block_hits") > 0L)
      .drop("__bl")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.GraftFunctions

/** Near-duplicate detection over document corpora, SURVEY §2.3 rows 38-42.
  *
  * Every variant follows the same 100 TB-safe shape: a cheap per-row
  * signature (codegen'd Catalyst expression), a *blocking* step that
  * shuffles narrow (id, bucket) rows once, a bucket-equi-join to generate
  * candidate pairs (never an all-pairs cross join), and an exact/estimated
  * verify on the candidates only. Blow-up is bounded by bucket sizes, which
  * are tunable (bands/bits) and cappable (`maxBucketSize` drops pathological
  * buckets, e.g. boilerplate-identical shards, instead of letting one key
  * quadratically dominate the round).
  *
  * Caching: a one-shot operator returns a LAZY plan, so there is no safe
  * point to release what that plan reads more than once before the
  * caller's action. minhashLsh, icwsLsh and ngramJaccard build that
  * frame (signatures, grams) in the call, as one eager checkpoint
  * ([[RoundCheckpoints.materializeNow]] — one job, where a lazy persist
  * read three times costs three), and leave it to the ContextCleaner.
  * The others (simhash, sharedSpans, ...) persist it and leave it cached
  * until `unpersist` or `spark.catalog.clearCache()`. The steady-state
  * `*Incremental` operators materialize their bounded result eagerly and
  * release their intermediates, so a long-running ingest loop
  * accumulates nothing.
  */
object Dedup {

  /** Distinct word n-grams of a text column. Single-space tokenization —
    * deliberately reproducible in ANSI SQL (the DuckDB oracle uses
    * string_split(trim(text), ' ')) so jaccard results are engine-exact.
    */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = split(trim(text), " ")
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct character n-grams (for short/no-whitespace text, e.g. zh). */
  def charShingles(text: Column, n: Int): Column = {
    val t = trim(text)
    when(length(t) >= n,
      array_distinct(transform(sequence(lit(1), length(t) - (n - 1)),
        i => t.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Hashed shingles by mode: "word" n-grams (space-tokenized), "char"
    * n-grams (unspaced scripts — zh/ja/th), or "word_tf" occurrence-indexed
    * word n-grams (set semantics over the output = TF-WEIGHTED semantics:
    * jaccard becomes Σmin/Σmax weighted jaccard, minhash becomes weighted
    * minhash — exactly, for integer term frequencies). All single-pass
    * kernels with identical output contracts (sorted distinct longs).
    */
  def shingleHashes(text: Column, n: Int, shingler: String): Column =
    shingler match {
      case "word"    => GraftFunctions.wordNgrams(text, n)
      case "char"    => GraftFunctions.charNgrams(text, n)
      case "word_tf" => GraftFunctions.wordNgramsTf(text, n)
      case other     => throw new IllegalArgumentException(s"unknown shingler: $other")
    }

  /** Exact dedup: group on a content hash — the shuffle key is the 128-bit
    * hash, never the document body, so shuffle volume is rows × ~50 bytes
    * regardless of document size.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** PARAGRAPH-level exact dedup (the CCNet/RefinedWeb sub-document pass:
    * Wenzek et al. 2020 dedup CommonCrawl on paragraph hashes): split each
    * document on `sep`, keep only the corpus-wide FIRST occurrence of
    * every distinct paragraph (min (doc_id, position) wins), splice the
    * survivors back in original order. Catches the shared boilerplate
    * blocks document-level exact dedup never sees (two different pages
    * sharing a footer) at exact-match precision.
    *
    * 100 TB shape: AFTER the explode projects each paragraph to its
    * 128-bit hash, everything until reassembly is narrow — the keeper
    * election is a partial-combined min of (doc_id, pos) per hash, and the
    * per-doc keep-list is a narrow groupBy of the winners (positions only,
    * O(paras-kept) ints). Document TEXT crosses the wire exactly ONCE: the
    * final doc_id join of the intact document against its keep-list, with
    * the splice indexing the split array map-side (`transform(keep,
    * i -> ps[i+1])` — O(kept) per doc, keep-list pre-sorted). Empty
    * paragraphs (consecutive separators) participate like any other —
    * the FIRST blank survives, the rest collapse; the contract is
    * documented rather than special-cased so the oracle replays it
    * byte-for-byte.
    *
    * Returns (doc_id, n_paras, n_kept, text_clean).
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame =
    // the empty-store incremental form (as cdcDedup): the store probe
    // plans away (PlanShapeSpec)
    paragraphDedupIncremental(df, idCol, textCol, emptyHashStore(df), sep)

  /** Corpus-frequency BOILERPLATE line removal (the RefinedWeb/CCNet
    * complement of [[paragraphDedup]]: keep-first dedups repeats, this
    * drops ubiquitous lines from EVERY document): a line occurring in ≥
    * `minDocs` distinct documents is navigation/cookie/footer boilerplate
    * and is removed everywhere, including its first occurrence.
    *
    * 100 TB shape: the hot-line list is found by a partial-combined
    * distinct-doc count on the line hash (never the text); with a high
    * `minDocs` threshold it is tiny by construction and broadcast
    * anti-joins onto the narrow exploded line-keys — the same
    * aggregate + broadcast pattern as every other degenerate-key cap in
    * this file; no window, no full-corpus exchange. A LOW threshold over
    * a huge corpus makes the hot set itself large (every line repeated
    * `minDocs`+ times), and the broadcast grows with it. The anti-join
    * and keep-list election see only (hash, doc_id, pos); document TEXT
    * crosses the wire exactly once, in the final doc_id join that
    * splices survivors map-side from the intact document.
    *
    * Returns (doc_id, n_lines, n_kept, text_clean).
    */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = splitDocs(df, idCol, textCol, sep)
    val lines = segmentHashes(base)
    val hot = lines
      .groupBy("h")
      .agg(countDistinct(col("doc_id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("h")
    val keepPos = lines
      .join(broadcast(hot), Seq("h"), "left_anti")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("keep"))
    spliceKept(base, keepPos, sep, "n_lines")
  }

  /** `(doc_id, ps)`: each document's id and its segments split on `sep`. */
  private def splitDocs(df: DataFrame, idCol: String, textCol: String,
      sep: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
      split(col(textCol), java.util.regex.Pattern.quote(sep)).as("ps"))

  /** `(doc_id, pos, h)`: one row per segment of [[splitDocs]] with its
    * md5 — everything after this is narrow. */
  private def segmentHashes(base: DataFrame): DataFrame =
    base
      .select(col("doc_id"), posexplode(col("ps")).as(Seq("pos", "p")))
      .select(col("doc_id"), col("pos"), md5(col("p")).as("h"))

  /** Splice each document's kept segments (`keepPos`: doc_id and its
    * sorted 0-based `keep` positions) back into `text_clean`, indexing
    * the split array map-side. Returns (doc_id, `nCol`, n_kept,
    * text_clean); a document with no kept segment is present and empty. */
  private def spliceKept(base: DataFrame, keepPos: DataFrame, sep: String,
      nCol: String): DataFrame =
    base.join(keepPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ps")).cast("long").as(nCol),
        coalesce(size(col("keep")), lit(0)).cast("long").as("n_kept"),
        coalesce(
          array_join(transform(col("keep"),
            i => element_at(col("ps"), i + 1)), sep),
          lit("")).as("text_clean"))

  /** The segment-hash store probe of [[paragraphDedupIncremental]] and
    * [[cdcDedupIncremental]]: `segs`' rows whose hash `h` the store does
    * not hold. The batch's distinct hashes broadcast-semi-join the store
    * scan, so the store (the big side, one narrow md5 column) is read
    * once and NEVER shuffled (the distinct __store_h name makes that
    * assertable in DedupSpec); the hit set, bounded by the batch's own
    * distinct-hash count, broadcast-anti-joins `segs`. */
  private def unseenSegments(segs: DataFrame, existingHashes: DataFrame): DataFrame = {
    val newHashes = broadcast(segs.select("h").distinct())
    val hits = existingHashes.select(col("h").as("__store_h"))
      .join(newHashes, col("__store_h") === newHashes("h"), "left_semi")
      .select(col("__store_h").as("h"))
    segs.join(broadcast(hits), Seq("h"), "left_anti")
  }

  /** An empty `(h)` hash store: the one-shot segment dedups are their
    * incremental forms over it. */
  private def emptyHashStore(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType))))

  /** Distinct paragraph-hash store of a corpus — the persisted artifact
    * [[paragraphDedupIncremental]] probes each snapshot (the 39c
    * signature-store pattern applied to sub-document exact dedup): one
    * md5 per DISTINCT segment, built by the same partial-combined
    * aggregate as [[paragraphDedup]]'s keeper election. Persist it as a
    * table once over the historical corpus; each arriving batch then
    * pays only its own split + hash. Returns `(h)`.
    */
  def paragraphHashStore(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame =
    segmentHashes(splitDocs(df, idCol, textCol, sep)).select("h").distinct()

  /** INCREMENTAL paragraph dedup: clean a NEW batch against an EXISTING
    * paragraph-hash store ([[paragraphHashStore]], persisted) and within
    * itself — the steady-state CCNet ingestion form of
    * [[paragraphDedup]]. History always wins: a batch segment whose hash
    * is in the store collapses everywhere (its first corpus occurrence
    * already survived in an earlier snapshot); among store-unseen
    * segments the batch-wide first occurrence (min (doc_id, pos)) is
    * kept, exactly the batch election. When batch ids follow history ids
    * (the temporal ingestion order), the result equals
    * [[paragraphDedup]] over history ∪ batch restricted to the batch —
    * the stream==batch parity contract (DedupSpec).
    *
    * 100 TB shape: the store is probed by the batch's DISTINCT segment
    * hashes — a broadcast semi-join onto the store scan, so the store
    * (the big side, one narrow md5 column) is read once per snapshot and
    * NEVER shuffled; the hit-set comes back bounded by the batch's own
    * distinct-hash count and broadcast-anti-joins the batch's narrow
    * (hash, doc_id, pos) frame. Batch text crosses the wire exactly once
    * (the final splice join, as in [[paragraphDedup]]). Store maintenance
    * between snapshots is `store.unionByName(paragraphHashStore(batch))
    * .distinct()` — re-aggregation of narrow hashes, no text.
    *
    * Composes with Structured Streaming as `foreachBatch`: apply this
    * per micro-batch and fold each batch's hashes into the store
    * (StreamingSpec asserts multi-batch == one-batch parity).
    *
    * Returns (doc_id, n_paras, n_kept, text_clean) for the NEW batch.
    */
  def paragraphDedupIncremental(newDocs: DataFrame, idCol: String, textCol: String,
      existingHashes: DataFrame, sep: String = "\n"): DataFrame = {
    val base = splitDocs(newDocs, idCol, textCol, sep)
    val keepPos = unseenSegments(segmentHashes(base), existingHashes)
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
      .groupBy(col("k.doc_id").as("doc_id"))
      .agg(sort_array(collect_list(col("k.pos"))).as("keep"))
    spliceKept(base, keepPos, sep, "n_paras")
  }

  /** Chunk-hash store for [[cdcDedupIncremental]]: one md5 per DISTINCT
    * Gear-CDC chunk of the corpus ([[paragraphHashStore]]'s contract
    * over content-defined segments). Returns `(h)`.
    */
  def cdcHashStore(df: DataFrame, idCol: String, textCol: String,
      maskBits: Int = 6, minLen: Int = 16, maxLen: Int = 256): DataFrame =
    graft.operators.TextAnalysis
      .cdcChunkDocs(df, idCol, textCol, maskBits, minLen, maxLen)
      .select(col("chunk_md5").as("h"))
      .distinct()

  /** INCREMENTAL content-defined dedup: clean a NEW batch against an
    * existing [[cdcHashStore]] and within itself — the steady-state
    * ingestion form of [[cdcDedup]], with exactly the
    * [[paragraphDedupIncremental]] contract: history always wins
    * (store-member chunks collapse everywhere), store-unseen chunks
    * elect the batch-wide first (doc_id, chunk_idx), and under
    * append-ordered ids the result equals [[cdcDedup]] over
    * history ∪ batch restricted to the batch. Same probe too: the
    * store is the big narrow side, read once and never shuffled — the
    * batch's distinct hashes broadcast-semi-join it, the bounded hit
    * set broadcast-anti-joins the batch's narrow chunk frame.
    * Store maintenance: `store.unionByName(cdcHashStore(batch))
    * .distinct()`.
    */
  def cdcDedupIncremental(newDocs: DataFrame, idCol: String, textCol: String,
      existingHashes: DataFrame,
      maskBits: Int = 6, minLen: Int = 16, maxLen: Int = 256): DataFrame = {
    val chunks = graft.operators.TextAnalysis
      .cdcChunkDocs(newDocs, idCol, textCol, maskBits, minLen, maxLen)
      .select(col(idCol).cast("long").as("doc_id"), col("chunk_idx"),
        col("start"), col("len"), col("chunk_md5").as("h"))
    val keep = unseenSegments(chunks, existingHashes)
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("chunk_idx"),
        col("start"), col("len"))).as("k"))
      .groupBy(col("k.doc_id").as("doc_id"))
      .agg(sort_array(collect_list(struct(col("k.chunk_idx").as("ci"),
        col("k.start").as("s"), col("k.len").as("l")))).as("keep"))
    val counts = chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    newDocs.select(col(idCol).cast("long").as("doc_id"),
        coalesce(col(textCol), lit("")).as("__t"))
      .join(counts, Seq("doc_id"), "left")
      .join(keep, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(size(col("keep")), lit(0)).cast("long").as("n_kept"),
        coalesce(expr(
          "array_join(transform(keep, " +
            "k -> substring(__t, CAST(k.s + 1 AS INT), CAST(k.l AS INT))), '')"),
          lit("")).as("text_clean"))
  }

  /** Connected components over a near-dup pair list: every node gets its
    * component's MINIMUM id as `component`. Pregel-style min-label
    * propagation — per round, each node takes the min of its own and its
    * neighbors' labels; a round is one narrow (node, label) shuffle join,
    * and the loop stops when no label changed (or maxIters). Rounds needed
    * = graph diameter, and near-dup components are shallow in practice
    * (stars around a canonical doc, short chains), so 3-5 rounds is
    * typical; 100 TB shape: per-round state is 16 B/node + the pair list,
    * nothing quadratic. This is the missing half of every pairwise dedup —
    * pipelines don't want PAIRS, they want one keeper per duplicate
    * GROUP, and pair-transitivity (a~b, b~c but a≁c) must resolve into
    * one cluster, which per-pair filtering cannot express.
    *
    * NOTE: runs Spark jobs while building (the setup cache, then one
    * count per round — the convergence test), like the other bounded
    * iterative fits (k-means, BPE). The symmetric edge list is cached
    * once (every round joins it: [[RoundCheckpoints.cacheNow]]) and each
    * round's labels are checkpointed ([[RoundCheckpoints]]); the call
    * leaves only its returned labels cached.
    *
    * `checkpointDir`: when set, every round uses a RELIABLE checkpoint
    * into that directory instead of `localCheckpoint` — cluster runs at
    * scale should pass a durable directory (HDFS/S3) and trade per-round
    * write cost for tolerance of executor loss (the edge list is a
    * cache, recomputable from `pairs`).
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    requireIntegralId(pairs, aCol)
    requireIntegralId(pairs, bCol)
    val rounds = new RoundCheckpoints(pairs.sparkSession, checkpointDir)
    try {
      // symmetric edge list, narrow (long, long), self-loops kept: one
      // scan of `pairs` — routinely an expensive lazy plan (a PPJoin /
      // blocking join whose exact verify runs after its last exchange)
      val edges = rounds.cacheNow(Graph.undirected(
        pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))))
      // Each round's labels are checkpointed: the lineage of an iterative
      // plan doubles per round (labels joins viaNbr which joins
      // labels...) — without truncation a 30-round graph OOMs the DRIVER
      // just formatting the plan, let alone optimizing it.
      //
      // Round 1 folded into initialization: every node starts at
      // least(own id, min neighbor id) — exactly the state one
      // propagation round over all-nodes-as-frontier would produce, for
      // the price of the groupBy the node list needed anyway (the
      // symmetric edge list contains every node as src). Saves one full
      // join+count round.
      var next = rounds.materialize(
        edges.groupBy(col("src").as("id"))
          .agg(min(col("dst")).as("__nm"))
          .select(col("id"),
            least(col("id"), col("__nm")).as("component"),
            (col("__nm") < col("id")).as("__changed")))
      var labels = next.drop("__changed")
      // Delta propagation: only nodes whose label CHANGED last round can
      // lower a neighbor's label this round, so the neighbor join runs
      // against the frontier, not all nodes — after round 1 the frontier
      // collapses to the still-converging fringe (end-to-end cluster pass
      // on the 50k clone corpus: 78 s → 48 s; per-round localCheckpoint
      // lineage truncation then took it to 24 s, the remainder being the
      // PPJoin pair generation itself, not the rounds). The initial
      // frontier is init's changed set — the same set round 1 would have
      // produced, so the delta invariant (only changed nodes can lower a
      // neighbor) holds from the first loop iteration.
      var frontier = next.filter(col("__changed")).drop("__changed")
      var iter = 0
      var converged = false
      while (iter < maxIters && !converged) {
        val viaNbr = edges
          .join(frontier.select(col("id").as("dst"), col("component").as("fc")), "dst")
          .groupBy(col("src").as("id"))
          .agg(min(col("fc")).as("nbr_min"))
        next = rounds.materialize(
          labels.join(viaNbr, Seq("id"), "left")
            .select(col("id"),
              least(col("component"), coalesce(col("nbr_min"), col("component")))
                .as("component"),
              coalesce(col("nbr_min") < col("component"), lit(false)).as("__changed")))
        val changed = next.filter(col("__changed")).count() // materializes next
        rounds.releaseSuperseded() // files / next's blocks now back the reads
        labels = next.drop("__changed")
        frontier = next.filter(col("__changed")).drop("__changed")
        converged = changed == 0
        iter += 1
      }
      // Rounds needed = component diameter. Returning partially-propagated
      // labels would silently split real clusters (multiple keep=true rows
      // per duplicate group downstream), so non-convergence is an ERROR,
      // not a result. Near-dup graphs are shallow (stars/short chains);
      // a legitimate deeper graph can raise maxIters.
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds — " +
            "component diameter exceeds maxIters; raise maxIters")
      labels
    } finally rounds.release() // also on the non-convergence throw
  }

  private def requireIntegralId(df: DataFrame, colName: String): Unit = {
    val dt = df.schema(colName).dataType
    dt match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"id column '$colName' must be integral (byte/short/int/long), got $other — " +
          "a silent cast('long') would turn non-numeric ids into NULLs and " +
          "NULL cluster labels; hash string ids to long first (e.g. xxhash64)")
    }
  }

  /** Cluster-level dedup decision: every row of `df` gets its duplicate
    * cluster's canonical id (`cluster_id` = the cluster's minimum id
    * AMONG ROWS PRESENT IN df; docs in no pair are their own singleton
    * cluster) and a `keep` flag (true iff the row IS the canonical doc).
    * `pairs` is any (id_a, id_b) near-dup output — exact, jaccard,
    * minhash, simhash, embedding — so the same decision step composes
    * with every detector.
    *
    * `pairs` may mention ids absent from `df` (e.g. pairs computed over
    * a superset corpus, or against retired store docs): absent ids never
    * become the canonical — the keeper is recomputed as the min id among
    * df's own rows in each component, so every represented cluster keeps
    * exactly one row. (Electing the component's GLOBAL min would emit
    * keep=false for every surviving row of such a cluster, and a
    * downstream filter(keep) would silently drop the whole group.)
    */
  def dedupByClusters(
      df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    requireIntegralId(df, idCol)
    val comp = connectedComponents(pairs, aCol, bCol, maxIters,
        checkpointDir = checkpointDir)
      .withColumnRenamed("id", "__cc_id")
    // keeper election runs on the narrow (id, component) label frame
    // semi-joined to df's ids — both extra shuffles move 16 B rows, the
    // wide df is still joined exactly once (on its id)
    val present = comp.join(
      df.select(col(idCol).cast("long").as("__cc_id")), Seq("__cc_id"), "left_semi")
    val keepers = present.groupBy("component").agg(min(col("__cc_id")).as("__keeper"))
    val labeled = present.join(keepers, Seq("component"))
    df.join(labeled, col(idCol).cast("long") === col("__cc_id"), "left")
      .withColumn("cluster_id",
        coalesce(col("__keeper"), col(idCol).cast("long")))
      .withColumn("keep", col(idCol).cast("long") === col("cluster_id"))
      .drop("__cc_id", "component", "__keeper")
  }

  /** Cluster resolution with a QUALITY-AWARE keep policy: like
    * [[dedupByClusters]], but the keeper of each near-dup cluster is the
    * member with the HIGHEST `scoreCol` (quality score, length, token
    * count — tie-break lowest id, so the election is a total order and
    * any engine replays it). Real pipelines keep the best duplicate, not
    * the lowest-id one — the min-id policy silently discards the clean
    * copy when a truncated scrape happens to carry the smaller id.
    *
    * Output: `cluster_id` (the component label = min id in the PAIR
    * graph — a STABLE cluster identity independent of the keep policy;
    * unlike [[dedupByClusters]] it is not re-elected among present ids,
    * so over a superset pair graph it may name an absent doc),
    * `keeper_id` (the elected member — always PRESENT in df), `keep`.
    * Same plan shape as [[dedupByClusters]]: the election runs on the
    * narrow (id, component, score) frame; the wide df joins exactly
    * once.
    */
  def dedupByClustersKeepBest(
      df: DataFrame, idCol: String, scoreCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    requireIntegralId(df, idCol)
    val comp = connectedComponents(pairs, aCol, bCol, maxIters,
        checkpointDir = checkpointDir)
      .withColumnRenamed("id", "__cc_id")
    val scores = df.select(col(idCol).cast("long").as("__cc_id"),
      col(scoreCol).cast("long").as("__s"))
    val present = comp.join(scores, Seq("__cc_id"))
    // argmax(score, tie min id) via max(struct(score, -id)): score first,
    // then the larger -id ⇒ the smaller id
    val keepers = present.groupBy("component")
      .agg(max(struct(col("__s").as("s"), (-col("__cc_id")).as("n"))).as("__m"))
      .select(col("component"), (-col("__m.n")).as("__keeper"))
    val labeled = present.select("__cc_id", "component").join(keepers, Seq("component"))
    df.join(labeled, col(idCol).cast("long") === col("__cc_id"), "left")
      .withColumn("cluster_id",
        coalesce(col("component"), col(idCol).cast("long")))
      .withColumn("keeper_id",
        coalesce(col("__keeper"), col(idCol).cast("long")))
      .withColumn("keep", col(idCol).cast("long") === col("keeper_id"))
      .drop("__cc_id", "component", "__keeper")
  }

  /** CONTENT-DEFINED sub-document dedup: the [[paragraphDedup]] policy
    * (keep the FIRST occurrence of every repeated segment, splice the
    * survivors) over [[graft.operators.TextAnalysis.cdcChunkDocs]]'
    * Gear-CDC chunks instead of separator-split paragraphs — the form
    * that catches repeats which are SHIFTED or embedded mid-line
    * (mirrored pages with injected headers, quoted emails, templated
    * boilerplate without newline structure), where paragraph hashing
    * only matches exact separator-aligned segments.
    *
    * Same 100 TB shape as paragraphDedup: everything past the kernel
    * scan is narrow (doc_id, idx, span, 16-byte hash) — the election is
    * one hash groupBy with partial aggregation, the keep-lists are
    * bounded by each doc's chunk count, and document TEXT crosses the
    * wire exactly once, in the final id join that resplices survivors
    * map-side with code-point `substring` (contiguous spans ⇒
    * zero-separator concat reconstructs the doc minus dup chunks).
    */
  def cdcDedup(df: DataFrame, idCol: String, textCol: String,
      maskBits: Int = 6, minLen: Int = 16, maxLen: Int = 256): DataFrame =
    // definitionally the empty-store incremental form — ONE election +
    // resplice implementation to maintain (DedupSpec pins the
    // equivalence; the store probe plans away, PlanShapeSpec)
    cdcDedupIncremental(df, idCol, textCol, emptyHashStore(df),
      maskBits, minLen, maxLen)

  /** LEAKAGE-SAFE train/eval split: every member of a near-dup cluster
    * lands in the SAME fold. A plain row-hash split
    * ([[Relational.split]]) puts a document and its near-duplicate on
    * opposite sides of the train/test line — the eval set then scores
    * memorization, not generalization. Here the fold is a pure function
    * of the CLUSTER id (the [[connectedComponents]] label over `pairs`,
    * re-elected among present ids as in [[dedupByClusters]]), so the
    * whole duplicate class moves together, and singletons split
    * independently as usual.
    *
    * Fold assignment is integer end-to-end and engine-replayable: the
    * [[Relational.shardAssign]] md5 key of (seed, cluster_id) mod 10⁶
    * is a uniform ppm draw, compared against cumulative integer-weight
    * thresholds floor(10⁶·Σwᵢ/W) — no floats, so DuckDB replays folds
    * bit-exactly. Output: df's columns + `cluster_id`, `keep` (min-id
    * keeper — split and dedup in one pass if wanted) and `fold`.
    *
    * Scale shape: identical to [[dedupByClusters]] (the wide df joins
    * once on its id; CC runs on the narrow pair graph) plus one
    * codegen'd md5 projection — the fold adds no shuffle.
    */
  def splitByCluster(
      df: DataFrame, idCol: String, pairs: DataFrame, weights: Seq[Int],
      aCol: String = "id_a", bCol: String = "id_b",
      seed: Long = 42L, maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    require(weights.nonEmpty && weights.forall(_ > 0),
      s"weights must be positive integers, got $weights")
    val total = weights.map(_.toLong).sum
    val cumPpm = weights.map(_.toLong).scanLeft(0L)(_ + _)
      .map(c => c * 1000000L / total)
    val clustered = dedupByClusters(df, idCol, pairs, aCol, bCol,
      maxIters, checkpointDir)
    val keyPpm = pmod(conv(
      substring(md5(concat(lit(seed.toString), lit(":"),
        col("cluster_id").cast("string"))), 1, 15), 16, 10).cast("long"),
      lit(1000000L))
    // ascending-threshold CASE: fold f covers key ∈ [cum_f, cum_{f+1})
    val fold = cumPpm.tail.init.zipWithIndex.foldRight(
        lit(weights.length - 1)) { case ((thr, idx), acc) =>
      when(keyPpm < thr, lit(idx)).otherwise(acc)
    }
    clustered.withColumn("fold", fold.cast("int"))
  }

  /** Benchmark DECONTAMINATION: flag every corpus document that shares at
    * least one n-gram with the evaluation set `bench` — the standard
    * train/test-overlap guard an LLM data pipeline runs before training
    * (n-gram collision decontamination; see the reference's dedup surface
    * for the pairwise analogue, e.g. fugue-warehouses README pipeline
    * examples). Appends `contaminated: boolean` to `corpus`.
    *
    * 100 TB shape: the eval set is small by definition, so its distinct
    * gram set broadcasts; the corpus side is ONE map pass (kernel-hashed
    * grams, explode, broadcast semi-join — no corpus shuffle) followed by
    * a distinct on the HIT ids only (≈ contaminated docs, not corpus
    * size). The final flag join is on the id column and AQE broadcasts
    * the hit list when small. Gram identity is the 64-bit shingle hash —
    * the same reduction every jaccard/minhash query uses, and the oracle
    * reproduces it with string grams (collision-free at corpus scale).
    */
  def decontaminate(
      corpus: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      n: Int = 3, shingler: String = "word"): DataFrame = {
    val benchGrams = bench
      .select(explode(shingleHashes(col(textCol), n, shingler)).as("__g"))
      .distinct()
    val hits = corpus
      .select(col(idCol), explode(shingleHashes(col(textCol), n, shingler)).as("__g"))
      .join(broadcast(benchGrams), Seq("__g"), "left_semi")
      .select(col(idCol))
      .distinct()
      .withColumn("__contaminated", lit(true))
    corpus.join(hits, Seq(idCol), "left")
      .withColumn("contaminated", coalesce(col("__contaminated"), lit(false)))
      .drop("__contaminated")
  }

  /** Train the eval-set gram membership model for [[decontaminateMapSide]]:
    * the benchmark's distinct shingle hashes collected to the driver,
    * sorted for binary search. Bounded like the BPE/k-means/TF-IDF model
    * fits — eval sets are small by definition; `maxGrams` guards against
    * accidentally passing a training corpus as `bench` (a 10M-gram model
    * is 80 MB — fine to broadcast; a 10B-gram one is not a model, it's a
    * join, and [[decontaminate]] is the right tool).
    */
  def trainDecontaminationSet(
      bench: DataFrame, textCol: String,
      n: Int = 3, shingler: String = "word",
      maxGrams: Int = 10000000): graft.functions.GramSetModel = {
    // the model stores (n, shingler) — word_tf has no membership meaning
    // (occurrence-indexed hashes), so only the set shinglers are trainable
    require(shingler == "word" || shingler == "char",
      s"decontamination models support word/char shinglers, got $shingler")
    val grams = bench
      .select(explode(shingleHashes(col(textCol), n, shingler)).as("__g"))
      .distinct()
      .limit(maxGrams + 1)
      .collect().map(_.getLong(0))
    require(grams.length <= maxGrams,
      s"eval set exceeds $maxGrams distinct grams — not a trainable model; " +
        "use Dedup.decontaminate (the join form) for corpus-sized eval sets")
    java.util.Arrays.sort(grams)
    new graft.functions.GramSetModel(grams, n, shingler == "char")
  }

  /** Train a BLOOM gram-membership model for map-side decontamination at
    * eval-set sizes the exact [[trainDecontaminationSet]] refuses: the
    * filter is built DISTRIBUTED (`DataFrameStatFunctions.bloomFilter`
    * treeAggregates bit vectors — the grams never collect to the driver),
    * sized from an HLL distinct estimate (+25% headroom) unless
    * `expectedGrams` is given. Bloom bits are an OR over value hashes —
    * insertion-order and partitioning independent, so the model (and
    * every flag it produces) is deterministic for fixed data. Error is
    * ONE-SIDED the safe way: a trained gram always probes true, so
    * nothing contaminated ever slips through; clean documents over-flag
    * at ≈ gramsPerDoc × `fpp`.
    */
  def trainDecontaminationBloom(
      bench: DataFrame, textCol: String,
      n: Int = 3, shingler: String = "word",
      fpp: Double = 1e-4, expectedGrams: Long = 0L): graft.functions.GramBloomModel = {
    require(shingler == "word" || shingler == "char",
      s"decontamination models support word/char shinglers, got $shingler")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val grams = bench
      .select(explode(shingleHashes(col(textCol), n, shingler)).as("__g"))
    // two actions read the grams (HLL sizing + filter build) — persist so
    // the shingle hashing runs once, not twice, at the large-eval-set
    // scale this API exists for
    val needSizing = expectedGrams <= 0
    if (needSizing) grams.persist()
    try {
      val expected =
        if (!needSizing) expectedGrams
        else math.max(64L,
          (grams.agg(approx_count_distinct(col("__g")))
            .collect()(0).getLong(0) * 1.25).toLong)
      val bloom = grams.stat.bloomFilter("__g", expected, fpp)
      new graft.functions.GramBloomModel(bloom, n, shingler == "char")
    } finally if (needSizing) { grams.unpersist(); () }
  }

  /** [[decontaminateMapSide]] against a trained BLOOM model — identical
    * one-scan early-exit kernel and NULL contract, approximate membership:
    * `contaminated` is a SUPERSET of the exact flags (never misses), with
    * false positives bounded by the model's fpp per probed gram.
    */
  def decontaminateBloom(
      corpus: DataFrame, textCol: String,
      model: graft.functions.GramBloomModel): DataFrame =
    corpus.withColumn("contaminated",
      coalesce(
        GraftFunctions.gramBloomContains(col(textCol), model),
        lit(false)))

  /** MAP-SIDE benchmark decontamination: flag every document sharing an
    * n-gram with a TRAINED eval-set model ([[trainDecontaminationSet]]) in
    * one kernel scan per document — no explode, no shuffle, no join, so
    * it applies unchanged to STREAMING frames (the [[decontaminate]] join
    * form cannot: its hit-distinct and flag join are not append-mode
    * operators). Flags equal [[decontaminate]]'s exactly — the kernel
    * probes the same shingle hashes the join form explodes, under the
    * shingling parameters STORED IN the model (a width/shingler mismatch
    * with training is unrepresentable), and NULL texts flag false on
    * both paths.
    *
    * 100 TB shape: the model is a sorted long array riding as a codegen
    * reference object; corpus cost is ONE scan with early exit on the
    * first hit — strictly less work than the explode + semi-join, with
    * zero shuffle instead of a hit-id distinct.
    */
  def decontaminateMapSide(
      corpus: DataFrame, textCol: String,
      model: graft.functions.GramSetModel): DataFrame =
    // coalesce(false): NULL texts have no grams, hence no overlap — the
    // same answer the join form gives them (its left join misses) — so
    // the two forms stay row-for-row identical on dirty corpora too
    corpus.withColumn("contaminated",
      coalesce(
        GraftFunctions.gramSetContains(col(textCol), model),
        lit(false)))

  /** Train the eval-set EMBEDDING model for [[decontaminateSemantic]]:
    * the benchmark's vectors collected to the driver and e4-quantized
    * (round-half-away — the DuckDB `round` convention, so the oracle
    * re-derives identical integers), with squared norms precomputed.
    * Bounded like [[trainDecontaminationSet]]: eval sets are small by
    * definition; `maxVecs` guards against passing a training corpus.
    * Post-quantization components are required ≤ 10⁸ so the scoring
    * kernel's long accumulations cannot wrap.
    */
  def trainSemanticContaminationSet(
      bench: DataFrame, vecCol: String,
      maxVecs: Int = 100000): graft.functions.VecSetModel = {
    val rows = bench.select(col(vecCol)).where(col(vecCol).isNotNull)
      .limit(maxVecs + 1).collect()
    require(rows.length <= maxVecs,
      s"eval set exceeds $maxVecs vectors — not a trainable model; " +
        "block with Dedup.embeddingNearDup for corpus-sized eval sets")
    val qvecs = rows.map { r =>
      val v = r.getSeq[Float](0)
      val maxAbs = graft.functions.Kernels.maxSemanticCompE4(v.length)
      val q = new Array[Long](v.length)
      var i = 0
      while (i < v.length) {
        q(i) = graft.functions.Kernels.quantE4(v(i).toDouble)
        require(math.abs(q(i)) <= maxAbs,
          s"trainSemanticContaminationSet: |component| > $maxAbs " +
            s"(dimension-scaled bound at d=${v.length}) — rescale")
        i += 1
      }
      q
    }
    val norms = qvecs.map(q => q.map(x => x * x).sum)
    new graft.functions.VecSetModel(qvecs, norms)
  }

  /** SEMANTIC benchmark decontamination: flag every corpus row whose
    * embedding has cosine ≥ thresholdPermille/1000 with ANY vector of a
    * TRAINED eval-set model — the paraphrase-leakage guard the n-gram
    * forms ([[decontaminate]]/[[decontaminateMapSide]]) cannot raise: a
    * reworded test question shares no 3-grams with its source but sits
    * next to it in embedding space. Appends `n_bench_hits: int` (how
    * many bench vectors matched) and `contaminated: boolean`; NULL
    * vectors flag false with 0 hits (the NULL-text convention of the
    * gram forms).
    *
    * EXACTNESS: the decision is pure integer over e4-quantized vectors
    * — dot ≥ 0 ∧ 10⁶·dot² ≥ t²·‖a‖²·‖b‖² ([[graft.functions.Kernels.semanticHits]]) —
    * so both engines replay every flag bit-exactly; the quantization
    * costs ~10⁻⁴ cosine, noise at decontamination thresholds. EXACT
    * recall by construction (every bench vector is scored against every
    * row — no LSH miss), the property that matters most here: missing
    * contamination poisons the eval.
    *
    * 100 TB shape: the model rides as a codegen reference object;
    * corpus cost is ONE map scan (|bench|·dim multiply-adds per row),
    * no explode, no shuffle, no join — applies unchanged to STREAMING
    * frames like the map-side gram form.
    */
  def decontaminateSemantic(
      corpus: DataFrame, vecCol: String,
      model: graft.functions.VecSetModel,
      thresholdPermille: Int = 800): DataFrame = {
    require(thresholdPermille > 0 && thresholdPermille <= 1000,
      s"thresholdPermille must be in (0, 1000] (got $thresholdPermille)")
    corpus
      .withColumn("n_bench_hits",
        coalesce(
          GraftFunctions.semanticHits(col(vecCol), model, thresholdPermille),
          lit(0)))
      .withColumn("contaminated", col("n_bench_hits") > 0)
  }

  /** MinHash signatures: one row per doc, `numPerms` 64-bit slots. Grams
    * are hashed in one kernel pass — no gram strings are materialized
    * between shingling and the signature. Docs with NO grams (shorter than
    * the shingle width) are dropped: their sentinel signatures would all be
    * identical, flooding every band bucket and reporting every short doc
    * as a duplicate of every other.
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int, numPerms: Int, seed: Long,
      shingler: String = "word"): DataFrame = {
    df.select(
      col(idCol).cast("long").as("id"),
      shingleHashes(col(textCol), shingleWidth, shingler).as("g"))
      .filter(size(col("g")) > 0)
      .select(col("id"), GraftFunctions.minhash(col("g"), numPerms, seed).as("sig"))
  }

  /** MinHash + LSH banding near-dup pairs (id_a < id_b, est_jaccard ≥
    * threshold). Signature → `bands` buckets (xxhash64 of each band slice)
    * → narrow (id, band, bucket) self-join → candidates → verify by
    * signature agreement. With r = numPerms/bands rows per band the S-curve
    * midpoint is (1/bands)^(1/r); defaults (128, 32) target jaccard ≈ 0.4.
    *
    * The verify joins signatures back onto the candidate pair list instead
    * of carrying both signatures through the bucket join — candidates are
    * two longs wide, signatures are re-joined once each, so shuffle volume
    * stays O(docs × bands × 24 B + candidates × numPerms × 8 B).
    */
  def minhashLsh(
      df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, numPerms: Int = 128, bands: Int = 32,
      threshold: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Int = 100000, shingler: String = "word"): DataFrame = {
    require(numPerms % bands == 0, s"bands ($bands) must divide numPerms ($numPerms)")
    // sigs feed the banding branch AND both verify joins — build the
    // narrow (id, sig) frame (docs × numPerms × 8 B) once, now, so the
    // corpus scan + kernel run once ([[RoundCheckpoints.materializeNow]])
    val sigs = new RoundCheckpoints(df.sparkSession, None).materializeNow(
      minhashSignatures(df, idCol, textCol, shingleWidth, numPerms, seed, shingler))
    bandedAgreement(sigs, numPerms, bands, threshold, maxBucketSize, "est_jaccard")
  }

  /** ICWS weighted-MinHash + LSH banding near-dup pairs (id_a < id_b,
    * est_wjaccard ≥ threshold): [[graft.functions.Kernels.icwsMinhash]]
    * signatures (slot agreement estimates TF-WEIGHTED jaccard, Ioffe ICDM
    * 2010) through the same banding/verify machinery as [[minhashLsh]] —
    * identical 100 TB shape. For integer weights the occurrence-expansion
    * route (`minhashLsh(shingler = "word_tf")`) estimates the same
    * quantity; this is the scale path for real-valued weights where that
    * expansion doesn't exist.
    */
  def icwsLsh(
      df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, numPerms: Int = 128, bands: Int = 32,
      threshold: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Int = 100000): DataFrame = {
    require(numPerms % bands == 0, s"bands ($bands) must divide numPerms ($numPerms)")
    val sigs = new RoundCheckpoints(df.sparkSession, None).materializeNow(
      df.select(col(idCol).cast("long").as("id"),
          GraftFunctions.icwsMinhash(col(textCol), shingleWidth, numPerms, seed).as("sig"))
        .filter(size(col("sig")) > 0)) // gram-less docs: empty sig, dropped
    bandedAgreement(sigs, numPerms, bands, threshold, maxBucketSize, "est_wjaccard")
  }

  /** INCREMENTAL near-dup: dedup a NEW batch of documents against an
    * EXISTING signature store (and within itself) — the steady-state
    * ingestion pattern: the historical corpus is signed ONCE
    * ([[minhashSignatures]], persisted as a table) and each arriving
    * snapshot computes only its own signatures. Returns pairs
    * (id_a, id_b, est_jaccard) where AT LEAST ONE side is new —
    * old-vs-old pairs are excluded at the BUCKET-JOIN level (new-side
    * buckets probe the full store; the store never self-joins), so
    * per-snapshot cost is O(new × bucket-mates), independent of the
    * store's own pair count. Signatures must share (shingleWidth,
    * numPerms, seed, shingler) with the store's signing run — banding is
    * positional over the same permutations.
    *
    * RE-INGESTION: a store row whose id reappears in the batch is
    * SUPERSEDED ([[supersede]]) — the updated document compares
    * against the rest of the store under its new text, never against
    * its own stale signature, and no duplicate (id, sig) rows can emit
    * conflicting pair estimates.
    */
  def minhashLshIncremental(
      newDocs: DataFrame, idCol: String, textCol: String,
      existingSigs: DataFrame,
      shingleWidth: Int = 3, numPerms: Int = 128, bands: Int = 32,
      threshold: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Int = 100000, shingler: String = "word"): DataFrame = {
    require(numPerms % bands == 0, s"bands ($bands) must divide numPerms ($numPerms)")
    requireIntegralId(newDocs, idCol)
    requireIntegralId(existingSigs, "id")
    val newSigs =
      minhashSignatures(newDocs, idCol, textCol, shingleWidth, numPerms, seed, shingler)
        .persist(StorageLevel.MEMORY_AND_DISK)
    // the banding and both verify joins read the union: the store is
    // scanned once per snapshot
    val allSigs = storeUnionBatch(
      existingSigs.select(col("id").cast("long").as("id"), col("sig")), newSigs,
      newSigs.select("id"))
    val cand = incrementalCandidatePairs(
      bandBuckets(allSigs, numPerms, bands, extraCols = Seq("__new")),
      Seq("band", "bucket"), maxBucketSize)
    val agree = size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), v => v))
    val result = cand
      .join(allSigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(allSigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard", agree.cast("double") / numPerms)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
    // This API is the STEADY-STATE per-snapshot ingestion path: leaving
    // newSigs/allSigs cached after returning would accumulate one pair of
    // cache entries per snapshot for the life of the session. The pair
    // list is small by construction (it is the dedup *decision* input),
    // so materialize it eagerly, release the per-snapshot intermediates,
    // and hand back the checkpointed result — lineage is cut, and the
    // caller composes pairs without re-triggering the store scan.
    val out = result.localCheckpoint(eager = true, storageLevel = StorageLevel.MEMORY_AND_DISK)
    newSigs.unpersist()
    allSigs.unpersist()
    out
  }

  /** Positional LSH band buckets of an (id, sig) frame: one (id, band,
    * bucket) row per band, bucket = hash of the band's signature slice.
    * `extraCols` ride along (e.g. a new/old tag).
    */
  private def bandBuckets(sigs: DataFrame, numPerms: Int, bands: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    val r = numPerms / bands
    sigs
      .select((Seq(col("id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band")) ++ extraCols.map(col)): _*)
      .select((Seq(col("id"), col("band"),
        xxhash64(col("band"), slice(col("sig"), col("band") * r + 1, lit(r))).as("bucket"))
        ++ extraCols.map(col)): _*)
  }

  /** Shared LSH-banding + slot-agreement verify over an (id, sig) frame:
    * band buckets → narrow (id, band, bucket) candidate join → signatures
    * re-joined (never carried through the bucket join) → agreement
    * fraction ≥ threshold. Estimator semantics (plain vs weighted jaccard)
    * are the signature's business; this stage only compares slots.
    */
  private def bandedAgreement(
      sigs: DataFrame, numPerms: Int, bands: Int, threshold: Double,
      maxBucketSize: Int, estCol: String): DataFrame = {
    val banded = bandBuckets(sigs, numPerms, bands)
    val cand = candidatePairs(banded, Seq("band", "bucket"), maxBucketSize)
    val agree = size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), v => v))
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn(estCol, agree.cast("double") / numPerms)
      .filter(col(estCol) >= threshold)
      .select(col("id_a"), col("id_b"), col(estCol))
  }

  /** Disjoint (offset, width) partition of the 64 signature bits into
    * `nBlocks` contiguous blocks: the first 64 mod nBlocks blocks take
    * floor(64/nBlocks)+1 bits, the rest floor(64/nBlocks). Widths sum to
    * exactly 64 and every offset is < 64, so no shift wraps mod 64 on the
    * JVM and the pigeonhole cover is genuinely nBlocks disjoint blocks.
    */
  private[graft] def pigeonholeBlocks(nBlocks: Int): Array[(Int, Int)] = {
    require(nBlocks >= 1 && nBlocks <= 64, s"nBlocks must be in [1, 64], got $nBlocks")
    val base = 64 / nBlocks
    val widths = Array.tabulate(nBlocks)(i => if (i < 64 % nBlocks) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    offsets.zip(widths)
  }

  private[graft] def blockMask(width: Int): Long =
    if (width >= 64) -1L else (1L << width) - 1

  /** SimHash near-dup pairs (hamming(sig_a, sig_b) ≤ maxHamming).
    * Blocking is the pigeonhole split: 64 bits into maxHamming+1 blocks —
    * any pair within the hamming radius agrees on ≥ 1 whole block, so
    * joining per-block is exact (no missed pairs), and random pairs only
    * collide on a block with prob ~2^-blockWidth.
    *
    * The blocks PARTITION the 64 bits exactly: when maxHamming+1 does not
    * divide 64, the first 64 mod nBlocks blocks are one bit wider (e.g.
    * radius 14 → 15 blocks = 4×5-bit + 11×4-bit). A uniform
    * ceil(64/nBlocks) width would push late blocks past bit 63, and the
    * JVM's shift-mod-64 would silently alias them onto the low bits —
    * shrinking effective coverage below nBlocks and breaking the
    * pigeonhole guarantee at the widest radii.
    *
    * SIZING LAW: blockWidth ≈ 64/(maxHamming+1), and the per-block bucket
    * space is 2^blockWidth — it must be ≫ corpus size or buckets saturate
    * and the candidate join goes quadratic. Measured on a 50k-doc corpus:
    * maxHamming=7 (8-bit blocks, 256 buckets) → 33 s; maxHamming=3
    * (16-bit blocks, 65k buckets) → 3.3 s for the same true pairs. At
    * billion-doc scale use maxHamming ≤ 3 (16-bit blocks) or shard the
    * corpus before blocking. The default is therefore 3 — the widest
    * radius whose block space does not saturate at real corpus sizes;
    * raise it only on corpora small enough that 2^(64/(k+1)) ≫ n.
    */
  /** `weighted = true` uses the TF-weighted signature (every n-gram
    * occurrence votes — [[graft.functions.Kernels.simhashTf]]), which
    * separates boilerplate-heavy near-dups better than the distinct-gram
    * form; word shingler only (the TF kernel tokenizes on spaces).
    */
  def simhash(
      df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, maxHamming: Int = 3,
      maxBucketSize: Int = 100000, shingler: String = "word",
      weighted: Boolean = false): DataFrame = {
    require(!weighted || shingler == "word",
      "weighted simhash requires the word shingler")
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val sigs = simhashSignatures(df, idCol, textCol, shingleWidth, shingler, weighted)
      .persist(StorageLevel.MEMORY_AND_DISK) // 3 consumers, 16 B/doc
    hammingPairsOverSigs(sigs, maxHamming, maxBucketSize)
  }

  /** Simhash SIGNATURE frame (id, sig) — the persistable store for
    * [[hammingNearDupIncremental]] (the [[minhashSignatures]] analogue:
    * sign history once, dedup arriving batches forever; 16 B/doc).
    *
    * Gram-less docs are dropped in both modes (all-zero signatures would
    * flood the blocks with false duplicates). The weighted path filters on
    * the raw token count using the KERNEL's exact tokenization — Java
    * String.trim strips every char <= U+0020, which Spark's trim() (spaces
    * only) does not, so the regexp below replicates Java trim; a filter
    * that over-counts tokens would let the kernel's sig=0 docs (e.g.
    * leading-newline shorts) flood every block as false hamming-0 dups.
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, shingler: String = "word",
      weighted: Boolean = false): DataFrame = {
    require(!weighted || shingler == "word",
      "weighted simhash requires the word shingler")
    if (weighted) {
      val jtrim = regexp_replace(col("__t"), "^[\\x00-\\x20]+|[\\x00-\\x20]+$", "")
      df.select(col(idCol).cast("long").as("id"), col(textCol).as("__t"))
        .filter(size(split(jtrim, " ", -1)) >= shingleWidth)
        .select(col("id"), GraftFunctions.simhashTf(col("__t"), shingleWidth).as("sig"))
    }
    else
      df.select(col(idCol).cast("long").as("id"),
        shingleHashes(col(textCol), shingleWidth, shingler).as("g"))
        .filter(size(col("g")) > 0)
        .select(col("id"), GraftFunctions.simhash64(col("g")).as("sig"))
  }

  /** Hamming near-dup pairs over PRECOMPUTED 64-bit signatures — the
    * [[simhash]] pigeonhole machinery opened up to any signature family:
    * perceptual image hashes ([[Multimodal.imageNearDup]] routes here),
    * audio fingerprints, or simhashes computed by another system. Exact
    * for the radius (the disjoint block partition guarantees any pair
    * within `maxHamming` shares a whole block verbatim); NULL signatures
    * are dropped (undecodable media). Same degenerate-bucket cap and
    * plan shape as [[simhash]].
    */
  def hammingNearDup(
      df: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 100000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val sigs = df.filter(col(sigCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(sigCol).cast("long").as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK) // 3 consumers, 16 B/doc
    hammingPairsOverSigs(sigs, maxHamming, maxBucketSize)
  }

  /** Shared tail of [[simhash]]/[[hammingNearDup]]: pigeonhole-block a
    * persisted (id, sig) frame, cap degenerate buckets, verify exact
    * hamming on candidate pairs.
    *
    * The 8-byte signature RIDES THROUGH the blocking (r12 optimization,
    * guide §2.3 "shuffle keys and metadata instead of payloads" applied
    * in reverse — here the payload IS 8 bytes, cheaper to carry than to
    * re-fetch): the bucket self-join emits (sig_a, sig_b) directly, so
    * the exact-hamming verify runs INSIDE the join stage and only
    * surviving pairs reach the distinct. The previous shape distinct'd
    * the raw candidate stream (~10M pairs at radius 14 on 5k docs —
    * Σ n_b²/2 over buckets) and then shuffled it TWICE more to fetch
    * sig_a/sig_b: three full exchanges of the candidate stream replaced
    * by zero (measured at sf0.1: 104 → ~50 MiB shuffle read,
    * q_simhash_recall 12.3 → ~7 s median). Result set unchanged:
    * hamming is a pure function of the pair, so distinct-after-filter
    * equals filter-after-distinct.
    */
  private def hammingPairsOverSigs(
      sigs: DataFrame, maxHamming: Int, maxBucketSize: Int): DataFrame = {
    val blocked = pigeonholeBuckets(sigs, maxHamming)
    val capped =
      if (maxBucketSize > 0) {
        val w = Window.partitionBy(col("blk"), col("bucket"))
        blocked.withColumn("__bsz", count(lit(1)).over(w))
          .filter(col("__bsz") <= maxBucketSize)
          .drop("__bsz")
      } else blocked
    val a = capped.select(col("id").as("id_a"), col("sig").as("sig_a"),
      col("blk"), col("bucket"))
    val b = capped.select(col("id").as("id_b"), col("sig").as("sig_b"),
      col("blk"), col("bucket"))
    a.join(b, Seq("blk", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .distinct()
  }

  /** Pigeonhole blocks of an (id, sig) frame: one (id, sig, extraCols...,
    * blk, bucket) row per block of [[pigeonholeBlocks]]`(maxHamming + 1)`,
    * bucket = the block's bits. `extraCols` ride along (the
    * [[bandBuckets]] shape).
    */
  private def pigeonholeBuckets(sigs: DataFrame, maxHamming: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    val blockStructs = pigeonholeBlocks(maxHamming + 1).zipWithIndex.map {
      case ((off, width), i) =>
        struct(lit(i).as("blk"),
          expr(s"shiftrightunsigned(sig, $off) & ${blockMask(width)}L").as("bucket"))
    }
    val kept = Seq(col("id"), col("sig")) ++ extraCols.map(col)
    sigs
      .select((kept :+ explode(array(blockStructs.toIndexedSeq: _*)).as("bb")): _*)
      .select((kept ++ Seq(col("bb.blk").as("blk"), col("bb.bucket").as("bucket"))): _*)
  }

  /** INCREMENTAL hamming near-dup over 64-bit signatures — the 39c store
    * pattern for the simhash / perceptual-hash family, closing the
    * incremental matrix alongside minhash (39c) and embedding (42-inc):
    * history persists as the narrow (id, sig) SIGNATURE store (16 B/doc,
    * cheap to keep however large the corpus), an arriving batch of
    * signatures blocks against store ∪ batch with the same DISJOINT
    * pigeonhole partition (exact for the radius), and candidates always
    * pair a NEW id — old-vs-old never generated. Re-delivered ids
    * supersede their store rows; the degenerate-bucket cap sees store +
    * batch together. Compose with [[simhashSignatures]] stores or any
    * external 64-bit family ([[hammingNearDup]]'s contract — perceptual
    * image/audio hashes route here the same way).
    */
  def hammingNearDupIncremental(
      newSigs: DataFrame, idCol: String, sigCol: String,
      existingSigs: DataFrame,
      maxHamming: Int = 3, maxBucketSize: Int = 100000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming")
    requireIntegralId(newSigs, idCol)
    requireIntegralId(existingSigs, "id")
    val newBase = newSigs.filter(col(sigCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(sigCol).cast("long").as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val allSigs = storeUnionBatch(
      existingSigs.filter(col("sig").isNotNull)
        .select(col("id").cast("long").as("id"), col("sig").cast("long").as("sig")),
      newBase, newBase.select("id"))
    // the 8-byte sig rides through the blocking (the hammingPairsOverSigs
    // r12 shape): the bucket join emits both sigs, the exact-hamming
    // verify runs inside the join stage, and only survivors reach the
    // distinct — no candidate-stream distinct, no sig fetch joins. Only
    // the hot-bucket cap is shared with incrementalCandidatePairs.
    val capped = capHotBuckets(
      pigeonholeBuckets(allSigs, maxHamming, extraCols = Seq("__new")),
      Seq("blk", "bucket"), maxBucketSize)
    val result = capped.filter(col("__new"))
      .select(col("id").as("__nid"), col("sig").as("__nsig"),
        col("blk"), col("bucket"))
      .join(capped.select(col("id").as("__mid"), col("sig").as("__msig"),
        col("blk"), col("bucket")), Seq("blk", "bucket"))
      .filter(col("__nid") =!= col("__mid"))
      .withColumn("hamming", expr("bit_count(__nsig ^ __msig)"))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("__nid"), col("__mid")).as("id_a"),
        greatest(col("__nid"), col("__mid")).as("id_b"), col("hamming"))
      .distinct()
    // steady-state ingestion: eager bounded pair frame, caches released
    val out = result.localCheckpoint(eager = true, storageLevel = StorageLevel.MEMORY_AND_DISK)
    newBase.unpersist()
    allSigs.unpersist()
    out
  }

  /** Exact n-gram Jaccard pairs (jaccard ≥ threshold), via PPJoin-style
    * prefix filtering (Xiao et al., WWW 2008): grams are globally ordered
    * rarest-first (document frequency asc), each doc keeps only its
    * |g| - ceil(τ·|g|) + 1 rarest grams as its *prefix*, and candidate
    * pairs are generated by joining prefixes on the gram. Any pair with
    * jaccard ≥ τ must share a prefix gram, so the result is EXACT while the
    * join never touches the frequent grams that would otherwise produce
    * quadratic blow-up on stopword-like shingles.
    */
  def ngramJaccard(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, shingler: String = "word"): DataFrame = {
    // Grams are hashed to longs in one kernel pass: every downstream
    // shuffle/join keys on 8 bytes instead of ~20-byte strings, the verify
    // intersect runs on long arrays, and no gram string is ever built.
    // Distinct counts are preserved modulo 64-bit collisions
    // (~|grams|²/2⁶⁴ ≈ 0 — far below any oracle's noise floor).
    // read by the candidate branch and both verify joins: built once, now
    val grams = new RoundCheckpoints(df.sparkSession, None).materializeNow(df
      .select(col(idCol).cast("long").as("id"),
        shingleHashes(col(textCol), n, shingler).as("g"))
      .filter(size(col("g")) > 0))
    // the doc's gram-set size rides along from size(g) — no window count
    val exploded = grams.select(col("id"), size(col("g")).as("sz"), explode(col("g")).as("gram"))
    val freq = exploded.groupBy("gram").agg(count(lit(1)).as("gram_df"))
    val byDoc = Window.partitionBy("id").orderBy(col("gram_df"), col("gram"))
    val prefixes = exploded
      .join(freq, "gram")
      .withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select("id", "gram")
    val cand = prefixes.select(col("id").as("id_a"), col("gram"))
      .join(prefixes.select(col("id").as("id_b"), col("gram")), "gram")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
      // CPU-dense exact-intersect verify below: pin one wave of tasks
      // (the Relational.verifyFanout rule — AQE coalesces the ~16 B/pair
      // candidate stream to 1-2 tasks and serializes the intersects)
      .repartition(Relational.verifyFanout(df))
    val inter = size(array_intersect(col("g_a"), col("g_b")))
    cand
      .join(grams.select(col("id").as("id_a"), col("g").as("g_a")), "id_a")
      .join(grams.select(col("id").as("id_b"), col("g").as("g_b")), "id_b")
      .withColumn("inter", inter)
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("g_a")) + size(col("g_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Embedding near-dup pairs (cosine ≥ threshold) via multi-table
    * random-hyperplane LSH: `numTables` independent `numBits`-bit buckets
    * computed in ONE expression pass (no per-table plan branches), narrow
    * (id, table, bucket) self-join for candidates, exact cosine verify on
    * candidates only. Per-bit collision prob for angle θ is 1-θ/π; recall
    * is 1-(1-p^numBits)^numTables — defaults (8, 16) give ~0.9 at cos 0.5.
    */
  def embeddingNearDup(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.4, numBits: Int = 8, numTables: Int = 16,
      seed: Long = 42L, maxBucketSize: Int = 100000): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .persist(StorageLevel.MEMORY_AND_DISK) // bucketing + both verify joins
    val bucketed = base
      .withColumn("bks", GraftFunctions.hyperplaneLshMulti(col("vec"), numBits, numTables, seed))
      .select(col("id"), posexplode(col("bks")).as(Seq("tbl", "bucket")))
    val cand = candidatePairs(bucketed, Seq("tbl", "bucket"), maxBucketSize)
    cand
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cosine", GraftFunctions.cosineSim(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** INCREMENTAL embedding near-dup — the [[minhashLshIncremental]] /
    * 39c store pattern for the hyperplane-LSH family: an arriving batch
    * of vectors is deduped against the persisted VECTOR store
    * (`existingVecs`: (id, vec) — for embeddings the vectors ARE the
    * store; buckets recompute in one cheap map pass and the verify
    * needs the vectors anyway, unlike minhash where re-shingling text
    * would be the expensive part). Old-vs-old pairs are never
    * generated: candidates pair a NEW id with any colliding id, so per
    * batch the work is O(batch buckets + collisions), not O(corpus²).
    * Re-delivered ids are idempotent (store rows for arriving ids drop
    * before the union, [[supersede]]). The hot-bucket cap sees store +
    * batch TOGETHER ([[capHotBuckets]]; same rule as the minhash form).
    */
  def embeddingNearDupIncremental(
      newVecs: DataFrame, idCol: String, vecCol: String,
      existingVecs: DataFrame,
      threshold: Double = 0.4, numBits: Int = 8, numTables: Int = 16,
      seed: Long = 42L, maxBucketSize: Int = 100000): DataFrame = {
    requireIntegralId(newVecs, idCol)
    requireIntegralId(existingVecs, "id")
    val newBase = newVecs.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one persisted all-vectors frame: bucketing + both verify joins
    val allBase = storeUnionBatch(
      existingVecs.select(col("id").cast("long").as("id"), col("vec")), newBase,
      newBase.select("id"))
    val bucketed = allBase
      .withColumn("bks",
        GraftFunctions.hyperplaneLshMulti(col("vec"), numBits, numTables, seed))
      .select(col("id"), col("__new"), posexplode(col("bks")).as(Seq("tbl", "bucket")))
    val cand = incrementalCandidatePairs(bucketed, Seq("tbl", "bucket"), maxBucketSize)
    val result = cand
      .join(allBase.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(allBase.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cosine", GraftFunctions.cosineSim(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
    // steady-state ingestion path: eagerly materialize the small pair
    // frame and release the per-snapshot caches (the minhash form's rule)
    val out = result.localCheckpoint(eager = true, storageLevel = StorageLevel.MEMORY_AND_DISK)
    newBase.unpersist()
    allBase.unpersist()
    out
  }

  /** Semantic near-dup pairs, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space (bounded
    * driver-side spherical k-means, [[Similarity.trainCentroidsKMeans]] —
    * the IVF recipe), assign every vector to its `numProbe` nearest
    * centroids in one MAP-SIDE literal pass, then verify cosine ≥
    * `threshold` only within each cell. Cluster blocking is the
    * data-adapted alternative to hyperplane LSH ([[embeddingNearDup]]):
    * cells concentrate true neighbors on clustered corpora. Plain
    * SemDeDup's single assignment misses pairs that straddle a cell
    * boundary (each side nearest to a different centroid); multi-probe
    * assignment (the IVF-search remedy, applied index-side) closes
    * exactly that gap — a boundary pair shares its second-nearest cell —
    * at numProbe× the assignment rows. Measured on the planted-clone
    * corpora: numProbe=1 misses 1 cosine ≥ 0.94 pair at 16 cells;
    * numProbe=2 misses 0 at 8/16/32 cells (all SFs).
    *
    * 100 TB shape: centroids are a bounded literal model; assignment
    * never shuffles; the only shuffles key on cell id or pair ids.
    * Within-cell pair generation is quadratic in cell size, so cells
    * above `maxCellSize` assignments are dropped whole BEFORE the
    * self-join (the same degenerate-bucket rule as minhashLsh's
    * maxBucketSize — a cap after pair expansion would be too late;
    * `maxCellSize <= 0` disables the cap). The cap is an aggregate +
    * broadcast anti-join, never a window — see the inline note. The
    * pair self-join is NARROW (id, cell) rows — a pair found in both
    * shared cells dedups via `distinct` while still id-only, and vectors
    * join back once per surviving pair, so the pair explosion never
    * carries vector payloads (the [[embeddingNearDup]] shape).
    */
  def semanticNearDup(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numCells: Int = 16, numProbe: Int = 2,
      iters: Int = 10, sampleSize: Int = 10000, maxCellSize: Int = 100000,
      seed: Long = 42L,
      trainedCentroids: Option[Array[Seq[Float]]] = None): DataFrame = {
    require(numProbe >= 1, s"numProbe must be >= 1, got $numProbe")
    // trainedCentroids: a persisted cell model ([[ModelStore]]) — train
    // once, dedup arriving corpora for months against the same cells
    val cents = trainedCentroids.getOrElse(Similarity.trainCentroidsKMeans(
      df, idCol, vecCol, numCells, iters, sampleSize, seed))
    val base = df.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__vec"))
      .persist(StorageLevel.MEMORY_AND_DISK) // assignment + both verify joins
    // top-numProbe cells over literal centroids: struct(sim, cell) sorts
    // field-by-field, so reverse(array_sort(...)) ranks sim desc with
    // ties → largest cell id — numProbe=1 reproduces the argmax order of
    // the ivfTopK literal path
    val simCells = array(cents.zipWithIndex.map { case (v, i) =>
      struct(GraftFunctions.cosineSim(col("__vec"), typedLit(v)).as("sim"),
        lit(i).as("cell"))
    }: _*)
    val probed = transform(
      slice(reverse(array_sort(simCells)), 1, numProbe), c => c.getField("cell"))
    val assigned = base.select(
      col("__id"), explode(probed).as("__cell"))
    // Degenerate-cell cap as aggregate + broadcast anti-join, NOT a window:
    // a Window.partitionBy(__cell) count would hash-partition every
    // assignment row into <= numCells tasks before the cap even applies —
    // the minhashLshIncremental hot-bucket pattern instead partial-combines
    // map-side to one (cell, count) row per cell per partition and
    // anti-joins the tiny oversized-cell list broadcast-side. The only
    // exchanges that move corpus rows are then the id-only pair join
    // (bounded at numCells × maxCellSize rows) and the two vector
    // join-backs on surviving pairs.
    val kept =
      if (maxCellSize > 0) {
        val big = assigned.groupBy("__cell")
          .agg(count(lit(1)).as("__cs"))
          .filter(col("__cs") > maxCellSize)
          .select("__cell") // <= numCells rows by construction
        assigned.join(broadcast(big), Seq("__cell"), "left_anti")
      } else assigned
    val pairs = kept.select(col("__cell"), col("__id").as("id_a"))
      .join(kept.select(col("__cell"), col("__id").as("id_b")), Seq("__cell"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    pairs
      .join(base.select(col("__id").as("id_a"), col("__vec").as("__va")), "id_a")
      .join(base.select(col("__id").as("id_b"), col("__vec").as("__vb")), "id_b")
      .withColumn("cosine", GraftFunctions.cosineSim(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Near-CONTAINMENT pairs via winnowing-fingerprint overlap: reports
    * (id_a, id_b) where shared fingerprints / min(|fp_a|, |fp_b|) ≥
    * threshold — the boilerplate/quote/subset detector exact dedup and
    * symmetric jaccard both miss (a doc embedded inside a bigger one has
    * low jaccard but high containment). Winnowing guarantees any shared
    * substring of ≥ k+w-1 chars contributes shared fingerprints
    * (Schleimer et al., SIGMOD 2003), so the overlap count is a robust
    * containment proxy.
    *
    * Scale shape: explode to narrow (id, hash) rows, drop hashes present
    * in more than `maxHashDocs` documents BEFORE the self-join (pair
    * generation is Σ per-hash count² — a hash shared by n docs emits
    * n²/2 pairs, so ubiquitous boilerplate grams must go; they carry no
    * containment signal precisely because they are everywhere). The
    * containment denominator counts each doc's SURVIVING fingerprints, so
    * the coefficient stays a true overlap ratio over the informative
    * fingerprint subspace rather than being silently deflated by the cap.
    */
  def fingerprintOverlap(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, threshold: Double = 0.5,
      maxHashDocs: Int = 100, minSurvivingFp: Int = 10): DataFrame = {
    val exploded = df.select(col(idCol).cast("long").as("id"),
        GraftFunctions.winnow(col(textCol), k, w).as("fp"))
      .filter(size(col("fp")) > 0)
      .select(col("id"), size(col("fp")).as("n_total"), explode(col("fp")).as("h"))
    val capped = {
      val filtered =
        if (maxHashDocs > 0) {
          val byHash = Window.partitionBy("h")
          exploded.withColumn("__hd", count(lit(1)).over(byHash))
            .filter(col("__hd") <= maxHashDocs)
            .drop("__hd")
        } else exploded
      val byId = Window.partitionBy("id")
      // Docs GUTTED by the cap (most fingerprints were boilerplate and
      // few informative ones remain) are excluded: a 2-fingerprint
      // survivor sharing one sub-cap phrase would otherwise score a
      // spurious containment of 0.5-1.0 on no real evidence. Docs that
      // are merely SHORT (n_fp == n_total: nothing was capped) stay —
      // a short quote inside a long doc is the operator's core use case.
      filtered.withColumn("n_fp", count(lit(1)).over(byId))
        .filter(col("n_fp") >= math.max(1, minSurvivingFp) ||
          col("n_fp") === col("n_total"))
    }.persist(StorageLevel.MEMORY_AND_DISK) // feeds both sides of the pair join
    capped.select(col("id").as("id_a"), col("n_fp").as("n_fp_a"), col("h"))
      .join(capped.select(col("id").as("id_b"), col("n_fp").as("n_fp_b"), col("h")), "h")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "n_fp_a", "n_fp_b")
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("containment",
        col("n_shared").cast("double") / least(col("n_fp_a"), col("n_fp_b")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "n_shared", "containment")
  }

  /** SUBSTRING-level duplicate spans (the exact-substring dedup of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022 — there built on a suffix array, here re-expressed as a
    * Spark-native anchored formulation): every maximal exact span of ≥
    * `minLen` characters shared by two documents, as (id_a, id_b, pos_a,
    * pos_b, span_len) with 1-based positions, id_a < id_b.
    *
    * POSITION-UNIT CONTRACT (whole span family — this, [[selfSpans]],
    * [[spanDupStats]], [[removeSpans]]): positions and lengths are Unicode
    * CODE POINTS, the unit Spark SQL `substring`/`length` and DuckDB
    * `substr`/`length` count — so downstream splices and coverage math
    * are exact on any Unicode text, including supplementary-plane
    * characters (emoji), not just the BMP. This is
    * the detector for verbatim cross-document repetition (licenses,
    * templates, quoted passages) that document-level jaccard/minhash
    * dilutes away on long documents.
    *
    * EXACTNESS: anchors are winnowing minima with positions
    * ([[graft.functions.Kernels.winnowPos]], window w = minLen - k + 1),
    * and the winnowing guarantee makes recall exact — any shared span of
    * length ≥ k + w - 1 = minLen contains a window of w consecutive
    * k-grams fully inside the span in BOTH docs, whose minimum is
    * selected at the same relative offset, so the pair shares an aligned
    * anchor. Each anchor is verified and extended char-by-char to its
    * maximal span ([[graft.functions.Kernels.extendMatch]] — precision
    * exact, hash collisions rejected), anchors inside one span collapse
    * via distinct. The suffix array's global sort becomes: one map pass
    * per doc (anchor density ~2/(w+1) per char), one narrow
    * (id, pos, h) shuffle on the anchor hash, and text joined back onto
    * BOUNDED candidate anchor pairs only — no all-positions index is
    * ever materialized, which is what lets the formulation run at
    * corpus scale.
    *
    * `maxHashDocs` drops anchors whose hash appears in more than that
    * many documents BEFORE pair generation (pair volume is Σ per-hash
    * doc-count²; ubiquitous boilerplate anchors would dominate
    * quadratically — the same degenerate-key rule as
    * [[fingerprintOverlap]]). `maxHashOccurrences` is the companion
    * WITHIN-DOC guard: a self-repetitive low-entropy document (runs of
    * one character, crawl junk) can put thousands of anchor POSITIONS on
    * one hash while touching only two docs, and the self-join cost is
    * Σ_h occurrences², which the doc cap cannot see. Capped anchors cost
    * recall ONLY for spans all of whose anchors are capped (boilerplate
    * in > maxHashDocs docs, or content so repetitive its anchors
    * saturate the occurrence cap); pass 0 to disable either cap (exact,
    * e.g. for oracle runs).
    *
    * `k` is a SELECTIVITY dial, not a correctness one (any k with
    * k ≤ minLen is exact): anchors are shared k-grams, so a small k
    * floods the candidate join with common short phrases that never
    * extend to minLen — measured at sf0.1 (5k docs), k=8 puts one 8-gram
    * in 1458 docs (Σcount² ≈ 25M candidate extensions, 21 s) while k=20
    * caps at 20 docs per anchor (Σ ≈ 0.2M, 2.2 s) for the identical 259
    * spans. Keep k close to minLen/2: long enough that a shared k-gram
    * is already meaningful evidence, short enough that w = minLen-k+1
    * keeps anchor density ~2/(w+1) per char low.
    */
  def sharedSpans(
      df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 40, k: Int = 20, maxHashDocs: Int = 100,
      maxHashOccurrences: Int = 1000): DataFrame = {
    require(k >= 2, s"k must be >= 2 (got $k)")
    require(minLen >= k, s"minLen ($minLen) must be >= k ($k)")
    val w = minLen - k + 1 // guarantee: every shared span >= minLen anchors
    val base = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .persist(StorageLevel.MEMORY_AND_DISK) // anchor pass + two text joins
    // narrow (id, pos, h) anchor rows feed the hot-hash aggregate AND both
    // sides of the pair join — persist so the winnowPos corpus scan runs
    // once, not three times
    val anchors = base
      .select(col("id"), explode(GraftFunctions.winnowPos(col("text"), k, w))
        .as("a"))
      .select(col("id"), col("a.pos").as("pos"), col("a.h").as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val capped =
      if (maxHashDocs > 0 || maxHashOccurrences > 0) {
        // per-hash doc AND occurrence counts, aggregated (map-side
        // combine) and broadcast anti-joined — the anchor stream itself
        // is not windowed. The occurrence cap is the within-doc guard:
        // pair volume is Σ_h occ_a(h)×occ_b(h), so a LOW-ENTROPY doc
        // (e.g. a megabyte of dashes) whose every window selects the
        // same hash would explode the self-join while touching only 2
        // docs — doc count alone cannot see it.
        val hot = anchors.groupBy("h")
          .agg(countDistinct(col("id")).as("__hd"), count(lit(1)).as("__ho"))
          .filter(
            (if (maxHashDocs > 0) col("__hd") > maxHashDocs else lit(false)) ||
            (if (maxHashOccurrences > 0) col("__ho") > maxHashOccurrences else lit(false)))
          .select("h")
        anchors.join(broadcast(hot), Seq("h"), "left_anti")
      } else anchors
    val cand = capped.select(col("id").as("id_a"), col("pos").as("pa"), col("h"))
      .join(capped.select(col("id").as("id_b"), col("pos").as("pb"), col("h")), "h")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "pa", "pb")
      .distinct()
    // texts ride onto the bounded candidate set, never the reverse —
    // anchor pairs are narrow and collapse to spans immediately after
    val m = GraftFunctions.extendMatch(col("ta"), col("tb"), col("pa"), col("pb"), k)
    cand
      .join(base.select(col("id").as("id_a"), col("text").as("ta")), "id_a")
      .join(base.select(col("id").as("id_b"), col("text").as("tb")), "id_b")
      .withColumn("m", m)
      .filter(col("m").isNotNull && col("m.len") >= minLen)
      .select(col("id_a"), col("id_b"),
        col("m.start_a").cast("long").as("pos_a"),
        col("m.start_b").cast("long").as("pos_b"),
        col("m.len").cast("long").as("span_len"))
      .distinct()
  }

  /** Persisted anchor store for INCREMENTAL substring dedup — the
    * [[paragraphHashStore]]/[[minhashSignatures]] pattern applied to
    * [[sharedSpans]]' winnowing anchors: one (id, pos, h) row per
    * selected anchor of the historical corpus. Built ONCE (the expensive
    * winnowPos scan over history), saved as a narrow warehouse table
    * (bucket it by `h` at scale — arriving batches probe by hash), and
    * probed by every arriving batch without re-anchoring history.
    * Parameters must match the later [[sharedSpansIncremental]] calls
    * (anchors are only comparable under the same k and window).
    */
  def spanAnchorStore(
      df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 40, k: Int = 20): DataFrame = {
    require(k >= 2, s"k must be >= 2 (got $k)")
    require(minLen >= k, s"minLen ($minLen) must be >= k ($k)")
    val w = minLen - k + 1
    df.select(col(idCol).cast("long").as("id"),
        explode(GraftFunctions.winnowPos(col(textCol), k, w)).as("a"))
      .select(col("id"), col("a.pos").as("pos"), col("a.h").as("h"))
  }

  /** INCREMENTAL shared spans: dedup an arriving batch against a
    * historical corpus via its persisted [[spanAnchorStore]] — history is
    * never re-anchored, and old-vs-old pairs are never generated (the
    * [[minhashLshIncremental]] contract). Returns exactly the
    * [[sharedSpans]] rows of `history ∪ newDocs` in which at least one
    * side is a batch document: the store is probed by the batch's anchor
    * hashes (left-semi on `h` — with the store bucketed by `h`, a
    * bucket-pruned probe), per-hash doc/occurrence caps are computed over
    * batch ∪ probed-store anchors (identical counts to the full-corpus
    * pass for every hash that can produce a batch pair, so parity with
    * the one-shot operator is EXACT, caps included), and history text is
    * fetched only for the bounded candidate ids. Batch-internal
    * duplicates surface too (both sides new). `history` supplies old
    * texts for extension. A batch id that is also in history supersedes
    * its store anchors and history text ([[supersede]]): the result is
    * the one-shot pass over (history minus the batch's ids) ∪ batch.
    *
    * 100 TB shape: per batch the work is one anchor pass over the BATCH,
    * one broadcast hash-probe of the store (no store shuffle — measured
    * 2× on the 50k-doc harness, see SURVEY §5), and text joins onto
    * bounded candidates; the store grows by appending the batch's own
    * anchors ([[spanAnchorStore]] of the batch). The candidate text
    * fetch scans `history` map-side (broadcast probe, never a shuffle);
    * store the text table bucketed by id at warehouse scale so that
    * scan prunes buckets.
    */
  def sharedSpansIncremental(
      newDocs: DataFrame, idCol: String, textCol: String,
      store: DataFrame, history: DataFrame,
      minLen: Int = 40, k: Int = 20, maxHashDocs: Int = 100,
      maxHashOccurrences: Int = 1000): DataFrame = {
    require(k >= 2, s"k must be >= 2 (got $k)")
    require(minLen >= k, s"minLen ($minLen) must be >= k ($k)")
    val newBase = newDocs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .persist(StorageLevel.MEMORY_AND_DISK) // anchor pass + two text joins
    val newIds = newBase.select("id")
    val newAnchors = spanAnchorStore(newBase, "id", "text", minLen, k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // store probe: only hashes the batch actually carries can pair with
    // it. The batch hash set BROADCASTS (a micro-batch's distinct anchor
    // hashes are bounded by design — ~2/(w+1) per char of batch text);
    // without the hint Spark's post-distinct stats can pick a sort-merge
    // join that shuffles the WHOLE store by hash, turning the O(batch)
    // probe into an O(corpus) exchange — with a bucketed-by-h store the
    // broadcast probe is additionally bucket-local.
    val probed = store.select(col("id"), col("pos"), col("h"))
      .join(broadcast(newAnchors.select("h").distinct()), Seq("h"), "left_semi")
    // a re-delivered id's store anchors are superseded in the union
    val combined = storeUnionBatch(probed, newAnchors, newIds)
    val capped =
      if (maxHashDocs > 0 || maxHashOccurrences > 0) {
        // identical counts to the one-shot pass: for any hash present in
        // the batch, combined holds ALL of that hash's anchors
        val hot = combined.groupBy("h")
          .agg(countDistinct(col("id")).as("__hd"), count(lit(1)).as("__ho"))
          .filter(
            (if (maxHashDocs > 0) col("__hd") > maxHashDocs else lit(false)) ||
            (if (maxHashOccurrences > 0) col("__ho") > maxHashOccurrences else lit(false)))
          .select("h")
        combined.join(broadcast(hot), Seq("h"), "left_anti")
      } else combined
    val cand = capped
      .select(col("id").as("id_a"), col("pos").as("pa"), col("__new").as("na"), col("h"))
      .join(capped
        .select(col("id").as("id_b"), col("pos").as("pb"), col("__new").as("nb"), col("h")), "h")
      .filter(col("id_a") < col("id_b") && (col("na") || col("nb")))
      .select("id_a", "id_b", "pa", "pb")
      .distinct()
    val texts = newBase.unionByName(supersede(
      history.select(col(idCol).cast("long").as("id"), col(textCol).as("text")), newIds))
    // text fetch in the O(batch + matches) shape: the bounded candidate
    // id set BROADCASTS into one map-side scan of the text table (same
    // reasoning as the store probe above — post-distinct stats can push
    // the planner to sort-merge, which would shuffle the whole history
    // text table per batch), and only the fetched candidate texts (also
    // bounded) broadcast into the pair join
    val needed = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val fetched = texts.join(broadcast(needed), Seq("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val m = GraftFunctions.extendMatch(col("ta"), col("tb"), col("pa"), col("pb"), k)
    val result = cand
      .join(broadcast(fetched.select(col("id").as("id_a"), col("text").as("ta"))), "id_a")
      .join(broadcast(fetched.select(col("id").as("id_b"), col("text").as("tb"))), "id_b")
      .withColumn("m", m)
      .filter(col("m").isNotNull && col("m.len") >= minLen)
      .select(col("id_a"), col("id_b"),
        col("m.start_a").cast("long").as("pos_a"),
        col("m.start_b").cast("long").as("pos_b"),
        col("m.len").cast("long").as("span_len"))
      .distinct()
    // steady-state ingestion (SpanDedupStream calls this once per
    // micro-batch): eager bounded span frame, per-batch caches released
    val out = result.localCheckpoint(eager = true, storageLevel = StorageLevel.MEMORY_AND_DISK)
    newBase.unpersist()
    newAnchors.unpersist()
    combined.unpersist()
    fetched.unpersist()
    out
  }

  /** WITHIN-document repeated spans — the intra-doc complement of
    * [[sharedSpans]]: every maximal pair of exact repeats of ≥ `minLen`
    * characters inside ONE document, as (id, pos_a, pos_b, span_len) with
    * pos_a < pos_b (1-based Unicode code-point units — the
    * [[sharedSpans]] position contract). This is the exact-span form of the Gopher
    * dup-n-gram fractions ([[TextAnalysis.repetition]] counts; this
    * locates) — the detector for looped generation, copy-pasted
    * paragraphs, and template stutter.
    *
    * Same exactness argument as [[sharedSpans]] (both occurrences of a
    * repeat ≥ minLen contain the same fully-inside winnowing window, so
    * both aligned positions are selected; char-verified extension makes
    * precision exact — overlapping/periodic repeats included, since the
    * extension only compares characters). Shape: anchors self-join
    * WITHIN the doc — the narrow shuffle keys on (id, hash), so
    * cross-document hash popularity never inflates it; `maxHashOccurrences`
    * caps per-(id, hash) multiplicity (the low-entropy guard — window
    * count on the join's own partitioning, no extra shuffle), and the
    * text joins back onto bounded candidates only.
    */
  def selfSpans(
      df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 20, k: Int = 10, maxHashOccurrences: Int = 1000): DataFrame = {
    require(k >= 2, s"k must be >= 2 (got $k)")
    require(minLen >= k, s"minLen ($minLen) must be >= k ($k)")
    val w = minLen - k + 1
    val base = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .persist(StorageLevel.MEMORY_AND_DISK) // anchor pass + text join
    val anchors = base
      .select(col("id"), explode(GraftFunctions.winnowPos(col("text"), k, w)).as("a"))
      .select(col("id"), col("a.pos").as("pos"), col("a.h").as("h"))
    val capped =
      if (maxHashOccurrences > 0) {
        val byKey = Window.partitionBy("id", "h")
        anchors.withColumn("__c", count(lit(1)).over(byKey))
          .filter(col("__c") <= maxHashOccurrences)
          .drop("__c")
      } else anchors
    val cand = capped.select(col("id"), col("pos").as("pa"), col("h"))
      .join(capped.select(col("id"), col("pos").as("pb"), col("h")), Seq("id", "h"))
      .filter(col("pa") < col("pb"))
      .select("id", "pa", "pb")
      .distinct()
    val m = GraftFunctions.extendMatch(col("text"), col("text"), col("pa"), col("pb"), k)
    cand
      .join(base, Seq("id"))
      .withColumn("m", m)
      .filter(col("m").isNotNull && col("m.len") >= minLen)
      .select(col("id"),
        col("m.start_a").cast("long").as("pos_a"),
        col("m.start_b").cast("long").as("pos_b"),
        col("m.len").cast("long").as("span_len"))
      .distinct()
  }

  /** Per-document duplicated-span mass over a [[sharedSpans]] result:
    * for every doc of `df`, the number of chars covered by at least one
    * shared span (union of intervals — overlapping spans are not double
    * counted), the span count, and the covered fraction. The Lee et al.
    * 2022 REMOVAL policy consumes exactly this: drop or trim documents
    * whose `dup_frac` exceeds a budget.
    *
    * Pure relational gaps-and-islands: spans explode to per-doc
    * intervals, a running maximum of interval ends splits islands, and
    * each island contributes max(end) - island_start chars. One shuffle
    * on the doc id (window + final join); replayed verbatim by the
    * DuckDB oracle.
    */
  def spanDupStats(
      df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val intervals = spans
      .select(col("id_a").as("id"), col("pos_a").as("s"), col("span_len").as("l"))
      .unionByName(spans.select(col("id_b").as("id"), col("pos_b").as("s"),
        col("span_len").as("l")))
      .select(col("id"), col("s"), (col("s") + col("l")).as("e")) // [s, e)
    val byDoc = Window.partitionBy("id").orderBy(col("s"), col("e"))
    val runningEnd = max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = intervals
      .withColumn("__new", when(runningEnd.isNull || col("s") > runningEnd, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("__isl"))
      .agg((max(col("e")) - min(col("s"))).as("covered"), count(lit(1)).as("n"))
      .groupBy("id")
      .agg(sum(col("covered")).as("dup_chars"), sum(col("n")).as("n_spans"))
    df.select(col(idCol).cast("long").as("id"),
        length(col(textCol)).cast("long").as("n_chars"))
      .join(islands, Seq("id"), "left")
      .select(col("id"),
        col("n_chars"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        (coalesce(col("dup_chars"), lit(0L)).cast("double") / col("n_chars"))
          .as("dup_frac"))
  }

  /** APPLY substring dedup (the Lee et al. 2022 removal policy): cut every
    * non-canonical span occurrence out of the text. For each
    * [[sharedSpans]] pair the id_a (smaller-id) copy is canonical and
    * stays; the id_b occurrence is removed — transitively, a span shared
    * by docs A < B < C survives only in A (B and C are id_b in their
    * pairs with A). Returns `df` plus `text_clean` (and `removed_chars`);
    * docs in no span pass through unchanged.
    *
    * Fully relational: removal intervals merge per doc via the same
    * gaps-and-islands as [[spanDupStats]], the COMPLEMENT segments are
    * assembled per doc (ordered collect + array_join — bounded by the
    * doc's own span count), and the splice is substring concatenation.
    * Only docs that actually lose text join against their interval set;
    * the corpus itself is never shuffled (left join keyed on id, AQE
    * broadcasts the interval side when small).
    */
  def removeSpans(
      df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    // non-canonical occurrences: the id_b side of every pair. [s, e)
    val intervals = spans.select(col("id_b").as("id"), col("pos_b").as("s"),
      (col("pos_b") + col("span_len")).as("e"))
    val byDoc = Window.partitionBy("id").orderBy(col("s"), col("e"))
    val runningEnd = max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val merged = intervals
      .withColumn("__new", when(runningEnd.isNull || col("s") > runningEnd, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("__isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("__cut"))
      .withColumnRenamed("id", "__rs_id")
    val spliced = df
      .join(merged, col(idCol).cast("long") === col("__rs_id"), "left")
    // kept segments: before the first cut, between cuts, after the last —
    // assembled with substring arithmetic on the merged (disjoint) list
    val cuts = col("__cut")
    val text = col(textCol)
    val segs = concat(
      // segment before cut i (for i = 0: from 1; else from cut(i-1).e)
      transform(cuts, (c, i) =>
        text.substr(
          when(i === 0, lit(1)).otherwise(element_at(cuts, i).getField("e").cast("int")),
          (c.getField("s") - when(i === 0, lit(1))
            .otherwise(element_at(cuts, i).getField("e"))).cast("int"))),
      // tail after the last cut
      array(text.substr(
        element_at(cuts, -1).getField("e").cast("int"), lit(Int.MaxValue))))
    spliced
      .withColumn("text_clean",
        when(size(cuts).isNull || size(cuts) === 0, text)
          .otherwise(array_join(segs, "")))
      .withColumn("removed_chars",
        (length(text) - length(col("text_clean"))).cast("long"))
      .drop("__cut", "__rs_id")
  }

  /** The supersede rule of every incremental verb: `store` without the
    * rows whose `id` is in `batchIds` (one `id` column), dropped by one
    * broadcast anti-join — a re-delivered document is compared under its
    * new content only, never against its own stale rows. The store
    * streams through the join and never shuffles.
    */
  private[operators] def supersede(store: DataFrame, batchIds: DataFrame): DataFrame =
    store.join(broadcast(batchIds), Seq("id"), "left_anti")

  /** store ∪ batch for the incremental near-dup forms: the [[supersede]]d
    * store rows tagged `__new = false`, the batch rows `__new = true`,
    * persisted once — the blocking and the verify read this one frame,
    * so the store is scanned once per snapshot. The caller unpersists it.
    */
  private def storeUnionBatch(store: DataFrame, batch: DataFrame,
      batchIds: DataFrame): DataFrame =
    supersede(store, batchIds).withColumn("__new", lit(false))
      .unionByName(batch.withColumn("__new", lit(true)))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The hot-bucket cap of the incremental forms, over the COMBINED
    * store ∪ batch population (a boilerplate bucket split across them
    * must not dodge the cap): an aggregate + broadcast anti-join, NOT a
    * window — a window would shuffle every store row per snapshot, while
    * the aggregate partial-combines to distinct-bucket cardinality and
    * the hot list (buckets over the cap) is tiny by construction.
    */
  private def capHotBuckets(
      blocked: DataFrame, bucketCols: Seq[String], maxBucketSize: Int): DataFrame =
    if (maxBucketSize > 0) {
      val hot = blocked.groupBy(bucketCols.map(col): _*)
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") > maxBucketSize)
        .select(bucketCols.map(col): _*)
      blocked.join(broadcast(hot), bucketCols, "left_anti")
    } else blocked

  /** Candidate pairs of the INCREMENTAL near-dup forms
    * ([[minhashLshIncremental]], [[embeddingNearDupIncremental]]): given
    * (id, __new, bucketCols...) rows over [[storeUnionBatch]], cap hot
    * buckets ([[capHotBuckets]]), then pair every NEW id with its
    * colliding ids — old-vs-old never generated — deduped id-only.
    * [[hammingNearDupIncremental]] shares the cap but keeps its own pair
    * join, which carries the signatures and verifies inside it.
    */
  private def incrementalCandidatePairs(
      blocked: DataFrame, bucketCols: Seq[String], maxBucketSize: Int): DataFrame = {
    val capped = capHotBuckets(blocked, bucketCols, maxBucketSize)
    capped.filter(col("__new"))
      .select((col("id").as("__nid") +: bucketCols.map(col)): _*)
      .join(capped.select((col("id").as("__mid") +: bucketCols.map(col)): _*),
        bucketCols)
      .filter(col("__nid") =!= col("__mid"))
      .select(least(col("__nid"), col("__mid")).as("id_a"),
        greatest(col("__nid"), col("__mid")).as("id_b"))
      .distinct()
  }

  /** Distinct candidate pairs (id_a < id_b) from a narrow blocked frame
    * (id + bucket key columns): one shuffle on the bucket key, optional
    * bucket-size cap (window count reuses the same partitioning) so a
    * degenerate bucket can't go quadratic.
    */
  private def candidatePairs(
      blocked: DataFrame, bucketCols: Seq[String], maxBucketSize: Int): DataFrame = {
    val capped =
      if (maxBucketSize > 0) {
        val w = Window.partitionBy(bucketCols.map(col): _*)
        blocked.withColumn("__bsz", count(lit(1)).over(w))
          .filter(col("__bsz") <= maxBucketSize)
          .drop("__bsz")
      } else blocked
    val a = capped.select((col("id").as("id_a") +: bucketCols.map(col)): _*)
    val b = capped.select((col("id").as("id_b") +: bucketCols.map(col)): _*)
    a.join(b, bucketCols)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }
}

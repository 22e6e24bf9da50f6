package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Fugue ExecutionEngine relational verbs, re-expressed as declarative
  * Spark transforms so Catalyst plans them (pushdown, broadcast, partial
  * aggregation) instead of hand-scheduling.
  *
  * Reference semantics: fugue_trino/execution_engine.py:103 `join` (semi /
  * anti via inner+left-isnull rewrites — Spark has native left_semi /
  * left_anti, so we use those and keep the rewrite only as documentation),
  * :137 `sample` (one of n/frac), Fugue engine contract for union /
  * intersect / subtract / distinct / dropna / fillna / take.
  */
object Relational {

  /** Literal-name column accessor: every verb that takes column names as
    * strings resolves them through this, so names with dots, spaces,
    * backticks or reserved words work everywhere
    * ([[graft.Warehouse.encodeColumnName]] — the reference's
    * encode_column_name boundary, fugue_bigquery/execution_engine.py:49).
    */
  private def lcol(name: String): Column = graft.Warehouse.literalCol(name)

  /** Parallelism floor for CPU-DENSE verify stages (r12 optimization,
    * guide §2.5): AQE coalesces post-shuffle partitions by BYTES
    * (minPartitionSize 1 MiB), but a candidate-pair stream is ~16 B/row
    * while its verification (array_intersect over gram arrays, exact
    * levenshtein) costs ~10³ ops/row — a few-MiB candidate frame
    * coalesces to 2 tasks and serializes the verify on a 32-core box
    * (measured: 12.4 s of q_fuzzy_join's 14.4 s in two 2-task stages).
    * An explicit round-robin repartition to defaultParallelism before
    * the verify join pins one wave of right-sized tasks; the exchanged
    * rows are narrow ids, so the extra shuffle is noise next to the
    * verify CPU at gate scale.
    *
    * Known limit: AQE never splits an explicit repartition, so at
    * 100 TB a blocking-bounded-but-huge candidate stream still lands in
    * exactly one wave of potentially multi-GB tasks. Replacing the five
    * hand-placed pins with one session-level posture is open (ROADMAP
    * item 3); a stats-derived size is not the answer — Catalyst size
    * estimates for self-join candidate frames are join-products that
    * overshoot by orders of magnitude.
    */
  private[operators] def verifyFanout(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** join with Fugue's how-vocabulary. `on` columns are equi-join keys and,
    * per Fugue semantics, appear once in the output (via USING-style join).
    * Small right sides should be wrapped in `broadcast()` by the caller or
    * left to AQE at runtime.
    */
  def join(left: DataFrame, right: DataFrame, how: String, on: Seq[String]): DataFrame = {
    val h = how.toLowerCase match {
      case "inner"                       => "inner"
      case "left" | "left_outer"         => "left"
      case "right" | "right_outer"       => "right"
      case "full" | "full_outer" | "outer" => "full"
      case "cross"                       => "cross"
      case "semi" | "left_semi"          => "left_semi"
      case "anti" | "left_anti"          => "left_anti"
      case other => throw new IllegalArgumentException(s"unsupported join type: $other")
    }
    if (h == "cross") left.crossJoin(right) else left.join(right, on, h)
  }

  def unionAll(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_))

  def unionDistinct(dfs: Seq[DataFrame]): DataFrame =
    unionAll(dfs).distinct()

  def intersect(a: DataFrame, b: DataFrame): DataFrame = a.intersect(b)

  /** Fugue `subtract` = SQL EXCEPT (distinct). */
  def subtract(a: DataFrame, b: DataFrame): DataFrame = a.except(b)

  def distinct(df: DataFrame): DataFrame = df.distinct()

  /** dropna: how = "any" | "all", optional subset, optional thresh (keep
    * rows with ≥ thresh non-null values — the pandas/Fugue contract where
    * thresh overrides how; Spark's na.drop(minNonNulls) natively).
    */
  def dropna(df: DataFrame, how: String = "any", subset: Seq[String] = Nil,
      thresh: Option[Int] = None): DataFrame = thresh match {
    case Some(t) => if (subset.isEmpty) df.na.drop(t) else df.na.drop(t, subset)
    case None    => if (subset.isEmpty) df.na.drop(how) else df.na.drop(how, subset)
  }

  /** fillna with per-column values (Fugue accepts a scalar or a dict). */
  def fillna(df: DataFrame, values: Map[String, Any]): DataFrame =
    df.na.fill(values)

  /** sample by fraction (Bernoulli, like TABLESAMPLE BERNOULLI in
    * fugue_trino/execution_engine.py:152) or exact n (distributed
    * reservoir-free: sort by stable hash, take n — deterministic under a
    * seed and avoids a driver collect).
    */
  /** `replace = true` is Poisson sampling (a row may appear multiple
    * times) — Spark-native. The reference carries `replace` in its engine
    * signature (fugue_bigquery/execution_engine.py:148) but its SQL
    * rewrites silently ignore it; here it does what it says.
    */
  def sampleFrac(df: DataFrame, frac: Double, seed: Long = 42L,
      replace: Boolean = false): DataFrame =
    df.sample(withReplacement = replace, frac, seed)

  /** Unified sample entry point with the reference's validation contract
    * (exactly one of n/frac must be set — test_execution_engine.py
    * test_sample raises on neither/both). n-with-replacement has no
    * distributed one-pass form — rejected rather than silently wrong.
    */
  def sample(df: DataFrame, n: Option[Int] = None, frac: Option[Double] = None,
      seed: Long = 42L, replace: Boolean = false): DataFrame = (n, frac) match {
    case (Some(_), Some(_)) =>
      throw new IllegalArgumentException("set only one of n and frac")
    case (None, None) =>
      throw new IllegalArgumentException("one of n and frac must be set")
    case (Some(_), None) if replace =>
      throw new IllegalArgumentException("sample(n) does not support replace=true")
    case (Some(count), None) => sampleN(df, count, seed)
    case (None, Some(f))     => sampleFrac(df, f, seed, replace)
  }

  def sampleN(df: DataFrame, n: Int, seed: Long = 42L): DataFrame = {
    // Rank rows by a seeded uniform hash of the whole row; TakeOrderedAndProject
    // keeps this a single pass with a bounded per-partition heap — no full sort.
    val r = df.withColumn("__rand", rand(seed))
    r.orderBy(col("__rand")).limit(n).drop("__rand")
  }

  /** Deterministic seeded shard assignment — the "global shuffle" of a
    * training-data writer: every row gets a pseudorandom but REPRODUCIBLE
    * (seed-keyed) shard in [0, nShards) plus a within-shard sort key, so
    * N trainer workers each read one shard and iterate in a seeded random
    * order with no coordination. The key is the first 60 bits of
    * md5(seed:id) — cryptographic mixing, so shards are uniform and
    * uncorrelated with any data attribute, and (unlike `rand()`) the
    * assignment is a pure function of (seed, id): re-runs, retries and
    * late-arriving partitions all agree.
    *
    * Scale shape: map-side only — zero shuffle for the ASSIGNMENT; the
    * physical write then partitions by `shard` (one shuffle sized by the
    * data, exactly the write's co-location requirement) and sorts within
    * partitions by `sort_key`. md5 and hex→int land in one codegen'd
    * projection.
    */
  def shardAssign(df: DataFrame, idCol: String, nShards: Int,
      seed: Long = 42L): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val key = conv(
      substring(md5(concat(lit(seed.toString), lit(":"),
        col(idCol).cast("string"))), 1, 15), 16, 10).cast("long")
    df.withColumn("sort_key", key)
      .withColumn("shard", pmod(col("sort_key"), lit(nShards.toLong)))
  }

  /** Write [[shardAssign]]'s layout to storage: one directory per shard,
    * rows sorted by the seeded key within each file — the deterministic
    * shuffle-shard writer. repartition by shard co-locates each shard's
    * rows; sortWithinPartitions orders them without a global sort.
    */
  def writeShards(df: DataFrame, idCol: String, nShards: Int, path: String,
      seed: Long = 42L): Unit =
    shardAssign(df, idCol, nShards, seed)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("sort_key"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** FUZZY (approximate string) join — record linkage across two tables
    * on character-n-gram jaccard similarity: the entity-resolution verb
    * (same product under two spellings, same customer across systems)
    * that exact equi-joins cannot express and a cross join cannot
    * survive. Blocking is PPJoin PREFIX FILTERING (Xiao et al. WWW
    * 2008, bipartite): candidates only collide on a gram in each
    * string's prefix (its rarest sz − ⌈t·sz⌉ + 1 grams under a global
    * (df, gram) order), then every candidate is verified by exact set
    * jaccard from the full gram arrays — results identical to joining
    * on every shared gram, at a fraction of the candidates (the
    * all-shared-grams join is quadratic on hot grams: 73.9 s → ~3 s at
    * sf0.1 on part names). The decision is INTEGER
    * cross-multiplication (shared·den ≥ num·union for threshold
    * num/den), no float anywhere; `jaccard_e6` = floor(10⁶·shared/
    * union) rides along.
    *
    * `maxGramFreq` additionally drops grams above the frequency cap
    * from the prefixes — a recall trade for stopword-gram corpora
    * (a true pair sharing ONLY capped grams is missed; verification of
    * surviving pairs still counts ALL shared grams). 0 disables it.
    *
    * Output: (left id, right id, shared_grams, l_grams, r_grams,
    * jaccard_e6); rows whose strings are shorter than `n` have no grams
    * and never match.
    */
  def fuzzyJoin(left: DataFrame, right: DataFrame,
      lIdCol: String, lStrCol: String, rIdCol: String, rStrCol: String,
      thresholdNum: Long, thresholdDen: Long,
      n: Int = 3, maxGramFreq: Long = 10000L): DataFrame =
    fuzzyJoinImpl(left, Some(right), lIdCol, lStrCol, rIdCol, rStrCol,
      thresholdNum, thresholdDen, n, maxGramFreq)._1

  /** SELF fuzzy join — each undirected near-match pair of ONE frame,
    * emitted once (l_id < r_id). Same semantics as
    * `fuzzyJoin(df, df, ...).filter(l_id < r_id)` at roughly HALF the
    * cost: the gram arrays build and persist ONCE (the right stream is
    * a rename of the cached left frame, not a recompute), self-pairs
    * and mirrored candidates drop at the prefix-collision join BEFORE
    * the expensive exact-intersect verification, and the df order uses
    * the doubled-but-order-identical union (doubling every gram's count
    * preserves the (df, gram) prefix order exactly). `maxGramFreq` is
    * interpreted as SINGLE-CORPUS document frequency (the doubled union
    * count is compared against 2·maxGramFreq) — note `fuzzyJoin(df, df)`
    * would instead cap the summed two-side df, i.e. behave as per-corpus
    * maxGramFreq/2.
    */
  def fuzzySelfPairs(df: DataFrame, idCol: String, strCol: String,
      thresholdNum: Long, thresholdDen: Long,
      n: Int = 3, maxGramFreq: Long = 10000L): DataFrame =
    fuzzyJoinImpl(df, None, idCol, strCol, idCol, strCol,
      thresholdNum, thresholdDen, n, maxGramFreq)._1

  /** Hashed distinct-gram arrays — one row per string:
    * `(side_id, side_gs: array<bigint>, side_grams)`. The ONE gram
    * generation shared by [[fuzzyJoinImpl]], [[fuzzyGramStore]] and
    * [[fuzzyJoinIncremental]], so hashing/windowing can never drift
    * between the one-shot and the store-probed forms.
    *
    * sequence(1, len-n+1) would run DESCENDING for short strings
    * (Spark sequences reverse when start > stop) — guard to empty.
    * Grams are HASHED to longs at generation (the ngramJaccard
    * design): every downstream shuffle/join keys on 8 bytes
    * instead of n-char strings and the verify intersect runs on
    * long arrays; distinct counts are preserved modulo 64-bit
    * collisions (~|grams|²/2⁶⁴ ≈ 0, far below any oracle's noise
    * floor). xxhash64 over the raw substring — no trim, so gram
    * counts match the string-substring oracle replay exactly.
    */
  private def hashedGramArrays(df: DataFrame, idC: String, strC: String,
      side: String, n: Int): DataFrame =
    df.select(lcol(idC).cast("long").as(s"${side}_id"),
        when(length(lcol(strC)) < n, array().cast("array<bigint>"))
          // functions.transform, NOT this object's mapPartitions verb
          .otherwise(array_distinct(org.apache.spark.sql.functions.transform(
            sequence(lit(1), length(lcol(strC)) - (n - 1)),
            i => xxhash64(lcol(strC).substr(i, lit(n))))))
          .as(s"${side}_gs"))
      .withColumn(s"${side}_grams", size(col(s"${side}_gs")).cast("long"))
      .filter(col(s"${side}_grams") > 0)

  /** A [[hashedGramArrays]] frame's columns renamed from one side prefix
    * to another — a projection of the same (cached) frame, never a
    * second gram generation or a second cache entry. */
  private def renameSide(arr: DataFrame, from: String, to: String): DataFrame =
    arr.select(Seq("id", "gs", "grams").map(c => col(s"${from}_$c").as(s"${to}_$c")): _*)

  /** The PPJoin pair plan plus the frames it persisted: the one-shot
    * verbs leave those cached (the Dedup convention), while
    * [[fuzzyJoinIncremental]] unpersists them once its result is
    * checkpointed. `lArrGiven` is the left side's gram arrays when the
    * caller already persisted them (`l_*` columns); they are then
    * neither rebuilt nor cached again. */
  private def fuzzyJoinImpl(left: DataFrame, rightOpt: Option[DataFrame],
      lIdCol: String, lStrCol: String, rIdCol: String, rStrCol: String,
      thresholdNum: Long, thresholdDen: Long,
      n: Int, maxGramFreq: Long,
      lArrGiven: Option[DataFrame] = None): (DataFrame, Seq[DataFrame]) = {
    require(thresholdDen > 0 && thresholdNum >= 0, "threshold must be >= 0")
    // gram ARRAYS are the one persisted artifact: freq, both prefixes and
    // the verification all derive from them, so the gram generation runs
    // ONCE per side instead of once per consumer
    def gramArrays(df: DataFrame, idC: String, strC: String, side: String) =
      hashedGramArrays(df, idC, strC, side, n).persist(StorageLevel.MEMORY_AND_DISK)
    val lArr = lArrGiven.getOrElse(gramArrays(left, lIdCol, lStrCol, "l"))
    // self mode: the right stream is a RENAME of the cached left frame —
    // gram generation and persistence happen once
    val rCached = rightOpt.map(right => gramArrays(right, rIdCol, rStrCol, "r"))
    val rArr = rCached.getOrElse(renameSide(lArr, "l", "r"))
    def explodedGrams(side: String) =
      (if (side == "l") lArr else rArr)
        .select(col(s"${side}_id"), col(s"${side}_grams"),
          explode(col(s"${side}_gs")).as("g"))
    val lg = explodedGrams("l")
    val rg = explodedGrams("r")
    // PPJoin prefix filtering (Xiao et al. WWW 2008), bipartite form —
    // the same machinery as Dedup.ngramJaccard: candidates only need to
    // collide on a gram in each string's PREFIX (its rarest
    // sz − ⌈t·sz⌉ + 1 grams under one global (df, gram) order; a
    // qualifying pair shares ≥ ⌈t·sz⌉ grams since union ≥ sz, so by the
    // prefix lemma the prefixes intersect). Verification recomputes the
    // EXACT shared count from the full gram arrays, so results are
    // identical to the all-shared-grams join — blocking on every shared
    // gram was a quadratic blow-up on hot grams (73.9 s → s at sf0.1 on
    // the part-name corpus).
    // persisted: both prefix streams consume it (small — one row per
    // distinct gram)
    val freq = lg.select(col("g")).unionAll(rg.select(col("g")))
      .groupBy("g").agg(count(lit(1)).as("__df"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def prefix(g: DataFrame, side: String) = {
      val withFreq = g.join(freq, Seq("g"))
      // in self mode the freq table unions the stream with its own rename,
      // so every gram's __df is exactly DOUBLE its single-corpus document
      // frequency — the cap must scale by 2 to keep its documented
      // "per-corpus df ≤ maxGramFreq" semantics (the __df ORDER inside
      // each prefix is unaffected: doubling is monotone)
      val capDf = if (rightOpt.isEmpty) 2L * maxGramFreq else maxGramFreq.toLong
      val capped =
        if (maxGramFreq <= 0) withFreq
        else withFreq.filter(col("__df") <= capDf)
      capped
        .withColumn(s"${side}_rk", gramRank(s"${side}_id", "__df"))
        .filter(col(s"${side}_rk") <= prefixBound(s"${side}_grams", thresholdNum, thresholdDen))
        .select(col(s"${side}_id"), col("g"), col(s"${side}_rk"),
          col(s"${side}_grams").as(s"${side}_sz"))
    }
    // pairwise-tight α prefix filter at collision time
    val cand0 = prefix(lg, "l").join(prefix(rg, "r"), Seq("g"))
      .filter(withinPairPrefixes("l", "r", thresholdNum, thresholdDen))
    // self mode: mirrored candidates and self-pairs drop HERE, before
    // the exact-intersect verification — each undirected pair once
    val cand = (if (rightOpt.isEmpty) cand0.filter(col("l_id") < col("r_id"))
      else cand0)
      .select("l_id", "r_id").distinct()
      // CPU-dense exact-intersect verify below: pin one wave of tasks
      // (AQE would coalesce the ~16 B/pair stream to 1-2 tasks)
      .repartition(verifyFanout(left))
    val pairs = jaccardVerify(cand.join(lArr, Seq("l_id")).join(rArr, Seq("r_id")),
        "l", "r", thresholdNum, thresholdDen)
      .select("l_id", "r_id", "shared_grams", "l_grams", "r_grams", "jaccard_e6")
    (pairs, Seq(lArr, freq) ++ rCached)
  }

  /** Each gram's rank within its string under the global (df, g) order —
    * the order every PPJoin prefix is cut from. */
  private def gramRank(idCol: String, dfCol: String): Column =
    row_number().over(Window.partitionBy(idCol).orderBy(col(dfCol), col("g")))

  /** PPJoin's per-string prefix length sz − ⌈t·sz⌉ + 1, with ⌈t·sz⌉ in
    * exact integer arithmetic ((num·sz + den − 1) div den) — the
    * rational threshold never touches a double. */
  private def prefixBound(szCol: String, thresholdNum: Long, thresholdDen: Long): Column =
    expr(s"$szCol - (($thresholdNum * $szCol + $thresholdDen - 1) " +
      s"div $thresholdDen) + 1")

  /** PAIRWISE-TIGHT prefix filter at collision time, over the `a`/`b`
    * sides' `_rk` and `_sz` columns: the per-side prefix covers the
    * worst admissible partner (size t·sz, overlap bound ⌈t·sz⌉), but
    * once BOTH sizes are known the true overlap bound is
    * α = ⌈t/(1+t)·(sz_a+sz_b)⌉ ≥ ⌈t·sz⌉ — for same-size strings
    * substantially larger (t=0.8, 58/58: α=52 vs 47, tight prefix 7 vs
    * 12). A qualifying pair's α-prefixes must intersect, so a pair whose
    * collisions all sit beyond the tight prefix on either side cannot
    * reach the threshold and drops BEFORE the expensive verification —
    * on template-heavy corpora (hot grams, low prefix selectivity) this
    * prunes most of the candidate explosion at the cost of one integer
    * comparison per collision. */
  private def withinPairPrefixes(a: String, b: String,
      thresholdNum: Long, thresholdDen: Long): Column = {
    val alpha = expr(
      s"($thresholdNum * (${a}_sz + ${b}_sz) + $thresholdNum + $thresholdDen - 1) " +
        s"div ($thresholdNum + $thresholdDen)")
    col(s"${a}_rk") <= col(s"${a}_sz") - alpha + 1 &&
      col(s"${b}_rk") <= col(s"${b}_sz") - alpha + 1
  }

  /** The PPJoin verify over pairs carrying both sides' gram arrays
    * (`a_gs`, `a_grams`, `b_gs`, `b_grams`): the EXACT shared count from
    * the full arrays, the jaccard decision as integer
    * cross-multiplication (shared·den ≥ num·union) and `jaccard_e6` =
    * floor(10⁶·shared/union). */
  private def jaccardVerify(pairs: DataFrame, a: String, b: String,
      thresholdNum: Long, thresholdDen: Long): DataFrame = {
    val union = col(s"${a}_grams") + col(s"${b}_grams") - col("shared_grams")
    pairs
      .withColumn("shared_grams",
        size(array_intersect(col(s"${a}_gs"), col(s"${b}_gs"))).cast("long"))
      .filter(col("shared_grams") * thresholdDen >= lit(thresholdNum) * union)
      .withColumn("jaccard_e6", expr(
        "CAST((CAST(shared_grams AS decimal(38,0)) * 1000000) div " +
          s"(${a}_grams + ${b}_grams - shared_grams) AS long)"))
  }

  /** GRAM-INDEX STORE for [[fuzzyJoinIncremental]]: the PPJoin index
    * side of [[fuzzySelfPairs]] materialized as a narrow frame — one
    * row per (string, distinct hashed gram): `(id, g, df, rk, sz)`
    * where `df` is the gram's document frequency over THIS corpus and
    * `rk` its rank within the string under the global (df, g) order
    * (capped grams — `df > maxGramFreq` when the cap is on — carry a
    * NULL rk and never enter a prefix, the one-shot's cap semantics).
    * The store freezes the gram ORDER at build time: incremental
    * probes rank their own grams under the store's df (unseen grams
    * df 0), and the PPJoin prefix lemma holds for ANY fixed shared
    * total order, so recall against the store stays total whatever
    * arrives later. Threshold-independent — one store serves every t.
    * Persist through the Warehouse and append each batch's own index
    * rows after processing; bucket by `g` at warehouse scale so probes
    * prune buckets (the [[graft.operators.Dedup.spanAnchorStore]]
    * convention).
    */
  def fuzzyGramStore(df: DataFrame, idCol: String, strCol: String,
      n: Int = 3, maxGramFreq: Long = 0L): DataFrame = {
    val ex = hashedGramArrays(df, idCol, strCol, "h", n)
      .select(col("h_id").as("id"), col("h_grams").as("sz"),
        explode(col("h_gs")).as("g"))
    val freq = ex.groupBy("g").agg(count(lit(1)).as("df"))
    val joined = ex.join(freq, Seq("g"))
    val ranked =
      if (maxGramFreq <= 0L)
        joined.withColumn("rk", gramRank("id", "df").cast("long"))
      else
        joined.filter(col("df") <= maxGramFreq)
          .withColumn("rk", gramRank("id", "df").cast("long"))
          .unionByName(joined.filter(col("df") > maxGramFreq)
            .withColumn("rk", lit(null).cast("long")))
    ranked.select("id", "g", "df", "rk", "sz")
  }

  /** INCREMENTAL fuzzy self-join: all gram-jaccard ≥ t pairs of
    * `history ∪ newDf` in which at least one side is a batch row —
    * history is never re-grammed (its persisted [[fuzzyGramStore]] is
    * probed instead) and old-vs-old pairs are never generated (the
    * minhashLshIncremental contract). A batch id that is also in the
    * store supersedes its store rows ([[Dedup.supersede]]): it pairs
    * under its new string only, never with itself. With
    * `maxGramFreq = 0` the output equals `fuzzySelfPairs((history minus
    * the batch's ids) ∪ newDf, ...)` restricted to batch-involving pairs
    * EXACTLY: verification recomputes the exact
    * shared count from full gram arrays, and blocking recall is total
    * on both paths — the store's frozen (df, g) order is a fixed total
    * order shared by both sides of every old↔new candidate, which is
    * all the prefix lemma needs (batch-novel grams take df 0 and sort
    * first). A positive cap is the documented recall trade; its df is
    * measured against the STORE corpus here vs the doubled union in
    * the one-shot, so cap mode is heuristic, not parity-pinned.
    *
    * new×new pairs come from the plain [[fuzzySelfPairs]] over the
    * batch alone. new×old candidates collide prefix-to-prefix: the
    * batch ranks its grams under the store order (df via a store
    * lookup PRUNED by a broadcast of the batch's distinct grams — the
    * store never shuffles), the store's prefix rows are filtered
    * map-side (rk ≤ sz − ⌈t·sz⌉ + 1) and pruned by a broadcast of the
    * batch's PREFIX grams before the equi-join; the pairwise-tight α
    * filter then drops collisions beyond either side's tight prefix.
    * History text is fetched only for the bounded candidate ids
    * (broadcast probe — the editDistanceJoinIncremental fetch shape)
    * and re-grammed once for the exact-intersect verification.
    *
    * Returns `(l_id, r_id, shared_grams, l_grams, r_grams,
    * jaccard_e6)`, l_id < r_id, each pair once — the
    * [[fuzzySelfPairs]] schema.
    */
  def fuzzyJoinIncremental(
      newDf: DataFrame, idCol: String, strCol: String,
      store: DataFrame, history: DataFrame,
      thresholdNum: Long, thresholdDen: Long,
      n: Int = 3, maxGramFreq: Long = 0L): DataFrame = {
    require(thresholdDen > 0 && thresholdNum >= 0, "threshold must be >= 0")
    // the batch's gram arrays are cached ONCE, under the `l_*` names the
    // new×new fuzzyJoinImpl reads; the mixed side reads them renamed. Two
    // separately built copies would differ only in column names, and
    // Spark's cache treats such plans as one entry: the second persist
    // is refused with a warning and either unpersist drops the other
    val lArr = hashedGramArrays(newDf, idCol, strCol, "l", n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bArr = renameSide(lArr, "l", "b")
    val bg = bArr.select(col("b_id"), col("b_grams"),
      explode(col("b_gs")).as("g"))
    // df lookup under the FROZEN store order: the store's (g, df) rows
    // pruned map-side by a broadcast of the batch's distinct grams
    // BEFORE the distinct — the store never shuffles; grams history has
    // never seen default to df 0 (they sort first under (df, g), which
    // is still one fixed shared order)
    val dfLut = store.select(col("g"), col("df"))
      .join(broadcast(bg.select("g").distinct()), Seq("g"), "left_semi")
      .distinct()
    val bFreq0 = bg.join(dfLut, Seq("g"), "left")
      .na.fill(0L, Seq("df"))
    val bFreq = if (maxGramFreq <= 0L) bFreq0
      else bFreq0.filter(col("df") <= maxGramFreq)
    val bPrefix = bFreq
      .withColumn("b_rk", gramRank("b_id", "df").cast("long"))
      .filter(col("b_rk") <= prefixBound("b_grams", thresholdNum, thresholdDen))
      .select(col("b_id"), col("g"), col("b_rk"),
        col("b_grams").as("b_sz"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // store prefix: rk filter is map-side; only grams in the BATCH
    // prefix can collide, so their broadcast set prunes the store scan
    // (and the store's buckets, when bucketed by g) pre-join. The rows
    // of a re-delivered batch id are superseded first, so its stale
    // grams pair with nothing (and never with itself)
    val hPrefix = Dedup.supersede(store, newDf.select(lcol(idCol).cast("long").as("id")))
      .filter(col("rk").isNotNull &&
        col("rk") <= prefixBound("sz", thresholdNum, thresholdDen))
      .join(broadcast(bPrefix.select("g").distinct()), Seq("g"), "left_semi")
      .select(col("id").as("id_o"), col("g"), col("rk").as("o_rk"),
        col("sz").as("o_sz"))
    // pairwise-tight α at collision time — the fuzzyJoinImpl filter
    val cand = hPrefix.join(bPrefix, Seq("g"))
      .filter(withinPairPrefixes("o", "b", thresholdNum, thresholdDen))
      .select("id_o", "b_id").distinct()
    // text fetch in the O(batch + matches) shape: bounded old candidate
    // ids broadcast into one map-side history scan, re-grammed ONCE
    val oldText = history.select(lcol(idCol).cast("long").as("id"),
      lcol(strCol).cast("string").as("str"))
    val fetched = oldText
      .join(broadcast(cand.select(col("id_o").as("id")).distinct()), Seq("id"))
    val oArr = hashedGramArrays(fetched, "id", "str", "o", n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the verify join is NOT hinted: the fetched-old array frame is
    // bounded by the CANDIDATE set, which on dense corpora can approach
    // the history (a forced broadcast OOM'd the 500k probe — gram
    // arrays are wide); AQE broadcasts it when it is actually small
    val mixedPairs = jaccardVerify(cand
        // CPU-dense exact-intersect verify: pin one wave of tasks (the
        // fuzzyJoinImpl rule — AQE coalesces the pair stream by bytes)
        .repartition(verifyFanout(newDf))
        .join(oArr, col("id_o") === col("o_id"))
        .join(bArr, Seq("b_id")), "o", "b", thresholdNum, thresholdDen)
      .select(least(col("o_id"), col("b_id")).as("l_id"),
        greatest(col("o_id"), col("b_id")).as("r_id"),
        col("shared_grams"),
        when(col("o_id") < col("b_id"), col("o_grams"))
          .otherwise(col("b_grams")).as("l_grams"),
        when(col("o_id") < col("b_id"), col("b_grams"))
          .otherwise(col("o_grams")).as("r_grams"),
        col("jaccard_e6"))
    // new×new: the fuzzySelfPairs plan over the batch alone
    val (newNew, newNewCaches) = fuzzyJoinImpl(newDf, None, idCol, strCol,
      idCol, strCol, thresholdNum, thresholdDen, n, maxGramFreq, Some(lArr))
    val result = mixedPairs.unionByName(newNew)
    // steady-state ingestion: eager bounded pair frame, caches released
    // (newNewCaches holds lArr)
    val out = result.localCheckpoint(eager = true, storageLevel = StorageLevel.MEMORY_AND_DISK)
    (Seq(bPrefix, oArr) ++ newNewCaches).foreach(_.unpersist())
    out
  }

  /** ENTITY RESOLUTION within one table: the composed record-linkage
    * verb — [[fuzzyJoin]]'s PPJoin blocking applied to the frame
    * against ITSELF (each undirected near-match pair kept once via
    * id < id), then [[graft.operators.Dedup.dedupByClusters]] resolves
    * pair transitivity ("Acme Corp" ~ "Acme Corp." ~ "ACME CORP" is ONE
    * entity even when the ends don't match each other directly) into a
    * canonical `entity_id` (min present id) + `keep` flag. The "same
    * customer under three spellings" dedup every warehouse needs and no
    * equi-join can express.
    *
    * Scale shape: inherited outright — fuzzyJoin's hashed-gram prefix
    * blocking (never all-pairs) and CC's narrow label iteration; the
    * wide frame joins once at the end. Ids must be integral (the CC
    * contract).
    */
  def resolveEntities(df: DataFrame, idCol: String, nameCol: String,
      thresholdNum: Long = 4L, thresholdDen: Long = 5L,
      n: Int = 3, maxGramFreq: Long = 10000L, maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val pairs = fuzzySelfPairs(df, idCol, nameCol,
        thresholdNum, thresholdDen, n, maxGramFreq)
      .select("l_id", "r_id")
    graft.operators.Dedup
      .dedupByClusters(df, idCol, pairs, "l_id", "r_id", maxIters,
        checkpointDir)
      .withColumnRenamed("cluster_id", "entity_id")
  }

  /** Data-quality constraint rules for [[checkConstraints]] — the
    * dbt-test / Deequ / warehouse-ASSERT surface: declarative
    * expectations evaluated into a violations report instead of a job
    * failure, so pipelines can gate on the REPORT (fail, quarantine, or
    * alert per rule).
    */
  sealed trait Constraint
  object Constraint {
    /** `column` must never be NULL. */
    case class NotNull(column: String) extends Constraint
    /** `columns` must be a unique key; violations = extra duplicate rows
      * (n_rows − n_distinct_keys). */
    case class Unique(columns: Seq[String]) extends Constraint
    /** `column` must lie in [lo, hi] (NULLs are not range violations —
      * pair with NotNull to forbid them). */
    case class InRange(column: String, lo: Double, hi: Double) extends Constraint
    /** `column`'s non-NULL values must come from `values`. */
    case class AcceptedValues(column: String, values: Seq[String]) extends Constraint
    /** the frame must have at least `n` rows; violations = the shortfall. */
    case class MinRows(n: Long) extends Constraint
    /** referential integrity (dbt `relationships`): every non-NULL value
      * of `column` must exist in `refColumn` of the frame passed as
      * `refs(refName)`; violations = missing non-NULL keys. */
    case class ForeignKey(column: String, refName: String,
        refColumn: String) extends Constraint
    /** source freshness (dbt `freshness`): the NEWEST `column` timestamp
      * must be within `maxAgeMinutes` of the explicit `asOfUs` epoch-micros
      * reference point (explicit so the check is deterministic);
      * violations = 0 or 1. */
    case class Freshness(column: String, maxAgeMinutes: Long,
        asOfUs: Long) extends Constraint
  }

  /** Evaluate `constraints` against `df` into one report row per rule:
    * (rule, target, violations, passed). ALL row-level rules (not_null /
    * in_range / accepted_values / min_rows) fold into a SINGLE
    * aggregation pass over the frame — one scan however many rules —
    * and each `unique` rule adds one groupBy on its key (count of
    * surplus rows, n − distinct). Exact counts, so any engine replays
    * the report.
    */
  def checkConstraints(df: DataFrame, constraints: Seq[Constraint],
      refs: Map[String, DataFrame] = Map.empty): DataFrame = {
    import Constraint._
    require(constraints.nonEmpty, "checkConstraints: no rules given")
    constraints.collect { case ForeignKey(_, refName, _) =>
      require(refs.contains(refName),
        s"checkConstraints: foreign_key references '$refName' but no such " +
          s"frame was passed in refs (have: ${refs.keys.toSeq.sorted.mkString(",")})")
    }
    val rowRules = constraints.zipWithIndex.collect {
      case (NotNull(c), i) =>
        (i, "not_null", c, sum(when(lcol(c).isNull, 1L).otherwise(0L)))
      case (InRange(c, lo, hi), i) =>
        (i, "in_range", c,
          sum(when(lcol(c).isNotNull && (lcol(c) < lo || lcol(c) > hi), 1L)
            .otherwise(0L)))
      case (AcceptedValues(c, vs), i) =>
        (i, "accepted_values", c,
          sum(when(lcol(c).isNotNull && !lcol(c).isin(vs: _*), 1L).otherwise(0L)))
      case (MinRows(n), i) =>
        (i, "min_rows", n.toString, greatest(lit(n) - count(lit(1)), lit(0L)))
      case (Freshness(c, maxAgeMin, asOfUs), i) =>
        // violations = 0/1: the NEWEST event older than asOf − maxAge (or
        // no rows at all) means the source is stale. asOf is an explicit
        // parameter so the check is deterministic and engine-replayable.
        // target carries the horizon so two freshness rules on one column
        // stay distinct (report rows sort by (rule, target) — duplicates
        // would make the order nondeterministic)
        (i, "freshness", s"$c@${maxAgeMin}m",
          when(coalesce(max(unix_micros(lcol(c).cast("timestamp"))),
              lit(Long.MinValue)) <
            lit(asOfUs - maxAgeMin * 60L * 1000000L), 1L).otherwise(0L))
    }
    val aggExprs = count(lit(1)).as("__n") +:
      rowRules.map { case (i, _, _, e) => e.as(s"__v$i") }
    val one = df.agg(aggExprs.head, aggExprs.tail: _*)
    val rowReports = rowRules.map { case (i, rule, target, _) =>
      one.select(lit(rule).as("rule"), lit(target).as("target"),
        col(s"__v$i").cast("long").as("violations"),
        (col(s"__v$i") === 0).as("passed"))
    }
    val uniqueReports = constraints.collect { case Unique(cols) =>
      require(cols.nonEmpty, "unique constraint needs columns")
      df.groupBy(cols.map(lcol): _*).agg(count(lit(1)).as("__c"))
        .agg(coalesce(sum(col("__c") - 1), lit(0L)).as("__v"))
        .select(lit("unique").as("rule"),
          lit(cols.mkString(",")).as("target"),
          col("__v").cast("long").as("violations"),
          (col("__v") === 0).as("passed"))
    }
    // referential integrity (dbt `relationships`): non-NULL keys missing
    // from the referenced frame. One left-anti join per rule against the
    // DISTINCT reference keys — broadcastable for dimension-sized refs,
    // shuffled-semi otherwise; NULL keys are not violations (pair with
    // NotNull to forbid them, the in_range convention).
    val fkReports = constraints.collect { case ForeignKey(c, refName, refCol) =>
      val refKeys = refs(refName).select(lcol(refCol).as("__rk")).distinct()
      df.select(lcol(c).as("__fk")).filter(col("__fk").isNotNull)
        .join(refKeys, col("__fk") === col("__rk"), "left_anti")
        .agg(count(lit(1)).as("__v"))
        .select(lit("foreign_key").as("rule"),
          lit(s"$c -> $refName.$refCol").as("target"),
          col("__v").cast("long").as("violations"),
          (col("__v") === 0).as("passed"))
    }
    (rowReports ++ uniqueReports ++ fkReports).reduce(_ unionByName _)
      .orderBy("rule", "target")
  }

  /** NEGATIVE SAMPLING for contrastive training — for every query in
    * `positives`, draw `k` deterministic pseudo-random negatives from the
    * corpus, excluding the query itself and ALL of its listed positives
    * (the in-batch-negatives / hard-negative-mining precursor every
    * embedding-model pipeline runs). "Random" is the first 48 bits of
    * md5(seed:query:candidate) — a pure function of (seed, ids), so the
    * draw is reproducible across re-runs and partitionings, uniform over
    * the corpus, and any engine replays it exactly (48 bits so the key
    * is exact in the top-k aggregate's double score; ties — 2^-48 —
    * break by candidate id).
    *
    * Scale shape: the bounded query set broadcasts; the corpus streams
    * ONCE through a map-side expansion (corpus × |queries|), the
    * positives exclusion is a broadcast anti-join, and per-query min-k
    * runs as the partial-aggregating [[graft.functions.TopKAgg]] — the
    * only shuffle is |queries| × partitions sketch rows. Nothing is
    * quadratic in the corpus.
    */
  def negativeSample(positives: DataFrame, corpus: DataFrame,
      qIdCol: String, posIdCol: String, corpusIdCol: String,
      k: Int = 5, seed: Long = 42L): DataFrame = {
    val queries = positives.select(col(qIdCol).cast("long").as("query_id")).distinct()
    val pos = positives.select(col(qIdCol).cast("long").as("query_id"),
      col(posIdCol).cast("long").as("cand_id"))
    val keyed = corpus.select(col(corpusIdCol).cast("long").as("cand_id"))
      .crossJoin(broadcast(queries))
      .filter(col("cand_id") =!= col("query_id"))
      .join(broadcast(pos), Seq("query_id", "cand_id"), "left_anti")
      .withColumn("key", conv(
        substring(md5(concat(lit(seed.toString), lit(":"),
          col("query_id").cast("string"), lit(":"),
          col("cand_id").cast("string"))), 1, 12), 16, 10).cast("long"))
    keyed
      .groupBy("query_id")
      .agg(graft.functions.GraftFunctions
        .topK(col("cand_id"), -col("key").cast("double"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "entry")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("entry.id").as("neg_id"),
        (-col("entry.score")).cast("long").as("key"))
  }

  /** Stratified sample: per-stratum Bernoulli fractions (df.stat.sampleBy)
    * — the class-balanced sampling a training-data pipeline uses to
    * down-weight over-represented sources/languages. Map-side only.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String,
      fractions: Map[String, Double], seed: Long = 42L): DataFrame =
    df.stat.sampleBy(stratumCol, fractions, seed)

  /** Deterministic train/validation/test split by weights — seeded hash
    * assignment, so every row lands in exactly one split and re-runs are
    * stable regardless of partitioning.
    */
  def split(df: DataFrame, weights: Seq[Double], seed: Long = 42L): Seq[DataFrame] = {
    require(weights.nonEmpty && weights.forall(_ > 0), "weights must be positive")
    val total = weights.sum
    val bounds = weights.scanLeft(0.0)(_ + _).map(_ / total)
    // unsigned shift, not abs: abs(Long.MinValue) overflows negative and
    // would drop that row from every split
    val u = shiftrightunsigned(xxhash64(struct(df.columns.map(lcol): _*), lit(seed)), 1)
      .cast("double") / Long.MaxValue.toDouble
    bounds.sliding(2).map { case Seq(lo, hi) =>
      df.filter(u >= lo && (if (hi >= 1.0) u <= hi else u < hi))
    }.toSeq
  }

  /** Domain MIXTURE sampling: draw EXACTLY `min(target, available)` rows
    * per stratum — the budget-allocation step that turns "train on 30%
    * web / 20% code / ..." into a concrete deterministic subset. Rows are
    * ranked within each stratum by a seeded hash of `keyCols` and the
    * first `target` kept, so re-runs (and re-partitions) pick the same
    * rows, and the per-stratum count is exact — unlike Bernoulli
    * [[stratifiedSample]], whose achieved counts are binomial.
    *
    * 100 TB shape: the targets table broadcasts (strata are few), but a
    * naive per-stratum row_number window funnels EVERY row of a stratum
    * through one task's sort — a tens-of-TB web stratum in one executor.
    * So selection is two-phase: a map-side hash-threshold pre-filter
    * keeps ~max(margin × target, 64) expected rows per stratum (rate
    * from one cheap partial-aggregated count pass), and only survivors
    * are ranked. Because the pre-filter keeps exactly the LOW end of the
    * same hash order the rank sorts by, the selected set is IDENTICAL to
    * single-phase ranking whenever survivors suffice — and the
    * astronomically-rare shortfall (binomial tail, P < 1e-8 per stratum
    * at margin 4) plus the legitimate under-supplied stratum
    * (available < target) are both caught in-plan and re-ranked from the
    * full stratum, so the exact-N contract is unconditional. The
    * survivor set (~margin × Σtargets rows — sample-sized, not
    * corpus-sized) and the tiny per-stratum count table are persisted so
    * the shortfall check does not rescan the corpus; the returned plan
    * is lazy, so they stay cached until `unpersist` or
    * `spark.catalog.clearCache()` (the Dedup one-shot convention). The
    * rescue branch's scan is eliminated at runtime by AQE empty-relation
    * propagation whenever no stratum fell short (the overwhelmingly
    * common case).
    *
    * PRECONDITION: `keyCols` must uniquely identify rows — duplicate key
    * tuples tie in both the hash fraction and the tie-break, leaving
    * row_number partition-order-dependent and the selected PHYSICAL rows
    * nondeterministic (counts stay exact either way).
    */
  def mixtureSample(df: DataFrame, stratumCol: String,
      targets: Map[String, Long], keyCols: Seq[String],
      seed: Long = 42L, margin: Double = 4.0): DataFrame = {
    require(targets.nonEmpty, "targets must be non-empty")
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(margin >= 1.0, s"margin must be >= 1, got $margin")
    val spark = df.sparkSession
    import spark.implicits._
    val targetDf = broadcast(targets.toSeq.toDF(stratumCol, "__target"))
    // uniform [0,1) fraction; BOTH the pre-filter and the rank order use
    // this same double (not the raw hash), so a row excluded by the
    // filter can never out-rank an included one even under double
    // rounding ties; rank ties broken by the key columns → total order
    val frac = shiftrightunsigned(
      xxhash64(struct(keyCols.map(lcol): _*), lit(seed)), 1)
      .cast("double") / Long.MaxValue.toDouble
    val rankW = Window.partitionBy(lcol(stratumCol))
      .orderBy((frac.asc +: keyCols.map(c => lcol(c).asc)): _*)
    def rankAndTake(rows: DataFrame): DataFrame =
      rows.withColumn("__rk", row_number().over(rankW))
        .where(col("__rk") <= col("__target"))
        .drop("__rk", "__target")
    val counts = df.groupBy(lcol(stratumCol)).agg(count(lit(1)).as("__cnt"))
      .persist(StorageLevel.MEMORY_AND_DISK) // tiny: one row per stratum
    val rate = least(lit(1.0),
      greatest(lit(64.0), col("__target") * margin) / col("__cnt"))
    val pre = df.join(targetDf, Seq(stratumCol))
      .join(broadcast(counts), Seq(stratumCol))
      .where(frac < rate)
      .drop("__cnt")
      .persist(StorageLevel.MEMORY_AND_DISK) // sample-sized survivor set
    // strata whose survivor count fell short of min(target, available):
    // empty at margin 4 in practice, but the contract must not depend on
    // a tail bound — re-rank those strata from the full input
    val short = counts.join(targetDf, Seq(stratumCol))
      .join(pre.groupBy(lcol(stratumCol)).agg(count(lit(1)).as("__nsurv")),
        Seq(stratumCol), "left")
      .where(coalesce(col("__nsurv"), lit(0L)) < least(col("__target"), col("__cnt")))
      .select(lcol(stratumCol))
    rankAndTake(pre.join(broadcast(short), Seq(stratumCol), "left_anti"))
      .unionByName(rankAndTake(
        df.join(broadcast(short), Seq(stratumCol), "left_semi")
          .join(targetDf, Seq(stratumCol))))
  }

  /** Fugue `take`: n rows per partition group, ordered by presort.
    * With no partition spec it is a global ordered limit (Spark plans
    * TakeOrderedAndProject — bounded memory, no global sort).
    * With a partition spec it is row_number over a window — one shuffle
    * on the partition keys, heap-bounded per key.
    */
  /** Exact integer square root — engine-independent (no floating-point
    * boundary cases), used by the temperature weights so Spark and any
    * SQL replay agree bit-for-bit.
    */
  private[graft] def isqrt(n: Long): Long = {
    require(n >= 0, s"isqrt of negative $n")
    if (n == 0) return 0L
    var r = math.max(1L, math.sqrt(n.toDouble).toLong)
    // division-form comparisons: r² and (r+1)² overflow Long near 2³¹√2
    while (r > n / r) r -= 1
    while (r + 1 <= n / (r + 1)) r += 1
    r
  }

  /** TEMPERATURE-scaled mixture targets (the multilingual rebalancing of
    * Conneau et al. 2020, XLM-R §3.1, at T = 2 i.e. α = 1/2): stratum s
    * gets target_s = budget · ⌊√n_s⌋ ÷ Σ⌊√n_s⌋ — high-resource strata
    * are down-weighted toward (not onto) uniform, the standard fix for
    * head languages/sources drowning the tail. ALL-INTEGER arithmetic
    * (exact isqrt, BIGINT floor division), so any engine replays the
    * targets exactly; floor division means Σ targets ≤ budget (the
    * deliberate contract — no largest-remainder juggling whose tie order
    * engines disagree on). Bounded: one aggregate row per stratum,
    * collected driver-side like the trained-model fits. NULL strata are
    * excluded (they cannot be mixture keys).
    */
  def temperatureTargets(df: DataFrame, stratumCol: String,
      budget: Long): Map[String, Long] = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val counts = df.filter(lcol(stratumCol).isNotNull)
      .groupBy(lcol(stratumCol).cast("string").as("__s"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val w = counts.map { case (_, n) => isqrt(n) }
    val wSum = w.sum
    if (wSum == 0) return counts.map { case (s, _) => s -> 0L }.toMap
    counts.zip(w).map { case ((s, _), wi) => s -> budget * wi / wSum }.toMap
  }

  /** Temperature-scaled EXACT-N mixture sample: [[temperatureTargets]]
    * composed with [[mixtureSample]] — per stratum, exactly
    * min(target_s, n_s) rows, deterministic in the seed.
    */
  def temperatureMixture(df: DataFrame, stratumCol: String,
      keyCols: Seq[String], budget: Long, seed: Long = 42L): DataFrame =
    mixtureSample(df, stratumCol, temperatureTargets(df, stratumCol, budget),
      keyCols, seed)

  def take(df: DataFrame, n: Int, presort: Seq[Column], partitionBy: Seq[String] = Nil): DataFrame =
    if (partitionBy.isEmpty) {
      if (presort.isEmpty) df.limit(n) else df.orderBy(presort: _*).limit(n)
    } else {
      // no presort → Fugue semantics are "any n per group": a constant sort
      // key makes row_number legal (pick is arbitrary, as specified)
      val order = if (presort.isEmpty) Seq(lit(1).asc) else presort
      val w = Window.partitionBy(partitionBy.map(lcol): _*).orderBy(order: _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= n)
        .drop("__rn")
    }

  /** Parse a Fugue presort string — comma-separated `col [asc|desc]`
    * (default asc) — into sort Columns, with nulls placed per
    * `naPosition` ("first" | "last", applied to every key, the Fugue
    * `take(na_position=…)` contract). Backtick-quoted names (embedded
    * backticks doubled) may contain spaces, commas, or direction keywords:
    * "`a b` desc, `select`" sorts the literal columns "a b" and "select".
    */
  def parsePresort(presort: String, naPosition: String = "last"): Seq[Column] = {
    val nullsFirst = naPosition.toLowerCase match {
      case "first" => true
      case "last"  => false
      case other   => throw new IllegalArgumentException(s"na_position must be first|last: $other")
    }
    splitPresortTerms(presort).map { part =>
      val (name, asc) =
        if (part.startsWith("`")) {
          // closing backtick scan, honoring `` escapes
          var j = 1
          var end = -1
          while (j < part.length && end < 0) {
            if (part.charAt(j) == '`') {
              if (j + 1 < part.length && part.charAt(j + 1) == '`') j += 2
              else end = j
            } else j += 1
          }
          require(end > 0, s"unterminated backtick in presort term: '$part'")
          val raw = part.substring(1, end).replace("``", "`")
          part.substring(end + 1).trim.toLowerCase match {
            case "" | "asc" => (raw, true)
            case "desc"     => (raw, false)
            case _ => throw new IllegalArgumentException(s"bad presort term: '$part'")
          }
        } else part.split("\\s+").toSeq match {
          case Seq(c)                                  => (c, true)
          case Seq(c, d) if d.equalsIgnoreCase("asc")  => (c, true)
          case Seq(c, d) if d.equalsIgnoreCase("desc") => (c, false)
          case _ => throw new IllegalArgumentException(s"bad presort term: '$part'")
        }
      (asc, nullsFirst) match {
        case (true, true)   => lcol(name).asc_nulls_first
        case (true, false)  => lcol(name).asc_nulls_last
        case (false, true)  => lcol(name).desc_nulls_first
        case (false, false) => lcol(name).desc_nulls_last
      }
    }
  }

  /** Split a presort string on commas OUTSIDE backtick quotes. */
  private def splitPresortTerms(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '`') { inQuote = !inQuote; cur += c }
      else if (c == ',' && !inQuote) { out += cur.toString(); cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.toString()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Fugue-facing `take` with the string presort + na_position contract. */
  def takePresort(df: DataFrame, n: Int, presort: String,
      naPosition: String = "last", partitionBy: Seq[String] = Nil): DataFrame =
    take(df, n, parsePresort(presort, naPosition), partitionBy)

  /** assign: add/replace computed columns (Fugue `assign`). */
  def assign(df: DataFrame, cols: Seq[(String, Column)]): DataFrame =
    cols.foldLeft(df) { case (d, (name, expr)) => d.withColumn(name, expr) }

  /** alter_columns: cast listed columns to new types, preserving order
    * (fugue_bigquery/_utils.py `alter_table_columns` — which also raises
    * on a column not present in the schema, so a typo'd name fails loudly
    * instead of silently not casting anything).
    */
  def alterColumns(df: DataFrame, casts: Map[String, String]): DataFrame = {
    val missing = casts.keySet -- df.columns.toSet
    require(missing.isEmpty,
      s"alterColumns: columns not in schema: ${missing.mkString(", ")}")
    df.select(df.columns.map { c =>
      casts.get(c).map(t => lcol(c).cast(t).as(c)).getOrElse(lcol(c))
    }: _*)
  }

  def rename(df: DataFrame, renames: Map[String, String]): DataFrame =
    renames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  def dropColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    df.drop(cols: _*)

  /** Fugue `select`: raw SQL over named frames — register views, run SQL. */
  def select(spark: SparkSession, frames: Map[String, DataFrame], sql: String): DataFrame = {
    frames.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    spark.sql(sql)
  }

  /** Fugue `persist`: the reference materializes a frame to a temp table
    * and re-reads it (fugue_trino/execution_engine.py:124-133). Spark-native
    * persist is `Dataset.persist` — the plan above the cache point is cut,
    * like the temp-table rewrite, but without a write to storage.
    * MEMORY_AND_DISK so a 100 TB-scale intermediate spills instead of OOMing.
    */
  def persist(
      df: DataFrame,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
  ): DataFrame = df.persist(level)

  def unpersist(df: DataFrame): DataFrame = df.unpersist()

  /** Explicit repartition: by columns (hash, for co-located downstream
    * joins/aggs on the same key) or to a partition count.
    */
  def repartition(df: DataFrame, numPartitions: Int, cols: Seq[String] = Nil): DataFrame =
    if (cols.isEmpty) df.repartition(numPartitions)
    else df.repartition(numPartitions, cols.map(lcol): _*)

  /** Broadcast hint — caller asserts the frame is small at every SF
    * (fixed-cardinality dims only; never an SF-scaling table).
    */
  def broadcastHint(df: DataFrame): DataFrame = broadcast(df)

  /** Pivot with EXPLICIT values — the implicit form runs an extra distinct
    * pass over the data to discover columns, which is a full scan at scale;
    * warehouses require the value list for the same reason.
    */
  /** Column profiling: one row per column with row/non-null/distinct
    * counts and stringified min/max — the frame-valued form of the
    * reference's describe surface (fugue_trino/api.py `describe`,
    * fugue_bigquery/api.py `get_schema`), useful as a data-quality gate
    * before/after pipeline stages.
    *
    * ONE aggregation pass over the frame. `exact = false` (the 100 TB
    * default) counts distincts with HyperLogLog++ (`approx_count_distinct`,
    * relative error `rsd`): every metric then folds into a single
    * partial-aggregated scan with no data expansion. `exact = true` uses
    * true COUNT(DISTINCT) — Catalyst plans k distinct aggregates via
    * Expand (k+1 rows per input row through one shuffle): exact answers,
    * k× shuffle volume; right for gate-scale checks, wrong for a 100 TB
    * wide table. Min/max are cast to string so one schema carries any
    * column type; profile long/string/date projections (not raw
    * double/timestamp) when cross-engine string equality matters.
    */
  def profile(df: DataFrame, exact: Boolean = false, rsd: Double = 0.05): DataFrame = {
    require(df.schema.nonEmpty, "profile: frame has no columns")
    val fields = df.schema.fields.toSeq
    // exact mode is gate-scale by contract (see above) and its k-distinct
    // Expand multiplies every input row (k+1)× BEFORE the first partial
    // aggregation — on a small input the scan is 1-2 tasks, so the whole
    // expansion ran single-threaded (r12, measured: one 3 s task for a
    // 6-column orders profile). A round-robin fan-out spreads the Expand
    // across the cores; aggregation is partitioning-invariant, so results
    // are identical. The approx branch (the 100 TB default) keeps the
    // scan's own partitioning — no added exchange at scale.
    val src = if (exact)
      df.repartition(math.max(1, df.sparkSession.sparkContext.defaultParallelism))
    else df
    val aggs = fields.zipWithIndex.flatMap { case (f, i) =>
      val c = lcol(f.name)
      Seq(
        count(c).as(s"__p${i}_nn"),
        (if (exact) count_distinct(c) else approx_count_distinct(c, rsd))
          .as(s"__p${i}_nd"),
        min(c).cast("string").as(s"__p${i}_mn"),
        max(c).cast("string").as(s"__p${i}_mx"))
    } :+ count(lit(1)).as("__p_rows")
    val row = src.agg(aggs.head, aggs.tail: _*)
    row.select(explode(array(fields.zipWithIndex.map { case (f, i) =>
      struct(
        lit(f.name).as("col_name"),
        lit(f.dataType.simpleString).as("dtype"),
        col("__p_rows").as("n_rows"),
        col(s"__p${i}_nn").as("n_nonnull"),
        col(s"__p${i}_nd").as("n_distinct"),
        col(s"__p${i}_mn").as("min_val"),
        col(s"__p${i}_mx").as("max_val"))
    }: _*)).as("p")).select("p.*")
  }

  def pivot(df: DataFrame, groupCols: Seq[String], pivotCol: String,
      values: Seq[String], agg: Column): DataFrame =
    df.groupBy(groupCols.map(lcol): _*).pivot(pivotCol, values).agg(agg)

  /** UNPIVOT / melt — the inverse of [[pivot]] and the warehouse UNPIVOT
    * verb (BigQuery/Snowflake UNPIVOT, dbt melt): wide metric columns →
    * long (id..., metric, value) rows. Value columns cast to a common
    * double before the fold (Spark's native unpivot requires one type —
    * same rule the SQL verb enforces); NULL metric values are KEPT (the
    * INCLUDE NULLS form — a melted null is still an observation; pinned
    * by spec so the contract can't drift). Map-side only: each row
    * expands to |values| rows in place, no shuffle.
    */
  def unpivot(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
      varName: String = "metric", valueName: String = "value"): DataFrame = {
    require(valueCols.nonEmpty, "unpivot: need value columns")
    val cast = valueCols.foldLeft(df)(
      (d, c) => d.withColumn(c, lcol(c).cast("double")))
    cast.unpivot(idCols.map(lcol).toArray, valueCols.map(lcol).toArray,
      varName, valueName)
  }

  /** ROLLUP / CUBE grouping sets (partial-agg map-side like plain groupBy). */
  def rollup(df: DataFrame, cols: Seq[String], aggs: Seq[Column]): DataFrame =
    df.rollup(cols.map(lcol): _*).agg(aggs.head, aggs.tail: _*)

  def cube(df: DataFrame, cols: Seq[String], aggs: Seq[Column]): DataFrame =
    df.cube(cols.map(lcol): _*).agg(aggs.head, aggs.tail: _*)

  /** GROUP BY GROUPING SETS — the explicit-sets sibling of [[rollup]] /
    * [[cube]] (ANSI; BigQuery/Snowflake/Trino all expose it): exactly
    * the listed grouping combinations, each absent column NULL in its
    * rows. One pass: Spark expands the sets with a single Expand node
    * over one shuffle (the rollup plan shape), never one scan per set.
    * `sets` are column-name lists; the output carries the union of all
    * named columns in first-appearance order.
    */
  def groupingSets(df: DataFrame, sets: Seq[Seq[String]],
      aggs: Seq[Column]): DataFrame = {
    require(sets.nonEmpty, "groupingSets: at least one set required")
    val allCols = sets.flatten.distinct
    df.groupingSets(sets.map(_.map(lcol)), allCols.map(lcol): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Skew-safe equi-join: the left's hot keys are spread over `salt`
    * sub-keys and the right side is replicated `salt`× — turns one
    * straggler partition into `salt` even ones. Use when a key's row count
    * is so extreme that AQE's skew splitting isn't enough (AQE splits the
    * partition but a single giant key still lands in one task). Right side
    * should be the smaller input (it is replicated).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, on: Seq[String],
      how: String = "inner", salt: Int = 8): DataFrame = {
    // right-outer/full would emit each unmatched right row `salt` times
    require(Set("inner", "left", "left_outer", "semi", "left_semi", "anti", "left_anti")
      .contains(how.toLowerCase), s"saltedJoin does not support how=$how")
    val l = left.withColumn("__salt", (rand(42L) * salt).cast("int"))
    val r = right.withColumn("__salt", explode(sequence(lit(0), lit(salt - 1))))
    join(l, r, how, on :+ "__salt").drop("__salt")
  }

  /** Fugue `transform`: arbitrary per-partition logic (the reference's
    * flagship verb — ExecutionEngineTests drives it via map_partitions).
    * Spark-native form is Dataset.mapPartitions: executors stream each
    * partition through `f`, no driver collect, no shuffle. Catalyst still
    * prunes columns below the object boundary, so select only what `f`
    * reads before calling.
    */
  def transform(df: DataFrame, outSchema: StructType)(
      f: Iterator[Row] => Iterator[Row]): DataFrame =
    df.mapPartitions(f)(Encoders.row(outSchema))

  /** Fugue zip + comap: co-partition two frames on a (long) key and apply
    * `f` to each key's pair of row groups. One shuffle per side on the key;
    * the groups are streamed, never materialized to the driver.
    */
  def cogroup(left: DataFrame, right: DataFrame, leftKey: String, rightKey: String,
      outSchema: StructType)(
      f: (Long, Iterator[Row], Iterator[Row]) => Iterator[Row]): DataFrame = {
    val lk = left.groupByKey(r => r.getAs[Number](leftKey).longValue())(Encoders.scalaLong)
    val rk = right.groupByKey(r => r.getAs[Number](rightKey).longValue())(Encoders.scalaLong)
    lk.cogroup(rk)(f)(Encoders.row(outSchema))
  }

  /** As-of join: for each left row, the latest right row with the same key
    * and right.ts <= left.ts (the warehouse/event-enrichment staple; DuckDB
    * spells it ASOF JOIN). No native Spark operator, and a range join would
    * explode — so: union both sides tagged, one shuffle on the key, and a
    * running `last(_, ignoreNulls)` window carries each right value forward
    * to the left rows after it. Right rows order before left rows at equal
    * ts, so ties are inclusive. Right must be unique per (key, ts) for the
    * result to be deterministic.
    *
    * Output: every left column, plus each requested right column suffixed
    * (e.g. value_right) — null when no right row precedes the left row.
    */
  /** Binned range join: `left.point BETWEEN right.lo AND right.hi`
    * (inclusive) WITHOUT an equi-key. Spark plans a bare range predicate
    * as BroadcastNestedLoopJoin — O(|L|·|R|) compares and a broadcast of
    * a whole side, the classic scale cliff. Here both sides get a
    * synthetic equi-key: the left point maps to ONE bin
    * (floor(point/binSize)), each right interval EXPLODES to the bins it
    * overlaps, the join is a plain shuffled equi-join on the bin, and
    * the exact BETWEEN filter runs on the matches. Every matching pair
    * meets in exactly one bin (the point's), so no dedup is needed and
    * the result is exact for ANY binSize — binSize only tunes the
    * replication (interval span / binSize copies per right row) against
    * join selectivity (bin width of false candidates). Pick binSize ≈
    * the typical interval span. Rows with NULL point/bounds or hi < lo
    * never match (and are preserved by `how = "left"`).
    *
    * `how`: "inner" or "left" (unmatched left rows padded with NULLs via
    * a key-pruned anti join, the [[graft.operators.Merge]] pattern).
    * Column names must be disjoint across the two sides.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, pointCol: String,
      loCol: String, hiCol: String, binSize: Long,
      how: String = "inner"): DataFrame = {
    require(binSize > 0, "rangeJoin: binSize must be positive")
    require(Set("inner", "left").contains(how.toLowerCase),
      s"rangeJoin: unsupported how '$how' (inner | left)")
    val clash = left.columns.toSet.intersect(right.columns.toSet)
    require(clash.isEmpty, s"rangeJoin: overlapping column names: ${clash.mkString(",")}")
    val p = lcol(pointCol)
    // floor division, exact for negatives (pmod-adjusted) and for the
    // full long range (decimal, not double, carries the quotient)
    def binOf(c: Column): Column =
      ((c.cast("decimal(38,0)") - pmod(c, lit(binSize)).cast("decimal(38,0)"))
        / lit(binSize).cast("decimal(38,0)")).cast("long")
    val l = left.withColumn("__bin", binOf(p))
    val r = right
      .filter(lcol(loCol).isNotNull && lcol(hiCol).isNotNull &&
        lcol(hiCol) >= lcol(loCol))
      .withColumn("__bin",
        explode(sequence(binOf(lcol(loCol)), binOf(lcol(hiCol)))))
    val matched = l.join(r, Seq("__bin"))
      .filter(p >= lcol(loCol) && p <= lcol(hiCol))
      .drop("__bin")
    if (how.toLowerCase == "inner") matched
    else {
      // NULL-SAFE anti join: plain column-name anti uses EqualTo, under
      // which a matched left row carrying a NULL in any column would
      // compare unknown to itself and be re-emitted as unmatched too
      val matchedKeys = matched.select(left.columns.map(lcol): _*)
      val cond = left.columns
        .map(c => col(s"L.`${c.replace("`", "``")}`") <=>
          col(s"M.`${c.replace("`", "``")}`"))
        .reduce(_ && _)
      val unmatched = l.drop("__bin").as("L")
        .join(matchedKeys.as("M"), cond, "left_anti")
        .select(left.columns.map(lcol) ++
          right.columns.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
      matched.unionByName(unmatched)
    }
  }

  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
      rightCols: Seq[String], rightSuffix: String = "_right"): DataFrame = {
    val suffixed = rightCols.map(c => c -> s"$c$rightSuffix")
    // The matched right ROW travels as one struct: per-column
    // last(ignoreNulls) would skip a right row whose column value is
    // genuinely NULL and resurrect an older value — ASOF semantics match
    // rows, not values.
    val rType = org.apache.spark.sql.types.StructType(
      rightCols.map(c => right.schema(c).copy(nullable = true)))
    val l = left.withColumn("__tag", lit(1)).withColumn("__r", lit(null).cast(rType))
    val leftOnly = left.columns.filterNot(c => c == keyCol || c == tsCol)
    val r = leftOnly.foldLeft(
      right.select(col(keyCol), col(tsCol), struct(rightCols.map(col): _*).as("__r"))
        .withColumn("__tag", lit(0))) {
      case (d, c) => d.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .withColumn("__rlast", last(col("__r"), ignoreNulls = true).over(w))
    val extracted = suffixed.foldLeft(carried) {
      case (d, (c, sc)) => d.withColumn(sc, col("__rlast").getField(c))
    }
    extracted.filter(col("__tag") === 1).drop("__tag", "__r", "__rlast")
  }

  /** WEIGHT-PROPORTIONAL systematic sampling (PPS, Madow 1949): ~`target`
    * rows drawn with probability proportional to an integer weight column
    * (quality score, token count, click count) — the weighted-sampling
    * staple that Bernoulli `sample()` can't express. Rows are laid on a
    * cumulative-weight line in id order, and every `stride`-th point
    * (stride = max(1, ΣW div target), phase-shifted by `phase` mod
    * stride) selects the row whose weight interval it lands in. All
    * integer: cumulative starts from a distributed two-pass prefix sum
    * (the [[graft.operators.TextAnalysis.packWindows]] machinery — no
    * global window), hit counts from two truncating divisions kept
    * non-negative by construction (truncation == floor in every engine).
    * Deterministic and re-run-stable; a row with weight > stride is hit
    * multiple times (`n_hits` — standard PPS with-replacement
    * multiplicity, callers wanting without-replacement semantics treat
    * n_hits ≥ 1 as selected).
    *
    * 100 TB shape: one range-partitioned sort by id, one tiny
    * per-partition-totals collect (numPartitions longs), one map pass.
    * No global window, no driver-side data.
    */
  def weightedSystematicSample(df: DataFrame, idCol: String, weightCol: String,
      target: Long, phase: Long = 0L): DataFrame = {
    require(target > 0, s"target must be > 0, got $target")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df
      .select(col(idCol).cast("long").as("id"),
        greatest(lit(0L), col(weightCol).cast("long")).as("w"))
      .filter(col("w") > 0)
      .repartitionByRange(col("id")).sortWithinPartitions("id")
      .as[(Long, Long)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val partSums = rows.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var s = 0L
        it.foreach { case (_, w) => s += w }
        Iterator((pid, s))
      }.collect().sortBy(_._1)
      val total = partSums.map(_._2).sum
      require(total > 0, "weightedSystematicSample: no positive weights")
      val stride = math.max(1L, total / target)
      val off = ((phase % stride) + stride) % stride
      val offsets = partSums.map(_._2).scanLeft(0L)(_ + _).init
      val offByPid = partSums.map(_._1).zip(offsets).toMap
      val bc = spark.sparkContext.broadcast(offByPid)
      val withStart = rows.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var acc = bc.value.getOrElse(pid, 0L)
        it.map { case (id, w) => val start = acc; acc += w; (id, w, start) }
      }.toDF("id", "w", "start")
      // points at off, off+stride, ... ; hits in [start, start+w) =
      // pointsUpTo(start+w-1) - pointsUpTo(start-1), with pointsUpTo(x) =
      // (x + stride - off) div stride shifted so operands never go
      // negative (Spark div truncates toward zero, DuckDB // floors —
      // they only agree on non-negatives)
      withStart
        .withColumn("n_hits", expr(
          s"(start + w - 1 + ${stride}L - ${off}L) div ${stride}L - " +
            s"(start - 1 + ${stride}L - ${off}L) div ${stride}L"))
        .filter(col("n_hits") > 0)
        .select(col("id").as(idCol), col("w").as("weight"),
          col("start").as("global_start"), col("n_hits"))
        .localCheckpoint(true)
    } finally rows.unpersist()
  }

  /** TOKEN-BUDGET mixture sampling: per stratum, select documents in a
    * seeded pseudo-random order until the stratum's TOKEN budget is
    * exhausted — pretraining mixes are specified in tokens ("web 500B,
    * code 150B, books 50B"), not document counts, which is exactly the
    * gap [[mixtureSample]] (doc counts) and [[stratifiedSample]]
    * (fractions) leave open. A document is selected iff the tokens
    * accumulated BEFORE it in its stratum's order are < budget, so the
    * boundary document is included (budgets are met-or-slightly-exceeded,
    * never silently undershot; a stratum absent from `budgets` has
    * budget 0 and contributes nothing).
    *
    * The order key is the first 48 bits of md5(seed:id) (the
    * [[negativeSample]] convention): a pure function of (seed, id), so
    * selection is uniform over each stratum, reproducible across re-runs
    * and partitionings, and any engine replays it exactly.
    *
    * Scale shape: the cumulative-token line is the DISTRIBUTED two-pass
    * prefix sum of [[weightedSystematicSample]], generalized per stratum
    * — range-partition by (stratum, key, id), one per-(partition,
    * stratum) totals collect (numPartitions × strata longs), exclusive
    * offsets broadcast, one map-side emit pass. NO per-stratum window
    * (which would sort a "70% web" stratum on one reducer — the exact
    * skew mixtureSample's pre-reservoir exists to avoid).
    */
  def tokenBudgetSample(df: DataFrame, stratumCol: String, idCol: String,
      tokenCol: String, budgets: Map[String, Long],
      seed: Long = 42L): DataFrame = {
    require(budgets.nonEmpty, "tokenBudgetSample: need at least one budget")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df
      .select(lcol(stratumCol).cast("string").as("s"),
        lcol(idCol).cast("long").as("id"),
        greatest(lit(0L), lcol(tokenCol).cast("long")).as("tok"),
        conv(substring(md5(concat(lit(seed.toString), lit(":"),
          lcol(idCol).cast("long").cast("string"))), 1, 12), 16, 10)
          .cast("long").as("key"))
      .filter(col("s").isNotNull)
      .repartitionByRange(col("s"), col("key"), col("id"))
      .sortWithinPartitions("s", "key", "id")
      .as[(String, Long, Long, Long)]
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // pass 1: per-(partition, stratum) token totals — strata are
      // contiguous within a range partition, but a stratum may span
      // partitions, hence the per-stratum offset chain below
      val partials = rows.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val sums = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        it.foreach { case (s, _, tok, _) =>
          sums.update(s, sums.getOrElse(s, 0L) + tok)
        }
        sums.iterator.map { case (s, t) => (pid, s, t) }
      }.collect()
      // exclusive offset of each (partition, stratum): tokens of the same
      // stratum in all earlier partitions (range partitioning orders the
      // stratum's rows across partitions by (key, id))
      val byStratum = partials.groupBy(_._2)
      val offsets: Map[(Int, String), Long] = byStratum.flatMap {
        case (s, parts) =>
          val sorted = parts.sortBy(_._1)
          val offs = sorted.map(_._3).scanLeft(0L)(_ + _).init
          sorted.map(_._1).zip(offs).map { case (pid, off) => (pid, s) -> off }
      }
      val bc = spark.sparkContext.broadcast(offsets)
      val bcBudgets = spark.sparkContext.broadcast(budgets)
      rows.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cur: String = null
        var acc = 0L
        it.flatMap { case (s, id, tok, _) =>
          if (s != cur) { cur = s; acc = bc.value.getOrElse((pid, s), 0L) }
          val before = acc
          acc += tok
          if (before < bcBudgets.value.getOrElse(s, 0L))
            Some((s, id, tok, before))
          else None
        }
      }.toDF("stratum", "id", "n_tokens", "tokens_before")
        .localCheckpoint(true)
    } finally rows.unpersist()
  }

  /** PER-KEY QUOTA CAP: keep at most `n` rows per `keyCol` group — the
    * per-domain document cap every web-corpus curation pipeline runs
    * (C4/RefinedWeb-style "limit N pages per host" so one crawl-heavy
    * domain can't dominate the training mix). Kept rows are the group's
    * `n` BEST by `scoreCol` (ties → smaller id — a total order, so the
    * selection is deterministic and engine-replayable); with no score
    * column the cap keeps the `n` smallest ids (first-crawled under
    * monotone id assignment).
    *
    * Plan shape (the point of the operator): the winner election runs as
    * the partial-aggregating [[graft.functions.TopKAgg]] over a NARROW
    * (key, id, score) projection — each map task reduces every key it
    * sees to ≤ n entries before the one key shuffle, so shuffle volume is
    * O(keys × n × partitions-touched), independent of group skew. A hot
    * domain with 10M pages contributes n rows per map partition, never
    * 10M sorted rows — the window-function formulation
    * (`row_number over (partition by key order by score)`) would sort the
    * full group on one reducer, which is exactly what dies at 100 TB.
    * The wide frame then left-semi joins the bounded keeper set on
    * (key, id) — AQE broadcasts it when keys × n is small (the common
    * case) and falls back to a shuffled semi join when the key space
    * itself is huge; the wide rows never sort either way.
    *
    * `scoreCol` must cast to double exactly for determinism (integer
    * scores up to 2^53 — doc lengths, token counts, quality scores in
    * fixed point all qualify); ids likewise (long up to 2^53 negated for
    * the no-score path).
    */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String, n: Int,
      scoreCol: Option[String] = None): DataFrame = {
    require(n > 0, s"capPerKey: n must be > 0, got $n")
    val score = scoreCol match {
      // NULL scores rank LAST but still occupy under-quota slots (the
      // row_number NULLS-LAST contract): TopKAgg.update skips null-score
      // inputs entirely, so without the coalesce a NULL-score row would be
      // dropped even when its group is under quota — diverging from the
      // documented "keep at most n" semantics. -Infinity orders below every
      // real score and ties break on id as everywhere else.
      case Some(c) => coalesce(lcol(c).cast("double"),
        lit(Double.NegativeInfinity))
      case None    => -lcol(idCol).cast("long").cast("double")
    }
    val keepers = df
      .select(lcol(keyCol).as("__key"), lcol(idCol).cast("long").as("__id"),
        score.as("__score"))
      .groupBy(col("__key"))
      .agg(graft.functions.GraftFunctions.topK(col("__id"), col("__score"), n).as("__topk"))
      .select(col("__key"), explode(col("__topk")).as("__e"))
      .select(col("__key"), col("__e.id").as("__id"))
    df.join(keepers,
      lcol(keyCol) <=> col("__key") && lcol(idCol).cast("long") === col("__id"),
      "left_semi")
  }

  /** Narrow quota-store frame for INCREMENTAL [[capPerKey]]: the kept
    * rows' (key, id, score) — bounded at n per key, so the store is
    * O(keys × n) however much history it summarizes. Persist through the
    * Warehouse like the other operator stores (39c / 38h-inc / 22c-s).
    */
  def quotaStore(df: DataFrame, keyCol: String, idCol: String, n: Int,
      scoreCol: Option[String] = None): DataFrame =
    storeProjection(capPerKey(df, keyCol, idCol, n, scoreCol),
      keyCol, idCol, scoreCol)

  /** Incremental per-key quota maintenance: fold an arriving batch into
    * the store — union the bounded store with the batch's narrow
    * projection and re-elect. EXACT parity with the one-shot cap over
    * everything seen: top-n election under the total (score desc, id asc)
    * order is associative (top-n of top-n ∪ new == global top-n), the
    * same min-k composition argument as the streaming mixture reservoir.
    * A newly-arrived better row EVICTS a stored one (diff the store
    * frames to emit deletions downstream); history rows never re-scan —
    * per batch the work is O(store ∩ touched keys + batch).
    *
    * RE-DELIVERY is idempotent: an id arriving again SUPERSEDES its
    * store row (the incremental-dedup contract), and duplicate (key, id)
    * rows within one batch collapse to their best score first — without
    * this, TopKAgg keeps ENTRIES, so a re-delivered row would occupy two
    * top-n slots, wrongly evict a distinct row, and leave duplicate
    * store rows.
    */
  def updateQuotaStore(store: DataFrame, batch: DataFrame, keyCol: String,
      idCol: String, n: Int, scoreCol: Option[String] = None): DataFrame = {
    val batchRows = storeProjection(batch, keyCol, idCol, scoreCol)
      .groupBy(lcol(keyCol), lcol(idCol))
      .agg(max(col("__score")).as("__score"))
    val survivors = store.join(
      batchRows.select(lcol(keyCol).as("__bk"), lcol(idCol).as("__bi")),
      lcol(keyCol) <=> col("__bk") && lcol(idCol) === col("__bi"), "left_anti")
    capPerKey(survivors.unionByName(batchRows),
      keyCol, idCol, n, scoreCol.map(_ => "__score"))
  }

  private def storeProjection(df: DataFrame, keyCol: String, idCol: String,
      scoreCol: Option[String]): DataFrame =
    df.select(lcol(keyCol).as(keyCol), lcol(idCol).cast("long").as(idCol),
      scoreCol.map(c => lcol(c).cast("double")).getOrElse(lit(null).cast("double"))
        .as("__score"))

  /** BLOOM-PREFILTERED JOIN: the semi-join-reduction technique of every
    * distributed warehouse — before shuffling a huge fact side into a
    * join, probe each row against a Bloom filter of the (much smaller,
    * typically pre-filtered) dimension side's join keys and drop
    * non-matching rows MAP-SIDE, at the scan. At 100 TB the shuffle is
    * the join's dominant cost, and a selective dimension filter ("this
    * week's orders") means most fact rows shuffle only to be discarded;
    * the Bloom probe discards them before the exchange for the cost of a
    * broadcast bitmap. Spark's own runtime bloom-filter injection covers
    * some shapes under AQE; this is the explicit, always-on form with a
    * chosen fpp.
    *
    * Correctness: the probe key is xxhash64 over the key struct on BOTH
    * sides, the sketch has NO false negatives, and false positives are
    * eliminated by the exact join that follows — the result is
    * row-identical to the plain join (the oracle + parity spec pin it).
    * Restricted to `inner` and `left_semi` joins, the two shapes where
    * dropping provably-unmatched left rows cannot change the result.
    *
    * The filter build is DISTRIBUTED (`stat.bloomFilter` treeAggregates
    * per-partition sketches — keys never collect to the driver) and
    * sized from a cheap count of the small side (which callers should
    * hand in pre-filtered and narrow).
    */
  def bloomPrefilteredJoin(big: DataFrame, small: DataFrame, on: Seq[String],
      how: String = "inner", fpp: Double = 0.01): DataFrame = {
    require(on.nonEmpty, "bloomPrefilteredJoin: need join columns")
    require(how == "inner" || how == "left_semi",
      s"bloomPrefilteredJoin: only inner/left_semi are filter-safe, got $how")
    // The probe hash must agree WHENEVER THE JOIN WOULD MATCH, or the
    // no-false-negative contract is voided one layer up: xxhash64 hashes
    // an int and a long holding the same value DIFFERENTLY (4- vs 8-byte
    // paths), while the equi-join coerces them equal — an un-normalized
    // hash would silently drop matching fact rows. Normalize each key to
    // the joint family the join itself coerces to (integrals → long,
    // mixed numerics → double) and REFUSE cross-family pairs outright
    // (explicit beats silently-empty).
    import org.apache.spark.sql.types._
    def isIntegral(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType => true; case _ => false
    }
    def isNumeric(t: DataType) = isIntegral(t) || (t match {
      case FloatType | DoubleType | _: DecimalType => true; case _ => false
    })
    def normKey(df: DataFrame, other: DataFrame, c: String): Column = {
      val (ta, tb) = (df.schema(c).dataType, other.schema(c).dataType)
      if (isIntegral(ta) && isIntegral(tb)) df(c).cast("long")
      else if (isNumeric(ta) && isNumeric(tb)) df(c).cast("double")
      else {
        require(ta == tb,
          s"bloomPrefilteredJoin: join column $c has incompatible types " +
            s"($ta vs $tb) — cast the sides to one type first")
        df(c)
      }
    }
    def keyHash(df: DataFrame, other: DataFrame): Column =
      xxhash64(on.map(c => normKey(df, other, c)): _*)
    // one materialization serves the count (bloom sizing) and the build;
    // without it the small side's plan runs twice before the join even
    // starts (three times total for a derived dimension)
    val keys = small.select(keyHash(small, big).as("__h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bloom =
      try {
        val expected = math.max(1000L, keys.count())
        keys.stat.bloomFilter("__h", expected, fpp)
      } finally keys.unpersist(blocking = false)
    val bigFiltered = big.filter(
      graft.functions.GraftFunctions.bloomContainsLong(keyHash(big, small), bloom))
    bigFiltered.join(small, on, how)
  }

  /** SORTED-NEIGHBORHOOD Jaro-Winkler self-join (Hernández & Stolfo,
    * SIGMOD 1995): all record pairs within `window` positions of each
    * other in the (string, id) sort order whose Jaro-Winkler similarity
    * clears `minSimE6`/10⁶ — the classic cheap record-linkage blocking
    * for the metric that weights shared prefixes (names, titles, keys):
    * JW admits no pigeonhole cover (unlike edit distance's segments or
    * jaccard's prefix lemma), but high-JW strings share prefixes and
    * prefixes cluster under a lexicographic sort, so a small window
    * catches them at n·(window−1) candidates instead of n².
    * Complements [[fuzzyJoin]] (order-insensitive gram jaccard) and
    * [[editDistanceJoin]] (keystroke distance) — three metrics, three
    * blockings.
    *
    * Determinism and scale: the global rank comes from a range-shuffle
    * sort + `zipWithIndex` (per-partition counts → offsets — two narrow
    * passes, NO single-partition window; the order (string, id) is
    * total so the rank is reproducible). Candidates are `window−1`
    * rank-offset equi-joins expressed as one explode + join; each
    * candidate pays ONE [[graft.functions.Kernels.jaroWinkler]] call.
    * The filter compares the e6-ROUNDED score (inclusive), which both
    * engines derive from bit-identical doubles.
    *
    * Recall is the sorted-neighborhood contract: a qualifying pair
    * further than `window` apart in sort order is missed (e.g. a typo
    * in the FIRST character). Classic practice composes passes over
    * different sort keys; here one pass is the verb and composition is
    * a union.
    *
    * Returns `(id_a, id_b, jw_e6)`, id_a/id_b in sort order, each pair
    * once.
    */
  def jaroWinklerJoin(df: DataFrame, idCol: String, strCol: String,
      minSimE6: Long = 900000L, window: Int = 8): DataFrame = {
    require(minSimE6 > 0 && minSimE6 <= 1000000L,
      s"jaroWinklerJoin: minSimE6 must be in (0, 1000000] (got $minSimE6)")
    require(window >= 2 && window <= 1000,
      s"jaroWinklerJoin: window must be in [2, 1000] (got $window)")
    val spark = df.sparkSession
    val base = df.select(col(idCol).cast("long").as("id"),
        col(strCol).cast("string").as("str"))
      .where(col("id").isNotNull && col("str").isNotNull)
    // exact global rank without a single-partition window: range-sort,
    // then zipWithIndex (one count pass + one narrow map)
    val ranked = base
      .repartitionByRange(col("str"), col("id"))
      .sortWithinPartitions("str", "id")
      .select(col("id"), col("str"))
      .rdd.zipWithIndex()
      .map { case (r, rk) => (r.getLong(0), r.getString(1), rk) }
    val rdf = spark.createDataFrame(ranked).toDF("id", "str", "rk")
    val probes = rdf
      .withColumn("off", explode(sequence(lit(1), lit(window - 1))))
      .select(col("id").as("id_a"), col("str").as("sa"),
        (col("rk") + col("off")).as("rk"))
    probes.join(rdf.select(col("id").as("id_b"), col("str").as("sb"),
        col("rk")), "rk")
      .withColumn("jw_e6", round(graft.functions.GraftFunctions.jaroWinkler(
        col("sa"), col("sb")) * 1000000).cast("bigint"))
      .where(col("jw_e6") >= minSimE6)
      .select("id_a", "id_b", "jw_e6")
  }

  /** PHONETIC (Soundex) blocking self-join — the FOURTH record-linkage
    * blocking next to gram-prefix (fuzzyJoin), segment-pigeonhole
    * (editDistanceJoin), and sorted-neighborhood (jaroWinklerJoin):
    * candidates are pairs sharing an American Soundex code
    * ([[graft.functions.Kernels.soundex]]), verified with the
    * Jaro-Winkler kernel at `minSimE6`/10⁶. Phonetic blocking has
    * perfect recall for the misspellings the OTHER blockings are
    * weakest on — vowel substitutions never change a Soundex code, so
    * "Smith"/"Smyth" or "merge"/"morgo" collide by construction —
    * while consonant-class typos can escape (documented recall trade,
    * spec-pinned; classic practice composes blockings by union).
    *
    * Scale shape: one map pass to code, ONE equi-join shuffle on the
    * 4-byte code, exact verification only within blocks. Soundex
    * blocks are naturally coarse (≤ 26·7³ codes exist), so hot blocks
    * above `maxBlock` rows are DROPPED whole (aggregate + broadcast
    * anti-join, the minhashLsh cap convention — a loud recall trade,
    * never a quadratic blowup).
    *
    * Returns (id_a, id_b, sx, jw_e6), id_a < id_b.
    */
  def soundexJoin(df: DataFrame, idCol: String, strCol: String,
      minSimE6: Long = 800000L, maxBlock: Int = 100000): DataFrame = {
    require(minSimE6 > 0 && minSimE6 <= 1000000L,
      s"soundexJoin: minSimE6 must be in (0, 1000000] (got $minSimE6)")
    require(maxBlock >= 2,
      s"soundexJoin: maxBlock must be >= 2 (got $maxBlock)")
    val base = df.select(col(idCol).cast("long").as("id"),
        col(strCol).cast("string").as("str"))
      .where(col("id").isNotNull && col("str").isNotNull)
      .withColumn("sx", graft.functions.GraftFunctions.soundex(col("str")))
      .where(col("sx").isNotNull)
    val hot = base.groupBy("sx").count()
      .where(col("count") > maxBlock).select("sx")
    val kept = base.join(broadcast(hot), Seq("sx"), "left_anti")
    kept.select(col("sx"), col("id").as("id_a"), col("str").as("__sa"))
      .join(kept.select(col("sx"), col("id").as("id_b"), col("str").as("__sb")),
        "sx")
      .where(col("id_a") < col("id_b"))
      .withColumn("jw_e6", round(graft.functions.GraftFunctions.jaroWinkler(
        col("__sa"), col("__sb")) * 1000000).cast("bigint"))
      .where(col("jw_e6") >= minSimE6)
      .select("id_a", "id_b", "sx", "jw_e6")
  }

  /** EDIT-DISTANCE SELF-JOIN (PassJoin, Li et al. VLDB 2011): every
    * unordered pair of rows whose strings are within `maxDist`
    * Levenshtein edits — the typo/OCR-variant record-linkage metric
    * [[fuzzyJoin]]'s gram-jaccard deliberately is not (jaccard is
    * order-insensitive and length-normalized; edit distance counts the
    * actual keystrokes).
    *
    * Blocking is the PassJoin pigeonhole: split every string into
    * `maxDist + 1` segments (balanced convention: with q = k+1, base =
    * len div q, rem = len mod q, the FIRST q−rem segments take `base`
    * chars and the last rem take base+1 — both engines and both sides
    * derive the same layout from the length alone). If ed(s, t) ≤ k, at
    * least one segment of s is untouched by any edit, so it occurs in t
    * VERBATIM at a position shifted by at most k. Candidates are
    * therefore an equi-join of index-side segments against probe-side
    * substrings enumerated per (source length ±k, segment, ±k
    * position) — O((2k+1)²·(k+1)) probes per row, all map-side — then
    * one exact `levenshtein` verification per deduped candidate pair.
    * No all-pairs anywhere; strings shorter than k+1 chars (no
    * non-empty segments) fall back to a bounded short×short block.
    *
    * Returns `(id_a, id_b, dist)`, id_a < id_b, each pair once.
    */
  def editDistanceJoin(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    requireMaxDist(maxDist)
    val k = maxDist
    val s = editBase(df, idCol, strCol)
    val candLong = segmentIndex(s, k, "id_a")
      .join(segmentProbes(s, k, "id_b"), Seq("src_len", "seg_idx", "seg"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // short strings (< k+1 chars): any within-k partner has len <= 2k —
    // a bounded block, not a corpus cross join; emitted as (min, max) so
    // the pair is covered whichever side holds the smaller id
    val candShort = s.filter(col("len") < k + 1).select(col("id").as("__x"))
      .crossJoin(s.filter(col("len") <= 2L * k).select(col("id").as("__y")))
      .where(col("__x") =!= col("__y"))
      .select(least(col("__x"), col("__y")).as("id_a"),
        greatest(col("__x"), col("__y")).as("id_b"))
    editVerify(candLong.unionByName(candShort).distinct(), "id_a", s, "id_b", s, k)
      .select("id_a", "id_b", "dist")
  }

  private def requireMaxDist(maxDist: Int): Unit =
    require(maxDist >= 1 && maxDist <= 8,
      s"maxDist must be in [1, 8] (got $maxDist)")

  /** The PassJoin input shape: `(id, str, len)` of every row whose id
    * and string are both non-null. */
  private def editBase(df: DataFrame, idCol: String, strCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        col(strCol).cast("string").as("str"))
      .where(col("id").isNotNull && col("str").isNotNull)
      .withColumn("len", length(col("str")))

  /** PassJoin's segment layout, as SQL over a length `l` and a segment
    * number `i` for q = k+1 segments: segment i's 1-based start and its
    * length. Index and probe derive the same layout from the length
    * alone. */
  private def segStart(q: Int, l: String, i: String): String =
    s"1 + $i * ($l div $q) + greatest($i - ($q - $l % $q), 0)"

  private def segLen(q: Int, l: String, i: String): String =
    s"($l div $q) + IF($i >= $q - $l % $q, 1, 0)"

  /** The PassJoin index: `(idName, src_len, seg_idx, seg)`, the k+1
    * segments of every string of at least k+1 chars. */
  private def segmentIndex(base: DataFrame, k: Int, idName: String): DataFrame = {
    val q = k + 1
    base.filter(col("len") >= q)
      .select(col("id").as(idName), col("len").as("src_len"),
        explode(expr(
          s"""transform(sequence(0, $k), i -> struct(
             |  i AS seg_idx,
             |  substring(str, ${segStart(q, "len", "i")}, ${segLen(q, "len", "i")}) AS seg))"""
            .stripMargin)).as("p"))
      .select(col(idName), col("src_len"), col("p.seg_idx"), col("p.seg"))
  }

  /** The PassJoin probes: `(idName, src_len, seg_idx, seg)`, the
    * substrings of every string of at least k+1 chars at every (source
    * length, segment, shifted position) a within-k partner could have
    * indexed. All map-side. */
  private def segmentProbes(base: DataFrame, k: Int, idName: String): DataFrame = {
    val q = k + 1
    base.filter(col("len") >= q)
      .select(col("id").as(idName), col("str"), col("len"),
        explode(expr(
          s"""flatten(transform(
             |  IF(len + $k >= $q, sequence(greatest(len - $k, $q), len + $k), array()),
             |  L -> flatten(transform(sequence(0, $k), i ->
             |    transform(
             |      IF(least(${segStart(q, "L", "i")} + $k,
             |               len - ${segLen(q, "L", "i")} + 1) >=
             |         greatest(${segStart(q, "L", "i")} - $k, 1),
             |        sequence(greatest(${segStart(q, "L", "i")} - $k, 1),
             |                 least(${segStart(q, "L", "i")} + $k,
             |                       len - ${segLen(q, "L", "i")} + 1)),
             |        array()),
             |      p -> struct(L AS src_len, i AS seg_idx,
             |        substring(str, p, ${segLen(q, "L", "i")}) AS seg))))))"""
            .stripMargin)).as("pr"))
      .select(col(idName), col("pr.src_len"), col("pr.seg_idx"), col("pr.seg"))
  }

  /** The PassJoin verify: the candidate pairs (`a`, `b`) pinned to one
    * wave of tasks (the fuzzyJoinImpl rule — AQE coalesces the pair
    * stream by bytes), each side's string joined on from its `(id, str)`
    * frame as `__sa` / `__sb`, and the pairs within `k` edits kept with
    * their `dist`. The 3-argument levenshtein is the banded O(k·n) DP
    * with early exit: it returns -1 above `k` and the exact distance
    * otherwise, so surviving rows and their dist values are those of
    * the unbounded form. */
  private def editVerify(cand: DataFrame, a: String, aText: DataFrame,
      b: String, bText: DataFrame, k: Int): DataFrame =
    cand.repartition(verifyFanout(cand))
      .join(aText.select(col("id").as(a), col("str").as("__sa")), a)
      .join(bText.select(col("id").as(b), col("str").as("__sb")), b)
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), k).cast("long"))
      .where(col("dist") >= 0 && col("dist") <= k)

  /** PassJoin SEGMENT STORE for [[editDistanceJoinIncremental]]: the
    * index side of [[editDistanceJoin]] materialized as a narrow frame —
    * one row per (id, src_len, seg_idx, seg), `maxDist + 1` rows per
    * string of length ≥ maxDist + 1 (shorter strings carry no segments
    * and are handled by the incremental short fallback, which scans the
    * history text table). Persist it once through the Warehouse and
    * append each batch's own segments after processing; bucket by
    * `seg` at warehouse scale so the probe prunes buckets (the
    * [[graft.operators.Dedup.spanAnchorStore]] convention).
    */
  def editSegmentStore(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    requireMaxDist(maxDist)
    segmentIndex(editBase(df, idCol, strCol), maxDist, "id")
  }

  /** INCREMENTAL edit-distance join: all within-`maxDist` Levenshtein
    * pairs of `history ∪ newDf` in which at least one side is a batch
    * row — history is never re-segmented (its persisted
    * [[editSegmentStore]] is probed instead) and old-vs-old pairs are
    * never generated (the minhashLshIncremental contract). A batch id
    * that is also in history supersedes it: its history and store rows
    * drop ([[Dedup.supersede]]), so the result equals [[editDistanceJoin]]
    * over (history minus the batch's ids) ∪ batch, restricted to pairs
    * with a batch side.
    *
    * new×new pairs come from the plain [[editDistanceJoin]] over the
    * batch alone. new×old pairs apply the PassJoin pigeonhole with
    * HISTORY as the index side (if ed(old, new) ≤ k, some segment of
    * `old` appears verbatim in `new` at a position shifted ≤ k): the
    * batch's probe substrings are enumerated map-side, their DISTINCT
    * (src_len, seg_idx, seg) keys BROADCAST into a left-semi prune of
    * the store — the store never shuffles, and with a seg-bucketed
    * store the probe also prunes buckets — then only the surviving
    * (bounded) index rows equi-join the probes. Short strings (< k+1
    * chars, no segments) fall back to bounded blocks that keep a new
    * side: batch-short × (history ≤ 2k chars) and history-short ×
    * (batch ≤ 2k chars), each a map-side scan of history against a
    * broadcast batch set. History text is fetched only for the bounded
    * candidate ids (broadcast probe — the sharedSpansIncremental text
    * fetch shape), then ONE exact `levenshtein` per deduped candidate.
    *
    * Returns `(id_a, id_b, dist)`, id_a < id_b, each pair once.
    */
  def editDistanceJoinIncremental(
      newDf: DataFrame, idCol: String, strCol: String,
      store: DataFrame, history: DataFrame, maxDist: Int): DataFrame = {
    requireMaxDist(maxDist)
    val k = maxDist
    val q = k + 1
    val newBase = editBase(newDf, idCol, strCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // every batch id supersedes, null or short strings included
    val newIds = newDf.select(col(idCol).cast("long").as("id"))
    val oldBase = Dedup.supersede(editBase(history, idCol, strCol), newIds)
    val probes = segmentProbes(newBase, k, "id_n")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // store probe: only keys the batch actually enumerates can pair with
    // it; the distinct key set broadcasts so the store NEVER shuffles
    // (post-distinct stats can push the planner to sort-merge otherwise —
    // the sharedSpansIncremental lesson, measured 2× there)
    val pruned = Dedup.supersede(
        store.select(col("id"), col("src_len"), col("seg_idx"), col("seg")), newIds)
      .join(broadcast(probes.select("src_len", "seg_idx", "seg").distinct()),
        Seq("src_len", "seg_idx", "seg"), "left_semi")
    val candCross = pruned
      .join(probes, Seq("src_len", "seg_idx", "seg"))
      .select(col("id").as("id_o"), col("id_n"))
    // short fallback, both directions, always one new side; the history
    // scans are map-side against broadcast batch sets
    val newShort = newBase.filter(col("len") < q)
    val shortA = broadcast(newShort.select(col("id").as("id_n")))
      .crossJoin(oldBase.filter(col("len") <= 2L * k).select(col("id").as("id_o")))
    val shortB = oldBase.filter(col("len") < q).select(col("id").as("id_o"))
      .crossJoin(broadcast(
        newBase.filter(col("len") <= 2L * k).select(col("id").as("id_n"))))
    val mixed = candCross.unionByName(shortA.select("id_o", "id_n"))
      .unionByName(shortB.select("id_o", "id_n")).distinct()
    // text fetch in the O(batch + matches) shape: bounded old candidate
    // ids broadcast into one map-side history scan
    val neededOld = mixed.select(col("id_o").as("id")).distinct()
    val fetchedOld = oldBase.join(broadcast(neededOld), Seq("id"))
      .select(col("id"), col("str"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // no broadcast() hint on the fetched-history side: the candidate id
    // set can approach full history on dense corpora (driver OOM risk —
    // fuzzyJoinIncremental removed the same hint after a measured OOM at
    // the 500k probe); AQE still broadcasts when it is actually small
    val mixedPairs = editVerify(mixed, "id_o", fetchedOld, "id_n", newBase, k)
      .select(least(col("id_o"), col("id_n")).as("id_a"),
        greatest(col("id_o"), col("id_n")).as("id_b"), col("dist"))
    val newNew = editDistanceJoin(newBase, "id", "str", k)
    val result = mixedPairs.unionByName(newNew)
    // steady-state ingestion: eager bounded pair frame, caches released
    val out = result.localCheckpoint(eager = true, storageLevel = StorageLevel.MEMORY_AND_DISK)
    newBase.unpersist()
    probes.unpersist()
    fetchedOld.unpersist()
    out
  }
}

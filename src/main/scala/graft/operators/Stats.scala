package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Warehouse.literalCol
import graft.functions.GraftFunctions.ilog2FpCol

/** Approximate aggregates — the 100 TB answer to "how many distinct users"
  * and "what's the p95": HyperLogLog++ and a mergeable quantile sketch,
  * both single-pass, partial-aggregated map-side, with bounded error and
  * bounded memory (vs countDistinct's full shuffle of every distinct value
  * and exact percentile's full sort).
  */
object Stats {

  /** approx_count_distinct (HLL++) per group; rsd = relative std deviation. */
  def approxDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
      rsd: Double = 0.05): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(approx_count_distinct(col(valueCol), rsd).as(s"approx_distinct_$valueCol"))

  /** Approximate quantiles (Greenwald-Khanna) of a numeric column. */
  def approxQuantiles(df: DataFrame, valueCol: String,
      probabilities: Seq[Double], relativeError: Double = 0.01): Seq[Double] =
    df.stat.approxQuantile(valueCol, probabilities.toArray, relativeError).toSeq

  /** Materialized HLL sketch per group (Datasketches bytes) — the
    * INCREMENTAL distinct-count pattern: persist one small sketch per
    * partition/day, answer "distinct over any date range" later by
    * merging sketches with [[mergeSketchDistinct]] instead of rescanning
    * 100 TB of raw data. lgConfigK 12 ⇒ ~4 KB per sketch, ~1.6% rsd.
    */
  def sketchDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
      lgConfigK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgConfigK)).as(s"sketch_$valueCol"))

  /** Merge per-group sketches down to `mergeCols` and estimate the
    * distinct count — e.g. daily sketches → monthly uniques. No raw-data
    * rescan; the shuffle carries only sketch bytes.
    */
  def mergeSketchDistinct(sketches: DataFrame, mergeCols: Seq[String],
      sketchCol: String): DataFrame =
    sketches.groupBy(mergeCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col(sketchCol)))
        .as("approx_distinct_merged"))

  /** Heavy hitters (frequent items) of a string column via the mergeable
    * Misra-Gries sketch ([[graft.functions.MisraGriesAgg]]): at most `k`
    * (item, est_count) rows per group with the guarantee
    * `true − n/(k+1) ≤ est ≤ true` — every item with frequency > n/(k+1)
    * is present. Single pass, map-side partial aggregation, shuffle
    * volume numPartitions × k (× groups) independent of cardinality — the
    * scalable complement to [[approxDistinct]] for "WHAT are the top
    * values", not just how many. While distinct items ≤ k the counters
    * are exact. With `groupCols` (top domains per language, top error
    * codes per service) the rows lead with the group columns; with none
    * it is one global sketch (`groupBy()` plans as `agg`).
    */
  def heavyHitters(df: DataFrame, valueCol: String, k: Int = 64,
      groupCols: Seq[String] = Nil): DataFrame = {
    val g = groupCols.map(col)
    df.groupBy(g: _*)
      .agg(graft.functions.GraftFunctions.heavyHitters(col(valueCol), k).as("hh"))
      .select(g :+ explode(col("hh")).as("h"): _*)
      .select(g :+ col("h.item").as("item") :+ col("h.est_count").as("est_count"): _*)
  }

  /** Join-key skew profile: the operational question behind every slow
    * join — "is one key hot, and how hot?" — answered in ONE bounded
    * pass. Emits the top `k` keys by (estimated) frequency with total
    * rows and the skew factor est/(n/k_distinct-ish): `est_count`, the
    * key's share `share_e6` (floor(10⁶·est/n), integer-exact), and the
    * row total. Uses [[heavyHitters]] (Misra-Gries) so the pass costs
    * partitions × k shuffle rows at ANY cardinality; while distinct keys
    * ≤ k the counts are exact. Keys are profiled as their string form
    * (concat_ws on multi-column keys) — the same shape a salt decision
    * needs ([[Relational.saltedJoin]] is the fix this diagnoses).
    */
  def skewProfile(df: DataFrame, keyCols: Seq[String], k: Int = 64): DataFrame = {
    require(keyCols.nonEmpty, "skewProfile: at least one key column")
    // \u0001 separator: multi-column keys must not alias across the boundary
    val keyed = df.select(concat_ws("\u0001",
      keyCols.map(c =>
        coalesce(col(c).cast("string"), lit("\u0002null\u0003"))): _*).as("__key"))
    // NULL components coalesce to a control-char-framed sentinel above:
    // concat_ws SKIPS nulls, which would merge ("a",NULL) with (NULL,"a")
    // row total and the sketch fold into ONE aggregation pass (no action)
    keyed
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.GraftFunctions.heavyHitters(col("__key"), k).as("hh"))
      .select(col("n_rows"), explode(col("hh")).as("h"))
      .select(col("h.item").as("item"), col("h.est_count").as("est_count"),
        col("n_rows"))
      .withColumn("share_e6",
        expr("CAST((CAST(est_count AS decimal(38,0)) * 1000000) div " +
          "CAST(n_rows AS decimal(38,0)) AS long)"))
  }

  /** Merge Misra-Gries sketch FRAMES (item, est_count) — the relational
    * form of [[graft.functions.MisraGriesAgg]]'s merge, for sketches that
    * live as TABLES (a streaming store, per-partition/per-day sketches to
    * roll up): sum counters per item, and if more than k items survive,
    * subtract the (k+1)-th largest total from every counter and evict
    * ≤ 0 (Agarwal et al., "Mergeability of Summaries", PODS 2012 — the
    * combined sketch keeps the summed-N error bound). Identical
    * arithmetic to the in-aggregate merge, so store-then-merge and
    * one-shot sketching give the same guarantee; while total distinct
    * items ≤ k nothing is ever subtracted and counters stay EXACT.
    *
    * Bounded input (sketches are ≤ k rows each); the (k+1)-th-largest
    * cut is a bounded sort over ≤ a few k rows, computed with an exact
    * per-item aggregation + a cross-joined scalar — no window over data.
    */
  def mergeHeavyHitterSketches(sketches: DataFrame, k: Int = 64): DataFrame = {
    val tot = sketches.groupBy("item")
      .agg(sum(col("est_count")).as("est_count"))
    val cut = tot.select(col("est_count"))
      .orderBy(col("est_count").desc).limit(k + 1)
      .agg(when(count(lit(1)) > k, min(col("est_count")))
        .otherwise(lit(0L)).as("__cut"))
    tot.crossJoin(broadcast(cut))
      .filter(col("est_count") > col("__cut"))
      .select(col("item"), (col("est_count") - col("__cut")).as("est_count"))
  }

  /** One micro-batch of a STREAMING heavy-hitters store: sketch the
    * arriving batch and merge it into the persisted (item, est_count)
    * store frame via [[mergeHeavyHitterSketches]] — the 39c
    * signature-store pattern for frequency sketches. Wire it under
    * `foreachBatch` (store in a warehouse table; StatsSpec drives the
    * MemoryStream form): state is ≤ k rows per group of interest,
    * independent of stream length.
    */
  def updateHeavyHitterStore(store: DataFrame, batch: DataFrame,
      valueCol: String, k: Int = 64): DataFrame =
    mergeHeavyHitterSketches(
      store.select(col("item"), col("est_count"))
        .unionByName(heavyHitters(batch, valueCol, k)), k)

  /** One-pass numeric summary per group: count, mean, stddev, min, max,
    * approx p50/p95 (percentile_approx is a mergeable sketch, safe at any
    * group cardinality).
    */
  def summarize(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    val v = col(valueCol)
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(v).as("n"),
        avg(v).as("mean"),
        stddev_samp(v).as("stddev"),
        min(v).as("min"),
        max(v).as("max"),
        percentile_approx(v, lit(0.5), lit(10000)).as("p50"),
        percentile_approx(v, lit(0.95), lit(10000)).as("p95"))
  }

  // ---- distribution drift ----------------------------------------------

  /** The PSI tail shared by the numeric and categorical drift forms, so
    * the two cannot diverge: over a frame of (`keyCol`, raw_a, raw_b)
    * counts, add-one smoothing (ca, cb ≥ 1 — the standard empty-bin
    * guard, which also keeps the log total), both sides' totals Na/Nb,
    * then one Population Stability Index term per key, in LOG2 units
    * (PSI₂ = PSI / ln 2) and e9 fixed point:
    *
    *   psi2_e9 = (pa − pb) · log2(pa / pb) · 10^9
    *           = (ca·Nb − cb·Na) · (ilog2Fp(ca·Nb) − ilog2Fp(cb·Na))
    *             · 10^9 / (Na · Nb · 2^20)
    *
    * Every operation is integer (the wide products ride in
    * decimal(38,0), the BM25 precedent), so any engine replays each
    * term — and the integer-summable total — bit-identically. No
    * transcendental libm call anywhere: cross-engine `ln` is NOT
    * bit-stable, `Kernels.ilog2Fp` is. `div` is Spark's truncating
    * integral division on decimals (= DuckDB `//` on HUGEINT for these
    * non-negative terms — the skewProfile precedent); the term is
    * mathematically ≥ 0 because (pa − pb) and log(pa/pb) always share a
    * sign, so truncation == floor in both engines. Domain bound: Na·Nb
    * must stay below 2^62 (counts to ~1.5e9 a side — drift-compare
    * daily partitions, not raw century-scale tables).
    *
    * Returns (`keyCol`, n_a, n_b, psi2_e9) ordered by `keyCol`.
    */
  private def psiFromCounts(counts: DataFrame, keyCol: String): DataFrame =
    counts
      .select(col(keyCol),
        (coalesce(col("raw_a"), lit(0L)) + 1L).as("n_a"),
        (coalesce(col("raw_b"), lit(0L)) + 1L).as("n_b"))
      .withColumn("__na", sum(col("n_a")).over())
      .withColumn("__nb", sum(col("n_b")).over())
      .withColumn("__x", col("n_a") * col("__nb"))
      .withColumn("__y", col("n_b") * col("__na"))
      .withColumn("__dl", ilog2FpCol(col("__x")) - ilog2FpCol(col("__y")))
      .withColumn("psi2_e9", expr(
        "CAST((CAST(__x - __y AS decimal(38,0)) * __dl * 1000000000) div " +
          "(CAST(__na AS decimal(38,0)) * __nb * 1048576) AS long)"))
      .select(col(keyCol), col("n_a"), col("n_b"), col("psi2_e9"))
      .orderBy(keyCol)

  /** Numeric distribution drift between two snapshots: both sides binned
    * on the SAME fixed [lo, hi] × nBins grid (out-of-range values clamp
    * into the edge bins — the PSI bucketing convention; the grid is a
    * declared contract, not data-derived, so re-runs and engines agree),
    * then one per-bin PSI₂ term from the smoothed counts. Total drift =
    * SUM(psi2_e9) — a plain integer sum; ≥ 0.25·e9-ish in ln units
    * (≈ 0.36·e9 in log2) is the usual "investigate" bar.
    *
    * Plan shape: one scan + one nBins-row groupBy per side, a broadcast
    * join of two ≤ nBins-row frames — nothing data-sized shuffles.
    */
  def driftNumeric(before: DataFrame, after: DataFrame, valueCol: String,
      lo: Double, hi: Double, nBins: Int = 10): DataFrame =
    driftAgainstStore(
      histogramStore(before, valueCol, lo, hi, nBins),
      histogramStore(after, valueCol, lo, hi, nBins), nBins)

  /** Fixed-grid histogram of a numeric column as a (bin, n) FRAME — the
    * persistable form of [[driftNumeric]]'s binning (same grid contract,
    * same edge-clamping). Histograms on a shared grid are trivially
    * MERGEABLE (counts add), so the store pattern applies: persist one
    * per day/partition through the Warehouse, roll up with
    * [[updateHistogramStore]], and compare any two ranges later with
    * [[driftAgainstStore]] — drift over any window without rescanning
    * raw history (the 39c signature-store pattern for distributions).
    *
    * With `keyCol` it is one histogram per group as a narrow (k, bin, n)
    * frame (`k` = the key as a string), exactly mergeable per (k, bin) —
    * so per-language/per-source value distributions roll up through the
    * same discipline and [[quantilesFromHistogramStore]] answers "p95
    * length per language" over any accumulated range. NULL keys drop (a
    * NULL group is not a trackable series). The store verbs below read
    * the key from the store's own columns, so every one of them serves
    * both shapes — the global store is the keyed store with no key.
    */
  def histogramStore(df: DataFrame, valueCol: String,
      lo: Double, hi: Double, nBins: Int = 10,
      keyCol: Option[String] = None): DataFrame = {
    require(nBins >= 2 && hi > lo, s"need nBins >= 2 and hi > lo")
    // clamp in DOUBLE space BEFORE floor/cast: a wild outlier (3e10, or
    // Infinity) would otherwise blow the int cast under ANSI mode
    // (CAST_OVERFLOW) instead of landing in the edge bin — a drift
    // monitor exists precisely to survive corrupt rows. NaN clamps to
    // the top bin (NaN sorts greatest in both engines).
    val raw = (col(valueCol).cast("double") - lit(lo)) * lit(nBins) / lit(hi - lo)
    val key = keyCol.toSeq.map(c => col(c).cast("string").as("k"))
    df.filter((valueCol +: keyCol.toSeq).map(col(_).isNotNull).reduce(_ && _))
      .select(key :+ floor(least(lit((nBins - 1).toDouble), greatest(lit(0.0), raw)))
        .cast("int").as("bin"): _*)
      .groupBy(perBin(key.map(_ => "k")): _*).agg(count(lit(1)).as("n"))
  }

  /** The key columns of a histogram store: `k` for the keyed
    * (k, bin, n) shape, none for the global (bin, n) shape. */
  private def storeKeys(store: DataFrame): Seq[String] =
    if (store.columns.contains("k")) Seq("k") else Nil

  /** A store's grouping: its keys, then the bin. */
  private def perBin(keys: Seq[String]): Seq[Column] = (keys :+ "bin").map(col)

  /** Merge a new batch's histogram into a persisted store frame: counts
    * add per (key, bin) (exact mergeability — no error term, unlike
    * sketch stores; order-free). Both sides must share the grid
    * contract and the store's shape.
    */
  def updateHistogramStore(store: DataFrame, batch: DataFrame): DataFrame = {
    val keys = storeKeys(store)
    val cols = perBin(keys) :+ col("n")
    store.select(cols: _*).unionByName(batch.select(cols: _*))
      .groupBy(perBin(keys): _*).agg(sum(col("n")).cast("long").as("n"))
  }

  /** MERGEABLE QUANTILE TRACKING — percentiles answered FROM a rolled-up
    * [[histogramStore]], so quantile monitoring composes with the same
    * day/partition rollup discipline as the drift stores: batches
    * stream in, [[updateHistogramStore]] adds counts exactly, and any
    * accumulated range answers p50/p95/p99 WITHOUT rescanning raw data
    * (exact per-group quantiles need the group's order —
    * [[groupedQuantiles]]' sort — and approx sketches here aren't
    * engine-replayable; the histogram is both mergeable AND exact about
    * which bin the rank lands in). A keyed store answers per key, each
    * group ranked against its own counts.
    *
    * Rank is the percentile_disc convention in INTEGER arithmetic —
    * rk = (q_e6·N + 999999) div 10⁶, the [[groupedQuantiles]] rational
    * form — and the answer is the bin whose cumulative count first
    * covers it, emitted with exact micro-unit edges: edge_e6 =
    * lo_e6 + (bin·width_e6) div nBins (all longs — no float edge
    * arithmetic to diverge between engines). ERROR CONTRACT: the true
    * quantile lies in [edge_lo_e6, edge_hi_e6] — one bin width, set by
    * the grid you chose at store time. Loud contracts: grid membership
    * and N ≤ 9·10¹² per group.
    *
    * Scale shape: each group's slice is ≤ nBins rows BY ENFORCED
    * contract (out-of-grid bins refuse loudly), so the cumulative
    * window — partitioned by the key, a single partition for the global
    * store — is a bounded pass over a frame of groups × nBins rows; the
    * corpus-sized work already happened in [[histogramStore]]'s one
    * groupBy per batch.
    *
    * Returns ([k,] q_e6, n_total, rk, bin, edge_lo_e6, edge_hi_e6), one
    * row per (group, requested quantile) (empty store → empty result).
    */
  def quantilesFromHistogramStore(store: DataFrame, lo: Double, hi: Double,
      nBins: Int, qE6: Seq[Long]): DataFrame = {
    require(nBins >= 2 && nBins <= 100000 && hi > lo,
      s"need 2 <= nBins <= 100000 and hi > lo, got ($lo, $hi, $nBins)")
    requireQuantiles(qE6)
    val loE6 = Math.round(lo * 1e6)
    val widthE6 = Math.round((hi - lo) * 1e6)
    require(widthE6 <= Long.MaxValue / nBins && math.abs(loE6) <=
      Long.MaxValue - widthE6,
      s"grid exceeds micro-unit long range: lo=$lo hi=$hi nBins=$nBins")
    val keys = storeKeys(store).map(col)
    val perKey = Window.partitionBy(keys: _*)
    val cum = store
      .select(keys :+ expr(
        s"IF(bin >= 0 AND bin < $nBins, bin, assert_true(false, " +
          s"'quantilesFromHistogramStore: bin outside [0, $nBins) — " +
          "the shared grid contract; rebuild the store'))")
        .cast("int").as("bin") :+ col("n").cast("long").as("n"): _*)
      .groupBy(keys :+ col("bin"): _*).agg(sum("n").as("n"))
      .withColumn("cum", sum("n").over(perKey.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_total", sum("n").over(perKey))
      .withColumn("n_total", expr(
        "IF(n_total <= 9000000000000L, n_total, assert_true(false, " +
          "'quantilesFromHistogramStore: a group exceeds 9*10^12 counts — " +
          "q_e6 * N would wrap; split the store'))").cast("long"))
    withQuantileRanks(cum, qE6)
      .where(col("cum") >= col("rk") && col("cum") - col("n") < col("rk"))
      .select(keys ++ Seq(col("q_e6"), col("n_total"), col("rk"),
        col("bin").cast("long").as("bin"),
        expr(s"${loE6}L + (CAST(bin AS BIGINT) * ${widthE6}L) div ${nBins}L")
          .as("edge_lo_e6"),
        expr(s"${loE6}L + ((CAST(bin AS BIGINT) + 1L) * ${widthE6}L) " +
          s"div ${nBins}L").as("edge_hi_e6")): _*)
  }

  /** WINSORIZE by STORED percentiles — the outlier-clipping
    * preprocessing verb ("clip to [p1, p99]") answered from the
    * mergeable rollup instead of a raw re-sort: the clip bounds are
    * the pLow bin's LOWER edge and the pHigh bin's UPPER edge from
    * [[quantilesFromHistogramStore]] (conservative outward — a value
    * inside either boundary bin is never moved), so the whole verb is
    * one broadcast of a small bounds frame + a stateless map over the
    * corpus. Values quantize to micro-units by the cents convention
    * (round(v·10⁶) — both engines round identically on the clean
    * inputs the convention covers); a NULL value yields NULL quantized
    * and winsorized columns (never silently pinned to a bound). Bound
    * error = one bin width each side, the store's documented contract.
    *
    * A keyed store clips each `keyCol` group to its OWN band ("clip each
    * language's lengths to its own [p10, p90]"), its bounds joined back
    * broadcast (≤ groups rows). Coverage is explicit, not silent: rows
    * whose group has NO store entry pass through UNCLIPPED with
    * `calibrated = false` (a new language appearing mid-stream must not
    * kill the pipeline, but it must not pretend to be clipped either);
    * the global form has one band and every row is calibrated. A store
    * that answers no quantiles at all (empty or a mismatched grid)
    * refuses at call time — every row uncalibrated is the silent no-op,
    * not a coverage state — as does a `keyCol` that does not match the
    * store's shape.
    *
    * Returns the input plus (`<valueCol>_e6`, `<valueCol>_winsor_e6`,
    * `<valueCol>_clipped`, `calibrated`).
    */
  def winsorizeByHistogramStore(df: DataFrame, valueCol: String,
      store: DataFrame, lo: Double, hi: Double, nBins: Int,
      pLowE6: Long, pHighE6: Long,
      keyCol: Option[String] = None): DataFrame = {
    require(pLowE6 < pHighE6,
      s"winsorize needs pLow < pHigh (got $pLowE6, $pHighE6)")
    val keys = storeKeys(store)
    require(keys.nonEmpty == keyCol.isDefined,
      s"winsorizeByHistogramStore: keyCol $keyCol does not match the " +
        s"store's shape (${store.columns.mkString(", ")}) — a keyed " +
        "(k, bin, n) store needs keyCol, a (bin, n) store takes none")
    val bounds = quantilesFromHistogramStore(store, lo, hi, nBins,
        Seq(pLowE6, pHighE6))
      .groupBy(keys.map(col): _*).agg(
        min(when(col("q_e6") === lit(pLowE6), col("edge_lo_e6"))).as("__wlo"),
        min(when(col("q_e6") === lit(pHighE6), col("edge_hi_e6"))).as("__whi"))
      // the global aggregate answers one all-NULL row over an empty store
      .where(col("__wlo").isNotNull && col("__whi").isNotNull)
    // ≤ groups rows, read once: the refusal and the broadcast band both
    // use them, so the store's quantile pass runs once per call
    val rows = bounds.collect()
    require(rows.nonEmpty,
      "winsorizeByHistogramStore: the store answered no quantiles for " +
        "any group (empty or mismatched grid) — clipping would " +
        "silently no-op everywhere")
    val band = broadcast(df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), bounds.schema))
    val banded = keyCol.fold(df.crossJoin(band))(kc =>
      df.withColumn("__wk", literalCol(kc).cast("string"))
        .join(band.withColumnRenamed("k", "__wk"), Seq("__wk"), "left"))
    val (e6, winsor) = (s"${valueCol}_e6", s"${valueCol}_winsor_e6")
    banded
      .withColumn(e6, scaledLong(valueCol, 1000000))
      // Spark's greatest/least SKIP nulls: an uncalibrated row (NULL
      // bounds) passes through unclipped, and the isNotNull guard keeps
      // a NULL value from being pinned to a bound
      .withColumn(winsor, when(literalCol(e6).isNotNull,
        least(greatest(literalCol(e6), col("__wlo")), col("__whi"))))
      .withColumn(s"${valueCol}_clipped", literalCol(e6) =!= literalCol(winsor))
      .withColumn("calibrated", col("__wlo").isNotNull)
      .drop("__wk", "__wlo", "__whi")
  }

  /** `valueCol` × `scale`, rounded half away from zero to a long — the
    * cents (100) and micro-unit (10⁶) conventions. The column is read
    * by its literal name, so a name with a dot or backtick is safe. */
  private def scaledLong(valueCol: String, scale: Int): Column =
    round(literalCol(valueCol) * scale).cast("bigint")

  /** COARSEN a histogram store to a wider grid — the only EXACT grid
    * evolution (refining would need the raw data back): bins merge in
    * runs of `factor` (new_bin = bin div factor), counts add, and the
    * [lo, hi) span is unchanged — so a store recorded at 1000 bins can
    * keep rolling up against a consumer that now reads at 100 without
    * rescanning history. `nBins % factor == 0` required (a partial
    * last run would silently widen the top bin's span); quantile reads
    * off the coarsened store carry the proportionally wider one-bin
    * error, by the [[quantilesFromHistogramStore]] contract. A keyed
    * store regroups per key.
    */
  def coarsenHistogramStore(store: DataFrame, nBins: Int,
      factor: Int): DataFrame = {
    require(factor >= 1 && nBins >= 2 && nBins % factor == 0,
      s"coarsenHistogramStore: need factor >= 1 dividing nBins " +
        s"(got nBins=$nBins, factor=$factor) — a partial last run " +
        "would silently widen the top bin")
    store.withColumn("bin", expr(
        s"IF(bin >= 0 AND bin < $nBins, CAST(bin div $factor AS int), " +
          s"assert_true(false, 'coarsenHistogramStore: bin outside " +
          s"[0, $nBins) — the shared grid contract'))"))
      .groupBy(perBin(storeKeys(store)): _*)
      .agg(sum(col("n")).cast("long").as("n"))
  }

  /** Drift of a fresh batch histogram against a persisted baseline
    * store — [[driftNumeric]] with the baseline side already reduced to
    * counts, so the raw baseline data is never rescanned: enumerate the
    * full grid, join both (bin, n) count frames, one PSI₂ term per bin.
    */
  def driftAgainstStore(store: DataFrame, batch: DataFrame,
      nBins: Int): DataFrame = {
    val spark = store.sparkSession
    import spark.implicits._
    psiFromCounts(spark.createDataset(0 until nBins).toDF("bin")
      .join(broadcast(store.select(col("bin"), col("n").as("raw_a"))),
        Seq("bin"), "left")
      .join(broadcast(batch.select(col("bin"), col("n").as("raw_b"))),
        Seq("bin"), "left"), "bin")
  }

  /** Categorical distribution drift between two snapshots: per-value
    * smoothed counts over the union of observed values, same PSI₂ term
    * as [[driftNumeric]]. The ENUMERABLE-domain contract (priorities,
    * statuses, langs) is enforced, not assumed: EACH side's
    * distinct-value count is guarded ≤ `maxValues` loudly BEFORE the
    * global smoothing window runs, bounding the windowed union frame
    * at 2·maxValues rows (the pmiProfile discipline — a free-text
    * column would otherwise sort a corpus-sized frame on one reducer,
    * possibly OOMing ahead of any embedded assert); for unbounded
    * domains bucket first ([[heavyHitters]] tells you which values
    * matter). The two counted frames persist across the cardinality
    * probe + join, release after the value-bounded result checkpoints,
    * and a refusal unpersists them on the way out.
    */
  def driftCategorical(before: DataFrame, after: DataFrame,
      valueCol: String, maxValues: Long = 1000000L): DataFrame = {
    require(maxValues >= 1,
      s"driftCategorical: maxValues must be >= 1 (got $maxValues)")
    def counted(df: DataFrame) = df
      .filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("string").as("value"))
      .groupBy("value").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a0 = counted(before)
    val b0 = counted(after)
    try {
      val nv = math.max(a0.count(), b0.count())
      require(nv <= maxValues,
        s"driftCategorical: $nv distinct values on one side exceeds " +
          s"maxValues=$maxValues (the smoothing frame is bounded at " +
          "2*maxValues union rows) — the enumerable-domain contract; " +
          "bucket upstream (heavyHitters) or raise maxValues")
    } catch {
      case t: Throwable => a0.unpersist(); b0.unpersist(); throw t
    }
    val out = psiFromCounts(a0.select(col("value"), col("c").as("raw_a"))
        .join(b0.select(col("value"), col("c").as("raw_b")), Seq("value"), "full"),
        "value")
      .localCheckpoint(eager = true)
    a0.unpersist(); b0.unpersist()
    out
  }

  // ---- k-anonymity ------------------------------------------------------

  /** Per-equivalence-class k-anonymity detail: one row per distinct
    * quasi-identifier combination with its class size and risk flag
    * (size < k ⇒ the combination re-identifies to fewer than k people —
    * Sweeney 2002). One groupBy on the quasi columns; at 100 TB that is
    * one partial-aggregated shuffle bounded by the number of DISTINCT
    * combinations, not rows.
    */
  def kAnonymityClasses(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .withColumn("risky", col("class_size") < k)
  }

  /** k-anonymity audit summary: class count, record count, risky class /
    * record counts, and the achieved k (the smallest class size — the
    * dataset IS min_class_size-anonymous). One extra bounded aggregate
    * over [[kAnonymityClasses]].
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame =
    auditSummary(kAnonymityClasses(df, quasiCols, k), "class_size", "achieved_k")

  /** The privacy-audit summary of a (…, class_size, [stat,] risky) class
    * frame, shared by [[kAnonymity]] and [[lDiversity]]: class and record
    * counts, the risky classes and their records, and `achieved` =
    * min(`statCol`) — the level the dataset provably reaches.
    */
  private def auditSummary(classes: DataFrame, statCol: String,
      achieved: String): DataFrame =
    classes.agg(
      count(lit(1)).as("n_classes"),
      sum(col("class_size")).cast("long").as("n_records"),
      sum(when(col("risky"), 1L).otherwise(0L)).as("n_risky_classes"),
      sum(when(col("risky"), col("class_size")).otherwise(0L)).cast("long")
        .as("n_risky_records"),
      min(col(statCol)).as(achieved))

  /** l-DIVERSITY equivalence classes — the standard follow-up to
    * [[kAnonymityClasses]] (Machanavajjhala et al. 2007, "l-Diversity:
    * Privacy Beyond k-Anonymity"): k-anonymity alone passes a 50-row
    * class whose members all share ONE sensitive value — the homogeneity
    * attack reads the secret straight off the class. Per
    * quasi-identifier class: size, the number of DISTINCT non-NULL
    * sensitive values (distinct l-diversity), and the risky flag
    * (l_distinct < l). A class whose sensitive column is entirely NULL
    * has l_distinct = 0 (count distinct ignores NULLs in both engines —
    * parity, and "no recorded value" diversifies nothing).
    *
    * Scale shape: ONE groupBy on the quasi tuple with a distinct-count
    * aggregate — same single exchange as the k-anonymity audit.
    */
  def lDiversityClasses(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 1, s"l must be >= 1 (got $l)")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col(sensitiveCol)).as("l_distinct"))
      .withColumn("risky", col("l_distinct") < l)
  }

  /** l-diversity audit summary: class/record counts, risky subsets, and
    * the achieved l (the dataset IS min-l_distinct-diverse). One extra
    * bounded aggregate over [[lDiversityClasses]] — the [[kAnonymity]]
    * companion shape.
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Long): DataFrame =
    auditSummary(lDiversityClasses(df, quasiCols, sensitiveCol, l),
      "l_distinct", "achieved_l")

  /** GROUPED QUANTILES — per-group order statistics, the calibration step
    * behind per-language/per-source quality cutoffs ("keep the top 10%
    * of each language"): one row per (group, quantile) with the group's
    * value at that quantile.
    *
    * Quantiles are given in MILLIONTHS (`qE6`, e.g. 500000 = median) and
    * the exact form picks the value at rank ⌈q·n⌉ computed in INTEGER
    * arithmetic — (q_e6·n + 999999) div 10⁶ — the percentile_disc
    * contract with no float rank anywhere, so any engine replays the
    * picked values bit-for-bit (a float ⌈0.9·n⌉ is off-by-one whenever
    * q·n lands on an ulp boundary; the rational form never is).
    *
    * `exact = true` ranks each group with one window sort — per-group
    * order statistics fundamentally need the group's order, so this is
    * the GATE/audit form (bounded groups). The default is Spark's
    * grouped `percentile_approx` (one partial-aggregated pass, no
    * per-group sort) — the 100 TB path, same output shape, accuracy
    * `approxAccuracy`.
    */
  def groupedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      qE6: Seq[Long], exact: Boolean = false,
      approxAccuracy: Int = 10000): DataFrame = {
    requireQuantiles(qE6)
    val base = df
      .select(col(groupCol).as("grp"), col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
    if (exact) {
      val counts = base.groupBy("grp").agg(count(lit(1)).as("n_total"))
      withQuantileRanks(base
          .withColumn("__pos", row_number().over(
            Window.partitionBy("grp").orderBy("v")))
          .join(counts, Seq("grp")), qE6)
        .filter(col("__pos") === col("rk"))
        .select(col("grp"), col("q_e6"), col("v").as("value"))
        .orderBy("grp", "q_e6")
    } else {
      val qs = qE6.map(_ / 1e6)
      base.groupBy("grp")
        .agg(percentile_approx(col("v"),
          array(qs.map(lit): _*), lit(approxAccuracy)).as("vals"))
        .select(col("grp"), posexplode(col("vals")).as(Seq("i", "value")))
        .withColumn("q_e6",
          element_at(array(qE6.map(lit): _*), col("i").cast("int") + 1))
        .select(col("grp"), col("q_e6"), col("value"))
        .orderBy("grp", "q_e6")
    }
  }

  /** The quantile-list contract of [[groupedQuantiles]] and
    * [[quantilesFromHistogramStore]]: quantiles in MILLIONTHS, each in
    * (0, 10⁶]. */
  private def requireQuantiles(qE6: Seq[Long]): Unit =
    require(qE6.nonEmpty && qE6.forall(q => q > 0 && q <= 1000000L),
      s"quantiles must be in (0, 1000000] millionths: $qE6")

  /** `df` (carrying a per-group count `n_total`) crossed with the
    * quantile list as a broadcast `q_e6` column, each row with its
    * percentile_disc rank rk = (q_e6·n_total + 999999) div 10⁶ — ⌈q·n⌉
    * in integer arithmetic, never a float rank. */
  private def withQuantileRanks(df: DataFrame, qE6: Seq[Long]): DataFrame =
    df.crossJoin(broadcast(df.sparkSession.range(1)
        .select(explode(array(qE6.map(lit): _*)).as("q_e6"))))
      .withColumn("rk", expr("(q_e6 * n_total + 999999) div 1000000"))

  /** MARKET-BASKET association pairs (Agrawal & Srikant VLDB 1994,
    * the 2-itemset core of Apriori): items co-occurring in one basket
    * (order, session, cart), with support, both directed confidences
    * and lift — "bought A, also bought B" / co-view analytics, the
    * canonical warehouse mining verb. ALL integer: confidences as ppm
    * floor divisions, lift_e6 = ⌊10⁶·pairs·N ÷ (cntA·cntB)⌋ through one
    * decimal(38,0) division (the jaccard_e6 convention) — any engine
    * replays scores AND the (support desc, a, b) top-k ordering.
    *
    * Scale shape: pair generation is a SELF-EQUI-JOIN on the basket key
    * (shuffle keyed by basket, never all-pairs across baskets) and the
    * in-basket blow-up is capped by `maxBasketSize` (a degenerate
    * mega-basket — one SKU bought by everyone in one giant order —
    * would be quadratic; capped baskets drop whole, spec-pinned, the
    * bucket-cap convention). Pair counts partial-aggregate map-side;
    * item counts join the (minSupport-filtered) pair table; the basket
    * total rides as ONE broadcast row; top-k is TakeOrderedAndProject.
    */
  def associationPairs(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2L, topK: Int = 100,
      maxBasketSize: Int = 64): DataFrame =
    // definitionally the one-batch store: the batch-parity contract
    // (q_association_store) then holds by construction, not by test
    associationFromStore(associationStore(df, basketCol, itemCol,
      maxBasketSize), minSupport, topK)

  /** INCREMENTAL association store: every count [[associationPairs]]
    * needs — pair co-occurrences, per-item basket counts, and the
    * basket total — as ONE narrow mergeable frame (`kind` ∈ p/i/n;
    * counts ADD exactly, the histogramStore property), so baskets
    * stream in per day/batch, the store rolls up with
    * [[updateAssociationStore]], and [[associationFromStore]] answers
    * "bought A also bought B" over any accumulated range WITHOUT
    * rescanning raw baskets. Contract: a basket must arrive WHOLE in
    * one batch (orders do; a basket split across batches would
    * undercount its cross-batch pairs — the per-batch dedup is
    * per-basket, like every count here).
    */
  def associationStore(df: DataFrame, basketCol: String, itemCol: String,
      maxBasketSize: Int = 64): DataFrame = {
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    // items keep their OWN type (string SKUs included) — the store's
    // null-padded a/b columns cast null to it, never the data
    val itemType = df.select(col(itemCol)).schema.head.dataType
    val b = df.select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .filter(col("bk").isNotNull && col("it").isNotNull)
      .distinct()
    val sized = b.groupBy("bk").agg(count(lit(1)).as("__sz"))
      .filter(col("__sz") <= maxBasketSize)
      .select("bk")
    val bf = b.join(sized, Seq("bk"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = bf.select(col("bk"), col("it").as("a"))
      .join(bf.select(col("bk"), col("it").as("b")), Seq("bk"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
      .select(lit("p").as("kind"), col("a"), col("b"), col("cnt"))
    val items = bf.groupBy(col("it").as("a"))
      .agg(count(lit(1)).as("cnt"))
      .select(lit("i").as("kind"), col("a"),
        lit(null).cast(itemType).as("b"), col("cnt"))
    val total = bf.agg(countDistinct(col("bk")).as("cnt"))
      .select(lit("n").as("kind"), lit(null).cast(itemType).as("a"),
        lit(null).cast(itemType).as("b"), col("cnt"))
    pairs.unionByName(items).unionByName(total)
  }

  /** Merge a batch's [[associationStore]] into the accumulated store —
    * counts add per (kind, a, b); exact, order-free. */
  def updateAssociationStore(store: DataFrame, batch: DataFrame): DataFrame =
    store.unionByName(batch)
      .groupBy("kind", "a", "b").agg(sum("cnt").as("cnt"))

  /** [[associationPairs]]' metrics computed FROM a rolled-up store —
    * identical output contract, no basket rescan. */
  def associationFromStore(store: DataFrame, minSupport: Long = 2L,
      topK: Int = 100): DataFrame = {
    require(minSupport >= 1 && topK >= 1,
      s"need minSupport >= 1 and topK >= 1, got ($minSupport, $topK)")
    val pairs = store.filter(col("kind") === "p")
      .select(col("a").as("item_a"), col("b").as("item_b"),
        col("cnt").as("pair_count"))
      .filter(col("pair_count") >= minSupport)
    val ic = store.filter(col("kind") === "i")
      .select(col("a").as("it"), col("cnt"))
    // at most ONE basket-total row: several `n` rows (a store unioned
    // without updateAssociationStore's roll-up) sum under its additive
    // rule instead of multiplying the result; grouping on `kind` keeps
    // a store with no `n` row at zero rows
    val nB = store.filter(col("kind") === "n")
      .groupBy("kind").agg(sum("cnt").as("n_baskets"))
      .select("n_baskets")
    // The top-K order key is (pair_count desc, item_a, item_b) — a total
    // order over the joined rows that never reads a derived metric, so
    // EVERY projection (confidences, lift, LLR) belongs ABOVE the limit:
    // computed on <= topK rows instead of every support-qualified pair
    // (r13 — the pre-limit llr_u20, four ilog2 terms + proper-table
    // guards per row, was the q_association_store regression). The item
    // joins stay BELOW the limit on purpose: a malformed store with a
    // missing item row must drop that pair before ranking, exactly as
    // the pre-r13 plan did.
    pairs
      .join(ic.select(col("it").as("item_a"), col("cnt").as("count_a")),
        Seq("item_a"))
      .join(ic.select(col("it").as("item_b"), col("cnt").as("count_b")),
        Seq("item_b"))
      .orderBy(col("pair_count").desc, col("item_a"), col("item_b"))
      .limit(topK)
      .crossJoin(broadcast(nB))
      .withColumn("conf_ab_e6", expr("pair_count * 1000000 div count_a"))
      .withColumn("conf_ba_e6", expr("pair_count * 1000000 div count_b"))
      .withColumn("lift_e6", expr(
        "CAST((CAST(pair_count AS decimal(38,0)) * n_baskets * 1000000) div " +
          "(CAST(count_a AS decimal(38,0)) * count_b) AS long)"))
      // nullAboveN: a store past 10^9 baskets must keep answering its
      // pre-LLR columns — llr_u20 reads NULL there (documented), the
      // exact lift/confidence columns stay
      .withColumn("llr_u20", llrU20(col("pair_count"), col("count_a"), col("count_b"),
        col("n_baskets"), nullAboveN = true))
      // the crossJoin/projections above sit past the TakeOrdered — restore
      // the contract order on the <= topK survivors (cheap by construction)
      .orderBy(col("pair_count").desc, col("item_a"), col("item_b"))
      .select("item_a", "item_b", "pair_count", "count_a", "count_b",
        "n_baskets", "conf_ab_e6", "conf_ba_e6", "lift_e6", "llr_u20")
  }

  /** DUNNING LOG-LIKELIHOOD RATIO of a 2×2 contingency table (Dunning
    * 1993, "Accurate Methods for the Statistics of Surprise and
    * Coincidence") in the engine-shared exact ilog2 fixed point — the
    * significance score the raw [[associationFromStore]] /
    * collocation counts exist for (lift alone over-ranks rare pairs;
    * LLR is χ²-distributed and sane at small counts):
    *
    *   llr_u20 = 2·Σ_ij k_ij·(ilog2Fp(k_ij·N) − ilog2Fp(R_i·C_j))
    *
    * in 2²⁰ units of log₂ (bits — Dunning's ln-based form scaled by a
    * constant 1/ln 2, same ranking). Inputs are the three observed
    * counts (k11, row margin R₁, column margin C₁) and the total N of
    * a PROPER table (R₁ ≥ k11, C₁ ≥ k11, N ≥ R₁+C₁−k11, so every
    * complementary cell is ≥ 0 — ENFORCED loudly, not prose: improper
    * margins would wrap R·C or feed ilog2 a wrong complement); zero
    * cells contribute exactly 0; a positive cell forces both its
    * margins positive, so no log sees 0. Guard: N ≤ 10⁹ keeps every
    * k·N and R·C product inside a long — the default refuses loudly
    * (the house rule); `nullAboveN = true` instead emits NULL for
    * rows beyond the exact-log range, the mode EXISTING operators
    * bolt the score onto (a >10⁹-basket store must keep answering its
    * pre-LLR columns — killing the whole read would be a behavior
    * regression, and NULL-with-documented-meaning beats both).
    */
  def llrU20(k11: Column, r1: Column, c1: Column, n0: Column,
      nullAboveN: Boolean = false): Column = {
    val n = when(n0 <= lit(1000000000L), n0)
      .otherwise(assert_true(lit(false), lit(
        "llrU20: N exceeds 10^9 — k*N would wrap; sample first"))
        .cast("long"))
    // the PROPER-table contract is enforced, not prose: improper
    // margins (R or C beyond N, counts outside [max(0,R+C−N), min(R,C)])
    // would wrap the R·C products or feed ilog2 a non-positive argument
    // downstream of a silently-wrong complement — refuse loudly
    // instead. R ≤ N and C ≤ N are checked SEPARATELY first: with both
    // bounded by N ≤ 10⁹ the sum check cannot itself wrap (corrupt
    // margins near 2⁶³ would otherwise wrap R+C negative and slip past)
    val k = when(k11 >= lit(0L) && r1 >= k11 && c1 >= k11 &&
        r1 <= n && c1 <= n && r1 + c1 - k11 <= n, k11)
      .otherwise(assert_true(lit(false), lit(
        "llrU20: improper 2x2 table — need 0 <= k11 <= min(R1, C1) <= N " +
          "and R1 + C1 - k11 <= N so every complementary cell is >= 0"))
        .cast("long"))
    def term(kc: Column, r: Column, c: Column): Column =
      when(kc === lit(0L), lit(0L)).otherwise(
        kc * (ilog2FpCol(kc * n) -
          ilog2FpCol(r * c)))
    val core = lit(2L) * (term(k, r1, c1) + term(r1 - k, r1, n - c1) +
      term(c1 - k, n - r1, c1) + term(n - r1 - c1 + k, n - r1, n - c1))
    if (nullAboveN)
      when(n0 > lit(1000000000L), lit(null).cast("long")).otherwise(core)
    else core
  }

  /** PMI / MUTUAL-INFORMATION association profile of two CATEGORICAL
    * columns — the feature-association screen of the profiling family
    * ("does ship mode predict return flag"): per contingency cell the
    * pointwise mutual information, plus the aggregate MI, in EXACT
    * fixed point via the engine-shared ilog2 recurrence (the
    * drift/DCG/Adamic-Adar recipe — no libm, both engines replay every
    * log bit-identically):
    *
    *   pmi_u20(a,b) = ilog2Fp(cnt·N) − ilog2Fp(n_a·n_b)   (2²⁰ units)
    *   pmi_e6 = pmi_u20·10⁶ div 2²⁰  (truncating, toward zero)
    *   mi_e6  = (Σ cnt·pmi_u20)·10⁶ div (N·2²⁰)   (same on every row)
    *
    * NULL-in-either rows drop. Scale shape: the corpus-sized work is
    * ONE groupBy; margins and N come from AGGREGATES over the cell
    * frame joined back broadcast — no window anywhere, in particular
    * no partition-less WindowExec funneling the frame to one reducer.
    * The CATEGORICAL contract is enforced, not assumed: the
    * distinct-cell count is guarded ≤ `maxCells` (loud), and N ≤ 10⁹
    * keeps cnt·N inside a long (loud). The MI numerator Σ cnt·pmi_u20
    * accumulates in DECIMAL(38,0) (HUGEINT on the oracle side) so it
    * cannot wrap where a long would (~9.2·10¹⁸ ≈ 10⁷ rows at one bit
    * of MI), with the div-wrap guard on the final long quotient.
    *
    * Returns (colA, colB, cnt, n_a, n_b, pmi_e6, mi_e6) — one row per
    * observed cell.
    */
  def pmiProfile(df: DataFrame, colA: String, colB: String,
      maxCells: Long = 1000000L): DataFrame = {
    val (cells, scored0) = pmiScoredWithCells(df, colA, colB, maxCells)
    // cell-bounded by the guarded contract, so an eager checkpoint
    // releases the persist (the clusterMedoid discipline)
    val scored = scored0.localCheckpoint(eager = true)
    cells.unpersist()
    val minum = scored.agg(
      sum(expr("CAST(cnt AS DECIMAL(38,0)) * pmi_u20")).as("mi_num"))
    scored.crossJoin(broadcast(minum))
      .withColumn("mi_e6", expr(
        "IF(abs(mi_num) * 1000000 <= " +
          "CAST(9000000000000000000 AS DECIMAL(38,0)) * (n * 1048576L), " +
          "(mi_num * 1000000) div (n * 1048576L), " +
          "assert_true(false, 'pmiProfile: the MI quotient exceeds " +
          "long range'))").cast("long"))
      .withColumn("pmi_e6", expr("(pmi_u20 * 1000000L) div 1048576L"))
      .select(col("a").as(colA), col("b").as(colB), col("cnt"),
        col("n_a"), col("n_b"), col("pmi_e6"), col("mi_e6"))
  }

  /** [[pmiProfile]]'s guarded, LAZY scored cell frame plus the persisted
    * cells handle — package-private so the plan spec can assert the
    * window-free margin shape PRE-checkpoint (the public verb eagerly
    * checkpoints, and a post-hoc plan inspection of ITS result would
    * stay green even if someone reintroduced the partition-less margin
    * WindowExec upstream). The caller owns `cells.unpersist()` once the
    * scored frame is materialized. Guard hygiene: the totals collect
    * fires both loud contracts BEFORE any margin broadcast builds, and
    * a refusal unpersists the corpus-sized cell cache on the way out
    * (no leaked MEMORY_AND_DISK blocks on the retry path).
    */
  private[graft] def pmiScoredWithCells(df: DataFrame, colA: String,
      colB: String, maxCells: Long): (DataFrame, DataFrame) = {
    require(maxCells >= 1, s"pmiProfile: maxCells must be >= 1 (got $maxCells)")
    val cells0 = df.select(col(colA).cast("string").as("a"),
        col(colB).cast("string").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
    // the cell frame feeds four consumers (two margins, the totals,
    // the scoring probe) — persist so the corpus-sized groupBy runs once
    val cells = cells0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n =
      try {
        val totRow = cells
          .agg(sum("cnt").as("n0"), count(lit(1)).as("n_cells"))
          .collect()(0)
        val nCells = totRow.getLong(1)
        require(nCells <= maxCells,
          s"pmiProfile: distinct-cell count $nCells exceeds maxCells=" +
            s"$maxCells — the categorical contract; reduce cardinality " +
            "upstream or raise maxCells")
        val nn = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
        require(nn <= 1000000000L,
          s"pmiProfile: N=$nn exceeds 10^9 rows — cnt*N would wrap; " +
            "sample first")
        nn
      } catch { case t: Throwable => cells.unpersist(); throw t }
    val ma = cells.groupBy("a").agg(sum("cnt").as("n_a"))
    val mb = cells.groupBy("b").agg(sum("cnt").as("n_b"))
    val scored = cells
      .join(broadcast(ma), "a").join(broadcast(mb), "b")
      .withColumn("n", lit(n))
      .withColumn("__l1", ilog2FpCol(col("cnt") * col("n")))
      .withColumn("__l2", ilog2FpCol(col("n_a") * col("n_b")))
      .withColumn("pmi_u20", col("__l1") - col("__l2"))
    (cells, scored)
  }

  /** Benford first-significant-digit ppm per digit, rounded half away
    * from zero from log₁₀(1+1/d) — the nine constants sum to exactly
    * 10⁶, shared verbatim by the DuckDB oracle.
    */
  val benfordPpm: Seq[Long] = Seq(301030L, 176091L, 124939L, 96910L,
    79181L, 66947L, 57992L, 51153L, 45757L)

  /** BENFORD FIRST-DIGIT PROFILE — the fraud / fabricated-data screen
    * of the data-quality family ([[summarize]]/[[driftNumeric]]/
    * [[kAnonymityClasses]]): naturally-occurring amounts follow
    * P(d) = log₁₀(1+1/d); invented ones rarely do. Per group, the
    * observed first-significant-digit distribution of the cents values
    * against the Benford expectation, all integer ppm:
    *  - digits derive from the INTEGER cents (first char of
    *    CAST(abs(vc) AS string) — integer printing is identical in
    *    every engine; extracting from the double would hit float
    *    formatting divergence);
    *  - zero cents carry no leading digit and are skipped; NULLs drop;
    *  - every group emits the FULL 1–9 grid (absent digits count 0);
    *  - obs_ppm = cnt·10⁶ div total (truncating); dev_ppm =
    *    |obs − benford|.
    * One groupBy + a 9-row explode — no window, no join beyond the
    * broadcast-sized grid. `total` is guarded ≤ 10¹² so cnt·10⁶ cannot
    * wrap (loud, the house rule).
    *
    * Returns (keyCol, digit, cnt, total, obs_ppm, ben_ppm, dev_ppm).
    */
  def benfordProfile(df: DataFrame, keyCol: String, valueCol: String)
      : DataFrame = {
    val base = df.select(col(keyCol).cast("string").as("k"),
        scaledLong(valueCol, 100).as("vc"))
      .where(col("k").isNotNull && col("vc").isNotNull && col("vc") =!= 0L)
      .withColumn("digit", expr(
        "CAST(substring(CAST(abs(vc) AS string), 1, 1) AS bigint)"))
    val counts = base.groupBy("k", "digit")
      .agg(count(lit(1)).as("cnt0"))
    val totals = base.groupBy("k").agg(count(lit(1)).as("total"))
      .withColumn("total", expr(
        "IF(total <= 1000000000000L, total, assert_true(false, " +
          "'benfordProfile: group exceeds 10^12 rows — the ppm " +
          "arithmetic would wrap'))").cast("long"))
    val grid = totals
      .withColumn("digit", explode(expr("sequence(1L, 9L)")))
    grid.join(counts, Seq("k", "digit"), "left")
      .withColumn("cnt", coalesce(col("cnt0"), lit(0L)))
      .withColumn("obs_ppm", expr("cnt * 1000000L div total"))
      .withColumn("ben_ppm", element_at(
        array(benfordPpm.map(lit): _*), col("digit").cast("int")))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("ben_ppm")))
      .select(col("k").as(keyCol), col("digit"), col("cnt"), col("total"),
        col("obs_ppm"), col("ben_ppm"), col("dev_ppm"))
  }
}

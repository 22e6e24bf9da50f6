package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import SequentialFolds.{Keyed, perEvent, perKey, unstored}

/** Warehouse event analytics: ordered funnels and retention cohorts —
  * the two queries every product-analytics warehouse deployment runs
  * daily (the reference reaches them only through raw-SQL passthrough;
  * here they are first-class, declarative, and oracle-replayable).
  */
object EventAnalytics {

  /** Every keyed verb's input: `(k, id, us, vc)` — key and id as longs,
    * epoch micros, the value in integer cents (SQL round, half away from
    * zero) — with NULL key, time or value rows dropped. `idCol` None
    * leaves the id out.
    */
  private def keyedCents(events: DataFrame, keyCol: String, tsCol: String,
      idCol: Option[String], valueCol: String): DataFrame =
    graft.streaming.Events.tsLtz(events)
      .withColumn("us", unix_micros(col(tsCol)))
      .select(col(keyCol).cast("long").as("k") +:
        idCol.toSeq.map(c => col(c).cast("long").as("id")) :+ col("us") :+
        expr(s"CAST(round(`$valueCol` * 100) AS bigint)").as("vc"): _*)
      .where(col("k").isNotNull && col("us").isNotNull && col("vc").isNotNull)

  /** A sequential fold's order: ONE exchange on the key, then
    * (k, us, id) within each partition — a TOTAL order per key, so the
    * fold resets at key boundaries and replays in any engine. */
  private def byKey(events: DataFrame): DataFrame =
    events.repartition(col("k")).sortWithinPartitions("k", "us", "id")

  private def emptyStore[S <: Product : TypeTag](spark: SparkSession): DataFrame =
    spark.createDataFrame(Seq.empty[S])

  /** The batch's `keyedCents` rows, each with its key's stored row
    * (None for a key the store has not seen), sorted for the fold: the
    * store paths' one join. An empty store plans away, so a store built
    * from scratch keeps the one-shot plan — one key exchange, no join. */
  private def withStored[S <: Product : TypeTag](batch: DataFrame,
      store: DataFrame): Dataset[Keyed[S]] = {
    val spark = batch.sparkSession
    import spark.implicits._
    val stored = struct(Encoders.product[S].schema.fieldNames.toSeq.map(col): _*)
    byKey(batch.join(store.select(col("k"), stored.as("stored")), Seq("k"), "left"))
      .as[Keyed[S]]
  }

  /** A continuation verb: folds the batch into one new stored row per
    * batch key; keys the batch does not touch pass through. */
  private def continueStore[S <: Product : TypeTag](store: DataFrame,
      batch: DataFrame)(fold: Iterator[Keyed[S]] => Iterator[S]): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    store.join(batch.select("k").distinct(), Seq("k"), "left_anti")
      .unionByName(withStored[S](batch, store).mapPartitions(fold).toDF())
  }

  /** Ordered funnel: how many users complete `steps` in order, anchored
    * at each user's FIRST occurrence of the first step. A user reaches
    * step i when an event of type `steps(i-1)` exists at ts ≥ the reach
    * time of step i−1 (reach times chosen greedily-earliest, which is
    * optimal for a fixed anchor) and, when `withinMinutes` > 0, at
    * ts ≤ anchor + window. Re-entries after a failed anchor window are
    * deliberately NOT retried: first-touch anchoring is the deterministic,
    * relationally-replayable semantics (re-entry funnels need a per-
    * candidate-start explosion that neither scales nor stays exact).
    *
    * Output: (step, step_name, n_users) — n_users monotone non-increasing.
    *
    * Scale shape: one filtered pass + aggregation per step (the type
    * filter pushes to the scan), chained equi-joins on the user key; with
    * events bucketed/partitioned by user the whole chain co-locates.
    * The final count is ONE aggregation over the reach-times frame.
    */
  /** Per-user reach times of the ordered funnel — the frame [[funnel]]
    * aggregates and the batch side of the [[funnelStream]] parity
    * contract: one row per user with a step-1 event, columns
    * `ts_1..ts_k` (NULL from the first unreached step on).
    */
  def funnelReachTimes(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String], withinMinutes: Long = 0): DataFrame = {
    require(steps.nonEmpty, "funnel: at least one step required")
    val ev = events.select(col(userCol).as("__u"), col(typeCol).as("__t"),
      col(tsCol).as("__ts"))
    var cur = ev.filter(col("__t") === steps.head)
      .groupBy("__u").agg(min("__ts").as("ts_1"))
    for (i <- 2 to steps.length) {
      val evi = ev.filter(col("__t") === steps(i - 1))
        .select(col("__u").as("__u2"), col("__ts").as("__cand"))
      val windowOk: Column =
        if (withinMinutes > 0)
          col("__cand") <= col("ts_1") + expr(s"INTERVAL '$withinMinutes' MINUTE")
        else lit(true)
      val prevCols = cur.columns.toSeq
      cur = cur.join(evi,
          cur("__u") === evi("__u2") &&
            col("__cand") >= col(s"ts_${i - 1}") && windowOk,
          "left")
        .groupBy(prevCols.map(col): _*)
        .agg(min("__cand").as(s"ts_$i"))
    }
    cur
  }

  def funnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String], withinMinutes: Long = 0): DataFrame = {
    val cur = funnelReachTimes(events, userCol, typeCol, tsCol, steps, withinMinutes)
    val fates = steps.zipWithIndex.map { case (name, i) =>
      struct(lit(i + 1L).as("step"), lit(name).as("step_name"),
        col(s"__n_${i + 1}").as("n_users"))
    }
    cur.agg(
        count(col("ts_1")).as("__n_1"),
        (2 to steps.length).map(i => count(col(s"ts_$i")).as(s"__n_$i")): _*)
      .select(explode(array(fates: _*)).as("f"))
      .select("f.*")
      .orderBy("step")
  }

  /** Per-user funnel reach emitted by a STREAM: buffered step events per
    * user close when the event-time watermark passes the user's funnel
    * horizon (first-touch anchor + window, or last seen + window while no
    * anchor exists — the [[graft.streaming.Events.sessionizeStream]]
    * timeout pattern), then the SAME greedy chain as the batch form runs
    * over the buffer — arrival order across triggers cannot change the
    * result because nothing is decided until close — WITHIN the
    * lateness allowance: rows behind the watermark are dropped by the
    * engine before the stateful operator, so `watermarkDelay` must cover
    * the stream's actual disorder (0 seconds = in-order only). Requires
    * `withinMinutes > 0`: an unbounded funnel never closes on a stream.
    * State per user is the buffered (step, ts) pairs, capped at
    * `maxBuffered` (beyond the cap further events are dropped — bound
    * the horizon to bound the buffer). Emits one [[FunnelReach]] per
    * user with at least one step-typed event and an anchor.
    */
  def funnelStream(events: org.apache.spark.sql.Dataset[graft.streaming.Events.Event],
      steps: Seq[String], withinMinutes: Long,
      watermarkDelay: String = "0 seconds",
      maxBuffered: Int = 10000): org.apache.spark.sql.Dataset[FunnelReach] = {
    import org.apache.spark.sql.{Encoders => E}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(steps.nonEmpty, "funnelStream: at least one step required")
    require(steps.distinct.size == steps.size,
      "funnelStream: repeated step names are not supported (the per-type " +
        "index map would silently drop earlier positions); use the batch " +
        "funnel for repeated-step chains")
    require(withinMinutes > 0, "funnelStream: a completion window is required")
    val windowUs = withinMinutes * 60L * 1000000L
    val stepIdx = steps.zipWithIndex.toMap
    implicit val stateEnc = E.product[FunnelBuf]
    implicit val outEnc = E.product[FunnelReach]
    implicit val longEnc = E.scalaLong

    def micros(ts: java.sql.Timestamp): Long =
      Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

    def close(uid: Long, buf: FunnelBuf): Iterator[FunnelReach] = {
      val anchorOpt = buf.evts.filter(_._1 == 0).map(_._2).sorted.headOption
      anchorOpt match {
        case None => Iterator.empty
        case Some(anchor) =>
          var prev = anchor
          var reached = 1
          var i = 1
          var stalled = false
          while (i < steps.length && !stalled) {
            val cand = buf.evts.iterator
              .filter(e => e._1 == i && e._2 >= prev && e._2 <= anchor + windowUs)
              .map(_._2)
            if (cand.isEmpty) stalled = true
            else { prev = cand.min; reached += 1; i += 1 }
          }
          Iterator.single(FunnelReach(uid, reached, anchor))
      }
    }

    def fn(uid: Long, rows: Iterator[graft.streaming.Events.Event],
        state: GroupState[FunnelBuf]): Iterator[FunnelReach] = {
      if (rows.isEmpty && state.hasTimedOut) {
        val out = state.getOption.map(close(uid, _)).getOrElse(Iterator.empty)
        state.remove()
        return out
      }
      val prev = state.getOption.map(_.evts).getOrElse(Seq.empty)
      val fresh = rows.map(e => (stepIdx(e.event_type), micros(e.ts))).toSeq
      val buf = FunnelBuf((prev ++ fresh).take(maxBuffered))
      state.update(buf)
      val anchor = buf.evts.filter(_._1 == 0).map(_._2).sorted.headOption
      val horizonUs = anchor.getOrElse(buf.evts.map(_._2).max) + windowUs
      state.setTimeoutTimestamp(
        math.max(horizonUs / 1000L + 1, state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }

    // the event-time (ts) column must survive to the stateful operator —
    // EventTimeTimeout requires the watermark column in its input, so the
    // (step, micros) projection happens INSIDE the state function
    events
      .filter((e: graft.streaming.Events.Event) => stepIdx.contains(e.event_type))
      .withWatermark("ts", watermarkDelay)
      .groupByKey((e: graft.streaming.Events.Event) => e.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Buffered step events per user for [[funnelStream]]. */
  case class FunnelBuf(evts: Seq[(Int, Long)])

  /** One user's funnel outcome from [[funnelStream]]: how many steps were
    * reached and the first-touch anchor (epoch micros).
    */
  case class FunnelReach(user_id: Long, reached: Int, anchor_us: Long)

  /** Retention cohorts: users grouped by their first-activity date, then
    * per (cohort_date, day_offset ≤ maxDays) the number still active that
    * day — the classic triangle. Exact integer counts.
    *
    * Scale shape: one distinct pass to (user, activity-date), a same-key
    * reuse of that partitioning for the per-user cohort min, a co-located
    * user-key join back, and one (cohort, offset) aggregation. Nothing
    * rescans raw events twice and no count-distinct survives to the
    * final aggregate (user-days are already distinct).
    */
  def retention(events: DataFrame, userCol: String, tsCol: String,
      maxDays: Int = 14): DataFrame = {
    val ud = events
      .select(col(userCol).as("u"), to_date(col(tsCol)).as("d"))
      .distinct()
    val coh = ud.groupBy("u").agg(min("d").as("cohort_date"))
    val sizes = coh.groupBy("cohort_date").agg(count(lit(1)).as("n_cohort"))
    ud.join(coh, "u")
      .withColumn("day_offset", datediff(col("d"), col("cohort_date")).cast("long"))
      .filter(col("day_offset") <= maxDays)
      .groupBy("cohort_date", "day_offset")
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort_date"))
      .orderBy("cohort_date", "day_offset")
  }

  /** Event TRANSITION MATRIX (first-order Markov over the per-user event
    * chain): for every adjacent pair of one user's events — ordered by
    * (ts, tiebreakCol), a TOTAL order so the chain is deterministic even
    * with same-timestamp events — count (from_type → to_type) and emit
    * each from-state's transition share as `share_e6` =
    * floor(10⁶·pairs/from_total), exact integer division any engine
    * replays (the collocations lift_e6 convention). The
    * "what do users do next" staple behind funnel discovery and
    * session-flow diagrams.
    *
    * One shuffle on the user key for the lag window; the (from, to)
    * aggregation partially aggregates map-side; the per-from totals come
    * from a second aggregation of the (from, to) counts (bounded by
    * |types|²) — never a rescan of the events.
    */
  def transitions(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, tiebreakCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tiebreakCol))
    val pairs = events
      .withColumn("to_type", col(typeCol))
      .withColumn("from_type", lag(col(typeCol), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_pairs"))
    val totals = pairs.groupBy("from_type").agg(sum("n_pairs").as("n_from"))
    pairs.join(totals, Seq("from_type"))
      .withColumn("share_e6", expr(
        "CAST((CAST(n_pairs AS decimal(38,0)) * 1000000) div n_from AS long)"))
      .select("from_type", "to_type", "n_pairs", "n_from", "share_e6")
      .orderBy("from_type", "to_type")
  }

  /** ROLLING Z-SCORE ANOMALY DETECTION over a per-key event stream: each
    * event is compared against the mean/stddev of its key's previous
    * `window` events (ordered by (ts, idCol) — a TOTAL order, so the
    * rolling frame is deterministic even with same-timestamp events), and
    * flagged when it deviates by more than `z` standard deviations — the
    * metric-spike / fraud-velocity / sensor-outlier staple.
    *
    * The decision is ENGINE-EXACT INTEGER arithmetic, no float mean or
    * sqrt anywhere: with v = cents(value), s = Σ prev v, s2 = Σ prev v²,
    * n = |prev|, the test |v − s/n| > z·σ (population σ over the window)
    * cross-multiplies to (n·v − s)² > z²·(n·s2 − s²) — all longs
    * (|v| ≤ ~10⁶ cents, window ≤ ~10³ keeps every term < 2⁶³).
    * Events with fewer than `minPrev` predecessors are never flagged
    * (`n_prev` rides along so consumers can tell "normal" from
    * "insufficient history").
    *
    * Scale shape: ONE shuffle on the key; the rolling sums are a bounded
    * ROWS-frame window (state = `window` longs per key, streamed in ts
    * order within each key partition). State is O(keys) like
    * sessionization, not O(events).
    */
  def rollingAnomaly(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, window: Int = 20, minPrev: Int = 8,
      z: Int = 3): DataFrame = {
    require(window >= 1 && minPrev >= 2 && z >= 1,
      s"rollingAnomaly: need window >= 1, minPrev >= 2, z >= 1")
    val byKey = Window.partitionBy(col(keyCol))
      .orderBy(col("us"), col(idCol))
      .rowsBetween(-window.toLong, -1L)
    graft.streaming.Events.tsLtz(events)
      .withColumn("us", unix_micros(col(tsCol)))
      .withColumn("vc", expr(s"CAST(round(`$valueCol` * 100) AS bigint)"))
      .withColumn("n_prev", count(col("vc")).over(byKey))
      .withColumn("s", sum(col("vc")).over(byKey))
      // vc² and the cross-multiplied decision run in decimal(38,0): the
      // all-long form overflows SILENTLY once |vc| exceeds ~2³¹/√window
      // (≈ $21M at window 20) and flags garbage. The decimal terms are
      // exact while window·vc² < 10³⁸ AND the plain bigint window sum s
      // stays inside 2⁶³ (|vc| ≲ 4.6·10¹⁷/window cents — far beyond any
      // real metric); past the decimal range Spark yields null, which
      // the coalesce below converts into an EXPLICIT error
      // (assert_true), never a wrong flag. A NULL-value event is
      // excluded from every window sum (count/sum skip nulls) and is
      // itself never flagged — it must not reach the assert.
      .withColumn("s2",
        sum(expr("CAST(vc AS decimal(19,0)) * vc")).over(byKey))
      .withColumn("anomaly",
        when(col("n_prev") < minPrev || col("vc").isNull,
          lit(false)).otherwise(coalesce(
          expr(s"(CAST(n_prev AS decimal(38,0)) * vc - s) * " +
            s"(CAST(n_prev AS decimal(38,0)) * vc - s) > " +
            s"CAST(${z.toLong * z} AS decimal(38,0)) * " +
            s"(CAST(n_prev AS decimal(38,0)) * s2 - CAST(s AS decimal(38,0)) * s)"),
          expr("assert_true(false, 'rollingAnomaly: decimal overflow — " +
            "value_cents magnitude beyond supported range') IS NOT NULL"))))
      .select(col(idCol), col(keyCol), col("us"), col("vc").as("value_cents"),
        col("n_prev"), col("anomaly"))
  }

  /** MULTI-TOUCH ATTRIBUTION: credit each conversion event to the touch
    * events (views, clicks, …) that preceded it within a lookback
    * window — the marketing/product question "which touches earn the
    * purchase". One row per (conversion, touch) plus one DIRECT row for
    * conversions with no preceding touch. Credits are engine-exact
    * integer ppm:
    *
    *  - `credit_linear_ppm` = floor(10⁶ / n_touches) to every touch
    *    (the linear model; the ≤ n_touches−1 ppm remainder is the
    *    documented floor-division convention, as in pageRank shares).
    *  - `is_first_touch` / `is_last_touch` mark the position models:
    *    first/last = min/max (ts, event_id) among the window's touches —
    *    a TOTAL order (the [[rollingAnomaly]] convention), so
    *    first-touch and last-touch attribution read off the same frame.
    *  - touches AT the conversion instant are excluded (strictly
    *    earlier; simultaneous events can't cause each other), the
    *    window is [conv − windowSeconds, conv).
    *  - DIRECT rows: touch_id NULL, n_touches 0, credit 10⁶ (all credit
    *    stays with the conversion), both flags false.
    *
    * Scale shape: conversions and touches are two pushed-down filters
    * of the same scan; the pairing is ONE LEFT equi-join on the user
    * key with the time predicate applied inside (per-user event lists
    * are bounded, and the window bounds pairs per conversion; the
    * unmatched-left rows ARE the direct conversions — no separate
    * anti-join pass); the count and first/last election are ONE window
    * pass over the join output partitioned by conversion id, whose
    * partitions are window-bounded. The join computes once — the
    * groupBy-and-join-back formulation re-evaluated it three times
    * (output, stats, anti-join), measured in the plan audit.
    *
    * Returns (conv_id, user_id-as-keyCol, conv_us, touch_id, touch_type,
    * touch_us, n_touches, credit_linear_ppm, is_first_touch,
    * is_last_touch).
    */
  def attribution(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, typeCol: String, convType: String,
      touchTypes: Seq[String], windowSeconds: Long): DataFrame = {
    require(windowSeconds >= 1, s"windowSeconds must be >= 1 (got $windowSeconds)")
    require(touchTypes.nonEmpty && !touchTypes.contains(convType),
      s"touchTypes must be non-empty and exclude convType $convType")
    val windowUs = windowSeconds * 1000000L
    val base = graft.streaming.Events.tsLtz(events)
      .withColumn("__us", unix_micros(col(tsCol)))
    // NULL key/id/ts rows are dropped like every other verb's
    // (k, us, vc) where-clause: a NULL conv_id would otherwise collect
    // ALL null-id conversions into ONE window partition, mixing
    // unrelated conversions' n_touches/first/last credits
    val conv = base.filter(col(typeCol) === convType)
      .where(col(keyCol).isNotNull && col(idCol).isNotNull &&
        col("__us").isNotNull)
      .select(col(keyCol).as("__k"), col(idCol).cast("long").as("conv_id"),
        col("__us").as("conv_us"))
    val touch = base.filter(col(typeCol).isin(touchTypes: _*))
      .where(col(keyCol).isNotNull && col(idCol).isNotNull &&
        col("__us").isNotNull)
      .select(col(keyCol).as("__k"), col(idCol).cast("long").as("touch_id"),
        col(typeCol).as("touch_type"), col("__us").as("touch_us"))
    // LEFT join: matched rows are (conversion, touch) credit pairs,
    // unmatched rows are the DIRECT conversions — one join, computed once
    val joined = conv.join(touch,
      conv("__k") === touch("__k") &&
        col("touch_us") < col("conv_us") &&
        col("touch_us") >= col("conv_us") - windowUs, "left")
      .select(conv("__k"), col("conv_id"), col("conv_us"),
        col("touch_id"), col("touch_type"), col("touch_us"))
    val byConv = Window.partitionBy(col("conv_id"))
    joined
      .withColumn("n_touches", count(col("touch_id")).over(byConv))
      .withColumn("__first",
        min(struct(col("touch_us"), col("touch_id"))).over(byConv))
      .withColumn("__last",
        max(struct(col("touch_us"), col("touch_id"))).over(byConv))
      .select(col("conv_id"), col("__k").as(keyCol), col("conv_us"),
        col("touch_id"), col("touch_type"), col("touch_us"),
        col("n_touches"),
        when(col("n_touches") > 0,
          expr("CAST(1000000 div n_touches AS bigint)"))
          .otherwise(lit(1000000L)).as("credit_linear_ppm"),
        // struct equality compares null fields as EQUAL in Spark, so the
        // direct row needs the explicit non-null guard to stay false
        (col("touch_id").isNotNull &&
          struct(col("touch_us"), col("touch_id")) === col("__first"))
          .as("is_first_touch"),
        (col("touch_id").isNotNull &&
          struct(col("touch_us"), col("touch_id")) === col("__last"))
          .as("is_last_touch"))
  }

  /** CUSUM LEVEL-SHIFT DETECTION (Page 1954): the sequential
    * changepoint test [[rollingAnomaly]] deliberately is not — rolling
    * z-scores catch SPIKES, CUSUM catches a sustained drift of the mean
    * (a metric that quietly moved 10% for an hour; a cost stream
    * creeping upward) by accumulating one-sided excesses over a
    * reference level until the cumulative drift crosses a threshold:
    *
    *   S⁺_i = max(0, S⁺_{i-1} + (vc_i − target − slack))   (upward)
    *   S⁻_i = max(0, S⁻_{i-1} + (target − slack − vc_i))   (downward)
    *
    * flagged when the sum exceeds `threshCents`. All integer cents, the
    * (ts, id) TOTAL order — the recurrence replays in any engine as a
    * per-key sequential fold (the `packBins` recursive-CTE recipe).
    * After a flag the sums keep accumulating (alarm persists while the
    * shift persists) — the standard un-reset form; consumers who want
    * one alarm per shift take the first flagged row per key run.
    *
    * Scale shape: ONE key exchange + in-partition sort, then a single
    * streaming pass with TWO longs of state, resetting at key
    * boundaries (multiple keys per partition fine) — the packBins
    * shard-fold shape, O(keys) state, no window over the full stream.
    * Overflow bound: a key's cumulative one-sided excess must stay
    * under 2⁶³ cents.
    *
    * Returns (idCol, keyCol, us, value_cents, cusum_pos, cusum_neg,
    * shift_up, shift_down).
    */
  def cusum(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, targetCents: Long,
      slackCents: Long, threshCents: Long): DataFrame = {
    val cusum = new CusumFold("cusum", targetCents, slackCents, threshCents)
    val spark = events.sparkSession
    import spark.implicits._
    byKey(keyedCents(events, keyCol, tsCol, Some(idCol), valueCol))
      .as[(Long, Long, Long, Long)]
      .mapPartitions(it => perEvent("cusum", unstored(it))(_ => cusum.fresh) {
        (f, k, id, us, vc) =>
          f.step(vc)
          (id, k, us, vc, f.sp, f.sn, f.up, f.down)
      })
      .toDF(idCol, keyCol, "us", "value_cents", "cusum_pos", "cusum_neg",
        "shift_up", "shift_down")
  }

  /** EXPONENTIALLY-WEIGHTED MOVING AVERAGE smoothing + deviation flag
    * (Roberts 1959, the EWMA control chart): each key's event values
    * fold into a smoothed level s and each event is flagged when it
    * deviates from the level AS IT STOOD (before the event folds in) by
    * more than `devThreshCents` — the "is this reading far off the
    * recent trend" alarm that complements [[rollingAnomaly]] (fixed
    * window, variance-scaled) and [[cusum]] (cumulative small drift):
    * EWMA weights recent history geometrically, so it tracks a slowly
    * moving level without storing any window.
    *
    * ENGINE-EXACT INTEGER recurrence, no floats: with vc = cents(value)
    * and α = `alphaPpm` parts-per-million, the level is held ×10⁶
    * (`ewma_e6`):
    *
    *   s₀ = vc₀·10⁶                      (seed = first value, unflagged)
    *   sᵢ = α·vcᵢ + ((10⁶−α)·sᵢ₋₁) div 10⁶
    *
    * One truncating division per step — Spark `div`, Scala Long `/` and
    * DuckDB `//` all truncate toward zero, so any engine replays the
    * level bit-for-bit (the packBins fold convention). The deviation
    * test |vcᵢ·10⁶ − sᵢ₋₁| > devThreshCents·10⁶ is pure long compare.
    * Events are ordered by (ts, idCol) — a TOTAL order (the
    * [[rollingAnomaly]] convention).
    *
    * Overflow bound: the level is a convex combination of inputs, so
    * |s| ≤ max|vc|·10⁶ and the product (10⁶−α)·s stays inside 2⁶³ while
    * |vc| ≤ 9·10⁶ cents ($90k per event) — enforced with an explicit
    * error, never a silent wrap (the [[rollingAnomaly]] rule).
    *
    * Scale shape: ONE key exchange + in-partition sort, then a single
    * streaming pass with ONE long of state resetting at key boundaries
    * (the [[cusum]] shard-fold shape) — O(keys) state, no window over
    * the full stream.
    *
    * Returns (idCol, keyCol, us, value_cents, ewma_e6, deviation).
    */
  def ewma(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, alphaPpm: Long,
      devThreshCents: Long): DataFrame = {
    val ewma = new EwmaFold("ewma", alphaPpm, devThreshCents)
    val spark = events.sparkSession
    import spark.implicits._
    byKey(keyedCents(events, keyCol, tsCol, Some(idCol), valueCol))
      .as[(Long, Long, Long, Long)]
      .mapPartitions(it => perEvent("ewma", unstored(it))(_ => ewma.fresh) {
        (f, k, id, us, vc) =>
          val dev = f.step(id, vc)
          (id, k, us, vc, f.s, dev)
      })
      .toDF(idCol, keyCol, "us", "value_cents", "ewma_e6", "deviation")
  }

  /** HOLT DOUBLE-EXPONENTIAL smoothing (Holt 1957): per-key level AND
    * trend, each event judged against the one-step FORECAST — the alarm
    * [[ewma]] cannot raise on a drifting-but-healthy series (EWMA lags a
    * trend forever, flagging steady growth; Holt extrapolates it and
    * flags only departures FROM the trend).
    *
    * ENGINE-EXACT INTEGER recurrence, no floats: with vc = cents(value),
    * α = `alphaPpm`, β = `betaPpm` (parts-per-million), level `l` and
    * trend `b` held ×10⁶:
    *
    *   l₀ = vc₀·10⁶, b₀ = 0                  (seed = first value, unflagged)
    *   fᵢ = lᵢ₋₁ + bᵢ₋₁                      (the one-step forecast)
    *   lᵢ = α·vcᵢ + ((10⁶−α)·fᵢ) div 10⁶
    *   bᵢ = (β·(lᵢ − lᵢ₋₁)) div 10⁶ + ((10⁶−β)·bᵢ₋₁) div 10⁶
    *
    * Three truncating divisions per step, each toward zero in
    * Scala BigInt `/`, DuckDB HUGEINT `//` and Spark `div` alike, so
    * any engine replays level, trend AND flags bit-for-bit (the
    * [[ewma]] convention; a negative-trend spec row pins the
    * toward-zero agreement). The deviation test
    * |vcᵢ·10⁶ − fᵢ| > devThreshCents·10⁶ uses the PRIOR forecast.
    * Events are ordered by (ts, idCol) — a TOTAL order.
    *
    * Overflow: the per-step arithmetic runs in BigInt (the Holt filter
    * is BIBO-stable for α, β ∈ (0, 1] but its overshoot bound is not
    * worth hand-proving against 2⁶³ — the [[rollingAnomaly]] rule says
    * never wrap silently), and each emitted level/trend is required to
    * fit a long with an explicit error. The DuckDB replay computes in
    * HUGEINT and casts at the edge the same way.
    *
    * Scale shape: ONE key exchange + in-partition sort, then a single
    * streaming pass with TWO longs of state resetting at key boundaries
    * (the [[cusum]] shard-fold shape) — O(keys) state, no window over
    * the full stream.
    *
    * Returns (idCol, keyCol, us, value_cents, level_e6, trend_e6,
    * deviation).
    */
  def holt(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, alphaPpm: Long, betaPpm: Long,
      devThreshCents: Long): DataFrame = {
    val holt = new HoltFold("holt", alphaPpm, betaPpm, devThreshCents)
    val spark = events.sparkSession
    import spark.implicits._
    byKey(keyedCents(events, keyCol, tsCol, Some(idCol), valueCol))
      .as[(Long, Long, Long, Long)]
      .mapPartitions(it => perEvent("holt", unstored(it))(_ => holt.fresh) {
        (f, k, id, us, vc) =>
          val dev = f.step(id, vc)
          (id, k, us, vc, f.l.toLong, f.b.toLong, dev)
      })
      .toDF(idCol, keyCol, "us", "value_cents", "level_e6", "trend_e6",
        "deviation")
  }

  /** HOLT-WINTERS TRIPLE-EXPONENTIAL smoothing (additive seasonality,
    * Winters 1960): per-key level, trend AND a per-time-slot seasonal
    * component — each event judged against the one-step forecast
    * level + trend + seasonal(slot). The alarm [[holt]] cannot raise
    * cleanly on a SEASONAL series: a daily cycle drags Holt's trend up
    * and down every period (flagging the cycle itself), while
    * Holt-Winters learns the cycle into the slot components and flags
    * only departures from it. Completes the sequential ladder:
    * rolling-z (50f) / CUSUM (50i) / EWMA (50j) / Holt (50l) /
    * HOLT-WINTERS (50p); orthogonal to [[seasonalBaseline]] (50m),
    * which profiles slot POPULATIONS with no level/trend adaptation.
    *
    * Slots are the [[seasonalBaseline]] integer derivation:
    * slot = (us div (slotSeconds·10⁶)) mod slotModulus, UTC,
    * pre-1970 refused (mod sign would diverge per engine).
    *
    * ENGINE-EXACT INTEGER recurrence, no floats: with vc = cents(value),
    * X = vc·10⁶, α/β/γ in parts-per-million, level `l`, trend `b` and
    * seasonal components s[0..m) all held ×10⁶:
    *
    *   seed (first event of the key): l = X, b = 0, s[*] = 0 (the slot
    *     components start neutral and are LEARNED; the seed does not
    *     touch its slot — unflagged by the warmup gate anyway)
    *   fᵢ = l + b + s[slot]                  (the one-step forecast)
    *   lₙ = (α·(X − s[slot])) div 10⁶ + ((10⁶−α)·(l + b)) div 10⁶
    *   bₙ = (β·(lₙ − l)) div 10⁶ + ((10⁶−β)·b) div 10⁶
    *   s[slot]ₙ = (γ·(X − lₙ)) div 10⁶ + ((10⁶−γ)·s[slot]) div 10⁶
    *
    * Five truncating divisions per step, each toward zero in Scala
    * BigInt `/`, DuckDB HUGEINT `//` and Spark `div` alike (the [[holt]]
    * convention — a negative-component spec row pins the agreement), so
    * any engine replays levels, trends, seasonals AND flags
    * bit-for-bit. The deviation test |X − fᵢ| > devThreshCents·10⁶
    * uses the PRIOR forecast and is GATED on the key's event index
    * exceeding `warmupEvents` (the slot components are meaningless
    * until the key has seen ~one full season; default = slotModulus).
    * Events are ordered by (ts, idCol) — a TOTAL order.
    *
    * Overflow: per-step arithmetic in BigInt, every emitted component
    * required to fit a long with an explicit error (the
    * [[rollingAnomaly]] never-wrap rule). The DuckDB replay computes in
    * HUGEINT and casts at the edge the same way.
    *
    * Scale shape: ONE key exchange + in-partition sort, then a single
    * streaming pass with (2 + slotModulus) longs of state resetting at
    * key boundaries (the [[cusum]] shard-fold shape) — O(keys·modulus)
    * state, no window over the full stream.
    *
    * Returns (idCol, keyCol, us, slot, value_cents, level_e6, trend_e6,
    * seasonal_e6, deviation) — seasonal_e6 is the event's OWN slot
    * component after folding the event in.
    */
  def holtWinters(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, alphaPpm: Long, betaPpm: Long,
      gammaPpm: Long, slotSeconds: Long = 3600L, slotModulus: Int = 24,
      warmupEvents: Long = 0L, devThreshCents: Long = 10000L): DataFrame = {
    val hw = new HoltWintersFold("holtWinters", alphaPpm, betaPpm, gammaPpm,
      slotSeconds, slotModulus, warmupEvents, devThreshCents)
    val spark = events.sparkSession
    import spark.implicits._
    byKey(keyedCents(events, keyCol, tsCol, Some(idCol), valueCol))
      .as[(Long, Long, Long, Long)]
      .mapPartitions(it => holtWintersEvents(hw, unstored(it)))
      .toDF(idCol +: keyCol +: holtWintersCols: _*)
  }

  private val holtWintersCols = Seq("us", "slot", "value_cents", "level_e6",
    "trend_e6", "seasonal_e6", "deviation")

  /** The fold body of [[holtWinters]] and [[holtWintersIncremental]]:
    * each event judged against its key's prior forecast, then folded in,
    * from the key's stored state when there is one. */
  private def holtWintersEvents(hw: HoltWintersFold,
      rows: Iterator[Keyed[HoltWintersStoreRow]]) =
    perEvent(hw.who, rows)(hw.from) { (f, k, id, us, vc) =>
      val dev = f.step(id, us, vc)
      (id, k, us, f.slot.toLong, vc, f.l.toLong, f.b.toLong, f.seasonal, dev)
    }

  /** TERMINAL Holt-Winters fold state, one narrow row per key —
    * `(k, l_e6, b_e6, seas, rn, last_us, last_id)` — the persistable
    * store behind [[holtWintersIncremental]] (the packStore /
    * editSegmentStore pattern for the SEQUENTIAL family: nightly
    * smoothing continues from disk instead of rescanning history):
    * [[updateHoltWintersStore]] of an empty store. `rn` carries so the
    * warmup gate counts TOTAL events, and (last_us, last_id) pins the
    * append-order contract.
    */
  def holtWintersStore(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, alphaPpm: Long, betaPpm: Long,
      gammaPpm: Long, slotSeconds: Long = 3600L,
      slotModulus: Int = 24): DataFrame =
    updateHoltWintersStore(emptyStore[HoltWintersStoreRow](events.sparkSession),
      events, keyCol, tsCol, idCol, valueCol, alphaPpm, betaPpm, gammaPpm,
      slotSeconds, slotModulus)

  /** FORECAST emission from a persisted [[holtWintersStore]]: for each
    * key, the next `horizon` slot-stepped point forecasts
    * f(h) = l + h·b + s[(base_slot + h) mod m], h = 1..horizon, where
    * base_slot derives from the key's stored frontier — the value a
    * monitoring consumer actually reads off a trained seasonal model
    * (capacity planning, alert thresholds for the NEXT hours), computed
    * WITHOUT touching the event history: one narrow map + bounded
    * explode over the m-slot store rows, no shuffle beyond the final
    * ordering a caller adds. All integer; h·b is bounded by
    * horizon ≤ 10000 · a long state, far from 2⁶³ for any real series.
    * A store trained with another slot count is refused (train/score
    * mismatch), as the update verbs refuse it.
    *
    * Returns (k, h, slot, forecast_e6).
    */
  def holtWintersForecast(store: DataFrame, slotSeconds: Long = 3600L,
      slotModulus: Int = 24, horizon: Int = 6): DataFrame = {
    require(slotSeconds >= 1 && slotModulus >= 1,
      s"holtWintersForecast: slotSeconds/slotModulus must be >= 1 " +
        s"(got $slotSeconds, $slotModulus)")
    require(horizon >= 1 && horizon <= 10000,
      s"holtWintersForecast: horizon must be in [1, 10000] (got $horizon)")
    val usPerSlot = slotSeconds * 1000000L
    // the WHOLE emitted sum must not wrap silently (the rollingAnomaly
    // rule), not just h·b: with horizon ≤ 10⁴, |b| ≤ 9·10¹⁴ keeps the
    // extrapolation ≤ 9·10¹⁸, and |l| ≤ 9·10¹⁴ ∧ |s[slot]| ≤ 9·10¹⁴ keep
    // the three-term sum ≤ 9.0018·10¹⁸ < 2⁶³−1 — each addend is bounded,
    // so no partial sum can wrap either
    store
      .withColumn("seas", expr(
        s"IF(size(seas) = $slotModulus, seas, raise_error(concat(" +
          "'holtWintersForecast: store has ', size(seas), ' slots, " +
          s"operator given $slotModulus — train/score mismatch')))"))
      .withColumn("b_e6", expr(
        "IF(abs(b_e6) <= 900000000000000L, b_e6, " +
          "assert_true(false, 'holtWintersForecast: |trend| too large " +
          "for the horizon extrapolation — rescale'))").cast("long"))
      .withColumn("l_e6", expr(
        "IF(abs(l_e6) <= 900000000000000L, l_e6, " +
          "assert_true(false, 'holtWintersForecast: |level| too large " +
          "for the forecast sum — rescale'))").cast("long"))
      .withColumn("__base_slot", expr(s"(last_us div ${usPerSlot}L) % $slotModulus"))
      .withColumn("h", explode(sequence(lit(1L), lit(horizon.toLong))))
      .withColumn("slot", pmod(col("__base_slot") + col("h"), lit(slotModulus.toLong)))
      .withColumn("__seas_v", expr(
        "IF(abs(element_at(seas, CAST(slot + 1 AS int))) <= 900000000000000L, " +
          "element_at(seas, CAST(slot + 1 AS int)), " +
          "assert_true(false, 'holtWintersForecast: |seasonal| too large " +
          "for the forecast sum — rescale'))").cast("long"))
      .withColumn("forecast_e6",
        col("l_e6") + col("h") * col("b_e6") + col("__seas_v"))
      .select("k", "h", "slot", "forecast_e6")
  }

  /** Fold an arriving batch INTO the persisted store — the companion of
    * [[holtWintersIncremental]] that closes the nightly loop:
    * `update(store(A), B) == store(A ∪ B)` EXACTLY under the
    * append-order contract (spec-pinned), so consecutive batches chain
    * forever without rescanning history. Keys untouched by the batch
    * pass through unchanged; batch-new keys appear seeded from their
    * first event; the same loud append-order violation check as the
    * scoring verb.
    */
  def updateHoltWintersStore(store: DataFrame, batch: DataFrame,
      keyCol: String, tsCol: String, idCol: String, valueCol: String,
      alphaPpm: Long, betaPpm: Long, gammaPpm: Long,
      slotSeconds: Long = 3600L, slotModulus: Int = 24): DataFrame = {
    val hw = new HoltWintersFold("updateHoltWintersStore", alphaPpm, betaPpm,
      gammaPpm, slotSeconds, slotModulus)
    continueStore[HoltWintersStoreRow](store,
        keyedCents(batch, keyCol, tsCol, Some(idCol), valueCol))(
      perKey(hw.who, _)(hw.from)((f, id, us, vc) => f.step(id, us, vc))(
        (f, k, lastUs, lastId) => f.row(k, lastUs, lastId)))
  }

  /** INCREMENTAL Holt-Winters: an arriving batch continues each key's
    * recurrence FROM the persisted [[holtWintersStore]] state — history
    * is never rescanned (the 39c/packStore continuation discipline
    * brought to the sequential ladder; the streaming form carries the
    * same state in checkpoints, this is the nightly-batch "cron mode").
    * Under the APPEND-ORDERED arrival contract — every batch event
    * sorts after its key's stored (last_us, last_id) — the outputs
    * equal the one-shot [[holtWinters]] over history ∪ batch restricted
    * to batch rows, BIT-FOR-BIT (the one-shot fold passes through
    * exactly the stored state before reaching the batch; `rn` carries
    * so the warmup gate counts total events). A batch event at or
    * before its key's stored frontier VIOLATES the contract and fails
    * LOUDLY (the appendTable lesson: refuse, never silently mis-fold);
    * keys absent from the store seed fresh.
    */
  def holtWintersIncremental(batch: DataFrame, store: DataFrame,
      keyCol: String, tsCol: String, idCol: String, valueCol: String,
      alphaPpm: Long, betaPpm: Long, gammaPpm: Long,
      slotSeconds: Long = 3600L, slotModulus: Int = 24,
      warmupEvents: Long = 0L, devThreshCents: Long = 10000L): DataFrame = {
    val hw = new HoltWintersFold("holtWintersIncremental", alphaPpm, betaPpm,
      gammaPpm, slotSeconds, slotModulus, warmupEvents, devThreshCents)
    val spark = batch.sparkSession
    import spark.implicits._
    withStored[HoltWintersStoreRow](
        keyedCents(batch, keyCol, tsCol, Some(idCol), valueCol), store)
      .mapPartitions(holtWintersEvents(hw, _))
      .toDF(idCol +: keyCol +: holtWintersCols: _*)
  }

  /** ROBUST MEDIAN/MAD anomaly: each event judged against its key's
    * POPULATION median with the deviation scale set by the median
    * absolute deviation — the outlier-resistant counterpart of
    * [[rollingAnomaly]]'s mean/stddev z-score (one $80 spike inflates a
    * mean-based baseline AND its stddev enough to mask the next spike —
    * masking, Hampel 1974; the median and MAD have breakdown point 50%,
    * so the contaminated history still scores later events correctly —
    * spec-pinned contrast).
    *
    * ENGINE-EXACT INTEGER arithmetic, no floats and no halves: with
    * vc = cents(value) and n the key's population,
    *
    *   med2      = vc@rank((n+1) div 2) + vc@rank((n div 2)+1)
    *               (2× the median — the two middle order statistics
    *                summed, so even-n averaging never leaves integers;
    *                the rank-selected VALUE is determined by the
    *                multiset alone, so value ties need no tiebreak)
    *   absdev2ᵢ  = |2·vcᵢ − med2|            (2× the absolute deviation)
    *   mad4      = absdev2@rank((n+1) div 2) + absdev2@rank((n div 2)+1)
    *               (4× the MAD — the same two-rank trick over absdev2)
    *   deviationᵢ ⇔ n ≥ minEvents AND 2000·absdev2ᵢ > kPermille·mad4
    *               (|vcᵢ − median| > (kPermille/1000)·MAD cleared of
    *                ALL denominators — pure long compares; a constant
    *                series has mad4 = 0, so ANY departure flags and
    *                on-median events never do)
    *
    * The scored event is INSIDE its own baseline (the
    * [[seasonalBaseline]] profile semantics — deterministic,
    * replayable; self-influence on a median is one rank). Overflow:
    * |vc| must stay ≤ 10¹² cents ($10B per event) so the cleared
    * compare's worst product 8·10⁶·|vc| stays inside a long even at
    * kPermille = 10⁶ — asserted per row, never wrapped.
    *
    * Scale shape: two key-partitioned sorts (rank over vc, rank over
    * absdev2) + two narrow per-key aggregates joined back — exact
    * order statistics ARE a per-key sort; there is no window FUNCTION
    * state beyond the rank counter, and the narrow (k, med2/mad4)
    * frames broadcast for bounded key sets (AQE decides). For sketch
    * budgets use approx quantiles (row 56); this verb is the exact
    * form.
    *
    * Returns (idCol, keyCol, us, value_cents, median_x2_cents,
    * absdev_x2_cents, mad_x4_cents, n_key, deviation).
    */
  def robustAnomaly(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, kPermille: Long = 3500L,
      minEvents: Long = 5L): DataFrame =
    robustScore(events,
      robustProfile(events, keyCol, tsCol, valueCol),
      keyCol, tsCol, idCol, valueCol, kPermille, minEvents)

  /** The (key, vc) projection shared by [[robustProfile]] and
    * [[robustScore]] — one derivation (incl. the overflow guard) so
    * train and score can never disagree on a value.
    */
  private def robustEvents(events: DataFrame, keyCol: String,
      tsCol: String, idColOpt: Option[String], valueCol: String): DataFrame = {
    val maxAbs = 1000000000000L
    keyedCents(events, keyCol, tsCol, idColOpt, valueCol)
      .withColumn("vc", expr(
        s"IF(abs(vc) <= ${maxAbs}L, vc, " +
          "assert_true(false, 'robust: |value| too large for the " +
          "cleared integer compare — rescale'))").cast("long"))
  }

  /** TRAINED robust profile — the narrow model frame behind
    * [[robustAnomaly]] (`(k, n_key, median_x2_cents, mad_x4_cents)`),
    * exposed so the median/MAD baseline can persist through the
    * Warehouse and score later streams/batches without re-sorting
    * history (the [[seasonalProfile]] store convention — train nightly,
    * score all day). NOT mergeable: exact order statistics do not add
    * (unlike the seasonal (n, sum) profile) — retrain to fold in new
    * history, or use approx-quantile sketches (row 56) when the budget
    * demands mergeability.
    */
  def robustProfile(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val base = robustEvents(events, keyCol, tsCol, None, valueCol)
    // 2× the median via the two middle order statistics: rank by value
    // and count per key off the SAME key partitioning (one exchange, no
    // count join), keep the (n+1) div 2 and (n div 2)+1 rows, sum.
    val w1 = Window.partitionBy(col("k")).orderBy(col("vc"))
    val wk = Window.partitionBy(col("k"))
    val med2 = base
      .withColumn("n_key", count(lit(1)).over(wk))
      .withColumn("__rn", row_number().over(w1))
      .groupBy("k")
      .agg(max(col("n_key")).as("n_key"),
        sum(when(col("__rn") === expr("(n_key + 1) div 2"), col("vc"))
          .otherwise(0L)
          + when(col("__rn") === expr("(n_key div 2) + 1"), col("vc"))
          .otherwise(0L)).as("median_x2_cents"))
    val withMed = base.join(med2, "k")
      .withColumn("absdev_x2_cents", abs(col("vc") * 2 - col("median_x2_cents")))
    val w2 = Window.partitionBy(col("k")).orderBy(col("absdev_x2_cents"))
    val mad4 = withMed
      .withColumn("__rn", row_number().over(w2))
      .groupBy("k")
      .agg(sum(when(col("__rn") === expr("(n_key + 1) div 2"),
          col("absdev_x2_cents")).otherwise(0L)
          + when(col("__rn") === expr("(n_key div 2) + 1"),
          col("absdev_x2_cents")).otherwise(0L)).as("mad_x4_cents"))
    med2.join(mad4, "k")
      .select("k", "n_key", "median_x2_cents", "mad_x4_cents")
  }

  /** Score events against a (possibly reloaded) [[robustProfile]]: LEFT
    * join — an event whose key the profile has never seen passes
    * through unflagged with NULL stats (a cold key is an unknown, not
    * an anomaly — the [[seasonalScore]] convention), so a stale profile
    * degrades to silence, never to noise. The flag is the same cleared
    * integer compare as [[robustAnomaly]]; self-scoring covers every
    * key, so there the join is effectively inner.
    */
  def robustScore(events: DataFrame, profile: DataFrame,
      keyCol: String, tsCol: String, idCol: String, valueCol: String,
      kPermille: Long = 3500L, minEvents: Long = 5L): DataFrame = {
    require(kPermille > 0 && kPermille <= 1000000L,
      s"robustScore: kPermille must be in (0, 1000000] (got $kPermille)")
    require(minEvents >= 1, s"robustScore: minEvents must be >= 1 (got $minEvents)")
    robustEvents(events, keyCol, tsCol, Some(idCol), valueCol)
      .join(profile.select("k", "n_key", "median_x2_cents", "mad_x4_cents"),
        Seq("k"), "left")
      .withColumn("absdev_x2_cents", abs(col("vc") * 2 - col("median_x2_cents")))
      .withColumn("deviation",
        coalesce(col("n_key") >= minEvents &&
          col("absdev_x2_cents") * 2000L > col("mad_x4_cents") * kPermille,
          lit(false)))
      .select(col("id").as(idCol), col("k").as(keyCol), col("us"),
        col("vc").as("value_cents"), col("median_x2_cents"),
        col("absdev_x2_cents"), col("mad_x4_cents"), col("n_key"),
        col("deviation"))
  }

  /** TIME-SERIES RESAMPLE + GAP FILL: roll a per-key event stream up to
    * fixed-width time buckets and MATERIALIZE the empty buckets — the
    * regularization step before any dashboard, forecast, or
    * join-on-time-grid consumer (irregular event times → a dense,
    * uniform series). Per (key, bucket): event count, sum of values (in
    * cents), and the LAST event's value carried forward across gaps
    * (LOCF — the gauge semantics: a sensor that reported 7 still reads
    * 7 until it reports again). Counts and sums in gap buckets are 0,
    * never carried.
    *
    * Determinism: "last" is the event with the max (ts, id) pair — a
    * TOTAL order under same-timestamp events (the rollingAnomaly
    * convention); values in integer cents; the bucket index is
    * `epoch_us div (bucketSeconds·10⁶)` so any engine computes the same
    * grid. The grid spans each key's OWN [min, max] bucket (no global
    * alignment — keys appear only where they have history, and the
    * first bucket always has an event, so the carried value is never
    * NULL).
    *
    * Scale shape: ONE (key, bucket) aggregation with map-side partial
    * combine; the grid is a per-key `sequence` explode bounded by
    * span/bucketSeconds rows per key; the LOCF is a bounded-state
    * window per key ordered by bucket. State is O(keys), rows
    * O(Σ spans) — choose bucketSeconds so a key's span stays in the
    * millions, the same sizing judgment as any resample.
    *
    * Returns (key, bucket, n_events, sum_cents, value_cents, is_gap).
    */
  /** SEASONAL SLOT-BASELINE anomaly: each event judged against its own
    * (key, time-slot) historical profile — "is $400 big FOR 3 AM?" —
    * the alarm none of the sequential detectors (50f/50i/50j/50l) can
    * raise, because they compare against recent history regardless of
    * the hour while daily/weekly seasonality makes 3 AM and 3 PM
    * different populations. Slots are pure integer arithmetic on epoch
    * micros: slot = (us div (slotSeconds·10⁶)) mod slotModulus —
    * (3600, 24) = hour-of-day, (86400, 7) = day-of-week (epoch day 0 a
    * Thursday), (3600, 168) = hour-of-week; UTC, timezone-free, any
    * engine derives the same slot.
    *
    * Baseline = the POPULATION mean of the key's slot in integer cents
    * (sum div count, truncating toward zero — sum fits long while
    * |vc| ≤ 9·10⁶ and rows ≤ 10¹², far past any per-(key, slot)
    * population). An event deviates when its slot has at least
    * `minSlotEvents` events AND |vc − baseline| > devThreshCents. The
    * scored event is INSIDE its own baseline (profile semantics —
    * deterministic, replayable; at production populations
    * self-influence is 1/n).
    *
    * Scale shape: one (key, slot) aggregation with map-side partial
    * combine + one equi-join of the narrow profile back to the events
    * (profile rows = keys × modulus — broadcastable for bounded key
    * sets, AQE decides; never a window over the event stream).
    *
    * Returns (idCol, keyCol, us, slot, value_cents, baseline_cents,
    * n_slot, deviation).
    */
  def seasonalBaseline(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, slotSeconds: Long = 3600L,
      slotModulus: Int = 24, minSlotEvents: Long = 2L,
      devThreshCents: Long = 10000L): DataFrame =
    seasonalScore(events,
      seasonalProfile(events, keyCol, tsCol, valueCol, slotSeconds, slotModulus),
      keyCol, tsCol, idCol, valueCol, slotSeconds, slotModulus,
      minSlotEvents, devThreshCents)

  /** The slotted event projection shared by [[seasonalProfile]] and
    * [[seasonalScore]] — one derivation so train and score can never
    * disagree on the slot. */
  private def slottedEvents(events: DataFrame, keyCol: String,
      tsCol: String, idColOpt: Option[String], valueCol: String,
      slotSeconds: Long, slotModulus: Int): DataFrame = {
    require(slotSeconds >= 1 && slotModulus >= 1,
      s"seasonal: slotSeconds/slotModulus must be >= 1 " +
        s"(got $slotSeconds, $slotModulus)")
    val usPerSlot = slotSeconds * 1000000L
    keyedCents(events, keyCol, tsCol, idColOpt, valueCol)
      // epoch micros are non-negative for any post-1970 event stream;
      // a pre-epoch timestamp would flip the mod's sign differently
      // per engine — refuse rather than diverge
      .withColumn("slot", expr(
        s"IF(us >= 0, (us div $usPerSlot) % $slotModulus, " +
          "assert_true(false, 'seasonal: pre-1970 timestamp'))")
        .cast("long"))
  }

  /** TRAINED seasonal profile — the narrow model frame behind
    * [[seasonalBaseline]], exposed so the profile can persist through
    * the Warehouse and score later streams/batches without retraining
    * (the quotaStore / spanAnchorStore store convention; real
    * monitoring trains nightly and scores all day). One (key, slot)
    * aggregation with map-side partial combine. Returns
    * `(k, slot, n_slot, baseline_cents)`.
    */
  def seasonalProfile(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, slotSeconds: Long = 3600L,
      slotModulus: Int = 24): DataFrame =
    slottedEvents(events, keyCol, tsCol, None, valueCol,
        slotSeconds, slotModulus)
      .groupBy("k", "slot")
      .agg(count(lit(1)).as("n_slot"), sum(col("vc")).as("sum_cents"))
      .withColumn("baseline_cents", expr("sum_cents div n_slot"))
      .select("k", "slot", "n_slot", "sum_cents", "baseline_cents")

  /** INCREMENTAL profile update — the profile is MERGEABLE because it
    * carries (n_slot, sum_cents), not just the derived mean: a new
    * batch folds in by slotting ONLY itself, summing counts and sums
    * per (key, slot), and re-deriving the baseline from the merged
    * totals — `updateSeasonalProfile(seasonalProfile(A), B)` equals
    * `seasonalProfile(A ∪ B)` EXACTLY (integer sums are associative;
    * the one truncating div happens after merging), so nightly updates
    * never rescan history (the 39c/quotaStore store pattern). The
    * store never shuffles beyond its own narrow (key, slot) rows; the
    * batch side aggregates map-side first.
    */
  def updateSeasonalProfile(profile: DataFrame, events: DataFrame,
      keyCol: String, tsCol: String, valueCol: String,
      slotSeconds: Long = 3600L, slotModulus: Int = 24): DataFrame =
    profile.select("k", "slot", "n_slot", "sum_cents")
      .unionByName(
        seasonalProfile(events, keyCol, tsCol, valueCol,
          slotSeconds, slotModulus)
          .select("k", "slot", "n_slot", "sum_cents"))
      .groupBy("k", "slot")
      .agg(sum(col("n_slot")).as("n_slot"),
        sum(col("sum_cents")).as("sum_cents"))
      .withColumn("baseline_cents", expr("sum_cents div n_slot"))
      .select("k", "slot", "n_slot", "sum_cents", "baseline_cents")

  /** Score events against a (possibly reloaded) [[seasonalProfile]]:
    * LEFT join — an event whose (key, slot) the profile has never seen
    * passes through unflagged with NULL baseline/n_slot (a cold slot is
    * not an anomaly, it's an unknown), so a stale profile degrades to
    * silence, never to noise. `slotSeconds`/`slotModulus` must match
    * the profile's training values (the caller's contract, as with any
    * model). Self-scoring (`seasonalBaseline`) covers every event, so
    * there the join is effectively inner.
    */
  def seasonalScore(events: DataFrame, profile: DataFrame,
      keyCol: String, tsCol: String, idCol: String, valueCol: String,
      slotSeconds: Long = 3600L, slotModulus: Int = 24,
      minSlotEvents: Long = 2L, devThreshCents: Long = 10000L): DataFrame = {
    require(minSlotEvents >= 1 && devThreshCents > 0,
      "seasonal: minSlotEvents >= 1 and devThreshCents > 0 required")
    slottedEvents(events, keyCol, tsCol, Some(idCol), valueCol,
        slotSeconds, slotModulus)
      .join(profile.select("k", "slot", "n_slot", "baseline_cents"),
        Seq("k", "slot"), "left")
      .withColumn("deviation",
        coalesce(col("n_slot") >= minSlotEvents &&
          abs(col("vc") - col("baseline_cents")) > devThreshCents,
          lit(false)))
      .select(col("id").as(idCol), col("k").as(keyCol), col("us"),
        col("slot"), col("vc").as("value_cents"), col("baseline_cents"),
        col("n_slot"), col("deviation"))
  }

  def resample(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, bucketSeconds: Long): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1 (got $bucketSeconds)")
    val usPerBucket = bucketSeconds * 1000000L
    val base = graft.streaming.Events.tsLtz(events)
      .withColumn("us", unix_micros(col(tsCol)))
      .withColumn("vc", expr(s"CAST(round(`$valueCol` * 100) AS bigint)"))
      .withColumn("bucket", expr(s"us div $usPerBucket"))
    val agg = base
      .groupBy(col(keyCol).as("key"), col("bucket"))
      .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sum_cents"),
        max(struct(col("us"), col(idCol).cast("long").as("id"), col("vc")))
          .as("__last"))
      .select(col("key"), col("bucket"), col("n_events"), col("sum_cents"),
        col("__last").getField("vc").as("__lastv"))
    val grid = agg.groupBy("key")
      .agg(min(col("bucket")).as("__b0"), max(col("bucket")).as("__b1"))
      .select(col("key"),
        explode(sequence(col("__b0"), col("__b1"))).as("bucket"))
    grid.join(agg, Seq("key", "bucket"), "left")
      .select(col("key").as(keyCol), col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_cents"), lit(0L)).as("sum_cents"),
        last(col("__lastv"), ignoreNulls = true)
          .over(Window.partitionBy(col("key")).orderBy(col("bucket")))
          .as("value_cents"),
        col("n_events").isNull.as("is_gap"))
  }

  /** ACF SUFFICIENT-STATISTICS STORE — the 39c/packStore continuation
    * discipline brought to [[autocorrelation]]: ONE narrow row per key
    * carries everything needed to score every lag AND to continue the
    * fold under append — counts/sums (n, s, sq), the per-lag raw cross
    * sums C_ℓ = Σ x_t·x_{t+ℓ}, and the BOUNDARY TAILS (first and last
    * maxLag values): appending batch B to history A only adds within-B
    * pairs and A.tail×B.head straddle pairs, both computable from the
    * stored ring — history is never rescanned, and
    * `update(store(A), B) == store(A ∪ B)` EXACTLY (spec-pinned).
    * Scoring derives the mean-cleared numerator from raw sums:
    * num(ℓ) = n²·C_ℓ − n·S·(P_ℓ+Q_ℓ) + (n−ℓ)·S² with P/Q the
    * all-but-boundary partial sums read off the tails.
    *
    * LONG-SAFE store contract (everything in the row is a plain long):
    * |vc| ≤ 3·10⁶ cents and n ≤ 10⁶ per key ⟹ every C_ℓ ≤ 9·10¹⁸ —
    * enforced LOUDLY at fold time; the scoring products live in
    * DECIMAL(38,0) like the one-shot verb.
    *
    * Built as [[updateAcfStore]] of an empty store.
    *
    * Returns (k, n, s, sq, cross[maxLag], head[≤maxLag],
    * tail[≤maxLag], last_us, last_id) — one row per key.
    */
  def acfStore(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, maxLag: Int = 24): DataFrame =
    updateAcfStore(emptyStore[AcfStoreRow](events.sparkSession), events,
      keyCol, tsCol, idCol, valueCol, maxLag)

  /** Fold an arriving batch INTO a persisted [[acfStore]] — keys
    * untouched pass through, batch-new keys seed fresh, and every batch
    * event must sort after its key's stored (last_us, last_id) frontier
    * (the loud append-order contract of the other continuation verbs).
    */
  def updateAcfStore(store: DataFrame, batch: DataFrame,
      keyCol: String, tsCol: String, idCol: String, valueCol: String,
      maxLag: Int = 24): DataFrame = {
    require(maxLag >= 1 && maxLag <= 10000,
      s"updateAcfStore: maxLag must be in [1, 10000] (got $maxLag)")
    continueStore[AcfStoreRow](store,
        keyedCents(batch, keyCol, tsCol, Some(idCol), valueCol))(
      perKey("updateAcfStore", _)(st => new AcfFoldState(maxLag).resume(st))(
        (f, id, _, vc) => f.fold(vc, id))((f, k, lastUs, lastId) => f.row(k, lastUs, lastId)))
  }

  /** Score every lag off a persisted [[acfStore]] WITHOUT touching the
    * event history — emits exactly [[autocorrelation]]'s rows (parity
    * spec-pinned): num/den derived from the raw sums and boundary
    * tails in DECIMAL(38,0), one truncating division per lag, dominant
    * by (acf DESC NULLS LAST, lag).
    */
  def acfFromStore(store: DataFrame, keyCol: String): DataFrame = {
    store
      .withColumn("lag", explode(expr(
        "sequence(1L, least(CAST(size(cross) AS bigint), n - 1))")))
      .where(col("n") >= 2)
      .withColumn("c", expr("element_at(cross, CAST(lag AS int))"))
      .withColumn("p", expr(
        "s - aggregate(slice(tail, size(tail) - CAST(lag AS int) + 1, " +
          "CAST(lag AS int)), 0L, (a, x) -> a + x)"))
      .withColumn("q", expr(
        "s - aggregate(slice(head, 1, CAST(lag AS int)), 0L, (a, x) -> a + x)"))
      .withColumn("num", expr(
        "CAST(n AS DECIMAL(38,0)) * n * c - CAST(n AS DECIMAL(38,0)) * s * (p + q) " +
          "+ CAST(n - lag AS DECIMAL(38,0)) * s * s"))
      .withColumn("den", expr(
        "CAST(n AS DECIMAL(38,0)) * n * sq - CAST(n AS DECIMAL(38,0)) * s * s"))
      .withColumn("acf_e6", expr(
        "CASE WHEN den > 0 THEN " +
          "(num * CAST(1000000 AS DECIMAL(38,0))) div den END").cast("long"))
      .withColumn("__pick", row_number().over(Window.partitionBy("k")
        .orderBy(col("acf_e6").desc_nulls_last, col("lag"))))
      .select(col("k").as(keyCol), col("lag"), (col("n") - col("lag")).as("n_pairs"),
        col("acf_e6"),
        (col("__pick") === 1 && col("acf_e6").isNotNull).as("is_dominant"))
  }

  /** PER-KEY LINEAR TREND (exact-integer OLS over event rank): the
    * "is this metric drifting, and how fast" verb between [[ewma]]'s
    * smoothing and [[changepoint]]'s localization — one closed-form fit
    * per key of vc ~ slope·rank + intercept, with rank the (ts, id)
    * total order (rank regressors are unit-spaced, so the fit is
    * time-scale-free and gap-robust; resample first for wall-clock
    * slopes):
    *
    *   slope_e6     = 10⁶·(n·Σxy − Σx·Σy)  div  (n·Σx² − (Σx)²)
    *   intercept_e6 = 10⁶·(Σy·Σx² − Σx·Σxy) div (n·Σx² − (Σx)²)
    *
    * all sums integer (x = rank, y = cents), the two divisions
    * truncating toward zero in every engine, DECIMAL(38,0)/HUGEINT
    * intermediates. Never-wrap guards: n ≤ 10⁵ (the n⁴-scale
    * denominator must keep the wrap-guard product inside 38 digits)
    * and the final long conversions guarded against wrapping (the
    * [[changepoint]] rule).
    * Keys with one event have a degenerate regressor (zero variance)
    * and emit NULL slope/intercept.
    *
    * Scale shape: ONE window pass for ranks + ONE groupBy — two
    * aggregations over the same key exchange, no joins, no recursion.
    *
    * Returns (keyCol, n, sum_cents, slope_e6, intercept_e6).
    */
  def trendFit(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String): DataFrame = {
    val base = keyedCents(events, keyCol, tsCol, Some(idCol), valueCol)
    val ord = Window.partitionBy("k").orderBy("us", "id")
    base
      .withColumn("x", row_number().over(ord).cast("long"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"), sum("vc").as("sum_cents"),
        sum(col("x")).as("sx"),
        expr("sum(CAST(x AS DECIMAL(38,0)) * x)").as("sxx"),
        expr("sum(CAST(x AS DECIMAL(38,0)) * vc)").as("sxy"))
      .withColumn("n", expr(
        // n^4-scale denominator: 9*10^18 * den must stay inside 38
        // digits for the wrap guard itself to stay exact → n ≤ 10^5
        "IF(n <= 100000L, n, assert_true(false, " +
          "'trendFit: per-key series exceeds 10^5 events — " +
          "bucket upstream (resample) before fitting'))").cast("long"))
      .withColumn("den", expr(
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("num_s", expr(
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sum_cents"))
      .withColumn("num_i", expr(
        "CAST(sum_cents AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sxy"))
      .withColumn("slope_e6", expr(
        "CASE WHEN den > 0 THEN IF(abs(num_s) * 1000000 <= " +
          "CAST(9000000000000000000 AS DECIMAL(38,0)) * den, " +
          "(num_s * 1000000) div den, assert_true(false, " +
          "'trendFit: slope exceeds bigint — rescale the values')) END")
        .cast("long"))
      .withColumn("intercept_e6", expr(
        "CASE WHEN den > 0 THEN IF(abs(num_i) * 1000000 <= " +
          "CAST(9000000000000000000 AS DECIMAL(38,0)) * den, " +
          "(num_i * 1000000) div den, assert_true(false, " +
          "'trendFit: intercept exceeds bigint — rescale the values')) END")
        .cast("long"))
      .select(col("k").as(keyCol), col("n"), col("sum_cents"),
        col("slope_e6"), col("intercept_e6"))
  }

  /** TREND SUFFICIENT-STATISTICS STORE — [[trendFit]]'s continuation
    * form: with the rank regressor, Σx = n(n+1)/2 and Σx² =
    * n(n+1)(2n+1)/6 are CLOSED FORMS of n, so the whole OLS state is
    * three longs per key (n, s = Σcents, sxy = Σ rank·cents); appending
    * batch B shifts its local ranks by the stored n — no tails, no
    * arrays, `update(store(A), B) == store(A ∪ B)` exactly
    * (spec-pinned). Long-safe contract: |vc| ≤ 3·10⁶ cents, n ≤ 10⁵
    * (the scoring bound of [[trendFit]]) — enforced loudly.
    *
    * Returns (k, n, s, sxy, last_us, last_id).
    */
  def trendStore(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String): DataFrame =
    updateTrendStore(emptyStore[TrendStoreRow](events.sparkSession), events,
      keyCol, tsCol, idCol, valueCol)

  /** Fold an arriving batch INTO a persisted [[trendStore]] — untouched
    * keys pass through, new keys seed fresh, batch events must sort
    * after their key's stored frontier (loud append-order contract).
    */
  def updateTrendStore(store: DataFrame, batch: DataFrame,
      keyCol: String, tsCol: String, idCol: String, valueCol: String)
      : DataFrame =
    continueStore[TrendStoreRow](store,
        keyedCents(batch, keyCol, tsCol, Some(idCol), valueCol))(
      perKey("updateTrendStore", _)(new TrendFold(_))((f, id, _, vc) => f.step(id, vc))(
        (f, k, lastUs, lastId) => TrendStoreRow(k, f.n, f.s, f.sxy, lastUs, lastId)))

  /** Score a persisted [[trendStore]] WITHOUT the event history — emits
    * exactly [[trendFit]]'s rows (parity spec-pinned): Σx and Σx²
    * re-derived from n in closed form, then the same DECIMAL(38,0)
    * normal equations and truncating divisions.
    */
  def trendFromStore(store: DataFrame, keyCol: String): DataFrame =
    store
      .withColumn("sx", expr("n * (n + 1) div 2"))
      .withColumn("sxx", expr(
        "CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1) div 6"))
      .withColumn("den", expr(
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("num_s", expr(
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * s"))
      .withColumn("num_i", expr(
        "CAST(s AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sxy"))
      .withColumn("slope_e6", expr(
        "CASE WHEN den > 0 THEN IF(abs(num_s) * 1000000 <= " +
          "CAST(9000000000000000000 AS DECIMAL(38,0)) * den, " +
          "(num_s * 1000000) div den, assert_true(false, " +
          "'trendFromStore: slope exceeds bigint — rescale')) END")
        .cast("long"))
      .withColumn("intercept_e6", expr(
        "CASE WHEN den > 0 THEN IF(abs(num_i) * 1000000 <= " +
          "CAST(9000000000000000000 AS DECIMAL(38,0)) * den, " +
          "(num_i * 1000000) div den, assert_true(false, " +
          "'trendFromStore: intercept exceeds bigint — rescale')) END")
        .cast("long"))
      .select(col("k").as(keyCol), col("n"), col("s").as("sum_cents"),
        col("slope_e6"), col("intercept_e6"))

  /** ROBUST TREND — Theil-Sen slope + Mann-Kendall test (Theil 1950,
    * Sen 1968; Mann 1945, Kendall's τ): the outlier-resistant
    * complement of [[trendFit]]'s OLS (one wild spike can drag a
    * least-squares slope arbitrarily; the MEDIAN of pairwise slopes
    * has breakdown point ~29%, and the sign-based S statistic ignores
    * magnitudes entirely). ONE pairwise self-join per key powers both:
    *
    *   slope(i,j) = (vc_j − vc_i)·10⁶ div (rank_j − rank_i)   i < j
    *   S = Σ sign(vc_j − vc_i);  τ_e6 = S·10⁶ div n_pairs
    *
    * The Theil-Sen slope is the MEDIAN over the pair slopes, emitted
    * ×2 via the exact two-middle-ranks trick (the [[robustAnomaly]]
    * integer-order-statistics recipe — even counts never leave
    * integers); each pair slope is one truncating division (toward
    * zero on negatives, spec-pinned), making the median a DEFINED
    * integer contract both engines replay bit-exactly. Pairwise
    * enumeration is the method's inherent O(n²) — per-key series are
    * guarded ≤ `maxN` (default 1000) LOUDLY; resample longer series
    * first (robust trend is a per-entity verb, the 50q sizing).
    *
    * Returns (keyCol, n, n_pairs, s_stat, tau_e6, slope_med2_e6) —
    * keys with n ≥ 2 only.
    */
  def robustTrend(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, maxN: Int = 1000): DataFrame = {
    require(maxN >= 2 && maxN <= 100000,
      s"robustTrend: maxN must be in [2, 100000] (got $maxN)")
    val base = keyedCents(events, keyCol, tsCol, Some(idCol), valueCol)
      .withColumn("vc", expr(
        "IF(abs(vc) <= 9000000000L, vc, assert_true(false, " +
          "'robustTrend: |value| > 9*10^9 cents — the slope scaling " +
          "would wrap; rescale'))").cast("long"))
    val ord = Window.partitionBy("k").orderBy("us", "id")
    val byK = Window.partitionBy("k")
    val rk = base
      .withColumn("rn", row_number().over(ord).cast("long"))
      .withColumn("n", count(lit(1)).over(byK).cast("long"))
      .withColumn("n", expr(
        s"IF(n <= ${maxN}L, n, assert_true(false, " +
          "'robustTrend: per-key series exceeds maxN — the pairwise " +
          "method is quadratic; resample first'))").cast("long"))
      .select("k", "rn", "vc", "n")
    val pairs = rk.select(col("k"), col("rn").as("ri"), col("vc").as("vi"))
      .join(rk.select(col("k"), col("rn").as("rj"), col("vc").as("vj"),
        col("n")), "k")
      .where(col("ri") < col("rj"))
      .withColumn("slope_e6", expr("((vj - vi) * 1000000L) div (rj - ri)"))
      .withColumn("sgn", signum(col("vj") - col("vi")).cast("long"))
    // exact two-middle-ranks median (x2) over the pair slopes
    val ranked = pairs
      .withColumn("m", count(lit(1)).over(byK).cast("long"))
      .withColumn("rr", row_number().over(
        Window.partitionBy("k").orderBy("slope_e6", "ri", "rj")).cast("long"))
      .withColumn("__lo", expr("(m + 1) div 2"))
      .withColumn("__hi", expr("m div 2 + 1"))
    val med = ranked
      .where(col("rr") === col("__lo") || col("rr") === col("__hi"))
      .groupBy("k")
      .agg((sum("slope_e6") * when(max("__lo") === max("__hi"), 2L)
        .otherwise(1L)).as("slope_med2_e6"))
    pairs.groupBy("k")
      .agg(max("n").as("n"), count(lit(1)).as("n_pairs"),
        sum("sgn").as("s_stat"))
      .withColumn("tau_e6", expr("(s_stat * 1000000L) div n_pairs"))
      .join(med, "k")
      .select(col("k").as(keyCol), col("n"), col("n_pairs"),
        col("s_stat"), col("tau_e6"), col("slope_med2_e6"))
  }

  /** AUTOCORRELATION + dominant-period detection: the sample ACF of
    * each key's (ts, id)-ordered value series at every lag ℓ ∈
    * [1, maxLag], plus the argmax lag — the "does this metric repeat,
    * and with what period" question behind [[seasonalProfile]]'s slot
    * choice and [[holtWinters]]' slotModulus (measure the period FIRST,
    * then configure the seasonal verbs with it).
    *
    * ENGINE-EXACT INTEGER throughout — the mean-centered ACF is made
    * integral by clearing the rational mean x̄ = S/n through y_t =
    * n·x_t − S (so Σ(x_t−x̄)(x_{t+ℓ}−x̄) ∝ Σ y_t·y_{t+ℓ} with the SAME
    * n² factor in numerator and denominator):
    *
    *   acf_e6(ℓ) = (10⁶ · Σ_{t≤n−ℓ} y_t·y_{t+ℓ}) div (Σ_t y_t²)
    *
    * in DECIMAL(38,0) / HUGEINT with ONE truncating division (toward
    * zero in both engines, pinned by a negative-lag-1 spec row);
    * Cauchy-Schwarz bounds |acf_e6| ≤ 10⁶ so the final long conversion
    * can never wrap. Constant series (zero denominator) emit NULL acf
    * and no dominant lag. Never-wrap guards: n ≤ 10⁵ per key and
    * |y| ≤ 3·10¹² — loud, never silent.
    *
    * Scale shape: one (k) window pass for rank/sums, one bounded
    * explode (maxLag rows per event), ONE equi-join shuffle on
    * (k, rank+lag), then grouped sums — no per-key buffering, no
    * recursion, no driver state.
    *
    * Returns (keyCol, lag, n_pairs, acf_e6, is_dominant) — one row per
    * (key, lag ≤ n−1).
    */
  def autocorrelation(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, maxLag: Int = 24): DataFrame = {
    require(maxLag >= 1 && maxLag <= 10000,
      s"autocorrelation: maxLag must be in [1, 10000] (got $maxLag)")
    val base = keyedCents(events, keyCol, tsCol, Some(idCol), valueCol)
    val byK = Window.partitionBy("k")
    val ord = Window.partitionBy("k").orderBy("us", "id")
    val y = base
      .withColumn("rn", row_number().over(ord).cast("long"))
      .withColumn("n", count(lit(1)).over(byK).cast("long"))
      .withColumn("s", sum("vc").over(byK))
      .withColumn("n", expr(
        "IF(n <= 100000L, n, assert_true(false, " +
          "'autocorrelation: per-key series exceeds 10^5 events — " +
          "bucket upstream (resample) before measuring'))").cast("long"))
      .withColumn("y", expr(
        "CAST(n AS DECIMAL(38,0)) * vc - CAST(s AS DECIMAL(38,0))"))
      .withColumn("y", expr(
        "IF(abs(y) <= CAST(3000000000000 AS DECIMAL(38,0)), y, " +
          "assert_true(false, 'autocorrelation: |n*x - S| exceeds " +
          "3*10^12 — rescale the values'))").cast("decimal(38,0)"))
      .select("k", "rn", "y")
    val den = y.groupBy("k")
      .agg(expr("sum(y * y)").as("den"), max("rn").as("__n"))
    val num = y
      .withColumn("lag", explode(sequence(lit(1L), lit(maxLag.toLong))))
      .withColumn("rn2", col("rn") + col("lag"))
      .join(y.select(col("k"), col("rn").as("rn2"), col("y").as("y2")),
        Seq("k", "rn2"))
      .groupBy("k", "lag")
      .agg(expr("sum(y * y2)").as("num"), count(lit(1)).as("n_pairs"))
    num.join(den, Seq("k"))
      .withColumn("acf_e6", expr(
        "CASE WHEN den > 0 THEN " +
          "(num * CAST(1000000 AS DECIMAL(38,0))) div den END").cast("long"))
      .withColumn("__pick", row_number().over(Window.partitionBy("k")
        .orderBy(col("acf_e6").desc_nulls_last, col("lag"))))
      .select(col("k").as(keyCol), col("lag"), col("n_pairs"),
        col("acf_e6"),
        (col("__pick") === 1 && col("acf_e6").isNotNull).as("is_dominant"))
  }

  /** CHANGEPOINT LOCALIZATION (binary segmentation, depth 1 — the
    * offline complement of [[cusum]]: CUSUM raises a sequential alarm
    * WHILE a shift happens; this names the single most likely place a
    * key's mean LEVEL shifted after the fact). For each key's
    * (ts, id)-ordered value series, every split i ∈ [1, n) is scored by
    * the between-segment sum of squares
    *
    *   gain(i) = (S₁·(n−i) − S₂·i)² / (n·i·(n−i))      (cents²)
    *
    * — the SSE reduction of a two-mean fit, maximized by the standard
    * CUSUM-of-sums argmax — and the best split wins (ties → smallest i).
    * Emitted ×10⁶ (`gain_e6`) so the flag threshold has sub-cent²
    * resolution.
    *
    * ENGINE-EXACT INTEGER arithmetic throughout: prefix/total sums are
    * long cents; the contrast, its square, and the scaled quotient are
    * DECIMAL(38,0) in Spark and HUGEINT in DuckDB with ONE truncating
    * division (both engines truncate toward zero; operands are
    * non-negative, so floor = trunc) — every gain replays bit-exactly.
    * Never-wrap-silently guards: n ≤ 10⁶ per key, |contrast| ≤ 9·10¹⁵
    * (so the square fits 38 digits), and gain ≤ 9·10¹⁸ (so the final
    * long conversion cannot wrap — Spark's decimal `div` wraps
    * SILENTLY past 2⁶³, measured) — each violation raises, never
    * truncates.
    *
    * Scale shape: two window passes over ONE (k) exchange + (us, id)
    * in-partition sort (running sum + partition aggregates share the
    * sort; the argmax rank re-sorts in place, no second shuffle), then
    * a filter — no per-key buffering, no driver state, O(1) memory per
    * row. Keys with a single event have no candidate split and are
    * absent from the output.
    *
    * Returns (keyCol, n, split_rn, split_id, split_us, s_left, s_right,
    * gain_e6, shifted).
    */
  def changepoint(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, minGainE6: Long): DataFrame = {
    require(minGainE6 >= 0, s"minGainE6 must be >= 0 (got $minGainE6)")
    val base = keyedCents(events, keyCol, tsCol, Some(idCol), valueCol)
    val byK = Window.partitionBy("k")
    val ord = Window.partitionBy("k").orderBy("us", "id")
    base
      .withColumn("rn", row_number().over(ord).cast("long"))
      .withColumn("s1", sum("vc").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(byK).cast("long"))
      .withColumn("s", sum("vc").over(byK))
      .where(col("rn") < col("n"))
      .withColumn("n", expr(
        "IF(n <= 1000000L, n, assert_true(false, " +
          "'changepoint: per-key series exceeds 10^6 events — " +
          "bucket upstream (resample) before localizing'))").cast("long"))
      .withColumn("diff", expr(
        "CAST(s1 AS DECIMAL(38,0)) * (n - rn) - " +
          "CAST(s - s1 AS DECIMAL(38,0)) * rn"))
      .withColumn("diff", expr(
        "IF(abs(diff) <= CAST(9000000000000000 AS DECIMAL(38,0)), diff, " +
          "assert_true(false, 'changepoint: |segment contrast| exceeds " +
          "9*10^15 — rescale the values'))").cast("decimal(38,0)"))
      .withColumn("num", expr("diff * diff * CAST(1000000 AS DECIMAL(38,0))"))
      .withColumn("den", expr(
        "CAST(n AS DECIMAL(38,0)) * rn * (n - rn)"))
      .withColumn("gain_e6", expr(
        "IF(num <= CAST(9000000000000000000 AS DECIMAL(38,0)) * den, " +
          "num div den, assert_true(false, " +
          "'changepoint: gain exceeds bigint — rescale the values'))")
        .cast("long"))
      .withColumn("__pick", row_number().over(
        Window.partitionBy("k").orderBy(col("gain_e6").desc, col("rn"))))
      .where(col("__pick") === 1)
      .select(col("k").as(keyCol), col("n"), col("rn").as("split_rn"),
        col("id").as("split_id"), col("us").as("split_us"),
        col("s1").as("s_left"), (col("s") - col("s1")).as("s_right"),
        col("gain_e6"), (col("gain_e6") >= minGainE6).as("shifted"))
  }
}

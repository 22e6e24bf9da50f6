package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

import graft.operators.{CusumFold, EventAnalytics, EwmaFold, HoltFold, HoltWintersFold}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-stream operators, SURVEY §2.4: tumbling-window aggregation with
  * watermarking, and gap-based sessionization.
  *
  * Each operator has a batch re-expression (the oracle-checked correctness
  * surface — q_events_window / q_events_sessions) and a Structured
  * Streaming form over the same semantics. The batch and stream forms share
  * aggregation shapes so StreamingSpec can assert stream == batch on the
  * same data.
  *
  * Scale posture: windowed agg is a streaming state store keyed by
  * (window, event_type) with partial aggregation before the shuffle;
  * sessionization keys state by user_id — state size is O(active users),
  * and the watermark bounds it by evicting idle sessions.
  */
object Events {

  /** Defensive boundary normalization: cast any TIMESTAMP_NTZ column to
    * TIMESTAMP_LTZ so every operator below works regardless of how the
    * caller loaded the frame. Warehouse.loadTable already normalizes, but
    * these entry points also take frames built elsewhere (tests, streams,
    * user code); `unix_micros` and java.sql.Timestamp encoders accept only
    * LTZ. With the session timezone at UTC (GraftSession) the cast
    * preserves the stored instant exactly. No-op (plan-identical) on
    * already-LTZ frames.
    */
  private[graft] def tsLtz(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }
    ntz.foldLeft(df)((d, c) =>
      d.withColumn(c, col(c).cast(org.apache.spark.sql.types.TimestampType)))
  }

  /** Tumbling-window aggregate, batch form. Value sums are cents-exact
    * (clean 2-decimal doubles), window start rendered as a string so the
    * output is engine-portable (raw timestamps differ in physical precision
    * between engines).
    */
  def windowedAggBatch(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    windowedAggShape(tsLtz(events).groupBy(
      window(col("ts"), windowLen).as("w"), col("event_type")))

  /** Tumbling-window aggregate over a stream: same shape plus a watermark
    * so late data beyond `watermarkDelay` is dropped and window state is
    * evicted once the watermark passes the window end.
    */
  def windowedAggStream(
      events: DataFrame, windowLen: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    windowedAggShape(tsLtz(events).withWatermark("ts", watermarkDelay).groupBy(
      window(col("ts"), windowLen).as("w"), col("event_type")))

  private def windowedAggShape(
      grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    grouped
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value_cents"),
        col("min_value"), col("max_value"))

  /** SLIDING-window aggregate, batch form: overlapping windows of
    * `windowLen` advancing every `slide` — each event lands in
    * len/slide windows (Spark's `window(ts, len, slide)`, epoch-aligned
    * origin). The rolling-traffic / rolling-error-rate staple that
    * tumbling windows can't express. Window starts are emitted as epoch
    * MICROS (bigint): with both lengths whole seconds the start is
    * `(us div slideUs - j)·slideUs`, integer arithmetic any engine
    * replays exactly — no timestamp rendering in the compare path.
    *
    * Scale: Spark expands each row to its len/slide windows map-side and
    * partially aggregates BEFORE the one (window, event_type) shuffle —
    * state is O(active windows × types), like the tumbling form times
    * the overlap factor.
    */
  def slidingWindowAggBatch(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    slidingShape(tsLtz(events).groupBy(
      window(col("ts"), windowLen, slide).as("w"), col("event_type")))

  /** Sliding-window aggregate over a stream: same shape plus a watermark;
    * window state evicts once the watermark passes each window's end —
    * identical semantics to [[windowedAggStream]] with overlap.
    */
  def slidingWindowAggStream(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "15 minutes", watermarkDelay: String = "2 hours"): DataFrame =
    slidingShape(tsLtz(events).withWatermark("ts", watermarkDelay).groupBy(
      window(col("ts"), windowLen, slide).as("w"), col("event_type")))

  private def slidingShape(
      grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    grouped
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(
        unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("sum_value_cents"),
        col("min_value"), col("max_value"))

  /** Gap-based sessionization, batch form: a new session starts when the
    * gap to the user's previous event exceeds `gapMinutes`. One shuffle on
    * user_id; microsecond integer arithmetic end-to-end (event timestamps
    * are microsecond-exact), so results are engine-exact.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tsLtz(events)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_idx", sum(col("new_sess")).over(run))
      .groupBy("user_id", "session_idx")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
  }

  /** Gap-based sessionization via Spark's NATIVE `session_window` — the
    * Structured-Streaming-idiomatic form of [[sessionizeBatch]] (same
    * gap semantics: a session extends while consecutive events are
    * within `gapMinutes`). The native operator carries its own merging
    * session state in streaming mode, so this form composes with
    * `withWatermark` + `groupBy(session_window(...))` out of the box;
    * here the batch degeneration is the oracle surface. Output matches
    * [[sessionizeBatch]]'s contract exactly — (user_id, session_idx,
    * n_events, start_us, end_us, duration_us) with session_idx numbered
    * by start time — so the two forms share one oracle and the parity
    * is hash-checked, not approximate.
    *
    * One caveat the parity encodes: `session_window` ends a session at
    * last_event + gap, so `end_us` is re-derived from the event max
    * inside the window (the window's own `end` field would differ from
    * the window-function form by the gap).
    */
  def sessionizeNative(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byStart = Window.partitionBy("user_id").orderBy("start_us")
    tsLtz(events)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
      .withColumn("session_idx", row_number().over(byStart).cast("long"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("start_us"), col("end_us"),
        (col("end_us") - col("start_us")).as("duration_us"))
  }

  /** Interval (stream-stream) join, batch form: each left event paired
    * with the right events of the same key whose timestamp falls in
    * [left.ts - lookback, left.ts] — the event-enrichment staple
    * ("purchases with the clicks of the preceding half hour"). One shuffle
    * per side on the key; the range predicate rides as a residual filter
    * on the equi-join. Timestamps are emitted as epoch micros (raw
    * timestamps are not engine-portable).
    */
  def intervalJoinBatch(left: DataFrame, right: DataFrame,
      keyCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id", valueCol: String = "value",
      lookbackMinutes: Int = 30): DataFrame = {
    val lookUs = lookbackMinutes * 60L * 1000000L
    val l = tsLtz(left).select(col(keyCol).as("k"), col(idCol).as("l_id"),
      unix_micros(col(tsCol)).as("l_us"))
    val r = tsLtz(right).select(col(keyCol).as("k"), col(idCol).as("r_id"),
      unix_micros(col(tsCol)).as("r_us"), col(valueCol).as("r_value"))
    l.join(r, Seq("k"))
      .filter(col("r_us") >= col("l_us") - lookUs && col("r_us") <= col("l_us"))
      .select(col("k").as(keyCol), col("l_id"), col("l_us"),
        col("r_id"), col("r_us"), col("r_value"))
  }

  /** Interval join over two streams: watermarks on BOTH sides plus the
    * event-time range condition are exactly what Structured Streaming
    * needs to bound join state — right rows are evicted once the left
    * watermark passes their ts + lookback. Same output contract as
    * [[intervalJoinBatch]] (parity asserted in StreamingSpec).
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      keyCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id", valueCol: String = "value",
      lookbackMinutes: Int = 30, watermarkDelay: String = "0 seconds"): DataFrame = {
    val l = tsLtz(left).withWatermark(tsCol, watermarkDelay).alias("l")
    val r = tsLtz(right).withWatermark(tsCol, watermarkDelay).alias("r")
    l.join(r, expr(
      s"""l.$keyCol = r.$keyCol AND
         |r.$tsCol >= l.$tsCol - INTERVAL $lookbackMinutes MINUTES AND
         |r.$tsCol <= l.$tsCol""".stripMargin))
      .select(col(s"l.$keyCol").as(keyCol),
        col(s"l.$idCol").as("l_id"), unix_micros(col(s"l.$tsCol")).as("l_us"),
        col(s"r.$idCol").as("r_id"), unix_micros(col(s"r.$tsCol")).as("r_us"),
        col(s"r.$valueCol").as("r_value"))
  }

  /** Streaming exact dedup: keep the first occurrence per key within the
    * watermark horizon (the streaming counterpart of Dedup.exact — state is
    * one entry per distinct key, evicted once the watermark passes, so
    * state is bounded by distinct keys per horizon, not stream length).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermarkDelay: String = "1 hour"): DataFrame =
    tsLtz(events).withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Batch re-expression of [[dedupStream]]: first occurrence per key over
    * the whole input (the watermark horizon of a bounded table is the whole
    * table). This is the oracle-checked correctness surface for streaming
    * dedup — q_stream_dedup replays the event table twice (simulated
    * at-least-once delivery) and the deduped result must equal the original
    * stream exactly.
    */
  def dedupBatch(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events.dropDuplicates(keyCols)

  // ---- streaming mixture reservoir -------------------------------------

  /** One stratum's current reservoir: `emission` increases per update so a
    * sink accumulating every micro-batch's output can identify the final
    * state (max emission per stratum).
    */
  case class Reservoir(stratum: String, emission: Long, n_selected: Long,
      keys: Seq[Long])

  /** Reservoir state between micro-batches: the kept entries as parallel
    * (frac, key) sequences, ordered ascending by (frac, key).
    */
  case class ReservoirState(emission: Long, fracs: Seq[Double], keys: Seq[Long])

  /** Per-partition bounded pre-reservoir: keep each stratum's `target`
    * smallest (frac, key) entries within ONE partition (min 1 even at
    * target 0, so stratum presence — and thus the emission counter —
    * survives the reduction). min-k of per-partition min-k is the global
    * min-k, so composing this before the stateful shuffle changes NOTHING
    * about the reservoir contents while cutting shuffle volume from the
    * whole stream to partitions × target rows per stratum. Memory is
    * O(strata × target) per partition — the same bound the state itself
    * carries.
    */
  private[graft] def partitionPreReservoir(targets: Map[String, Long])(
      it: Iterator[(String, Double, Long)]): Iterator[(String, Double, Long)] = {
    val ord = implicitly[Ordering[(Double, Long)]]
    val kept = scala.collection.mutable.HashMap
      .empty[String, java.util.TreeSet[(Double, Long)]]
    it.foreach { case (s, f, k) =>
      val cap = math.max(1L, targets.getOrElse(s, 0L))
      val t = kept.getOrElseUpdate(s,
        new java.util.TreeSet[(Double, Long)](ord))
      // TreeSet dedups exact re-deliveries within the partition; a
      // > Int.MaxValue cap degenerates to keep-everything, matching the
      // stateful insert's Long-target rule
      if (t.size < cap) t.add((f, k))
      else if (ord.lt((f, k), t.last)) { t.add((f, k)); if (t.size > cap) t.pollLast() }
    }
    kept.iterator.flatMap { case (s, t) =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(t.iterator()).asScala
        .map { case (f, k) => (s, f, k) }
    }
  }

  /** STREAMING exact-N mixture sampling — the unknown-count/stream form of
    * [[graft.operators.Relational.mixtureSample]]: per stratum, keep the
    * `target` rows with the LOWEST seeded-hash fraction (ties by key).
    * Because the batch sampler selects by exactly this rule (rank by
    * (frac, key) ≤ target), the reservoir CONVERGES TO THE BATCH ANSWER:
    * after any prefix of the stream, the state equals mixtureSample over
    * the rows seen so far — deterministic, re-run-stable, and independent
    * of arrival order (StreamingSpec pins set equality against the batch
    * sampler on the same data, across multi-trigger ingestion).
    *
    * Works on BATCH frames too (flatMapGroupsWithState degenerates to one
    * pass), which is what the driver-checked contract query runs.
    *
    * 100 TB shape: the stateful groupByKey has ONE task per stratum and no
    * partial reduction — unguarded, a "70% web" stratum would funnel 70%
    * of the stream through a single task. [[partitionPreReservoir]] runs
    * map-side first (the streaming analogue of mixtureSample's pre-filter
    * rescue design), so each partition forwards at most `target` rows per
    * stratum into that shuffle; the selection rule composes exactly
    * (min-k of min-k is min-k), leaving results bit-identical.
    *
    * `keyCol` must be a unique integral row id (the sampled keys; join
    * back for payloads — carrying whole rows through state would make
    * state size O(target × row width) instead of O(target × 8 B)).
    * State per stratum is the bounded key reservoir; emitted rows are
    * (stratum, emission, n_selected, keys sorted asc).
    */
  def mixtureReservoir(df: DataFrame, stratumCol: String, keyCol: String,
      targets: Map[String, Long], seed: Long = 42L): Dataset[Reservoir] = {
    val spark = df.sparkSession
    import spark.implicits._
    // the SAME fraction the batch sampler ranks by — parity depends on it
    val frac = shiftrightunsigned(
      xxhash64(struct(col(keyCol)), lit(seed)), 1)
      .cast("double") / Long.MaxValue.toDouble
    val rows = df
      .select(col(stratumCol).cast("string").as("s"), frac.as("f"),
        col(keyCol).cast("long").as("k"))
      .as[(String, Double, Long)]
      .mapPartitions(partitionPreReservoir(targets) _)
    val ord = implicitly[Ordering[(Double, Long)]]
    val fn = (stratum: String, it: Iterator[(String, Double, Long)],
        state: GroupState[ReservoirState]) => {
      // Long target, NOT .toInt: a >2^31 target must behave like the
      // batch sampler's Long-space rank compare (keep everything seen),
      // not wrap negative and silently select nothing
      val target: Long = targets.getOrElse(stratum, 0L)
      val prevState = state.getOption.getOrElse(ReservoirState(0L, Nil, Nil))
      // bounded insertion: keep the target smallest (frac, key) entries;
      // an ordered list suffices — reservoirs are small by definition
      var res: List[(Double, Long)] =
        prevState.fracs.zip(prevState.keys).toList
      it.foreach { case (_, f, k) =>
        val e = (f, k)
        if (target > 0 &&
            (res.length < target || ord.lt(e, res.last))) {
          val (before, after) = res.span(ord.lt(_, e))
          // skip exact re-deliveries: at-least-once sources must not
          // double-insert a key (idempotent ingestion)
          if (!after.headOption.contains(e)) {
            res = before ::: (e :: after)
            // length can only exceed an Int-representable target
            if (res.length > target) res = res.take(target.toInt)
          }
        }
      }
      state.update(ReservoirState(prevState.emission + 1,
        res.map(_._1), res.map(_._2)))
      Iterator(Reservoir(stratum, prevState.emission + 1, res.length.toLong,
        res.map(_._2).sorted))
    }
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
  }

  // ---- streaming sessionization ---------------------------------------

  /** Typed event row for the stateful streaming path. */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Full-microsecond-precision epoch micros of a Timestamp: getTime is
    * ms-truncated, the sub-ms fraction lives in getNanos. Stateful
    * operators MUST use this (not getTime*1000) or their event times
    * diverge from the batch forms' unix_micros.
    */
  private def tsMicros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  /** Open-session state carried between micro-batches. */
  case class SessionState(startUs: Long, lastUs: Long, n: Long)

  /** A closed session. */
  case class Session(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, duration_us: Long)

  /** Streaming sessionization via flatMapGroupsWithState: state is one open
    * session per user; a session closes (and is emitted) when a later event
    * arrives beyond the gap, or when the event-time watermark passes the
    * session's last event + gap (timeout), which also evicts the state.
    */
  def sessionizeStream(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    val gapUs = gapMinutes * 60L * 1000000L
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[Session]
    implicit val longEnc = Encoders.scalaLong

    def close(uid: Long, s: SessionState): Session =
      Session(uid, s.startUs, s.lastUs, s.n, s.lastUs - s.startUs)

    def fn(uid: Long, rows: Iterator[Event], state: GroupState[SessionState]): Iterator[Session] = {
      if (rows.isEmpty && state.hasTimedOut) {
        val out = state.getOption.map(close(uid, _)).iterator
        state.remove()
        return out
      }
      val sorted = rows.toArray.sortBy(e => (tsMicros(e.ts), e.event_id))
      var cur = state.getOption.orNull
      val closed = List.newBuilder[Session]
      sorted.foreach { e =>
        val us = tsMicros(e.ts)
        if (cur == null) cur = SessionState(us, us, 1)
        else if (us - cur.lastUs > gapUs) {
          closed += close(uid, cur)
          cur = SessionState(us, us, 1)
        } else cur = SessionState(cur.startUs, math.max(cur.lastUs, us), cur.n + 1)
      }
      state.update(cur)
      // Time the open session out once the watermark passes last event + gap.
      // Clamped above the current watermark: a late row for a group whose
      // last event is already more than gap behind the watermark would
      // otherwise make setTimeoutTimestamp throw (the timeout must exceed
      // the watermark) and fail the whole query instead of closing soon.
      state.setTimeoutTimestamp(
        math.max((cur.lastUs + gapUs) / 1000L + 1, state.getCurrentWatermarkMs() + 1))
      closed.result().iterator
    }

    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** File-based event stream: same parquet layout the batch Warehouse
    * reads, consumed incrementally (nanos normalized to timestamps).
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    graft.Warehouse(spark, dir).loadTableStream("events")

  // ---- per-key fold streams ------------------------------------------

  /** Integer cents of a value, HALF_UP like the batch forms' SQL
    * round(value * 100) — math.round rounds half toward +inf, which
    * diverges on negative values. */
  private def cents(value: Double): Long =
    java.math.BigDecimal.valueOf(value * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** The shape every per-key fold stream shares: a key's events of one
    * trigger, in (ts, event_id) order, go to `fold` with the key's
    * state (None: a new or evicted key) and the newest event time seen,
    * which the state carries so a late-but-in-watermark batch of OLDER
    * events cannot move the TTL deadline backwards; `fold` returns the
    * new state and the rows to emit. A key idle for `stateTtlMinutes`
    * of EVENT time evicts via event-time timeout (the
    * [[sessionizeStream]] machinery; processing-time timeouts would
    * spin continuous empty micro-batches on an idle stream). Within a
    * trigger events fold in (ts, event_id) order, so an in-order stream
    * reproduces the batch operator EXACTLY; out-of-order arrivals within
    * `allowedLateness` fold against the state as it stood — the honest
    * real-time semantics; rows later than the watermark are dropped.
    */
  private def keyedFoldStream[S <: Product : TypeTag, O <: Product : TypeTag](
      events: Dataset[Event], allowedLateness: String, stateTtlMinutes: Long)(
      lastUs: S => Long)(
      fold: (Long, Option[S], Array[Event], Long) => (S, Array[O])): Dataset[O] = {
    val ttlUs = stateTtlMinutes * 60L * 1000000L
    def fn(uid: Long, rows: Iterator[Event], state: GroupState[S]): Iterator[O] = {
      if (rows.isEmpty && state.hasTimedOut) { state.remove(); return Iterator.empty }
      val evs = rows.toArray.sortBy(e => (tsMicros(e.ts), e.event_id))
      val newest = (state.getOption.fold(0L)(lastUs) +: evs.map(e => tsMicros(e.ts))).max
      val (next, out) = fold(uid, state.getOption, evs, newest)
      state.update(next)
      // clamped above the current watermark so a deeply-late group
      // cannot make setTimeoutTimestamp throw (the sessionizeStream rule)
      state.setTimeoutTimestamp(
        math.max((newest + ttlUs) / 1000L + 1, state.getCurrentWatermarkMs() + 1))
      out.iterator
    }
    events
      .withWatermark("ts", allowedLateness)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)(Encoders.product[S], Encoders.product[O])
  }

  /** Rolling-window state for [[rollingAnomalyStream]]: the key's last
    * ≤ window value_cents (oldest first) and the newest event time seen —
    * persisted so a late-but-in-watermark batch of OLDER events cannot
    * move the TTL deadline backwards (the sessionizeStream lastUs rule). */
  case class RollingState(vals: Seq[Long], lastUs: Long)

  /** One scored event from [[rollingAnomalyStream]] — the streaming
    * counterpart of [[graft.operators.EventAnalytics.rollingAnomaly]]'s
    * output row. */
  case class AnomalyFlag(event_id: Long, user_id: Long, us: Long,
      value_cents: Long, n_prev: Long, anomaly: Boolean)

  /** STREAMING rolling z-score anomaly detection — flag ON ARRIVAL, the
    * real-time form of [[graft.operators.EventAnalytics.rollingAnomaly]]:
    * each event is tested against its key's last `window` previously seen
    * values with the same cross-multiplied all-long decision
    * (n·v − s)² > z²·(n·s2 − s²), then joins the window itself. The
    * [[keyedFoldStream]] shape: an in-order stream produces EXACTLY the
    * batch operator's flags (StreamingSpec pins the parity); a fraud
    * check cannot wait for the watermark.
    *
    * State per key is `window` longs (a few hundred bytes), O(keys)
    * total — the sessionization bound; a key idle for `stateTtlMinutes`
    * restarts cold if it returns.
    */
  def rollingAnomalyStream(events: Dataset[Event], window: Int = 20,
      minPrev: Int = 8, z: Int = 3, allowedLateness: String = "0 seconds",
      stateTtlMinutes: Long = 24 * 60): Dataset[AnomalyFlag] = {
    require(window >= 1 && minPrev >= 2 && z >= 1,
      "rollingAnomalyStream: need window >= 1, minPrev >= 2, z >= 1")
    keyedFoldStream[RollingState, AnomalyFlag](events, allowedLateness,
        stateTtlMinutes)(_.lastUs) { (uid, prev, evs, newest) =>
      var vals = prev.fold(Vector.empty[Long])(_.vals.toVector)
      val out = evs.map { e =>
        val vc = cents(e.value)
        val n = vals.length.toLong
        // the decision runs in BigInt exactly like the batch form's
        // decimal(38,0) — the all-long form wraps silently once |vc|
        // exceeds ~2³¹/√window and would break the documented
        // stream == batch flag parity at large values
        var s = BigInt(0); var s2 = BigInt(0)
        vals.foreach { w => s += w; s2 += BigInt(w) * w }
        val dev = n * BigInt(vc) - s
        val flag = n >= minPrev &&
          dev * dev > z.toLong * z * (n * s2 - s * s)
        vals = (vals :+ vc).takeRight(window)
        AnomalyFlag(e.event_id, uid, tsMicros(e.ts), vc, n, flag)
      }
      (RollingState(vals, newest), out)
    }
  }

  /** CUSUM state for [[cusumStream]]: the two clamped drift sums plus
    * the newest event time seen (the [[RollingState]] lastUs rule). */
  case class CusumState(sp: Long, sn: Long, lastUs: Long)

  /** One scored event from [[cusumStream]] — the streaming counterpart
    * of [[graft.operators.EventAnalytics.cusum]]'s output row. */
  case class CusumFlag(event_id: Long, user_id: Long, us: Long,
      value_cents: Long, cusum_pos: Long, cusum_neg: Long,
      shift_up: Boolean, shift_down: Boolean)

  /** STREAMING CUSUM level-shift detection — the flag-on-arrival form
    * of [[graft.operators.EventAnalytics.cusum]]: each arriving event
    * folds into its key's clamped one-sided drift sums (the batch
    * operator's [[graft.operators.CusumFold]]) and is flagged the moment
    * the cumulative excess crosses the threshold (the sustained-drift
    * alarm cannot wait for a batch job). The [[keyedFoldStream]] shape:
    * an in-order stream reproduces the batch operator's sums and flags
    * EXACTLY (StreamingSpec pins the parity). State per key is TWO
    * longs + the newest event time; a returning idle key restarts its
    * drift sums cold — document the monitoring gap.
    */
  def cusumStream(events: Dataset[Event], targetCents: Long,
      slackCents: Long, threshCents: Long,
      allowedLateness: String = "0 seconds",
      stateTtlMinutes: Long = 24 * 60): Dataset[CusumFlag] = {
    val cusum = new CusumFold("cusumStream", targetCents, slackCents, threshCents)
    keyedFoldStream[CusumState, CusumFlag](events, allowedLateness,
        stateTtlMinutes)(_.lastUs) { (uid, prev, evs, newest) =>
      val f = cusum.fresh
      prev.foreach { p => f.sp = p.sp; f.sn = p.sn }
      val out = evs.map { e =>
        val vc = cents(e.value)
        f.step(vc)
        CusumFlag(e.event_id, uid, tsMicros(e.ts), vc, f.sp, f.sn, f.up, f.down)
      }
      (CusumState(f.sp, f.sn, newest), out)
    }
  }

  /** EWMA state for [[ewmaStream]]: the ×10⁶ smoothed level, whether it
    * has been seeded by a first event, and the newest event time seen
    * (the [[RollingState]] lastUs rule). */
  case class EwmaState(sE6: Long, seeded: Boolean, lastUs: Long)

  /** One scored event from [[ewmaStream]] — the streaming counterpart
    * of [[graft.operators.EventAnalytics.ewma]]'s output row. */
  case class EwmaFlag(event_id: Long, user_id: Long, us: Long,
      value_cents: Long, ewma_e6: Long, deviation: Boolean)

  /** STREAMING EWMA smoothing — the flag-on-arrival form of
    * [[graft.operators.EventAnalytics.ewma]]: each arriving event folds
    * into its key's ×10⁶ smoothed level via the batch operator's
    * [[graft.operators.EwmaFold]] (s ← α·vc + ((10⁶−α)·s) div 10⁶, seed
    * = first value) and is flagged the moment it deviates from the level
    * as it stood. The [[keyedFoldStream]] shape: an in-order stream
    * reproduces the batch operator's levels and flags EXACTLY
    * (StreamingSpec pins the parity). State per key is ONE long + the
    * seed bit + the newest event time; a returning idle key re-seeds
    * from its next value — document the monitoring gap.
    */
  def ewmaStream(events: Dataset[Event], alphaPpm: Long,
      devThreshCents: Long, allowedLateness: String = "0 seconds",
      stateTtlMinutes: Long = 24 * 60): Dataset[EwmaFlag] = {
    val ewma = new EwmaFold("ewmaStream", alphaPpm, devThreshCents)
    keyedFoldStream[EwmaState, EwmaFlag](events, allowedLateness,
        stateTtlMinutes)(_.lastUs) { (uid, prev, evs, newest) =>
      val f = ewma.fresh
      prev.foreach { p => f.s = p.sE6; f.seeded = p.seeded }
      val out = evs.map { e =>
        val vc = cents(e.value)
        val dev = f.step(e.event_id, vc)
        EwmaFlag(e.event_id, uid, tsMicros(e.ts), vc, f.s, dev)
      }
      (EwmaState(f.s, f.seeded, newest), out)
    }
  }

  /** STREAMING seasonal scoring — each arriving event judged against a
    * STATIC trained [[graft.operators.EventAnalytics.seasonalProfile]]
    * (train nightly, score all day): the batch scorer
    * [[graft.operators.EventAnalytics.seasonalScore]] run on the stream
    * — the slot derives map-side and the profile joins as a
    * stream-static LEFT join, STATELESS (no watermark, no GroupState;
    * Spark broadcasts or re-reads the static side per micro-batch), so
    * the stream scores row-for-row what the batch scores, including the
    * cold-slot NULL-baseline pass-through. Swap the profile by
    * restarting on a new table version (the 33c/33g versioned-read
    * model).
    */
  def seasonalScoreStream(events: Dataset[Event], profile: DataFrame,
      slotSeconds: Long = 3600L, slotModulus: Int = 24,
      minSlotEvents: Long = 2L, devThreshCents: Long = 10000L): DataFrame =
    EventAnalytics.seasonalScore(events.toDF(), profile, "user_id", "ts",
      "event_id", "value", slotSeconds, slotModulus, minSlotEvents, devThreshCents)

  /** STREAMING robust median/MAD scoring — each arriving event judged
    * against a STATIC trained
    * [[graft.operators.EventAnalytics.robustProfile]] (train nightly,
    * score all day): the batch scorer
    * [[graft.operators.EventAnalytics.robustScore]] run on the stream as
    * a stateless stream-static LEFT join, so parity is exact including
    * the cold-key NULL pass-through. Swap the profile by restarting on
    * a new table version (the [[seasonalScoreStream]] model).
    */
  def robustScoreStream(events: Dataset[Event], profile: DataFrame,
      kPermille: Long = 3500L, minEvents: Long = 5L): DataFrame =
    EventAnalytics.robustScore(events.toDF(), profile, "user_id", "ts",
      "event_id", "value", kPermille, minEvents)

  /** Holt state for [[holtStream]]: the ×10⁶ level and trend, the seed
    * bit, and the newest event time seen (the [[EwmaState]] shape plus
    * one long). */
  case class HoltState(lE6: Long, bE6: Long, seeded: Boolean, lastUs: Long)

  /** One scored event from [[holtStream]] — the streaming counterpart
    * of [[graft.operators.EventAnalytics.holt]]'s output row. */
  case class HoltFlag(event_id: Long, user_id: Long, us: Long,
      value_cents: Long, level_e6: Long, trend_e6: Long, deviation: Boolean)

  /** STREAMING HOLT smoothing — the flag-on-arrival form of
    * [[graft.operators.EventAnalytics.holt]]: each arriving event is
    * judged against its key's one-step forecast (level + trend as they
    * stood) and then folds in via the batch operator's
    * [[graft.operators.HoltFold]] — the departs-from-trend alarm scored
    * in real time. The [[keyedFoldStream]] shape: an in-order stream
    * reproduces the batch operator's levels, trends and flags EXACTLY
    * (StreamingSpec pins the parity). State per key is TWO longs + the
    * seed bit + the newest event time (state that fits the emitted
    * longs round-trips losslessly); a returning idle key re-seeds — the
    * [[ewmaStream]] monitoring-gap caveat.
    */
  def holtStream(events: Dataset[Event], alphaPpm: Long, betaPpm: Long,
      devThreshCents: Long, allowedLateness: String = "0 seconds",
      stateTtlMinutes: Long = 24 * 60): Dataset[HoltFlag] = {
    val holt = new HoltFold("holtStream", alphaPpm, betaPpm, devThreshCents)
    keyedFoldStream[HoltState, HoltFlag](events, allowedLateness,
        stateTtlMinutes)(_.lastUs) { (uid, prev, evs, newest) =>
      val f = holt.fresh
      prev.foreach { p => f.l = BigInt(p.lE6); f.b = BigInt(p.bE6); f.seeded = p.seeded }
      val out = evs.map { e =>
        val vc = cents(e.value)
        val dev = f.step(e.event_id, vc)
        HoltFlag(e.event_id, uid, tsMicros(e.ts), vc, f.l.toLong, f.b.toLong, dev)
      }
      (HoltState(f.l.toLong, f.b.toLong, f.seeded, newest), out)
    }
  }

  /** Holt-Winters state for [[holtWintersStream]]: the ×10⁶ level and
    * trend, the per-slot seasonal components, the key's event count
    * (the warmup gate carries across triggers), the seed bit, and the
    * newest event time seen. */
  case class HoltWintersState(lE6: Long, bE6: Long, seas: Seq[Long],
      rn: Long, seeded: Boolean, lastUs: Long)

  /** One scored event from [[holtWintersStream]] — the streaming
    * counterpart of [[graft.operators.EventAnalytics.holtWinters]]'s
    * output row. */
  case class HoltWintersFlag(event_id: Long, user_id: Long, us: Long,
      slot: Long, value_cents: Long, level_e6: Long, trend_e6: Long,
      seasonal_e6: Long, deviation: Boolean)

  /** STREAMING HOLT-WINTERS smoothing — the flag-on-arrival form of
    * [[graft.operators.EventAnalytics.holtWinters]]: each arriving
    * event is judged against its key's one-step seasonal forecast
    * (level + trend + seasonal(slot) as they stood) and then folds in
    * via the batch operator's [[graft.operators.HoltWintersFold]] — the
    * departs-from-the-cycle alarm scored in real time. The
    * [[keyedFoldStream]] shape: an in-order stream reproduces the batch
    * operator's levels, trends, seasonals and flags EXACTLY
    * (StreamingSpec pins the parity). State per key is (2 + slotModulus)
    * longs + a count + the seed bit + the newest event time; a restart
    * whose `slotModulus` differs from the checkpointed state's slot count
    * is refused (train/score mismatch). A returning idle key re-seeds —
    * the [[ewmaStream]] monitoring-gap caveat; for Holt-Winters that
    * also means re-learning the cycle, so size the TTL well past one
    * full season.
    */
  def holtWintersStream(events: Dataset[Event], alphaPpm: Long,
      betaPpm: Long, gammaPpm: Long, slotSeconds: Long = 3600L,
      slotModulus: Int = 24, warmupEvents: Long = 0L,
      devThreshCents: Long = 10000L, allowedLateness: String = "0 seconds",
      stateTtlMinutes: Long = 7 * 24 * 60): Dataset[HoltWintersFlag] = {
    val hw = new HoltWintersFold("holtWintersStream", alphaPpm, betaPpm,
      gammaPpm, slotSeconds, slotModulus, warmupEvents, devThreshCents)
    keyedFoldStream[HoltWintersState, HoltWintersFlag](events, allowedLateness,
        stateTtlMinutes)(_.lastUs) { (uid, prev, evs, newest) =>
      val f = hw.fresh
      prev.foreach(p => f.resume(p.lE6, p.bE6, p.seas, p.rn))
      val out = evs.map { e =>
        val us = tsMicros(e.ts)
        val vc = cents(e.value)
        val dev = f.step(e.event_id, us, vc)
        HoltWintersFlag(e.event_id, uid, us, f.slot.toLong, vc, f.l.toLong,
          f.b.toLong, f.seasonal, dev)
      }
      (HoltWintersState(f.l.toLong, f.b.toLong, f.seas.map(_.toLong).toSeq,
        f.rn, f.seeded, newest), out)
    }
  }

  /** One recent touch event retained in [[attributionStream]] state. */
  case class Touch(us: Long, id: Long, typ: String)

  /** Attribution state: the key's in-window touches (ascending (us, id))
    * plus the newest event time seen (the [[RollingState]] lastUs rule). */
  case class TouchState(touches: Seq[Touch], lastUs: Long)

  /** One credit row from [[attributionStream]] — the streaming
    * counterpart of [[graft.operators.EventAnalytics.attribution]]'s
    * output (None fields = the DIRECT row's NULLs). */
  case class AttributionRow(conv_id: Long, user_id: Long, conv_us: Long,
      touch_id: Option[Long], touch_type: Option[String],
      touch_us: Option[Long], n_touches: Long, credit_linear_ppm: Long,
      is_first_touch: Boolean, is_last_touch: Boolean)

  /** STREAMING multi-touch attribution — credit ON CONVERSION ARRIVAL,
    * the real-time form of
    * [[graft.operators.EventAnalytics.attribution]]: each arriving
    * conversion is attributed against the touches PREVIOUSLY SEEN for
    * its key inside the lookback window, with the batch form's exact
    * integer semantics (floor(10⁶/n) linear ppm, (us, id) first/last
    * election, strict-before window, DIRECT row when no touch
    * qualifies). Within a micro-batch events fold in (ts, event_id)
    * order, so an in-order stream reproduces the batch operator
    * row-for-row (StreamingSpec pins the parity); out-of-order arrivals
    * within `allowedLateness` are credited against what had arrived —
    * the honest real-time semantics (the campaign dashboard cannot wait
    * for the watermark).
    *
    * State per key is only the touches inside the last `windowSeconds +
    * pruneSlackSeconds` of that key's event time plus the newest event
    * time; idle keys evict by event-time TTL, the
    * [[keyedFoldStream]] machinery. In-order, touches older than
    * the window can never enter a later conversion's window, so slack 0
    * is exact and minimal; when admitting late rows (`allowedLateness`
    * > 0) set `pruneSlackSeconds` to at least that horizon, or a
    * conversion arriving late may find a touch of ITS window already
    * pruned by a newer event and emit a DIRECT row instead of credit.
    */
  def attributionStream(events: Dataset[Event], convType: String,
      touchTypes: Seq[String], windowSeconds: Long,
      allowedLateness: String = "0 seconds",
      stateTtlMinutes: Long = 24 * 60,
      pruneSlackSeconds: Long = 0L): Dataset[AttributionRow] = {
    require(windowSeconds >= 1,
      s"windowSeconds must be >= 1 (got $windowSeconds)")
    require(pruneSlackSeconds >= 0,
      s"pruneSlackSeconds must be >= 0 (got $pruneSlackSeconds)")
    require(touchTypes.nonEmpty && !touchTypes.contains(convType),
      s"touchTypes must be non-empty and exclude convType $convType")
    val touchSet = touchTypes.toSet
    val windowUs = windowSeconds * 1000000L
    val pruneUs = (windowSeconds + pruneSlackSeconds) * 1000000L
    keyedFoldStream[TouchState, AttributionRow](events, allowedLateness,
        stateTtlMinutes)(_.lastUs) { (uid, prev, evs, newest) =>
      var touches = prev.fold(Vector.empty[Touch])(_.touches.toVector)
      var lastUs = prev.fold(0L)(_.lastUs)
      val out = scala.collection.mutable.ArrayBuffer.empty[AttributionRow]
      evs.foreach { e =>
        val us = tsMicros(e.ts)
        lastUs = math.max(lastUs, us)
        // prune on the NEWEST time seen, not the current event's — a
        // late event must not resurrect already-pruned history, and an
        // in-order stream gets the same minimal state either way
        touches = touches.filter(_.us >= lastUs - pruneUs)
        if (touchSet.contains(e.event_type)) {
          touches = (touches :+ Touch(us, e.event_id, e.event_type))
            .sortBy(t => (t.us, t.id))
        } else if (e.event_type == convType) {
          val win = touches.filter(t => t.us < us && t.us >= us - windowUs)
          if (win.isEmpty)
            out += AttributionRow(e.event_id, uid, us, None, None, None,
              0L, 1000000L, is_first_touch = false, is_last_touch = false)
          else {
            val n = win.length.toLong
            val credit = 1000000L / n
            val first = win.head // win is (us, id)-ascending
            val last = win.last
            win.foreach { t =>
              out += AttributionRow(e.event_id, uid, us,
                Some(t.id), Some(t.typ), Some(t.us), n, credit,
                t == first, t == last)
            }
          }
        }
      }
      (TouchState(touches, newest), out.toArray)
    }
  }
}

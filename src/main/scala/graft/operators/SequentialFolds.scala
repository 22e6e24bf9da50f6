package graft.operators

import scala.collection.mutable.ArrayBuffer

/** The sequential event-analytics models as per-key folds. Each fold
  * class below holds one key's state, its seed, the rule for resuming
  * from a stored state and the per-event step, so each integer
  * recurrence is written once: the one-shot verbs and continuation
  * stores of [[EventAnalytics]] and the streams of
  * [[graft.streaming.Events]] all call it. A fold's constructor checks
  * the model's parameters, naming the bad one and its value; `fresh`
  * is a zero-state copy for the next key.
  */
private[graft] object SequentialFolds {

  /** One event of a fold, (k, id, us, vc) as [[EventAnalytics]]
    * projects it, with its key's stored row (None: no stored state). */
  type Keyed[S] = (Long, Long, Long, Long, Option[S])

  def unstored(rows: Iterator[(Long, Long, Long, Long)]): Iterator[Keyed[Nothing]] =
    rows.map { case (k, id, us, vc) => (k, id, us, vc, None) }

  def ppm(who: String, name: String, v: Long): Unit =
    require(v > 0 && v <= 1000000L, s"$who: $name must be in (0, 1000000] (got $v)")

  def positive(who: String, name: String, v: Long): Unit =
    require(v > 0, s"$who: $name must be > 0 (got $v)")

  /** Opens a key's fold from its stored row. A stored key's first event
    * must sort after the stored frontier: the append-order contract of
    * every continuation verb, refused loudly, never silently mis-folded. */
  private def open[S <: StoredKey, F](who: String, k: Long, id: Long, us: Long,
      st: Option[S], from: Option[S] => F): F = {
    val f = from(st)
    st.foreach { s =>
      if (us < s.last_us || (us == s.last_us && id <= s.last_id))
        throw new IllegalStateException(
          s"$who: batch event id $id at us=$us does not sort after key $k's " +
            s"stored frontier (${s.last_us}, ${s.last_id}) — the append-order " +
            "contract is violated; rebuild the store instead")
    }
    f
  }

  /** One output row per event of rows sorted by (k, us, id). */
  def perEvent[S <: StoredKey, F, O](who: String, rows: Iterator[Keyed[S]])(
      from: Option[S] => F)(step: (F, Long, Long, Long, Long) => O): Iterator[O] = {
    var cur = 0L
    var f: Option[F] = None
    rows.map { case (k, id, us, vc, st) =>
      if (f.isEmpty || k != cur) { cur = k; f = Some(open(who, k, id, us, st, from)) }
      step(f.get, k, id, us, vc)
    }
  }

  /** One stored row per key of rows sorted by (k, us, id); `close` gets
    * the key and its new frontier (the last folded us and id). */
  def perKey[S <: StoredKey, F](who: String, rows: Iterator[Keyed[S]])(
      from: Option[S] => F)(step: (F, Long, Long, Long) => Unit)(
      close: (F, Long, Long, Long) => S): Iterator[S] = {
    val out = ArrayBuffer.empty[S]
    var cur = 0L
    var lastUs = 0L
    var lastId = 0L
    var f: Option[F] = None
    rows.foreach { case (k, id, us, vc, st) =>
      if (f.isEmpty || k != cur) {
        f.foreach(x => out += close(x, cur, lastUs, lastId))
        cur = k; f = Some(open(who, k, id, us, st, from))
      }
      step(f.get, id, us, vc)
      lastUs = us; lastId = id
    }
    f.foreach(x => out += close(x, cur, lastUs, lastId))
    out.iterator
  }
}

import SequentialFolds.{ppm, positive}

/** A continuation store's row: the key's append-order frontier. */
private[graft] trait StoredKey {
  def last_us: Long
  def last_id: Long
}

/** One key's row of [[EventAnalytics.holtWintersStore]]. */
private[graft] final case class HoltWintersStoreRow(k: Long, l_e6: Long,
    b_e6: Long, seas: Seq[Long], rn: Long, last_us: Long, last_id: Long)
  extends StoredKey

/** One key's row of [[EventAnalytics.acfStore]]. */
private[graft] final case class AcfStoreRow(k: Long, n: Long, s: Long,
    sq: Long, cross: Seq[Long], head: Seq[Long], tail: Seq[Long],
    last_us: Long, last_id: Long) extends StoredKey

/** One key's row of [[EventAnalytics.trendStore]]. */
private[graft] final case class TrendStoreRow(k: Long, n: Long, s: Long,
    sxy: Long, last_us: Long, last_id: Long) extends StoredKey

/** CUSUM (Page 1954): the two clamped one-sided drift sums, seeded at 0. */
private[graft] final class CusumFold(who: String, targetCents: Long,
    slackCents: Long, threshCents: Long) extends Serializable {
  require(slackCents >= 0, s"$who: slackCents must be >= 0 (got $slackCents)")
  positive(who, "threshCents", threshCents)
  var sp = 0L
  var sn = 0L

  def fresh: CusumFold = new CusumFold(who, targetCents, slackCents, threshCents)

  def step(vc: Long): Unit = {
    sp = math.max(0L, sp + (vc - (targetCents + slackCents)))
    sn = math.max(0L, sn + (targetCents - slackCents - vc))
  }

  def up: Boolean = sp > threshCents
  def down: Boolean = sn > threshCents
}

/** EWMA (Roberts 1959): the ×10⁶ level, seeded by the key's first value. */
private[graft] final class EwmaFold(who: String, alphaPpm: Long,
    devThreshCents: Long) extends Serializable {
  ppm(who, "alphaPpm", alphaPpm)
  positive(who, "devThreshCents", devThreshCents)
  var s = 0L
  var seeded = false

  def fresh: EwmaFold = new EwmaFold(who, alphaPpm, devThreshCents)

  /** Folds `vc` in; true when it deviates from the level as it stood. */
  def step(id: Long, vc: Long): Boolean = {
    if (math.abs(vc) > 9000000L)
      throw new IllegalArgumentException(
        s"$who: |value_cents| $vc exceeds the 9,000,000-cent " +
          "overflow bound (event id " + id + ")")
    val dev = seeded && math.abs(vc * 1000000L - s) > devThreshCents * 1000000L
    s = if (seeded) alphaPpm * vc + (1000000L - alphaPpm) * s / 1000000L
        else vc * 1000000L
    seeded = true
    dev
  }
}

/** Holt (1957): the ×10⁶ level and trend, seeded by the key's first
  * value; per-step math in BigInt, every state required to fit a long. */
private[graft] final class HoltFold(who: String, alphaPpm: Long,
    betaPpm: Long, devThreshCents: Long) extends Serializable {
  ppm(who, "alphaPpm", alphaPpm)
  ppm(who, "betaPpm", betaPpm)
  positive(who, "devThreshCents", devThreshCents)
  var l = BigInt(0)
  var b = BigInt(0)
  var seeded = false

  def fresh: HoltFold = new HoltFold(who, alphaPpm, betaPpm, devThreshCents)

  /** Folds `vc` in; true when it deviates from the prior forecast. */
  def step(id: Long, vc: Long): Boolean = {
    val f = l + b
    val dev = seeded && (BigInt(vc) * 1000000L - f).abs > BigInt(devThreshCents) * 1000000L
    if (seeded) {
      val lNew = BigInt(alphaPpm) * vc + (BigInt(1000000L - alphaPpm) * f) / 1000000L
      b = (BigInt(betaPpm) * (lNew - l)) / 1000000L +
        (BigInt(1000000L - betaPpm) * b) / 1000000L
      l = lNew
    } else { l = BigInt(vc) * 1000000L; b = BigInt(0); seeded = true }
    if (!l.isValidLong || !b.isValidLong)
      throw new ArithmeticException(
        s"$who: level/trend exceeds long at event id $id — rescale the input")
    dev
  }
}

/** Holt-Winters (Winters 1960, additive): the ×10⁶ level, trend and
  * per-slot seasonals, seeded by the key's first value with neutral
  * seasonals; `rn` counts the key's events for the warmup gate. The
  * stores leave `warmupEvents` and `devThreshCents` at their defaults. */
private[graft] final class HoltWintersFold(val who: String, alphaPpm: Long,
    betaPpm: Long, gammaPpm: Long, slotSeconds: Long, slotModulus: Int,
    warmupEvents: Long = 0L, devThreshCents: Long = 1L) extends Serializable {
  ppm(who, "alphaPpm", alphaPpm)
  ppm(who, "betaPpm", betaPpm)
  ppm(who, "gammaPpm", gammaPpm)
  positive(who, "slotSeconds", slotSeconds)
  positive(who, "slotModulus", slotModulus)
  positive(who, "devThreshCents", devThreshCents)
  private val warmup = if (warmupEvents > 0) warmupEvents else slotModulus.toLong
  var l = BigInt(0)
  var b = BigInt(0)
  var seas: Array[BigInt] = Array.fill(slotModulus)(BigInt(0))
  var rn = 0L
  var seeded = false
  /** The slot of the last folded event. */
  var slot = 0

  def fresh: HoltWintersFold = new HoltWintersFold(who, alphaPpm, betaPpm,
    gammaPpm, slotSeconds, slotModulus, warmupEvents, devThreshCents)

  /** Continues from a stored state, which must hold one seasonal per slot. */
  def resume(l0: Long, b0: Long, seas0: Seq[Long], rn0: Long): this.type = {
    require(seas0.length == slotModulus,
      s"$who: store has ${seas0.length} slots, operator given $slotModulus " +
        "— train/score mismatch")
    l = BigInt(l0); b = BigInt(b0); seas = seas0.map(BigInt(_)).toArray
    rn = rn0; seeded = true
    this
  }

  def from(st: Option[HoltWintersStoreRow]): HoltWintersFold =
    st.fold(fresh)(s => fresh.resume(s.l_e6, s.b_e6, s.seas, s.rn))

  /** Folds `vc` in; true when, past the warmup, it deviates from the
    * prior forecast l + b + s[slot]. */
  def step(id: Long, us: Long, vc: Long): Boolean = {
    if (us < 0) throw new ArithmeticException(s"$who: pre-1970 timestamp at event id $id")
    rn += 1
    slot = ((us / (slotSeconds * 1000000L)) % slotModulus).toInt
    val x = BigInt(vc) * 1000000L
    val sc = seas(slot)
    val dev = seeded && rn > warmup &&
      (x - (l + b + sc)).abs > BigInt(devThreshCents) * 1000000L
    if (seeded) {
      val lNew = (BigInt(alphaPpm) * (x - sc)) / 1000000L +
        (BigInt(1000000L - alphaPpm) * (l + b)) / 1000000L
      b = (BigInt(betaPpm) * (lNew - l)) / 1000000L +
        (BigInt(1000000L - betaPpm) * b) / 1000000L
      seas(slot) = (BigInt(gammaPpm) * (x - lNew)) / 1000000L +
        (BigInt(1000000L - gammaPpm) * sc) / 1000000L
      l = lNew
    } else { l = x; b = BigInt(0); seeded = true }
    if (!l.isValidLong || !b.isValidLong || !seas(slot).isValidLong)
      throw new ArithmeticException(
        s"$who: level/trend/seasonal exceeds long at event id $id — rescale the input")
    dev
  }

  def seasonal: Long = seas(slot).toLong

  def row(k: Long, lastUs: Long, lastId: Long): HoltWintersStoreRow =
    HoltWintersStoreRow(k, l.toLong, b.toLong, seas.map(_.toLong).toSeq, rn, lastUs, lastId)
}

/** [[EventAnalytics.trendStore]]'s state: n, Σcents and Σ rank·cents,
  * under the long-safe contract |vc| ≤ 3·10⁶, n ≤ 10⁵. */
private[graft] final class TrendFold(st: Option[TrendStoreRow]) {
  var n: Long = st.fold(0L)(_.n)
  var s: Long = st.fold(0L)(_.s)
  var sxy: Long = st.fold(0L)(_.sxy)

  def step(id: Long, vc: Long): Unit = {
    if (math.abs(vc) > 3000000L) throw new ArithmeticException(
      s"trendStore: |value| > 3*10^6 cents at event id $id — the " +
        "long-safe store contract; rescale the values")
    if (n >= 100000L) throw new ArithmeticException(
      s"trendStore: per-key series exceeds 10^5 events at event " +
        s"id $id — bucket upstream (resample) before storing")
    n += 1; s += vc; sxy += n * vc
  }
}

/** [[EventAnalytics.acfStore]]'s state: counts/sums, per-lag cross
  * sums, the head prefix, and a ring buffer of the last `L` values
  * (value #t, 0-based, lives at ring(t % L), so the value at distance ℓ
  * from the next write is ring((n−ℓ) % L)). The long-safe contract
  * (|vc| ≤ 3·10⁶, n ≤ 10⁶) bounds every accumulator under 9·10¹⁸ —
  * violations raise, never wrap.
  */
private[graft] final class AcfFoldState(L: Int) {
  var n = 0L; var s = 0L; var sq = 0L
  val cross = new Array[Long](L + 1)
  val head = new scala.collection.mutable.ArrayBuffer[Long](L)
  val ring = new Array[Long](L)

  /** Continues from the stored row, if any, which must hold one cross
    * sum per lag. */
  def resume(stored: Option[AcfStoreRow]): AcfFoldState = {
    stored.foreach { st =>
      require(st.cross.length == L,
        s"updateAcfStore: store has ${st.cross.length} lags, operator given $L " +
          "— train/score mismatch")
      n = st.n; s = st.s; sq = st.sq
      st.cross.copyToArray(cross, 1)
      head ++= st.head
      val len = st.tail.length // tail(j) is value #(n − len + j)
      st.tail.iterator.zipWithIndex.foreach { case (v, j) =>
        ring(((n - len + j) % L).toInt) = v
      }
    }
    this
  }

  def fold(vc: Long, id: Long): Unit = {
    if (math.abs(vc) > 3000000L) throw new ArithmeticException(
      s"acfStore: |value| > 3*10^6 cents at event id $id — the " +
        "long-safe store contract; rescale the values")
    if (n >= 1000000L) throw new ArithmeticException(
      s"acfStore: per-key series exceeds 10^6 events at event id $id — " +
        "bucket upstream (resample) before storing")
    val lim = math.min(L.toLong, n).toInt
    var l = 1
    while (l <= lim) {
      cross(l) += vc * ring(((n - l) % L).toInt)
      l += 1
    }
    ring((n % L).toInt) = vc
    n += 1; s += vc; sq += vc * vc
    if (head.length < L) head += vc
  }

  def row(k: Long, lastUs: Long, lastId: Long): AcfStoreRow = {
    val lim = math.min(L.toLong, n).toInt
    val tail = new Array[Long](lim)
    var j = 0
    while (j < lim) {
      tail(j) = ring(((n - lim + j) % L).toInt)
      j += 1
    }
    AcfStoreRow(k, n, s, sq, cross.drop(1).toSeq, head.toSeq, tail.toSeq, lastUs, lastId)
  }
}

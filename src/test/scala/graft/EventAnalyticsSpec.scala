package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventAnalytics

class EventAnalyticsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)

  test("funnel: ordered steps, first-touch anchor, window cutoff") {
    val ev = Seq(
      // user 1 completes A→B→C in order
      (1L, "A", ts(0)), (1L, "B", ts(10)), (1L, "C", ts(20)),
      // user 2: B before A — B does not count, funnel stops at A
      (2L, "B", ts(0)), (2L, "A", ts(5)), (2L, "C", ts(50)),
      // user 3: A then B outside the 30-min window
      (3L, "A", ts(0)), (3L, "B", ts(40)), (3L, "C", ts(45)),
      // user 4: never does A
      (4L, "B", ts(0)), (4L, "C", ts(1))
    ).toDF("u", "t", "ts")
    val got = EventAnalytics.funnel(ev, "u", "t", "ts", Seq("A", "B", "C"),
        withinMinutes = 30)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, "A", 3L), (2L, "B", 1L), (3L, "C", 1L)))
  }

  test("funnel: zero window means unlimited; same-timestamp step counts") {
    val ev = Seq(
      (1L, "A", ts(0)), (1L, "B", ts(0)), // simultaneous: ts >= anchor passes
      (2L, "A", ts(0)), (2L, "B", ts(100000))
    ).toDF("u", "t", "ts")
    val got = EventAnalytics.funnel(ev, "u", "t", "ts", Seq("A", "B"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got === Seq((1L, 2L), (2L, 2L)))
  }

  test("funnel: first-touch anchoring is deliberate (re-entry not retried)") {
    // user's first A has no B within window; a later A would have one —
    // documented semantics: anchored at FIRST A, so the funnel stalls
    val ev = Seq((1L, "A", ts(0)), (1L, "A", ts(100)), (1L, "B", ts(110)))
      .toDF("u", "t", "ts")
    val got = EventAnalytics.funnel(ev, "u", "t", "ts", Seq("A", "B"),
        withinMinutes = 30)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got === Seq((1L, 1L), (2L, 0L)))
  }

  test("funnelStream: watermark-closed stream equals the batch chain, out-of-order safe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Events.Event
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("A", "B", "C")
    val ev = Seq(
      Event(1, ts(0), 1, "A", 0), Event(2, ts(10), 1, "B", 0), Event(3, ts(20), 1, "C", 0),
      Event(4, ts(10), 2, "B", 0), Event(5, ts(5), 2, "A", 0), Event(6, ts(50), 2, "C", 0),
      Event(7, ts(0), 3, "A", 0), Event(8, ts(40), 3, "B", 0), Event(9, ts(45), 3, "C", 0),
      Event(10, ts(0), 4, "B", 0), Event(11, ts(1), 4, "C", 0),
      Event(12, ts(2), 5, "A", 0), Event(13, ts(3), 5, "noise", 0))
    val sentinel = Event(99, ts(60 * 24 * 400), 99, "A", 0)

    val mem = MemoryStream[Event]
    val q = graft.operators.EventAnalytics.funnelStream(mem.toDS(), steps,
        withinMinutes = 30, watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("funnel_stream_out")
      .outputMode("append").start()
    try {
      // deliberately out-of-order split: user 1's B/C arrive a trigger
      // BEFORE its anchor A; user 2 spread across triggers
      mem.addData(ev.filter(e => Seq(2L, 3L, 4L, 6L).contains(e.event_id)): _*)
      q.processAllAvailable()
      mem.addData(ev.filterNot(e => Seq(2L, 3L, 4L, 6L).contains(e.event_id)): _*)
      q.processAllAvailable()
      mem.addData(sentinel); q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
    } finally q.stop()
    val got = spark.table("funnel_stream_out")
      .filter(col("user_id") =!= 99L)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap

    val batch = graft.operators.EventAnalytics.funnelReachTimes(
        ev.toDF(), "user_id", "event_type", "ts", steps, withinMinutes = 30)
      .collect().map { r =>
        (r.getLong(0), (1 to 3).count(i => !r.isNullAt(r.fieldIndex(s"ts_$i"))))
      }.toMap
    assert(got === batch)
    // sanity on the fixture itself: full chain, B-before-A stall, window miss
    assert(got(1L) === 3 && got(2L) === 2 && got(3L) === 1 && got(5L) === 1)
    assert(!got.contains(4L)) // no anchor -> no emission, matching batch
  }

  test("funnelStream rejects repeated step names loudly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Events.Event
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val e = intercept[IllegalArgumentException] {
      graft.operators.EventAnalytics.funnelStream(mem.toDS(),
        Seq("A", "B", "A"), withinMinutes = 30)
    }
    assert(e.getMessage.contains("repeated step"))
  }

  test("retention: cohort triangle with exact counts") {
    def d(day: Int) = ts(day * 1440L)
    val ev = Seq(
      (1L, d(0)), (1L, d(1)), (1L, d(3)),
      (2L, d(0)), (2L, d(1)),
      (3L, d(1)), (3L, d(2)),
      (1L, d(0)) // duplicate user-day collapses
    ).toDF("u", "ts")
    val got = EventAnalytics.retention(ev, "u", "ts", maxDays = 7)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val c0 = new java.sql.Date(ts(0).getTime).toString
    val c1 = new java.sql.Date(ts(1440).getTime).toString
    assert(got === Seq(
      (c0, 0L, 2L, 2L), (c0, 1L, 2L, 2L), (c0, 3L, 1L, 2L),
      (c1, 0L, 1L, 1L), (c1, 1L, 1L, 1L)))
  }

  test("retention: maxDays drops the tail") {
    val ev = Seq((1L, ts(0)), (1L, ts(10L * 1440L))).toDF("u", "ts")
    val got = EventAnalytics.retention(ev, "u", "ts", maxDays = 7).count()
    assert(got === 1L)
  }

  test("transitions: per-user chains, same-ts tiebreak, integer shares") {
    // user 1: A->B->A; user 2: A->B (same ts, event_id breaks the tie)
    val ev = Seq(
      (1L, 1L, "A", ts(0)), (2L, 1L, "B", ts(5)), (3L, 1L, "A", ts(9)),
      (4L, 2L, "A", ts(0)), (5L, 2L, "B", ts(0))
    ).toDF("eid", "u", "t", "ts")
    val got = EventAnalytics.transitions(ev, "u", "t", "ts", "eid")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // from A: 2x A->B; from B: 1x B->A => shares 1000000 each
    assert(got === Seq(
      ("A", "B", 2L, 2L, 1000000L),
      ("B", "A", 1L, 1L, 1000000L)))
    // flipping the event ids flips the same-ts chain for user 2: B->A
    val ev2 = Seq(
      (1L, 2L, "A", ts(0)), (0L, 2L, "B", ts(0))
    ).toDF("eid", "u", "t", "ts")
    val got2 = EventAnalytics.transitions(ev2, "u", "t", "ts", "eid")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got2 === Seq(("B", "A")))
  }

  test("transitions: share_e6 floors, multiple to-states sum to <= 1e6") {
    // from A: 2x ->B, 1x ->C => shares 666666 and 333333
    val ev = Seq(
      (1L, 1L, "A", ts(0)), (2L, 1L, "B", ts(1)),
      (3L, 1L, "A", ts(2)), (4L, 1L, "C", ts(3)),
      (5L, 1L, "A", ts(4)), (6L, 1L, "B", ts(5))
    ).toDF("eid", "u", "t", "ts")
    val got = EventAnalytics.transitions(ev, "u", "t", "ts", "eid")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(4))).toMap
    assert(got(("A", "B")) === 666666L)
    assert(got(("A", "C")) === 333333L)
  }

  test("rollingAnomaly: spike over a stable history flags; equal value never does") {
    // user 1: six events at value 1.00, then a 50.00 spike, then 1.00 again.
    // window=5, minPrev=3, z=3: history variance is 0, so ANY deviation
    // flags ((n·v−s)² > 0) and an equal value never does (0 > 0 false).
    val ev = (1 to 6).map(i => (i.toLong, 1L, ts(i.toLong), 1.00)) ++
      Seq((7L, 1L, ts(7), 50.00), (8L, 1L, ts(8), 1.00))
    val got = EventAnalytics.rollingAnomaly(
        ev.toDF("eid", "uid", "ts", "v"), "uid", "ts", "eid", "v",
        window = 5, minPrev = 3, z = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getBoolean(5))).toMap
    assert(got(1L) === (0L, false) && got(2L) === (1L, false) &&
      got(3L) === (2L, false)) // insufficient history, never flagged
    assert(got(4L) === (3L, false) && got(6L) === (5L, false))
    assert(got(7L) === (5L, true)) // the spike
    // event 8's window now contains the spike: mean 10.8, var huge —
    // 1.00 is within 3σ of that contaminated window
    assert(got(8L) === (5L, false))
  }

  test("rollingAnomaly matches a local integer replay on mixed users") {
    val rnd = new scala.util.Random(7)
    val ev = (1 to 200).map { i =>
      (i.toLong, (i % 3).toLong, ts(rnd.nextInt(60).toLong),
        math.round(rnd.nextDouble() * 10000) / 100.0)
    }
    val (window, minPrev, z) = (10, 4, 3)
    val got = EventAnalytics.rollingAnomaly(
        ev.toDF("eid", "uid", "ts", "v"), "uid", "ts", "eid", "v",
        window, minPrev, z)
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getBoolean(5))).toMap
    // local replay: per user, (us, eid)-ordered chain, exact longs
    val expected = ev.groupBy(_._2).flatMap { case (_, rows) =>
      val chain = rows.map { case (eid, _, t, v) =>
        (eid, t.getTime * 1000L, math.round(v * 100)) }
        .sortBy { case (eid, us, _) => (us, eid) }
      chain.zipWithIndex.map { case ((eid, _, vc), i) =>
        val prev = chain.slice(math.max(0, i - window), i).map(_._3)
        val n = prev.length.toLong
        val s = prev.sum; val s2 = prev.map(w => w * w).sum
        val flag = n >= minPrev &&
          (n * vc - s) * (n * vc - s) > z.toLong * z * (n * s2 - s * s)
        eid -> (n, flag)
      }
    }
    expected.foreach { case (eid, e) => assert(got(eid) === e, s"event $eid") }
  }

  test("rollingAnomaly: NULL-value events never flag and never error") {
    // a NULL value must not reach the decimal-overflow assert (its
    // decision expression is null for the benign reason); it reports
    // anomaly=false and is excluded from later windows
    val ev = Seq(
      (1L, 1L, ts(0), Some(2.0)), (2L, 1L, ts(1), Some(2.0)),
      (3L, 1L, ts(2), Some(2.0)), (4L, 1L, ts(3), None),
      (5L, 1L, ts(4), Some(80.0)))
      .toDF("eid", "uid", "ts", "v")
    val got = EventAnalytics.rollingAnomaly(ev, "uid", "ts", "eid", "v",
        window = 5, minPrev = 3, z = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(4), r.getBoolean(5)))).toMap
    assert(got(4L) === ((3L, false)), "NULL value: enough history, no flag, no error")
    assert(got(5L) === ((3L, true)), "spike still flags; the NULL is not in its window")
  }

  test("rollingAnomaly: $40M-scale values decide exactly (old long form overflowed)") {
    // |vc| ≈ 4·10⁹ cents: vc² ≈ 1.6·10¹⁹ > 2⁶³ — the all-long decision
    // overflowed silently here. The decimal(38,0) form must match a BigInt
    // replay bit-for-bit: jittered stable history, then a 2× spike.
    val base = 4.0e7 // dollars → 4e9 cents
    val vals = Seq(base, base + 100, base - 100, base + 50, base - 50,
      base, 2 * base, base)
    val ev = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, 1L, ts(i.toLong), v) }
    val (window, minPrev, z) = (5, 3, 3)
    val got = EventAnalytics.rollingAnomaly(
        ev.toDF("eid", "uid", "ts", "v"), "uid", "ts", "eid", "v",
        window, minPrev, z)
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getBoolean(5))).toMap
    val chain = vals.map(v => BigInt(math.round(v * 100)))
    val expected = chain.zipWithIndex.map { case (vc, i) =>
      val prev = chain.slice(math.max(0, i - window), i)
      val n = BigInt(prev.length)
      val s = prev.sum; val s2 = prev.map(w => w * w).sum
      val flag = prev.length >= minPrev &&
        (n * vc - s) * (n * vc - s) > BigInt(z * z) * (n * s2 - s * s)
      (i.toLong + 1) -> ((prev.length.toLong, flag))
    }
    expected.foreach { case (eid, e) => assert(got(eid) === e, s"event $eid") }
    assert(got(7L)._2 === true, "the 2x spike must flag")
    assert(got(6L)._2 === false, "jitter within 3 sigma must not flag")
  }

  test("resample: bucket rollup, LOCF across gaps, zeroed counts, per-key grid") {
    // bucket = 60s. user 1: events in buckets 0, 0, 3 (gap at 1-2);
    // user 2: single bucket (no grid beyond it). ts() steps minutes, so
    // minute i lands in bucket (1700000000000/60000 + i) — compare
    // bucket DELTAS per key, which is what the grid materializes.
    val ev = Seq(
      (1L, 1L, ts(0), 1.25), (2L, 1L, ts(0), 2.00), // same bucket, last = eid 2
      (3L, 1L, ts(3), 7.00),
      (4L, 2L, ts(10), 5.50))
    val got = EventAnalytics.resample(
        ev.toDF("eid", "uid", "ts", "v"), "uid", "ts", "eid", "v",
        bucketSeconds = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    val b0 = 1700000000000L / 60000L
    // user 1 grid: 4 buckets (0..3); gaps at +1,+2 carry eid 2's 200 cents
    assert(got((1L, b0)) === ((2L, 325L, 200L, false)))
    assert(got((1L, b0 + 1)) === ((0L, 0L, 200L, true)))
    assert(got((1L, b0 + 2)) === ((0L, 0L, 200L, true)))
    assert(got((1L, b0 + 3)) === ((1L, 700L, 700L, false)))
    // user 2: one bucket, no grid expansion
    assert(got((2L, b0 + 10)) === ((1L, 550L, 550L, false)))
    assert(got.size === 5)
  }

  test("cusum: clamp at zero, drift accumulates to a flag, per-key reset") {
    // target 10.00, slack 1.00, thresh 5.00 (cents: 1000/100/500).
    // user 1: stable 10s (both sums pinned at 0), then sustained 13s:
    // sp += 200 each → flags on the 3rd (600 > 500). one dip to 5
    // adds 400 to sn then the next 13 clamps... sn = max(0, 400+900-1300)=0.
    // user 2 starts FRESH (no carry from user 1).
    val vals1 = Seq(10.0, 10.0, 10.0, 13.0, 13.0, 13.0, 5.0, 13.0)
    val ev = vals1.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, 1L, ts(i.toLong), v) } ++
      Seq((100L, 2L, ts(0), 13.0))
    val got = EventAnalytics.cusum(ev.toDF("eid", "uid", "ts", "v"),
        "uid", "ts", "eid", "v",
        targetCents = 1000, slackCents = 100, threshCents = 500)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5), r.getBoolean(6))))
      .toMap
    // local replay
    var sp = 0L; var sn = 0L
    val expect = vals1.zipWithIndex.map { case (v, i) =>
      val vc = math.round(v * 100)
      sp = math.max(0L, sp + vc - 1100); sn = math.max(0L, sn + 900 - vc)
      (i.toLong + 1) -> ((sp, sn, sp > 500))
    }.toMap
    expect.foreach { case (k, e) => assert(got(k) === e, s"event $k") }
    assert(got(4L)._3 === false && got(6L)._3 === true,
      "the sustained 3.00 excess flags on its third event")
    assert(got(100L) === ((200L, 0L, false)), "second key starts from zero")
  }

  test("ewma: seed unflagged, level tracks, deviation vs prior level, per-key reset, negative values") {
    // α = 0.25, deviation threshold $1.00. user 1: seed 10.00, stable,
    // then a 20.00 spike (deviates vs the ~10.00 prior level) that the
    // level partially absorbs; a NEGATIVE value pins truncation-toward-
    // zero agreement across engines. user 2 starts FRESH.
    val vals1 = Seq(10.0, 10.0, 20.0, 10.0, -3.37)
    val ev = vals1.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, 1L, ts(i.toLong), v) } ++
      Seq((100L, 2L, ts(0), 20.0))
    val got = EventAnalytics.ewma(ev.toDF("eid", "uid", "ts", "v"),
        "uid", "ts", "eid", "v",
        alphaPpm = 250000, devThreshCents = 100)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getBoolean(5))))
      .toMap
    // local replay of the exact integer recurrence
    var s = 0L; var seeded = false
    val expect = vals1.zipWithIndex.map { case (v, i) =>
      val vc = math.round(v * 100)
      val dev = seeded && math.abs(vc * 1000000L - s) > 100L * 1000000L
      s = if (seeded) 250000L * vc + 750000L * s / 1000000L else vc * 1000000L
      seeded = true
      (i.toLong + 1) -> ((s, dev))
    }.toMap
    expect.foreach { case (k, e) => assert(got(k) === e, s"event $k") }
    assert(got(1L)._2 === false, "seed row never flags")
    assert(got(2L)._2 === false, "on-level reading unflagged")
    assert(got(3L)._2 === true, "the 20.00 spike deviates from the 10.00 level")
    assert(got(5L)._2 === true, "the negative drop deviates")
    assert(got(100L) === ((2000L * 1000000L, false)), "second key re-seeds")
  }

  test("seasonalBaseline: slot profile, min-population gate, toward-zero mean, per-key") {
    // events within one epoch hour share a slot; ts(60) lands in the
    // next hour. thresh $15, minSlotEvents 2.
    val ev = Seq(
      (1L, 1L, ts(0), 10.0), (2L, 1L, ts(10), 10.0), (3L, 1L, ts(20), 40.0),
      (4L, 1L, ts(60), 100.0),                    // lone slot: gated
      (5L, 2L, ts(0), 50.0), (6L, 2L, ts(5), 50.0), // own key, own baseline
      (7L, 3L, ts(0), -10.0), (8L, 3L, ts(1), -0.01)) // negative mean
      .toDF("eid", "uid", "ts", "v")
    val got = EventAnalytics.seasonalBaseline(ev, "uid", "ts", "eid", "v",
        slotSeconds = 3600, slotModulus = 24, minSlotEvents = 2,
        devThreshCents = 1500)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(3), r.getLong(5), r.getLong(6), r.getBoolean(7))))
      .toMap
    val slotA = got(1L)._1
    assert(got(2L)._1 === slotA && got(3L)._1 === slotA,
      "same epoch hour, same slot")
    assert(got(4L)._1 === (slotA + 1) % 24, "next hour, next slot")
    // key 1 slot A: mean of (1000, 1000, 4000) = 2000
    assert(got(1L) === ((slotA, 2000L, 3L, false)), "within $15 of the slot mean")
    assert(got(2L)._4 === false)
    assert(got(3L) === ((slotA, 2000L, 3L, true)), "the $40 is big FOR this slot")
    assert(got(4L) === (((slotA + 1) % 24, 10000L, 1L, false)),
      "single-event slot never flags (population gate)")
    assert(got(5L) === ((slotA, 5000L, 2L, false)), "key 2 has its own baseline")
    assert(got(7L)._2 === -500L,
      "(-1000 + -1) div 2 truncates TOWARD ZERO to -500 (floor would be -501)")
  }

  test("seasonalScore: reloaded profile == self-score; cold (key, slot) passes unflagged") {
    val train = Seq(
      (1L, 1L, ts(0), 10.0), (2L, 1L, ts(10), 10.0), (3L, 1L, ts(20), 40.0),
      (5L, 2L, ts(0), 50.0), (6L, 2L, ts(5), 50.0))
      .toDF("eid", "uid", "ts", "v")
    val prof = EventAnalytics.seasonalProfile(train, "uid", "ts", "v",
      slotSeconds = 3600, slotModulus = 24)
    // parquet roundtrip — the store path q_seasonal_store exercises
    val tmp = java.nio.file.Files.createTempDirectory("graft_seas").toString
    prof.write.parquet(s"$tmp/p")
    val reloaded = spark.read.parquet(s"$tmp/p")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(5)), Option(r.get(6)), r.getBoolean(7))).toSet
    val self = rows(EventAnalytics.seasonalBaseline(train,
      "uid", "ts", "eid", "v", 3600, 24, 2, 1500))
    val scored = rows(EventAnalytics.seasonalScore(train, reloaded,
      "uid", "ts", "eid", "v", 3600, 24, 2, 1500))
    assert(scored === self, "scoring against the reloaded model == one-shot")
    // a key the profile never saw: unflagged, NULL baseline
    val cold = EventAnalytics.seasonalScore(
      Seq((99L, 7L, ts(0), 1000.0)).toDF("eid", "uid", "ts", "v"),
      reloaded, "uid", "ts", "eid", "v", 3600, 24, 2, 1500).collect()
    assert(cold.length === 1 && !cold(0).getBoolean(7),
      "cold slot is an unknown, not an anomaly")
    assert(cold(0).isNullAt(5) && cold(0).isNullAt(6),
      "no fabricated baseline for an unseen (key, slot)")
  }

  test("updateSeasonalProfile: merged == one-shot profile exactly; new keys appear") {
    val hist = Seq(
      (1L, 1L, ts(0), 10.0), (2L, 1L, ts(10), 10.0),
      (5L, 2L, ts(0), 50.0)).toDF("eid", "uid", "ts", "v")
    val batch = Seq(
      (3L, 1L, ts(20), 40.0),            // merges into key 1's slot
      (9L, 9L, ts(0), -0.03)).toDF("eid", "uid", "ts", "v") // new key
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val merged = rows(EventAnalytics.updateSeasonalProfile(
      EventAnalytics.seasonalProfile(hist, "uid", "ts", "v", 3600, 24),
      batch, "uid", "ts", "v", 3600, 24))
    val oneShot = rows(EventAnalytics.seasonalProfile(
      hist.unionByName(batch), "uid", "ts", "v", 3600, 24))
    assert(merged === oneShot,
      "history never rescanned, yet counts, sums AND baselines identical")
    assert(merged.exists(p => p._1 == 9L && p._5 == -3L),
      "batch-new key appears with its own (negative, toward-zero) baseline")
    assert(merged.exists(p => p._1 == 1L && p._3 == 3L && p._5 == 2000L),
      "key 1's slot merged to n=3, baseline (1000+1000+4000) div 3")
  }

  test("holt: flags the departure FROM a trend, not the trend (naive-linear mode)") {
    // α = β = 1 makes Holt the naive linear predictor: level = value,
    // trend = last delta, forecast = value + delta. A steady $2 rise is
    // then on-forecast (EWMA would flag every step of it); the PLATEAU
    // at event 5 departs from the trend and flags.
    val vals = Seq(10.0, 12.0, 14.0, 16.0, 16.0)
    val ev = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, 1L, ts(i.toLong), v) }
    val got = EventAnalytics.holt(ev.toDF("eid", "uid", "ts", "v"),
        "uid", "ts", "eid", "v",
        alphaPpm = 1000000, betaPpm = 1000000, devThreshCents = 100)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5), r.getBoolean(6))))
      .toMap
    assert(got(1L) === ((1000L * 1000000L, 0L, false)), "seed: level=value, no trend")
    assert(got(2L) === ((1200L * 1000000L, 200L * 1000000L, true)),
      "trend unknown at event 2: the first rise deviates from the flat forecast")
    assert(got(3L) === ((1400L * 1000000L, 200L * 1000000L, false)),
      "on-trend rise is ON forecast — ewma would flag this")
    assert(got(4L)._3 === false, "still on trend")
    assert(got(5L)._3 === true, "the plateau departs from the learned trend")
  }

  test("holt: local BigInt replay, negative trend truncation, per-key reset") {
    // α = 0.25, β = 0.3, threshold $1.00 — a falling series drives the
    // trend NEGATIVE, pinning truncation-toward-zero agreement across
    // Scala BigInt `/`, Spark and DuckDB `//`; user 2 starts FRESH.
    val vals1 = Seq(10.0, 9.0, 7.5, 8.2, -3.37)
    val ev = vals1.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, 1L, ts(i.toLong), v) } ++
      Seq((100L, 2L, ts(0), 20.0))
    val got = EventAnalytics.holt(ev.toDF("eid", "uid", "ts", "v"),
        "uid", "ts", "eid", "v",
        alphaPpm = 250000, betaPpm = 300000, devThreshCents = 100)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(4), r.getLong(5), r.getBoolean(6))))
      .toMap
    var l = BigInt(0); var b = BigInt(0); var seeded = false
    val expect = vals1.zipWithIndex.map { case (v, i) =>
      val vc = math.round(v * 100)
      val f = l + b
      val dev = seeded && (BigInt(vc) * 1000000L - f).abs > BigInt(100L * 1000000L)
      if (seeded) {
        val lNew = BigInt(250000L) * vc + (BigInt(750000L) * f) / 1000000L
        b = (BigInt(300000L) * (lNew - l)) / 1000000L +
          (BigInt(700000L) * b) / 1000000L
        l = lNew
      } else { l = BigInt(vc) * 1000000L; b = BigInt(0); seeded = true }
      (i.toLong + 1) -> ((l.toLong, b.toLong, dev))
    }.toMap
    expect.foreach { case (k, e) => assert(got(k) === e, s"event $k") }
    assert(expect.values.exists(_._2 < 0L), "fixture drives a negative trend")
    assert(got(5L)._3 === true, "the -3.37 crash deviates from the forecast")
    assert(got(100L) === ((2000L * 1000000L, 0L, false)), "second key re-seeds")
  }

  test("holtWinters: learns the cycle, flags the break, recovers (γ=1 mode)") {
    // A $10/$50 square wave on alternating 60-second slots (mod 2):
    // γ = 1 snaps each slot component to its residual, α = 1% keeps the
    // level near $10 and β = 1 ppm keeps the trend negligible — so after
    // one full season the forecast tracks the cycle and on-cycle events
    // are ON forecast at a $5 alarm, while plain Holt (no seasonal term)
    // mis-flags the wave itself. Minute 6 breaks the cycle ($55 in the
    // $10 slot) and must flag; minute 7 is back on cycle and must not
    // (the slot components absorb the hit — no lingering perturbation).
    val vals = (0 to 7).map(i =>
      if (i == 6) 55.0 else if (i % 2 == 0) 10.0 else 50.0)
    val ev = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, 1L, ts(i.toLong), v) }.toDF("eid", "uid", "ts", "v")
    val hw = EventAnalytics.holtWinters(ev, "uid", "ts", "eid", "v",
        alphaPpm = 10000, betaPpm = 1, gammaPpm = 1000000,
        slotSeconds = 60, slotModulus = 2, devThreshCents = 500)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(7), r.getBoolean(8)))).toMap
    assert((1L to 6L).forall(!hw(_)._2),
      "seed + warmup + the learned cycle: nothing flags on the wave")
    assert(hw(7L)._2, "the $55 break in the $10 slot departs the cycle")
    assert(!hw(8L)._2, "back on cycle — the γ=1 slot component recovered")
    assert(hw(3L)._1 < 0L,
      "the low slot learns a NEGATIVE seasonal component")
    // contrast: Holt at the same α/β/threshold mis-flags the wave itself
    val holtFlags = EventAnalytics.holt(ev, "uid", "ts", "eid", "v",
        alphaPpm = 10000, betaPpm = 1, devThreshCents = 500)
      .collect().map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(holtFlags(4L), "plain Holt flags the on-cycle $50 — the alarm " +
      "holtWinters exists to silence")
  }

  test("holtWinters: local BigInt replay, negative components, per-key reset") {
    // α = 0.25, β = 0.3, γ = 0.5, warmup 1, threshold $1.00 — a
    // sign-alternating series drives level, trend AND seasonal
    // components negative, pinning truncation-toward-zero agreement
    // across Scala BigInt `/`, Spark and DuckDB `//`; user 2 starts
    // FRESH. Slots derive from the same epoch-micros arithmetic the
    // operator uses.
    val vals1 = Seq(10.0, -9.0, 7.5, -8.2, 3.37)
    val ev = vals1.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, 1L, ts(i.toLong), v) } ++
      Seq((100L, 2L, ts(0), 20.0))
    val got = EventAnalytics.holtWinters(ev.toDF("eid", "uid", "ts", "v"),
        "uid", "ts", "eid", "v",
        alphaPpm = 250000, betaPpm = 300000, gammaPpm = 500000,
        slotSeconds = 60, slotModulus = 2, warmupEvents = 1,
        devThreshCents = 100)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(5), r.getLong(6), r.getLong(7), r.getBoolean(8))))
      .toMap
    var l = BigInt(0); var b = BigInt(0); var seeded = false
    val seas = Array.fill(2)(BigInt(0))
    val expect = vals1.zipWithIndex.map { case (v, i) =>
      val vc = math.round(v * 100)
      val us = (1700000000000L + i * 60000L) * 1000L
      val slot = ((us / 60000000L) % 2).toInt
      val x = BigInt(vc) * 1000000L
      val sc = seas(slot)
      val f = l + b + sc
      val dev = seeded && i + 1 > 1 && (x - f).abs > BigInt(100L * 1000000L)
      if (seeded) {
        val lNew = (BigInt(250000L) * (x - sc)) / 1000000L +
          (BigInt(750000L) * (l + b)) / 1000000L
        b = (BigInt(300000L) * (lNew - l)) / 1000000L +
          (BigInt(700000L) * b) / 1000000L
        seas(slot) = (BigInt(500000L) * (x - lNew)) / 1000000L +
          (BigInt(500000L) * sc) / 1000000L
        l = lNew
      } else { l = x; b = BigInt(0); seeded = true }
      (i.toLong + 1) ->
        ((l.toLong, b.toLong, seas(slot).toLong, dev))
    }.toMap
    expect.foreach { case (k, e) => assert(got(k) === e, s"event $k") }
    assert(expect.values.exists(_._2 < 0L), "fixture drives a negative trend")
    assert(expect.values.exists(_._3 < 0L),
      "fixture drives a negative seasonal component")
    assert(got(2L)._4 === true, "the -$9 swing deviates past warmup")
    assert(got(100L) === ((2000L * 1000000L, 0L, 0L, false)),
      "second key re-seeds with neutral seasonals")
  }

  test("robustAnomaly: hand-exact order statistics — odd/even medians, constant series, gate") {
    val ev =
      // key 1 (n=5, odd): median $3 (med2=600), absdev2 [400,200,0,200,19400],
      // mad4 = 200+200 = 400 — only the $100 spike clears 3.5×MAD
      Seq(1.0, 2.0, 3.0, 4.0, 100.0).zipWithIndex.map { case (v, i) =>
        (i.toLong + 1, 1L, ts(i.toLong), v) } ++
      // key 2 (n=4, even): med2 = 200+300 = 500, mad4 = 100+300 = 400,
      // but n < minEvents — stats still emitted, nothing flags
      Seq(1.0, 2.0, 3.0, 10.0).zipWithIndex.map { case (v, i) =>
        (i.toLong + 11, 2L, ts(i.toLong), v) } ++
      // key 4 (n=6): five $2.00 + one $2.50 — mad4 = 0, so ANY
      // departure from the constant series flags and on-median rows don't
      (Seq.fill(5)(2.0) :+ 2.5).zipWithIndex.map { case (v, i) =>
        (i.toLong + 21, 4L, ts(i.toLong), v) }
    val got = EventAnalytics.robustAnomaly(ev.toDF("eid", "uid", "ts", "v"),
        "uid", "ts", "eid", "v", kPermille = 3500, minEvents = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getBoolean(8))))
      .toMap
    assert(got(3L) === ((600L, 0L, 400L, 5L, false)), "odd-n median row")
    assert(got(5L) === ((600L, 19400L, 400L, 5L, true)), "the $100 spike flags")
    assert((1L to 4L).forall(!got(_)._5), "in-band rows stay quiet")
    assert(got(11L) === ((500L, 300L, 400L, 4L, false)),
      "even-n med2 averages the two middles without leaving integers")
    assert((11L to 14L).forall(!got(_)._5), "below the population gate: no flags")
    assert(got(26L) === ((400L, 100L, 0L, 6L, true)),
      "constant series: mad4 = 0, any departure flags")
    assert((21L to 25L).forall(!got(_)._5), "on-median rows never flag at mad4 = 0")
  }

  test("holtWinters store chain: three-batch continuation == one-shot; violation throws") {
    def hw(df: org.apache.spark.sql.DataFrame) =
      EventAnalytics.holtWinters(df, "uid", "ts", "eid", "v",
        alphaPpm = 250000, betaPpm = 300000, gammaPpm = 500000,
        slotSeconds = 60, slotModulus = 2, warmupEvents = 1,
        devThreshCents = 100)
    def mkStore(df: org.apache.spark.sql.DataFrame) =
      EventAnalytics.holtWintersStore(df, "uid", "ts", "eid", "v",
        alphaPpm = 250000, betaPpm = 300000, gammaPpm = 500000,
        slotSeconds = 60, slotModulus = 2)
    def inc(b: org.apache.spark.sql.DataFrame, st: org.apache.spark.sql.DataFrame) =
      EventAnalytics.holtWintersIncremental(b, st, "uid", "ts", "eid", "v",
        alphaPpm = 250000, betaPpm = 300000, gammaPpm = 500000,
        slotSeconds = 60, slotModulus = 2, warmupEvents = 1,
        devThreshCents = 100)
    def upd(st: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      EventAnalytics.updateHoltWintersStore(st, b, "uid", "ts", "eid", "v",
        alphaPpm = 250000, betaPpm = 300000, gammaPpm = 500000,
        slotSeconds = 60, slotModulus = 2)
    // key 1 spans all three slices; key 2 appears only in the LAST
    // (batch-new key seeds cold mid-chain)
    val all = Seq(10.0, -9.0, 7.5, -8.2, 3.37, 6.0).zipWithIndex.map {
      case (v, i) => (i.toLong + 1, 1L, ts(i.toLong), v) } ++
      Seq((100L, 2L, ts(7), 20.0), (101L, 2L, ts(8), -20.0))
    val slices = Seq(all.filter(_._3.getTime <= ts(1).getTime),
      all.filter(e => e._3.getTime > ts(1).getTime && e._3.getTime <= ts(4).getTime),
      all.filter(_._3.getTime > ts(4).getTime))
    def df(s: Seq[(Long, Long, java.sql.Timestamp, Double)]) =
      s.toDF("eid", "uid", "ts", "v")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(r =>
      (r.getLong(0), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getBoolean(8))).toSet
    val oneShot = hw(df(all))
    val store0 = mkStore(df(slices(0)))
    val ids1 = slices(1).map(_._1).toSet
    assert(rows(inc(df(slices(1)), store0)) ===
      rows(oneShot.filter(col("eid").isin(ids1.toSeq: _*))),
      "first continuation lands on the one-shot bit-for-bit")
    val store1 = upd(store0, df(slices(1)))
    val ids2 = slices(2).map(_._1).toSet
    assert(rows(inc(df(slices(2)), store1)) ===
      rows(oneShot.filter(col("eid").isin(ids2.toSeq: _*))),
      "second continuation (incl. the cold-seeded new key) matches")
    def storeRows(d: org.apache.spark.sql.DataFrame) = d.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(storeRows(upd(store1, df(slices(2)))) ===
      storeRows(mkStore(df(all))),
      "chained store == one-shot store, warmup counts included")
    // append-order violation: re-feeding an already-folded slice fails loudly
    val ex = intercept[Exception] {
      inc(df(slices(0)), store1).collect()
    }
    assert(root(ex).contains("append-order"),
      s"expected the loud contract violation, got: ${ex.getMessage}")
  }

  test("holtWintersForecast: hand-exact slot-stepped extrapolation off a literal store") {
    import spark.implicits._
    // a literal store row: level 100, trend -7 (×10⁶ omitted for hand
    // arithmetic — the verb never rescales), seasonals [5, -3], frontier
    // in slot (base us 28333333 odd → ts(0) is slot 1) at minute 0
    val store = Seq(
      (1L, 100L, -7L, Seq(5L, -3L), 4L, 1700000000000000L, 9L))
      .toDF("k", "l_e6", "b_e6", "seas", "rn", "last_us", "last_id")
    val got = EventAnalytics.holtWintersForecast(store,
        slotSeconds = 60, slotModulus = 2, horizon = 4)
      .collect().map(r =>
        (r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val baseSlot = (1700000000000000L / 60000000L) % 2 // = 1
    assert(baseSlot === 1L, "fixture premise")
    // h=1 → slot 0: 100 + 1·(−7) + 5 = 98; h=2 → slot 1: 100 − 14 − 3 = 83
    // h=3 → slot 0: 100 − 21 + 5 = 84; h=4 → slot 1: 100 − 28 − 3 = 69
    assert(got(1L) === ((0L, 98L)))
    assert(got(2L) === ((1L, 83L)))
    assert(got(3L) === ((0L, 84L)), "negative trend extrapolates linearly")
    assert(got(4L) === ((1L, 69L)))
    // composes with the real store: every key emits exactly `horizon` rows
    val ev = Seq(10.0, 12.0, 14.0).zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, 1L, ts(i.toLong), v) }.toDF("eid", "uid", "ts", "v")
    val st = EventAnalytics.holtWintersStore(ev, "uid", "ts", "eid", "v",
      alphaPpm = 1000000, betaPpm = 1000000, gammaPpm = 1000000,
      slotSeconds = 60, slotModulus = 2)
    val fc = EventAnalytics.holtWintersForecast(st, 60, 2, horizon = 3)
      .collect()
    assert(fc.length === 3)
  }

  test("holtWintersForecast: level and seasonal terms over the bound fail LOUDLY") {
    import spark.implicits._
    // |b| ≤ 9·10¹⁴ alone is not enough: with h·b near 9·10¹⁸ a level or
    // seasonal term near 2⁶³ would wrap the emitted sum silently — each
    // term is bounded so the three-term sum provably fits a long
    def store(l: Long, b: Long, seas: Seq[Long]) = Seq(
      (1L, l, b, seas, 4L, 1700000000000000L, 9L))
      .toDF("k", "l_e6", "b_e6", "seas", "rn", "last_us", "last_id")
    def msgOf(df: org.apache.spark.sql.DataFrame): String = {
      val ex = intercept[Exception] { df.collect() }
      root(ex)
    }
    assert(msgOf(EventAnalytics.holtWintersForecast(
        store(900000000000001L, 0L, Seq(0L, 0L)), 60, 2, 4))
      .contains("|level| too large"))
    assert(msgOf(EventAnalytics.holtWintersForecast(
        store(0L, 0L, Seq(0L, 900000000000001L)), 60, 2, 4))
      .contains("|seasonal| too large"))
    assert(msgOf(EventAnalytics.holtWintersForecast(
        store(0L, 900000000000001L, Seq(0L, 0L)), 60, 2, 4))
      .contains("|trend| too large"))
    // at the exact bounds the sum is ~9.0018·10¹⁸ < 2⁶³−1: emits fine
    val ok = EventAnalytics.holtWintersForecast(
        store(900000000000000L, 900000000000000L,
          Seq(900000000000000L, 900000000000000L)), 60, 2, horizon = 10000)
      .agg(max(abs(col("forecast_e6")))).collect()(0).getLong(0)
    assert(ok === 900000000000000L + 10000L * 900000000000000L +
      900000000000000L, "the extreme in-bound forecast is exact, no wrap")
  }

  test("Holt-Winters verbs refuse a store of another slot count and name a bad parameter") {
    import spark.implicits._
    // a store trained with 2 slots: forecasting it with 3 would index
    // past its seasonals, with 1 it would silently read the wrong slot
    val store = Seq((1L, 100L, -7L, Seq(5L, -3L), 4L, 1700000000000000L, 9L))
      .toDF("k", "l_e6", "b_e6", "seas", "rn", "last_us", "last_id")
    for (m <- Seq(3, 1)) {
      val ex = intercept[Exception] {
        EventAnalytics.holtWintersForecast(store, 60, m, horizon = 4).collect()
      }
      assert(root(ex).contains(
        s"holtWintersForecast: store has 2 slots, operator given $m — train/score mismatch"),
        root(ex))
    }
    // one parameter check behind every entry point: it names the bad
    // parameter and its value
    val ev = Seq((1L, 1L, ts(0), 1.0)).toDF("eid", "uid", "ts", "v")
    val events = Seq.empty[graft.streaming.Events.Event].toDS()
    val bad: Seq[(String, () => Any)] = Seq(
      "holtWinters: alphaPpm must be in (0, 1000000] (got 0)" -> (() =>
        EventAnalytics.holtWinters(ev, "uid", "ts", "eid", "v", 0L, 1L, 1L)),
      "updateHoltWintersStore: betaPpm must be in (0, 1000000] (got 1000001)" -> (() =>
        EventAnalytics.holtWintersStore(ev, "uid", "ts", "eid", "v", 1L, 1000001L, 1L)),
      "updateHoltWintersStore: gammaPpm must be in (0, 1000000] (got -1)" -> (() =>
        EventAnalytics.updateHoltWintersStore(store, ev, "uid", "ts", "eid", "v",
          1L, 1L, -1L)),
      "holtWintersIncremental: slotModulus must be > 0 (got 0)" -> (() =>
        EventAnalytics.holtWintersIncremental(ev, store, "uid", "ts", "eid", "v",
          1L, 1L, 1L, slotModulus = 0)),
      "holtWintersIncremental: devThreshCents must be > 0 (got 0)" -> (() =>
        EventAnalytics.holtWintersIncremental(ev, store, "uid", "ts", "eid", "v",
          1L, 1L, 1L, devThreshCents = 0L)),
      "holtWintersStream: slotSeconds must be > 0 (got 0)" -> (() =>
        graft.streaming.Events.holtWintersStream(events, 1L, 1L, 1L, slotSeconds = 0L)))
    bad.foreach { case (msg, call) =>
      val ex = intercept[IllegalArgumentException](call())
      assert(ex.getMessage.contains(msg), ex.getMessage)
    }
  }

  test("robustProfile/robustScore: profile scoring == self-score; cold key passes NULL") {
    val hist = (Seq(1.0, 2.0, 3.0, 4.0, 100.0).zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, 1L, ts(i.toLong), v) }).toDF("eid", "uid", "ts", "v")
    val prof = EventAnalytics.robustProfile(hist, "uid", "ts", "v")
    val profRows = prof.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(profRows.toSeq === Seq((1L, 5L, 600L, 400L)),
      "the narrow model frame: (k, n, med2, mad4)")
    // scoring the history against its own profile == the one-shot verb
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      ((Option(r.get(4)), Option(r.get(5)), Option(r.get(6)), r.getBoolean(8)))
    val scored = EventAnalytics.robustScore(hist, prof,
      "uid", "ts", "eid", "v", kPermille = 3500, minEvents = 5)
      .collect().map(key).toMap
    val oneShot = EventAnalytics.robustAnomaly(hist,
      "uid", "ts", "eid", "v", kPermille = 3500, minEvents = 5)
      .collect().map(key).toMap
    assert(scored === oneShot, "self-score == the composed verb")
    // a later batch with a cold key: trained key judged, unknown key NULL
    val batch = Seq((50L, 1L, ts(50), 100.0), (51L, 9L, ts(51), 100.0))
      .toDF("eid", "uid", "ts", "v")
    val got = EventAnalytics.robustScore(batch, prof,
      "uid", "ts", "eid", "v", kPermille = 3500, minEvents = 5)
      .collect().map(key).toMap
    assert(got(50L) === ((Some(600L), Some(19400L), Some(400L), true)),
      "the trained profile flags the repeat spike WITHOUT rescanning history")
    assert(got(51L) === ((None, None, None, false)),
      "cold key: NULL stats, unflagged")
  }

  test("robustAnomaly: 50% breakdown resists the masking that defeats a z-score") {
    // ten $2.00 events plus two $80.00 spikes: the spikes inflate the
    // MEAN to ~$15 and the stddev to ~$28, so |80 - mean| ≈ 2.3σ and a
    // 3σ rule misses BOTH (masking, Hampel 1974) — while the median
    // stays $2 and the MAD stays 0, so both spikes flag and nothing
    // else does.
    val vals = Seq.fill(10)(2.0) ++ Seq(80.0, 80.0)
    val ev = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, 1L, ts(i.toLong), v) }
    val got = EventAnalytics.robustAnomaly(ev.toDF("eid", "uid", "ts", "v"),
        "uid", "ts", "eid", "v", kPermille = 3500, minEvents = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(8)).toMap
    assert(got(11L) && got(12L), "both spikes flag against the robust scale")
    assert((1L to 10L).forall(!got(_)), "the base load stays quiet")
    // the masking arithmetic the fixture claims, verified numerically
    val mean = vals.sum / vals.size
    val std = math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum / vals.size)
    assert(math.abs(80.0 - mean) < 3 * std,
      "a population 3σ rule would miss the spikes this fixture plants")
  }

  test("attribution: linear ppm credit, first/last election, direct rows, window edges") {
    // user 1: purchase eid 10 at minute 10 — touches at minutes 7 (view),
    // 8 (click), 9 (view) inside a 180s window; minute 6 is OUTSIDE
    // (10-3=7 inclusive lower bound); a click AT minute 10 is excluded
    // (strictly earlier). user 2: purchase with no touches → direct.
    val ev = Seq(
      (1L, 1L, ts(6), "view"), (2L, 1L, ts(7), "view"), (3L, 1L, ts(8), "click"),
      (4L, 1L, ts(9), "view"), (5L, 1L, ts(10), "click"),
      (10L, 1L, ts(10), "purchase"),
      (20L, 2L, ts(10), "purchase"), (21L, 2L, ts(11), "view"))
      .toDF("eid", "uid", "ts", "etype").withColumn("value", lit(1.0))
    val got = EventAnalytics.attribution(ev, "uid", "ts", "eid", "etype",
        "purchase", Seq("view", "click"), windowSeconds = 180)
      .collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long])) ->
        ((r.getLong(6), r.getLong(7), r.getBoolean(8), r.getBoolean(9))))
      .toMap
    assert(got.size === 4)
    assert(got((10L, Some(2L))) === ((3L, 333333L, true, false)))
    assert(got((10L, Some(3L))) === ((3L, 333333L, false, false)))
    assert(got((10L, Some(4L))) === ((3L, 333333L, false, true)))
    assert(got((20L, None)) === ((0L, 1000000L, false, false)))
  }

  test("attribution: NULL key/id/ts rows are dropped, not pooled into one window") {
    // two NULL-id conversions for DIFFERENT users — without the filter
    // they share the conv_id=NULL window partition and n_touches/credits
    // mix unrelated conversions; with it they simply disappear, and the
    // non-null conversion is untouched. NULL-ts and NULL-key touches
    // likewise never join.
    val ev = Seq(
      (Some(1L), Some(1L), Option(ts(9)), "view"),
      (Some(10L), Some(1L), Option(ts(10)), "purchase"),
      (None, Some(2L), Option(ts(10)), "purchase"),      // NULL conv id
      (None, Some(3L), Option(ts(10)), "purchase"),      // NULL conv id
      (Some(30L), Some(3L), Option(ts(10)), "purchase"), // NULL conv ts
      (Some(31L), Some(3L), None, "purchase"),
      (Some(2L), Some(1L), None, "view"),                // NULL touch ts
      (Some(3L), None, Option(ts(9)), "view"))           // NULL touch key
      .toDF("eid", "uid", "ts", "etype").withColumn("value", lit(1.0))
    val got = EventAnalytics.attribution(ev, "uid", "ts", "eid", "etype",
        "purchase", Seq("view", "click"), windowSeconds = 3600)
      .collect()
    val convIds = got.map(r => r.getLong(0)).toSet
    assert(convIds === Set(10L, 30L),
      "NULL-id and NULL-ts conversions are dropped; valid ones remain")
    val u1 = got.filter(_.getLong(0) == 10L)
    assert(u1.length === 1 && u1.head.getLong(6) === 1L,
      "the NULL-ts/NULL-key touches never join: exactly one credited touch")
    val u3 = got.filter(_.getLong(0) == 30L)
    assert(u3.length === 1 && u3.head.getLong(6) === 0L &&
      u3.head.getLong(7) === 1000000L, "user 3's valid conversion is direct")
  }

  test("attribution: same-ts touches elect first/last by event id") {
    val ev = Seq(
      (1L, 1L, ts(9), "view"), (2L, 1L, ts(9), "click"),
      (10L, 1L, ts(10), "purchase"))
      .toDF("eid", "uid", "ts", "etype").withColumn("value", lit(1.0))
    val got = EventAnalytics.attribution(ev, "uid", "ts", "eid", "etype",
        "purchase", Seq("view", "click"), windowSeconds = 3600)
      .collect().map(r => r.getLong(3) -> ((r.getBoolean(8), r.getBoolean(9)))).toMap
    assert(got(1L) === ((true, false)), "smaller id at equal ts is first")
    assert(got(2L) === ((false, true)), "larger id at equal ts is last")
  }

  test("acfStore scoring == one-shot autocorrelation, bit for bit") {
    // deterministic pseudo-random values; key 1 longer than maxLag,
    // key 2 shorter, key 3 constant (NULL acf)
    val ev = (0 until 10).map(i =>
      (i.toLong + 1, 1L, ts(i.toLong), ((i * 37 + 11) % 23).toDouble)) ++
      (0 until 3).map(i => (20L + i, 2L, ts(i.toLong), (i * 5 + 2).toDouble)) ++
      (0 until 4).map(i => (30L + i, 3L, ts(i.toLong), 7.0))
    val df = ev.toDF("eid", "uid", "ts", "v")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1)) ->
      ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4)))
    val oneShot = EventAnalytics.autocorrelation(
      df, "uid", "ts", "eid", "v", maxLag = 4).collect().map(key).toMap
    val store = EventAnalytics.acfStore(df, "uid", "ts", "eid", "v", maxLag = 4)
    val scored = EventAnalytics.acfFromStore(store, "uid")
      .collect().map(key).toMap
    assert(scored === oneShot, "store scoring must reproduce the one-shot")
    assert(oneShot.nonEmpty && oneShot.exists(_._2._2.isDefined))
  }

  test("acf store: update(store(A), B) == store(A ∪ B); contract violations raise") {
    val all = (0 until 12).map(i =>
      (i.toLong + 1, 1L, ts(i.toLong), ((i * 29 + 5) % 17).toDouble)) ++
      (0 until 5).map(i => (50L + i, 2L, ts(i.toLong), (i % 3).toDouble)) ++
      Seq((90L, 4L, ts(20), 3.0)) // key only in the batch → seeds fresh
    val df = all.toDF("eid", "uid", "ts", "v")
    val a = df.filter(col("ts") < ts(6))
    val b = df.filter(col("ts") >= ts(6))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getSeq[Long](4), r.getSeq[Long](5), r.getSeq[Long](6),
        r.getLong(7), r.getLong(8))).sortBy(_._1)
    val full = rows(EventAnalytics.acfStore(df, "uid", "ts", "eid", "v", 4))
    val inc = rows(EventAnalytics.updateAcfStore(
      EventAnalytics.acfStore(a, "uid", "ts", "eid", "v", 4),
      b, "uid", "ts", "eid", "v", 4))
    assert(inc === full, "every store column must chain exactly")
    // chaining twice keeps the identity
    val b1 = df.filter(col("ts") >= ts(6) && col("ts") < ts(9))
    val b2 = df.filter(col("ts") >= ts(9))
    val chained = rows(EventAnalytics.updateAcfStore(
      EventAnalytics.updateAcfStore(
        EventAnalytics.acfStore(a, "uid", "ts", "eid", "v", 4),
        b1, "uid", "ts", "eid", "v", 4),
      b2, "uid", "ts", "eid", "v", 4))
    assert(chained === full)
    // an out-of-order batch event fails LOUDLY
    val ex = intercept[Exception] {
      EventAnalytics.updateAcfStore(
        EventAnalytics.acfStore(b, "uid", "ts", "eid", "v", 4),
        a, "uid", "ts", "eid", "v", 4).collect()
    }
    assert(root(ex).contains("append-order"))
    // the long-safe value contract raises, never wraps
    val hot = Seq((1L, 1L, ts(0), 40000.0)).toDF("eid", "uid", "ts", "v")
    val ex2 = intercept[Exception] {
      EventAnalytics.acfStore(hot, "uid", "ts", "eid", "v", 4).collect()
    }
    assert(root(ex2).contains("long-safe"))
  }

  test("robustTrend: outlier-resistant median slope, MK statistics, trunc pin") {
    // key 1: ramp +100 cents/step with one wild spike — the median of
    // the 10 pair slopes is still 1e8 (ranks 5,6 both 1e8 → med2 2e8);
    // S = 9 ups − 1 down = 8, tau = 8e6/10
    // key 2: strictly decreasing — S=-3, tau=-1e6, med2 = 2*(-1e8)
    // key 3: [0,0,0,-1] — middles are -333333 (TRUNC toward zero; floor
    //        would be -333334) and 0 → med2 = -333333
    // key 4: single event → absent (no pairs)
    val ev = Seq(
      (1L, 1L, ts(0), 1.0), (2L, 1L, ts(1), 2.0), (3L, 1L, ts(2), 3.0),
      (4L, 1L, ts(3), 100.0), (5L, 1L, ts(4), 4.0),
      (10L, 2L, ts(0), 3.0), (11L, 2L, ts(1), 2.0), (12L, 2L, ts(2), 1.0),
      (20L, 3L, ts(0), 0.0), (21L, 3L, ts(1), 0.0), (22L, 3L, ts(2), 0.0),
      (23L, 3L, ts(3), -0.01),
      (30L, 4L, ts(0), 7.0))
      .toDF("eid", "uid", "ts", "v")
    val got = EventAnalytics.robustTrend(ev, "uid", "ts", "eid", "v")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got(1L) === ((5L, 10L, 8L, 800000L, 200000000L)),
      "the spike cannot drag the median slope off 1e8 (x2 emitted)")
    assert(got(2L) === ((3L, 3L, -3L, -1000000L, -200000000L)))
    assert(got(3L) === ((4L, 6L, -3L, -500000L, -333333L)),
      "negative pair slope truncates toward zero before the median")
  }

  test("trendFit: hand-exact OLS, negative truncation, degenerate keys") {
    // key 1: perfect line 10,20,30 → slope 1000 cents/step, intercept 0
    // key 2: single event → NULL fit
    // key 3: vc [1,0,100] → slope_e6 = 297e6/6 = 49500000 exact;
    //        intercept_e6 = -392e6/6 → trunc -65333333 (floor -65333334)
    val ev = Seq(
      (1L, 1L, ts(0), 10.0), (2L, 1L, ts(1), 20.0), (3L, 1L, ts(2), 30.0),
      (10L, 2L, ts(0), 7.0),
      (20L, 3L, ts(0), 0.01), (21L, 3L, ts(1), 0.0), (22L, 3L, ts(2), 1.0))
      .toDF("eid", "uid", "ts", "v")
    val got = EventAnalytics.trendFit(ev, "uid", "ts", "eid", "v")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    assert(got(1L) === ((3L, 6000L, Some(1000000000L), Some(0L))))
    assert(got(2L) === ((1L, 700L, None, None)),
      "degenerate regressor → NULL fit, counts kept")
    assert(got(3L) === ((3L, 101L, Some(49500000L), Some(-65333333L))),
      "negative intercept quotient truncates toward zero")
  }

  test("trend store: scoring == one-shot; update chains exactly; contracts raise") {
    val all = (0 until 12).map(i =>
      (i.toLong + 1, 1L, ts(i.toLong), ((i * 29 + 5) % 17).toDouble)) ++
      (0 until 5).map(i => (50L + i, 2L, ts(i.toLong), (i % 3).toDouble)) ++
      Seq((90L, 4L, ts(20), 3.0))
    val df = all.toDF("eid", "uid", "ts", "v")
    def fit(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    val oneShot = fit(EventAnalytics.trendFit(df, "uid", "ts", "eid", "v"))
    val store = EventAnalytics.trendStore(df, "uid", "ts", "eid", "v")
    assert(fit(EventAnalytics.trendFromStore(store, "uid")) === oneShot,
      "store scoring must reproduce the one-shot OLS")
    // incremental chaining: store(A) + B == store(A ∪ B) on every column
    val a = df.filter(col("ts") < ts(6))
    val b = df.filter(col("ts") >= ts(6))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
    val inc = EventAnalytics.updateTrendStore(
      EventAnalytics.trendStore(a, "uid", "ts", "eid", "v"),
      b, "uid", "ts", "eid", "v")
    assert(rows(inc) === rows(store))
    // out-of-order batch raises loudly
    val ex = intercept[Exception] {
      EventAnalytics.updateTrendStore(
        EventAnalytics.trendStore(b, "uid", "ts", "eid", "v"),
        a, "uid", "ts", "eid", "v").collect()
    }
    assert(root(ex).contains("append-order"))
  }

  test("autocorrelation: hand-exact ACF, negative truncation, dominant lag") {
    // key 1: strict alternation 10,20,... — y = n*x - S = ±3000;
    // den = 6*9e6 = 5.4e7; acf(1) = -45/54 → trunc -833333 (floor would
    // be -833334: the toward-zero pin); acf(2) = +666666 dominant
    val ev = (0 until 6).map(i =>
      (i.toLong + 1, 1L, ts(i.toLong), if (i % 2 == 0) 10.0 else 20.0)) ++
      Seq((10L, 2L, ts(0), 5.0), (11L, 2L, ts(1), 5.0), (12L, 2L, ts(2), 5.0))
    val got = EventAnalytics.autocorrelation(
        ev.toDF("eid", "uid", "ts", "v"), "uid", "ts", "eid", "v", maxLag = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
          r.getBoolean(4)))).toMap
    assert(got.keySet.filter(_._1 == 1L).map(_._2) === Set(1L, 2L, 3L, 4L, 5L),
      "only lags <= n-1 emit")
    assert(got((1L, 1L)) === ((5L, Some(-833333L), false)),
      "negative quotient truncates toward zero")
    assert(got((1L, 2L)) === ((4L, Some(666666L), true)), "dominant period 2")
    assert(got((1L, 3L)) === ((3L, Some(-500000L), false)))
    assert(got((1L, 4L)) === ((2L, Some(333333L), false)))
    assert(got((1L, 5L)) === ((1L, Some(-166666L), false)))
    assert(got((2L, 1L)) === ((2L, None, false)) &&
      got((2L, 2L)) === ((1L, None, false)),
      "constant series: zero denominator → NULL acf, no dominant lag")
  }

  test("changepoint: hand-exact argmax split, ties, guards, single-event keys") {
    // key 1: level shift after rank 3 — vc [1000,1000,1000,2000,2000]
    // gains: i=1: (1000*4-6000)^2*1e6/(5*1*4) = 2e11
    //        i=2: (2000*3-5000*2)^2*1e6/30    = 533_333_333_333
    //        i=3: (3000*2-4000*3)^2*1e6/30    = 1.2e12  ← max
    //        i=4: (5000*1-2000*4)^2*1e6/20    = 4.5e11
    // key 2: constant — all gains 0, tie → smallest rank
    // key 3: single event — no candidate split, absent
    val ev = Seq(
      (1L, 1L, ts(0), 10.0), (2L, 1L, ts(1), 10.0), (3L, 1L, ts(2), 10.0),
      (4L, 1L, ts(3), 20.0), (5L, 1L, ts(4), 20.0),
      (10L, 2L, ts(0), 5.0), (11L, 2L, ts(1), 5.0), (12L, 2L, ts(2), 5.0),
      (20L, 3L, ts(0), 7.0))
      .toDF("eid", "uid", "ts", "v")
    val got = EventAnalytics.changepoint(ev, "uid", "ts", "eid", "v",
        minGainE6 = 1000000000000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getBoolean(8)))).toMap
    assert(got.keySet === Set(1L, 2L), "single-event keys have no split")
    assert(got(1L) === ((5L, 3L, 3L, 3000L, 4000L, 1200000000000L, true)),
      "argmax at the true shift; sums split exactly; flagged at 1e12")
    assert(got(2L) === ((3L, 1L, 10L, 500L, 1000L, 0L, false)),
      "constant series: zero gain everywhere, tie elects rank 1")
    // |contrast| > 9e15 must raise loudly, never truncate
    val hot = Seq((1L, 1L, ts(0), 9.5e13), (2L, 1L, ts(1), 0.0))
      .toDF("eid", "uid", "ts", "v")
    val ex = intercept[Exception] {
      EventAnalytics.changepoint(hot, "uid", "ts", "eid", "v", 0L).collect()
    }
    assert(root(ex).contains("segment contrast"))
  }

  test("rollingAnomaly: same-timestamp events order deterministically by id") {
    val ev = Seq( // all at one ts — frame order must be eid order
      (1L, 1L, ts(0), 1.0), (2L, 1L, ts(0), 1.0), (3L, 1L, ts(0), 1.0),
      (4L, 1L, ts(0), 99.0))
    val got = EventAnalytics.rollingAnomaly(
        ev.toDF("eid", "uid", "ts", "v"), "uid", "ts", "eid", "v",
        window = 5, minPrev = 2, z = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getBoolean(5))).toMap
    assert(got(1L)._1 === 0L && got(2L)._1 === 1L && got(3L)._1 === 2L &&
      got(4L)._1 === 3L)
    assert(got(4L)._2 === true && !got(3L)._2)
  }
}

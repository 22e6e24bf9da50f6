package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Stats

class StatsSpec extends AnyFunSuite with SparkTestBase {

  test("pmiProfile: exact bits for independence and identity, NULL drops") {
    import spark.implicits._
    // independent 2x2 uniform: every cell pmi = log2(2*8/(4*4)) = 0
    val ind = Seq(("p", "r"), ("p", "r"), ("p", "s"), ("p", "s"),
      ("q", "r"), ("q", "r"), ("q", "s"), ("q", "s"))
      .toDF("a", "b")
    val gi = Stats.pmiProfile(ind, "a", "b").collect()
    assert(gi.length === 4)
    gi.foreach { r =>
      assert(r.getLong(5) === 0L && r.getLong(6) === 0L,
        "independence: PMI and MI exactly zero in fixed point")
    }
    // identical binary uniform: every cell pmi = 1 bit, MI = 1 bit —
    // powers of two are EXACT in the ilog2 recurrence
    val dep = Seq(("t", "t"), ("t", "t"), ("t", "t"), ("t", "t"),
      ("u", "u"), ("u", "u"), ("u", "u"), ("u", "u"),
      (null, "x"), ("x", null)) // NULL-in-either rows drop
      .toDF("a", "b")
    val gd = Stats.pmiProfile(dep, "a", "b")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(5), r.getLong(6)))).toMap
    assert(gd.keySet === Set(("t", "t"), ("u", "u")), "NULL rows dropped")
    assert(gd(("t", "t")) === ((4L, 1000000L, 1000000L)),
      "identity: PMI = MI = exactly one bit")
    // a skewed dependent cell matches the local ilog2 replay
    val mix = Seq(("x", "x"), ("x", "x"), ("x", "x"), ("x", "x"),
      ("x", "x"), ("x", "x"), ("y", "y"), ("y", "y")).toDF("a", "b")
    val gm = Stats.pmiProfile(mix, "a", "b")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(5))
      .toMap
    import graft.functions.Kernels.ilog2Fp
    val expXX = ((ilog2Fp(6L * 8L) - ilog2Fp(6L * 6L)) * 1000000L) / 1048576L
    assert(gm(("x", "x")) === expXX, "pmi matches the exact recurrence")
  }

  test("lDiversity: homogeneous classes flagged, NULL sensitive = 0, summary") {
    import spark.implicits._
    val df = Seq(
      // class A: 3 rows, all ONE sensitive value — k=3-anonymous but
      // the homogeneity attack reads the secret: l=1, risky at l=2
      ("A", Some("flu")), ("A", Some("flu")), ("A", Some("flu")),
      // class B: 2 rows, 2 distinct — diverse
      ("B", Some("flu")), ("B", Some("hiv")),
      // class C: sensitive entirely NULL → l_distinct = 0
      ("C", None), ("C", None))
      .toDF("zip", "diag")
    val cls = Stats.lDiversityClasses(df, Seq("zip"), "diag", 2L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(cls("A") === ((3L, 1L, true)), "homogeneous class is risky")
    assert(cls("B") === ((2L, 2L, false)))
    assert(cls("C") === ((2L, 0L, true)), "all-NULL sensitive: l = 0")
    val sm = Stats.lDiversity(df, Seq("zip"), "diag", 2L).collect().head
    assert(sm.getLong(0) === 3L && sm.getLong(1) === 7L)
    assert(sm.getLong(2) === 2L && sm.getLong(3) === 5L)
    assert(sm.getLong(4) === 0L, "achieved l = min distinct count")
    intercept[IllegalArgumentException] {
      Stats.lDiversityClasses(df, Seq(), "diag", 2L)
    }
  }

  test("pmiProfile: loud cell-count refusal, no WindowExec in the plan") {
    import spark.implicits._
    val four = Seq(("p", "r"), ("p", "s"), ("q", "r"), ("q", "s"))
      .toDF("a", "b")
    // 4 distinct cells > maxCells=3 → the categorical contract refuses
    val ex = intercept[Exception] {
      Stats.pmiProfile(four, "a", "b", maxCells = 3L).collect()
    }
    assert(root(ex).contains("exceeds maxCells"))
    // margins and N come from aggregates + broadcast joins — no window
    // operator anywhere (in particular no partition-less WindowExec
    // funneling the cell frame to one reducer). Asserted on the LAZY
    // pre-checkpoint scored frame: the public verb eagerly checkpoints,
    // so its own plan could never show a reintroduced margin window
    val (cells, scored) = Stats.pmiScoredWithCells(four, "a", "b", 100L)
    val plan = scored.queryExecution.executedPlan.toString
    cells.unpersist()
    assert(!plan.contains("Window"), s"expected window-free plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("Broadcast"),
      "margins join broadcast-side")
  }

  test("winsorizeByGroupedStore: per-group bands, uncovered group passes uncalibrated") {
    import spark.implicits._
    // group a: 0..99 (band [0, 90e6] at p10/p90 on a 10-bin grid);
    // group b: all 5.0 (single bin: band [0e6, 10e6])
    val corpus = ((0 until 100).map(v => ("a", v.toDouble)) ++
      Seq.fill(10)(("b", 5.0))).toDF("g", "v")
    val store = Stats.histogramStore(corpus, "v", 0.0, 100.0, 10, keyCol = Some("g"))
    val probe = Seq(("a", Some(95.0)), ("a", Some(50.0)), ("b", Some(95.0)),
      ("zz", Some(95.0)), ("a", Option.empty[Double])).toDF("g", "v")
    val got = Stats.winsorizeByHistogramStore(probe, "v", store,
        0.0, 100.0, 10, 100000L, 900000L, keyCol = Some("g"))
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1))) ->
        ((if (r.isNullAt(3)) None else Some(r.getLong(3))),
          r.getBoolean(5))).toMap
    assert(got(("a", Some(95.0))) === ((Some(90000000L), true)),
      "group a clips at ITS p90 edge")
    assert(got(("a", Some(50.0))) === ((Some(50000000L), true)))
    assert(got(("b", Some(95.0))) === ((Some(10000000L), true)),
      "group b's much tighter band applies — bands are per key")
    assert(got(("zz", Some(95.0))) === ((Some(95000000L), false)),
      "a group absent from the store passes through uncalibrated")
    assert(got(("a", None)) === ((None, true)),
      "NULL value: NULL out even in a calibrated group")
    // an entirely empty store refuses — all-uncalibrated is the silent
    // no-op, not a coverage state
    val ex = intercept[Exception] {
      Stats.winsorizeByHistogramStore(probe, "v",
        Seq.empty[(String, Int, Long)].toDF("k", "bin", "n"),
        0.0, 100.0, 10, 100000L, 900000L, keyCol = Some("g"))
    }
    assert(root(ex).contains("no quantiles for any group"))
  }

  test("winsorizeByHistogramStore: an empty store refuses, never no-ops") {
    import spark.implicits._
    val ex = intercept[Exception] {
      Stats.winsorizeByHistogramStore(
        Seq(1.0, 2.0).toDF("v"),
        "v", Seq.empty[(Int, Long)].toDF("bin", "n"),
        0.0, 100.0, 10, 100000L, 900000L).collect()
    }
    assert(root(ex).contains("answered no quantiles"))
  }

  test("llrU20 nullAboveN: NULL past the exact-log range, loud otherwise") {
    import spark.implicits._
    val df = Seq((1L, 2L, 2L, 4L), (1L, 2L, 2L, 2000000000L))
      .toDF("k", "r", "c", "n")
    val got = df.select(col("n"), Stats.llrU20(col("k"), col("r"), col("c"), col("n"),
        nullAboveN = true)
        .as("llr"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(4L).isDefined, "in-range rows still score")
    assert(got(2000000000L).isEmpty,
      "past 10^9 the tolerant mode reads NULL instead of killing the read")
    // the strict default still refuses
    val ex = intercept[Exception] {
      df.select(Stats.llrU20(col("k"), col("r"), col("c"),
        col("n")).as("llr")).collect()
    }
    assert(root(ex).contains("N exceeds 10^9"))
    // corrupt margins near 2^63 cannot wrap past the properness guard
    val ex2 = intercept[Exception] {
      Seq((0L, 5000000000000000000L, 5000000000000000000L, 100L))
        .toDF("k", "r", "c", "n")
        .select(Stats.llrU20(col("k"), col("r"), col("c"),
          col("n")).as("llr")).collect()
    }
    assert(root(ex2).contains("improper 2x2 table"))
  }

  test("quantilesFromHistogramStore: rank edges, merge parity, grid refusal") {
    import spark.implicits._
    // 0..9 into 5 bins over [0,10): two per bin, N=10
    val vals = (0 until 10).map(_.toDouble).toDF("v")
    val store = Stats.histogramStore(vals, "v", 0.0, 10.0, 5)
    val got = Stats.quantilesFromHistogramStore(store, 0.0, 10.0, 5,
        Seq(100000L, 500000L, 1000000L))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(got(100000L) === ((10L, 1L, 0L, 0L, 2000000L)),
      "p10: rank 1 lands in bin 0, edges [0, 2) in micro-units")
    assert(got(500000L) === ((10L, 5L, 2L, 4000000L, 6000000L)),
      "p50: rank 5 lands in bin 2 (cum 4 < 5 <= 6)")
    assert(got(1000000L) === ((10L, 10L, 4L, 8000000L, 10000000L)),
      "p100: the top bin")
    // mergeability: two slices rolled up answer identically
    val merged = Stats.updateHistogramStore(
      Stats.histogramStore(vals.filter($"v" < 5), "v", 0.0, 10.0, 5),
      Stats.histogramStore(vals.filter($"v" >= 5), "v", 0.0, 10.0, 5))
    val gm = Stats.quantilesFromHistogramStore(merged, 0.0, 10.0, 5,
        Seq(100000L, 500000L, 1000000L))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(gm === got, "merged store == one-shot, bin-exact")
    // a bin outside the grid contract refuses loudly
    val ex = intercept[Exception] {
      Stats.quantilesFromHistogramStore(
        Seq((7, 3L)).toDF("bin", "n"), 0.0, 10.0, 5, Seq(500000L)).collect()
    }
    assert(root(ex).contains("grid contract"))
  }

  test("groupedQuantilesFromStore: per-group ranks, merge parity, NULL-key drop") {
    import spark.implicits._
    // group a: 0..9 (two per bin over [0,10)x5); group b: all zeros;
    // NULL keys drop at store build
    val vals = ((0 until 10).map(v => (Some("a"), v.toDouble)) ++
      (0 until 4).map(_ => (Some("b"), 0.0)) ++
      Seq((Option.empty[String], 5.0))).toDF("g", "v")
    val store = Stats.histogramStore(vals, "v", 0.0, 10.0, 5, keyCol = Some("g"))
    assert(store.filter(col("k").isNull).count() === 0, "NULL keys drop")
    val got = Stats.quantilesFromHistogramStore(store, 0.0, 10.0, 5,
        Seq(500000L, 1000000L))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    assert(got(("a", 500000L)) === ((10L, 5L, 2L, 4000000L, 6000000L)),
      "group a p50: rank 5 in bin 2 — same as the global form")
    assert(got(("a", 1000000L)) === ((10L, 10L, 4L, 8000000L, 10000000L)))
    assert(got(("b", 500000L)) === ((4L, 2L, 0L, 0L, 2000000L)),
      "group b: all mass in bin 0, independent of group a")
    assert(got(("b", 1000000L)) === ((4L, 4L, 0L, 0L, 2000000L)))
    // mergeability per (k, bin)
    val merged = Stats.updateHistogramStore(
      Stats.histogramStore(vals.filter($"v" < 5), "v", 0.0, 10.0, 5, keyCol = Some("g")),
      Stats.histogramStore(vals.filter($"v" >= 5), "v", 0.0, 10.0, 5, keyCol = Some("g")))
    val gm = Stats.quantilesFromHistogramStore(merged, 0.0, 10.0, 5,
        Seq(500000L, 1000000L))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    assert(gm === got, "merged grouped store == one-shot")
  }

  test("llrU20: exact bits — independence is zero, skew matches the recurrence") {
    import spark.implicits._
    import graft.functions.Kernels.ilog2Fp
    // perfectly independent 2x2 (all margins half of N=8): LLR = 0 in
    // exact fixed point (powers of two are exact in ilog2Fp)
    val df = Seq((2L, 4L, 4L, 8L), (3L, 3L, 3L, 9L)).toDF("k", "r", "c", "n")
    val got = df.select(col("k"),
      Stats.llrU20(col("k"), col("r"), col("c"), col("n")).as("llr")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(2L) === 0L, "independence: LLR exactly zero")
    // diagonal table k11=3, margins 3/3, N=9: k22=6, k12=k21=0 —
    // replay the two non-zero terms with the local recurrence
    val exp = 2L * (3L * (ilog2Fp(3L * 9L) - ilog2Fp(3L * 3L)) +
      6L * (ilog2Fp(6L * 9L) - ilog2Fp(6L * 6L)))
    assert(got(3L) === exp, "diagonal: matches the exact recurrence")
  }

  test("winsorizeByHistogramStore: conservative clipping, NULL never pinned") {
    import spark.implicits._
    // 0..99 over [0,100)x10 — p10 lands in bin 0 (lower edge 0),
    // p90 in bin 8 (upper edge 90): clip band [0e6, 90e6]
    val vals = (0 until 100).map(_.toDouble)
    val store = Stats.histogramStore(vals.toDF("v"), "v", 0.0, 100.0, 10)
    val df = (vals ++ Seq(250.0, -40.0)).map(Option(_))
      .:+(Option.empty[Double]).toDF("v")
    val got = Stats.winsorizeByHistogramStore(df, "v", store,
        0.0, 100.0, 10, 100000L, 900000L)
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getDouble(0)))
        -> ((if (r.isNullAt(2)) None else Some(r.getLong(2))),
          if (r.isNullAt(3)) None else Some(r.getBoolean(3)))).toMap
    assert(got(Some(50.0)) === ((Some(50000000L), Some(false))),
      "inside the band: untouched")
    assert(got(Some(250.0)) === ((Some(90000000L), Some(true))),
      "above: pinned to the p90 bin's upper edge")
    assert(got(Some(-40.0)) === ((Some(0L), Some(true))),
      "below: pinned to the p10 bin's lower edge")
    assert(got(None) === ((None, None)),
      "NULL value: NULL out, never silently pinned to a bound")
    intercept[IllegalArgumentException] {
      Stats.winsorizeByHistogramStore(df, "v", store, 0.0, 100.0, 10,
        900000L, 100000L)
    }
  }

  test("coarsenHistogramStore: runs add exactly, grouped passthrough, validation") {
    import spark.implicits._
    val store = Seq((0, 1L), (1, 2L), (2, 4L), (3, 8L), (5, 16L))
      .toDF("bin", "n")
    val got = Stats.coarsenHistogramStore(store, 6, 2)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === Map(0 -> 3L, 1 -> 12L, 2 -> 16L),
      "bins merge in runs of `factor`, counts add, gaps stay absent")
    // the grouped (k, bin, n) form regroups per key
    val gs = Seq(("a", 0, 1L), ("a", 1, 2L), ("b", 1, 5L))
      .toDF("k", "bin", "n")
    val gotG = Stats.coarsenHistogramStore(gs, 6, 2)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(gotG === Map(("a", 0) -> 3L, ("b", 0) -> 5L))
    // quantile reads off the coarsened store == reads off a directly
    // coarser CONSISTENT store (same counts per merged run)
    val fine = Stats.histogramStore((0 until 100).map(_.toDouble).toDF("v"),
      "v", 0.0, 100.0, 10)
    val qs = Seq(500000L, 900000L)
    val viaCoarsen = Stats.quantilesFromHistogramStore(
      Stats.coarsenHistogramStore(fine, 10, 2), 0.0, 100.0, 5, qs)
      .collect().map(_.toSeq)
    val direct = Stats.quantilesFromHistogramStore(
      Stats.histogramStore((0 until 100).map(_.toDouble).toDF("v"),
        "v", 0.0, 100.0, 5), 0.0, 100.0, 5, qs)
      .collect().map(_.toSeq)
    assert(viaCoarsen.sortBy(_.head.asInstanceOf[Long]) ===
      direct.sortBy(_.head.asInstanceOf[Long]),
      "integer bins: coarsened route == direct coarse binning")
    intercept[IllegalArgumentException] {
      Stats.coarsenHistogramStore(store, 6, 4) // 4 does not divide 6
    }
    val ex = intercept[Exception] {
      Stats.coarsenHistogramStore(
        Seq((9, 1L)).toDF("bin", "n"), 6, 2).collect()
    }
    assert(root(ex).contains("grid contract"))
  }

  test("llrU20: 200 random proper tables match the local recurrence; transpose symmetry") {
    import spark.implicits._
    import graft.functions.Kernels.ilog2Fp
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { i =>
      val n = 1 + rnd.nextInt(10000)
      val r = 1 + rnd.nextInt(n)
      val c = 1 + rnd.nextInt(n)
      val lo = math.max(0, r + c - n)
      val hi = math.min(r, c)
      val k = lo + rnd.nextInt(hi - lo + 1)
      (i.toLong, k.toLong, r.toLong, c.toLong, n.toLong)
    }
    val got = rows.toDF("i", "k", "r", "c", "n")
      .select(col("i"),
        Stats.llrU20(col("k"), col("r"), col("c"), col("n")).as("llr"),
        Stats.llrU20(col("k"), col("c"), col("r"), col("n")).as("llrT"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    def term(k: Long, r: Long, c: Long, n: Long): Long =
      if (k == 0L) 0L else k * (ilog2Fp(k * n) - ilog2Fp(r * c))
    rows.foreach { case (i, k, r, c, n) =>
      val exp = 2L * (term(k, r, c, n) + term(r - k, r, n - c, n) +
        term(c - k, n - r, c, n) + term(n - r - c + k, n - r, n - c, n))
      assert(got(i)._1 === exp, s"table ($k,$r,$c,$n)")
      assert(got(i)._2 === exp, s"transpose symmetry at ($k,$r,$c,$n)")
    }
  }

  test("quantilesFromHistogramStore: un-merged duplicate bin rows re-aggregate") {
    import spark.implicits._
    // a caller handing raw per-batch rows (same bin twice) must get the
    // merged answer, not a double-counted cumsum
    val dup = Seq((0, 2L), (0, 2L), (1, 6L)).toDF("bin", "n")
    val got = Stats.quantilesFromHistogramStore(dup, 0.0, 10.0, 2,
        Seq(400000L, 1000000L))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got(400000L) === ((10L, 4L, 0L)),
      "rank 4 of N=10 lands in bin 0 (cum 4) only if duplicates merged")
    assert(got(1000000L) === ((10L, 10L, 1L)))
  }

  test("benfordProfile: digit extraction, full grid, ppm truncation, skips") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(1.0)),   // 100 cents  → digit 1
      ("a", Some(0.25)),  // 25 cents   → digit 2
      ("a", Some(9.5)),   // 950 cents  → digit 9
      ("a", Some(0.0)),   // zero cents → skipped
      ("a", None),        // NULL       → skipped
      ("b", Some(-3.0)),  // -300 cents → digit 3 (abs)
      ("b", Some(0.01)))  // 1 cent     → digit 1
      .toDF("g", "v")
    val got = Stats.benfordProfile(df, "g", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    assert(got.size === 18, "both groups emit the full 1-9 grid")
    assert(got(("a", 1L)) === ((1L, 3L, 333333L, 301030L, 32303L)),
      "obs_ppm truncates; dev against the exact constant")
    assert(got(("a", 2L))._1 === 1L && got(("a", 9L))._1 === 1L)
    assert(got(("a", 4L)) === ((0L, 3L, 0L, 96910L, 96910L)),
      "absent digits emit zero counts with full deviation")
    assert(got(("b", 3L)) === ((1L, 2L, 500000L, 124939L, 375061L)),
      "negative values profile by |cents|")
    assert(got(("b", 1L))._3 === 500000L)
    assert(graft.operators.Stats.benfordPpm.sum === 1000000L,
      "the nine constants sum to exactly 10^6")
  }

  test("benfordProfile and winsorize read a value column named with a backtick") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", Some(0.25)), ("b", Some(-3.0)),
      ("b", Option.empty[Double])).toDF("g", "amt`x")
    val got = Stats.benfordProfile(df, "g", "amt`x").filter(col("cnt") > 0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(("a", 1L, 1L), ("a", 2L, 1L), ("b", 3L, 1L)))
    val store = Stats.histogramStore((0 until 10).map(_.toDouble).toDF("v"),
      "v", 0.0, 10.0, 5)
    val w = Stats.winsorizeByHistogramStore(df, "amt`x", store,
        0.0, 10.0, 5, 100000L, 900000L)
      .collect().map(r => (if (r.isNullAt(1)) None else Some(r.getDouble(1))) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(w === Map(Some(1.0) -> Some(1000000L), Some(0.25) -> Some(250000L),
      Some(-3.0) -> Some(0L), None -> None))
  }

  test("winsorizeByHistogramStore: keyCol must match the store; global rows are calibrated") {
    import spark.implicits._
    val probe = Seq(("a", 1.0), ("b", 9.0)).toDF("g", "v")
    val keyed = Stats.histogramStore(probe, "v", 0.0, 10.0, 5, keyCol = Some("g"))
    val global = Stats.histogramStore(probe, "v", 0.0, 10.0, 5)
    Seq(keyed -> None, global -> Some("g")).foreach { case (store, keyCol) =>
      val ex = intercept[IllegalArgumentException] {
        Stats.winsorizeByHistogramStore(probe, "v", store, 0.0, 10.0, 5,
          100000L, 900000L, keyCol)
      }
      assert(ex.getMessage.contains("does not match the store's shape"))
    }
    val out = Stats.winsorizeByHistogramStore(probe, "v", global, 0.0, 10.0, 5,
      100000L, 900000L)
    assert(out.columns.last === "calibrated")
    assert(out.collect().forall(_.getAs[Boolean]("calibrated")))
  }

  test("approxDistinct stays within its rsd bound of the exact count") {
    val l = wh.loadTable("lineitem")
    val approx = Stats.approxDistinct(l, Seq("l_returnflag"), "l_orderkey", rsd = 0.02)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = l.groupBy("l_returnflag").agg(countDistinct("l_orderkey").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e < 0.1, s"$k: approx $a vs exact $e")
    }
  }

  test("merged per-day sketches estimate the global distinct count") {
    // the incremental pattern: sketch per (day, type), merge to type —
    // the merged estimate must match a direct global distinct within the
    // sketch error bound, WITHOUT rescanning the raw rows
    val ev = wh.loadTable("events")
      .withColumn("day", to_date(col("ts")))
    val daily = Stats.sketchDistinct(ev, Seq("day", "event_type"), "user_id")
    assert(daily.columns.toSeq === Seq("day", "event_type", "sketch_user_id"))
    val merged = Stats.mergeSketchDistinct(daily, Seq("event_type"), "sketch_user_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = ev.groupBy("event_type").agg(countDistinct("user_id").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      val a = merged(k)
      assert(math.abs(a - e).toDouble / e < 0.1, s"$k: merged $a vs exact $e")
    }
  }

  test("approxQuantiles bracket the exact median") {
    val q = Stats.approxQuantiles(wh.loadTable("orders"), "o_totalprice", Seq(0.5), 0.01)
    val exact = wh.loadTable("orders")
      .selectExpr("percentile(o_totalprice, 0.5) AS m").collect()(0).getDouble(0)
    assert(math.abs(q.head - exact) / exact < 0.05)
  }

  test("heavyHitters: exact regime (distinct <= k) equals true counts") {
    import spark.implicits._
    val data = (Seq.fill(30)("a") ++ Seq.fill(20)("b") ++ Seq.fill(10)("c"))
    val df = spark.sparkContext.parallelize(data, 4).toDF("v")
    val got = Stats.heavyHitters(df, "v", k = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("a", 30L), ("b", 20L), ("c", 10L)))
  }

  test("heavyHitters: MG guarantee holds under decrements and forced merges") {
    import spark.implicits._
    // Zipf-ish: a=100, b=50, then 40 singletons; n=190, k=2 →
    // error bound n/(k+1) = 63.33: "a" (100 > 63.3) MUST surface
    val data = Seq.fill(100)("a") ++ Seq.fill(50)("b") ++
      (1 to 40).map(i => s"x$i")
    val n = data.length.toLong
    val k = 2
    val bound = n / (k + 1)
    // several partitionings (different merge orders) — guarantee must
    // hold in every one
    Seq(1, 3, 8).foreach { parts =>
      val df = spark.sparkContext.parallelize(scala.util.Random.shuffle(data), parts).toDF("v")
      val got = Stats.heavyHitters(df, "v", k = k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got.size <= k, s"parts=$parts: more than k items")
      assert(got.contains("a"), s"parts=$parts: guaranteed heavy item missing")
      val trueCounts = Map("a" -> 100L, "b" -> 50L).withDefaultValue(1L)
      got.foreach { case (item, est) =>
        val t = trueCounts(item)
        assert(est <= t, s"parts=$parts: $item overestimated ($est > $t)")
        assert(t - est <= bound, s"parts=$parts: $item error ${t - est} > $bound")
      }
    }
  }

  test("heavyHittersByGroup: per-group exact counts in the exact regime") {
    import spark.implicits._
    val df = Seq(("g1", "a"), ("g1", "a"), ("g1", "b"), ("g2", "c"))
      .toDF("g", "v")
    val got = Stats.heavyHitters(df, "v", k = 4, groupCols = Seq("g"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("g1", "a", 2L), ("g1", "b", 1L), ("g2", "c", 1L)))
  }

  test("skewProfile: exact shares in one pass, multi-column keys don't alias") {
    import spark.implicits._
    val df = Seq(("a", "b"), ("a", "b"), ("a", "b"), ("ab", ""), ("x", "y"))
      .toDF("k1", "k2")
    val got = Stats.skewProfile(df, Seq("k1", "k2"), k = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length === 3) // ("a","b") must NOT merge with ("ab","")
    val top = got.head
    assert(top._2 === 3L && top._3 === 5L && top._4 === 600000L)
    assert(got.map(_._2).sum === 5L)
  }

  test("heavyHitters casts non-string inputs instead of failing on executors") {
    import spark.implicits._
    val df = Seq(500L, 500L, 404L).toDF("code")
    val got = Stats.heavyHitters(df, "code", k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === Set(("500", 2L), ("404", 1L)))
  }

  test("skewProfile: NULL key components do not alias distinct keys") {
    import spark.implicits._
    val df = Seq((Option("a"), Option.empty[String]),
      (Option.empty[String], Option("a")), (Option("a"), Option.empty[String]))
      .toDF("k1", "k2")
    val got = Stats.skewProfile(df, Seq("k1", "k2"), k = 8)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.length === 2 && got.map(_._2).sorted.toSeq === Seq(1L, 2L))
  }

  test("mergeHeavyHitterSketches: exact regime equals one-shot; store form too") {
    import spark.implicits._
    val d1 = (Seq.fill(30)("a") ++ Seq.fill(5)("b")).toDF("v")
    val d2 = (Seq.fill(10)("a") ++ Seq.fill(25)("c")).toDF("v")
    val store = Stats.updateHeavyHitterStore(
      Stats.heavyHitters(d1, "v", k = 8), d2, "v", k = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(store === Map("a" -> 40L, "b" -> 5L, "c" -> 25L))
  }

  test("mergeHeavyHitterSketches: estimator regime keeps the summed-N bound") {
    import spark.implicits._
    // two batches, k=2: batch sketches underestimate, the merge subtracts
    // the (k+1)-th largest — combined error must stay <= (n1+n2)/(k+1)
    val b1 = Seq.fill(60)("a") ++ Seq.fill(30)("b") ++ (1 to 20).map(i => s"x$i")
    val b2 = Seq.fill(50)("a") ++ Seq.fill(25)("c") ++ (1 to 20).map(i => s"y$i")
    val k = 2
    val bound = (b1.length + b2.length) / (k + 1) // 68
    val store = Stats.updateHeavyHitterStore(
      Stats.heavyHitters(b1.toDF("v"), "v", k = k), b2.toDF("v"), "v", k = k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(store.size <= k)
    assert(store.contains("a"), "110 > 68: the guaranteed hitter must survive")
    val trueCounts = Map("a" -> 110L, "b" -> 30L, "c" -> 25L).withDefaultValue(1L)
    store.foreach { case (item, est) =>
      assert(est <= trueCounts(item), s"$item overestimated")
      assert(trueCounts(item) - est <= bound, s"$item error beyond bound")
    }
  }

  test("streaming heavy-hitters store: foreachBatch drive equals batch updates") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq.fill(12)("a") ++ Seq.fill(7)("b")
    val b2 = Seq.fill(3)("a") ++ Seq.fill(9)("c")
    val mem = MemoryStream[String]
    var store = spark.emptyDataset[(String, Long)].toDF("item", "est_count")
    val q = mem.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        store = Stats.updateHeavyHitterStore(store, batch.toDF("v"), "v", k = 8)
          .localCheckpoint() // snapshot: the next trigger must not replay this one
        ()
      }.start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = store.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === Map("a" -> 15L, "b" -> 7L, "c" -> 9L))
  }

  test("summarize emits a full numeric profile per group") {
    val s = Stats.summarize(wh.loadTable("lineitem"), Seq("l_returnflag"), "l_quantity")
    val r = s.collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getDouble(row.fieldIndex("min")) <= row.getDouble(row.fieldIndex("p50")))
      assert(row.getDouble(row.fieldIndex("p50")) <= row.getDouble(row.fieldIndex("p95")))
      assert(row.getDouble(row.fieldIndex("p95")) <= row.getDouble(row.fieldIndex("max")))
    }
  }

  /** Local replay of the fixed-point PSI₂ term — the exact integer
    * formula both the operator and the DuckDB oracle implement.
    */
  private def psiTerm(ca: Long, cb: Long, na: Long, nb: Long): Long = {
    import graft.functions.Kernels.ilog2Fp
    val x = ca * nb; val y = cb * na
    val num = BigInt(x - y) * BigInt(ilog2Fp(x) - ilog2Fp(y)) * BigInt(1000000000L)
    (num / (BigInt(na) * BigInt(nb) * BigInt(1048576L))).toLong
  }

  test("driftCategorical: exact fixed-point terms, smoothing, full domain") {
    import spark.implicits._
    val before = (Seq.fill(10)("a") ++ Seq.fill(10)("b")).toDF("v")
    val after = (Seq.fill(19)("a") :+ "c").toDF("v")
    val got = Stats.driftCategorical(before, after, "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // smoothed: a=(11,20) b=(11,1) c=(1,2); totals na=23 nb=23
    assert(got.keySet === Set("a", "b", "c"))
    assert(got("a") === ((11L, 20L, psiTerm(11, 20, 23, 23))))
    assert(got("b") === ((11L, 1L, psiTerm(11, 1, 23, 23))))
    assert(got("c") === ((1L, 2L, psiTerm(1, 2, 23, 23))))
    // every PSI term is non-negative by construction
    got.values.foreach { case (_, _, t) => assert(t >= 0L) }
    // the enumerable-domain contract refuses loudly BEFORE the global
    // smoothing window can sort an unbounded frame on one reducer
    val ex = intercept[IllegalArgumentException] {
      Stats.driftCategorical(before, after, "v", maxValues = 1L)
    }
    assert(ex.getMessage.contains("exceeds maxValues"))
  }

  test("driftNumeric: identical snapshots give all-zero terms; shift registers") {
    import spark.implicits._
    val base = (1 to 100).map(_.toDouble).toDF("x")
    val same = Stats.driftNumeric(base, base, "x", 0.0, 100.0, nBins = 5)
      .collect()
    assert(same.length === 5)
    same.foreach(r => assert(r.getLong(3) === 0L))
    val shifted = (1 to 100).map(i => i.toDouble + 60.0).toDF("x")
    val drift = Stats.driftNumeric(base, shifted, "x", 0.0, 100.0, nBins = 5)
      .collect().map(_.getLong(3)).sum
    assert(drift > 100000000L, s"expected large PSI, got $drift")
  }

  test("driftNumeric clamps out-of-range values into the edge bins") {
    import spark.implicits._
    // 3e10 would overflow the int cast under ANSI mode if clamping ran
    // after the cast (observed CAST_OVERFLOW) — wild outliers are exactly
    // what a drift monitor must survive, so the clamp runs in double space
    val before = Seq(-5.0, 0.5, 1.5, 99.0, 3.0e10, Double.PositiveInfinity)
      .toDF("x")
    val after = Seq(250.0, 250.0).toDF("x")
    val got = Stats.driftNumeric(before, after, "x", 0.0, 100.0, nBins = 4)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // before: -5, 0.5, 1.5 clamp/fall to bin 0; 99, 3e10, Inf to bin 3;
    // after: both 250s clamp to bin 3; +1 smoothing everywhere
    assert(got(0) === ((4L, 1L)))
    assert(got(1) === ((1L, 1L)))
    assert(got(2) === ((1L, 1L)))
    assert(got(3) === ((4L, 3L)))
  }

  test("histogram store: mergeable counts, store-drift == one-shot drift") {
    import spark.implicits._
    val a1 = (1 to 40).map(_.toDouble).toDF("x")
    val a2 = (30 to 80).map(_.toDouble).toDF("x")
    val b = (50 to 120).map(_.toDouble).toDF("x")
    def hist(df: org.apache.spark.sql.DataFrame) =
      Stats.histogramStore(df, "x", 0.0, 100.0, 5)
    // mergeability: hist(a1) + hist(a2) == hist(a1 ∪ a2), bin for bin
    val merged = Stats.updateHistogramStore(hist(a1), hist(a2))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val oneShot = hist(a1.unionAll(a2))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(merged === oneShot)
    // store-based drift equals the raw two-frame drift
    val viaStore = Stats.driftAgainstStore(hist(a1.unionAll(a2)), hist(b), 5)
      .collect().map(_.toSeq)
    val direct = Stats.driftNumeric(a1.unionAll(a2), b, "x", 0.0, 100.0, 5)
      .collect().map(_.toSeq)
    assert(viaStore.toSeq === direct.toSeq)
  }

  test("histogram store drives from a stream via foreachBatch == batch store") {
    // the store's streaming form: each micro-batch's histogram merges
    // into the running store — after any prefix the store equals the
    // batch histogram over everything seen (counts add exactly)
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val mem = MemoryStream[Double]
    var store = spark.emptyDataset[(Int, Long)].toDF("bin", "n")
    val q = mem.toDF().toDF("x").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        store = Stats.updateHistogramStore(store,
          Stats.histogramStore(batch, "x", 0.0, 100.0, 5)).localCheckpoint()
      }
      .start()
    try {
      mem.addData((1 to 40).map(_.toDouble): _*); q.processAllAvailable()
      mem.addData((30 to 80).map(_.toDouble): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = store.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batch = Stats.histogramStore(
      ((1 to 40).map(_.toDouble) ++ (30 to 80).map(_.toDouble)).toDF("x"),
      "x", 0.0, 100.0, 5)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }

  test("kAnonymity: classes, summary, and the achieved-k contract") {
    import spark.implicits._
    val df = Seq(
      (30, "m", 1L), (30, "m", 2L), (30, "m", 3L),
      (40, "f", 4L), (40, "f", 5L),
      (50, "x", 6L)).toDF("age", "g", "id")
    val classes = Stats.kAnonymityClasses(df, Seq("age", "g"), 3)
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(classes((30, "m")) === ((3L, false)))
    assert(classes((40, "f")) === ((2L, true)))
    assert(classes((50, "x")) === ((1L, true)))
    val s = Stats.kAnonymity(df, Seq("age", "g"), 3).collect().head
    assert((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3), s.getLong(4))
      === ((3L, 6L, 2L, 3L, 1L)))
  }

  test("groupedQuantiles exact: integer rank ⌈q·n⌉, ties, exact-multiple edge") {
    import spark.implicits._
    // group a: n=10, values 10..100 — q=0.5 → rank ceil(5.0)=5 → 50
    // (exact-multiple edge: 500000·10 = 5·10⁶ exactly, +999999 div 10⁶ = 5);
    // q=0.91 → rank ceil(9.1)=10 → 100. group b: n=4 with tied values.
    val df = ((1 to 10).map(i => ("a", i * 10.0)) ++
      Seq(("b", 1.0), ("b", 2.0), ("b", 2.0), ("b", 9.0))).toDF("g", "v")
    val got = Stats.groupedQuantiles(df, "g", "v",
        Seq(500000L, 910000L), exact = true)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got(("a", 500000L)) === 50.0)
    assert(got(("a", 910000L)) === 100.0)
    // b: q=0.5 → rank ceil(2.0)=2 → the tied 2.0; q=0.91 → rank 4 → 9.0
    assert(got(("b", 500000L)) === 2.0)
    assert(got(("b", 910000L)) === 9.0)
  }

  test("groupedQuantiles approx agrees with exact in the exact regime") {
    import spark.implicits._
    val df = (1 to 200).flatMap(i => Seq(("a", i.toDouble), ("b", (i * 3).toDouble)))
      .toDF("g", "v")
    val exact = Stats.groupedQuantiles(df, "g", "v", Seq(500000L, 900000L),
      exact = true).collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    // accuracy >> n ⇒ the sketch stores every value and is exact
    val approx = Stats.groupedQuantiles(df, "g", "v", Seq(500000L, 900000L),
      exact = false, approxAccuracy = 100000)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    exact.foreach { case (k, v) =>
      assert(math.abs(approx(k) - v) <= 1.0, s"$k: approx ${approx(k)} vs exact $v")
    }
  }

  test("associationPairs: hand-exact support/confidence/lift; caps and minSupport") {
    import spark.implicits._
    val rows = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 1L), (20L, 2L), (20L, 2L),   // dup (basket, item) collapses
      (30L, 1L), (30L, 2L),
      (40L, 7L), (40L, 8L), (40L, 9L), (40L, 6L) // oversized at cap 3: dropped whole
    ).toDF("bk", "it")
    val got = Stats.associationPairs(rows, "bk", "it",
        minSupport = 1L, topK = 10, maxBasketSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8))).toSeq
    // 3 surviving baskets; item counts 1->3, 2->3, 3->1
    assert(got === Seq(
      (1L, 2L, 3L, 3L, 3L, 3L, 1000000L, 1000000L, 1000000L),
      (1L, 3L, 1L, 3L, 1L, 3L, 333333L, 1000000L, 1000000L),
      (2L, 3L, 1L, 3L, 1L, 3L, 333333L, 1000000L, 1000000L)))
    // minSupport prunes the singletons; no basket-4 item ever appears
    val pruned = Stats.associationPairs(rows, "bk", "it",
        minSupport = 2L, topK = 10, maxBasketSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pruned === Seq((1L, 2L)))
    assert(!got.exists(t => Set(6L, 7L, 8L, 9L)(t._1) || Set(6L, 7L, 8L, 9L)(t._2)))
    // topK truncates under the total (support desc, a, b) order
    assert(Stats.associationPairs(rows, "bk", "it", 1L, 2, 3).count() === 2)
    intercept[IllegalArgumentException] {
      Stats.associationPairs(rows, "bk", "it", minSupport = 0L)
    }
  }

  test("associationStore: two-batch merge reproduces the one-shot metrics") {
    val li = wh.loadTable("lineitem").select("l_orderkey", "l_partkey")
    val s1 = Stats.associationStore(
      li.filter(col("l_orderkey") % 2 === 0), "l_orderkey", "l_partkey")
    val s2 = Stats.associationStore(
      li.filter(col("l_orderkey") % 2 === 1), "l_orderkey", "l_partkey")
    val merged = Stats.updateAssociationStore(s1, s2).localCheckpoint()
    val fromStore = Stats.associationFromStore(merged, 2L, 50)
      .collect().map(_.toSeq).toSeq
    val oneShot = Stats.associationPairs(li, "l_orderkey", "l_partkey", 2L, 50)
      .collect().map(_.toSeq).toSeq
    assert(fromStore === oneShot)
    // the merged store equals the store built in one pass (counts add)
    val whole = Stats.associationStore(li, "l_orderkey", "l_partkey")
      .collect().map(_.toSeq).toSet
    assert(merged.collect().map(_.toSeq).toSet === whole)
  }

  test("associationFromStore: basket totals sum; no total, no rows") {
    import spark.implicits._
    val rows = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 3L),
      (4L, 2L)).toDF("bk", "it")
    val store = Stats.associationStore(rows, "bk", "it").localCheckpoint()
    val total = store.filter(col("kind") === "n")
    val noTotal = store.filter(col("kind") =!= "n")
    // the 4-basket total split over two `n` rows — what a plain union
    // of two batch stores leaves without updateAssociationStore
    val split = noTotal
      .unionByName(total.withColumn("cnt", lit(1L)))
      .unionByName(total.withColumn("cnt", col("cnt") - 1L))
    def read(st: org.apache.spark.sql.DataFrame) =
      Stats.associationFromStore(st, minSupport = 1L, topK = 10)
        .collect().map(_.toSeq).toSeq
    val expect = read(store)
    assert(expect.size === 2, "pairs (1,2) and (1,3)")
    assert(read(split) === expect, "the two n rows sum to the one-row result")
    assert(read(noTotal).isEmpty, "no basket total, no rows")
  }
}

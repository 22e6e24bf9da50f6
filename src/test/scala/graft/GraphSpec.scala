package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

class GraphSpec extends AnyFunSuite with SparkTestBase {

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  /** Local reference replay of the fixed-point recurrence — the same
    * integer semantics the operator and the DuckDB oracle implement.
    */
  private def refPageRank(pairs: Seq[(Long, Long)], iters: Int,
      dampNum: Long = 85, dampDen: Long = 100,
      scale: Long = 1000000000L): Map[Long, Long] = {
    val e = pairs.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val outdeg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val base = (dampDen - dampNum) * scale / dampDen
    var r = nodes.map(_ -> scale).toMap
    (1 to iters).foreach { _ =>
      val in = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => r(s) / outdeg(s) }.sum
      }
      r = nodes.map(n => n -> (base + dampNum * in.getOrElse(n, 0L) / dampDen)).toMap
    }
    r
  }

  test("3-cycle is a fixed point: every rank stays exactly at scale") {
    val out = Graph.pageRank(edges(1L -> 2L, 2L -> 3L, 3L -> 1L), "src", "dst",
        iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1000000000L, 2L -> 1000000000L, 3L -> 1000000000L))
  }

  test("star with dangling center matches the hand-computed recurrence") {
    // 2→1 and 3→1; node 1 is dangling (outdeg 0) so its mass leaks.
    // iter1: r(1) = base + 85*(1e9 + 1e9)/100 = 0.15e9 + 1.7e9;
    //        r(2) = r(3) = base (no in-edges)
    val out = Graph.pageRank(edges(2L -> 1L, 3L -> 1L), "src", "dst", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 150000000L + 85L * 2000000000L / 100L)
    assert(out(2L) == 150000000L && out(3L) == 150000000L)
  }

  test("operator matches the local reference replay on a skewed random graph") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(400)((rnd.nextInt(40).toLong,
      // skew: half the edges point into a 4-node hub set
      if (rnd.nextBoolean()) rnd.nextInt(4).toLong else rnd.nextInt(40).toLong))
    val expected = refPageRank(pairs, iters = 6)
    val out = Graph.pageRank(edges(pairs: _*), "src", "dst", iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == expected)
    // the reliable-checkpoint path: setup and rounds 4 and 6 go to files
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-ckpt").toString
    val reliable = Graph.pageRank(edges(pairs: _*), "src", "dst", iters = 6,
        checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == expected)
  }

  test("duplicate edges collapse: ranks are multiplicity-invariant") {
    val once = Graph.pageRank(edges(1L -> 2L, 2L -> 1L, 1L -> 3L), "src", "dst",
        iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dup = Graph.pageRank(
        edges(1L -> 2L, 1L -> 2L, 2L -> 1L, 1L -> 3L, 1L -> 3L, 1L -> 3L),
        "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(once == dup)
  }

  test("total mass is conserved up to truncation and dangling leak") {
    // no dangling nodes -> mass can only shrink via the two truncating
    // divisions; it must stay within N * (outdeg_max + dampDen) of N*scale
    val pairs = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 3L, 3L -> 2L)
    val out = Graph.pageRank(edges(pairs: _*), "src", "dst", iters = 10)
      .collect().map(_.getLong(1))
    val total = out.sum
    assert(total <= 3L * 1000000000L)
    assert(total > 3L * 1000000000L - 3L * 100L * 10L)
  }

  /** Local replay of the personalized recurrence. */
  private def refPpr(pairs: Seq[(Long, Long)], seeds: Set[Long], iters: Int,
      dampNum: Long = 85, dampDen: Long = 100,
      scale: Long = 1000000000L): Map[Long, Long] = {
    val e = pairs.distinct
    val nodes = ((e.map(_._1) ++ e.map(_._2)).toSet ++ seeds).toSeq
    val outdeg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val t = (BigInt(dampDen - dampNum) * BigInt(scale) * BigInt(nodes.size) /
      (BigInt(seeds.size) * BigInt(dampDen))).toLong
    var r = nodes.map(_ -> scale).toMap
    (1 to iters).foreach { _ =>
      val in = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => r(s) / outdeg(s) }.sum
      }
      r = nodes.map(n => n ->
        ((if (seeds(n)) t else 0L) + dampNum * in.getOrElse(n, 0L) / dampDen)).toMap
    }
    r
  }

  test("personalized pageRank matches the local replay; seeds dominate") {
    // 0 and 1 are seeds; 5 is a popular sink fed by everyone — under
    // GLOBAL pagerank 5 wins, under PPR the seed side stays elevated
    val pairs = Seq(0L -> 1L, 1L -> 0L, 2L -> 5L, 3L -> 5L, 4L -> 5L,
      0L -> 5L, 5L -> 2L)
    import spark.implicits._
    val seeds = Seq(0L, 1L).toDF("id")
    val got = Graph.personalizedPageRank(edges(pairs: _*), "src", "dst",
        seeds, "id", iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refPpr(pairs, Set(0L, 1L), iters = 6))
    // non-seed nodes with no seed-path inflow decay toward zero base
    assert(got(0L) > got(3L) && got(1L) > got(3L))
  }

  test("personalized pageRank accepts seeds absent from the edge list") {
    import spark.implicits._
    val pairs = Seq(1L -> 2L, 2L -> 1L)
    val got = Graph.personalizedPageRank(edges(pairs: _*), "src", "dst",
        Seq(99L).toDF("id"), "id", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refPpr(pairs, Set(99L), iters = 3))
    assert(got.contains(99L) && got(99L) > 0L)
  }

  /** Local replay of the synchronous label-propagation recurrence. */
  private def refLp(pairs: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = pairs.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var lab = nodes.map(n => n -> n).toMap
    (1 to iters).foreach { _ =>
      val votes = e.groupBy(_._2).map { case (d, es) =>
        val counts = es.groupBy { case (s, _) => lab(s) }
          .map { case (l, g) => l -> g.size }
        // max count, tie min label
        d -> counts.toSeq.map { case (l, c) => (c, -l) }.max._2 * -1
      }
      lab = nodes.map(n => n -> votes.getOrElse(n, n)).toMap
    }
    lab
  }

  test("labelPropagation matches the local replay and groups two cliques") {
    // two 3-cliques bridged by one edge: LP keeps them as separate
    // communities where connected components would merge them
    val pairs = (for {
      a <- Seq(1L, 2L, 3L); b <- Seq(1L, 2L, 3L) if a != b
    } yield a -> b) ++ (for {
      a <- Seq(10L, 11L, 12L); b <- Seq(10L, 11L, 12L) if a != b
    } yield a -> b) :+ (3L -> 10L)
    val got = Graph.labelPropagation(edges(pairs: _*), "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refLp(pairs, 4))
    // the two cliques carry distinct labels
    val cliqueA = Set(1L, 2L, 3L).map(got)
    val cliqueB = Set(10L, 11L, 12L).map(got)
    assert(cliqueA.size === 1 && cliqueB.size === 1)
    assert(cliqueA != cliqueB)
  }

  test("labelPropagation: no-in-edge nodes keep their own id") {
    val got = Graph.labelPropagation(edges(5L -> 6L, 6L -> 7L), "src", "dst",
        iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(5L) === 5L) // never receives a vote
    assert(got === refLp(Seq(5L -> 6L, 6L -> 7L), 3))
  }

  /** Brute-force triangle replay: all unordered triples with all three
    * canonical edges present.
    */
  private def refTriangles(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val ce = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(p => p._1 != p._2).distinct.toSet
    val nodes = ce.toSeq.flatMap(p => Seq(p._1, p._2)).distinct
    val tris = for {
      x <- nodes; y <- nodes if x < y; z <- nodes if y < z
      if ce((x, y)) && ce((y, z)) && ce((x, z))
    } yield (x, y, z)
    val counts = tris.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, g) => n -> g.size.toLong }
    nodes.map(n => n -> counts.getOrElse(n, 0L)).toMap
  }

  test("triangleCounts matches brute force on a hub-skewed random graph") {
    val rnd = new scala.util.Random(11)
    // hub skew: node 0 participates in most edges — the case degree
    // ordering exists for
    val pairs = Seq.fill(120)((
      if (rnd.nextBoolean()) 0L else rnd.nextInt(25).toLong,
      rnd.nextInt(25).toLong))
    val got = Graph.triangleCounts(edges(pairs: _*), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refTriangles(pairs))
    assert(got.values.sum > 0, "fixture must actually contain triangles")
  }

  test("triangleCounts: direction and duplicates collapse; self-loops drop") {
    val got = Graph.triangleCounts(
        edges(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 1L, 1L -> 1L, 2L -> 3L),
        "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("degrees counts distinct in/out neighbors with zero-fill") {
    val d = Graph.degrees(edges(1L -> 2L, 1L -> 2L, 1L -> 3L, 2L -> 3L),
        "src", "dst")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(d == Map(1L -> ((2L, 0L)), 2L -> ((1L, 1L)), 3L -> ((0L, 2L))))
  }

  test("trade-graph query runs end-to-end and ranks hubs above leaves") {
    val pr = SparkEntry.queries("q_pagerank")(spark, sfDir)
    val rows = pr.collect()
    assert(rows.length > 100)
    // suppliers (node >= 1e6) have far higher in-degree than customers in
    // the bipartite trade graph — their mean rank must dominate
    val (supp, cust) = rows.partition(_.getLong(0) >= 1000000L)
    val meanSupp = supp.map(_.getLong(1)).sum / supp.length
    val meanCust = cust.map(_.getLong(1)).sum / cust.length
    assert(meanSupp > 2 * meanCust,
      s"supplier mean rank $meanSupp vs customer $meanCust")
  }

  test("pageRankWeighted: equal weights reproduce pageRank bit-for-bit; weight skews rank") {
    import spark.implicits._
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
    val unweighted = Graph.pageRank(es.toDF("src", "dst"), "src", "dst", iters = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val equalW = Graph.pageRankWeighted(
        es.map(e => (e._1, e._2, 7L)).toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(equalW === unweighted)
    // skew: one source splits 9:1 — the heavy target must outrank the
    // light one (both have only that in-edge)
    val skew = Graph.pageRankWeighted(
        Seq((1L, 2L, 9L), (1L, 3L, 1L)).toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(skew(2L) > skew(3L))
    // parallel edges merge by weight sum; non-positive weights drop
    val merged = Graph.pageRankWeighted(
        Seq((1L, 2L, 4L), (1L, 2L, 5L), (1L, 3L, 1L), (1L, 3L, 0L),
          (9L, 1L, -3L), (1L, 3L, 0L))
          .toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(merged === skew, "merge + drop must equal the clean 9:1 graph")
  }

  test("hits: bipartite star fixed point; asymmetric hubs replay the local fold") {
    import spark.implicits._
    // star: one hub pointing at three authorities — fixed point is
    // exactly scale everywhere it is non-zero, zero on the silent side
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val rows = Graph.hits(star, "src", "dst", iters = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(rows(0L) === ((0L, 1000000L)))
    assert(rows(1L) === ((1000000L, 0L)))
    assert(rows(2L) === ((1000000L, 0L)))
    assert(rows(3L) === ((1000000L, 0L)))
    // asymmetric two-hub graph + a local integer replay of the recurrence
    def replay(edges: Set[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2))
      var h = nodes.map(_ -> 1000000L).toMap
      var a = Map.empty[Long, Long]
      for (_ <- 1 to iters) {
        val ar = edges.groupBy(_._2).map { case (v, es) =>
          v -> es.toSeq.map(e => h.getOrElse(e._1, 0L)).sum }
        val am = ar.values.max
        a = ar.map { case (k, s) => k -> (BigInt(s) * 1000000 / am).toLong }
        val hr = edges.groupBy(_._1).map { case (u, es) =>
          u -> es.toSeq.map(e => a.getOrElse(e._2, 0L)).sum }
        val hm = hr.values.max
        h = hr.map { case (k, s) => k -> (BigInt(s) * 1000000 / hm).toLong }
      }
      nodes.map(n => n -> ((a.getOrElse(n, 0L), h.getOrElse(n, 0L)))).toMap
    }
    val es = Set((10L, 1L), (10L, 2L), (11L, 1L), (12L, 3L), (1L, 12L))
    val want = replay(es, 8)
    val op = Graph.hits(es.toSeq.toDF("src", "dst"), "src", "dst", iters = 8)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(op === want)
    // duplicate edges collapse; direction matters
    val dup = Graph.hits((es.toSeq ++ es.toSeq).toDF("src", "dst"),
        "src", "dst", iters = 8)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(dup === want)
    val rev = Graph.hits(es.toSeq.map(e => (e._2, e._1)).toDF("src", "dst"),
        "src", "dst", iters = 8)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(rev === replay(es.map(e => (e._2, e._1)), 8))
    assert(rev !== want, "direction must matter on an asymmetric graph")
  }

  test("kCore: clique survives, tendril peels over cascading rounds") {
    import spark.implicits._
    // 4-clique {1,2,3,4} + a pendant chain 4-5-6-7: at k=3 the chain
    // peels end-first over THREE rounds (7, then 6, then 5), the clique
    // survives with in-core degree exactly 3 everywhere
    val clique = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val chain = Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val got = Graph.kCore((clique ++ chain).toDF("src", "dst"), "src", "dst", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k=2: the chain still peels (ends have degree 1), clique keeps all
    val got2 = Graph.kCore((clique ++ chain).toDF("src", "dst"), "src", "dst", k = 2)
      .collect().map(r => r.getLong(0)).toSet
    assert(got2 === Set(1L, 2L, 3L, 4L))
    // a pure path fully peels at k=2 (cascade to empty)
    val path = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(Graph.kCore(path.toDF("src", "dst"), "src", "dst", k = 2).count() === 0)
  }

  test("kCore matches a local peel replay; duplicates/direction collapse") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = (1 to 300).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val k = 4
    val got = Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // local replay: undirected simple graph, synchronous peel to fixpoint
    var adj = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var changed = true
    while (changed) {
      val keep = adj.filter(_._2.size >= k).keySet
      changed = keep.size != adj.size
      adj = adj.view.filterKeys(keep).mapValues(_.intersect(keep))
        .toMap.filter(_._2.nonEmpty)
    }
    val expect = adj.view.mapValues(_.size.toLong).toMap
    assert(got === expect, s"diff: ${(got.toSet diff expect.toSet)} / ${(expect.toSet diff got.toSet)}")
  }

  test("shortestPaths: weighted relaxation beats the direct edge; sources score 0") {
    import spark.implicits._
    // 1→2(5), 2→3(1), 1→3(10), 3→4(0), 1→4(100), 5→1(2); parallel 1→2(7)
    // collapses to min 5. Sources {1, 7}: 7 is NOT in the graph (pure
    // seed, dist 0); 5 only has an OUT-edge toward the sources → absent.
    val e = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L), (3L, 4L, 0L),
      (1L, 4L, 100L), (5L, 1L, 2L), (1L, 2L, 7L)).toDF("src", "dst", "w")
    val src = Seq(1L, 7L).toDF("s")
    val got = Graph.shortestPaths(e, "src", "dst", src, "s", Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 6L, 7L -> 0L))
  }

  test("shortestPaths: fixed horizon bounds path length; unit weights = hops") {
    import spark.implicits._
    val e = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L), (3L, 4L, 0L),
      (1L, 4L, 100L)).toDF("src", "dst", "w")
    val src = Seq(1L).toDF("s")
    def dists(iters: Int) =
      Graph.shortestPaths(e, "src", "dst", src, "s", Some("w"), maxIters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // horizon 1: only direct edges relax
    assert(dists(1) === Map(1L -> 0L, 2L -> 5L, 3L -> 10L, 4L -> 100L))
    // horizon 2: 1→2→3 = 6 and 1→3→4 = 10 admitted; 1→2→3→4 not yet
    assert(dists(2) === Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 10L))
    // horizon 3 = converged
    assert(dists(3) === Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 6L))
    // unit weights: dist = hop count (3 and 4 both have direct edges)
    val hops = Graph.shortestPaths(e, "src", "dst", src, "s", None)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hops === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("shortestPaths refuses negative weights") {
    import spark.implicits._
    val e = Seq((1L, 2L, -3L)).toDF("src", "dst", "w")
    assertThrows[IllegalArgumentException] {
      Graph.shortestPaths(e, "src", "dst", Seq(1L).toDF("s"), "s", Some("w"))
    }
  }

  test("linkPrediction: hand-exact CN/Jaccard/AA, adjacency excluded, hub cap") {
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    // square 1-2-3-4-1 (fed with duplicates + reversed rows: simple-graph
    // collapse): (1,3) and (2,4) at distance 2 via two deg-2 centers;
    // AA term at deg 2 = 2^20*1e6 / ilog2Fp(2) = exactly 1e6
    val sq = edges((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 4L))
    val a = got(Graph.linkPrediction(sq, "src", "dst", minCommon = 1L))
    assert(a.keySet === Set((1L, 3L), (2L, 4L)))
    assert(a((1L, 3L)) === ((2L, 2L, 2L, 1000000L, 2000000L)),
      "cn 2, jaccard 2/(2+2-2)=1, AA = 2 * 1/log2(2)")
    assert(a((2L, 4L)) === ((2L, 2L, 2L, 1000000L, 2000000L)))
    // adding the edge (1,3) removes that pair (adjacent), keeps (2,4)
    val b = got(Graph.linkPrediction(
      edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)),
      "src", "dst", minCommon = 1L))
    assert(!b.contains((1L, 3L)) && b.contains((2L, 4L)))
    // pentagon square + node 5 on (1,5),(5,3): deg(1)=deg(3)=3; with
    // maxDegree=2 wedges centered at 1 and 3 drop whole, so (2,4),
    // (2,5), (4,5) disappear while (1,3) keeps its three deg-2 centers
    val c5 = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 5L), (5L, 3L))
    val full = got(Graph.linkPrediction(c5, "src", "dst", minCommon = 2L))
    assert(full((1L, 3L))._1 === 3L && full.contains((2L, 4L)) &&
      full.contains((2L, 5L)) && full.contains((4L, 5L)))
    val capped = got(Graph.linkPrediction(c5, "src", "dst",
      maxDegree = 2L, minCommon = 2L))
    assert(capped.keySet === Set((1L, 3L)),
      "hub-centered wedges drop whole — the loud recall trade")
    assert(capped((1L, 3L)) === ((3L, 3L, 3L, 1000000L, 3000000L)),
      "degrees stay FULL even when the cap limits wedge centers")
  }
}

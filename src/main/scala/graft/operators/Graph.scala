package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-graph analytics over edge frames — the host/page authority
  * signals large web-corpus curation pipelines weight documents by
  * (Common-Crawl-derived corpora rank hosts to pick crawl/keep budgets;
  * see e.g. RefinedWeb, Penedo et al. 2023, and the original
  * PageRank, Brin & Page 1998).
  *
  * Everything here is FIXED-POINT INTEGER arithmetic: ranks are scaled
  * longs, per-edge shares use truncating `div`, and damping is a
  * rational (dampNum/dampDen) applied with integer multiply-then-div.
  * Summation is long addition (associative, order-free), so every engine
  * replays the iteration bit-identically — the DuckDB oracle unrolls the
  * same iterations as CTEs and must hash-match exactly, the same
  * contract as the trained quality classifier
  * (TextAnalysis.trainQualityClassifier).
  *
  * Scale posture (100 TB): the edge list is the big side. Every
  * iterative operator here materializes through ONE helper,
  * [[RoundCheckpoints]]: its setup frames (the deduped edge list, the
  * node list) are built once, eagerly ([[RoundCheckpoints.materializeNow]];
  * [[shortestPaths]]' and connectedComponents' edge lists, which every
  * round joins, as a cache: [[RoundCheckpoints.cacheNow]]), so no later
  * query re-plans the dedup or waits on a table-cache job;
  * its round state is checkpointed to truncate the iterative lineage —
  * the fixed-round iterations every [[RoundCheckpoints.interval]] rounds
  * and on the last, letting the rounds between chain into one job, the
  * convergence-tested ones ([[kCore]], [[shortestPaths]]) every round,
  * where the count that tests convergence builds the round. A superseded
  * round is dropped once the next is built, and the setup in a
  * `finally`: a call leaves at most its result cached. The pageRank
  * family, [[labelPropagation]] and [[hits]] share one setup
  * ([[adjacency]]: one exchange, edges and nodes are filters of one
  * checkpoint); each round shuffles the O(nodes) narrow (long, long)
  * state to the edge join, then one groupBy with map-side partial sums.
  */
object Graph {

  /** PageRank with fixed iteration count.
    *
    * Semantics (all integer):
    *  - edges are `(src, dst)` pairs; duplicates collapse (distinct),
    *    self-loops participate like any edge.
    *  - nodes = distinct src ∪ dst; outdeg(u) = distinct out-neighbors.
    *  - r_0(v) = `scale`.
    *  - r_{k+1}(v) = base + (dampNum · Σ_{u→v} (r_k(u) div outdeg(u)))
    *    div dampDen, with base = ((dampDen − dampNum) · scale) div
    *    dampDen.
    *  - dangling nodes (outdeg 0) contribute nothing: their mass leaks,
    *    the standard simplification when ranks are used as a relative
    *    keep-budget signal rather than a probability.
    *
    * Overflow bound: dampNum · N · scale must stay below 2^63 — at a
    * billion nodes pass scale ≤ 10^8 (ranks keep 8 significant digits;
    * the default 10^9 covers corpora to ~10^8 nodes).
    *
    * Returns `(node, rank_fp)`, rank in units of `scale`.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 8, dampNum: Long = 85, dampDen: Long = 100,
      scale: Long = 1000000000L,
      checkpointDir: Option[String] = None): DataFrame =
    pageRankCore(edges, srcCol, dstCol, None, None, iters, dampNum, dampDen,
      scale, checkpointDir)

  /** PERSONALIZED PageRank: the teleport term lands only on `seeds`
    * (random surfer restarts at the seed set, not uniformly) — the
    * related-entity ranking behind "customers also bought" / topic-
    * conditioned authority. Same integer semantics as [[pageRank]] with
    * the per-node base replaced by
    *
    *   base(v) = [v ∈ S] · ((dampDen − dampNum) · scale · N) div
    *             (|S| · dampDen)
    *
    * — one floor division, so total teleport mass matches the global
    * form's N·base up to truncation and any engine replays it. Seed ids
    * not present in the graph still teleport (standard PPR: a seed with
    * no edges is a pure source); overflow bound tightens to
    * dampNum · N² · scale / |S| < 2^63 — scale down `scale` for extreme
    * N/|S| ratios.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iters: Int = 8, dampNum: Long = 85, dampDen: Long = 100,
      scale: Long = 1000000000L,
      checkpointDir: Option[String] = None): DataFrame =
    pageRankCore(edges, srcCol, dstCol, None,
      Some(seeds.select(col(seedCol).cast("long").as("node"))
        .where(col("node").isNotNull)),
      iters, dampNum, dampDen, scale, checkpointDir)

  /** WEIGHTED PageRank: [[pageRank]] with each node's rank distributed
    * proportional to EDGE WEIGHT instead of uniformly — the form real
    * interaction graphs need (weight = number of orders, links,
    * co-occurrences; an edge clicked a million times should carry more
    * authority than one clicked once). Parallel (src, dst) edges MERGE
    * by summing weights, so raw event logs feed in directly;
    * non-positive weights drop.
    *
    * Integer semantics mirror [[pageRank]] exactly: per-edge share =
    * ⌊rank·w ÷ W(u)⌋ (the multiply in decimal(38,0) — rank·w can pass
    * 2^63), damped sums and the uniform teleport base unchanged. With
    * all weights equal it reproduces [[pageRank]] BIT-FOR-BIT
    * (⌊r·w ÷ (d·w)⌋ = ⌊r ÷ d⌋ — spec-pinned), so the weighted form is
    * a strict generalization. It IS [[pageRank]]'s plan: the weight only
    * changes how the setup merges parallel edges and how a round splits
    * a node's rank.
    */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int = 8,
      dampNum: Long = 85, dampDen: Long = 100,
      scale: Long = 1000000000L): DataFrame =
    pageRankCore(edges, srcCol, dstCol, Some(weightCol), None, iters, dampNum,
      dampDen, scale, None)

  private def pageRankCore(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String], seedsOpt: Option[DataFrame],
      iters: Int, dampNum: Long, dampDen: Long, scale: Long,
      checkpointDir: Option[String]): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      s"damping must satisfy 0 <= dampNum <= dampDen (got $dampNum/$dampDen)")
    // localCheckpoint for single-process speed, reliable checkpoint files
    // for executor-loss tolerance on real clusters
    val rounds = new RoundCheckpoints(edges.sparkSession, checkpointDir)
    try {
      // how a node splits its rank over its out-edges: evenly (rank div
      // outdeg) or by weight (⌊rank·w ÷ wsum⌋). The node's total is a
      // window over the adjacency's hash(node) partitions, not a join
      // and its exchanges.
      val (total, totalOf, share) = weightCol match {
        case None => ("outdeg", count(col("nbr")), "rank_fp div outdeg")
        case Some(_) => ("wsum", sum(col("w")),
          "CAST((CAST(rank_fp AS decimal(38,0)) * w) div wsum AS long)")
      }
      // (node, nbr, seed[, w], total): its nbr rows are the edge list,
      // its null-nbr rows the node list
      val adj = rounds.materializeNow(adjacency(edges, srcCol, dstCol, seedsOpt, weightCol)
        .withColumn(total, totalOf.over(Window.partitionBy("node"))))
      val edgeDeg = adj.where(col("nbr").isNotNull).drop("seed")
        .withColumnRenamed("node", "src").withColumnRenamed("nbr", "dst")
      val nodeRows = adj.where(col("nbr").isNull)
      // per-node teleport base: uniform for the global form; concentrated
      // on the seed set for the personalized form (one floor division so
      // both engines replay the constant — the eager count is inherent to
      // the exact-integer contract)
      val base = seedsOpt match {
        case None => lit((dampDen - dampNum) * scale / dampDen)
        case Some(_) =>
          val c = nodeRows.agg(count(lit(1)), count(when(col("seed"), 1))).head()
          val (n, nSeeds) = (c.getLong(0), c.getLong(1))
          require(nSeeds > 0, "personalizedPageRank: empty seed set")
          val t = (BigInt(dampDen - dampNum) * BigInt(scale) * BigInt(n) /
            (BigInt(nSeeds) * BigInt(dampDen)))
          require(t.isValidLong && BigInt(dampNum) * n * scale < BigInt(Long.MaxValue),
            s"teleport mass overflows long (N=$n, seeds=$nSeeds) — reduce scale")
          when(col("seed"), lit(t.toLong)).otherwise(lit(0L))
      }
      val nodes = nodeRows.select(col("node"), base.as("base"))

      var ranks = nodes.select(col("node"), lit(scale).as("rank_fp"))
      var k = 0
      while (k < iters) {
        // Per-round plan (r12 shape): the base term UNIONS into the
        // contribution aggregation instead of a nodes-join after it —
        // one exchange per round (the groupBy) and no per-round
        // broadcast-build job. The edge side is a checkpoint scan with
        // no known partitioning and the size estimate of the plan it
        // ran, so the edge join is planned with a hashpartitioning(src)
        // exchange under it each round, and AQE turns the join into a
        // broadcast only after that shuffle ran (ROADMAP item 2).
        // s is summed over contrib rows only, base rides in on its own
        // tagged row, one floor division.
        val contribs = edgeDeg
          .join(ranks.select(col("node").as("src"), col("rank_fp")), "src")
          .select(col("dst").as("node"), expr(share).as("share"), lit(false).as("__b"))
        val plan = contribs
          .unionByName(nodes.select(col("node"), col("base").as("share"),
            lit(true).as("__b")))
          .groupBy("node")
          .agg(sum(when(!col("__b"), col("share"))).as("s"),
            max(when(col("__b"), col("share"))).as("__base"))
          .select(col("node"),
            (col("__base") + expr(
              s"($dampNum * coalesce(s, cast(0 as bigint))) div $dampDen"))
              .as("rank_fp"))
        ranks = rounds.fixedRound(plan, k, iters)
        k += 1
      }
      ranks
    } finally rounds.release()
  }

  /** The one-exchange graph setup of the pageRank family,
    * [[labelPropagation]] and [[hits]]: every non-null edge emits (src,
    * dst), (src, null) and (dst, null) — plus (seed, null) per seed — and
    * ONE hash(node) exchange feeds the dedup, which needs no second
    * exchange (hash(node) already clusters (node, nbr)). Output `(node,
    * nbr, seed)`, one row per distinct edge (nbr = its dst) and one
    * null-nbr row per node, `seed` set on seed nodes. A node's neighbours
    * stay one row each — never one array row per node — so a hub's
    * adjacency streams.
    *
    * With a `weightCol`, an edge needs a positive weight (dropped before
    * the explode, so a node reached only by such edges is no node), the
    * weight rides on its (src, dst) row, and parallel edges merge into a
    * `w` column by summing it.
    */
  private def adjacency(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Option[DataFrame] = None, weightCol: Option[String] = None): DataFrame = {
    val ends = col("src").isNotNull && col("dst").isNotNull
    // the weight's branch: which edges count, and how parallel ones merge
    val (w, kept, merged) = weightCol match {
      case None => (Nil, ends, Nil)
      case Some(c) => (Seq(col(c).cast("long").as("w")), ends && col("w") > 0,
        Seq(sum(col("w")).as("w")))
    }
    val e = edges
      .select(Seq(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")) ++ w: _*)
      .where(kept)
    val none = lit(null).cast("long")
    def row(node: String, nbr: Column, weight: Column) = struct(Seq(col(node).as("node"),
      nbr.as("nbr"), lit(false).as("seed")) ++ w.map(_ => weight.as("w")): _*)
    val rows = e.select(explode(array(row("src", col("dst"), col("w")), row("src", none, none),
      row("dst", none, none))).as("r")).select("r.*")
    seeds.fold(rows)(s =>
        rows.unionByName(s.select(col("node"), none.as("nbr"), lit(true).as("seed"))))
      .repartition(col("node"))
      .groupBy("node", "nbr")
      .agg(max(col("seed")).as("seed"), merged: _*)
  }

  /** DETERMINISTIC synchronous label propagation (community detection,
    * Raghavan et al. 2007 made engine-exact): every node starts labeled
    * with its own id; each round, every node adopts the label with the
    * HIGHEST count among its in-neighbors' current labels, ties broken
    * by the SMALLEST label, keeping its own when it has no in-edges.
    * Fixed `iters` rounds of the synchronous update — no random order,
    * no float, so any engine replays every round bit-identically (the
    * classic async formulation converges better but is order-dependent;
    * determinism is the property the oracle contract needs, and a few
    * synchronous rounds already group dense near-dup neighborhoods that
    * connected components would over-merge through one bridge edge).
    *
    * Plan: same shape as [[pageRank]] — the one-exchange setup
    * checkpoint, then per round one (dst, label) groupBy count + one
    * argmax aggregate, lineage truncated on the fixed-round cadence
    * ([[RoundCheckpoints.fixedRound]]).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val rounds = new RoundCheckpoints(edges.sparkSession, None)
    try {
      // the [[pageRank]] setup: one exchange, edges and nodes are filters
      // of one checkpoint
      val adj = rounds.materializeNow(adjacency(edges, srcCol, dstCol).select("node", "nbr"))
      val e = adj.where(col("nbr").isNotNull).select(col("node").as("src"), col("nbr").as("dst"))
      val nodes = adj.where(col("nbr").isNull).select("node")
      var labels = nodes.withColumn("label", col("node"))
      var k = 0
      while (k < iters) {
        // count in-neighbor labels per node, argmax(count, tie min label).
        // A zero-count SELF row per node unions into the argmax input
        // (r12 shape): a node with any real vote beats it (c >= 1 > 0),
        // a node with no in-edges keeps its own label — exactly the old
        // nodes-left-join + coalesce, minus one join (and its broadcast
        // build) per round.
        val votes = e
          .join(labels.select(col("node").as("src"), col("label")), "src")
          .groupBy(col("dst").as("node"), col("label"))
          .agg(count(lit(1)).as("c"))
        val plan = votes
          .unionByName(nodes.select(col("node"), col("node").as("label"),
            lit(0L).as("c")))
          .groupBy("node")
          .agg(max(struct(col("c").as("c"), (-col("label")).as("n"))).as("__m"))
          .select(col("node"), (-col("__m.n")).as("label"))
        labels = rounds.fixedRound(plan, k, iters)
        k += 1
      }
      labels
    } finally rounds.release()
  }

  /** Per-node triangle counts over the UNDIRECTED graph (direction and
    * duplicates collapse; self-loops drop) — the local clustering
    * signal behind spam/link-farm detection and community density.
    *
    * Scale: the naive triangle join explodes on hubs (a degree-d node
    * contributes d² wedge candidates). The standard fix is DEGREE
    * ORDERING (Cohen 2009): orient every undirected edge from the
    * lower-(deg, id) endpoint to the higher one — every node's ORIENTED
    * out-degree is O(√m) on any graph, so the wedge self-join is bounded
    * regardless of hub skew. Each triangle is generated exactly once
    * (from its lowest-rank vertex), then credited to all three corners.
    * The triangle SET is orientation-invariant, so a plain id-ordered
    * replay (the oracle) must produce identical counts.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val s = col(srcCol).cast("long"); val d = col(dstCol).cast("long")
    // und feeds the degree aggregate AND the orientation join; deg feeds
    // both orientation sides AND the final node list — persist both so
    // the distinct-edge collapse and the degree shuffle run once
    val und = edges
      .select(least(s, d).as("u"), greatest(s, d).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("dg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // orient low rank → high rank, rank = (deg, id); carry the head's
    // rank for the wedge ordering below
    val oriented = und
      .join(deg.select(col("node").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("dg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("a"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("v")).otherwise(col("u")).as("b"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("dv")).otherwise(col("du")).as("rb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // `oriented` feeds the returned LAZY plan three times (two wedge arms
    // + the closing semi-join) — the cache is what makes that one compute;
    // it is reclaimed by the ContextCleaner once the caller's result drops
    // the reference (an eager unpersist here would run before the caller's
    // action)
    val w1 = oriented.select(col("a"), col("b"), col("rb"))
    val w2 = oriented.select(col("a"), col("b").as("c"), col("rb").as("rc"))
    val tris = w1.join(w2, Seq("a"))
      .where(struct(col("rb"), col("b")) < struct(col("rc"), col("c")))
      .join(oriented.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"),
        "left_semi")
      .select(col("a"), col("b"), col("c"))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg.select(col("node")).join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Degree summary of an edge frame — in/out degree per node in one
    * pass over the distinct edge list (the quick structural profile run
    * before committing to an iterative job: degree skew here predicts
    * PageRank shuffle skew).
    */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** K-CORE decomposition (Seidman 1983) by SYNCHRONOUS peeling: each
    * round removes every node whose degree in the surviving UNDIRECTED
    * graph (direction and duplicates collapse, self-loops drop) is < k;
    * the k-core is the maximal subgraph where every node keeps ≥ k
    * neighbors — the link-graph quality/spam filter ("drop pages that
    * survive only via low-connectivity tendrils") and the density
    * preprocessing step of community mining.
    *
    * Runs at most `maxIters` synchronous rounds with EARLY EXIT when a
    * round removes nothing; because peeling is monotone (removals only
    * ever cascade), a converged result is identical to running all
    * `maxIters` rounds — which is exactly what the oracle unrolls, so
    * parity holds whether or not the operator exits early. On a graph
    * needing more rounds the result is the documented "after maxIters
    * synchronous peels" partial peel (same as the oracle's).
    *
    * Output: surviving (node, degree) — degree within the core, ≥ k.
    *
    * Scale shape per round: one degree aggregation over surviving edges
    * (map-side partial) + two semi joins to drop edges of removed nodes;
    * the symmetric edge list ([[undirected]]) is checkpointed once, and
    * every round's survivor frame is checkpointed by the count that tests
    * convergence.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIters: Int = 16): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(maxIters >= 1, s"maxIters must be >= 1 (got $maxIters)")
    val rounds = new RoundCheckpoints(edges.sparkSession, None)
    try {
      // the undirected simple graph, built once: self-loops drop here
      val e0 = rounds.materializeNow(undirected(edges
        .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))))
      var alive = e0
      var lastCount = -1L
      var i = 0
      var converged = false
      while (i < maxIters && !converged) {
        val deg = alive.groupBy("src").agg(count(lit(1)).as("__d"))
        val keep = deg.filter(col("__d") >= k).select(col("src").as("__keep"))
        val plan = alive
          .join(keep, alive("src") === col("__keep"), "left_semi")
          .join(keep.select(col("__keep").as("__keep2")),
            alive("dst") === col("__keep2"), "left_semi")
        // one action per round: the count that drives convergence IS the
        // materializing action for the lazy checkpoint (r12: the separate
        // materialize-then-recount paid one extra scheduler job per peel)
        val next = rounds.materialize(plan)
        val n = next.count()
        rounds.releaseSuperseded()
        converged = n == lastCount
        lastCount = n
        alive = next
        i += 1
      }
      // the result reads the last round's checkpoint, never e0
      alive.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    } finally rounds.release()
  }

  /** The undirected simple-graph setup of [[kCore]] and
    * [[Dedup.connectedComponents]]: both directions of every `(src, dst)`
    * row, deduped behind ONE hash(src) exchange (it already clusters
    * (src, dst)) — one scan of the caller's plan, narrow (long, long)
    * rows. Self-loops and nulls stay; a caller that drops them filters
    * first.
    */
  private[operators] def undirected(e: DataFrame): DataFrame =
    e.select(explode(array(struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select("e.*")
      .repartition(col("src"))
      .distinct()

  /** HITS hubs & authorities (Kleinberg, JACM 1999): the DIRECTED
    * complement of [[pageRank]] — a node is a good AUTHORITY when good
    * hubs point at it and a good HUB when it points at good
    * authorities; the mutual-reinforcement ranking behind "which
    * suppliers do the big buyers concentrate on" / link-directory
    * curation, where PageRank's single score conflates the two roles.
    *
    * FIXED-POINT INTEGER iteration, engine-replayable like the
    * pageRank family: per round, authority(v) = Σ hub(u) over in-edges
    * then hub(u) = Σ authority(v) over out-edges, each phase
    * max-normalized back to `scale` by one decimal floor division
    * (⌊s·scale ÷ max(s)⌋ — HITS' usual L2 norm is not bit-stable
    * cross-engine, sup-norm is, and the fixed point is the same
    * principal eigenvector direction). Fixed `iters` rounds, long sums
    * (order-free), so any engine replays every score bit-for-bit.
    * Nodes with no in-edges score authority 0, no out-edges hub 0.
    *
    * Plan shape: the [[pageRank]] setup ([[adjacency]]: one exchange,
    * edges and nodes are filters of one checkpoint); each phase is ONE
    * equi-join of the O(nodes) score frame with the edges + a
    * partial-aggregated groupBy, with the phase max as a broadcast
    * single row — never a literal, which would make every phase's plan
    * new code (r12: fewer jobs, slower). A phase's plan reads its raw
    * sum twice (stream + max), so every phase is a lazy checkpoint
    * ([[RoundCheckpoints.materialize]]) that keeps the plan from
    * doubling; nothing is stored until the count that builds the
    * result, whose cascade computes each phase once. The result is the
    * one frame a call leaves cached. Overflow bound: max-degree · scale
    * · scale < 2^63 is avoided entirely — the normalization multiply
    * runs in decimal(38,0).
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 8, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    require(scale >= 1, s"scale must be >= 1 (got $scale)")
    val rounds = new RoundCheckpoints(edges.sparkSession, None)
    try {
      val adj = rounds.materializeNow(adjacency(edges, srcCol, dstCol).select("node", "nbr"))
      val e = adj.where(col("nbr").isNotNull).select(col("node").as("src"), col("nbr").as("dst"))
      val nodes = adj.where(col("nbr").isNull).select("node")
      def normalized(rawPlan: DataFrame): DataFrame = rounds.materialize(
        rawPlan.crossJoin(broadcast(rawPlan.agg(max(col("s")).as("__m"))))
          .select(col("node"), expr(
            s"CAST((CAST(s AS decimal(38,0)) * $scale) div __m AS long)").as("v")))
      var h = nodes.select(col("node"), lit(scale).as("v"))
      var a: DataFrame = null
      var i = 0
      while (i < iters) {
        a = normalized(
          e.join(h.withColumnRenamed("node", "src"), Seq("src"))
            .groupBy(col("dst").as("node")).agg(sum(col("v")).as("s")))
        h = normalized(
          e.join(a.withColumnRenamed("node", "dst"), Seq("dst"))
            .groupBy(col("src").as("node")).agg(sum(col("v")).as("s")))
        i += 1
      }
      val out = rounds.materialize(nodes
        .join(a.withColumnRenamed("v", "authority_e6"), Seq("node"), "left")
        .join(h.withColumnRenamed("v", "hub_e6"), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("authority_e6"), lit(0L)).as("authority_e6"),
          coalesce(col("hub_e6"), lit(0L)).as("hub_e6")))
      out.count() // builds every phase; release() keeps this newest round
      out
    } finally rounds.release()
  }

  /** MULTI-SOURCE SHORTEST PATHS (Bellman-Ford relaxation): the exact
    * distance from the NEAREST source to every reachable node over
    * DIRECTED edges with non-negative integer weights — "how far is
    * every account from a known-bad seed", k-hop reachability (unit
    * weights), nearest-facility assignment. The contract is
    * FIXED-HORIZON: the result is the exact shortest distance among
    * paths of at most `maxIters` EDGES — deterministic, and any engine
    * replays it by unrolling the relaxation rounds (the pageRank
    * convention). When the graph's shortest-path tree is shallower than
    * the horizon the loop EXITS EARLY on the first no-improvement round
    * and the result is plain shortest distance.
    *
    * Integer semantics:
    *  - weight = `weightCol` cast to long; NEGATIVE weights are refused
    *    loudly (one aggregate over the built edge list — Bellman-Ford
    *    under negative cycles has no shortest paths); parallel (src,
    *    dst) edges collapse to their MIN weight; no weightCol means unit
    *    weights, i.e. dist = hop count.
    *  - dist_0(s) = 0 for every distinct source id (a source absent
    *    from the edge list still scores 0 — the pure-seed PPR
    *    convention); unreachable nodes are ABSENT from the output.
    *  - dist_{k+1}(v) = min(dist_k(v), min_{u→v}(dist_k(u) + w(u,v))).
    *
    * Scale shape (the connectedComponents pattern): the min-collapsed
    * edge list (a cache, which every round joins:
    * [[RoundCheckpoints.cacheNow]]) and the source frame are built
    * once; each round joins only the FRONTIER — nodes whose distance
    * improved last round — against the edges (delta relaxation is
    * exactly equivalent to full relaxation round-for-round: an
    * unchanged node's contribution was already applied when it last
    * changed, and distances only decrease). Past the wavefront, rounds touch the fringe, not the
    * graph. Every round is checkpointed (unlike pageRank's interval):
    * dist and frontier both read each round's frame, so untruncated
    * lineage doubles per round; the count of the frontier, which drives
    * the early exit, builds it. Overflow bound: maxIters · max(w) <
    * 2^63.
    *
    * Returns `(node, dist)`.
    */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, sourceCol: String,
      weightCol: Option[String] = None, maxIters: Int = 20): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1 (got $maxIters)")
    val w = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val rounds = new RoundCheckpoints(edges.sparkSession, None)
    try {
      val e = rounds.cacheNow(edges
        .select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"), w.as("w"))
        .where(col("src").isNotNull && col("dst").isNotNull && col("w").isNotNull)
        .groupBy("src", "dst").agg(min(col("w")).as("w")))
      val minW = e.agg(min(col("w"))).head()
      if (!minW.isNullAt(0))
        require(minW.getLong(0) >= 0L,
          s"shortestPaths: negative edge weight ${minW.getLong(0)} refused")
      var dist = rounds.materializeNow(sources
        .select(col(sourceCol).cast("long").as("node"))
        .where(col("node").isNotNull).distinct()
        .withColumn("dist", lit(0L)))
      var frontier = dist
      var k = 0
      var done = false
      while (k < maxIters && !done) {
        val relaxed = e
          .join(frontier.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), (col("dist") + col("w")).as("nd"))
          .groupBy("node").agg(min(col("nd")).as("nd"))
        val next = rounds.materialize(dist.join(relaxed, Seq("node"), "full_outer")
          .select(col("node"),
            least(col("dist"), col("nd")).as("dist"),
            (col("dist").isNull ||
              (col("nd").isNotNull && col("nd") < col("dist")))
              .as("__changed")))
        val changed = next.filter(col("__changed")).count() // builds next
        rounds.releaseSuperseded()
        dist = next.drop("__changed")
        frontier = next.filter(col("__changed")).drop("__changed")
        done = changed == 0
        k += 1
      }
      dist
    } finally rounds.release()
  }

  /** LINK PREDICTION by common-neighborhood scoring (Liben-Nowell &
    * Kleinberg, CIKM 2003): for every non-adjacent pair at distance 2
    * in the UNDIRECTED simple graph (direction and duplicates collapse,
    * self-loops drop), three classic scores —
    *  - `cn`: the common-neighbor count;
    *  - `jaccard_e6` = cn·10⁶ div (deg_u + deg_v − cn), the
    *    neighborhood-overlap ratio;
    *  - `aa_e6`: Adamic-Adar Σ_w 1/log₂(deg_w) over common neighbors
    *    w, each term the EXACT integer 2²⁰·10⁶ div ilog2Fp(deg_w) (the
    *    retrievalMetrics DCG-discount recipe — no libm, both engines
    *    replay the 20-step recurrence bit-identically; a wedge center
    *    has deg ≥ 2, so the term is always defined).
    * All integer, one truncating division each — engine-exact.
    *
    * Scale shape: wedges are ONE self-equi-join of the adjacency on the
    * center node, grouped on the endpoint pair — Σ deg(w)² candidates,
    * the inherent cost of distance-2 enumeration, BOUNDED by dropping
    * wedge CENTERS with degree > `maxDegree` whole (the soundexJoin
    * hot-block convention: a hub's quadratic neighborhood priced out
    * loudly as a documented recall trade — its AA contribution
    * 1/log₂(deg) is the smallest anyway); `minCommon` prunes the long
    * tail before the degree joins. Anti-join drops existing edges.
    *
    * Returns (u, v, cn, deg_u, deg_v, jaccard_e6, aa_e6), u < v —
    * non-adjacent pairs only; degrees are FULL undirected degrees (the
    * cap limits which centers generate wedges, never the degree math).
    */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Long = 1000L, minCommon: Long = 1L): DataFrame = {
    require(maxDegree >= 2, s"linkPrediction: maxDegree must be >= 2 (got $maxDegree)")
    require(minCommon >= 1, s"linkPrediction: minCommon must be >= 1 (got $minCommon)")
    // persisted before the symmetrizing union: the two arms would re-run
    // the caller plan's post-exchange compute twice
    val und = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // sym feeds the wedge arms, the existing-edge anti-join and the two
    // degree joins; deg feeds the cap filter and both endpoint degrees;
    // kept feeds both wedge arms — WITHOUT the caches the lazy plan
    // recomputes the symmetrize+distinct FOUR times per action (62
    // Exchange nodes at sf0.1; r12 plan audit). Caches are reclaimed by
    // the ContextCleaner once the caller's result drops the reference
    // (the triangleCounts convention — an eager unpersist here would run
    // before the caller's action). The kept cache also pins the wedge
    // self-join's parallelism to the cache's partition count: both arms
    // read hash(a)-partitioned cached rows, so the CPU-dense wedge
    // explosion (Σ deg(w)² rows) runs one task per cached partition
    // instead of inside a byte-coalesced 1-2-task AQE read.
    val sym = und.unionByName(und.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = sym.groupBy("a").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = sym.join(deg.where(col("deg") <= maxDegree), "a")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scored = kept
      .select(col("a").as("w"), col("b").as("u"),
        graft.functions.GraftFunctions.ilog2FpCol(col("deg")).as("__l"))
      .join(kept.select(col("a").as("w"), col("b").as("v")), "w")
      .where(col("u") < col("v"))
      .withColumn("__aa", expr("1048576000000 div __l"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("cn"), sum("__aa").as("aa_e6"))
      .where(col("cn") >= minCommon)
      .join(sym.select(col("a").as("u"), col("b").as("v")), Seq("u", "v"),
        "left_anti")
    scored
      .join(deg.select(col("a").as("u"), col("deg").as("deg_u")), "u")
      .join(deg.select(col("a").as("v"), col("deg").as("deg_v")), "v")
      .withColumn("jaccard_e6",
        expr("cn * 1000000L div (deg_u + deg_v - cn)"))
      .select("u", "v", "cn", "deg_u", "deg_v", "jaccard_e6", "aa_e6")
  }
}

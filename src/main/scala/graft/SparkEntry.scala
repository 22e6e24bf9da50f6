package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.{Dedup, ModelStore, Multimodal, Relational, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory each
  * query key maps to. Every oracle-checked query:
  *   - aliases every computed column identically in Spark and DuckDB SQL,
  *   - casts double aggregates to decimal (exact, order-independent),
  *   - ends with a total ORDER BY (explicit NULLS FIRST on nullable keys),
  *   - avoids raw timestamps in output (cast to date/string).
  */
object SparkEntry {

  private def wh(s: SparkSession, dir: String) = Warehouse(s, dir)

  /** Memoized exact-jaccard ground truth for the RECALL CONTRACT rows:
    * `ngramJaccard(documents, n=3, threshold=0.7)` with the given
    * shingler. Two contract pairs recompute the identical pass —
    * (q_minhash_recall, q_simhash_recall) share the word-trigram truth
    * and (q_wminhash_recall, q_simhash_weighted_recall) the word_tf one —
    * so it is computed ONCE per (session, dir, shingler) and served from
    * Spark's block cache after that (r8 verdict item 6: ~18% of the
    * bench was duplicated ground truth). Only the contracts' shared
    * REFERENCE truth is memoized; the finder under test, and the
    * headline operator rows (q_dedup_jaccard / q_dedup_wjaccard), run
    * uncached every time. Keyed by session identity so a cached plan
    * never outlives its session.
    */
  private val gtCaches =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[(String, String, Long), DataFrame]]()
  // Weak session key: a stopped-and-collected session releases its cached
  // plans instead of pinning them (and an identity hash reused by a new
  // session object can never serve a dead session's plan). The dir's
  // write epoch rides in the key, so a rewrite of the warehouse tables
  // within a session invalidates the memo like any registered view.
  private def gtCached(s: SparkSession, dir: String, tag: String)(
      build: => DataFrame): DataFrame = gtCaches.synchronized {
    val perSession = gtCaches.computeIfAbsent(s,
      _ => scala.collection.mutable.Map.empty)
    perSession.getOrElseUpdate((dir, tag, Warehouse.epochOf(dir).get()),
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }
  private def exactPairsGroundTruth(
      s: SparkSession, dir: String, shingler: String): DataFrame =
    gtCached(s, dir, s"pairs:$shingler") {
      Dedup.ngramJaccard(wh(s, dir).loadTable("documents"), "doc_id",
          "text", n = 3, threshold = 0.7, shingler = shingler)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    }

  /** Memoized exact top-2 over the planted ANN corpus — the shared
    * reference truth of q_ivf_recall / q_ivfpq_recall / q_lsh_topk_recall
    * (q_pq_recall's corpus is unplanted and stays standalone). Same
    * contract-only scope and session-keying as [[exactPairsGroundTruth]].
    */
  private def plantedTop2GroundTruth(s: SparkSession, dir: String): DataFrame =
    gtCached(s, dir, "plantedTop2") {
      val emb = wh(s, dir).loadTable("embeddings")
      Similarity.bruteForceTopK(planted2Clones(emb), "vec_id", "embedding",
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }

  /** Per-process scratch dir for contract rows that materialize to disk:
    * keyed by the input dir AND the JVM pid, so two concurrent runs
    * against the same sfDir (e.g. Bench and Verify) never overwrite each
    * other's files mid-read (r6 ADVICE). Within one process reuse is
    * safe — every write is mode=overwrite and rows run sequentially.
    * Every dir handed out is deleted by a JVM shutdown hook, so repeated
    * Bench/Verify processes don't accumulate dead graft_* trees in
    * java.io.tmpdir (r7 ADVICE).
    */
  private lazy val pidToken: String =
    java.lang.Long.toHexString(ProcessHandle.current().pid())
  private val scratchDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val scratchHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach { d =>
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(d))
      }))
  private def scratch(prefix: String, dir: String): String = {
    scratchHook
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_${prefix}_${
      java.lang.Integer.toHexString(dir.hashCode)}_$pidToken"
    scratchDirs.add(p)
    p
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q1(spark, "/root/testdata/sf0.001")

  // ---- §2.1 relational core -------------------------------------------

  /** Money columns are clean 2-decimal doubles, so the double→decimal cast
    * of an *input* is unambiguous in every engine; all arithmetic after the
    * cast is exact decimal (identical digits in Spark and DuckDB). Never
    * cast a computed double (product/sum) to decimal — HALF_UP vs HALF_EVEN
    * tie-rounding differs across engines. Final explicit casts pin the
    * output decimal type to (38,s) on both sides.
    */
  private def decMoney(c: Column): Column = c.cast("decimal(12,2)")

  /** (1 - l_discount) * l_extendedprice computed decimal-first (exact). */
  private def discPrice: Column =
    decMoney(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") - decMoney(col("l_discount")))

  /** Money column in integer cents (exact: inputs are clean 2-decimal
    * doubles, so round(x*100) is the unambiguous integer in every engine).
    * Unlike decimal(38,x), the bigint output type survives every
    * parquet→pandas→hash normalization path identically in Spark and
    * DuckDB. Queries whose gate row went hash-red on wide decimals emit
    * cents (÷100 semantics documented per column).
    *
    * Overflow headroom: plain-cents sums are safe to ~9e16 dollars per
    * group — beyond any group at 100 TB. The e4-unit PRODUCT sums
    * ([[discPriceE4]]) carry 100× less headroom (~9e14 dollars/group):
    * ample at every tested SF, but a true 100 TB deployment aggregating
    * trillions of rows into a handful of groups would emit these as
    * decimal/string instead — the bigint form is the cross-engine
    * hash-gate contract, not a universal-scale money type.
    */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** extendedprice*(1-discount) in 10^-4 dollar units, pure long math. */
  private def discPriceE4: Column =
    cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))

  /** TPC-H Q1-style pricing summary: partial-agg heavy, 2 group keys.
    * All money sums emitted as bigint (cents / 1e-4 dollars) — exact and
    * hash-stable at the driver's normalization.
    */
  private def q1(s: SparkSession, dir: String): DataFrame = {
    val l = wh(s, dir).loadTable("lineitem")
    l.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty_cents"),
        sum(cents(col("l_extendedprice"))).as("sum_base_price_cents"),
        sum(discPriceE4).as("sum_disc_price_e4"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")
  }

  private def q3(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val c = w.loadTable("customer").filter(col("c_mktsegment") === "BUILDING")
    val o = w.loadTable("orders").filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
    val l = w.loadTable("lineitem").filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
    // customer scales with SF — no forced broadcast (an explicit hint would
    // override autoBroadcastJoinThreshold and OOM executors at 100×); AQE +
    // the 64 MB threshold pick the strategy. orders⋈lineitem shuffles on the
    // shared orderkey only once.
    c.select("c_custkey")
      .join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"))
      .agg(sum(discPrice).cast("decimal(38,4)").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  private def q5(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val r = w.loadTable("region").filter(col("r_name") === "ASIA")
    val n = w.loadTable("nation")
    val c = w.loadTable("customer")
    val sup = w.loadTable("supplier")
    val o = w.loadTable("orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = w.loadTable("lineitem")
    // Only fixed-cardinality dims (region 5, nation 25) get broadcast hints;
    // customer/supplier scale with SF, so their join strategy is left to
    // AQE + autoBroadcastJoinThreshold (a forced hint would OOM at 100×).
    // The only repartition exchanges are on orderkey (orders⋈lineitem) and
    // the final group key.
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(sup,
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(discPrice).cast("decimal(38,4)").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q10-style: revenue lost to returned items per customer in one
    * quarter, top 20. Fact-fact join shuffles once on orderkey; customer
    * join strategy left to AQE (SF-scaling side); nation broadcast.
    */
  private def q10(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val o = w.loadTable("orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val l = w.loadTable("lineitem").filter(col("l_returnflag") === "R")
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .join(w.loadTable("customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(wh(s, dir).loadTable("nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(discPriceE4).as("revenue_e4"))
      .orderBy(col("revenue_e4").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q18-style: customers with any single order above a quantity
    * threshold — groupBy + having on the fact table, then a semi-style
    * join back. Both aggregations partial-agg map-side.
    */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val l = w.loadTable("lineitem")
    val big = l.groupBy("l_orderkey")
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_cents"))
      .filter(col("sum_qty_cents") > 21200L)
      .select(col("l_orderkey").as("o_orderkey"), col("sum_qty_cents"))
    w.loadTable("orders").join(big, "o_orderkey")
      .join(w.loadTable("customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("sum_qty_cents"))
      .orderBy(col("sum_qty_cents").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q14-style: revenue by part type for one year — exercises the
    * part dimension (partkey equi-join; AQE picks the strategy since part
    * scales with SF).
    */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val l = w.loadTable("lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    l.join(w.loadTable("part"), col("l_partkey") === col("p_partkey"))
      .groupBy("p_type")
      .agg(sum(discPrice).cast("decimal(38,4)").as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("p_type")
  }

  /** Semi-structured JSON column: extract a field, aggregate per type —
    * the warehouse JSON-path staple (get_json_object is codegen'd).
    */
  private def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    wh(s, dir).loadTable("events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        count(when(col("k") > 50, 1)).as("n_high"))
      .orderBy("event_type")

  private def qFilter(s: SparkSession, dir: String): DataFrame =
    wh(s, dir).loadTable("lineitem")
      .filter(col("l_quantity") > 45.0 && col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
      .orderBy("l_orderkey", "l_linenumber")

  private def qJoinInner(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val n = Relational.rename(w.loadTable("nation"), Map("n_nationkey" -> "c_nationkey"))
    Relational.join(w.loadTable("customer"), broadcast(n), "inner", Seq("c_nationkey"))
      .select("c_custkey", "c_name", "n_name")
      .orderBy("c_custkey")
  }

  private def qJoinLeft(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val o = Relational.rename(w.loadTable("orders"), Map("o_custkey" -> "c_custkey"))
    Relational.join(w.loadTable("customer"), o, "left", Seq("c_custkey"))
      .select(col("c_custkey"), col("o_orderkey"))
      .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
  }

  private def qJoinRight(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val c = Relational.rename(w.loadTable("customer"), Map("c_custkey" -> "o_custkey"))
    Relational.join(c, w.loadTable("orders"), "right", Seq("o_custkey"))
      .select(col("o_custkey"), col("o_orderkey"), col("c_name"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private def qJoinFull(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    // full outer over disjoint-ish key sets: supplier vs customer nation counts
    val a = w.loadTable("customer").groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val b = w.loadTable("supplier").groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    Relational.join(a, b, "full", Seq("nationkey"))
      .orderBy(col("nationkey").asc_nulls_first)
  }

  private def qJoinCross(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    Relational.join(w.loadTable("region"), w.loadTable("nation"), "cross", Nil)
      .select("r_regionkey", "r_name", "n_nationkey", "n_name")
      .orderBy("r_regionkey", "n_nationkey")
  }

  private def qJoinSemi(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val o = Relational.rename(w.loadTable("orders")
      .filter(col("o_totalprice") > 150000.0), Map("o_custkey" -> "c_custkey"))
    Relational.join(w.loadTable("customer"), o, "semi", Seq("c_custkey"))
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  private def qJoinAnti(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val o = Relational.rename(w.loadTable("orders")
      .filter(col("o_totalprice") > 200000.0), Map("o_custkey" -> "c_custkey"))
    Relational.join(w.loadTable("customer"), o, "anti", Seq("c_custkey"))
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  private def qUnionAll(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val a = w.loadTable("customer").select(col("c_nationkey").cast("int").as("nk"))
    val b = w.loadTable("supplier").select(col("s_nationkey").cast("int").as("nk"))
    Relational.unionAll(Seq(a, b)).orderBy("nk")
  }

  private def qUnionDistinct(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val a = w.loadTable("customer").select(col("c_nationkey").cast("int").as("nk"))
    val b = w.loadTable("supplier").select(col("s_nationkey").cast("int").as("nk"))
    Relational.unionDistinct(Seq(a, b)).orderBy("nk")
  }

  private def qIntersect(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val a = w.loadTable("customer").select(col("c_nationkey").cast("int").as("nk"))
    val b = w.loadTable("supplier").select(col("s_nationkey").cast("int").as("nk"))
    Relational.intersect(a, b).orderBy("nk")
  }

  private def qExcept(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val a = w.loadTable("orders").select(col("o_custkey").as("ck"))
    val b = w.loadTable("orders").filter(col("o_totalprice") > 150000.0)
      .select(col("o_custkey").as("ck"))
    Relational.subtract(a, b).orderBy("ck")
  }

  private def qDistinct(s: SparkSession, dir: String): DataFrame =
    Relational.distinct(
      wh(s, dir).loadTable("customer").select("c_nationkey", "c_mktsegment"))
      .orderBy("c_nationkey", "c_mktsegment")

  private def qDropna(s: SparkSession, dir: String): DataFrame = {
    val c = wh(s, dir).loadTable("customer")
      .withColumn("bal", when(col("c_acctbal") < 0.0, lit(null)).otherwise(col("c_acctbal")))
    Relational.dropna(c, "any", Seq("bal"))
      .select("c_custkey", "bal")
      .orderBy("c_custkey")
  }

  private def qFillna(s: SparkSession, dir: String): DataFrame = {
    val c = wh(s, dir).loadTable("customer")
      .withColumn("bal", when(col("c_acctbal") < 0.0, lit(null)).otherwise(col("c_acctbal")))
    Relational.fillna(c, Map("bal" -> 0.0))
      .select("c_custkey", "bal")
      .orderBy("c_custkey")
  }

  private def qSampleFrac(s: SparkSession, dir: String): DataFrame =
    Relational.sampleFrac(wh(s, dir).loadTable("orders"), 0.1, seed = 42L)
      .select("o_orderkey")

  /** With-replacement (Poisson) sample — rows-only: deterministic within
    * Spark under the seed, but no cross-engine oracle exists for the RNG.
    */
  private def qSampleReplace(s: SparkSession, dir: String): DataFrame =
    Relational.sampleFrac(wh(s, dir).loadTable("orders"), 0.1, seed = 42L, replace = true)
      .select("o_orderkey")

  /** sample(frac, replace=true) contract, oracle-checked: the drawn keys
    * themselves are cross-engine RNG (deliberately rows-only in
    * q_sample_replace), but the DISTRIBUTIONAL contract is checkable —
    * every drawn key exists in the source, replacement actually
    * replaces (some key drawn ≥ 2 times; Spark's with-replacement
    * sampler is per-row Poisson(frac), so multiplicity ≥ 2 keys are
    * expected at ~frac²/2 per row and the fixed seed pins the outcome),
    * and the total draw count sits within the 5σ Poisson band
    * |c − frac·n| ≤ 5·√(frac·n). DuckDB states the expected booleans
    * and recomputes n_source exactly — any violation breaks the hash.
    */
  private def qSampleReplaceContract(s: SparkSession, dir: String): DataFrame = {
    val orders = wh(s, dir).loadTable("orders").select("o_orderkey")
    val sampled = Relational.sampleFrac(orders, 0.1, seed = 42L, replace = true)
    val stats = sampled.groupBy("o_orderkey").agg(count(lit(1)).as("mult"))
      .agg(sum(col("mult")).as("n_sampled"), max(col("mult")).as("max_mult"))
    val src = orders.agg(count(lit(1)).as("n_source"))
    val bad = sampled.join(orders, Seq("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
    stats.crossJoin(src).crossJoin(bad).select(
      col("n_source"),
      (col("n_bad") === 0).as("all_from_source"),
      (col("max_mult") >= 2).as("has_replacement"),
      (abs(col("n_sampled") - lit(0.1) * col("n_source")) <=
        lit(5.0) * sqrt(lit(0.1) * col("n_source"))).as("count_in_band"))
  }

  /** sample(n) contract, oracle-checked: exactly n rows, all distinct, all
    * drawn from the source (left_semi back against orders). The constants
    * ARE the oracle — any violation (wrong count, duplicate draw, row not
    * from the source) breaks the hash. The sampled rows themselves are
    * additionally spec'd in WarehouseSpec.
    */
  private def qSampleN(s: SparkSession, dir: String): DataFrame = {
    val orders = wh(s, dir).loadTable("orders").select("o_orderkey")
    val sampled = Relational.sampleN(orders, 100, seed = 42L)
    val matched = sampled.join(orders, Seq("o_orderkey"), "left_semi")
    sampled
      .agg(count(lit(1)).as("n_sampled"), countDistinct(col("o_orderkey")).as("n_distinct"))
      .crossJoin(matched.agg(count(lit(1)).as("n_in_orders")))
  }

  private def qTakeOrdered(s: SparkSession, dir: String): DataFrame =
    Relational.take(wh(s, dir).loadTable("orders"), 15,
      Seq(col("o_totalprice").desc, col("o_orderkey")))
      .select("o_orderkey", "o_totalprice")

  private def qTakePerGroup(s: SparkSession, dir: String): DataFrame =
    Relational.take(wh(s, dir).loadTable("orders"), 2,
      Seq(col("o_totalprice").desc, col("o_orderkey")),
      partitionBy = Seq("o_orderpriority"))
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "o_orderkey")

  private def qHead(s: SparkSession, dir: String): DataFrame =
    wh(s, dir).loadTable("nation").orderBy("n_nationkey").limit(5)

  private def qWindowFuncs(s: SparkSession, dir: String): DataFrame = {
    val o = wh(s, dir).loadTable("orders")
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.select(
      col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
      rank().over(w).cast("long").as("price_rank"),
      lag("o_totalprice", 1).over(w).as("prev_price"),
      sum(cents(col("o_totalprice")))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("running_total_cents"))
      .filter(col("price_rank") <= 100)
      .orderBy("o_orderpriority", "price_rank")
  }

  private def qAggStats(s: SparkSession, dir: String): DataFrame =
    wh(s, dir).loadTable("lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        min(col("l_shipdate").cast("date")).as("first_ship"))
      .orderBy("l_returnflag")

  private def qAssign(s: SparkSession, dir: String): DataFrame =
    Relational.assign(
      wh(s, dir).loadTable("lineitem"),
      Seq(
        "disc_price" -> (col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
        "bulk" -> (col("l_quantity") > 25.0)))
      .select("l_orderkey", "l_linenumber", "disc_price", "bulk")
      .orderBy("l_orderkey", "l_linenumber")

  private def qAlterColumns(s: SparkSession, dir: String): DataFrame =
    Relational.alterColumns(
      wh(s, dir).loadTable("nation"),
      Map("n_nationkey" -> "bigint", "n_regionkey" -> "double"))
      .orderBy("n_nationkey")

  private def qRenameDrop(s: SparkSession, dir: String): DataFrame = {
    val sup = wh(s, dir).loadTable("supplier")
    Relational.dropColumns(
      Relational.rename(sup, Map("s_name" -> "supplier_name")),
      Seq("s_acctbal"))
      .orderBy("s_suppkey")
  }

  private def qSelectSql(s: SparkSession, dir: String): DataFrame =
    wh(s, dir).loadSql(
      """SELECT n_name, count(*) AS num_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)

  private def qLoadPushdown(s: SparkSession, dir: String): DataFrame =
    wh(s, dir).loadTable("lineitem",
      columns = Seq("l_orderkey", "l_linenumber", "l_quantity"),
      rowFilter = Some("l_quantity > 45.0"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Fugue `transform`/map_partitions: imperative per-partition logic —
    * cents-exact integer arithmetic so the SQL re-expression matches
    * exactly (money doubles are clean 2-decimal, so round() is
    * unambiguous in both engines).
    */
  private def qTransformMap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val in = wh(s, dir).loadTable("lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_quantity")
    val outSchema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("disc_price_cents", LongType), StructField("heavy", BooleanType)))
    Relational.transform(in, outSchema) { it =>
      it.map { r =>
        val cents = Math.round(r.getDouble(2) * 100) *
          (100L - Math.round(r.getDouble(3) * 100)) / 100L
        org.apache.spark.sql.Row(r.getLong(0), r.getInt(1), cents, r.getDouble(4) > 25.0)
      }
    }.orderBy("l_orderkey", "l_linenumber")
  }

  /** Fugue zip/comap: customers co-grouped with their orders; exact cents
    * accumulation keeps the result independent of iterator order.
    */
  private def qCogroup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val w = wh(s, dir)
    val c = w.loadTable("customer").select("c_custkey", "c_acctbal")
    val o = w.loadTable("orders").select("o_custkey", "o_totalprice")
    val outSchema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_acctbal_cents", LongType),
      StructField("n_orders", LongType), StructField("total_spent_cents", LongType)))
    Relational.cogroup(c, o, "c_custkey", "o_custkey", outSchema) { (k, cs, os) =>
      if (!cs.hasNext) Iterator.empty
      else {
        val acct = Math.round(cs.next().getDouble(1) * 100)
        var n = 0L
        var total = 0L
        os.foreach { r => n += 1; total += Math.round(r.getDouble(1) * 100) }
        Iterator.single(org.apache.spark.sql.Row(k, acct, n, total))
      }
    }.orderBy("c_custkey")
  }

  /** As-of join: each purchase event enriched with the user's most recent
    * click at-or-before it. Oracle is DuckDB's native ASOF LEFT JOIN.
    */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = wh(s, dir).loadTable("events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts", "value", "event_id")
    Relational.asofJoin(purchases, clicks, "user_id", "ts", Seq("value", "event_id"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("value_right").as("click_value"), col("event_id_right").as("click_event"))
      .orderBy("event_id")
  }

  /** Pivot with explicit values (no discovery pass); counts per order year
    * × priority. Oracle re-expresses as FILTER'd counts (portable and
    * bigint-typed in both engines).
    */
  private def qPivot(s: SparkSession, dir: String): DataFrame = {
    val pris = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val pivoted = Relational.pivot(
      wh(s, dir).loadTable("orders").withColumn("yr", year(col("o_orderdate"))),
      Seq("yr"), "o_orderpriority", pris, count(lit(1)))
    // Spark pivot yields NULL for absent (group, value) combinations; the
    // oracle's count(*) FILTER yields 0 — normalize so semantics match on
    // any data, not just data where every year has every priority.
    pivoted.select(col("yr") +: pris.map(p => coalesce(col(s"`$p`"), lit(0L)).as(p)): _*)
      .orderBy("yr")
  }

  private def qRollup(s: SparkSession, dir: String): DataFrame =
    Relational.rollup(wh(s, dir).loadTable("lineitem"),
        Seq("l_returnflag", "l_linestatus"),
        Seq(count(lit(1)).as("n"),
          sum(cents(col("l_quantity"))).as("sum_qty_cents")))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** GROUPING SETS (SURVEY row 54b): the explicit-sets sibling of
    * rollup/cube — (flag, status), (flag), (ship_year) in ONE Expand
    * pass ([[operators.Relational.groupingSets]]); the (ship_year) set
    * is NOT a rollup prefix, so neither rollup nor cube can express it.
    */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    Relational.groupingSets(
        wh(s, dir).loadTable("lineitem")
          .withColumn("ship_year", year(col("l_shipdate")).cast("long")),
        Seq(Seq("l_returnflag", "l_linestatus"), Seq("l_returnflag"),
          Seq("ship_year")),
        Seq(count(lit(1)).as("n"),
          sum(cents(col("l_quantity"))).as("sum_qty_cents")))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first,
        col("ship_year").asc_nulls_first)

  /** Explode / flatten: token frequency over the corpus (array explode →
    * groupBy; the shuffle key is the token, partial-agg map-side).
    */
  private def qExplode(s: SparkSession, dir: String): DataFrame =
    wh(s, dir).loadTable("documents")
      .select(explode(split(trim(col("text")), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)

  /** Approximate aggregates (HLL++ / quantile sketch): deterministic within
    * Spark but engine-specific — rows-only; accuracy is spec-bounded
    * against exact counts in StatsSpec.
    */
  private def qApproxStats(s: SparkSession, dir: String): DataFrame = {
    val l = wh(s, dir).loadTable("lineitem")
    graft.operators.Stats.approxDistinct(l, Seq("l_returnflag"), "l_orderkey")
      .join(graft.operators.Stats.summarize(l, Seq("l_returnflag"), "l_quantity"),
        "l_returnflag")
      .orderBy("l_returnflag")
  }

  /** HLL++ error bound, oracle-checked: the approximate distinct count per
    * group must land within 3×rsd of the exact count (HLL++ is
    * deterministic on given data, so the boolean is stable) — the oracle
    * recomputes the exact side and pins approx_ok to true.
    */
  private def qApproxBounds(s: SparkSession, dir: String): DataFrame =
    wh(s, dir).loadTable("lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_orderkey")).as("n_exact"),
        approx_count_distinct(col("l_orderkey"), 0.05).as("__approx"))
      .select(col("l_returnflag"), col("n_exact"),
        (abs(col("__approx") - col("n_exact")).cast("double") / col("n_exact") <= 0.15)
          .as("approx_ok"))
      .orderBy("l_returnflag")

  /** Incremental distinct via mergeable HLL sketches, oracle-checked: one
    * sketch per (day, type), merged to type, estimate within 10% of the
    * exact count (Datasketches HLL is deterministic on given data) — the
    * oracle recomputes the exact side and pins merged_ok to true. The
    * pattern this certifies: distinct-over-any-range from persisted
    * per-partition sketches, no raw rescan.
    */
  private def qSketchMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = wh(s, dir).loadTable("events").withColumn("day", to_date(col("ts")))
    val daily = graft.operators.Stats.sketchDistinct(ev, Seq("day", "event_type"), "user_id")
    val merged = graft.operators.Stats.mergeSketchDistinct(
      daily, Seq("event_type"), "sketch_user_id")
    ev.groupBy("event_type").agg(countDistinct(col("user_id")).as("n_exact"))
      .join(merged, "event_type")
      .select(col("event_type"), col("n_exact"),
        (abs(col("approx_distinct_merged") - col("n_exact")).cast("double") /
          col("n_exact") <= 0.1).as("merged_ok"))
      .orderBy("event_type")
  }

  /** Bucketed fact-fact join: both sides pre-bucketed on orderkey, so the
    * join runs with NO exchange on the join key (asserted in WarehouseSpec)
    * — the plan a nightly-bucketed 100 TB fact table buys every downstream
    * query. First call per (session, dir) pays a one-time bucketed write;
    * results are oracle-identical to the plain join.
    */
  private def qJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    // dir → collision-proof-in-practice table tag: the sanitized path keeps
    // names readable and distinct dirs distinct; the hash suffix covers
    // sanitization collisions ("/a-b" vs "/a_b")
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_").takeRight(40) +
      "_" + java.lang.Integer.toHexString(dir.hashCode)
    val (ot, lt) = (s"graft_bkt_${tag}_orders", s"graft_bkt_${tag}_lineitem")
    SparkEntry.bucketedReady.computeIfAbsent(s"${System.identityHashCode(s)}:$dir", { _ =>
      w.saveTableBucketed(
        w.loadTable("orders").select("o_orderkey", "o_orderpriority"), ot, 16, Seq("o_orderkey"))
      w.saveTableBucketed(
        w.loadTable("lineitem").select(col("l_orderkey").as("o_orderkey"),
          col("l_extendedprice"), col("l_discount")), lt, 16, Seq("o_orderkey"))
      java.lang.Boolean.TRUE
    })
    s.table(ot).join(s.table(lt), "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(sum(discPriceE4).as("revenue_e4"), count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  private val bucketedReady =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Streaming row 50's batch re-expression: tumbling 1h windows (window
    * starts align to the epoch in both engines).
    */
  private def qEventsWindow(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Events.windowedAggBatch(wh(s, dir).loadTable("events"))
      .orderBy("window_start", "event_type")

  /** Streaming row 52b's batch re-expression: purchases enriched with the
    * same user's clicks from the preceding 30 minutes (interval join,
    * epoch-micro arithmetic; DuckDB replays the range join directly).
    */
  private def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = wh(s, dir).loadTable("events")
    graft.streaming.Events.intervalJoinBatch(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"))
      .orderBy("l_id", "r_id")
  }

  /** Streaming row 51's batch re-expression: 30-minute-gap sessions,
    * microsecond-integer arithmetic end-to-end.
    */
  private def qEventsSessions(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Events.sessionizeBatch(wh(s, dir).loadTable("events"))
      .select("user_id", "session_idx", "n_events", "start_us", "end_us", "duration_us")
      .orderBy("user_id", "session_idx")

  /** NATIVE session_window sessionization (SURVEY row 51b): Spark's own
    * merging-session-state operator, output-contract-identical to
    * [[graft.streaming.Events.sessionizeBatch]] — shares q_events_sessions'
    * oracle, so any semantic gap between the two forms goes red.
    */
  private def qSessionsNative(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Events.sessionizeNative(wh(s, dir).loadTable("events"))
      .orderBy("user_id", "session_idx")

  // ---- §2.3 LLM-pipeline (first slice) --------------------------------

  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(wh(s, dir).loadTable("documents"), "doc_id", "text")
      .orderBy("h")

  /** MinHash+LSH banding near-dup pairs; the corpus has ~25 planted pairs
    * at trigram jaccard ≥ 0.9 with everything else < 0.1, so threshold 0.5
    * separates cleanly. Seeded → deterministic; rows-only check + spec.
    */
  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame = {
    Dedup.minhashLsh(wh(s, dir).loadTable("documents"), "doc_id", "text",
        shingleWidth = 3, numPerms = 128, bands = 32, threshold = 0.5)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("est_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** maxHamming=3 (16-bit blocks): the non-saturating operating point per
    * the sizing law in Dedup.simhash — 8-bit blocks (maxHamming=7) measure
    * 10× slower at 50k docs and degrade to silent recall loss at scale.
    */
  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    Dedup.simhash(wh(s, dir).loadTable("documents"), "doc_id", "text",
        shingleWidth = 3, maxHamming = 3)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** TF-weighted simhash near-dups — rows-only: deterministic (seedless
    * FNV hashing), grounded by the weighted spec in DedupSpec.
    */
  private def qDedupSimhashWeighted(s: SparkSession, dir: String): DataFrame = {
    Dedup.simhash(wh(s, dir).loadTable("documents"), "doc_id", "text",
        shingleWidth = 3, maxHamming = 3, weighted = true)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash RECALL, oracle-checked: every pair with EXACT trigram
    * jaccard ≥ 0.7 (recomputed all-pairs by DuckDB — the
    * [[qMinhashRecall]] ground truth) must be surfaced by the simhash
    * pass at hamming radius 14. The radius is measured, not guessed: on
    * the driver corpora the worst j ≥ 0.7 pair sits at hamming 12
    * (sf0.1; 9 at sf0.001, 8 at sf0.01), and 64-bit simhash concentrates
    * hamming ≈ 32·(1-sim) with σ ≈ 4, so 14 carries ~2σ of margin while
    * the block decomposition stays pigeonhole-EXACT for the radius: the
    * 15 blocks are a DISJOINT variable-width partition of the 64 bits
    * (4×5-bit + 11×4-bit — [[Dedup.pigeonholeBlocks]]), so any pair
    * within hamming 14 shares a whole block verbatim. The headline
    * operator row (q_dedup_simhash) keeps the production radius 3; this
    * contract row buys the wide radius's bucket flooding (16/32-value
    * blocks) only at test scale, where it is cheap.
    */
  private def qSimhashRecall(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val exact = exactPairsGroundTruth(s, dir, "word")
    val found = Dedup.simhash(docs, "doc_id", "text",
        shingleWidth = 3, maxHamming = 14)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), lit(true).as("__hit"))
    exact.join(found, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("__hit"), lit(false)).as("found_by_simhash"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash RECALL, oracle-checked: every pair with EXACT trigram
    * jaccard ≥ 0.7 (recomputed all-pairs by DuckDB) must be found by the
    * est ≥ 0.5 minhash pass. Two miss terms, both tiny and both FROZEN by
    * the seeded hashing: the estimator (0.2 margin ≈ 5 standard errors of
    * 128 perms) and LSH banding (a j=0.7 pair misses all 32 4-row bands
    * with prob (1-0.7⁴)³² ≈ 1.5e-4). Deterministic on given data — a
    * regenerated corpus re-rolls the banding lottery, so if this row ever
    * goes red after a data refresh, suspect a band miss before a bug.
    */
  private def qMinhashRecall(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val exact = exactPairsGroundTruth(s, dir, "word")
    val found = Dedup.minhashLsh(docs, "doc_id", "text",
        shingleWidth = 3, numPerms = 128, bands = 32, threshold = 0.5)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), lit(true).as("__hit"))
    exact.join(found, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("__hit"), lit(false)).as("found_by_minhash"))
      .orderBy("doc_a", "doc_b")
  }

  /** INCREMENTAL minhash recall, oracle-checked: every 25th document
    * spawns a suffix-edited clone as the "arriving batch"; the batch is
    * deduped against the SIGNATURE STORE of the historical corpus
    * ([[Dedup.minhashLshIncremental]] — old-vs-old pairs never
    * generated), and every DuckDB-exact jaccard ≥ 0.7 pair involving a
    * new doc must be found at est ≥ 0.5 (same 5σ margin as
    * [[qMinhashRecall]]).
    */
  private def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents").select("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" clone edit")).as("text"))
    val store = Dedup.minhashSignatures(docs, "doc_id", "text",
      shingleWidth = 3, numPerms = 128, seed = 42L)
    val found = Dedup.minhashLshIncremental(batch, "doc_id", "text", store,
        shingleWidth = 3, numPerms = 128, bands = 32, threshold = 0.5)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), lit(true).as("__hit"))
    val exact = Dedup.ngramJaccard(docs.unionByName(batch), "doc_id", "text",
        n = 3, threshold = 0.7)
      .filter(col("id_a") >= 1000000L || col("id_b") >= 1000000L)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    exact.join(found, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("__hit"), lit(false)).as("found_incremental"))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram jaccard (prefix-filtered) — fully oracle-checked: the
    * DuckDB side recomputes the same trigram sets all-pairs; prefix
    * filtering is exact for jaccard ≥ τ, so results must agree bit-for-bit
    * (int/int division of identical exact counts).
    */
  private def qDedupJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(wh(s, dir).loadTable("documents"), "doc_id", "text",
        n = 3, threshold = 0.7)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** Duplicate-cluster decision, oracle-checked: trigram-jaccard ≥ 0.7
    * pairs → connected components (min-id canonical per cluster) → every
    * document labeled (cluster_id, keep). DuckDB recomputes the same pair
    * set all-pairs and resolves components with a RECURSIVE transitive
    * closure — pair transitivity (a~b, b~c, a≁c) must collapse to ONE
    * cluster on both engines, bit-exact.
    */
  private def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.7)
    Dedup.dedupByClusters(docs.select(col("doc_id")), "doc_id", pairs)
      .select(col("doc_id"), col("cluster_id"), col("keep"))
      .orderBy("doc_id")
  }

  /** Leakage-safe split (SURVEY row 38k): same near-dup graph as
    * q_dedup_clusters, but the output is a train/dev/test FOLD that is a
    * pure md5 function of the cluster id — a doc and its near-duplicate
    * can never straddle the train/test line. Weights 8/1/1 in ppm
    * thresholds, all integer; the oracle replays CC recursively, then
    * the md5-mod-10⁶ draw and the threshold CASE bit-exactly
    * ([[operators.Dedup.splitByCluster]]).
    */
  private def qSplitByCluster(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.7)
    Dedup.splitByCluster(docs.select(col("doc_id")), "doc_id", pairs,
        weights = Seq(8, 1, 1))
      .select(col("doc_id"), col("cluster_id"), col("keep"),
        col("fold").cast("long").as("fold"))
      .orderBy("doc_id")
  }

  /** Quality-aware cluster resolution (SURVEY row 38j): same near-dup
    * graph as q_dedup_clusters, but each cluster keeps its LONGEST
    * member (n_chars score, tie-break min doc_id) — the keep-best
    * policy. The oracle reuses the recursive-CC replay and elects with
    * a (score desc, id) window ([[operators.Dedup.dedupByClustersKeepBest]]).
    */
  private def qDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.7)
    Dedup.dedupByClustersKeepBest(
        docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars", pairs)
      .select(col("doc_id"), col("cluster_id"), col("keeper_id"), col("keep"))
      .orderBy("doc_id")
  }

  /** Exact TF-WEIGHTED n-gram jaccard (Σmin/Σmax), oracle-checked: the
    * occurrence-expansion reduction ([[graft.functions.Kernels.wordNgramHashesTf]])
    * makes the PPJoin pipeline compute the weighted coefficient exactly;
    * DuckDB recomputes it all-pairs from per-gram term frequencies. Both
    * sides divide identical exact ints — bit-identical doubles.
    */
  private def qDedupWjaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(wh(s, dir).loadTable("documents"), "doc_id", "text",
        n = 3, threshold = 0.7, shingler = "word_tf")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("jaccard").as("wjaccard"))
      .orderBy("doc_a", "doc_b")

  /** Weighted-MinHash RECALL, oracle-checked like [[qMinhashRecall]]:
    * every pair with EXACT weighted jaccard ≥ 0.7 (DuckDB all-pairs
    * Σmin/Σmax recompute) must be surfaced by the ICWS est ≥ 0.5 pass
    * (margin ≈ 5 standard errors of 128 perms; band-miss prob ≈ 1.4e-4).
    */
  private def qWminhashRecall(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val exact = exactPairsGroundTruth(s, dir, "word_tf")
    val found = Dedup.icwsLsh(docs, "doc_id", "text",
        shingleWidth = 3, numPerms = 128, bands = 32, threshold = 0.5)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), lit(true).as("__hit"))
    exact.join(found, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("__hit"), lit(false)).as("found_by_wminhash"))
      .orderBy("doc_a", "doc_b")
  }

  /** WEIGHTED SimHash RECALL, oracle-checked: every pair with EXACT
    * TF-weighted trigram jaccard ≥ 0.7 (the [[qDedupWjaccard]] DuckDB
    * Σmin/Σmax recompute) must be surfaced by the TF-weighted simhash
    * pass ([[graft.functions.Kernels.simhashTf]] — every occurrence
    * votes) at hamming radius 14. The radius is measured, not guessed:
    * on the driver corpora the worst wj ≥ 0.7 pair sits at hamming 12
    * (sf0.1) — the same worst case and therefore the same ~2σ margin as
    * the unweighted contract ([[qSimhashRecall]]), because 64-bit simhash
    * concentrates hamming ≈ 32·(1-sim) regardless of vote weighting. The
    * 15 pigeonhole blocks are a DISJOINT partition of the 64 bits
    * ([[Dedup.pigeonholeBlocks]]), so the blocking stays EXACT at radius
    * 14. The headline operator row (q_dedup_simhash_w) keeps the
    * production radius 3; this row buys the wide radius only at test
    * scale, where bucket flooding is cheap.
    */
  private def qSimhashWeightedRecall(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val exact = exactPairsGroundTruth(s, dir, "word_tf")
    val found = Dedup.simhash(docs, "doc_id", "text",
        shingleWidth = 3, maxHamming = 14, weighted = true)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), lit(true).as("__hit"))
    exact.join(found, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("__hit"), lit(false)).as("found_by_wsimhash"))
      .orderBy("doc_a", "doc_b")
  }

  /** Benchmark decontamination, oracle-checked: every 20th document plays
    * the eval set; each remaining document is flagged iff it shares ≥1
    * word trigram with ANY eval document. Spark runs the broadcast
    * semi-join over kernel-hashed grams ([[Dedup.decontaminate]]); DuckDB
    * recomputes the overlap relationally on string grams — flags must
    * agree exactly.
    */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    Dedup.decontaminate(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", n = 3)
      .select(col("doc_id"), col("contaminated"))
      .orderBy("doc_id")
  }

  /** SEMANTIC decontamination (SURVEY row 38c-sem): every 25th embedding
    * is the "benchmark"; all 500 vectors score against the trained
    * quantized model at cosine ≥ 0.35 — INSIDE the corpus's natural
    * cosine range (measured max non-self 0.459, 34 non-self matches),
    * so near-threshold decisions genuinely exercise the integer compare
    * and bench members self-match at cosine 1. The e4-integer decision
    * makes the DuckDB replay bit-exact with no margin assumptions
    * ([[operators.Dedup.decontaminateSemantic]]).
    */
  private def qDecontaminateSemantic(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
    val model = Dedup.trainSemanticContaminationSet(
      emb.filter(col("vec_id") % 25 === 0), "embedding")
    Dedup.decontaminateSemantic(emb, "embedding", model,
        thresholdPermille = 350)
      .select(col("vec_id"), col("n_bench_hits"), col("contaminated"))
      .orderBy("vec_id")
  }

  /** Map-side decontamination under a TRAINED eval gram-set model — the
    * streaming-safe, zero-shuffle form. Same oracle as q_decontaminate
    * (DuckDB recomputes the overlap on string grams): the kernel probe
    * must flag exactly the docs the relational semi-join flags.
    */
  private def qDecontaminateMap(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val model = Dedup.trainDecontaminationSet(
      docs.filter(col("doc_id") % 20 === 0), "text", n = 3)
    Dedup.decontaminateMapSide(
        docs.filter(col("doc_id") % 20 =!= 0), "text", model)
      .select(col("doc_id"), col("contaminated"))
      .orderBy("doc_id")
  }

  /** END-TO-END pipeline composition, oracle-checked: normalize → exact
    * dedup on the normalized text → token counting + Gopher filtering →
    * per-language integer aggregates. Every stage is individually
    * oracle-green; this row proves they COMPOSE — DuckDB replays the
    * whole chain (nfc pipeline, md5 keep-min dedup, relational Gopher
    * metrics) and the final counts must hash-match. Integer aggregates
    * only (counts, token sums): cross-row double summation has no
    * deterministic order, so the composed contract stays bit-exact.
    */
  private def qPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    // NULL texts excluded EXPLICITLY on both sides: the oracle's
    // unnest(string_split(NULL)) would silently drop such a doc from its
    // inner metric join while Spark's count would keep it — pin the
    // contract instead of leaving a latent divergence on dirty corpora
    val docs = wh(s, dir).loadTable("documents").filter(col("text").isNotNull)
    val norm = TextAnalysis.normalize(docs, "text")
    val keepers = Dedup.exact(norm, "doc_id", "norm")
      .select(col("keep_id").as("doc_id"))
    val kept = norm.join(keepers, Seq("doc_id"), "left_semi")
    val scored = TextAnalysis.gopherFilter(
      TextAnalysis.tokenCount(kept, "norm"), "norm")
    scored.groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("gopher_pass").cast("long")).as("n_pass"),
        sum(col("n_ws_tokens").cast("long")).as("n_tokens"))
      .orderBy("lang")
  }

  /** The composed STREAMING-SAFE text pipeline: normalize → map-side
    * decontamination probe (trained gram-set model) → Gopher
    * quality/repetition filter. Every stage is a stateless kernel map
    * (zero shuffle), so the SAME chain applies unchanged to a readStream
    * frame — score-and-filter on ingest. StreamingSpec pins stream ==
    * batch on exactly this composition; [[qStreamPipeline]] is its
    * driver-checked batch form.
    */
  def streamTextPipeline(corpus: DataFrame,
      model: graft.functions.GramSetModel): DataFrame =
    TextAnalysis.gopherFilter(
      Dedup.decontaminateMapSide(
        TextAnalysis.normalize(corpus, "text"), "norm", model),
      "norm")

  /** STREAMING pipeline composition, oracle-checked: the full
    * [[streamTextPipeline]] chain (normalize → decontaminateMapSide →
    * gopherFilter — each stage individually oracle-green) run end-to-end,
    * then aggregated per language over the decontaminated survivors.
    * DuckDB replays the entire composition: nfc normalization, string-gram
    * decontamination over the NORMALIZED text, and the Gopher metric
    * recompute over the surviving docs. Integer aggregates only, so the
    * composed contract stays bit-exact.
    */
  private def qStreamPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents").filter(col("text").isNotNull)
    val model = Dedup.trainDecontaminationSet(
      TextAnalysis.normalize(docs.filter(col("doc_id") % 20 === 0), "text"),
      "norm", n = 3)
    streamTextPipeline(docs.filter(col("doc_id") % 20 =!= 0), model)
      .filter(!col("contaminated"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_clean"),
        sum(col("gopher_pass").cast("long")).as("n_pass"),
        sum(col("n_words").cast("long")).as("n_tokens"))
      .orderBy("lang")
  }

  /** Skew-salted join contract, oracle-checked: the salted formulation
    * (left keys spread over `salt` sub-keys, right side replicated — the
    * hand tool for keys so hot AQE's skew split still leaves one task
    * per key) must be RESULT-IDENTICAL to the plain join; DuckDB computes
    * the plain join. Aggregated per status so the contract row stays
    * small while covering every joined row.
    */
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val l = w.loadTable("lineitem").select(col("l_orderkey"), col("l_quantity"))
    val o = w.loadTable("orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    Relational.saltedJoin(l, o, Seq("l_orderkey"), salt = 8)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy("o_orderstatus")
  }

  /** Sub-document (paragraph-level) exact dedup, oracle-checked: the
    * CCNet-style keep-first election over segment hashes + splice. Run at
    * sep=" " (every token a segment) — the corpus has single-line texts,
    * and word granularity maximizes cross-document duplication, making
    * this the hardest stress of the election + ordered-reassembly logic;
    * real pipelines pass "\n". DuckDB replays the election (row_number
    * over (doc_id, pos)) and rebuilds every cleaned text byte-for-byte.
    */
  private def qParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents").filter(col("text").isNotNull)
    Dedup.paragraphDedup(docs, "doc_id", "text", sep = " ")
      .orderBy("doc_id")
  }

  /** INCREMENTAL paragraph dedup, oracle-checked: docs with doc_id % 3
    * = 0 are the already-ingested history (their segment hashes form the
    * persisted store), the rest arrive as the new batch —
    * store-membership collapse plus within-batch keep-first election
    * ([[Dedup.paragraphDedupIncremental]]). DuckDB rebuilds the store
    * hash set and every cleaned batch text byte-for-byte.
    */
  private def qParagraphIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents").filter(col("text").isNotNull)
    val store = Dedup.paragraphHashStore(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", sep = " ")
    Dedup.paragraphDedupIncremental(
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", store, sep = " ")
      .orderBy("doc_id")
  }

  /** Corpus-frequency boilerplate removal, oracle-checked: segments
    * (words, sep=" " — see [[qParagraphDedup]]) present in ≥ 50 distinct
    * documents are dropped from EVERY document, first occurrence
    * included — the RefinedWeb nav/footer rule. DuckDB recomputes the
    * hot set and every cleaned text byte-for-byte.
    */
  private def qBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents").filter(col("text").isNotNull)
    Dedup.removeBoilerplate(docs, "doc_id", "text", minDocs = 50, sep = " ")
      .orderBy("doc_id")
  }

  /** Bigram-LM fluency under a corpus-trained model, oracle-checked
    * END-TO-END: DuckDB independently rebuilds the vocabulary (top-4096
    * words, count desc / word asc), the bigram table (top-65536 pairs),
    * and every per-doc mean of c(w1,w2)/c(w1) with the same left-to-right
    * double summation — training truncation, OOV handling, and the
    * fluency doubles must all match bit-for-bit.
    */
  private def qLmFluency(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val model = TextAnalysis.trainLmModel(docs, "text",
      maxVocab = 4096, maxBigrams = 65536)
    TextAnalysis.lmFluency(docs, "text", model)
      .select(col("doc_id"), col("n_pairs"), col("known_pairs"),
        col("lm_fluency"))
      .orderBy("doc_id")
  }

  /** Trained hashed-n-gram quality classifier, oracle-checked
    * END-TO-END: Spark trains a fastText-style linear classifier
    * ([[TextAnalysis.trainQualityClassifier]]) on a deterministic
    * bounded sample (doc_id even, first 1024 by doc_id) labeled by the
    * gopher_pass rule, then scores every document in one codegen kernel
    * scan. DuckDB independently rebuilds the labels (the
    * [[qGopherFilter]] per-doc SQL), the hashed feature sets (the
    * code-point polynomial hash), all 64 integer GD iterations (as 64
    * unrolled chained CTEs — margins, errors, gradients, and truncating
    * weight updates are integer-exact in both engines), and every
    * per-doc (n_feat, margin, q_score, pred_pass) — weights AND scores
    * must match bit-for-bit at every SF.
    */
  private def qQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val sample = TextAnalysis.gopherFilter(docs.filter(col("text").isNotNull), "text")
      .filter(col("doc_id") % 2 === 0)
      .orderBy("doc_id").limit(1024)
      .select(col("text"), col("gopher_pass"))
    val model = TextAnalysis.trainQualityClassifier(sample, "text", "gopher_pass")
    TextAnalysis.qualityClassify(docs, "text", model)
      .select(col("doc_id"), col("n_feat"), col("margin"), col("q_score"),
        col("pred_pass"))
      .orderBy("doc_id")
  }

  /** Repetition metrics (Gopher rules), oracle-checked: Spark computes
    * every per-doc metric map-side in one sorted run-length pass
    * ([[TextAnalysis.repetition]] — zero shuffle); DuckDB recomputes them
    * relationally (unnest + GROUP BY + argmax window). Two independent
    * formulations, bit-identical doubles (identical exact-int divisions).
    */
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetition(wh(s, dir).loadTable("documents"), "text", n = 2)
      .select(col("doc_id"), col("n_words"), col("dup_word_frac"),
        col("dup_ngram_frac"), col("top_word"), col("top_word_cnt"),
        col("top_word_frac"), col("top_ngram"), col("top_ngram_cnt"),
        col("top_ngram_char_frac"))
      .orderBy("doc_id")

  /** Mixture-sampling CONTRACT row, oracle-checked: mixtureSample must
    * return EXACTLY min(target, available) rows per source stratum. The
    * oracle recomputes the expected counts from the raw table and the
    * same target formula — a count mismatch anywhere (hash collision
    * mishandling, boundary off-by-one, dropped stratum) goes red.
    */
  private def qMixtureContract(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val targets = (0 until 20)
      .map(i => (s"src$i", (3 + (i % 5) * 4).toLong)).toMap
    Relational.mixtureSample(docs, "source", targets, keyCols = Seq("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("n_sampled"))
      .orderBy("source")
  }

  /** Streaming-form exact-N mixture sampling (the reservoir that CONVERGES
    * to Relational.mixtureSample — set-parity spec-pinned in
    * StreamingSpec), run in its batch degeneration here. CONTRACT oracle:
    * per-stratum selected count must equal least(target, available) with
    * available recomputed by DuckDB from the raw table, every selected
    * key distinct, and none outside its stratum (the misplaced count is
    * folded into the returned plan, q_split_contract-style).
    */
  private def qMixtureStream(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val targets = Map("en" -> 100L, "fr" -> 50L, "de" -> 40L,
      "es" -> 30L, "zh" -> 1000L) // zh exceeds availability → all zh rows
    val res = graft.streaming.Events.mixtureReservoir(
      docs, "lang", "doc_id", targets)
    val keys = res.toDF().select(col("stratum").as("lang"),
      explode(col("keys")).as("doc_id"))
    // ONE reservoir execution: the misplaced check rides the same frame
    // (reservoir output is tiny, so its join against docs broadcasts)
    // instead of forking a second full stateful pass for an anti-join
    keys
      .join(docs.select(col("doc_id"), col("lang").as("__src_lang")),
        Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_selected"),
        countDistinct(col("doc_id")).as("n_distinct"),
        sum(when(col("__src_lang").isNull || col("__src_lang") =!= col("lang"), 1L)
          .otherwise(0L)).as("n_misplaced"))
      .orderBy("lang")
  }

  /** SemDeDup-style semantic near-dup — rows-only (the trained k-means
    * cell assignment has no SQL re-expression): deterministic in seed,
    * grounded by DedupSpec (soundness vs exact cosine recompute, recall
    * vs all-pairs, determinism, cap behavior).
    */
  private def qDedupSemantic(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticNearDup(wh(s, dir).loadTable("embeddings"), "vec_id", "embedding",
        threshold = 0.4, numCells = 8)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"), col("cosine"))
      .orderBy("vec_a", "vec_b")

  private def qDedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    // τ=0.4 matches this corpus's actual similarity profile (it has no
    // planted ≥0.9 near-dups). At such a low τ hyperplane-LSH needs short
    // codes × many tables for recall (6×32 ⇒ ~0.87 at cos 0.4); a real
    // near-dup corpus (τ≥0.85) would use 16×8 for far better selectivity.
    Dedup.embeddingNearDup(wh(s, dir).loadTable("embeddings"), "vec_id", "embedding",
        threshold = 0.4, numBits = 6, numTables = 32)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"), col("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** Exact ANN baseline: 8 query vectors against the whole corpus, k=5.
    * Oracle: DuckDB list_cosine_similarity over DOUBLE[] casts — both
    * engines widen the same floats and accumulate in double, so scores are
    * expected bit-identical (verified by the hash gate).
    */
  private def qAnnBruteforce(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
    Similarity.bruteForceTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
  }

  private def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
    Similarity.lshTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, numBits = 6, numTables = 32)
      .orderBy("query_id", "rank")
  }

  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
    Similarity.ivfTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, numCells = 16, numProbe = 6, probeMargin = 0.1)
      .orderBy("query_id", "rank")
  }

  /** PQ-ADC top-k (seeded codebook → deterministic rows; approximate
    * scores aren't DuckDB-replayable, so this row is rows-only — its
    * recall is oracle-pinned by [[qPqRecall]], the same contract-row
    * split as minhash/LSH).
    */
  private def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
    val model = Similarity.trainPq(emb, "vec_id", "embedding", m = 16, ksub = 32)
    Similarity.pqTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, model)
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ composed top-k (cell routing + ADC scan + exact rerank —
    * the billion-vector production recipe): seeded codebook and
    * centroids → deterministic rows; approximate shortlist isn't
    * DuckDB-replayable, so this row is rows-only — its recall is
    * oracle-pinned by [[qIvfpqRecall]].
    */
  private def qAnnIvfpq(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
    val model = Similarity.trainPq(emb, "vec_id", "embedding", m = 16, ksub = 32)
    Similarity.ivfPqTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, model, numCells = 16, numProbe = 6, rerankShortlistK = 50,
        probeMargin = 0.1)
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ recall contract, oracle-checked: every DuckDB-exact top-2
    * neighbor over the planted corpus ([[planted2Clones]]) must appear
    * in the composed IVF-PQ top-20 (16 cells / probe ceiling 6 with
    * ADAPTIVE probeMargin 0.1 — the q_ann_ivfpq production config, see
    * [[qIvfRecall]] for the measured margin — m=32 ksub=64 codebook,
    * pure ADC — no rerank, so the contract pins the composed index
    * itself). Two independent miss terms, both tiny: the clone's cell
    * unprobed (measured worst needed margin 0.0414 ≪ 0.1) and ADC error
    * demoting a cosine ≥ 0.94 clone below rank 20 (ADC error ≈ 0.05 ≪
    * the 0.3+ clone/noise gap).
    */
  private def qIvfpqRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
    val aug = planted2Clones(emb)
    val queries = emb.filter(col("vec_id") < 8)
    val model = Similarity.trainPq(aug, "vec_id", "embedding", m = 32, ksub = 64)
    val found = Similarity.ivfPqTopK(aug, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 20, model,
        numCells = 16, numProbe = 6, probeMargin = 0.1)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("__hit"))
    val exact = plantedTop2GroundTruth(s, dir)
    exact.join(found, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        coalesce(col("__hit"), lit(false)).as("found_by_ivfpq"))
      .orderBy("query_id", "rank")
  }

  /** IMAGE near-dup recall contract, oracle-checked: 64 planted images
    * (ids < 64) each get a clone at id + 76800 — the fixture encoder is
    * periodic in id mod 768, so clone bytes are IDENTICAL — and every
    * (base, clone) pair must be surfaced by the perceptual-hash pass
    * (decode → dHash → pigeonhole blocking, [[Multimodal.imageNearDup]]
    * at hamming 0). The expected pair set is pure id arithmetic, so
    * DuckDB replays it without decoding anything; extra natural dHash
    * collisions (gradient fixtures hash coarsely) don't enter the
    * contract output.
    */
  private def qImageNeardup(s: SparkSession, dir: String): DataFrame = {
    val ids = wh(s, dir).loadTable("documents")
      .select("doc_id").filter(col("doc_id") < 64)
    val aug = ids.unionByName(ids.select((col("doc_id") + 76800L).as("doc_id")))
    val found = Multimodal.imageNearDup(
        Multimodal.attachImage(aug, "doc_id"), "id", "media", maxHamming = 0)
      .select(col("id_a"), col("id_b"), lit(true).as("__hit"))
    ids.select(col("doc_id").as("id_a"), (col("doc_id") + 76800L).as("id_b"))
      .join(found, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("__hit"), lit(false)).as("found_by_dhash"))
      .orderBy("id_a")
  }

  /** AUDIO near-dup recall contract — the [[qImageNeardup]] construction
    * over WAV clips: 64 planted clips (ids < 64) each get a clone at
    * id + 65536 — the waveform generator is periodic mod 65536
    * (sample values id·11 mod 2¹⁶; clip length id mod 64, and
    * 65536 ≡ 0 mod 64), so clone bytes are IDENTICAL — and every
    * (base, clone) pair must surface from the
    * energy-contour fingerprint pass at hamming 0. Expected pairs are
    * pure id arithmetic; no audio decoding in the oracle.
    */
  private def qAudioNeardup(s: SparkSession, dir: String): DataFrame = {
    val ids = wh(s, dir).loadTable("documents")
      .select("doc_id").filter(col("doc_id") < 64)
    val aug = ids.unionByName(ids.select((col("doc_id") + 65536L).as("doc_id")))
    val found = Multimodal.audioNearDup(
        Multimodal.attachWav(aug, "doc_id"), "id", "media", maxHamming = 0)
      .select(col("id_a"), col("id_b"), lit(true).as("__hit"))
    ids.select(col("doc_id").as("id_a"), (col("doc_id") + 65536L).as("id_b"))
      .join(found, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("__hit"), lit(false)).as("found_by_afp"))
      .orderBy("id_a")
  }

  /** VIDEO near-dup recall contract — the [[qImageNeardup]] construction
    * over multi-page TIFF clips: 64 planted clips (ids < 64) each get a
    * clone at id + 76800 (divisible by 256, 16 and 6 — pixel, dims and
    * frame-count periods — so clone clip bytes are IDENTICAL), and every
    * (base, clone) pair must surface from the temporal majority-vote
    * fingerprint at hamming 0. Expected pairs are pure id arithmetic;
    * no decoding in the oracle.
    */
  private def qVideoNeardup(s: SparkSession, dir: String): DataFrame = {
    val ids = wh(s, dir).loadTable("documents")
      .select("doc_id").filter(col("doc_id") < 64)
    val aug = ids.unionByName(ids.select((col("doc_id") + 76800L).as("doc_id")))
    val found = Multimodal.videoNearDup(
        Multimodal.attachTiffClip(aug, "doc_id"), "id", "media",
        k = 4, maxHamming = 0)
      .select(col("id_a"), col("id_b"), lit(true).as("__hit"))
    ids.select(col("doc_id").as("id_a"), (col("doc_id") + 76800L).as("id_b"))
      .join(found, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("__hit"), lit(false)).as("found_by_vhash"))
      .orderBy("id_a")
  }

  /** Sequence-packing plan, oracle-checked EXACTLY: each document's
    * global token offset in the id-ordered corpus concatenation and its
    * 2048-token context-window assignment, computed with the two-pass
    * distributed prefix sum (never a one-reducer global window). DuckDB
    * replays it with a cumulative-sum window — all-integer, bit-exact.
    */
  private def qPackWindows(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packWindows(wh(s, dir).loadTable("documents"),
        "doc_id", "text", windowTokens = 2048L)
      .orderBy("doc_id")

  /** NO-SPLIT next-fit bin packing (SFT-style: a training example never
    * straddles two sequences), oracle-checked EXACTLY: documents hash to
    * 8 independent md5-keyed packing lines and fill 90-token bins in id
    * order; docs over the budget get a bin of their own, flagged. DuckDB
    * replays the per-shard sequential fold as a recursive CTE — bins,
    * running fills and oversize flags all bit-exact.
    */
  private def qPackBins(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packBins(wh(s, dir).loadTable("documents"),
        "doc_id", "text", binTokens = 90L, nShards = 8)
      .orderBy("doc_id")

  /** Content-defined chunking (SURVEY row 47c-b): Gear-rolling-hash
    * chunk boundaries over every document at maskBits = 6 with min/max
    * disabled, so cuts are exactly the mask-zero positions of the
    * closed-form windowed hash — DuckDB recomputes every h_i as a
    * 40-term windowed sum, derives the cut set, segments, and md5s each
    * chunk substring ([[operators.TextAnalysis.cdcChunkDocs]]).
    */
  private def qCdcChunks(s: SparkSession, dir: String): DataFrame = {
    TextAnalysis.cdcChunkDocs(wh(s, dir).loadTable("documents"),
        "doc_id", "text", maskBits = 6, minLen = 1, maxLen = 1000000)
      .orderBy("doc_id", "chunk_idx")
  }

  /** Content-defined sub-document dedup (SURVEY row 38h-cdc): keep-first
    * over the Gear-CDC chunks at the q_cdc_chunks configuration, cleaned
    * text respliced from surviving spans — DuckDB replays the shared
    * segment CTE, the (doc_id, chunk_idx) keep-first election, and the
    * zero-separator reconstruction ([[operators.Dedup.cdcDedup]]).
    */
  private def qCdcDedup(s: SparkSession, dir: String): DataFrame = {
    Dedup.cdcDedup(wh(s, dir).loadTable("documents"), "doc_id", "text",
        maskBits = 6, minLen = 1, maxLen = 1000000)
      .orderBy("doc_id")
  }

  /** Incremental content-defined dedup (SURVEY row 38h-cdc-inc):
    * history (doc_id < 250) collapses to its distinct chunk-hash store,
    * the arriving batch cleans against it and itself — output must
    * equal one-shot q_cdc_dedup restricted to the batch, which is what
    * the oracle replays ([[operators.Dedup.cdcDedupIncremental]]).
    */
  private def qCdcIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val store = Dedup.cdcHashStore(docs.filter(col("doc_id") < 250),
      "doc_id", "text", maskBits = 6, minLen = 1, maxLen = 1000000)
    Dedup.cdcDedupIncremental(docs.filter(col("doc_id") >= 250),
        "doc_id", "text", store,
        maskBits = 6, minLen = 1, maxLen = 1000000)
      .orderBy("doc_id")
  }

  /** INCREMENTAL packing (SURVEY row 47e-inc): history (doc_id < 250)
    * collapses to the nShards-row open-bin store, the arriving batch
    * packs CONTINUING from it — output must equal the one-shot
    * q_pack_bins fold restricted to the batch, which is exactly what
    * the oracle replays ([[operators.TextAnalysis.packBinsIncremental]]).
    */
  private def qPackIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val store = TextAnalysis.packStore(
      docs.filter(col("doc_id") < 250), "doc_id", "text",
      binTokens = 90L, nShards = 8)
    TextAnalysis.packBinsIncremental(
        docs.filter(col("doc_id") >= 250), store, "doc_id", "text",
        binTokens = 90L, nShards = 8)
      .orderBy("doc_id")
  }

  /** Packed-sequence MATERIALIZATION (the step after q_pack_bins'
    * assignment): one row per (shard, bin) with member texts joined in
    * id order, doc/token counts and the oversize flag — DuckDB replays
    * the recursive next-fit fold, then string_agg in the same order
    * ([[operators.TextAnalysis.packSequences]]).
    */
  private def qPackSequences(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packSequences(wh(s, dir).loadTable("documents"),
        "doc_id", "text", binTokens = 90L, nShards = 8)
      .orderBy("shard", "bin")

  /** TEMPERATURE-scaled mixture (XLM-R rebalancing at α = 1/2),
    * oracle-checked end-to-end: per language, target = budget·⌊√n⌋ ÷
    * Σ⌊√n⌋ in pure integer arithmetic, and the sampler must deliver
    * EXACTLY min(target, n) rows — DuckDB recomputes counts, weights,
    * floor-division targets, and the delivered-count rule; any sampler
    * drift breaks the hash. (en at 218 docs is down-weighted toward the
    * 64-75-doc tail — the head-language fix this operator exists for.)
    */
  private def qMixtureTemperature(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = wh(s, dir).loadTable("documents")
    val budget = 250L
    val targets = Relational.temperatureTargets(docs, "lang", budget)
    // sample with the targets already computed above — temperatureMixture
    // would recompute the stratum-count collect a second time
    val sampled = Relational.mixtureSample(docs, "lang", targets, Seq("doc_id"))
    val tDf = targets.toSeq.toDF("lang", "target")
    docs.filter(col("lang").isNotNull)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .join(tDf, "lang")
      .join(sampled.groupBy("lang").agg(count(lit(1)).as("n_sampled")),
        Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("target"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy("lang")
  }

  /** kNN label classification, oracle-checked EXACTLY: each query takes
    * the majority label of its 7 nearest neighbors (exact brute-force
    * cosine — the deterministic tie chain is score desc → neighbor_id
    * for the neighbor set, then votes desc → label asc for the winner).
    * DuckDB replays the same pipeline relationally; every
    * (query, pred_label, votes) row must hash-match.
    */
  private def qKnnClassify(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
    Similarity.knnClassify(emb, "vec_id", "embedding", "label",
        emb.filter(col("vec_id") < 32), "vec_id", "embedding", k = 7)
      .orderBy("query_id")
  }

  /** ANN MODEL PERSISTENCE contract, oracle-checked: train the IVF-PQ
    * models (PQ codebook m=32 ksub=64 + 16 k-means cells), SAVE both as
    * warehouse model tables ([[ModelStore]]), LOAD them back, and score
    * the same top-k query twice — once with the trained in-memory models,
    * once with the reloaded ones. The contract asserts (a) the reloaded
    * model bits equal the trained bits (floats/longs round-trip parquet
    * exactly) and (b) the two scored results are row-for-row identical —
    * train→score == store→load→score, the property a real pipeline relies
    * on when it trains an index once and serves it for months. The
    * constants ARE the oracle: any drift breaks the hash.
    */
  private def qAnnModelRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val emb = w.loadTable("embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val pq = Similarity.trainPq(emb, "vec_id", "embedding", m = 32, ksub = 64)
    val cells = Similarity.trainCentroidsKMeans(emb, "vec_id", "embedding", numCells = 16)
    val outDir = scratch("models", dir)
    ModelStore.savePqModel(w, outDir, "pq_model", pq)
    ModelStore.saveCentroids(w, outDir, "ivf_cells", cells)
    val mw = Warehouse(s, outDir)
    val pq2 = ModelStore.loadPqModel(mw, "pq_model")
    val cells2 = ModelStore.loadCentroids(mw, "ivf_cells")
    val modelExact = pq.m == pq2.m && pq.dsub == pq2.dsub && pq.ksub == pq2.ksub &&
      java.util.Arrays.equals(pq.flat, pq2.flat) &&
      cells.length == cells2.length && cells.indices.forall(i => cells(i) == cells2(i))
    def score(p: graft.functions.PqModel, c: Array[Seq[Float]]): DataFrame =
      Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, p,
        numCells = 16, numProbe = 6, trainedCentroids = Some(c))
    val fresh = score(pq, cells)
      .withColumnRenamed("neighbor_id", "n1").withColumnRenamed("score", "s1")
    val reloaded = score(pq2, cells2)
      .withColumnRenamed("neighbor_id", "n2").withColumnRenamed("score", "s2")
    fresh.join(reloaded, Seq("query_id", "rank"), "full")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("n1") <=> col("n2") && col("s1") <=> col("s2"), 0)
          .otherwise(1)).as("__mismatch"))
      .select(col("n_rows"),
        (col("__mismatch") === 0).as("scores_identical"),
        lit(modelExact).as("model_bits_identical"))
  }

  /** PQ recall contract, oracle-checked: every DuckDB-exact top-2 cosine
    * neighbor of each query must appear in the PQ top-20 (the standard
    * over-fetch regime: PQ shortlists ~10k, exact-rerank picks k). DuckDB
    * recomputes the exact top-2 with `list_cosine_similarity`; the
    * contract column asserts PQ found each.
    */
  private def qPqRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
    val model = Similarity.trainPq(emb, "vec_id", "embedding", m = 32, ksub = 64)
    val found = Similarity.pqTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 20, model)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("__hit"))
    val exact = Similarity.bruteForceTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 2)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    exact.join(found, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        coalesce(col("__hit"), lit(false)).as("found_by_pq"))
      .orderBy("query_id", "rank")
  }

  /** Planted ANN ground truth: the raw embeddings are near-orthogonal
    * random vectors (max natural pair cosine ≈ 0.6), so "exact top-k in
    * approximate top-K" would test the low-recall noise regime no index
    * is built for. The recall contracts therefore PLANT near-neighbors —
    * two clones per query, each zeroing ONE element of the query vector
    * (cosine ≥ 0.94 to its query; zeroing is exact in both float32 and
    * float64, so DuckDB rebuilds bit-identical vectors by list slicing
    * and recomputes the exact top-2, which is precisely the clone pair).
    * Clone ids: 1000000 + 2·q + j, zeroed element: 2·q + j — disjoint
    * per clone, so the two clones' scores never tie.
    */
  private def planted2Clones(emb: DataFrame): DataFrame = {
    def clone(j: Int) = emb.filter(col("vec_id") < 8)
      .select((lit(1000000L + j) + col("vec_id") * 2).as("vec_id"),
        expr(s"transform(embedding, (x, i) -> IF(i = vec_id * 2 + $j, CAST(0 AS FLOAT), x))")
          .as("embedding"))
    emb.select("vec_id", "embedding").unionByName(clone(0)).unionByName(clone(1))
  }

  /** LSH top-k recall contract, oracle-checked: every DuckDB-exact top-2
    * neighbor over the planted corpus ([[planted2Clones]]) must appear in
    * the hyperplane-LSH top-20 at the DEFAULT index params (8 bits × 16
    * tables). At clone similarity (cosine ≥ 0.94 → per-bit agreement
    * p ≥ 0.89) the per-table collision prob is p⁸ ≥ 0.4, so a clone
    * misses all 16 tables with prob ≤ (0.6)¹⁶ ≈ 3e-4 — and the seeded
    * hyperplanes make the outcome deterministic on given data (measured:
    * 0 misses at all three SFs).
    */
  private def qLshTopkRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
    val aug = planted2Clones(emb)
    val queries = emb.filter(col("vec_id") < 8)
    val found = Similarity.lshTopK(aug, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 20, numBits = 8, numTables = 16)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("__hit"))
    val exact = plantedTop2GroundTruth(s, dir)
    exact.join(found, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        coalesce(col("__hit"), lit(false)).as("found_by_lsh"))
      .orderBy("query_id", "rank")
  }

  /** IVF top-k recall contract, oracle-checked like [[qLshTopkRecall]]:
    * every DuckDB-exact top-2 neighbor over the planted corpus must
    * appear in the IVF top-20 at the headline params (16 cells, probe
    * ceiling 6 with ADAPTIVE probeMargin 0.1 — q_ann_ivf's). A clone at
    * cosine ≥ 0.94 to its query assigns to the query's own nearest cell
    * (or one adjacent); the margin is measured, not guessed: the worst
    * clone cell across all SFs sits 0.0414 below the best cell's sim
    * (r9 margin sweep, SURVEY §7.0 item 7), so 0.1 carries 2.4×
    * headroom while mean probed cells drop from 6.0 fixed to 3.4-4.6 —
    * the contract certifies the production adaptive config itself
    * (0 misses at all three SFs).
    */
  private def qIvfRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
    val aug = planted2Clones(emb)
    val queries = emb.filter(col("vec_id") < 8)
    val found = Similarity.ivfTopK(aug, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 20, numCells = 16, numProbe = 6,
        probeMargin = 0.1)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("__hit"))
    val exact = plantedTop2GroundTruth(s, dir)
    exact.join(found, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        coalesce(col("__hit"), lit(false)).as("found_by_ivf"))
      .orderBy("query_id", "rank")
  }

  /** Embedding near-dup PAIR recall contract, oracle-checked: one clone
    * per vec_id < 16 (zero element id mod 64, clone id 2000000 + id —
    * same exact-in-both-engines construction as [[planted2Clones]])
    * yields exactly 16 planted pairs at cosine ≥ 0.94; every pair with
    * exact cosine ≥ 0.7 involving a clone (DuckDB recomputes corpus ×
    * clones — the only ≥ 0.7 pairs, since natural pairs top out ≈ 0.6)
    * must be surfaced by [[Dedup.embeddingNearDup]] at its DEFAULT
    * params (threshold 0.5, 8 bits × 16 tables; measured 0 misses at
    * all three SFs, margin per pair ≈ 3e-4 as in [[qLshTopkRecall]]).
    */
  private def qEmbeddingRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
    val clones = emb.filter(col("vec_id") < 16)
      .select((lit(2000000L) + col("vec_id")).as("vec_id"),
        expr("transform(embedding, (x, i) -> IF(i = vec_id % 64, CAST(0 AS FLOAT), x))")
          .as("embedding"))
    val aug = emb.select("vec_id", "embedding").unionByName(clones)
    val exact = aug.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .crossJoin(broadcast(
        clones.select(col("vec_id").as("id_b"), col("embedding").as("vb"))))
      .filter(col("id_a") < col("id_b"))
      .withColumn("__cos", GraftFunctions.cosineSim(col("va"), col("vb")))
      .filter(col("__cos") >= 0.7)
      .select("id_a", "id_b")
    val found = Dedup.embeddingNearDup(aug, "vec_id", "embedding",
        threshold = 0.5, numBits = 8, numTables = 16)
      .select(col("id_a"), col("id_b"), lit(true).as("__hit"))
    exact.join(found, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("__hit"), lit(false)).as("found_by_lsh"))
      .orderBy("id_a", "id_b")
  }

  /** Semantic near-dup RECALL contract, oracle-checked: the same planted
    * corpus as [[qEmbeddingRecall]] (one clone per vec_id < 16, cosine ≥
    * 0.94 to its source, recomputed bit-exactly by DuckDB), but the pairs
    * must be surfaced by [[Dedup.semanticNearDup]] at its DEFAULT params
    * (16 cells, numProbe 2). Single-assignment SemDeDup misses boundary
    * pairs whose sides argmax to different cells — measured 1 planted
    * miss at 16 cells — and the numProbe=2 default exists precisely to
    * close that gap: a clone at cosine ≥ 0.94 shares at least one of its
    * source's two nearest cells (measured 0 misses at 8/16/32 cells,
    * all three SFs). Deterministic: seeded k-means + literal assignment.
    */
  private def qSemanticRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
    val clones = emb.filter(col("vec_id") < 16)
      .select((lit(2000000L) + col("vec_id")).as("vec_id"),
        expr("transform(embedding, (x, i) -> IF(i = vec_id % 64, CAST(0 AS FLOAT), x))")
          .as("embedding"))
    val aug = emb.select("vec_id", "embedding").unionByName(clones)
    val exact = aug.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .crossJoin(broadcast(
        clones.select(col("vec_id").as("id_b"), col("embedding").as("vb"))))
      .filter(col("id_a") < col("id_b"))
      .withColumn("__cos", GraftFunctions.cosineSim(col("va"), col("vb")))
      .filter(col("__cos") >= 0.7)
      .select("id_a", "id_b")
    val found = Dedup.semanticNearDup(aug, "vec_id", "embedding",
        threshold = 0.5, numCells = 16)
      .select(col("id_a"), col("id_b"), lit(true).as("__hit"))
    exact.join(found, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("__hit"), lit(false)).as("found_by_semantic"))
      .orderBy("id_a", "id_b")
  }

  private def qTokenCount(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCount(wh(s, dir).loadTable("documents"), "text")
      .select("doc_id", "n_ws_tokens", "n_word_tokens")
      .orderBy("doc_id")

  /** Trained-BPE token counts — rows-only (the seeded xxhash64 sample
    * selection has no DuckDB replay): deterministic in (corpus, seed),
    * bounded driver-side training, distributed apply. The TRAINER
    * itself is oracle-checked end-to-end by the companion
    * q_bpe_driver_train contract (same [[operators.Bpe.train]] path,
    * sample covering the corpus so only the hash order drops out);
    * apply-side grounded by TextAnalysisSpec.
    */
  private def qTokenBpe(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val model = graft.operators.Bpe.train(docs, "text", numMerges = 300,
      sampleSize = 300, seed = 42L)
    TextAnalysis.tokenCountBpe(docs, "text", model)
      .select("doc_id", "n_bpe_tokens")
      .orderBy("doc_id")
  }

  /** Driver-side BPE trainer, oracle-checked END TO END (the companion
    * contract for rows-only q_token_bpe — same [[operators.Bpe.train]]
    * code path): on a bounded corpus with sampleSize covering it
    * entirely (so the seeded xxhash sample order is irrelevant and the
    * replay needs no Spark-specific hash), the 12-round merge table —
    * raw-token \\s+ words, per-character symbol IDs, overlap-counted
    * pair statistics, ties to the smallest packed (l<<32 | r) key,
    * round-k new symbol 0x110000+k−1, greedy left-to-right merge — must
    * match DuckDB's independent unrolled-CTE replay key-for-key. The
    * require pins the no-early-stop premise the fixed 12-round replay
    * assumes.
    */
  private def qBpeDriverTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = wh(s, dir).loadTable("documents")
      .filter(col("doc_id") < 400 && col("text").isNotNull)
    // no BMP premise needed: trainer and kernel symbolize by CODE
    // POINT (r12 unification), the same space the oracle's
    // unicode(substring) walk replays — astral chars are one symbol
    // on both sides
    val model = operators.Bpe.train(docs, "text", numMerges = 12,
      sampleSize = Int.MaxValue, seed = 42L)
    require(model.numMerges == 12,
      "q_bpe_driver_train: trainer stopped early — the fixed 12-round " +
        "replay no longer applies; shrink numMerges")
    model.sortedKeys.zip(model.rankAt).sortBy(_._2)
      .zipWithIndex.map { case ((key, rank), idx) =>
        require(rank == idx, s"non-contiguous merge rank $rank at $idx")
        (rank + 1L, key >>> 32, key & 0xffffffffL)
      }.toSeq.toDF("merge_rank", "l_id", "r_id")
      .orderBy("merge_rank")
  }

  /** TF-IDF top-3 terms per document, oracle-checked END TO END: the df
    * model trains on the full corpus (bounded, vocabulary-sized collect —
    * the BPE/k-means pattern), scoring is one kernel scan per doc, and
    * DuckDB independently rebuilds tf, df and the rational tf×N/df score
    * relationally with an argmax window — terms, counts AND scores must
    * match bit-for-bit including the (score desc, term asc) tie-break.
    */
  private def qTfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    // the oracle scores the FULL vocabulary — a truncated model would
    // silently skip the dropped tail as OOV and hash-mismatch; the guard
    // shares ONE maxVocab constant with the training call so it cannot
    // drift from the trainer's default
    val maxVocab = 1 << 20
    val model = TextAnalysis.trainDfModel(docs, "text", maxVocab)
    require(model.vocabSize < maxVocab,
      s"vocabulary truncated at maxVocab=$maxVocab — the full-vocab oracle no longer applies")
    TextAnalysis.tfidfTopK(docs, "text", model, k = 3)
      .select(col("doc_id"), posexplode(col("tfidf")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.term").as("term"), col("col.tf").as("tf"),
        col("col.df").as("df"), col("col.score").as("score"))
      .orderBy("doc_id", "rank")
  }

  /** Gopher keep/drop filter, oracle-checked: Spark derives every flag
    * from the two counting kernels map-side; DuckDB rebuilds the same
    * metrics relationally (repetition via unnest+window, stop hits via
    * regexp) and applies the identical threshold expressions. Any metric
    * or boundary divergence flips a boolean and fails the hash gate.
    */
  private def qGopherFilter(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherFilter(wh(s, dir).loadTable("documents"), "text")
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("dup_ngram_frac"), col("top_word_frac"), col("stop_hits"),
        col("f_word_count"), col("f_mean_word_len"), col("f_dup_ngram"),
        col("f_top_word"), col("f_stopwords"), col("gopher_pass"))
      .orderBy("doc_id")

  private def qLangId(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(wh(s, dir).loadTable("documents"), "text")
      .select("doc_id", "h_en", "h_de", "h_fr", "h_es", "h_zh", "pred_lang")
      .orderBy("doc_id")

  private def qQuality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(wh(s, dir).loadTable("documents"), "text")
      .select("doc_id", "n_chars", "n_tokens", "stop_hits", "punct_hits",
        "stop_ratio", "punct_ratio", "quality")
      .orderBy("doc_id")

  /** PII scrub over the corpus with deterministically planted PII (email +
    * IPv4 derived from doc_id), oracle-checked: DuckDB replays the same
    * concat and the same RE2/Java-aligned patterns, so the cleaned strings
    * must hash-match exactly.
    */
  private def qRedact(s: SparkSession, dir: String): DataFrame = {
    val dirty = wh(s, dir).loadTable("documents").select(col("doc_id"),
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7")).as("dirty"))
    TextAnalysis.redact(dirty, "dirty")
      .select(col("doc_id"), length(col("dirty")).cast("long").as("n_dirty"),
        length(col("clean")).cast("long").as("n_clean"), col("clean"))
      .orderBy("doc_id")
  }

  /** Canonical normalization, oracle-checked: DuckDB replays NFC + lower +
    * explicit-class whitespace collapse (the kernel's class is exactly
    * RE2's \s, so the two pipelines must agree byte-for-byte). Planted
    * case/whitespace noise makes the normalization observable.
    */
  private def qNormalize(s: SparkSession, dir: String): DataFrame = {
    val noisy = wh(s, dir).loadTable("documents").select(col("doc_id"),
      concat(lit("  MiXeD\t\tCase   "), col("text"), lit("  \n")).as("dirty"))
    TextAnalysis.normalize(noisy, "dirty")
      .select(col("doc_id"), length(col("norm")).cast("long").as("n_norm"), col("norm"))
      .orderBy("doc_id")
  }

  /** Fingerprint-overlap containment pairs, oracle-checked: the DuckDB side
    * replays the full pipeline — winnowing hashes (see [[winnowOracleCte]])
    * then the hot-hash cap, gutted-doc floor, and overlap join — so pair
    * set, shared counts, and containment ratios must hash-match exactly.
    */
  private def qContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.fingerprintOverlap(wh(s, dir).loadTable("documents"), "doc_id", "text",
        threshold = 0.5)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("n_shared"), col("containment"))
      .orderBy("doc_a", "doc_b")

  /** Substring-level duplicate spans (Lee et al. 2022 re-expressed as
    * winnowing-anchored span extension), oracle-checked EXACTLY: the
    * operator is provably exact for spans ≥ minLen (= k+w-1 by
    * construction), so DuckDB's independent all-positions formulation —
    * md5 40-grams joined across docs, maximal runs along each (pos_a -
    * pos_b) diagonal via gaps-and-islands — must reproduce every (pair,
    * pos_a, pos_b, span_len) tuple bit-for-bit. The anchor cap is off:
    * exactness is the contract under test.
    */
  private def qSubstring(s: SparkSession, dir: String): DataFrame =
    Dedup.sharedSpans(wh(s, dir).loadTable("documents"), "doc_id", "text",
        minLen = 40, k = 20, maxHashDocs = 0, maxHashOccurrences = 0)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("pos_a"), col("pos_b"), col("span_len"))
      .orderBy("doc_a", "doc_b", "pos_a", "pos_b")

  /** INCREMENTAL substring dedup, oracle-checked EXACTLY: every 25th
    * document spawns a prefix-edited clone as the "arriving batch"; the
    * batch is deduped against the PERSISTED ANCHOR STORE of the
    * historical corpus ([[Dedup.sharedSpansIncremental]] — history never
    * re-anchored, old-vs-old pairs never generated), and DuckDB
    * recomputes the full span set over history ∪ batch with its
    * independent all-positions formulation, filtered to pairs involving
    * a batch doc — every (pair, pos_a, pos_b, span_len) tuple must match
    * bit-for-bit (caps off: exactness is the contract under test).
    */
  private def qSubstringIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents").select("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("INCREMENTAL SPAN BATCH :: "), col("text")).as("text"))
    val store = Dedup.spanAnchorStore(docs, "doc_id", "text", minLen = 40, k = 20)
    Dedup.sharedSpansIncremental(batch, "doc_id", "text", store, docs,
        minLen = 40, k = 20, maxHashDocs = 0, maxHashOccurrences = 0)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("pos_a"), col("pos_b"), col("span_len"))
      .orderBy("doc_a", "doc_b", "pos_a", "pos_b")
  }

  /** Per-document duplicated-span mass (the Lee et al. removal-policy
    * input): chars covered by ≥1 shared span as a union of intervals.
    * DuckDB replays the same islands logic over ITS independently
    * computed span set, so coverage counts and fractions are exact.
    */
  private def qSubstringStats(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val spans = Dedup.sharedSpans(docs, "doc_id", "text",
      minLen = 40, k = 20, maxHashDocs = 0, maxHashOccurrences = 0)
    Dedup.spanDupStats(docs, "doc_id", "text", spans)
      .filter(col("n_spans") > 0)
      .select(col("id").as("doc_id"), col("n_chars"), col("dup_chars"),
        col("n_spans"), col("dup_frac"))
      .orderBy("doc_id")
  }

  /** Within-document repeated spans (the intra-doc complement of
    * q_substring): maximal exact repeats ≥ 20 chars inside one document.
    * DuckDB recomputes ground truth the same independent way — md5
    * 20-grams matched WITHIN each doc, maximal diagonal runs — so every
    * (doc, pos_a, pos_b, span_len) tuple is hash-gated.
    */
  private def qSelfSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.selfSpans(wh(s, dir).loadTable("documents"), "doc_id", "text",
        minLen = 20, k = 10, maxHashOccurrences = 0)
      .select(col("id").as("doc_id"), col("pos_a"), col("pos_b"), col("span_len"))
      .orderBy("doc_id", "pos_a", "pos_b")

  /** The APPLY step of substring dedup (Lee et al. removal policy):
    * non-canonical span occurrences spliced out of the text. DuckDB
    * rebuilds the cleaned strings independently (merged id_b intervals →
    * complement segments → ordered string_agg), so the full cleaned text
    * of every affected doc is hash-gated byte-for-byte.
    */
  private def qSubstringClean(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val spans = Dedup.sharedSpans(docs, "doc_id", "text",
      minLen = 40, k = 20, maxHashDocs = 0, maxHashOccurrences = 0)
    Dedup.removeSpans(docs, "doc_id", "text", spans)
      .filter(col("removed_chars") > 0)
      .select(col("doc_id"), col("text_clean"), col("removed_chars"))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprint sketch, oracle-checked: DuckDB replays the exact
    * kernel arithmetic (FNV-1a over char 8-grams, splitmix64 finalizer,
    * window-4 minima over SIGNED longs) via mod-2^64 HUGEINT expressions,
    * so n/min/max of the selected hash set are bit-exact.
    */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(wh(s, dir).loadTable("documents"), "text")
      .select(col("doc_id"), col("n_fp").cast("long").as("n_fp"),
        col("fp_min"), col("fp_max"))
      .orderBy("doc_id")

  /** Context-window chunking, oracle-checked: both engines compute the
    * same window arithmetic over whitespace tokens, so chunk strings and
    * counts must hash-match exactly (32-token windows, 8-token overlap —
    * small enough that sf0.01 docs actually split).
    */
  private def qChunk(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunk(wh(s, dir).loadTable("documents"), "text",
        chunkTokens = 32, overlap = 8)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("n_chunk_tokens").cast("long").as("n_chunk_tokens"), col("chunk"))
      .orderBy("doc_id", "chunk_idx")

  /** Multimodal plumbing: synthetic media containers attached, then decoded
    * back through the batched binary mapPartitions path. Every decoded
    * field is a deterministic function of (doc_id, text), so the oracle
    * recomputes them all — the full binary roundtrip is hash-checked.
    */
  private def qMultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    Multimodal.decodeMeta(Multimodal.attachBinary(docs, "doc_id", "text"), "doc_id", "media")
      .select(col("id").as("doc_id"), col("width"), col("height"), col("format"),
        col("n_bytes"), col("payload_bytes"))
      .orderBy("doc_id")
  }

  /** Train/val/test split contract, oracle-checked: the three seeded-hash
    * splits must be exhaustive (counts sum to the DuckDB-recomputed table
    * total) and pairwise disjoint (semi-join overlaps pinned to zero).
    * The split itself is Spark-hash-based (not SQL-replicable); the
    * CONTRACT is what the oracle certifies.
    */
  private def qSplitContract(s: SparkSession, dir: String): DataFrame = {
    val orders = wh(s, dir).loadTable("orders").select("o_orderkey")
    val Seq(tr, va, te) = Relational.split(orders, Seq(0.7, 0.2, 0.1))
    // Overlaps are 1-row left-semi aggregates INSIDE the returned plan —
    // building this query runs zero Spark jobs (eager .count() here would
    // execute at plan-build time and bill the work to the wrong query).
    def overlap(a: DataFrame, b: DataFrame, as: String): DataFrame =
      a.join(b, Seq("o_orderkey"), "left_semi").agg(count(lit(1)).as(as))
    tr.agg(count(lit(1)).as("__n1"))
      .crossJoin(va.agg(count(lit(1)).as("__n2")))
      .crossJoin(te.agg(count(lit(1)).as("__n3")))
      .crossJoin(overlap(tr, va, "__o1"))
      .crossJoin(overlap(tr, te, "__o2"))
      .crossJoin(overlap(va, te, "__o3"))
      .select((col("__n1") + col("__n2") + col("__n3")).as("n_total"),
        (col("__o1") + col("__o2") + col("__o3")).as("n_overlap"))
  }

  /** File-format IO roundtrip, oracle-checked at the driver: nation is
    * written to csv, json AND orc, read back schema-first, and the union
    * of the three reads must hash-match three copies of the source table
    * — any quoting/typing/encoding loss in any format path breaks the
    * gate. (Writes land under java.io.tmpdir, keyed by the input dir.)
    */
  private def qIoRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val w = wh(s, dir)
    val n = w.loadTable("nation")
    val tmp = scratch("io", dir)
    w.saveDf(n, s"$tmp/csv", format = "csv")
    w.saveDf(n, s"$tmp/json", format = "json")
    w.saveDf(n, s"$tmp/orc", format = "orc")
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_name", StringType),
      StructField("n_regionkey", LongType), StructField("n_comment", StringType)))
    val back = w.loadDf(s"$tmp/csv", "csv", Some(schema))
      .unionByName(w.loadDf(s"$tmp/json", "json", Some(schema)))
      .unionByName(w.loadDf(s"$tmp/orc", "orc", Some(schema)))
    back.select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")
  }

  /** Multimodal PLANNING surface, oracle-checked: resize targets
    * (aspect-preserving fit into 64×48) and evenly-spaced frame-sampling
    * indices are pure deterministic arithmetic over the decoded header
    * dims, so DuckDB recomputes every value — frame index lists ride as
    * comma-joined strings (array columns don't survive the driver's
    * normalization; strings do).
    */
  private def qMultimodalPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val meta = Multimodal.decodeMeta(
      Multimodal.attachBinary(docs, "doc_id", "text"), "doc_id", "media")
      .withColumn("n_frames", col("id") % 40)
    Multimodal.sampleFramesMeta(Multimodal.resizeMeta(meta, 64, 48), "n_frames", 8)
      .select(col("id").as("doc_id"), col("width"), col("height"),
        col("target_width"), col("target_height"), col("n_frames"),
        array_join(col("frame_indices"), ",").as("frame_plan"))
      .orderBy("doc_id")
  }

  /** REAL image decode, oracle-checked end-to-end: a deterministic RGB
    * image (pixel (x,y) = ((7x+id)%256, (11y+id)%256, (x+y+id)%256), dims
    * 8+id%16 × 8+3·id%16) is PNG-encoded per row, then decoded back with
    * JDK-builtin `javax.imageio` — actual codec work, not header parsing.
    * PNG is lossless, so the decoded dims, sniffed format name, and
    * per-channel pixel means are closed-form functions of doc_id the
    * oracle recomputes arithmetically (means as exact integer sums over a
    * range join, one double division — bit-identical to the kernel's
    * sum/count). n_bytes is excluded: the PNG encoder's output size is
    * JDK-version-dependent.
    */
  private def qMultimodalDecode(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents").select("doc_id")
    Multimodal.decodeImage(Multimodal.attachImage(docs, "doc_id"), "id", "media")
      .select(col("id").as("doc_id"), col("width"), col("height"), col("format"),
        col("mean_r"), col("mean_g"), col("mean_b"))
      .orderBy("doc_id")
  }

  /** REAL image resize, oracle-checked through TWO codec roundtrips: the
    * planted PNG is decoded, aspect-fit into 12×12, nearest-neighbor
    * resampled (pure integer index math — dst (x,y) reads src
    * (x·w/tw, y·h/th) floored), re-encoded as PNG, then decoded AGAIN by
    * [[Multimodal.decodeImage]]. Resized dims and channel means are
    * closed-form in doc_id, so DuckDB recomputes them arithmetically —
    * the decode → resample → encode → decode chain is hash-gated
    * end-to-end.
    */
  private def qMultimodalResize(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents").select("doc_id")
    val resized = Multimodal.resizeImage(
      Multimodal.attachImage(docs, "doc_id"), "id", "media", maxW = 12, maxH = 12)
    Multimodal.decodeImage(resized, "id", "media")
      .select(col("id").as("doc_id"), col("width"), col("height"), col("format"),
        col("mean_r"), col("mean_g"), col("mean_b"))
      .orderBy("doc_id")
  }

  /** REAL frame sampling over a multi-frame container, oracle-checked:
    * each doc carries a multi-page TIFF clip (2..7 planted frames, written
    * by the JDK's ImageIO TIFF plugin), [[Multimodal.decodeFrames]] counts
    * frames, picks k=4 evenly-spaced indices (all frames when n ≤ 4, else
    * floor(i·n/4)) and decodes ONLY those. Frame pixel formulas are
    * frame-dependent, so returning the wrong frame for an index — or
    * decoding with wrong sampling arithmetic — breaks the hash. DuckDB
    * replays frame counts, sampled indices, dims, and bit-exact channel
    * means arithmetically.
    */
  private def qMultimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents").select("doc_id")
    Multimodal.decodeFrames(
        Multimodal.attachTiffClip(docs, "doc_id"), "id", "media", k = 4)
      .select(col("id").as("doc_id"), col("n_frames"), col("frame_idx"),
        col("width"), col("height"), col("mean_r"), col("mean_g"), col("mean_b"))
      .orderBy("doc_id", "frame_idx")
  }

  /** REAL audio decode, oracle-checked end-to-end: a deterministic
    * integer waveform (sample i = (37i + 11·id) mod 65536 − 32768,
    * n = 64 + id%64 samples) is written as a PCM16LE mono 8 kHz WAV by
    * the JDK's `javax.sound.sampled` RIFF writer, then parsed back by
    * [[Multimodal.decodeAudio]] — actual container+PCM codec work. Sample
    * rate, channel count, frame count, mean |amplitude| of channel 0
    * (exact integer sum, one double division), and first-channel peak are
    * closed-form functions of doc_id the oracle recomputes
    * arithmetically (mono fixture: frames == samples, ch0 == the only
    * channel). n_bytes is excluded (RIFF header layout is
    * writer-version-dependent).
    */
  private def qMultimodalAudio(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents").select("doc_id")
    Multimodal.decodeAudio(Multimodal.attachWav(docs, "doc_id"), "id", "media")
      .select(col("id").as("doc_id"), col("sample_rate"), col("channels"),
        col("n_frames"), col("mean_abs_ch0"), col("peak_ch0"))
      .orderBy("doc_id")
  }

  /** Namespaced-catalog contract (SURVEY rows 37b + 37c), oracle-checked at
    * the driver: two namespaces are materialized as warehouse subdirs
    * (catalog.schema.table resolution, fugue_trino/collections.py:10-49),
    * registered as catalog databases, and queried through a QUALIFIED
    * cross-namespace SQL join. Registration freshness is exercised
    * end-to-end: `nsa.nation` is first saved TRUNCATED (10 rows),
    * registered, materialized by a count (so the catalog caches a file
    * index), then OVERWRITTEN with the full table — the final join must see
    * all 25 rows through the already-registered name, or the driver's hash
    * gate breaks (a frozen file index would throw FileNotFoundException or
    * serve 10 rows). The oracle replays the same join over the source
    * tables.
    */
  private def qNamespace(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val tmp = scratch("ns", dir)
    val nsA = "graft_nsa"
    val nsB = "graft_nsb"
    w.saveTable(w.loadTable("nation").filter(col("n_nationkey") < 10),
      tmp, s"$nsA.nation", "overwrite")
    w.saveTable(w.loadTable("region"), tmp, s"$nsB.region", "overwrite")
    val w2 = Warehouse(s, tmp)
    w2.registerNamespace(nsA)
    w2.registerNamespace(nsB)
    // Materialize the catalog entry's file index on the STALE data, then
    // overwrite — the freshness contract under test (row 37c).
    require(s.table(s"`$nsA`.nation").count() == 10L, "namespace pre-state")
    w.saveTable(w.loadTable("nation"), tmp, s"$nsA.nation", "overwrite")
    s.sql(
      s"""SELECT n.n_nationkey, n.n_name, r.r_name
         |FROM `$nsA`.nation n JOIN `$nsB`.region r
         |  ON n.n_regionkey = r.r_regionkey
         |ORDER BY n.n_nationkey""".stripMargin)
  }

  /** save_table / table_exists / get_schema lifecycle (SURVEY rows 33 + 34),
    * oracle-checked: overwrite-then-append doubles t1; a second overwrite
    * fully replaces t2 (nation → region, schema change included); "error"
    * mode on an existing table must raise (fugue_trino/execution_engine.py:
    * 89-97); existence is true for written tables and false for absent
    * ones; the read-back schema is pinned as a literal contract column.
    * Counts and the data checksum are computed INSIDE the returned plan
    * (file state is final once the plan runs).
    */
  private def qTableLifecycle(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val tmp = scratch("tbl", dir)
    w.saveTable(w.loadTable("nation"), tmp, "t1", "overwrite")
    w.saveTable(w.loadTable("nation"), tmp, "t1", "append")
    w.saveTable(w.loadTable("nation"), tmp, "t2", "overwrite")
    w.saveTable(w.loadTable("region"), tmp, "t2", "overwrite")
    val errorRaised =
      try { w.saveTable(w.loadTable("nation"), tmp, "t1", "error"); false }
      catch { case _: Exception => true }
    val wt = Warehouse(s, tmp)
    val schemaStr = wt.getSchema("t2").fieldNames.mkString(",")
    wt.loadTable("t1").agg(count(lit(1)).as("n_after_append"))
      .crossJoin(wt.loadTable("t2").agg(
        count(lit(1)).as("n_after_overwrite"),
        sum("r_regionkey").cast("long").as("sum_rkey")))
      .select(col("n_after_append"), col("n_after_overwrite"), col("sum_rkey"),
        lit(w.tableExists(tmp, "t1")).as("t1_exists"),
        lit(w.tableExists(tmp, "no_such_table")).as("missing_exists"),
        lit(errorRaised).as("error_raised"),
        lit(schemaStr).as("t2_columns"))
  }

  /** persist-to-storage contract (SURVEY row 29b), oracle-checked: the
    * reference's persist IS a temp-table materialization
    * (fugue_trino/execution_engine.py:124-133 df_to_table → re-read), so
    * the contract is (1) the materialized re-read hash-matches the source
    * computation, (2) re-materializing under the SAME name serves the
    * fresh rows (n_first pins the pre-overwrite row count read eagerly
    * before the second write), and (3) the re-read plan is a bare scan —
    * upstream join/agg lineage is CUT (what distinguishes storage persist
    * from cache-only persist).
    */
  private def qPersistTable(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val tmp = scratch("persist", dir)
    val agg = w.loadTable("nation")
      .join(w.loadTable("region"), expr("n_regionkey = r_regionkey"))
      .groupBy("r_name").agg(count(lit(1)).as("n_nations"),
        sum("n_nationkey").cast("long").as("sum_key"))
    val p1 = w.persistToTable(agg, "persist_t", tmp)
    val n1 = p1.count() // eager: must observe the FIRST materialization
    val p2 = w.persistToTable(agg.filter(col("r_name") < "EUROPE"), "persist_t", tmp)
    val lineageCut = {
      val plan = p2.queryExecution.optimizedPlan.toString
      !plan.contains("Aggregate") && !plan.contains("Join")
    }
    p2.select(col("r_name"), col("n_nations"), col("sum_key"),
        lit(n1).as("n_first"), lit(lineageCut).as("lineage_cut"))
      .orderBy("r_name")
  }

  /** Special-character / reserved-word column names (SURVEY row 30b),
    * oracle-checked end-to-end: columns named `a b`, `select`, `a.b`, and
    * `tick`+backtick+`mark` survive a parquet save→load roundtrip, then a
    * rowFilter and presort whose SQL text is built at the
    * [[Warehouse.encodeColumnName]] boundary (the reference's
    * encode_column_name, fugue_bigquery/execution_engine.py:49). The
    * oracle re-derives the same frame from the source table with quoted
    * aliases — name preservation, filtering, and ordering all hash-gated.
    */
  private def qSpecialColumns(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val tmp = scratch("weird", dir)
    def enc(n: String) = Warehouse.encodeColumnName(n)
    val weird = w.loadTable("nation").select(
      col("n_nationkey").as("a b"), col("n_name").as("select"),
      col("n_regionkey").as("a.b"), reverse(col("n_name")).as("tick`mark"))
    w.saveDf(weird, tmp, format = "parquet")
    val back = w.loadDf(tmp, "parquet")
      .filter(s"${enc("a.b")} < 3")
    Relational.takePresort(back, 1000, s"${enc("a b")} asc")
      .orderBy(Warehouse.literalCol("a b"))
  }

  /** Multi-path parquet load_df/save_df roundtrip (SURVEY row 35),
    * oracle-checked: nation is split into two disjoint parquet dirs, read
    * back as ONE multi-path scan (Seq[String] → one job, one file list —
    * fugue_bigquery/execution_engine.py:199's Union[str, List[str]]), and
    * the reassembled table must hash-match the source.
    */
  private def qIoParquet(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val n = w.loadTable("nation")
    val tmp = scratch("par", dir)
    w.saveDf(n.filter(col("n_regionkey") < 2), s"$tmp/p1", format = "parquet")
    w.saveDf(n.filter(col("n_regionkey") >= 2), s"$tmp/p2", format = "parquet")
    w.loadDf(Seq(s"$tmp/p1", s"$tmp/p2"), "parquet", None, header = true)
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")
  }

  /** Repartition / persist / broadcast contract (SURVEY row 29),
    * oracle-checked: hash-repartition by key yields exactly the requested
    * partition count (15k distinct keys over 8 partitions — an empty one
    * has probability ~0 under murmur3) with every key on ONE partition
    * (the co-location semantic downstream joins rely on) and no rows
    * lost; a persisted plan returns identical cardinality; a
    * broadcastHint join returns the same rows as the oracle's plain join
    * (hints pick strategy, never semantics). All counts computed inside
    * the returned plan.
    */
  private def qRepartition(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val li = w.loadTable("lineitem", columns = Seq("l_orderkey"))
    val rp = Relational.repartition(li, 8, Seq("l_orderkey"))
      .select(col("l_orderkey"), spark_partition_id().as("pid"))
    val parts = rp.agg(
      countDistinct(col("pid")).cast("long").as("n_partitions"),
      count(lit(1)).as("rows_total"))
    val colocated = rp.groupBy("l_orderkey")
      .agg(countDistinct(col("pid")).as("np"))
      .agg(max(col("np")).cast("long").as("max_parts_per_key"))
    // persist contract on a DERIVED small frame: caching full lineitem here
    // would leak into every later query's timing in the same bench session
    // (cache matching is plan-based, so the filter keeps this plan private),
    // and the cached 5 rows are too small to contaminate anything
    val pcount = Relational.persist(
        w.loadTable("region").filter(col("r_regionkey") >= 0))
      .agg(count(lit(1)).as("rows_after_persist"))
    val bj = Relational.broadcastHint(w.loadTable("region"))
      .join(w.loadTable("nation"), expr("r_regionkey = n_regionkey"))
      .agg(count(lit(1)).as("broadcast_join_rows"))
    parts.crossJoin(colocated).crossJoin(pcount).crossJoin(bj)
      .select("n_partitions", "rows_total", "max_parts_per_key",
        "rows_after_persist", "broadcast_join_rows")
  }

  /** ANALYZE / table+column statistics contract (SURVEY row 37d),
    * oracle-checked: a namespaced copy of nation is ANALYZEd and the
    * catalog's stored statistics — row count and per-column distinct
    * counts — are emitted as data, which DuckDB recomputes from the table
    * itself. HLL++ distinct counts are exact at these cardinalities, and
    * nation is SF-fixed, so the row is deterministic. Catches stats that
    * are missing, stale (saveTable's invalidation dropped them), or bound
    * to the wrong table.
    */
  private def qAnalyzeStats(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val tmp = scratch("stats", dir)
    val ns = "graft_stats"
    w.saveTable(w.loadTable("nation"), tmp, s"$ns.nation", "overwrite")
    val w2 = Warehouse(s, tmp)
    w2.registerNamespace(ns)
    w2.analyzeTable(s"$ns.nation", Seq("n_regionkey", "n_nationkey"))
    val st = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("nation", Some(ns))).stats
    def ndv(c: String): Long =
      st.flatMap(_.colStats.get(c)).flatMap(_.distinctCount).map(_.toLong).getOrElse(-1L)
    s.range(1).select(
      lit(st.flatMap(_.rowCount).map(_.toLong).getOrElse(-1L)).as("stats_rows"),
      lit(ndv("n_regionkey")).as("ndv_regionkey"),
      lit(ndv("n_nationkey")).as("ndv_nationkey"))
  }

  /** Streaming dedup, batch contract form (SURVEY row 52): the event table
    * replayed twice (simulated at-least-once delivery) then deduped on
    * event_id must aggregate exactly like the original single stream. The
    * streaming form (dropDuplicatesWithinWatermark) shares key semantics —
    * parity asserted in StreamingSpec.
    */
  private def qStreamDedup(s: SparkSession, dir: String): DataFrame = {
    val ev = wh(s, dir).loadTable("events")
    graft.streaming.Events.dedupBatch(ev.unionByName(ev), Seq("event_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
      .orderBy("event_type")
  }

  /** Warehouse MERGE / upsert (SURVEY row 34b): the customer table merged
    * with a per-customer order-spend batch — matched customers get segment
    * and balance overwritten, remapped (negative) keys become inserts,
    * order-less customers pass through. Exact long-cents arithmetic so the
    * oracle replays the whole merged table byte-for-byte.
    */
  private def qMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val target = w.loadTable("customer").select(
      col("c_custkey"), col("c_mktsegment"), cents(col("c_acctbal")).as("acct_cents"))
    val source = w.loadTable("orders")
      .groupBy("o_custkey")
      .agg(sum(cents(col("o_totalprice"))).cast("long").as("acct_cents"))
      .select(
        when(col("o_custkey") % 50 === 0, -col("o_custkey"))
          .otherwise(col("o_custkey")).as("c_custkey"),
        lit("MERGED").as("c_mktsegment"),
        col("acct_cents"))
    operators.Merge.mergeUpsert(target, source, Seq("c_custkey"))
      .orderBy("c_custkey")
  }

  /** SCD Type 2 dimension maintenance (SURVEY row 34c): a versioned
    * customer-segment dimension (synthetic LEGACY history for every 100th
    * key) updated from an order-derived batch — max order priority as the
    * new tier (every 7th key re-asserts its current segment → no-op path),
    * effective-dated at the customer's last order date, every 97th key
    * remapped negative → brand-new-key path. All five SCD2 row fates land
    * in one output the oracle rebuilds exactly.
    */
  private def qScd2(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val cust = w.loadTable("customer").select("c_custkey", "c_mktsegment")
    val dim = cust.select(
      col("c_custkey"), col("c_mktsegment").as("tier"),
      to_date(lit("1995-01-01")).as("valid_from"),
      lit(null).cast("date").as("valid_to"), lit(true).as("is_current"))
      .unionByName(cust.filter(col("c_custkey") % 100 === 0).select(
        col("c_custkey"), lit("LEGACY").as("tier"),
        to_date(lit("1990-01-01")).as("valid_from"),
        to_date(lit("1995-01-01")).as("valid_to"), lit(false).as("is_current")))
    val perCust = w.loadTable("orders").groupBy("o_custkey")
      .agg(max("o_orderpriority").as("prio"),
        max(to_date(col("o_orderdate"))).as("eff"))
    val updates = perCust
      .join(cust, perCust("o_custkey") === cust("c_custkey"))
      .select(
        when(col("o_custkey") % 97 === 0, -col("o_custkey"))
          .otherwise(col("o_custkey")).as("c_custkey"),
        when(col("o_custkey") % 7 === 0, col("c_mktsegment"))
          .otherwise(col("prio")).as("tier"),
        col("eff"))
    operators.Merge.scd2Apply(dim, updates, Seq("c_custkey"), Seq("tier"), "eff")
      .orderBy("c_custkey", "valid_from", "is_current")
  }

  /** Incremental association store (SURVEY row 22e-s): baskets arrive
    * in two batches (orders split by parity), each collapses to the
    * narrow mergeable count store, the merged store persists through
    * the Warehouse and is RELOADED — metrics computed from it must
    * equal the one-shot q_association oracle bit-for-bit
    * ([[operators.Stats.associationStore]]).
    */
  private def qAssociationStore(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("assoc", dir)
    val w = wh(s, dir)
    val wt = Warehouse(s, tmp)
    val li = w.loadTable("lineitem").select("l_orderkey", "l_partkey")
    val s1 = operators.Stats.associationStore(
      li.filter(pmod(col("l_orderkey"), lit(2)) === 0), "l_orderkey", "l_partkey")
    val s2 = operators.Stats.associationStore(
      li.filter(pmod(col("l_orderkey"), lit(2)) === 1), "l_orderkey", "l_partkey")
    wt.saveTable(operators.Stats.updateAssociationStore(s1, s2),
      tmp, "assoc_store")
    operators.Stats.associationFromStore(wt.loadTable("assoc_store"),
        minSupport = 2L, topK = 100)
      .orderBy(col("pair_count").desc, col("item_a"), col("item_b"))
  }

  /** Entity resolution (SURVEY row 30e): the q_fuzzy_join typo corpus
    * folded into ONE frame (originals + planted-typo copies at +10⁶
    * ids), resolved to canonical entities — each (original, typo) pair
    * must land in one cluster; the oracle replays the self fuzzy join
    * AND the recursive CC election
    * ([[operators.Relational.resolveEntities]]).
    */
  private def qEntityResolution(s: SparkSession, dir: String): DataFrame = {
    val d = wh(s, dir).loadTable("documents")
      .filter(col("text").isNotNull && length(col("text")) >= 40)
      .select(col("doc_id"), substring(col("text"), 1, 60).as("s"))
    val base = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val typo = base.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(substring(col("s"), 1, 29), lit("Z"),
        substring(col("s"), 31, 60)).as("s"))
    operators.Relational.resolveEntities(
        base.unionByName(typo), "doc_id", "s",
        thresholdNum = 4L, thresholdDen = 5L, n = 3, maxGramFreq = 0L)
      .select(col("doc_id"), col("entity_id"), col("keep"))
      .orderBy("doc_id")
  }

  /** Market-basket association pairs (SURVEY row 22e): parts
    * co-purchased within one order — support, directed confidences and
    * lift over lineitem baskets, integer-exact and fully replayed
    * relationally ([[operators.Stats.associationPairs]]).
    */
  private def qAssociation(s: SparkSession, dir: String): DataFrame =
    operators.Stats.associationPairs(
        wh(s, dir).loadTable("lineitem"), "l_orderkey", "l_partkey",
        minSupport = 2L, topK = 100)
      .orderBy(col("pair_count").desc, col("item_a"), col("item_b"))

  /** Point-in-time join (SURVEY row 34d): every order joins the customer
    * dimension VERSION valid at its order date — %100 customers carry a
    * LEGACY pre-1995 version, everyone a current one from 1995, so the
    * result exercises historical hits, current hits AND left-padded
    * facts predating the dimension; the oracle replays the validity
    * join relationally ([[operators.Merge.pointInTimeJoin]]).
    */
  private def qPointInTime(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val cust = w.loadTable("customer").select("c_custkey", "c_mktsegment")
    val dim = cust.select(
      col("c_custkey"), col("c_mktsegment").as("tier"),
      to_date(lit("1995-01-01")).as("valid_from"),
      lit(null).cast("date").as("valid_to"), lit(true).as("is_current"))
      .unionByName(cust.filter(col("c_custkey") % 100 === 0).select(
        col("c_custkey"), lit("LEGACY").as("tier"),
        to_date(lit("1990-01-01")).as("valid_from"),
        to_date(lit("1995-01-01")).as("valid_to"), lit(false).as("is_current")))
    val facts = w.loadTable("orders").select(
      col("o_orderkey"), col("o_custkey").as("c_custkey"),
      to_date(col("o_orderdate")).as("order_date"))
    operators.Merge.pointInTimeJoin(facts, dim, Seq("c_custkey"),
        "order_date", strict = true)
      .orderBy("o_orderkey")
  }

  /** PMI collocation mining (SURVEY row 47f): corpus-wide top adjacent
    * word pairs by association lift, integer-exact scores and ordering
    * ([[operators.TextAnalysis.collocations]]).
    */
  private def qCollocations(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.collocations(
      wh(s, dir).loadTable("documents"), "text", minCount = 5, topK = 100)

  /** Column profiling (SURVEY row 22b): exact one-pass profile of a typed
    * orders projection — row/non-null/distinct counts and min/max per
    * column ([[operators.Relational.profile]]; the frame-valued describe).
    * Longs/strings/dates only in the projection so the stringified
    * min/max compare byte-identically across engines.
    */
  private def qProfile(s: SparkSession, dir: String): DataFrame = {
    val o = wh(s, dir).loadTable("orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      cents(col("o_totalprice")).as("price_cents"),
      to_date(col("o_orderdate")).as("order_date"),
      col("o_orderpriority"))
    operators.Relational.profile(o, exact = true).orderBy("col_name")
  }

  /** Ordered event funnel (SURVEY row 50b): view → click → purchase
    * within a 3-day window of each user's first view, exact user counts
    * per step ([[operators.EventAnalytics.funnel]]).
    */
  private def qFunnel(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.funnel(wh(s, dir).loadTable("events"),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
      withinMinutes = 4320)

  /** Retention cohort triangle (SURVEY row 50c): first-activity cohorts ×
    * day offsets ≤ 7, exact active-user counts
    * ([[operators.EventAnalytics.retention]]).
    */
  private def qRetention(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.retention(wh(s, dir).loadTable("events"),
      "user_id", "ts", maxDays = 7)

  /** Heavy hitters (SURVEY row 56c): Misra-Gries sketch over the corpus
    * word stream at k=64 ≥ the 31-word vocabulary — the sketch is in its
    * exact regime (no decrement can fire), so the counters equal true
    * counts deterministically and the oracle replays them outright; the
    * sub-k estimator regime (decrements, merge subtraction, the error
    * band) is guarantee-pinned in StatsSpec with forced multi-partition
    * merges ([[operators.Stats.heavyHitters]]).
    */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val words = wh(s, dir).loadTable("documents")
      .select(explode(split(trim(col("text")), " ", -1)).as("w"))
    operators.Stats.heavyHitters(words, "w", k = 64)
      .orderBy(col("est_count").desc, col("item"))
  }

  /** Keyless binned range join (SURVEY row 30c): order totals against
    * overlapping price bands — the predicate Spark would otherwise plan
    * as a BroadcastNestedLoopJoin, run as an exact equi-join on bins
    * ([[operators.Relational.rangeJoin]]). Bands derive from nation (25
    * overlapping intervals); exact long-cents arithmetic throughout.
    */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val pts = w.loadTable("orders").select(
      col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
    val bands = w.loadTable("nation").select(
      col("n_nationkey").as("band_id"),
      (lit(1000000L) + col("n_nationkey") * 1500000L).as("lo_cents"),
      (lit(1000000L) + col("n_nationkey") * 1500000L + 4000000L).as("hi_cents"))
    operators.Relational.rangeJoin(pts, bands, "price_cents",
        "lo_cents", "hi_cents", binSize = 1000000L)
      .groupBy("band_id")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price_cents")).cast("long").as("sum_cents"))
      .orderBy("band_id")
  }

  /** BLOOM decontamination contract (SURVEY row 38c-b): every EXACTLY
    * contaminated doc must also be bloom-flagged (no false negatives —
    * the guarantee that matters for decontamination). Output = exact hits
    * with their bloom flags; a bloom miss breaks the hash. FP behavior is
    * spec-gated (deterministic bits, fixture-measured).
    */
  private def qDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val eval = docs.filter(col("doc_id") % 20 === 0)
    val rest = docs.filter(col("doc_id") % 20 =!= 0)
    val exact = Dedup.decontaminateMapSide(rest, "text",
        Dedup.trainDecontaminationSet(eval, "text", n = 3))
      .select(col("doc_id"), col("contaminated").as("exact_hit"))
    val bloomed = Dedup.decontaminateBloom(rest.select("doc_id", "text"), "text",
        Dedup.trainDecontaminationBloom(eval, "text", n = 3))
      .select(col("doc_id"), col("contaminated").as("bloom_hit"))
    exact.join(bloomed, Seq("doc_id")).filter(col("exact_hit"))
      .select(col("doc_id"), col("exact_hit"), col("bloom_hit"))
      .orderBy("doc_id")
  }

  /** Join-key skew profile (SURVEY row 56d): top (priority, status) keys
    * of orders with exact share arithmetic — k=64 exceeds the key
    * cardinality, so the MG pass is in its exact regime and DuckDB
    * replays counts AND floor-divided shares outright
    * ([[operators.Stats.skewProfile]]).
    */
  private def qSkewProfile(s: SparkSession, dir: String): DataFrame =
    operators.Stats.skewProfile(wh(s, dir).loadTable("orders"),
        Seq("o_orderpriority", "o_orderstatus"), k = 64)
      .orderBy(col("est_count").desc, col("item"))

  /** Z-order curve values (SURVEY row 33b): the exact integer quantize +
    * Morton interleave behind [[Warehouse.saveTableZordered]], replayed
    * bit-for-bit — layout benefit (per-file bounding boxes) is
    * spec-measured, the transform itself is oracle-exact.
    */
  private def qZorder(s: SparkSession, dir: String): DataFrame = {
    val o = wh(s, dir).loadTable("orders").select(
      col("o_orderkey"), col("o_custkey"),
      cents(col("o_totalprice")).as("price_cents"))
    Warehouse.zOrderValue(o, Seq("o_custkey", "price_cents"), bits = 8)
      .select(col("o_orderkey"), col("__graft_z").as("zval"))
      .orderBy("o_orderkey")
  }

  private def zorderOracleSql: String = {
    val terms = (for { b <- 0 until 8; i <- 0 until 2 } yield
      s"(((q$i >> $b) & 1) << ${b * 2 + i})").mkString(" | ")
    s"""WITH o AS (SELECT o_orderkey, o_custkey,
       |  cast(round(o_totalprice*100) AS bigint) AS price_cents FROM orders),
       |st AS (SELECT min(o_custkey) AS mn0, max(o_custkey) AS mx0,
       |       min(price_cents) AS mn1, max(price_cents) AS mx1 FROM o),
       |q AS (SELECT o_orderkey,
       |  CASE WHEN mx0 = mn0 THEN 0 ELSE cast((cast(o_custkey - mn0 AS hugeint)
       |    * 255) // (mx0 - mn0) AS bigint) END AS q0,
       |  CASE WHEN mx1 = mn1 THEN 0 ELSE cast((cast(price_cents - mn1 AS hugeint)
       |    * 255) // (mx1 - mn1) AS bigint) END AS q1
       | FROM o CROSS JOIN st)
       |SELECT o_orderkey, cast($terms AS bigint) AS zval
       |FROM q ORDER BY o_orderkey""".stripMargin
  }

  /** Per-group heavy hitters (SURVEY row 56c, grouped form): top words
    * per document language — exact regime (31-word vocab ≤ k), so DuckDB
    * replays grouped counts outright
    * ([[operators.Stats.heavyHitters]] with `groupCols`).
    */
  private def qHeavyHittersGrouped(s: SparkSession, dir: String): DataFrame = {
    val words = wh(s, dir).loadTable("documents")
      .select(col("lang"), explode(split(trim(col("text")), " ", -1)).as("w"))
    operators.Stats.heavyHitters(words, "w", k = 64, groupCols = Seq("lang"))
      .orderBy(col("lang"), col("est_count").desc, col("item"))
  }

  /** BM25 keyword top-20 (SURVEY row 60): integer-exact rational-idf
    * BM25 over the documents corpus for a 3-term query — sparse
    * retrieval, scored and ranked bit-identically by the DuckDB oracle
    * ([[operators.Retrieval.bm25TopK]]).
    */
  private def qBm25Topk(s: SparkSession, dir: String): DataFrame =
    operators.Retrieval.bm25TopK(
        wh(s, dir).loadTable("documents"), "text", "doc_id",
        Seq("vector", "join", "stream"), k = 20)
      .withColumnRenamed("id", "doc_id")

  /** IR evaluation metrics (SURVEY row 60d): recall@10 / MRR@10 /
    * nDCG@10 per judged query, all integer fixed-point. The harness
    * input is deterministic and relational on purpose — every doc_id
    * divisible by 50 is a query, its ranked list is the next 10 doc ids
    * (rank = distance), and its qrels are all same-lang docs — so the
    * oracle rebuilds results, qrels, the ilog2Fp DCG discounts AND the
    * cumulative ideal-DCG table, then replays every metric bit-exactly
    * ([[operators.Retrieval.retrievalMetrics]]).
    */
  private def qRetrievalMetrics(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents").select("doc_id", "lang")
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("qid"), col("lang").as("qlang"))
    // ranked lists: candidate id = qid + rank, kept only if the doc
    // exists (equi-joins only — no range/BNLJ shape even at demo scale)
    val results = queries
      .select(col("qid"), explode(sequence(lit(1L), lit(10L))).as("rank"))
      .withColumn("doc_id", col("qid") + col("rank"))
      .join(docs.select("doc_id"), Seq("doc_id"), "left_semi")
    val qrels = queries.join(docs,
        docs("lang") === queries("qlang") && docs("doc_id") =!= queries("qid"))
      .select(col("qid"), col("doc_id"))
    operators.Retrieval.retrievalMetrics(
        results.select(col("qid").as("doc_id"), col("doc_id").as("did"),
          col("rank")),
        qrels.select(col("qid").as("doc_id"), col("doc_id").as("did")),
        "doc_id", "did", "rank", k = 10)
      .orderBy("doc_id")
  }

  /** Hybrid retrieval via reciprocal-rank fusion (SURVEY row 60b): the
    * dense brute-force cosine top-20 for query vector 0 fused with the
    * sparse BM25 top-20 — the standard RAG hybrid-search combiner,
    * integer-exact RRF so the fused ordering replays in the oracle
    * ([[operators.Retrieval.rrfFuse]]).
    */
  private def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val emb = w.loadTable("embeddings")
    val dense = Similarity.bruteForceTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 20)
      .select(col("neighbor_id").as("id"), col("rank"))
    val sparse = operators.Retrieval.bm25TopK(
        w.loadTable("documents"), "text", "doc_id",
        Seq("vector", "join", "stream"), k = 20)
      .select(col("id"), col("rank"))
    operators.Retrieval.rrfFuse(dense, sparse, "id", "rank", k = 20)
      .withColumnRenamed("id", "doc_id")
  }

  /** Sliding-window event aggregation (SURVEY row 50d): 1-hour windows
    * every 15 minutes — each event in exactly 4 windows, starts emitted
    * as epoch micros so the overlap arithmetic is integer-exact in any
    * engine ([[streaming.Events.slidingWindowAggBatch]]).
    */
  private def qEventsSliding(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Events.slidingWindowAggBatch(
        wh(s, dir).loadTable("events"), "1 hour", "15 minutes")
      .orderBy("window_start_us", "event_type")

  /** Deterministic seeded shard assignment (SURVEY row 57e): the
    * training-data writer's reproducible global shuffle — md5-keyed
    * shard + within-shard sort key, a pure function of (seed, id)
    * ([[operators.Relational.shardAssign]]).
    */
  private def qShardAssign(s: SparkSession, dir: String): DataFrame =
    operators.Relational.shardAssign(
        wh(s, dir).loadTable("documents").select("doc_id"),
        "doc_id", nShards = 8, seed = 42L)
      .orderBy("doc_id")

  /** URL canonicalization (SURVEY row 48e): scheme/host case, www,
    * default ports, fragments, tracking params and param order all
    * normalized away — the key-normalization step of URL-level dedup.
    * Messy URLs are derived deterministically from (source, doc_id,
    * lang) in BOTH engines, so the kernel's full surface (http and
    * https branches, port stripping, www stripping, param sorting,
    * tracking-param drop, trailing-slash strip, fragment drop) is
    * hash-checked ([[TextAnalysis.canonicalizeUrl]]).
    */
  private def qUrlCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val url = when(pmod(col("doc_id"), lit(2)) === 0,
      concat(lit("HTTP://"), col("source"), lit(".Example.COM:80/Docs/"),
        col("doc_id").cast("string"), lit("/?b=2&a=1&utm_campaign=x")))
      .otherwise(
        concat(lit("HTTPS://WWW."), col("source"), lit(".example.com:443/Docs/"),
          col("doc_id").cast("string"), lit("?z="), col("lang"),
          lit("&a=1&fbclid=abc#frag")))
    TextAnalysis.canonicalizeUrl(docs.withColumn("url", url), "url")
      .select("doc_id", "url", "url_host", "url_canonical")
      .orderBy("doc_id")
  }

  /** Table time travel (SURVEY row 33c): two versioned writes, then
    * version-1, version-2, latest and as-of-now reads — the
    * Snowflake/BigQuery AT(version)/FOR SYSTEM_TIME AS OF surface on the
    * `_graft_v=N` + `_SUCCESS` commit layout
    * ([[Warehouse.saveTableVersioned]]). The oracle replays each
    * version's DERIVATION, so latest/as-of resolving to the wrong
    * version hash-mismatches.
    */
  private def qTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("tt", dir)
    val w = wh(s, dir)
    val wt = Warehouse(s, tmp)
    // idempotent under bench reps: drop any versions from a prior rep
    val base = new org.apache.hadoop.fs.Path(Warehouse.tablePath(tmp, "ordersv"))
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val o = w.loadTable("orders").select(
      col("o_orderkey"), col("o_orderstatus"),
      cents(col("o_totalprice")).as("price_cents"))
    require(wt.saveTableVersioned(o.filter(col("o_orderstatus") === "F"),
      tmp, "ordersv") == 1L)
    require(wt.saveTableVersioned(
      o.filter(col("o_orderstatus").isin("F", "O")), tmp, "ordersv") == 2L)
    def stats(df: DataFrame, label: String) =
      df.agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).cast("long").as("sum_price_cents"))
        .select(lit(label).as("which"), col("n_rows"), col("sum_price_cents"))
    stats(wt.loadTableVersion("ordersv", 1), "v1")
      .unionByName(stats(wt.loadTableVersion("ordersv", 2), "v2"))
      .unionByName(stats(wt.loadTable("ordersv"), "latest"))
      .unionByName(stats(
        wt.loadTableAsOf("ordersv", System.currentTimeMillis()), "asof_now"))
      .orderBy("which")
  }

  /** RESTORE to version (SURVEY row 33g): v1 = F orders, v2 = F∪O (the
    * "bad deploy"), restore(v1) commits v3 whose content is v1 — latest
    * flips back atomically, history stays readable
    * ([[Warehouse.restoreTableVersion]]). The oracle replays all four
    * snapshots' stats plus the version count from the orders table.
    */
  private def qRestore(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("restore", dir)
    val w = wh(s, dir)
    val wt = Warehouse(s, tmp)
    val base = new org.apache.hadoop.fs.Path(Warehouse.tablePath(tmp, "ordersr"))
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val o = w.loadTable("orders").select(
      col("o_orderkey"), col("o_orderstatus"),
      cents(col("o_totalprice")).as("price_cents"))
    require(wt.saveTableVersioned(o.filter(col("o_orderstatus") === "F"),
      tmp, "ordersr") == 1L)
    require(wt.saveTableVersioned(
      o.filter(col("o_orderstatus").isin("F", "O")), tmp, "ordersr") == 2L)
    require(wt.restoreTableVersion(tmp, "ordersr", 1L) == 3L)
    require(wt.listVersions("ordersr") == Seq(1L, 2L, 3L),
      "restore preserves history")
    def stats(df: DataFrame, label: String) =
      df.agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).cast("long").as("sum_price_cents"))
        .select(lit(label).as("which"), col("n_rows"), col("sum_price_cents"))
    stats(wt.loadTable("ordersr"), "latest_is_v1_again")
      .unionByName(stats(wt.loadTableVersion("ordersr", 2), "v2_still_readable"))
      .withColumn("n_versions", lit(3L))
      .orderBy("which")
  }

  /** Retention / VACUUM (SURVEY row 33f): three versions written, the
    * oldest vacuumed under keepLast = 2 — the oracle replays the
    * SURVIVING versions' derivations plus the retention metadata, and
    * the query itself asserts the dropped version is unreadable and the
    * version list shrank ([[Warehouse.vacuumTable]]).
    */
  private def qVacuum(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("vac", dir)
    val w = wh(s, dir)
    val wt = Warehouse(s, tmp)
    val base = new org.apache.hadoop.fs.Path(Warehouse.tablePath(tmp, "ordersvac"))
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    val o = w.loadTable("orders").select(
      col("o_orderkey"), col("o_orderstatus"),
      cents(col("o_totalprice")).as("price_cents"))
    require(wt.saveTableVersioned(o.filter(col("o_orderstatus") === "F"),
      tmp, "ordersvac") == 1L)
    require(wt.saveTableVersioned(
      o.filter(col("o_orderstatus").isin("F", "O")), tmp, "ordersvac") == 2L)
    require(wt.saveTableVersioned(o, tmp, "ordersvac") == 3L)
    val dropped = wt.vacuumTable(tmp, "ordersvac", keepLast = 2)
    require(dropped == Seq(1L), s"expected to drop v1, got $dropped")
    require(wt.listVersions("ordersvac") == Seq(2L, 3L),
      s"expected versions [2, 3], got ${wt.listVersions("ordersvac")}")
    require(scala.util.Try(wt.loadTableVersion("ordersvac", 1).count()).isFailure,
      "vacuumed version must be unreadable")
    def stats(df: DataFrame, label: String) =
      df.agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).cast("long").as("sum_price_cents"))
        .select(lit(label).as("which"), col("n_rows"), col("sum_price_cents"))
    stats(wt.loadTable("ordersvac"), "latest")
      .unionByName(stats(wt.loadTableVersion("ordersvac", 2), "oldest_kept"))
      .unionByName(s.range(1).select(lit("meta").as("which"),
        lit(wt.listVersions("ordersvac").length.toLong).as("n_rows"),
        lit(dropped.head).as("sum_price_cents")))
      .orderBy("which")
  }

  /** Compaction (SURVEY row 33d): a 16-file table rewritten to 1 file by
    * [[Warehouse.compactTable]]; the oracle replays the content from the
    * source table, so any row lost or duplicated by the swap
    * hash-mismatches, and the before/after file counts ride along as
    * checked literals (16 round-robin partitions are all non-empty at
    * every SF; the huge targetBytes forces n=1).
    */
  private def qCompact(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("cmp", dir)
    val w = wh(s, dir)
    val wt = Warehouse(s, tmp)
    val li = w.loadTable("lineitem").select(
      col("l_orderkey"), col("l_returnflag"),
      cents(col("l_extendedprice")).as("price_cents"))
    wt.saveTable(li.repartition(16), tmp, "li_small")
    def dataFiles(): Int = {
      val p = new org.apache.hadoop.fs.Path(Warehouse.tablePath(tmp, "li_small"))
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(p).count(st => st.isFile &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
    }
    val before = dataFiles()
    wt.compactTable(tmp, "li_small", targetBytes = 1L << 40)
    val after = dataFiles()
    wt.loadTable("li_small")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price_cents")).cast("long").as("sum_price_cents"))
      .withColumn("files_before", lit(before))
      .withColumn("files_after", lit(after))
      .orderBy("l_returnflag")
  }

  /** Negative sampling (SURVEY row 57f): contrastive-training negatives
    * for 8 query docs whose positives are their same-source docs — k=5
    * seeded md5-ranked draws per query, positives and self excluded,
    * ranking and 48-bit keys engine-exact
    * ([[operators.Relational.negativeSample]]).
    */
  private def qNegativeSample(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val a = docs.select(col("doc_id").as("q_id"), col("source"))
      .filter(col("q_id") < 8)
    val positives = a.join(
        docs.select(col("doc_id").as("pos_id"), col("source")), Seq("source"))
      .filter(col("pos_id") =!= col("q_id"))
      .select("q_id", "pos_id")
    operators.Relational.negativeSample(
        positives, docs, "q_id", "pos_id", "doc_id", k = 5, seed = 42L)
      .orderBy("query_id", "rank")
  }

  /** MMR diversity re-rank (SURVEY row 44f): the brute-force top-20
    * shortlists of 4 query vectors re-ranked to 5 diverse picks by
    * greedy maximal marginal relevance (λ=0.7) — the redundancy-removal
    * step between ANN retrieval and a RAG context window; every greedy
    * argmax replayed bit-identically by the oracle
    * ([[operators.Retrieval.mmrRerank]]).
    */
  private def qAnnMmr(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
    val shortlist = Similarity.bruteForceTopK(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 4), "vec_id", "embedding", k = 20)
    val cands = shortlist.join(
      emb.select(col("vec_id").as("neighbor_id"), col("embedding")),
      Seq("neighbor_id"))
    operators.Retrieval.mmrRerank(
        cands, "query_id", "neighbor_id", "embedding", "score", k = 5)
      .orderBy("query_id", "rank")
  }

  /** Event transition matrix (SURVEY row 50e): first-order Markov
    * (from → to) counts over each user's (ts, event_id)-ordered chain,
    * with integer-exact transition shares
    * ([[operators.EventAnalytics.transitions]]).
    */
  private def qEventTransitions(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.transitions(
      wh(s, dir).loadTable("events"), "user_id", "event_type", "ts", "event_id")

  /** Quantile-calibrated per-group filter (SURVEY row 56e consumer):
    * "keep each language's top ~30% by length" — per-lang p70 cutoffs
    * from [[operators.Stats.groupedQuantiles]] (exact form), docs join
    * their group's cutoff (broadcast — the cutoff frame is |groups| ×
    * |qs| rows) and filter value ≥ cutoff. The per-source/per-language
    * quality-threshold calibration step of corpus curation, composed
    * from the quantile operator so the whole chain stays oracle-exact.
    */
  private def qQuantileFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val cuts = operators.Stats.groupedQuantiles(
        docs, "lang", "n_chars", Seq(700000L), exact = true)
      .select(col("grp").as("lang"), col("value").as("__cut"))
    docs.join(broadcast(cuts), Seq("lang"))
      .filter(col("n_chars").cast("double") >= col("__cut"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** K-core decomposition (SURVEY row 61f): the 10-core of the trade
    * graph by synchronous peeling — survivors and their in-core degrees,
    * every round replayed relationally ([[operators.Graph.kCore]]).
    */
  private def qKCore(s: SparkSession, dir: String): DataFrame =
    operators.Graph.kCore(tradeGraphEdges(s, dir, symmetric = false),
        "src", "dst", k = 10, maxIters = 8)
      .orderBy("node")

  /** DuckDB replay of [[operators.Graph.kCore]]: 8 synchronous peel
    * rounds unrolled — per round, surviving degrees, the ≥ k keep set,
    * and the edge restriction to kept endpoints; monotone peeling makes
    * a converged result identical to the full unroll, so operator
    * early-exit cannot diverge.
    */
  private val kCoreOracleSql: String = {
    val (k, iters) = (10, 8)
    val rounds = (1 to iters).map { i =>
      val prev = s"e${i - 1}"
      s"""k$i AS MATERIALIZED (
         | SELECT src FROM $prev GROUP BY src HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (
         | SELECT e.src, e.dst FROM $prev e
         | JOIN k$i a ON e.src = a.src JOIN k$i b ON e.dst = b.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
       | SELECT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
       | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |e0 AS MATERIALIZED (
       | SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw)
       | WHERE src != dst),
       |$rounds
       |SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
       |FROM e$iters GROUP BY src ORDER BY node""".stripMargin
  }

  /** Token-budget mixture sample (SURVEY row 57i): per-source document
    * selection in seeded md5 order until each source's 4000-char budget
    * is exhausted (boundary doc included; src18/src19 have no budget and
    * contribute nothing) — the tokens-not-doc-counts form of mixture
    * sampling, on the distributed two-pass prefix sum
    * ([[operators.Relational.tokenBudgetSample]]).
    */
  private def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val budgets = (0 until 18).map(i => s"src$i" -> 4000L).toMap
    operators.Relational.tokenBudgetSample(
        wh(s, dir).loadTable("documents"), "source", "doc_id", "n_chars",
        budgets)
      .orderBy("stratum", "id")
  }

  /** INCREMENTAL embedding near-dup recall (SURVEY row 42-inc),
    * oracle-checked like [[qDedupIncremental]]: 16 perturbed clones
    * arrive as the batch, deduped against the VECTOR STORE of the
    * historical corpus ([[Dedup.embeddingNearDupIncremental]] — old-old
    * pairs never generated), and every DuckDB-exact cosine ≥ 0.7 pair
    * involving a clone must be found at threshold 0.5 (the
    * [[qEmbeddingRecall]] margin).
    */
  private def qEmbeddingIncremental(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
    val clones = emb.filter(col("vec_id") < 16)
      .select((lit(2000000L) + col("vec_id")).as("vec_id"),
        expr("transform(embedding, (x, i) -> IF(i = vec_id % 64, CAST(0 AS FLOAT), x))")
          .as("embedding"))
    val store = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val found = Dedup.embeddingNearDupIncremental(clones, "vec_id", "embedding",
        store, threshold = 0.5, numBits = 8, numTables = 16)
      .select(col("id_a"), col("id_b"), lit(true).as("__hit"))
    val aug = emb.select("vec_id", "embedding").unionByName(clones)
    val exact = aug.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .crossJoin(broadcast(
        clones.select(col("vec_id").as("id_b"), col("embedding").as("vb"))))
      .filter(col("id_a") < col("id_b"))
      .withColumn("__cos", GraftFunctions.cosineSim(col("va"), col("vb")))
      .filter(col("__cos") >= 0.7)
      .select("id_a", "id_b")
    exact.join(found, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("__hit"), lit(false)).as("found_incremental"))
      .orderBy("id_a", "id_b")
  }

  /** INCREMENTAL simhash near-dup contract (SURVEY row 40-inc),
    * oracle-checked: every 25th long document arrives again as an exact
    * copy; the batch's signatures probe the historical SIGNATURE STORE
    * ([[Dedup.simhashSignatures]] + [[Dedup.hammingNearDupIncremental]]
    * — old-old pairs never generated), and every (original, copy) pair
    * MUST surface: identical text → identical signature → hamming 0,
    * which the disjoint pigeonhole blocking finds deterministically at
    * any radius.
    */
  private def qSimhashIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents").select("doc_id", "text", "n_chars")
    val store = Dedup.simhashSignatures(docs, "doc_id", "text")
    val batch = docs.filter(col("doc_id") % 25 === 0 && col("n_chars") >= 100)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val found = Dedup.hammingNearDupIncremental(
        Dedup.simhashSignatures(batch, "doc_id", "text"), "id", "sig", store,
        maxHamming = 3)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        lit(true).as("__hit"))
    docs.filter(col("doc_id") % 25 === 0 && col("n_chars") >= 100)
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1000000L).as("doc_b"))
      .join(found, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("__hit"), lit(false)).as("found_incremental"))
      .orderBy("doc_a", "doc_b")
  }

  /** Schema evolution (SURVEY row 33e): a table written with two columns,
    * appended with a third — the merged read yields the union schema with
    * NULLs for the pre-evolution rows (BigQuery schema relaxation /
    * Snowflake ADD COLUMN semantics); a column retype is refused
    * ([[graft.Warehouse.appendTable]], `loadTable(mergeSchema = true)`).
    */
  private def qSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val tmp = scratch("evo", dir)
    val orders = w.loadTable("orders")
    w.saveTable(orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice")), tmp, "t")
    val wt = Warehouse(s, tmp)
    wt.appendTable(orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_custkey")),
      tmp, "t")
    val retypeRefused =
      try {
        wt.appendTable(orders.limit(1)
          .select(col("o_orderkey").cast("string"), col("o_totalprice")),
          tmp, "t")
        false
      } catch { case _: IllegalArgumentException => true }
    wt.loadTable("t", mergeSchema = true)
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_custkey")).as("n_evolved"),
        sum(cents(col("o_totalprice"))).as("sum_price_cents"),
        sum(col("o_custkey")).cast("long").as("sum_custkey"))
      .select(col("n_rows"), col("n_evolved"), col("sum_price_cents"),
        col("sum_custkey"), lit(retypeRefused).as("retype_refused"))
  }

  /** Unpivot / melt (SURVEY row 53b): orders' numeric metrics folded to
    * long (o_orderkey, metric, value) rows — the warehouse UNPIVOT verb,
    * inverse of pivot ([[operators.Relational.unpivot]]).
    */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame =
    operators.Relational.unpivot(
        wh(s, dir).loadTable("orders")
          .withColumn("o_key_x2", col("o_orderkey") * 2.0),
        Seq("o_orderkey"), Seq("o_totalprice", "o_key_x2"))
      .orderBy("o_orderkey", "metric")

  /** Incremental quota store (SURVEY row 57h-inc): the per-source cap
    * maintained across two arriving halves of the corpus — store from
    * batch 1, batch 2 folded in (better rows evict stored ones), final
    * store must equal the ONE-SHOT election over everything
    * ([[operators.Relational.quotaStore]]/[[operators.Relational.updateQuotaStore]]).
    */
  private def qQuotaIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val store1 = operators.Relational.quotaStore(
      docs.filter(col("doc_id") % 2 === 0), "source", "doc_id", 10,
      Some("n_chars"))
    operators.Relational.updateQuotaStore(
        store1, docs.filter(col("doc_id") % 2 === 1), "source", "doc_id", 10,
        Some("n_chars"))
      .select(col("doc_id"), col("source"), col("__score").as("score"))
      .orderBy("doc_id")
  }

  /** Exact grouped quantiles (SURVEY row 56e): per-order-priority
    * o_totalprice at q ∈ {0.5, 0.9, 0.99}, rank ⌈q·n⌉ computed in
    * integer millionths — no float rank anywhere
    * ([[operators.Stats.groupedQuantiles]], exact form).
    */
  private def qGroupedQuantiles(s: SparkSession, dir: String): DataFrame =
    operators.Stats.groupedQuantiles(
      wh(s, dir).loadTable("orders"), "o_orderpriority", "o_totalprice",
      Seq(500000L, 900000L, 990000L), exact = true)

  /** Bloom-prefiltered join (SURVEY row 29d): lineitem pre-filtered
    * map-side against a Bloom sketch of the selective high-value order
    * keys before the join shuffle — result row-identical to the plain
    * join ([[operators.Relational.bloomPrefilteredJoin]]).
    */
  private def qBloomJoin(s: SparkSession, dir: String): DataFrame = {
    val w = wh(s, dir)
    val hot = w.loadTable("orders").filter(col("o_totalprice") > 300000.0)
      .select(col("o_orderkey").as("l_orderkey"))
    operators.Relational.bloomPrefilteredJoin(
        w.loadTable("lineitem"), hot, Seq("l_orderkey"))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_items"),
        sum(cents(col("l_quantity"))).as("sum_qty_cents"))
      .orderBy("l_orderkey")
  }

  /** Per-source quota cap (SURVEY row 57h): at most 10 documents per
    * source, keeping the longest (n_chars desc, tie doc_id asc) — the
    * per-domain cap of web-corpus curation, elected by the bounded
    * [[graft.functions.TopKAgg]] instead of a full per-group sort
    * ([[operators.Relational.capPerKey]]).
    */
  private def qQuotaCap(s: SparkSession, dir: String): DataFrame =
    operators.Relational.capPerKey(
        wh(s, dir).loadTable("documents"), "source", "doc_id", n = 10,
        scoreCol = Some("n_chars"))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  /** Rolling z-score anomaly detection (SURVEY row 50f): each event vs
    * the integer mean/variance of its user's previous 20 events, flagged
    * beyond 3σ via the cross-multiplied all-long decision
    * (n·v − s)² > 9·(n·s2 − s²) ([[operators.EventAnalytics.rollingAnomaly]]).
    */
  private def qRollingAnomaly(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.rollingAnomaly(
        wh(s, dir).loadTable("events"), "user_id", "ts", "event_id", "value",
        window = 20, minPrev = 8, z = 3)
      .orderBy("event_id")

  /** Hourly resample with gap fill (SURVEY row 50g): events rolled up to
    * per-user 1-hour buckets over their own 30-day span — event count,
    * cents sum, and the last value carried forward across empty buckets;
    * the oracle rebuilds the grid with generate_series and an
    * IGNORE NULLS window ([[operators.EventAnalytics.resample]]).
    */
  private def qResample(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.resample(
        wh(s, dir).loadTable("events"), "user_id", "ts", "event_id", "value",
        bucketSeconds = 3600)
      .orderBy("user_id", "bucket")

  /** Distributed BPE tokenizer training (SURVEY row 47b-d): 16 merges
    * learned over the documents corpus with the engine-exact pair-count
    * + greedy-merge contract; the oracle unrolls all 16 rounds as CTEs
    * and replays every chosen pair AND its count
    * ([[operators.Bpe.trainDistributed]]).
    */
  private def qBpeTrain(s: SparkSession, dir: String): DataFrame =
    operators.Bpe.trainDistributed(
        wh(s, dir).loadTable("documents"), "text", numMerges = 16)
      .orderBy("merge_rank")

  /** Corpus-wide encoding under the distributed-trained tokenizer
    * (SURVEY row 47b-e): train 16 merges, then count per-document
    * words and BPE tokens via the broadcast segmented vocabulary; the
    * oracle replays training AND encoding in one statement
    * ([[operators.Bpe.encodeCorpus]]).
    */
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val merges = operators.Bpe.trainDistributed(docs, "text", numMerges = 16)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    operators.Bpe.encodeCorpus(docs, "doc_id", "text", merges)
      .orderBy("doc_id")
  }

  /** Trained-tokenizer persistence contract (SURVEY row 47b-d): the
    * merge table saves through the Warehouse like any frame, and the
    * reloaded model must encode the whole corpus bit-identically to the
    * freshly trained one — real pipelines train a tokenizer once and
    * encode for months ([[operators.Bpe.trainDistributed]] /
    * [[operators.Bpe.encodeCorpus]]).
    */
  private def qBpeModelRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    val mergesDf = operators.Bpe.trainDistributed(docs, "text", numMerges = 16)
    val outDir = scratch("models", dir)
    val mw = Warehouse(s, outDir)
    mw.saveTable(mergesDf, outDir, "bpe_merges")
    def asSeq(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sortBy(_._1)
    val fresh = asSeq(mergesDf)
    val reloaded = asSeq(mw.loadTable("bpe_merges"))
    val a = operators.Bpe.encodeCorpus(docs, "doc_id", "text", fresh)
      .select(col("doc_id"), col("n_tokens").as("t1"))
    val b = operators.Bpe.encodeCorpus(docs, "doc_id", "text", reloaded)
      .select(col("doc_id"), col("n_tokens").as("t2"))
    a.join(b, Seq("doc_id"), "full")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("t1") <=> col("t2"), 0).otherwise(1)).as("__m"))
      .select(col("n_rows"), (col("__m") === 0).as("counts_identical"),
        lit(fresh == reloaded).as("merges_identical"))
  }

  /** Signed random projection 64→16 dims (SURVEY row 43g): the
    * md5-seeded ±1 matrix folded over fixed-point embeddings in one
    * codegen pass; the oracle rebuilds the matrix from the same seed
    * and replays all 8,000 projections bit-exactly
    * ([[operators.Similarity.randomProject]]).
    */
  private def qRandomProject(s: SparkSession, dir: String): DataFrame =
    operators.Similarity.randomProject(
        wh(s, dir).loadTable("embeddings"), "vec_id", "embedding",
        k = 16, seed = 7L)
      .orderBy("vec_id", "dim")

  /** Multi-touch attribution (SURVEY row 50h): purchases credited to the
    * view/click touches in the preceding 24 h — linear ppm credit plus
    * first/last-touch flags, direct conversions riding along; the
    * oracle replays the pairing, election, and floor-division credit
    * ([[operators.EventAnalytics.attribution]]).
    */
  private def qAttribution(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.attribution(
        wh(s, dir).loadTable("events"), "user_id", "ts", "event_id",
        "event_type", convType = "purchase",
        touchTypes = Seq("view", "click"), windowSeconds = 86400)
      .orderBy(col("conv_id"), col("touch_id").asc_nulls_first)

  /** CUSUM level-shift detection (SURVEY row 50i): cumulative one-sided
    * drift of event values vs a $40 reference, $5 slack, $200 alarm
    * threshold — the sequential recurrence the oracle replays as one
    * recursive CTE stepping a rank per key
    * ([[operators.EventAnalytics.cusum]]).
    */
  private def qCusum(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.cusum(
        wh(s, dir).loadTable("events"), "user_id", "ts", "event_id", "value",
        targetCents = 4000, slackCents = 500, threshCents = 20000)
      .orderBy("user_id", "us", "event_id")

  /** ACF sufficient-statistics store (SURVEY row 50t-store): one narrow
    * row per key scores every lag without touching history — must equal
    * the one-shot ACF bit-exactly, so the oracle IS q_acf's replay
    * ([[operators.EventAnalytics.acfStore]]).
    */
  private def qAcfStore(s: SparkSession, dir: String): DataFrame = {
    val store = operators.EventAnalytics.acfStore(
      wh(s, dir).loadTable("events"), "user_id", "ts", "event_id", "value",
      maxLag = 12)
    operators.EventAnalytics.acfFromStore(store, "user_id")
      .orderBy("user_id", "lag")
  }

  /** Incremental ACF continuation (SURVEY row 50t-inc): store(A)
    * updated with B scores identically to the one-shot over A ∪ B under
    * the append-order time split — history never rescanned; the oracle
    * IS q_acf's full replay ([[operators.EventAnalytics.updateAcfStore]]).
    */
  private def qAcfIncremental(s: SparkSession, dir: String): DataFrame = {
    val evLtz = graft.streaming.Events.tsLtz(wh(s, dir).loadTable("events"))
    val cutoff = 1706400000000000L
    val hist = evLtz.filter(unix_micros(col("ts")) < cutoff)
    val batch = evLtz.filter(unix_micros(col("ts")) >= cutoff)
    val store = operators.EventAnalytics.acfStore(
      hist, "user_id", "ts", "event_id", "value", maxLag = 12)
    val updated = operators.EventAnalytics.updateAcfStore(
      store, batch, "user_id", "ts", "event_id", "value", maxLag = 12)
    operators.EventAnalytics.acfFromStore(updated, "user_id")
      .orderBy("user_id", "lag")
  }

  /** Trend store scoring (SURVEY row 50u-store): three longs per key
    * reproduce the one-shot OLS bit-exactly (Σx/Σx² are closed forms
    * of n), so the oracle IS q_trend's replay
    * ([[operators.EventAnalytics.trendStore]]).
    */
  private def qTrendStore(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.trendFromStore(
      operators.EventAnalytics.trendStore(
        wh(s, dir).loadTable("events"), "user_id", "ts", "event_id", "value"),
      "user_id").orderBy("user_id")

  /** Incremental trend continuation (SURVEY row 50u-inc): store(A)
    * folded with B under the append-order split scores identically to
    * the one-shot over A ∪ B — the oracle IS q_trend's replay
    * ([[operators.EventAnalytics.updateTrendStore]]).
    */
  private def qTrendIncremental(s: SparkSession, dir: String): DataFrame = {
    val evLtz = graft.streaming.Events.tsLtz(wh(s, dir).loadTable("events"))
    val cutoff = 1706400000000000L
    val hist = evLtz.filter(unix_micros(col("ts")) < cutoff)
    val batch = evLtz.filter(unix_micros(col("ts")) >= cutoff)
    val store = operators.EventAnalytics.trendStore(
      hist, "user_id", "ts", "event_id", "value")
    operators.EventAnalytics.trendFromStore(
        operators.EventAnalytics.updateTrendStore(
          store, batch, "user_id", "ts", "event_id", "value"),
        "user_id")
      .orderBy("user_id")
  }

  /** Cluster medoid election (SURVEY row 42c): the exact Σ-squared-L2
    * representative per md5-derived embedding cluster via the
    * n·‖q‖² − 2·q·S + Σ‖q‖² identity — no pairwise join
    * ([[operators.Similarity.clusterMedoid]]).
    */
  private def qClusterMedoid(s: SparkSession, dir: String): DataFrame = {
    val emb = wh(s, dir).loadTable("embeddings")
      .withColumn("cluster_id", pmod(
        conv(substring(md5(concat(lit("m:"), col("vec_id").cast("string"))),
          1, 15), 16, 10).cast("long"), lit(16L)))
    operators.Similarity.clusterMedoid(emb, "vec_id", "embedding",
        "cluster_id")
      .orderBy("cluster_id")
  }

  /** Right-to-be-forgotten deletion (SURVEY row 34f): erasure-request
    * anti-join over customers (97-multiples plus unmatched negatives),
    * audited per segment ([[operators.Merge.forgetKeys]]).
    */
  private def qForget(s: SparkSession, dir: String): DataFrame = {
    val cust = wh(s, dir).loadTable("customer")
    val req = cust.filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
      .unionByName(cust.filter(col("c_custkey") % 89 === 0)
        .select((-col("c_custkey")).as("c_custkey")))
    val after = operators.Merge.forgetKeys(cust, req, Seq("c_custkey"))
    cust.groupBy("c_mktsegment").agg(count(lit(1)).as("n_before"))
      .join(after.groupBy("c_mktsegment").agg(count(lit(1)).as("n_after")),
        Seq("c_mktsegment"), "left")
      .select(col("c_mktsegment"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_removed"))
      .orderBy("c_mktsegment")
  }

  /** Right-to-be-forgotten REWRITE (SURVEY row 34f'): the composed
    * erasure verb for versioned tables — [[Warehouse.forgetAndRewrite]]
    * erases the latest version, purges every PRIOR version still
    * holding a requested key (time travel must not resurrect erased
    * rows), and appends the audit row. The requires() pin the
    * filesystem truths (which versions remain readable, the audit log
    * landing); the emitted frame replays relationally: per-segment
    * post-erasure stats + the audit counts + the purge count (the
    * purge condition — "did the even-keys v1 hold any requested
    * key" — is itself a relational EXISTS the oracle recomputes).
    */
  private def qForgetRewrite(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("rtbf", dir)
    val wt = Warehouse(s, tmp)
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq("custfr", "custfr__forget_audit").foreach { t =>
      val p = new org.apache.hadoop.fs.Path(Warehouse.tablePath(tmp, t))
      if (fs.exists(p)) fs.delete(p, true)
    }
    val c = wh(s, dir).loadTable("customer").select(
      col("c_custkey"), col("c_mktsegment"),
      cents(col("c_acctbal")).as("bal_cents"))
    require(wt.saveTableVersioned(
      c.filter(col("c_custkey") % 2 === 0), tmp, "custfr") == 1L)
    require(wt.saveTableVersioned(c, tmp, "custfr") == 2L)
    val req = c.filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
      .unionByName(c.filter(col("c_custkey") % 89 === 0)
        .select((-col("c_custkey")).as("c_custkey")))
    val audit = wt.forgetAndRewrite(tmp, "custfr", req, Seq("c_custkey"))
    val v1HadKey = !c.filter(
      col("c_custkey") % 2 === 0 && col("c_custkey") % 97 === 0).isEmpty
    require(wt.listVersions("custfr") ==
      (if (v1HadKey) Seq(3L) else Seq(1L, 3L)),
      "every key-bearing prior version must be purged, clean ones kept")
    require(scala.util.Try(
      wt.loadTableVersion("custfr", 2).count()).isFailure,
      "the pre-erasure snapshot must be unreadable through time travel")
    require(wt.loadTable("custfr__forget_audit").count() == 1L,
      "exactly one audit row lands in the companion log")
    val segs = wt.loadTable("custfr")
      .groupBy(col("c_mktsegment").as("which"))
      .agg(count(lit(1)).as("n_rows"),
        sum("bal_cents").cast("long").as("sum_bal_cents"))
    segs
      .unionByName(audit.select(lit("~audit_counts").as("which"),
        col("n_removed").as("n_rows"),
        col("n_keys_requested").as("sum_bal_cents")))
      .unionByName(audit.select(lit("~audit_versions").as("which"),
        col("new_version").as("n_rows"),
        col("n_versions_purged").as("sum_bal_cents")))
      .orderBy("which")
  }

  /** Link prediction (SURVEY row 61g): common-neighbor / Jaccard /
    * Adamic-Adar scores for distance-2 non-adjacent pairs of the trade
    * graph — the AA term via the shared ilog2Fp recurrence
    * ([[operators.Graph.linkPrediction]]).
    */
  private def qLinkPrediction(s: SparkSession, dir: String): DataFrame =
    operators.Graph.linkPrediction(
        tradeGraphEdges(s, dir, symmetric = false), "src", "dst",
        maxDegree = 100L, minCommon = 2L)
      .orderBy("u", "v")

  /** PMI / mutual-information association (SURVEY row 22g): return
    * flag × line status contingency in exact ilog2 fixed point
    * ([[operators.Stats.pmiProfile]]).
    */
  private def qPmi(s: SparkSession, dir: String): DataFrame =
    operators.Stats.pmiProfile(
        wh(s, dir).loadTable("lineitem"), "l_returnflag", "l_linestatus")
      .orderBy("l_returnflag", "l_linestatus")

  /** Benford first-digit profile (SURVEY row 22f): integer-cents first
    * digits per return flag vs the exact-10⁶-sum ppm constants — the
    * fraud/fabrication screen ([[operators.Stats.benfordProfile]]).
    */
  private def qBenford(s: SparkSession, dir: String): DataFrame =
    operators.Stats.benfordProfile(
        wh(s, dir).loadTable("lineitem"), "l_returnflag", "l_extendedprice")
      .orderBy("l_returnflag", "digit")

  /** Theil-Sen + Mann-Kendall robust trend (SURVEY row 50v): median
    * pairwise slope (exact two-middle-ranks, ×2) and the sign-based S/τ
    * statistics off ONE pairwise self-join per key
    * ([[operators.EventAnalytics.robustTrend]]).
    */
  private def qRobustTrend(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.robustTrend(
        wh(s, dir).loadTable("events"), "user_id", "ts", "event_id", "value")
      .orderBy("user_id")

  /** Per-key OLS trend fit (SURVEY row 50u): slope/intercept over event
    * rank in exact integer arithmetic — grouped HUGEINT sums, two
    * truncating divisions ([[operators.EventAnalytics.trendFit]]).
    */
  private def qTrend(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.trendFit(
        wh(s, dir).loadTable("events"), "user_id", "ts", "event_id", "value")
      .orderBy("user_id")

  /** Autocorrelation + dominant period (SURVEY row 50t): integer-exact
    * sample ACF at lags 1..12 via the n·x−S mean-clearing, one
    * truncating division per lag, argmax dominant
    * ([[operators.EventAnalytics.autocorrelation]]).
    */
  private def qAcf(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.autocorrelation(
        wh(s, dir).loadTable("events"), "user_id", "ts", "event_id", "value",
        maxLag = 12)
      .orderBy("user_id", "lag")

  /** Changepoint localization (SURVEY row 50s): the single best
    * level-shift split per key by exact integer between-segment SS —
    * windows + one HUGEINT/DECIMAL(38) truncating division, replayed
    * closed-form (no recursion)
    * ([[operators.EventAnalytics.changepoint]]).
    */
  private def qChangepoint(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.changepoint(
        wh(s, dir).loadTable("events"), "user_id", "ts", "event_id", "value",
        minGainE6 = 100000000000000L)
      .orderBy("user_id")

  /** EWMA smoothing + trend-deviation flag (SURVEY row 50j): α = 0.2
    * integer fixed-point level, $30 deviation alarm — the sequential
    * recurrence the oracle replays as one recursive CTE stepping a rank
    * per key ([[operators.EventAnalytics.ewma]]).
    */
  private def qEwma(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.ewma(
        wh(s, dir).loadTable("events"), "user_id", "ts", "event_id", "value",
        alphaPpm = 200000, devThreshCents = 3000)
      .orderBy("user_id", "us", "event_id")

  /** Holt level+trend smoothing (SURVEY row 50l): α = 0.2, β = 0.1
    * integer fixed-point level AND trend, $30 forecast-deviation alarm —
    * the double recurrence the oracle replays as one recursive CTE in
    * HUGEINT, the new-level expression repeated inline inside the trend
    * update ([[operators.EventAnalytics.holt]]).
    */
  private def qHolt(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.holt(
        wh(s, dir).loadTable("events"), "user_id", "ts", "event_id", "value",
        alphaPpm = 200000, betaPpm = 100000, devThreshCents = 3000)
      .orderBy("user_id", "us", "event_id")

  /** Holt-Winters level+trend+seasonal smoothing (SURVEY row 50p):
    * α = 0.2, β = 0.1, γ = 0.3 integer fixed-point with hour-of-day
    * slots, 24-event warmup gate, $30 forecast-deviation alarm — the
    * triple recurrence the oracle replays as one recursive CTE in
    * HUGEINT carrying the 24 seasonal components as a LIST column
    * updated by slice concatenation
    * ([[operators.EventAnalytics.holtWinters]]).
    */
  private def qHoltWinters(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.holtWinters(
        wh(s, dir).loadTable("events"), "user_id", "ts", "event_id", "value",
        alphaPpm = 200000, betaPpm = 100000, gammaPpm = 300000,
        slotSeconds = 3600, slotModulus = 24, devThreshCents = 3000)
      .orderBy("user_id", "us", "event_id")

  /** Holt-Winters forecast emission (SURVEY row 50p-f): the next 6
    * hourly point forecasts per key off the full-history fold-state
    * store — l + h·b + s[(base_slot+h) mod 24], all integer; the oracle
    * derives the terminal state from the SAME shared recursive replay
    * and applies the same arithmetic
    * ([[operators.EventAnalytics.holtWintersForecast]]).
    */
  private def qHoltWintersForecast(s: SparkSession, dir: String): DataFrame = {
    val store = operators.EventAnalytics.holtWintersStore(
      wh(s, dir).loadTable("events"), "user_id", "ts", "event_id", "value",
      alphaPpm = 200000, betaPpm = 100000, gammaPpm = 300000,
      slotSeconds = 3600, slotModulus = 24)
    operators.EventAnalytics.holtWintersForecast(store,
        slotSeconds = 3600, slotModulus = 24, horizon = 6)
      .select(col("k").as("user_id"), col("h"), col("slot"),
        col("forecast_e6"))
      .orderBy("user_id", "h")
  }

  /** Incremental Holt-Winters (SURVEY row 50p-inc): history (events
    * before 2024-01-28 00:00 UTC, ~90%) folds ONCE into the per-key
    * state store; the batch (the remaining ~10%) continues each key's
    * recurrence from the store WITHOUT rescanning history — the oracle
    * is the full-history q_holt_winters replay restricted to batch
    * rows, so any continuation drift goes red
    * ([[operators.EventAnalytics.holtWintersIncremental]]).
    */
  private def qHoltWintersIncremental(s: SparkSession, dir: String): DataFrame = {
    val ev = wh(s, dir).loadTable("events")
    val cutoff = 1706400000000000L
    val evLtz = graft.streaming.Events.tsLtz(ev)
    val hist = evLtz.filter(unix_micros(col("ts")) < cutoff)
    val batch = evLtz.filter(unix_micros(col("ts")) >= cutoff)
    val store = operators.EventAnalytics.holtWintersStore(
      hist, "user_id", "ts", "event_id", "value",
      alphaPpm = 200000, betaPpm = 100000, gammaPpm = 300000,
      slotSeconds = 3600, slotModulus = 24)
    operators.EventAnalytics.holtWintersIncremental(
        batch, store, "user_id", "ts", "event_id", "value",
        alphaPpm = 200000, betaPpm = 100000, gammaPpm = 300000,
        slotSeconds = 3600, slotModulus = 24, devThreshCents = 3000)
      .orderBy("user_id", "us", "event_id")
  }

  /** Robust median/MAD anomaly (SURVEY row 50q): 3.5×MAD alarm against
    * the key's population median, 5-event gate — exact integer order
    * statistics via the two-middle-ranks trick (med×2, MAD×4), the
    * outlier-resistant counterpart of q_rolling_anomaly
    * ([[operators.EventAnalytics.robustAnomaly]]).
    */
  private def qRobustAnomaly(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.robustAnomaly(
        wh(s, dir).loadTable("events"), "user_id", "ts", "event_id", "value",
        kPermille = 3500, minEvents = 5)
      .orderBy("user_id", "us", "event_id")

  /** Robust profile persistence (SURVEY row 50q-store): train the
    * median/MAD profile, save it as a Warehouse table, score against
    * the RELOADED model — the longs round-trip parquet bit-exactly, so
    * the oracle is the SAME replay as `q_robust_anomaly`
    * ([[operators.EventAnalytics.robustProfile]]/[[operators.EventAnalytics.robustScore]]).
    */
  private def qRobustStore(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("robust", dir)
    val ev = wh(s, dir).loadTable("events")
    val wt = Warehouse(s, tmp)
    wt.saveTable(operators.EventAnalytics.robustProfile(
      ev, "user_id", "ts", "value"), tmp, "robust_profile")
    operators.EventAnalytics.robustScore(
        ev, wt.loadTable("robust_profile"),
        "user_id", "ts", "event_id", "value",
        kPermille = 3500, minEvents = 5)
      .orderBy("user_id", "us", "event_id")
  }

  /** Seasonal slot-baseline anomaly (SURVEY row 50m): hour-of-day
    * profile per user, $25 deviation from the slot's integer mean with
    * a 3-event population gate — "is this big FOR 3 AM"
    * ([[operators.EventAnalytics.seasonalBaseline]]).
    */
  private def qSeasonal(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.seasonalBaseline(
        wh(s, dir).loadTable("events"), "user_id", "ts", "event_id", "value",
        slotSeconds = 3600, slotModulus = 24, minSlotEvents = 3,
        devThreshCents = 2500)
      .orderBy("user_id", "us", "event_id")

  /** Seasonal profile persistence (SURVEY row 50m-store): train the
    * hour-of-day profile, save it as a Warehouse table, score against
    * the RELOADED model — real monitoring trains nightly and scores all
    * day without retraining. The longs round-trip parquet bit-exactly,
    * so the oracle is the SAME profile replay as `q_seasonal`
    * ([[operators.EventAnalytics.seasonalProfile]]/[[operators.EventAnalytics.seasonalScore]]).
    */
  private def qSeasonalStore(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("seasonal", dir)
    val ev = wh(s, dir).loadTable("events")
    val wt = Warehouse(s, tmp)
    wt.saveTable(operators.EventAnalytics.seasonalProfile(
      ev, "user_id", "ts", "value", slotSeconds = 3600, slotModulus = 24),
      tmp, "seasonal_profile")
    operators.EventAnalytics.seasonalScore(
        ev, wt.loadTable("seasonal_profile"),
        "user_id", "ts", "event_id", "value",
        slotSeconds = 3600, slotModulus = 24, minSlotEvents = 3,
        devThreshCents = 2500)
      .orderBy("user_id", "us", "event_id")
  }

  /** Incremental seasonal profile (SURVEY row 50m-inc): the history's
    * mergeable (n, sum) profile folds in the batch (event_id % 10 = 0)
    * WITHOUT rescanning history, and scoring everything with the merged
    * model must equal the one-shot — the shared q_seasonal oracle
    * catches any merge drift ([[operators.EventAnalytics.updateSeasonalProfile]]).
    */
  private def qSeasonalIncremental(s: SparkSession, dir: String): DataFrame = {
    val ev = wh(s, dir).loadTable("events")
    val hist = ev.filter(pmod(col("event_id"), lit(10)) =!= 0)
    val batch = ev.filter(pmod(col("event_id"), lit(10)) === 0)
    val prof = operators.EventAnalytics.seasonalProfile(
      hist, "user_id", "ts", "value", slotSeconds = 3600, slotModulus = 24)
    val updated = operators.EventAnalytics.updateSeasonalProfile(
      prof, batch, "user_id", "ts", "value",
      slotSeconds = 3600, slotModulus = 24)
    operators.EventAnalytics.seasonalScore(
        ev, updated, "user_id", "ts", "event_id", "value",
        slotSeconds = 3600, slotModulus = 24, minSlotEvents = 3,
        devThreshCents = 2500)
      .orderBy("user_id", "us", "event_id")
  }

  /** Edit-distance self-join (SURVEY row 30f): PassJoin pigeonhole
    * blocking + exact levenshtein verify over 40-char document
    * prefixes at distance ≤ 4; the oracle is the NAIVE all-pairs
    * formulation — two independent computations must agree exactly
    * ([[operators.Relational.editDistanceJoin]]).
    */
  private def qEditJoin(s: SparkSession, dir: String): DataFrame =
    operators.Relational.editDistanceJoin(
        wh(s, dir).loadTable("documents")
          .select(col("doc_id"), expr("substring(text, 1, 40)").as("prefix")),
        "doc_id", "prefix", maxDist = 4)
      .orderBy("id_a", "id_b")

  /** RAKE keyword extraction (SURVEY row 46g): top-3 phrases per doc by
    * the integer-ppm degree/frequency score — the oracle replays the
    * token-stream contract relationally (breaker marking →
    * gaps-and-islands phrase ids → grouped stats)
    * ([[operators.TextAnalysis.keywords]]).
    */
  private def qKeywords(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.keywords(
        wh(s, dir).loadTable("documents"), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")

  /** The American-Soundex replay, shared by the q_soundex and
    * q_soundex_join oracles: over a relation `src(id, w)`, produces
    * `sxt(id, w, sx)` — letters-only filter, digit classes, h/w
    * transparency, adjacent-collapse, first-group drop, zero-pad.
    * Exactly [[functions.Kernels.soundex]]'s contract, derived
    * independently with DuckDB list lambdas.
    */
  private def soundexCte(src: String): String =
    s"""lets AS (SELECT id, w, list_filter(list_transform(
      |   generate_series(1, length(upper(w))),
      |   i -> substr(upper(w), CAST(i AS INT), 1)),
      |   c -> c BETWEEN 'A' AND 'Z') AS ls FROM $src),
      |dig AS (SELECT id, w, ls, list_transform(ls, c -> CASE
      |   WHEN c IN ('B','F','P','V') THEN 1
      |   WHEN c IN ('C','G','J','K','Q','S','X','Z') THEN 2
      |   WHEN c IN ('D','T') THEN 3 WHEN c = 'L' THEN 4
      |   WHEN c IN ('M','N') THEN 5 WHEN c = 'R' THEN 6
      |   WHEN c IN ('H','W') THEN 9 ELSE 0 END) AS ds FROM lets),
      |nohw AS (SELECT id, w, ls,
      |   list_filter(ds, (d, i) -> i = 1 OR d != 9) AS ds FROM dig),
      |coll AS (SELECT id, w, ls,
      |   list_filter(ds, (d, i) -> i = 1 OR d != ds[i-1]) AS ds FROM nohw),
      |sxt AS (SELECT id, w, CASE WHEN len(ls) = 0 THEN NULL ELSE
      |   ls[1] || rpad(coalesce(list_aggregate(list_transform(
      |     list_filter(ds[2:], d -> d != 0)[1:3], d -> CAST(d AS VARCHAR)),
      |     'string_agg', ''), ''), 3, '0') END AS sx FROM coll)""".stripMargin

  /** The mean-cleared integer ACF replay (y = n·x − S, offset
    * equi-join lag pairs, one truncating // per lag, argmax by
    * (acf DESC NULLS LAST, lag)) — ONE ground truth shared verbatim by
    * q_acf, q_acf_store, and q_acf_incremental: the store scoring and
    * the incremental continuation must reproduce the one-shot
    * bit-exactly, so they answer to the same replay.
    */
  private val acfOracleSql: String =
    """WITH base AS (
      | SELECT user_id AS k, event_id AS id, epoch_us(ts) AS us,
      |        CAST(round(value * 100) AS BIGINT) AS vc
      | FROM events
      | WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
      |rk AS (SELECT k, id, vc,
      |       CAST(row_number() OVER (PARTITION BY k ORDER BY us, id)
      |         AS BIGINT) AS rn,
      |       CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n,
      |       CAST(sum(vc) OVER (PARTITION BY k) AS BIGINT) AS s
      |       FROM base),
      |y AS (SELECT k, rn,
      |      CAST(n AS HUGEINT) * vc - CAST(s AS HUGEINT) AS y FROM rk),
      |den AS (SELECT k, sum(y * y) AS den FROM y GROUP BY k),
      |num AS (SELECT a.k, l.lag, sum(a.y * b.y) AS num,
      |        count(*) AS n_pairs
      |        FROM y a,
      |             (SELECT unnest(generate_series(1, 12)) AS lag) l,
      |             y b
      |        WHERE b.k = a.k AND b.rn = a.rn + l.lag
      |        GROUP BY a.k, l.lag),
      |acf AS (SELECT g.k, g.lag, g.n_pairs,
      |        CASE WHEN d.den > 0 THEN
      |          CAST((g.num * 1000000) // d.den AS BIGINT) END AS acf_e6
      |        FROM num g JOIN den d USING (k)),
      |pk AS (SELECT *, row_number() OVER (PARTITION BY k
      |       ORDER BY acf_e6 DESC NULLS LAST, lag) AS pk FROM acf)
      |SELECT k AS user_id, CAST(lag AS BIGINT) AS lag, n_pairs, acf_e6,
      |       (pk = 1 AND acf_e6 IS NOT NULL) AS is_dominant
      |FROM pk ORDER BY user_id, lag""".stripMargin

  /** The OLS normal-equation replay over the rank regressor — ONE
    * ground truth shared by q_trend, q_trend_store, and
    * q_trend_incremental (the [[acfOracleSql]] sharing pattern).
    */
  private val trendOracleSql: String =
    """WITH base AS (
      | SELECT user_id AS k, event_id AS id, epoch_us(ts) AS us,
      |        CAST(round(value * 100) AS BIGINT) AS vc
      | FROM events
      | WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
      |rk AS (SELECT k, vc,
      |       CAST(row_number() OVER (PARTITION BY k ORDER BY us, id)
      |         AS BIGINT) AS x FROM base),
      |a AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
      |      CAST(sum(vc) AS BIGINT) AS sum_cents,
      |      CAST(sum(x) AS BIGINT) AS sx,
      |      sum(CAST(x AS HUGEINT) * x) AS sxx,
      |      sum(CAST(x AS HUGEINT) * vc) AS sxy
      |      FROM rk GROUP BY k),
      |f AS (SELECT k, n, sum_cents,
      |      CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
      |      CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sum_cents AS num_s,
      |      CAST(sum_cents AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy AS num_i
      |      FROM a)
      |SELECT k AS user_id, n, sum_cents,
      |  CASE WHEN den > 0 THEN CAST((num_s * 1000000) // den AS BIGINT)
      |  END AS slope_e6,
      |  CASE WHEN den > 0 THEN CAST((num_i * 1000000) // den AS BIGINT)
      |  END AS intercept_e6
      |FROM f ORDER BY user_id""".stripMargin

  /** The q_blocklist pattern set: sorted, so ids match the DataFrame
    * trainer's deterministic ordering; includes nested ('art' ⊂ 'part'),
    * overlapping, and multi-word phrase patterns.
    */
  private val blocklistPats = Seq("art", "hash", "merge", "part", "row",
    "scan", "slow scan", "spark", "table part", "windo")

  /** Aho-Corasick blocklist tagging (SURVEY row 46j): every document
    * scored against ALL patterns in ONE byte scan — total occurrences
    * (overlapping + nested), distinct patterns, earliest match; the
    * oracle replays the all-starts substring scan relationally
    * ([[operators.TextAnalysis.blocklistTag]]).
    */
  private def qBlocklist(s: SparkSession, dir: String): DataFrame = {
    val model = operators.TextAnalysis.trainBlocklist(blocklistPats)
    operators.TextAnalysis.blocklistTag(
        wh(s, dir).loadTable("documents"), "text", model)
      .select("doc_id", "block_hits", "block_distinct", "block_first_pos",
        "block_first_pat", "blocked")
      .orderBy("doc_id")
  }

  /** Exact phrase search (SURVEY row 60f): positional-inverted-index
    * intersection for "slow scan" as an ADJACENT pair — postings pruned
    * to the phrase's words map-side, one (doc, anchor) exchange; the
    * oracle replays the token-position contract with a list walk
    * ([[operators.Retrieval.phraseSearch]]).
    */
  private def qPhraseSearch(s: SparkSession, dir: String): DataFrame =
    operators.Retrieval.phraseSearch(
        wh(s, dir).loadTable("documents"), "doc_id", "text", "table part")
      .orderBy("doc_id")

  /** Readability metrics (SURVEY row 46k): Flesch / FK-grade in exact
    * integer fixed-point over pinned counting contracts — both engines
    * replay words/sentence-runs/vowel-group syllables and the two
    * truncating divisions bit-exactly
    * ([[operators.TextAnalysis.readability]]).
    */
  private def qReadability(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.readability(
        wh(s, dir).loadTable("documents"), "text")
      .select("doc_id", "n_words", "n_sentences", "n_syllables",
        "flesch_e3", "fk_grade_e3")
      .orderBy("doc_id")

  /** Soundex phonetic coding (SURVEY row 30h): each doc's first token
    * coded with the one-scan kernel; the oracle re-derives the code
    * independently with DuckDB list lambdas
    * ([[functions.Kernels.soundex]]).
    */
  private def qSoundex(s: SparkSession, dir: String): DataFrame = {
    wh(s, dir).loadTable("documents")
      .where(col("text").isNotNull)
      .select(col("doc_id"), expr("split_part(text, ' ', 1)").as("w"))
      .withColumn("sx", functions.GraftFunctions.soundex(col("w")))
      .orderBy("doc_id")
  }

  /** Soundex blocking join (SURVEY row 30h-join): distinct first tokens
    * plus their vowel-corrupted variants (vowel substitutions never
    * change a Soundex code — perfect recall by construction), verified
    * with the Jaro-Winkler kernel; the oracle replays blocking with the
    * independent list-lambda Soundex and scores with DuckDB's OWN
    * jaro_winkler_similarity ([[operators.Relational.soundexJoin]]).
    */
  private def qSoundexJoin(s: SparkSession, dir: String): DataFrame = {
    val words = wh(s, dir).loadTable("documents")
      .where(col("text").isNotNull)
      .select(expr("split_part(text, ' ', 1)").as("w")).distinct()
    val orig = words.select(
      conv(substring(md5(concat(lit("o:"), col("w"))), 1, 15), 16, 10)
        .cast("long").as("id"), col("w"))
    val corr = words.select(
      conv(substring(md5(concat(lit("c:"), col("w"))), 1, 15), 16, 10)
        .cast("long").as("id"),
      regexp_replace(col("w"), "[aeiou]", "o").as("w"))
    operators.Relational.soundexJoin(orig.unionByName(corr), "id", "w",
        minSimE6 = 800000L, maxBlock = 100000)
      .orderBy("id_a", "id_b")
  }

  /** Jaro-Winkler similarity scoring (SURVEY row 30g): adjacent-id doc
    * prefixes scored with the byte-level kernel whose operation order is
    * identical to DuckDB's builtin — so the oracle is a genuinely
    * INDEPENDENT implementation of the matching/transposition algorithm,
    * the q_edit_join adversarial pattern for the JW metric
    * ([[functions.Kernels.jaroWinkler]]).
    */
  private def qJaroWinkler(s: SparkSession, dir: String): DataFrame = {
    val d = wh(s, dir).loadTable("documents")
      .select(col("doc_id"), expr("substring(text, 1, 30)").as("p"))
    val l = d.select(col("doc_id").as("id_a"), col("p").as("pa"))
    val r = d.select((col("doc_id") - 1).as("id_a"),
      col("doc_id").as("id_b"), col("p").as("pb"))
    l.join(r, "id_a")
      .select(col("id_a"), col("id_b"),
        round(GraftFunctions.jaroWinkler(col("pa"), col("pb")) * 1000000)
          .cast("bigint").as("jw_e6"))
      .orderBy("id_a")
  }

  /** Sorted-neighborhood Jaro-Winkler self-join (SURVEY row 30g-join):
    * doc prefixes at window 8, 0.90 — the planted typo linkage pairs
    * share long prefixes, so they sort adjacent and the window catches
    * them at n·7 candidates; the oracle replays the rank + offsets and
    * scores with DuckDB's OWN jaro_winkler_similarity
    * ([[operators.Relational.jaroWinklerJoin]]).
    */
  private def qJwJoin(s: SparkSession, dir: String): DataFrame =
    operators.Relational.jaroWinklerJoin(
        wh(s, dir).loadTable("documents")
          .select(col("doc_id"), expr("substring(text, 1, 30)").as("p")),
        "doc_id", "p", minSimE6 = 900000, window = 8)
      .orderBy("id_a", "id_b")

  /** Incremental edit-distance join (SURVEY row 30f-inc): the batch
    * (doc_id % 10 = 0) joins against the 90% history via its persisted
    * segment store — exactly the one-shot's new-involving pairs; the
    * oracle is the naive all-pairs formulation restricted to pairs with
    * a batch side ([[operators.Relational.editDistanceJoinIncremental]]).
    */
  private def qEditIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
      .select(col("doc_id"), expr("substring(text, 1, 40)").as("prefix"))
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val store = operators.Relational.editSegmentStore(hist, "doc_id", "prefix", maxDist = 4)
    operators.Relational.editDistanceJoinIncremental(
        batch, "doc_id", "prefix", store, hist, maxDist = 4)
      .orderBy("id_a", "id_b")
  }

  /** Data-quality constraint report (SURVEY row 22c): the dbt-test /
    * Deequ expectation surface over orders — not-null, range, accepted
    * values, two unique keys (one deliberately failing) and a row-count
    * floor, all exact counts ([[operators.Relational.checkConstraints]]).
    */
  private def qConstraints(s: SparkSession, dir: String): DataFrame = {
    import operators.Relational.Constraint._
    val w = wh(s, dir)
    // 2000-01-01T00:00:00Z — a fixed as-of point so freshness is
    // deterministic; orders end in 1998, so 1h staleness fails and a
    // 100-year horizon passes
    val asOfUs = 946684800000000L
    operators.Relational.checkConstraints(
      w.loadTable("orders"),
      Seq(NotNull("o_custkey"),
        InRange("o_totalprice", 1000.0, 400000.0),
        AcceptedValues("o_orderstatus", Seq("F", "O", "P")),
        Unique(Seq("o_orderkey")),
        Unique(Seq("o_custkey")),
        MinRows(100),
        // referential integrity: every order's customer exists (passes);
        // against the DELIBERATELY truncated dim (c_custkey < 100) it fails
        ForeignKey("o_custkey", "customer", "c_custkey"),
        ForeignKey("o_custkey", "customer_small", "c_custkey"),
        Freshness("o_orderdate", 60L, asOfUs),
        Freshness("o_orderdate", 52560000L, asOfUs)),
      refs = Map(
        "customer" -> w.loadTable("customer"),
        "customer_small" -> w.loadTable("customer")
          .filter(col("c_custkey") < 100)))
  }

  /** Streaming heavy-hitters store (SURVEY row 56c-s): the word stream
    * split into two batches, each sketched and merged into the store via
    * the relational MG merge — run in the sketch's EXACT regime
    * (vocabulary < k), where store-then-merge provably equals the true
    * counts, so the oracle replays them outright; the estimator regime
    * is guarantee-pinned in StatsSpec
    * ([[operators.Stats.updateHeavyHitterStore]]).
    */
  private def qHeavyHittersStream(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents")
    def words(d: DataFrame) =
      d.select(explode(split(trim(col("text")), " ", -1)).as("w"))
    val store1 = operators.Stats.heavyHitters(
      words(docs.filter(pmod(col("doc_id"), lit(2)) === 0)), "w", k = 64)
    operators.Stats.updateHeavyHitterStore(
        store1, words(docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)), "w", k = 64)
      .orderBy(col("est_count").desc, col("item"))
  }

  /** Snapshot diff (SURVEY row 34d): two deterministically derived
    * versions of orders classified into inserted / deleted / changed /
    * unchanged — the backfill-audit / CDC-reconciliation verb; the
    * oracle replays the full-outer classification, so any misclassified
    * key breaks the aggregate hash ([[operators.Merge.diffTables]]).
    */
  private def qTableDiff(s: SparkSession, dir: String): DataFrame = {
    val o = wh(s, dir).loadTable("orders").select(
      col("o_orderkey"), col("o_orderstatus"),
      cents(col("o_totalprice")).as("price_cents"))
    val before = o.filter(pmod(col("o_orderkey"), lit(11)) =!= 0)
    val after = o.filter(pmod(col("o_orderkey"), lit(13)) =!= 0)
      .withColumn("price_cents",
        when(pmod(col("o_orderkey"), lit(3)) === 0, col("price_cents") + 1)
          .otherwise(col("price_cents")))
    operators.Merge.diffTables(before, after, Seq("o_orderkey"))
      .groupBy("diff_status")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").cast("long").as("sum_keys"))
      .orderBy("diff_status")
  }

  /** Fuzzy string join (SURVEY row 30d): record linkage on trigram
    * jaccard >= 4/5 between 60-char document prefixes and a right side
    * mixing the odd-doc prefixes with PLANTED single-char typos of the
    * even ones (position 30 -> 'Z') — each left row links to its typo
    * twin (~0.85 jaccard), unrelated prefixes fall under the bar. The
    * previous part-name fixture was degenerate: only 64 distinct names
    * exist at any SF, so every threshold emitted the ~1.5M
    * identical-name pairs — an output-sized cost that measures nothing
    * about linkage. Uncapped; the cap's recall trade is spec-pinned,
    * and the 50k-corpus scale evidence lives in the Scaling harness
    * ([[operators.Relational.fuzzyJoin]], PPJoin prefix blocking).
    */
  private def qFuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val d = wh(s, dir).loadTable("documents")
      .filter(col("text").isNotNull && length(col("text")) >= 40)
      .select(col("doc_id"), substring(col("text"), 1, 60).as("s"))
    val l = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val rClean = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    val rTypo = l.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(substring(col("s"), 1, 29), lit("Z"),
        substring(col("s"), 31, 60)).as("s"))
    operators.Relational.fuzzyJoin(l, rClean.unionByName(rTypo),
        "doc_id", "s", "doc_id", "s", thresholdNum = 4, thresholdDen = 5,
        n = 3, maxGramFreq = 0)
      .orderBy("l_id", "r_id")
  }

  /** Incremental fuzzy self-join (SURVEY row 30d-inc): the batch
    * (doc_id % 10 = 0 rows plus planted 'Z'-typo copies of the % 10 = 1
    * rows, offset by 1e6) probes the history's persisted
    * [[operators.Relational.fuzzyGramStore]] — exactly the one-shot
    * [[operators.Relational.fuzzySelfPairs]]' new-involving pairs; the
    * oracle is the all-pairs gram-jaccard replay restricted to pairs
    * with a batch side. The typo rows guarantee old↔new matches AND
    * exercise the frozen-order df-0 path (history never contains 'Z').
    */
  private def qFuzzyIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = wh(s, dir).loadTable("documents")
      .filter(col("text").isNotNull && length(col("text")) >= 40)
      .select(col("doc_id"), substring(col("text"), 1, 60).as("s"))
    val hist = d.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val typo = d.filter(pmod(col("doc_id"), lit(10)) === 1)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(substring(col("s"), 1, 29), lit("Z"),
          substring(col("s"), 31, 60)).as("s"))
    val batch = d.filter(pmod(col("doc_id"), lit(10)) === 0).unionByName(typo)
    // the store is REFERENCED TWICE inside fuzzyJoinIncremental (df
    // lookup + prefix probe); in production it is a persisted warehouse
    // table, so scanning twice is two pruned parquet passes — built
    // inline here, the un-cached lazy plan would run the full history
    // gram window TWICE per action (r12; the persist models the
    // documented persisted-store contract, ContextCleaner-reclaimed)
    val store = operators.Relational.fuzzyGramStore(hist, "doc_id", "s", n = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    operators.Relational.fuzzyJoinIncremental(batch, "doc_id", "s",
        store, hist, thresholdNum = 4, thresholdDen = 5, n = 3)
      .orderBy("l_id", "r_id")
  }


  /** Shared customer↔supplier trade-graph edge list (suppliers offset by
    * 1e6 into one node-id space); `symmetric` adds the reverse edges.
    * One definition for the four graph queries AND mirrored by their
    * oracles' e0 CTE — the construction cannot drift per query.
    */
  private def tradeGraphEdges(s: SparkSession, dir: String,
      symmetric: Boolean): DataFrame = {
    val o = wh(s, dir).loadTable("orders").select(col("o_orderkey"), col("o_custkey"))
    val l = wh(s, dir).loadTable("lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val e = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    if (symmetric) e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    else e
  }

  /** PageRank over the customer↔supplier trade graph (SURVEY row 61):
    * 8 fixed-point integer iterations on the symmetrized distinct edge
    * list (suppliers offset by 1e6 into a shared node-id space). Every
    * rank is replayed bit-identically by the oracle's 8 unrolled CTE
    * iterations — same truncating `div` shares, same rational damping
    * ([[operators.Graph.pageRank]]).
    */
  private def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val sym = tradeGraphEdges(s, dir, symmetric = true)
    operators.Graph.pageRank(sym, "src", "dst", iters = 8).orderBy("node")
  }

  /** Weighted PageRank (SURVEY row 61b-w): rank distributed proportional
    * to edge weight — the trade graph weighted by lineitem count per
    * (customer, supplier) pair, 8 integer rounds; the oracle unrolls
    * every round's per-edge floor-division share
    * ([[operators.Graph.pageRankWeighted]]).
    */
  private def qPagerankWeighted(s: SparkSession, dir: String): DataFrame = {
    val o = wh(s, dir).loadTable("orders").select(col("o_orderkey"), col("o_custkey"))
    val l = wh(s, dir).loadTable("lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val we = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
      .agg(count(lit(1)).as("w"))
    operators.Graph.pageRankWeighted(we, "src", "dst", "w", iters = 8)
      .orderBy("node")
  }

  /** HITS hubs & authorities (SURVEY row 61g): 8 fixed-point integer
    * rounds over the DIRECTED customer→supplier trade graph — suppliers
    * are authorities, customers hubs; the oracle unrolls every round's
    * edge-join sum and sup-norm division ([[operators.Graph.hits]]).
    */
  private def qHits(s: SparkSession, dir: String): DataFrame =
    operators.Graph.hits(tradeGraphEdges(s, dir, symmetric = false),
        "src", "dst", iters = 8)
      .orderBy("node")

  /** Multi-source shortest paths (SURVEY row 61h): Bellman-Ford over the
    * SYMMETRIZED weighted trade graph — weight = lineitem count per
    * (customer, supplier) pair — from the nation-1 customer seed set,
    * horizon 6 edges; the oracle unrolls all 6 relaxation rounds
    * ([[operators.Graph.shortestPaths]]).
    */
  private def qShortestPaths(s: SparkSession, dir: String): DataFrame = {
    val o = wh(s, dir).loadTable("orders").select(col("o_orderkey"), col("o_custkey"))
    val l = wh(s, dir).loadTable("lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val we = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
      .agg(count(lit(1)).as("w"))
    val sym = we.union(we.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    val seeds = wh(s, dir).loadTable("customer")
      .filter(col("c_nationkey") === 1).select(col("c_custkey"))
    operators.Graph.shortestPaths(sym, "src", "dst", seeds, "c_custkey",
      Some("w"), maxIters = 6).orderBy("node")
  }

  /** Personalized PageRank (SURVEY row 61c): teleport restricted to the
    * nation-1 customers — suppliers serving that nation rank above
    * globally-popular ones. Same integer machinery, oracle-unrolled with
    * the seed-concentrated base ([[operators.Graph.personalizedPageRank]]).
    */
  private def qPagerankPersonalized(s: SparkSession, dir: String): DataFrame = {
    val sym = tradeGraphEdges(s, dir, symmetric = true)
    val seeds = wh(s, dir).loadTable("customer")
      .filter(col("c_nationkey") === 1).select(col("c_custkey"))
    operators.Graph.personalizedPageRank(sym, "src", "dst", seeds, "c_custkey",
      iters = 8).orderBy("node")
  }

  /** Deterministic label propagation (SURVEY row 61d) on the symmetrized
    * trade graph, 4 synchronous rounds — argmax-count labels with min-label
    * ties, oracle-unrolled round by round
    * ([[operators.Graph.labelPropagation]]).
    */
  private def qLabelPropagation(s: SparkSession, dir: String): DataFrame = {
    val sym = tradeGraphEdges(s, dir, symmetric = true)
    operators.Graph.labelPropagation(sym, "src", "dst", iters = 4).orderBy("node")
  }

  /** Per-node triangle counts (SURVEY row 61e) over a circulant customer
    * graph (c→c+1, c→c+2 — consecutive keys close triangles; the
    * bipartite trade graph has none by construction). Degree-ordered
    * wedge generation in Spark; the oracle counts the same triangle set
    * id-ordered ([[operators.Graph.triangleCounts]]).
    */
  private def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val c = wh(s, dir).loadTable("customer").select(col("c_custkey"))
    val e = c.select(col("c_custkey").as("src"), (col("c_custkey") + 1).as("dst"))
      .union(c.select(col("c_custkey").as("src"), (col("c_custkey") + 2).as("dst")))
      // keep only edges whose endpoint exists as a customer
      .join(c.select(col("c_custkey").as("dst")), Seq("dst"), "left_semi")
    operators.Graph.triangleCounts(e, "src", "dst").orderBy("node")
  }

  /** Degree profile of the same trade graph (SURVEY row 61b): in/out
    * degree per node in one pass over the distinct edge list
    * ([[operators.Graph.degrees]]).
    */
  private def qGraphDegrees(s: SparkSession, dir: String): DataFrame = {
    operators.Graph.degrees(tradeGraphEdges(s, dir, symmetric = false),
      "src", "dst").orderBy("node")
  }

  /** DSIR importance selection (SURVEY row 46g): target = the English
    * docs, raw = the whole corpus; trainDsir reduces both to 4096
    * integer bucket weights (fixed-point log2, no float anywhere) and
    * the top 200 most-target-like docs are selected with deterministic
    * (score desc, id) ranking. The oracle rebuilds counts, weights
    * (20-step ilog2 recurrence UNROLLED in a list_reduce), scores AND
    * the selection bit-identically ([[operators.TextAnalysis.trainDsir]]
    * / [[operators.TextAnalysis.dsirSelect]]). NULL-text docs are
    * excluded up front: they carry no grams, and excluding them in both
    * engines keeps the selection comparison total.
    */
  private def qDsir(s: SparkSession, dir: String): DataFrame = {
    val docs = wh(s, dir).loadTable("documents").filter(col("text").isNotNull)
    val model = operators.TextAnalysis.trainDsir(
      docs.filter(col("lang") === "en"), docs, "text")
    operators.TextAnalysis.dsirSelect(docs, "doc_id", "text", model, 200)
      .select(col("doc_id"), col("n_grams"), col("dsir_score"))
  }

  /** Numeric distribution drift (SURVEY row 22c): o_totalprice of
    * finished ('F') vs open ('O') orders on a fixed 10-bin [0, 600000)
    * grid — per-bin smoothed counts and the fixed-point PSI₂ term
    * (ilog2Fp — no libm ln anywhere, so the oracle replays every term
    * bit-exactly; [[operators.Stats.driftNumeric]]).
    */
  private def qDriftNumeric(s: SparkSession, dir: String): DataFrame = {
    val o = wh(s, dir).loadTable("orders")
    operators.Stats.driftNumeric(
      o.filter(col("o_orderstatus") === "F"),
      o.filter(col("o_orderstatus") === "O"),
      "o_totalprice", lo = 0.0, hi = 600000.0, nBins = 10)
  }

  /** Categorical distribution drift (SURVEY row 22c) of o_orderpriority
    * between finished and open orders ([[operators.Stats.driftCategorical]]).
    */
  private def qDriftCategorical(s: SparkSession, dir: String): DataFrame = {
    val o = wh(s, dir).loadTable("orders")
    operators.Stats.driftCategorical(
      o.filter(col("o_orderstatus") === "F"),
      o.filter(col("o_orderstatus") === "O"),
      "o_orderpriority")
  }

  /** Incremental drift contract (SURVEY row 22c-s): the baseline
    * histogram persists as a warehouse table — two per-slice histograms
    * merged through [[operators.Stats.updateHistogramStore]] (exact
    * count addition, the store pattern for distributions) — reloads,
    * and the drift of the open orders against the RELOADED store must
    * equal [[operators.Stats.driftNumeric]] over the raw frames: the
    * oracle is q_drift_numeric's, so any store/merge/reload drift goes
    * red.
    */
  private def qDriftStore(s: SparkSession, dir: String): DataFrame = {
    val o = wh(s, dir).loadTable("orders")
    val f = o.filter(col("o_orderstatus") === "F")
    def hist(df: DataFrame) =
      operators.Stats.histogramStore(df, "o_totalprice", 0.0, 600000.0, 10)
    val outDir = scratch("driftstore", dir)
    val w = Warehouse(s, outDir)
    w.saveTable(
      operators.Stats.updateHistogramStore(
        hist(f.filter(pmod(col("o_orderkey"), lit(2)) === 0)),
        hist(f.filter(pmod(col("o_orderkey"), lit(2)) === 1))),
      outDir, "baseline_hist")
    operators.Stats.driftAgainstStore(
      w.loadTable("baseline_hist"),
      hist(o.filter(col("o_orderstatus") === "O")), nBins = 10)
  }

  /** Mergeable quantile store (SURVEY row 22c-q): percentiles answered
    * from the SAME rolled-up histogram store as the drift ladder — three
    * per-status slices merged through
    * [[operators.Stats.updateHistogramStore]], persisted to a warehouse
    * table, reloaded, and [[operators.Stats.quantilesFromHistogramStore]]
    * reads p10..p100 off the merged counts. The require pins the store
    * contract (merged == one-shot histogram, count-exact); the oracle
    * replays the one-shot histogram + integer rank scan, so any
    * store/merge/reload divergence goes red.
    */
  private def qQuantileStore(s: SparkSession, dir: String): DataFrame = {
    val o = wh(s, dir).loadTable("orders")
    def hist(df: DataFrame) =
      operators.Stats.histogramStore(df, "o_totalprice", 0.0, 600000.0, 200)
    val outDir = scratch("quantstore", dir)
    val w = Warehouse(s, outDir)
    w.saveTable(
      operators.Stats.updateHistogramStore(
        operators.Stats.updateHistogramStore(
          hist(o.filter(col("o_orderstatus") === "F")),
          hist(o.filter(col("o_orderstatus") === "O"))),
        hist(o.filter(col("o_orderstatus") === "P"))),
      outDir, "quant_hist")
    val merged = w.loadTable("quant_hist")
    val oneShot = hist(o)
    require(merged.collect().map(r => (r.getInt(0), r.getLong(1))).sorted
      .sameElements(oneShot.collect()
        .map(r => (r.getInt(0), r.getLong(1))).sorted),
      "merged store must equal the one-shot histogram bin-for-bin")
    operators.Stats.quantilesFromHistogramStore(merged, 0.0, 600000.0, 200,
        Seq(100000L, 250000L, 500000L, 750000L, 900000L, 990000L, 1000000L))
      .orderBy("q_e6")
  }

  /** Grouped winsorize (SURVEY row 22c-q''''): each language's document
    * lengths clipped to its OWN [p10 lower-edge, p90 upper-edge] band
    * off the grouped rollup — the per-key composed consumer
    * ([[operators.Stats.winsorizeByHistogramStore]] over a keyed store).
    */
  private def qGroupedWinsorize(s: SparkSession, dir: String): DataFrame = {
    val d = wh(s, dir).loadTable("documents")
    val store = operators.Stats.histogramStore(
      d, "n_chars", 0.0, 4000.0, 100, keyCol = Some("lang"))
    operators.Stats.winsorizeByHistogramStore(d, "n_chars", store,
        0.0, 4000.0, 100, pLowE6 = 100000L, pHighE6 = 900000L,
        keyCol = Some("lang"))
      .select(col("doc_id"), col("lang"), col("n_chars_e6"),
        col("n_chars_winsor_e6"), col("n_chars_clipped"), col("calibrated"))
      .orderBy("doc_id")
  }

  /** Coarsened quantile store (SURVEY row 22c-q''): grid evolution
    * without raw rescan — the 200-bin store of q_quantile_store
    * coarsens by 5 ([[operators.Stats.coarsenHistogramStore]], counts
    * add in runs, the only EXACT direction) and answers the same
    * percentiles at the 40-bin error contract. The oracle replays the
    * COARSENING ROUTE (bin@200 then integer div 5 — direct binning at
    * 40 could disagree on float boundaries) + the rank scan at 40-bin
    * edges.
    */
  private def qQuantileCoarse(s: SparkSession, dir: String): DataFrame = {
    val o = wh(s, dir).loadTable("orders")
    val store = operators.Stats.histogramStore(
      o, "o_totalprice", 0.0, 600000.0, 200)
    operators.Stats.quantilesFromHistogramStore(
        operators.Stats.coarsenHistogramStore(store, 200, 5),
        0.0, 600000.0, 40,
        Seq(250000L, 500000L, 900000L, 990000L))
      .orderBy("q_e6")
  }

  /** Winsorize by stored percentiles (SURVEY row 22c-q'''): order
    * totals clipped to the [p01 lower-edge, p99 upper-edge] band read
    * off the 200-bin rollup — the composed outlier-clipping consumer
    * of q_quantile_store ([[operators.Stats.winsorizeByHistogramStore]]).
    */
  private def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    val o = wh(s, dir).loadTable("orders")
    val store = operators.Stats.histogramStore(
      o, "o_totalprice", 0.0, 600000.0, 200)
    operators.Stats.winsorizeByHistogramStore(o, "o_totalprice", store,
        0.0, 600000.0, 200, pLowE6 = 10000L, pHighE6 = 990000L)
      .select(col("o_orderkey"), col("o_totalprice_e6"),
        col("o_totalprice_winsor_e6"), col("o_totalprice_clipped"))
      .orderBy("o_orderkey")
  }

  /** GROUPED quantile store (SURVEY row 22c-q'): per-language document
    * length percentiles off the per-key histogram rollup — the grouped
    * form of q_quantile_store ("track p95 length per language per
    * day"). Two parity-split slices merge through
    * [[operators.Stats.updateHistogramStore]]; the require pins
    * merged == one-shot per (k, bin); the oracle replays the per-group
    * histogram + rank scan.
    */
  private def qGroupedQuantileStore(s: SparkSession, dir: String): DataFrame = {
    val d = wh(s, dir).loadTable("documents")
    def hist(df: DataFrame) = operators.Stats.histogramStore(
      df, "n_chars", 0.0, 4000.0, 100, keyCol = Some("lang"))
    val merged = operators.Stats.updateHistogramStore(
      hist(d.filter(pmod(col("doc_id"), lit(2)) === 0)),
      hist(d.filter(pmod(col("doc_id"), lit(2)) === 1)))
    val oneShot = hist(d)
    require(merged.collect().map(r =>
        (r.getString(0), r.getInt(1), r.getLong(2))).sorted
      .sameElements(oneShot.collect().map(r =>
        (r.getString(0), r.getInt(1), r.getLong(2))).sorted),
      "merged grouped store must equal the one-shot histogram per (k, bin)")
    operators.Stats.quantilesFromHistogramStore(merged, 0.0, 4000.0, 100,
        Seq(500000L, 900000L, 990000L))
      .orderBy("k", "q_e6")
  }

  /** Weight-proportional systematic sample (SURVEY row 57g): ~150 docs
    * drawn proportional to n_chars — longer docs proportionally likelier,
    * deterministic, the PPS budget-allocation draw
    * ([[operators.Relational.weightedSystematicSample]]). The oracle
    * replays the cumulative line with a window sum and the same two
    * truncating divisions.
    */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    operators.Relational.weightedSystematicSample(
      wh(s, dir).loadTable("documents"), "doc_id", "n_chars", target = 150)
      .orderBy("doc_id")

  /** Character-entropy gibberish detector (SURVEY row 46h): per-doc
    * Shannon entropy of the code-point distribution in 2^-20 fixed
    * point, all integer via ilog2Fp — the oracle replays the per-char
    * walk, counts, and the same fixed-point logs
    * ([[operators.TextAnalysis.charEntropy]]).
    */
  private def qCharEntropy(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.charEntropy(
        wh(s, dir).loadTable("documents").filter(col("text").isNotNull), "text")
      .select(col("doc_id"), col("n_chars_ent"), col("entropy_fp"),
        col("low_entropy"))
      .orderBy("doc_id")

  /** k-anonymity audit (SURVEY row 22d): customers under the
    * (c_nationkey, c_mktsegment) quasi-identifier at k=5 — class and
    * record counts, risky subsets, achieved k
    * ([[operators.Stats.kAnonymity]]).
    */
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame =
    operators.Stats.kAnonymity(wh(s, dir).loadTable("customer"),
      Seq("c_nationkey", "c_mktsegment"), k = 5)

  /** l-diversity audit (SURVEY row 22d''): the k-anonymity companion —
    * per (c_nationkey, c_mktsegment) class, the distinct count of the
    * $1000 account-balance bucket as the sensitive attribute (shifted
    * +100000 cents so the bucket division never sees a negative
    * dividend — trunc and floor agree) and the l<3 homogeneity flag
    * ([[operators.Stats.lDiversityClasses]]).
    */
  private def qLDiversity(s: SparkSession, dir: String): DataFrame =
    operators.Stats.lDiversityClasses(
        wh(s, dir).loadTable("customer")
          .withColumn("__bc", cents(col("c_acctbal")))
          .withColumn("bal_bucket", expr("(__bc + 100000L) div 100000L")),
        Seq("c_nationkey", "c_mktsegment"), "bal_bucket", l = 3)
      .orderBy("c_nationkey", "c_mktsegment")

  // ---- registry --------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1 _),
    "q3_shipping_priority" -> (q3 _),
    "q5_local_supplier" -> (q5 _),
    "q10_returned_items" -> (q10 _),
    "q14_promo_revenue" -> (q14 _),
    "q18_large_orders" -> (q18 _),
    "q_json_extract" -> (qJsonExtract _),
    "q_filter" -> (qFilter _),
    "q_join_inner" -> (qJoinInner _),
    "q_join_left" -> (qJoinLeft _),
    "q_join_right" -> (qJoinRight _),
    "q_join_full" -> (qJoinFull _),
    "q_join_cross" -> (qJoinCross _),
    "q_join_semi" -> (qJoinSemi _),
    "q_join_anti" -> (qJoinAnti _),
    "q_union_all" -> (qUnionAll _),
    "q_union_distinct" -> (qUnionDistinct _),
    "q_intersect" -> (qIntersect _),
    "q_except" -> (qExcept _),
    "q_distinct" -> (qDistinct _),
    "q_dropna" -> (qDropna _),
    "q_fillna" -> (qFillna _),
    "q_sample_frac" -> (qSampleFrac _),
    "q_sample_replace" -> (qSampleReplace _),
    "q_sample_replace_contract" -> (qSampleReplaceContract _),
    "q_sample_n" -> (qSampleN _),
    "q_take_ordered" -> (qTakeOrdered _),
    "q_take_per_group" -> (qTakePerGroup _),
    "q_head" -> (qHead _),
    "q_window_funcs" -> (qWindowFuncs _),
    "q_agg_stats" -> (qAggStats _),
    "q_assign" -> (qAssign _),
    "q_alter_columns" -> (qAlterColumns _),
    "q_rename_drop" -> (qRenameDrop _),
    "q_select_sql" -> (qSelectSql _),
    "q_load_pushdown" -> (qLoadPushdown _),
    "q_io_roundtrip" -> (qIoRoundtrip _),
    "q_split_contract" -> (qSplitContract _),
    "q_transform_map" -> (qTransformMap _),
    "q_cogroup" -> (qCogroup _),
    "q_asof_join" -> (qAsofJoin _),
    "q_events_window" -> (qEventsWindow _),
    "q_events_sessions" -> (qEventsSessions _),
    "q_sessions_native" -> (qSessionsNative _),
    "q_interval_join" -> (qIntervalJoin _),
    "q_pivot" -> (qPivot _),
    "q_rollup" -> (qRollup _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_explode" -> (qExplode _),
    "q_approx_stats" -> (qApproxStats _),
    "q_approx_bounds" -> (qApproxBounds _),
    "q_sketch_merge" -> (qSketchMerge _),
    "q_join_bucketed" -> (qJoinBucketed _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_minhash_recall" -> (qMinhashRecall _),
    "q_dedup_incremental" -> (qDedupIncremental _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_dedup_simhash_weighted" -> (qDedupSimhashWeighted _),
    "q_simhash_recall" -> (qSimhashRecall _),
    "q_dedup_jaccard" -> (qDedupJaccard _),
    "q_dedup_clusters" -> (qDedupClusters _),
    "q_split_by_cluster" -> (qSplitByCluster _),
    "q_dedup_keep_best" -> (qDedupKeepBest _),
    "q_dedup_wjaccard" -> (qDedupWjaccard _),
    "q_wminhash_recall" -> (qWminhashRecall _),
    "q_simhash_weighted_recall" -> (qSimhashWeightedRecall _),
    "q_dedup_embedding" -> (qDedupEmbedding _),
    "q_embedding_recall" -> (qEmbeddingRecall _),
    "q_semantic_recall" -> (qSemanticRecall _),
    "q_dedup_semantic" -> (qDedupSemantic _),
    "q_ann_bruteforce" -> (qAnnBruteforce _),
    "q_ann_lsh" -> (qAnnLsh _),
    "q_lsh_topk_recall" -> (qLshTopkRecall _),
    "q_ann_ivf" -> (qAnnIvf _),
    "q_ivf_recall" -> (qIvfRecall _),
    "q_ann_pq" -> (qAnnPq _),
    "q_pq_recall" -> (qPqRecall _),
    "q_ann_ivfpq" -> (qAnnIvfpq _),
    "q_ivfpq_recall" -> (qIvfpqRecall _),
    "q_ann_model_roundtrip" -> (qAnnModelRoundtrip _),
    "q_knn_classify" -> (qKnnClassify _),
    "q_mixture_temperature" -> (qMixtureTemperature _),
    "q_pack_windows" -> (qPackWindows _),
    "q_pack_bins" -> (qPackBins _),
    "q_pack_sequences" -> (qPackSequences _),
    "q_pack_incremental" -> (qPackIncremental _),
    "q_cdc_chunks" -> (qCdcChunks _),
    "q_cdc_dedup" -> (qCdcDedup _),
    "q_cdc_incremental" -> (qCdcIncremental _),
    "q_image_neardup" -> (qImageNeardup _),
    "q_audio_neardup" -> (qAudioNeardup _),
    "q_token_count" -> (qTokenCount _),
    "q_token_bpe" -> (qTokenBpe _),
    "q_chunk" -> (qChunk _),
    "q_langid" -> (qLangId _),
    "q_quality" -> (qQuality _),
    "q_redact" -> (qRedact _),
    "q_normalize" -> (qNormalize _),
    "q_containment" -> (qContainment _),
    "q_substring" -> (qSubstring _),
    "q_substring_incremental" -> (qSubstringIncremental _),
    "q_substring_stats" -> (qSubstringStats _),
    "q_substring_clean" -> (qSubstringClean _),
    "q_self_spans" -> (qSelfSpans _),
    "q_fingerprint" -> (qFingerprint _),
    "q_multimodal_meta" -> (qMultimodalMeta _),
    "q_multimodal_plan" -> (qMultimodalPlan _),
    "q_multimodal_decode" -> (qMultimodalDecode _),
    "q_multimodal_resize" -> (qMultimodalResize _),
    "q_multimodal_audio" -> (qMultimodalAudio _),
    "q_multimodal_frames" -> (qMultimodalFrames _),
    "q_namespace" -> (qNamespace _),
    "q_table_lifecycle" -> (qTableLifecycle _),
    "q_persist_table" -> (qPersistTable _),
    "q_special_columns" -> (qSpecialColumns _),
    "q_io_parquet" -> (qIoParquet _),
    "q_stream_dedup" -> (qStreamDedup _),
    "q_repartition" -> (qRepartition _),
    "q_analyze_stats" -> (qAnalyzeStats _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_decontaminate_semantic" -> (qDecontaminateSemantic _),
    "q_decontaminate_map" -> (qDecontaminateMap _),
    "q_lm_fluency" -> (qLmFluency _),
    "q_pipeline_e2e" -> (qPipelineE2e _),
    "q_stream_pipeline" -> (qStreamPipeline _),
    "q_paragraph_dedup" -> (qParagraphDedup _),
    "q_paragraph_incremental" -> (qParagraphIncremental _),
    "q_boilerplate" -> (qBoilerplate _),
    "q_salted_join" -> (qSaltedJoin _),
    "q_repetition" -> (qRepetition _),
    "q_mixture_contract" -> (qMixtureContract _),
    "q_mixture_stream" -> (qMixtureStream _),
    "q_tfidf" -> (qTfidf _),
    "q_gopher_filter" -> (qGopherFilter _),
    "q_quality_classifier" -> (qQualityClassifier _),
    "q_merge_upsert" -> (qMergeUpsert _),
    "q_scd2" -> (qScd2 _),
    "q_collocations" -> (qCollocations _),
    "q_profile" -> (qProfile _),
    "q_video_neardup" -> (qVideoNeardup _),
    "q_funnel" -> (qFunnel _),
    "q_retention" -> (qRetention _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_range_join" -> (qRangeJoin _),
    "q_decontaminate_bloom" -> (qDecontaminateBloom _),
    "q_skew_profile" -> (qSkewProfile _),
    "q_zorder" -> (qZorder _),
    "q_heavy_hitters_grouped" -> (qHeavyHittersGrouped _),
    "q_bm25_topk" -> (qBm25Topk _),
    "q_retrieval_metrics" -> (qRetrievalMetrics _),
    "q_hybrid_rrf" -> (qHybridRrf _),
    "q_events_sliding" -> (qEventsSliding _),
    "q_shard_assign" -> (qShardAssign _),
    "q_url_canonical" -> (qUrlCanonical _),
    "q_time_travel" -> (qTimeTravel _),
    "q_restore" -> (qRestore _),
    "q_vacuum" -> (qVacuum _),
    "q_point_in_time" -> (qPointInTime _),
    "q_association" -> (qAssociation _),
    "q_entity_resolution" -> (qEntityResolution _),
    "q_association_store" -> (qAssociationStore _),
    "q_compact" -> (qCompact _),
    "q_negative_sample" -> (qNegativeSample _),
    "q_ann_mmr" -> (qAnnMmr _),
    "q_event_transitions" -> (qEventTransitions _),
    "q_constraints" -> (qConstraints _),
    "q_heavy_hitters_stream" -> (qHeavyHittersStream _),
    "q_table_diff" -> (qTableDiff _),
    "q_fuzzy_join" -> (qFuzzyJoin _),
    "q_fuzzy_incremental" -> (qFuzzyIncremental _),
    "q_pagerank" -> (qPagerank _),
    "q_pagerank_personalized" -> (qPagerankPersonalized _),
    "q_graph_degrees" -> (qGraphDegrees _),
    "q_label_propagation" -> (qLabelPropagation _),
    "q_triangles" -> (qTriangles _),
    "q_dsir" -> (qDsir _),
    "q_drift_numeric" -> (qDriftNumeric _),
    "q_drift_categorical" -> (qDriftCategorical _),
    "q_drift_store" -> (qDriftStore _),
    "q_quantile_store" -> (qQuantileStore _),
    "q_grouped_quantile_store" -> (qGroupedQuantileStore _),
    "q_quantile_coarse" -> (qQuantileCoarse _),
    "q_winsorize" -> (qWinsorize _),
    "q_grouped_winsorize" -> (qGroupedWinsorize _),
    "q_k_anonymity" -> (qKAnonymity _),
    "q_l_diversity" -> (qLDiversity _),
    "q_weighted_sample" -> (qWeightedSample _),
    "q_char_entropy" -> (qCharEntropy _),
    "q_quota_cap" -> (qQuotaCap _),
    "q_rolling_anomaly" -> (qRollingAnomaly _),
    "q_bloom_join" -> (qBloomJoin _),
    "q_token_budget" -> (qTokenBudget _),
    "q_grouped_quantiles" -> (qGroupedQuantiles _),
    "q_quota_incremental" -> (qQuotaIncremental _),
    "q_unpivot" -> (qUnpivot _),
    "q_schema_evolution" -> (qSchemaEvolution _),
    "q_embedding_incremental" -> (qEmbeddingIncremental _),
    "q_simhash_incremental" -> (qSimhashIncremental _),
    "q_kcore" -> (qKCore _),
    "q_hits" -> (qHits _),
    "q_pagerank_weighted" -> (qPagerankWeighted _),
    "q_quantile_filter" -> (qQuantileFilter _),
    "q_shortest_paths" -> (qShortestPaths _),
    "q_resample" -> (qResample _),
    "q_bpe_train" -> (qBpeTrain _),
    "q_bpe_driver_train" -> (qBpeDriverTrain _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_random_project" -> (qRandomProject _),
    "q_attribution" -> (qAttribution _),
    "q_bpe_model_roundtrip" -> (qBpeModelRoundtrip _),
    "q_cusum" -> (qCusum _),
    "q_changepoint" -> (qChangepoint _),
    "q_acf" -> (qAcf _),
    "q_acf_store" -> (qAcfStore _),
    "q_acf_incremental" -> (qAcfIncremental _),
    "q_trend" -> (qTrend _),
    "q_robust_trend" -> (qRobustTrend _),
    "q_trend_store" -> (qTrendStore _),
    "q_trend_incremental" -> (qTrendIncremental _),
    "q_benford" -> (qBenford _),
    "q_pmi" -> (qPmi _),
    "q_link_prediction" -> (qLinkPrediction _),
    "q_forget" -> (qForget _),
    "q_forget_rewrite" -> (qForgetRewrite _),
    "q_cluster_medoid" -> (qClusterMedoid _),
    "q_ewma" -> (qEwma _),
    "q_holt" -> (qHolt _),
    "q_holt_winters" -> (qHoltWinters _),
    "q_holt_winters_incremental" -> (qHoltWintersIncremental _),
    "q_holt_winters_forecast" -> (qHoltWintersForecast _),
    "q_robust_anomaly" -> (qRobustAnomaly _),
    "q_robust_store" -> (qRobustStore _),
    "q_seasonal" -> (qSeasonal _),
    "q_seasonal_store" -> (qSeasonalStore _),
    "q_seasonal_incremental" -> (qSeasonalIncremental _),
    "q_edit_incremental" -> (qEditIncremental _),
    "q_edit_join" -> (qEditJoin _),
    "q_jaro_winkler" -> (qJaroWinkler _),
    "q_jw_join" -> (qJwJoin _),
    "q_keywords" -> (qKeywords _),
    "q_blocklist" -> (qBlocklist _),
    "q_soundex" -> (qSoundex _),
    "q_soundex_join" -> (qSoundexJoin _),
    "q_readability" -> (qReadability _),
    "q_phrase_search" -> (qPhraseSearch _)
  )

  /** The seasonal slot-profile replay — shared verbatim by `q_seasonal`
    * and `q_seasonal_store` (the roundtripped model scores identically
    * or the store key goes red). */
  /** DuckDB replay of the Holt-Winters triple recurrence
    * ([[operators.EventAnalytics.holtWinters]], α=0.2 β=0.1 γ=0.3,
    * hour-of-day slots, warmup 24, $30): one recursive CTE stepping a
    * rank per key in HUGEINT, the 24 seasonal components carried as a
    * LIST column updated by slice concatenation
    * (s[1:slot] || [new] || s[slot+2:24]); the new-level expression
    * repeats inline inside the trend and seasonal updates (the q_holt
    * convention — the recursive branch may reference `rec` only once,
    * so no LATERAL lets). All five truncating divisions are HUGEINT
    * `//` (toward zero, matching BigInt `/`).
    */
  private val holtWintersOracleSql: String = holtWintersOracleWhere("")

  /** The q_holt_winters replay with an optional final-row filter — the
    * incremental key reuses the SAME full-history recurrence restricted
    * to batch rows (under the append-order time split the continuation
    * must land bit-identically on exactly those rows).
    */
  private def holtWintersOracleWhere(finalWhere: String): String =
    holtWintersRecCte +
      s"""
         |SELECT id AS event_id, k AS user_id, us, slot, vc AS value_cents,
         |       CAST(l AS BIGINT) AS level_e6, CAST(b AS BIGINT) AS trend_e6,
         |       CAST(s[CAST(slot AS INT) + 1] AS BIGINT) AS seasonal_e6,
         |       dev AS deviation
         |FROM rec $finalWhere ORDER BY user_id, us, event_id""".stripMargin

  /** The forecast tail over the SAME recursive CTE: each key's terminal
    * state (max rn) emits h = 1..6 slot-stepped forecasts
    * l + h·b + s[(base_slot + h) mod 24] — any recurrence drift or
    * forecast-arithmetic mismatch goes red on the same shared core.
    */
  private val holtWintersForecastOracleSql: String =
    holtWintersRecCte +
      s"""
         |, term AS (
         | SELECT r.k, r.l, r.b, r.s, (r.us // 3600000000) % 24 AS base_slot
         | FROM rec r JOIN (SELECT k, max(rn) AS mr FROM rec GROUP BY 1) t
         |   ON r.k = t.k AND r.rn = t.mr)
         |SELECT k AS user_id, CAST(h AS BIGINT) AS h,
         |       CAST((base_slot + h) % 24 AS BIGINT) AS slot,
         |       CAST(l + h * b + s[CAST((base_slot + h) % 24 AS INT) + 1]
         |         AS BIGINT) AS forecast_e6
         |FROM term, unnest(generate_series(1, 6)) AS g(h)
         |ORDER BY user_id, h""".stripMargin

  /** The shared HUGEINT recursive core of every Holt-Winters oracle —
    * base projection, per-key ranks, and the triple recurrence carrying
    * the 24 seasonal components as a LIST column.
    */
  private lazy val holtWintersRecCte: String = {
    val sc = "rec.s[CAST(n.slot AS INT) + 1]"
    val x = "CAST(n.vc AS HUGEINT) * 1000000"
    val lnew = s"(CAST(200000 AS HUGEINT) * ($x - $sc)) // 1000000" +
      " + (CAST(800000 AS HUGEINT) * (rec.l + rec.b)) // 1000000"
    val bnew = s"(CAST(100000 AS HUGEINT) * (($lnew) - rec.l)) // 1000000" +
      " + (CAST(900000 AS HUGEINT) * rec.b) // 1000000"
    val scnew = s"(CAST(300000 AS HUGEINT) * ($x - ($lnew))) // 1000000" +
      s" + (CAST(700000 AS HUGEINT) * $sc) // 1000000"
    val supd = s"rec.s[1:CAST(n.slot AS INT)] || [$scnew]" +
      " || rec.s[CAST(n.slot AS INT) + 2:24]"
    val dev = s"n.rn > 24 AND abs($x - (rec.l + rec.b + $sc))" +
      " > CAST(3000 AS HUGEINT) * 1000000"
    s"""WITH RECURSIVE base AS (
       | SELECT user_id AS k, event_id AS id, epoch_us(ts) AS us,
       |        CAST(round(value * 100) AS BIGINT) AS vc,
       |        (epoch_us(ts) // 3600000000) % 24 AS slot
       | FROM events
       | WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
       |rk AS (SELECT k, id, us, vc, slot,
       |       CAST(row_number() OVER (PARTITION BY k ORDER BY us, id) AS BIGINT) AS rn
       |       FROM base),
       |rec AS (
       | SELECT k, id, us, vc, slot, rn,
       |        CAST(vc AS HUGEINT) * 1000000 AS l,
       |        CAST(0 AS HUGEINT) AS b,
       |        list_transform(generate_series(1, 24), i -> CAST(0 AS HUGEINT)) AS s,
       |        FALSE AS dev
       | FROM rk WHERE rn = 1
       | UNION ALL
       | SELECT n.k, n.id, n.us, n.vc, n.slot, n.rn,
       |        $lnew,
       |        $bnew,
       |        $supd,
       |        $dev
       | FROM rk n JOIN rec ON n.k = rec.k AND n.rn = rec.rn + 1)""".stripMargin
  }

  /** DuckDB replay of the robust median/MAD decision
    * ([[operators.EventAnalytics.robustAnomaly]], k=3.5, minEvents=5):
    * the same two-middle-ranks order statistics (the value at a rank is
    * determined by the multiset — row_number tie order never matters),
    * all integer. SHARED by the store roundtrip key.
    */
  private val robustOracleSql: String =
    """WITH base AS (
      | SELECT user_id AS k, event_id AS id, epoch_us(ts) AS us,
      |        CAST(round(value * 100) AS BIGINT) AS vc
      | FROM events
      | WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
      |n AS (SELECT k, count(*) AS n_key FROM base GROUP BY 1),
      |r1 AS (SELECT b.k, b.id, b.us, b.vc, n.n_key,
      |       row_number() OVER (PARTITION BY b.k ORDER BY b.vc) AS rn
      |       FROM base b JOIN n USING (k)),
      |med AS (SELECT k,
      |        CAST(sum(CASE WHEN rn = (n_key + 1) // 2 THEN vc ELSE 0 END
      |          + CASE WHEN rn = n_key // 2 + 1 THEN vc ELSE 0 END)
      |          AS BIGINT) AS median_x2_cents
      |        FROM r1 GROUP BY 1),
      |d AS (SELECT r1.k, r1.id, r1.us, r1.vc, r1.n_key, m.median_x2_cents,
      |      abs(2 * r1.vc - m.median_x2_cents) AS absdev_x2_cents
      |      FROM r1 JOIN med m USING (k)),
      |r2 AS (SELECT d.*, row_number() OVER (PARTITION BY k ORDER BY absdev_x2_cents) AS rn2
      |       FROM d),
      |mad AS (SELECT k,
      |        CAST(sum(CASE WHEN rn2 = (n_key + 1) // 2 THEN absdev_x2_cents ELSE 0 END
      |          + CASE WHEN rn2 = n_key // 2 + 1 THEN absdev_x2_cents ELSE 0 END)
      |          AS BIGINT) AS mad_x4_cents
      |        FROM r2 GROUP BY 1)
      |SELECT d.id AS event_id, d.k AS user_id, d.us, d.vc AS value_cents,
      |       d.median_x2_cents, d.absdev_x2_cents, mad.mad_x4_cents, d.n_key,
      |       (d.n_key >= 5 AND d.absdev_x2_cents * 2000 > mad.mad_x4_cents * 3500)
      |         AS deviation
      |FROM d JOIN mad USING (k)
      |ORDER BY user_id, us, event_id""".stripMargin

  private val seasonalOracleSql: String =
    """WITH base AS (
      | SELECT user_id AS k, event_id AS id, epoch_us(ts) AS us,
      |        CAST(round(value * 100) AS BIGINT) AS vc,
      |        (epoch_us(ts) // 3600000000) % 24 AS slot
      | FROM events
      | WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
      |prof AS (SELECT k, slot, count(*) AS n_slot,
      |         CAST(sum(vc) // count(*) AS BIGINT) AS baseline_cents
      |         FROM base GROUP BY 1, 2)
      |SELECT b.id AS event_id, b.k AS user_id, b.us, b.slot,
      |       b.vc AS value_cents, p.baseline_cents, p.n_slot,
      |       (p.n_slot >= 3 AND abs(b.vc - p.baseline_cents) > 2500) AS deviation
      |FROM base b JOIN prof p ON b.k = p.k AND b.slot = p.slot
      |ORDER BY user_id, us, event_id""".stripMargin

  /** DuckDB re-expression of the winnowing kernel ([[graft.functions.Kernels.winnow]],
    * k=8, w=4): per doc, FNV-1a over char 8-grams and the splitmix64
    * finalizer replayed in mod-2^64 HUGEINT arithmetic (the ~2^64 splitmix
    * multipliers are split into 32-bit halves so no product exceeds
    * HUGEINT range), values converted to SIGNED bigint BEFORE the window-4
    * minima (the kernel's deque compares signed longs), then distinct.
    * MATERIALIZED so self-joining consumers don't recompute the hash chain.
    * Safe because documents.text is pure ASCII (UTF-16 units == code
    * points); yields `sel(doc_id, fp bigint[])`.
    */
  /** DuckDB all-positions recompute of maximal shared substring spans ≥ 40
    * chars — the INDEPENDENT formulation of what [[graft.operators.Dedup.sharedSpans]]
    * computes by winnowing-anchored extension: every 40-gram position is
    * md5-hashed, matched across distinct docs, and maximal runs along each
    * (pos_a - pos_b) diagonal recover exact span boundaries (a shared span
    * of length M contributes exactly M-39 consecutive diagonal matches).
    * Yields `spans(doc_a, doc_b, pos_a, pos_b, span_len)`, 1-based.
    * Character positions are safe for the same reason as the winnow
    * replay: documents.text is pure ASCII.
    */
  /** DuckDB recompute of n-gram collision decontamination on STRING grams
    * (collision-free ground truth for the 64-bit hashed forms) — shared by
    * q_decontaminate (join form) and q_decontaminate_map (trained-model
    * kernel form): both must flag exactly these docs.
    */
  private val decontaminateOracleSql: String =
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |grams AS (SELECT doc_id,
      |  list_distinct(list_transform(generate_series(1, len(w)-2),
      |                i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
      |  FROM toks WHERE len(w) >= 3),
      |bg AS (SELECT DISTINCT unnest(g) AS gr FROM grams WHERE doc_id % 20 = 0),
      |cg AS (SELECT doc_id, unnest(g) AS gr FROM grams WHERE doc_id % 20 <> 0),
      |hit AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg ON cg.gr = bg.gr)
      |SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
      |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
      |WHERE d.doc_id % 20 <> 0
      |ORDER BY d.doc_id""".stripMargin

  private val substringSpansCte: String =
    """WITH g AS (
      | SELECT doc_id,
      |  unnest(generate_series(1, greatest(length(text) - 39, 0))) AS i,
      |  text
      | FROM documents),
      |h AS (
      | SELECT doc_id, i, md5(substr(text, i, 40)) AS gh FROM g),
      |m AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia, b.i AS ib
      | FROM h a JOIN h b ON a.gh = b.gh AND a.doc_id < b.doc_id),
      |r AS (
      | SELECT doc_a, doc_b, ia, ib, ia - ib AS diag,
      |  ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib ORDER BY ia) AS grp
      | FROM m),
      |spans AS MATERIALIZED (
      | SELECT doc_a, doc_b,
      |  CAST(min(ia) AS BIGINT) AS pos_a, CAST(min(ib) AS BIGINT) AS pos_b,
      |  CAST(count(*) + 39 AS BIGINT) AS span_len
      | FROM r GROUP BY doc_a, doc_b, diag, grp)""".stripMargin

  private val winnowOracleCte: String =
    """WITH g AS (
      | SELECT doc_id,
      |  list_transform(
      |   generate_series(1, greatest(length(text) - 7, 0)),
      |   i -> list_reduce(
      |     list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |       list_transform(generate_series(i, i + 7),
      |         j -> CAST(unicode(substr(text, j, 1)) AS HUGEINT))),
      |     (h, c) -> (xor(h, c) * 1099511628211) % 18446744073709551616)
      |  ) AS raw
      | FROM documents),
      |mx AS (
      | SELECT doc_id,
      |  list_transform(
      |   list_transform(
      |    list_transform(
      |     list_transform(
      |      list_transform(
      |       list_transform(raw,
      |        x -> (x + 11400714819323198485) % 18446744073709551616),
      |       z -> xor(z, z // 1073741824)),
      |      t -> (t * 484763065 + ((t * 3210233709) % 4294967296) * 4294967296) % 18446744073709551616),
      |     z -> xor(z, z // 134217728)),
      |    t -> (t * 321982955 + ((t * 2496678331) % 4294967296) * 4294967296) % 18446744073709551616),
      |   z -> xor(z, z // 2147483648)
      |  ) AS hu
      | FROM g),
      |sg AS (
      | SELECT doc_id,
      |  list_transform(hu,
      |   u -> CAST(CASE WHEN u >= 9223372036854775808
      |     THEN u - 18446744073709551616 ELSE u END AS BIGINT)
      |  ) AS hs
      | FROM mx),
      |sel AS MATERIALIZED (
      | SELECT doc_id,
      |  CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
      |       ELSE list_distinct(list_transform(
      |         generate_series(1, len(hs) - least(len(hs), 4) + 1),
      |         i -> list_min(hs[i : i + least(len(hs), 4) - 1])))
      |  END AS fp
      | FROM sg)""".stripMargin

  /** Shared DuckDB basis of the TF-weighted jaccard oracles (same
    * convention as [[winnowOracleCte]]): per-doc trigram term frequencies,
    * per-doc totals, and the pairwise Σmin — one definition of the weighted
    * coefficient, so q_dedup_wjaccard and q_wminhash_recall cannot drift.
    * Yields `tot(doc_id, t)` and `smin(doc_a, doc_b, s)`.
    */
  private val wjaccardOracleCte: String =
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |grams AS (SELECT doc_id, gram, count(*) AS tf FROM (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2),
      |         i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS gram
      |  FROM toks WHERE len(w) >= 3) GROUP BY doc_id, gram),
      |tot AS (SELECT doc_id, sum(tf) AS t FROM grams GROUP BY doc_id),
      |smin AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  sum(least(a.tf, b.tf)) AS s
      |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  /** Per-doc gopher flags — the q_gopher_filter oracle, also embedded as
    * the label CTE of [[qualityClassifierOracleSql]].
    */
  private val gopherFilterOracleSql: String =
    """WITH base AS (
      | SELECT doc_id, length(text) AS nc,
      |  string_split(trim(text), ' ') AS w,
      |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|you|that|it|for)\b')) AS stop_hits,
      |  CASE WHEN len(string_split(trim(text), ' ')) >= 2 THEN
      |   list_transform(generate_series(1, len(string_split(trim(text), ' ')) - 1),
      |     i -> concat(string_split(trim(text), ' ')[i], ' ',
      |                 string_split(trim(text), ' ')[i+1]))
      |  ELSE CAST([] AS VARCHAR[]) END AS g
      | FROM documents),
      |words AS (SELECT doc_id, unnest(w) AS t FROM base),
      |wcnt AS (SELECT doc_id, t, count(*) AS c FROM words GROUP BY doc_id, t),
      |wtop AS (SELECT doc_id, c FROM (
      |  SELECT doc_id, c, row_number() OVER (
      |   PARTITION BY doc_id ORDER BY c DESC, t ASC) AS rn FROM wcnt) WHERE rn = 1),
      |m AS (SELECT b.doc_id,
      |  cast(len(b.w) AS bigint) AS n_words,
      |  cast(b.nc - (len(b.w) - 1) AS double) / len(b.w) AS mean_word_len,
      |  CASE WHEN len(b.g) > 0 THEN
      |   cast(len(b.g) - len(list_distinct(b.g)) AS double) / len(b.g)
      |  ELSE 0.0 END AS dup_ngram_frac,
      |  cast(wtop.c AS double) / len(b.w) AS top_word_frac,
      |  b.stop_hits
      | FROM base b JOIN wtop ON b.doc_id = wtop.doc_id)
      |SELECT doc_id, n_words, mean_word_len, dup_ngram_frac, top_word_frac,
      | stop_hits,
      | (n_words >= 50 AND n_words <= 100000) AS f_word_count,
      | (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS f_mean_word_len,
      | (dup_ngram_frac <= 0.2) AS f_dup_ngram,
      | (top_word_frac <= 0.3) AS f_top_word,
      | (stop_hits >= 2) AS f_stopwords,
      | ((n_words >= 50 AND n_words <= 100000)
      |  AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
      |  AND (dup_ngram_frac <= 0.2) AND (top_word_frac <= 0.3)
      |  AND (stop_hits >= 2)) AS gopher_pass
      |FROM m ORDER BY doc_id""".stripMargin

  /** DuckDB end-to-end replay of the trained quality classifier
    * ([[qQualityClassifier]]): labels from the per-doc gopher SQL,
    * hashed feature sets from a per-character `unicode(substring(...))`
    * walk of every unigram/bigram/structural gram (the code-point
    * polynomial hash of [[graft.functions.Kernels.qualityFeatures]]),
    * and all 64 integer GD iterations UNROLLED as chained MATERIALIZED
    * CTEs — a recursive CTE cannot correlate the carried weight list
    * into the nested gradient aggregation (DuckDB silently yields empty
    * there), and without MATERIALIZED the optimizer inlines each
    * iteration into its consumers, re-evaluating the chain
    * exponentially. Every arithmetic step is 64-bit-integer adds and
    * truncating division (DuckDB `//` truncates toward zero exactly
    * like Scala `/`), so weights and scores match bit-for-bit.
    */
  private val qualityClassifierOracleSql: String = {
    val d = 4096; val iters = 64; val scale = 65536L; val lrDiv = 64
    val iterCtes = (1 to iters).map { t =>
      val prev = s"w${t - 1}"
      s"""m$t AS MATERIALIZED (
         | SELECT sa.doc_id, list_sum(list_transform(sa.buckets, bb -> p.w[bb + 1])) - sa.y * $scale AS err
         | FROM sagg sa CROSS JOIN $prev p),
         |g$t AS MATERIALIZED (
         | SELECT f.bucket AS b, SUM(m.err) AS g
         | FROM m$t m JOIN sfeat f ON f.doc_id = m.doc_id
         | GROUP BY f.bucket),
         |w$t AS MATERIALIZED (
         | SELECT list(p.w[j.j + 1] - CAST(coalesce(g.g, 0) AS BIGINT) // (nn.n * $lrDiv) ORDER BY j.j) AS w
         | FROM generate_series(0, ${d - 1}) AS j(j)
         | CROSS JOIN $prev p CROSS JOIN nn
         | LEFT JOIN g$t g ON g.b = j.j)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |lab AS MATERIALIZED (SELECT doc_id, gopher_pass FROM (
       |$gopherFilterOracleSql
       |)),
       |base0 AS (
       | SELECT doc_id, length(text) AS nc, string_split(trim(text), ' ') AS w
       | FROM documents WHERE text IS NOT NULL),
       |gram AS (
       | SELECT doc_id, unnest(w) AS g FROM base0
       | UNION ALL
       | SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
       |   i -> concat(w[i], ' ', w[i+1]))) AS g
       | FROM base0 WHERE len(w) >= 2
       | UNION ALL
       | SELECT doc_id, unnest([
       |   chr(1) || 'B',
       |   chr(1) || 'L' || CAST(length(bin(len(w))) - 1 AS VARCHAR),
       |   chr(1) || 'M' || CAST(greatest(0, least(20, (nc - (len(w) - 1)) // len(w))) AS VARCHAR)
       | ]) AS g
       | FROM base0),
       |feat AS MATERIALIZED (
       | SELECT DISTINCT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series(1, length(g)),
       |      i -> CAST(unicode(substring(g, i, 1)) AS BIGINT))),
       |    (a, c) -> (a * 31 + c) % 1000003) % $d AS bucket
       | FROM gram),
       |samp AS MATERIALIZED (
       | SELECT doc_id, CAST(gopher_pass AS BIGINT) AS y
       | FROM lab WHERE doc_id % 2 = 0
       | ORDER BY doc_id LIMIT 1024),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM samp),
       |sfeat AS MATERIALIZED (
       | SELECT f.doc_id, f.bucket FROM feat f JOIN samp ON f.doc_id = samp.doc_id),
       |sagg AS MATERIALIZED (
       | SELECT s.doc_id, s.y, list(f.bucket ORDER BY f.bucket) AS buckets
       | FROM samp s JOIN sfeat f ON f.doc_id = s.doc_id
       | GROUP BY s.doc_id, s.y),
       |w0 AS (SELECT list_transform(generate_series(1, $d), x -> CAST(0 AS BIGINT)) AS w),
       |$iterCtes,
       |scored AS (
       | SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feat,
       |  CAST(SUM(p.w[f.bucket + 1]) AS BIGINT) AS margin
       | FROM feat f CROSS JOIN w$iters p
       | GROUP BY f.doc_id)
       |SELECT d.doc_id,
       | coalesce(s.n_feat, 0) AS n_feat,
       | coalesce(s.margin, 0) AS margin,
       | least(1.0, greatest(0.0, CAST(coalesce(s.margin, 0) AS DOUBLE) / 65536.0)) AS q_score,
       | coalesce(s.margin, 0) > ${scale / 2} AS pred_pass
       |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Shared oracle for the two sessionization forms (window-function
    * and native session_window) — identical output contract.
    */
  private val sessionsOracleSql: String =
    """WITH x AS (SELECT user_id, ts, epoch_us(ts) AS us,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us FROM events),
        |y AS (SELECT user_id, us,
        |  CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM x),
        |z AS (SELECT user_id, us,
        |  cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS session_idx
        |  FROM y)
        |SELECT user_id, session_idx, count(*) AS n_events,
        | min(us) AS start_us, max(us) AS end_us,
        | max(us) - min(us) AS duration_us
        |FROM z GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | cast(sum(cast(round(l_quantity*100) AS bigint)) AS bigint) AS sum_qty_cents,
        | cast(sum(cast(round(l_extendedprice*100) AS bigint)) AS bigint) AS sum_base_price_cents,
        | cast(sum(cast(round(l_extendedprice*100) AS bigint)
        |          * (100 - cast(round(l_discount*100) AS bigint))) AS bigint) AS sum_disc_price_e4,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, cast(o_orderdate AS date) AS o_orderdate,
        | cast(sum(cast(l_extendedprice AS decimal(12,2))
        |          * (cast(1 AS decimal(12,2)) - cast(l_discount AS decimal(12,2))))
        |      AS decimal(38,4)) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1995-03-15' AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, cast(o_orderdate AS date)
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        | cast(sum(cast(l_extendedprice AS decimal(12,2))
        |          * (cast(1 AS decimal(12,2)) - cast(l_discount AS decimal(12,2))))
        |      AS decimal(38,4)) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        | cast(sum(cast(round(l_extendedprice*100) AS bigint)
        |          * (100 - cast(round(l_discount*100) AS bigint))) AS bigint) AS revenue_e4
        |FROM orders, lineitem, customer, nation
        |WHERE o_orderkey = l_orderkey AND o_custkey = c_custkey
        |  AND c_nationkey = n_nationkey AND l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_e4 DESC, c_custkey LIMIT 20""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT p_type,
        | cast(sum(cast(l_extendedprice AS decimal(12,2))
        |          * (cast(1 AS decimal(12,2)) - cast(l_discount AS decimal(12,2))))
        |      AS decimal(38,4)) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY p_type ORDER BY p_type""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type, count(*) AS n,
        | cast(sum(cast(json_extract_string(props, '$.k') AS bigint)) AS bigint) AS sum_k,
        | count(CASE WHEN cast(json_extract_string(props, '$.k') AS bigint) > 50
        |            THEN 1 END) AS n_high
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        | SELECT l_orderkey AS o_orderkey,
        |  cast(sum(cast(round(l_quantity*100) AS bigint)) AS bigint) AS sum_qty_cents
        | FROM lineitem GROUP BY l_orderkey
        | HAVING sum(cast(round(l_quantity*100) AS bigint)) > 21200)
        |SELECT c_custkey, c_name, o_orderkey,
        | cast(o_orderdate AS date) AS o_orderdate, sum_qty_cents
        |FROM orders JOIN big USING (o_orderkey)
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty_cents DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_quantity > 45.0 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_join_inner" ->
      """SELECT c_custkey, c_name, n_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey, o_orderkey
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin,
    "q_join_right" ->
      """SELECT o_custkey, o_orderkey, c_name
        |FROM customer RIGHT JOIN orders ON c_custkey = o_custkey
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_join_full" ->
      """SELECT coalesce(a.nationkey, b.nationkey) AS nationkey, n_cust, n_supp FROM
        | (SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer GROUP BY 1) a
        | FULL JOIN
        | (SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) b
        | USING (nationkey)
        |ORDER BY nationkey NULLS FIRST""".stripMargin,
    "q_join_cross" ->
      """SELECT r_regionkey, r_name, n_nationkey, n_name
        |FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_union_all" ->
      """SELECT nk FROM (
        | SELECT cast(c_nationkey AS int) AS nk FROM customer
        | UNION ALL SELECT cast(s_nationkey AS int) AS nk FROM supplier)
        |ORDER BY nk""".stripMargin,
    "q_union_distinct" ->
      """SELECT nk FROM (
        | SELECT cast(c_nationkey AS int) AS nk FROM customer
        | UNION SELECT cast(s_nationkey AS int) AS nk FROM supplier)
        |ORDER BY nk""".stripMargin,
    "q_intersect" ->
      """SELECT cast(c_nationkey AS int) AS nk FROM customer
        |INTERSECT SELECT cast(s_nationkey AS int) AS nk FROM supplier
        |ORDER BY nk""".stripMargin,
    "q_except" ->
      """SELECT ck FROM (
        | SELECT o_custkey AS ck FROM orders
        | EXCEPT SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 150000.0)
        |ORDER BY ck""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "q_dropna" ->
      """SELECT c_custkey, c_acctbal AS bal FROM customer
        |WHERE NOT (c_acctbal < 0.0) ORDER BY c_custkey""".stripMargin,
    "q_fillna" ->
      """SELECT c_custkey,
        | CASE WHEN c_acctbal < 0.0 THEN 0.0 ELSE c_acctbal END AS bal
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_take_ordered" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin,
    "q_take_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) WHERE rn <= 2
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "q_head" ->
      "SELECT * FROM nation ORDER BY n_nationkey LIMIT 5",
    "q_window_funcs" ->
      """SELECT * FROM (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  cast(rank() OVER w AS bigint) AS price_rank,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  cast(sum(cast(round(o_totalprice*100) AS bigint))
        |    OVER (PARTITION BY o_orderpriority
        |          ORDER BY o_totalprice DESC, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS running_total_cents
        | FROM orders
        | WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey))
        |WHERE price_rank <= 100
        |ORDER BY o_orderpriority, price_rank""".stripMargin,
    "q_agg_stats" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        | count(DISTINCT l_orderkey) AS n_orders,
        | min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        | cast(min(l_shipdate) AS date) AS first_ship
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_assign" ->
      """SELECT l_orderkey, l_linenumber,
        | l_extendedprice * (1.0 - l_discount) AS disc_price,
        | l_quantity > 25.0 AS bulk
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_alter_columns" ->
      """SELECT cast(n_nationkey AS bigint) AS n_nationkey, n_name,
        | cast(n_regionkey AS double) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q_rename_drop" ->
      """SELECT s_suppkey, s_name AS supplier_name, s_nationkey
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "q_select_sql" ->
      """SELECT n_name, count(*) AS num_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_load_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem WHERE l_quantity > 45.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_io_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM (
        | SELECT * FROM nation UNION ALL SELECT * FROM nation
        | UNION ALL SELECT * FROM nation)
        |ORDER BY n_nationkey""".stripMargin,
    "q_split_contract" ->
      """SELECT count(*) AS n_total, cast(0 AS bigint) AS n_overlap
        |FROM orders""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,
    // the simhash recall CONTRACT: exact jaccard >= 0.7 ground truth
    // (recomputed all-pairs), every pair must be found at radius 14
    "q_simhash_recall" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |grams AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(w)-2),
        |                i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
        |  FROM toks WHERE len(w) >= 3),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.g, b.g)) AS i,
        |  len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS u
        |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, true AS found_by_simhash FROM pairs
        |WHERE cast(i AS double) / u >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_minhash_recall" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |grams AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(w)-2),
        |                i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
        |  FROM toks WHERE len(w) >= 3),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.g, b.g)) AS i,
        |  len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS u
        |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, true AS found_by_minhash FROM pairs
        |WHERE cast(i AS double) / u >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_incremental" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' clone edit'
        |  FROM documents WHERE doc_id % 25 = 0),
        |toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM all_docs),
        |grams AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(w)-2),
        |                i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
        |  FROM toks WHERE len(w) >= 3),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.g, b.g)) AS i,
        |  len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS u
        |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, true AS found_incremental FROM pairs
        |WHERE cast(i AS double) / u >= 0.7
        |  AND (doc_a >= 1000000 OR doc_b >= 1000000)
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |grams AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(w)-2),
        |                i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
        |  FROM toks WHERE len(w) >= 3),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.g, b.g)) AS i,
        |  len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS u
        |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, cast(i AS double) / u AS jaccard FROM pairs
        |WHERE cast(i AS double) / u >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |grams AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(w)-2),
        |                i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
        |  FROM toks WHERE len(w) >= 3),
        |jpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id
        |  WHERE cast(len(list_intersect(a.g, b.g)) AS double)
        |        / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.7),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
        |      UNION SELECT doc_b, doc_a FROM jpairs),
        |reach(src, dst) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
        |comp AS (SELECT src AS doc_id, min(dst) AS cluster_id
        |         FROM reach GROUP BY src)
        |SELECT d.doc_id,
        | coalesce(c.cluster_id, d.doc_id) AS cluster_id,
        | d.doc_id = coalesce(c.cluster_id, d.doc_id) AS keep
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // leakage-safe split: CC replayed recursively, then fold =
    // md5('42:'||cluster_id) mod 1e6 against the 8/1/1 ppm thresholds
    "q_split_by_cluster" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |grams AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(w)-2),
        |                i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
        |  FROM toks WHERE len(w) >= 3),
        |jpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id
        |  WHERE cast(len(list_intersect(a.g, b.g)) AS double)
        |        / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.7),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
        |      UNION SELECT doc_b, doc_a FROM jpairs),
        |reach(src, dst) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
        |comp AS (SELECT src AS doc_id, min(dst) AS cluster_id
        |         FROM reach GROUP BY src),
        |lab AS (SELECT d.doc_id,
        |  coalesce(c.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        |keyed AS (SELECT doc_id, cluster_id,
        |  CAST(('0x' || substr(md5('42:' || CAST(cluster_id AS VARCHAR)), 1, 15))
        |    AS BIGINT) % 1000000 AS k
        |  FROM lab)
        |SELECT doc_id, cluster_id, doc_id = cluster_id AS keep,
        | CAST(CASE WHEN k < 800000 THEN 0 WHEN k < 900000 THEN 1 ELSE 2 END
        |   AS BIGINT) AS fold
        |FROM keyed ORDER BY doc_id""".stripMargin,
    "q_dedup_keep_best" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |grams AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(w)-2),
        |                i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
        |  FROM toks WHERE len(w) >= 3),
        |jpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id
        |  WHERE cast(len(list_intersect(a.g, b.g)) AS double)
        |        / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.7),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
        |      UNION SELECT doc_b, doc_a FROM jpairs),
        |reach(src, dst) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
        |comp AS (SELECT src AS doc_id, min(dst) AS cluster_id
        |         FROM reach GROUP BY src),
        |elect AS (
        |  SELECT c.cluster_id, d.doc_id AS keeper_id,
        |   row_number() OVER (PARTITION BY c.cluster_id
        |                      ORDER BY d.n_chars DESC, d.doc_id) AS rn
        |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
        |keepers AS (SELECT cluster_id, keeper_id FROM elect WHERE rn = 1)
        |SELECT d.doc_id,
        | coalesce(c.cluster_id, d.doc_id) AS cluster_id,
        | coalesce(k.keeper_id, d.doc_id) AS keeper_id,
        | d.doc_id = coalesce(k.keeper_id, d.doc_id) AS keep
        |FROM documents d
        |LEFT JOIN comp c ON d.doc_id = c.doc_id
        |LEFT JOIN keepers k ON k.cluster_id = c.cluster_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_wjaccard" -> (wjaccardOracleCte +
      """
        |SELECT doc_a, doc_b,
        |  cast(s AS double) / (ta.t + tb.t - s) AS wjaccard
        |FROM smin JOIN tot ta ON ta.doc_id = doc_a JOIN tot tb ON tb.doc_id = doc_b
        |WHERE cast(s AS double) / (ta.t + tb.t - s) >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin),
    "q_wminhash_recall" -> (wjaccardOracleCte +
      """
        |SELECT doc_a, doc_b, true AS found_by_wminhash
        |FROM smin JOIN tot ta ON ta.doc_id = doc_a JOIN tot tb ON tb.doc_id = doc_b
        |WHERE cast(s AS double) / (ta.t + tb.t - s) >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin),
    "q_simhash_weighted_recall" -> (wjaccardOracleCte +
      """
        |SELECT doc_a, doc_b, true AS found_by_wsimhash
        |FROM smin JOIN tot ta ON ta.doc_id = doc_a JOIN tot tb ON tb.doc_id = doc_b
        |WHERE cast(s AS double) / (ta.t + tb.t - s) >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin),
    "q_transform_map" ->
      """SELECT l_orderkey, l_linenumber,
        | (cast(round(l_extendedprice*100) AS bigint)
        |  * (100 - cast(round(l_discount*100) AS bigint))) // 100 AS disc_price_cents,
        | l_quantity > 25.0 AS heavy
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_cogroup" ->
      """SELECT c_custkey, cast(round(c_acctbal*100) AS bigint) AS c_acctbal_cents,
        | count(o_orderkey) AS n_orders,
        | cast(coalesce(sum(cast(round(o_totalprice*100) AS bigint)), 0) AS bigint) AS total_spent_cents
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_acctbal ORDER BY c_custkey""".stripMargin,
    "q_asof_join" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT * FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.value,
        | c.value AS click_value, c.event_id AS click_event
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "q_pivot" ->
      """SELECT year(o_orderdate) AS yr,
        | count(*) FILTER (o_orderpriority = '1-URGENT') AS "1-URGENT",
        | count(*) FILTER (o_orderpriority = '2-HIGH') AS "2-HIGH",
        | count(*) FILTER (o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
        | count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
        | count(*) FILTER (o_orderpriority = '5-LOW') AS "5-LOW"
        |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | cast(sum(cast(round(l_quantity*100) AS bigint)) AS bigint) AS sum_qty_cents
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | cast(year(l_shipdate) AS bigint) AS ship_year, count(*) AS n,
        | cast(sum(cast(round(l_quantity*100) AS bigint)) AS bigint) AS sum_qty_cents
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (cast(year(l_shipdate) AS bigint)))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST,
        |  ship_year NULLS FIRST""".stripMargin,
    "q_sample_n" ->
      """SELECT cast(100 AS bigint) AS n_sampled, cast(100 AS bigint) AS n_distinct,
        | cast(100 AS bigint) AS n_in_orders""".stripMargin,
    "q_sample_replace_contract" ->
      """SELECT cast(count(*) AS bigint) AS n_source, true AS all_from_source,
        | true AS has_replacement, true AS count_in_band FROM orders""".stripMargin,
    "q_approx_bounds" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_exact, true AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_sketch_merge" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact, true AS merged_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_join_bucketed" ->
      """SELECT o_orderpriority,
        | cast(sum(cast(round(l_extendedprice*100) AS bigint)
        |          * (100 - cast(round(l_discount*100) AS bigint))) AS bigint) AS revenue_e4,
        | count(*) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_explode" ->
      """SELECT tok, count(*) AS n FROM (
        | SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
    "q_events_window" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        | event_type, count(*) AS n_events,
        | cast(sum(cast(round(value*100) AS bigint)) AS bigint) AS sum_value_cents,
        | min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,
    "q_events_sessions" -> sessionsOracleSql,
    "q_sessions_native" -> sessionsOracleSql,
    
    "q_interval_join" ->
      """WITH p AS (SELECT user_id, event_id AS l_id, epoch_us(ts) AS l_us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS r_id, epoch_us(ts) AS r_us, value AS r_value
        |      FROM events WHERE event_type = 'click')
        |SELECT p.user_id, l_id, l_us, r_id, r_us, r_value
        |FROM p JOIN c ON p.user_id = c.user_id
        | AND r_us >= l_us - 1800000000 AND r_us <= l_us
        |ORDER BY l_id, r_id""".stripMargin,
    "q_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |scored AS (SELECT query_id, neighbor_id, list_cosine_similarity(cv, qv) AS score
        |           FROM q, c WHERE neighbor_id != query_id),
        |ranked AS (SELECT query_id, neighbor_id, score,
        |           row_number() OVER (PARTITION BY query_id
        |                              ORDER BY score DESC, neighbor_id) AS rank
        |           FROM scored)
        |SELECT query_id, rank, neighbor_id, score FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // the PQ recall CONTRACT: every exact top-2 cosine neighbor (DuckDB
    // recomputes them) must be found in the PQ top-20 shortlist
    "q_pq_recall" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |scored AS (SELECT query_id, neighbor_id, list_cosine_similarity(cv, qv) AS score
        |           FROM q, c WHERE neighbor_id != query_id),
        |ranked AS (SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id
        |                              ORDER BY score DESC, neighbor_id) AS rank
        |           FROM scored)
        |SELECT query_id, rank, neighbor_id, true AS found_by_pq
        |FROM ranked WHERE rank <= 2 ORDER BY query_id, rank""".stripMargin,
    // LSH/IVF recall CONTRACTS over the PLANTED corpus: two clones per
    // query (clone j of query q zeroes element 2q+j — exact in float and
    // double, so the slice-rebuilt vectors match Spark's bit-for-bit),
    // exact top-2 recomputed over corpus+clones, literal-true found flag
    "q_lsh_topk_recall" ->
      """WITH clones AS (
        |  SELECT 1000000 + 2*vec_id + j.j AS vec_id,
        |    embedding[1:(2*vec_id + j.j)] || [CAST(0 AS FLOAT)]
        |      || embedding[(2*vec_id + j.j + 2):] AS embedding
        |  FROM embeddings, (SELECT unnest([0, 1]) AS j) j WHERE vec_id < 8),
        |aug AS (SELECT vec_id, embedding FROM embeddings
        |        UNION ALL SELECT vec_id, embedding FROM clones),
        |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM aug),
        |scored AS (SELECT query_id, neighbor_id, list_cosine_similarity(cv, qv) AS score
        |           FROM q, c WHERE neighbor_id != query_id),
        |ranked AS (SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id
        |                              ORDER BY score DESC, neighbor_id) AS rank
        |           FROM scored)
        |SELECT query_id, rank, neighbor_id, true AS found_by_lsh
        |FROM ranked WHERE rank <= 2 ORDER BY query_id, rank""".stripMargin,
    "q_ivf_recall" ->
      """WITH clones AS (
        |  SELECT 1000000 + 2*vec_id + j.j AS vec_id,
        |    embedding[1:(2*vec_id + j.j)] || [CAST(0 AS FLOAT)]
        |      || embedding[(2*vec_id + j.j + 2):] AS embedding
        |  FROM embeddings, (SELECT unnest([0, 1]) AS j) j WHERE vec_id < 8),
        |aug AS (SELECT vec_id, embedding FROM embeddings
        |        UNION ALL SELECT vec_id, embedding FROM clones),
        |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM aug),
        |scored AS (SELECT query_id, neighbor_id, list_cosine_similarity(cv, qv) AS score
        |           FROM q, c WHERE neighbor_id != query_id),
        |ranked AS (SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id
        |                              ORDER BY score DESC, neighbor_id) AS rank
        |           FROM scored)
        |SELECT query_id, rank, neighbor_id, true AS found_by_ivf
        |FROM ranked WHERE rank <= 2 ORDER BY query_id, rank""".stripMargin,
    "q_ivfpq_recall" ->
      """WITH clones AS (
        |  SELECT 1000000 + 2*vec_id + j.j AS vec_id,
        |    embedding[1:(2*vec_id + j.j)] || [CAST(0 AS FLOAT)]
        |      || embedding[(2*vec_id + j.j + 2):] AS embedding
        |  FROM embeddings, (SELECT unnest([0, 1]) AS j) j WHERE vec_id < 8),
        |aug AS (SELECT vec_id, embedding FROM embeddings
        |        UNION ALL SELECT vec_id, embedding FROM clones),
        |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM aug),
        |scored AS (SELECT query_id, neighbor_id, list_cosine_similarity(cv, qv) AS score
        |           FROM q, c WHERE neighbor_id != query_id),
        |ranked AS (SELECT query_id, neighbor_id,
        |           row_number() OVER (PARTITION BY query_id
        |                              ORDER BY score DESC, neighbor_id) AS rank
        |           FROM scored)
        |SELECT query_id, rank, neighbor_id, true AS found_by_ivfpq
        |FROM ranked WHERE rank <= 2 ORDER BY query_id, rank""".stripMargin,
    // ANN model persistence CONTRACT: 8 queries x k=5 rows scored twice
    // (trained vs reloaded models) must agree exactly, and the reloaded
    // model bits must equal the trained bits — constants ARE the oracle
    "q_ann_model_roundtrip" ->
      """SELECT cast(40 AS bigint) AS n_rows, true AS scores_identical,
        | true AS model_bits_identical""".stripMargin,
    // image near-dup recall: planted identical clones at +76800 (the
    // fixture encoder is periodic mod 768) — expected pairs are pure id
    // arithmetic, no decoding in the oracle
    "q_image_neardup" ->
      """SELECT doc_id AS id_a, doc_id + 76800 AS id_b,
        | true AS found_by_dhash
        |FROM documents WHERE doc_id < 64 ORDER BY id_a""".stripMargin,
    // video near-dup recall: planted-clone id arithmetic (clip generator
    // periodic mod lcm(256,16,6) | 76800)
    "q_video_neardup" ->
      """SELECT doc_id AS id_a, doc_id + 76800 AS id_b,
        | true AS found_by_vhash
        |FROM documents WHERE doc_id < 64 ORDER BY id_a""".stripMargin,
    // audio near-dup recall: planted-clone id arithmetic (the waveform
    // generator is periodic mod 65536)
    "q_audio_neardup" ->
      """SELECT doc_id AS id_a, doc_id + 65536 AS id_b,
        | true AS found_by_afp
        |FROM documents WHERE doc_id < 64 ORDER BY id_a""".stripMargin,
    // sequence-packing plan: exclusive cumulative token sum in id order,
    // window = start div 2048 — all integers, replayed with one window
    "q_pack_windows" ->
      """WITH t AS (SELECT doc_id,
        | CASE WHEN text IS NULL THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        | FROM documents),
        |s AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        | CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |   AS global_start
        | FROM t)
        |SELECT doc_id, n_tokens, global_start,
        | global_start // 2048 AS window_id,
        | global_start % 2048 AS offset_in_window
        |FROM s ORDER BY doc_id""".stripMargin,
    // no-split next-fit packing: DuckDB replays the per-shard sequential
    // fold as a recursive CTE stepping one rank per iteration — bin ids,
    // running fills and oversize flags must all match bit-for-bit
    "q_pack_bins" -> packBinsOracle(""),
    "q_cdc_chunks" -> cdcChunksOracleSql,
    "q_cdc_dedup" -> cdcDedupOracleSql,
    "q_cdc_incremental" -> cdcIncrementalOracleSql,
    // incremental packing == the one-shot fold restricted to the batch
    // (batch ids all sort after history's — the append contract)
    "q_pack_incremental" -> packBinsOracle(" AND doc_id >= 250"),
    // packed-sequence materialization: the same recursive fold, then
    // per-(shard, bin) counts + id-ordered string_agg of member texts
    "q_pack_sequences" -> packSequencesOracleSql,
    // temperature-scaled mixture: integer sqrt weights, floor-division
    // targets, delivered counts == min(target, n) — all replayed
    "q_mixture_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents
        |           WHERE lang IS NOT NULL GROUP BY lang),
        |w AS (SELECT lang, n_docs,
        |      CAST(floor(sqrt(n_docs)) AS BIGINT) AS wgt FROM c),
        |t AS (SELECT lang, n_docs,
        |      CAST((250 * wgt) // (SELECT sum(wgt) FROM w) AS BIGINT) AS target
        |      FROM w)
        |SELECT lang, n_docs, target,
        | least(target, n_docs) AS n_sampled
        |FROM t ORDER BY lang""".stripMargin,
    // kNN label classification: exact top-7 by cosine, majority vote,
    // ties toward the smallest label — replayed relationally
    "q_knn_classify" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 32),
        |c AS (SELECT vec_id AS neighbor_id, label,
        |      CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |scored AS (SELECT query_id, neighbor_id, label,
        |           list_cosine_similarity(cv, qv) AS score
        |           FROM q, c WHERE neighbor_id != query_id),
        |ranked AS (SELECT query_id, label,
        |           row_number() OVER (PARTITION BY query_id
        |                              ORDER BY score DESC, neighbor_id) AS rank
        |           FROM scored),
        |votes AS (SELECT query_id, label, count(*) AS votes
        |          FROM ranked WHERE rank <= 7 GROUP BY query_id, label),
        |best AS (SELECT query_id, label AS pred_label, votes,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY votes DESC, label) AS rk
        |         FROM votes)
        |SELECT query_id, pred_label, votes FROM best WHERE rk = 1
        |ORDER BY query_id""".stripMargin,
    // embedding near-dup PAIR recall CONTRACT: one clone per vec_id < 16
    // (zero element id mod 64), exact cosine >= 0.7 pairs involving a
    // clone recomputed corpus x clones, literal-true found flag
    "q_embedding_recall" ->
      """WITH clones AS (
        |  SELECT 2000000 + vec_id AS vec_id,
        |    embedding[1:(vec_id % 64)] || [CAST(0 AS FLOAT)]
        |      || embedding[(vec_id % 64 + 2):] AS embedding
        |  FROM embeddings WHERE vec_id < 16),
        |aug AS (SELECT vec_id, embedding FROM embeddings
        |        UNION ALL SELECT vec_id, embedding FROM clones),
        |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS cosine
        |  FROM aug a, clones b WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, true AS found_by_lsh FROM pairs
        |WHERE cosine >= 0.7 ORDER BY id_a, id_b""".stripMargin,
    // semantic near-dup recall CONTRACT: same planted corpus, found flag
    // asserts the multi-probe cell blocking surfaced every exact pair
    "q_semantic_recall" ->
      """WITH clones AS (
        |  SELECT 2000000 + vec_id AS vec_id,
        |    embedding[1:(vec_id % 64)] || [CAST(0 AS FLOAT)]
        |      || embedding[(vec_id % 64 + 2):] AS embedding
        |  FROM embeddings WHERE vec_id < 16),
        |aug AS (SELECT vec_id, embedding FROM embeddings
        |        UNION ALL SELECT vec_id, embedding FROM clones),
        |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS cosine
        |  FROM aug a, clones b WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, true AS found_by_semantic FROM pairs
        |WHERE cosine >= 0.7 ORDER BY id_a, id_b""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS n_word_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_langid" ->
      """WITH hits AS (SELECT doc_id,
        | len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|you|that|it|for)\b')) AS h_en,
        | len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|ich|ein|sie|mit)\b')) AS h_de,
        | len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|est|une|dans|que|pour)\b')) AS h_fr,
        | len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|como|por|para|con|se)\b')) AS h_es,
        | len(regexp_extract_all(text, '[一-鿿]')) AS h_zh
        | FROM documents)
        |SELECT doc_id, h_en, h_de, h_fr, h_es, h_zh,
        | CASE WHEN h_zh > h_en AND h_zh > h_de AND h_zh > h_fr AND h_zh > h_es THEN 'zh'
        |      WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
        |      WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
        |      WHEN h_fr >= h_es THEN 'fr' ELSE 'es' END AS pred_lang
        |FROM hits ORDER BY doc_id""".stripMargin,
    "q_quality" ->
      """WITH f AS (SELECT doc_id, length(text) AS n_chars,
        |  len(string_split(trim(text), ' ')) AS n_tokens,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|you|that|it|for)\b')) AS stop_hits,
        |  len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS punct_hits
        | FROM documents),
        |r AS (SELECT doc_id, n_chars, n_tokens, stop_hits, punct_hits,
        |  cast(stop_hits AS double)/n_tokens AS stop_ratio,
        |  cast(punct_hits AS double)/n_chars AS punct_ratio FROM f)
        |SELECT doc_id, n_chars, n_tokens, stop_hits, punct_hits, stop_ratio, punct_ratio,
        | least(1.0, cast(n_tokens AS double)/50.0)*0.5 + stop_ratio*0.3 + (1.0-punct_ratio)*0.2 AS quality
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_chunk" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(trim(text), ' ') AS w,
        |  len(string_split(trim(text), ' ')) AS n
        | FROM documents WHERE trim(text) <> ''),
        |counts AS (
        | SELECT doc_id, w, n,
        |  CASE WHEN n <= 32 THEN 1
        |       ELSE cast(ceil((n - 8) / 24.0) AS int) END AS nc
        | FROM toks),
        |idx AS (
        | SELECT doc_id, w, n, unnest(generate_series(0, nc - 1)) AS chunk_idx
        | FROM counts)
        |SELECT doc_id, chunk_idx,
        | cast(least(n - chunk_idx * 24, 32) AS bigint) AS n_chunk_tokens,
        | array_to_string(w[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') AS chunk
        |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_normalize" ->
      """WITH noisy AS (
        | SELECT doc_id, '  MiXeD' || chr(9) || chr(9) || 'Case   ' || text
        |        || '  ' || chr(10) AS dirty
        | FROM documents)
        |SELECT doc_id,
        | length(trim(regexp_replace(lower(nfc_normalize(dirty)),
        |   '[\t\n\f\r ]+', ' ', 'g'))) AS n_norm,
        | trim(regexp_replace(lower(nfc_normalize(dirty)),
        |   '[\t\n\f\r ]+', ' ', 'g')) AS norm
        |FROM noisy ORDER BY doc_id""".stripMargin,
    "q_redact" ->
      """WITH dirty AS (
        | SELECT doc_id,
        |  text || ' contact user' || cast(doc_id AS varchar)
        |       || '@example.com from 10.0.' || cast(doc_id % 256 AS varchar)
        |       || '.7' AS dirty
        | FROM documents)
        |SELECT doc_id, length(dirty) AS n_dirty,
        | length(regexp_replace(regexp_replace(dirty,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[REDACTED]', 'g'),
        |   '([0-9]{1,3}\.){3}[0-9]{1,3}', '[REDACTED]', 'g')) AS n_clean,
        | regexp_replace(regexp_replace(dirty,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[REDACTED]', 'g'),
        |   '([0-9]{1,3}\.){3}[0-9]{1,3}', '[REDACTED]', 'g') AS clean
        |FROM dirty ORDER BY doc_id""".stripMargin,
    "q_repartition" ->
      """SELECT CAST(8 AS BIGINT) AS n_partitions,
        | (SELECT count(*) FROM lineitem) AS rows_total,
        | CAST(1 AS BIGINT) AS max_parts_per_key,
        | (SELECT count(*) FROM region WHERE r_regionkey >= 0) AS rows_after_persist,
        | (SELECT count(*) FROM region r JOIN nation n
        |    ON r.r_regionkey = n.n_regionkey) AS broadcast_join_rows""".stripMargin,
    "q_analyze_stats" ->
      """SELECT (SELECT count(*) FROM nation) AS stats_rows,
        | (SELECT count(DISTINCT n_regionkey) FROM nation) AS ndv_regionkey,
        | (SELECT count(DISTINCT n_nationkey) FROM nation) AS ndv_nationkey""".stripMargin,
    "q_fingerprint" -> (winnowOracleCte +
      """
        |SELECT doc_id,
        | CAST(len(fp) AS BIGINT) AS n_fp,
        | list_min(fp) AS fp_min,
        | list_max(fp) AS fp_max
        |FROM sel ORDER BY doc_id""".stripMargin),
    "q_containment" -> (winnowOracleCte +
      """,
        |exploded AS (
        | SELECT CAST(doc_id AS BIGINT) AS id, len(fp) AS n_total, unnest(fp) AS h
        | FROM sel WHERE len(fp) > 0),
        |capped0 AS (
        | SELECT * FROM (
        |  SELECT id, n_total, h, count(*) OVER (PARTITION BY h) AS hd FROM exploded
        | ) WHERE hd <= 100),
        |capped AS MATERIALIZED (
        | SELECT * FROM (
        |  SELECT id, n_total, h, count(*) OVER (PARTITION BY id) AS n_fp FROM capped0
        | ) WHERE n_fp >= 10 OR n_fp = n_total)
        |SELECT a.id AS doc_a, b.id AS doc_b,
        | CAST(count(*) AS BIGINT) AS n_shared,
        | CAST(count(*) AS DOUBLE) / least(any_value(a.n_fp), any_value(b.n_fp)) AS containment
        |FROM capped a JOIN capped b ON a.h = b.h AND a.id < b.id
        |GROUP BY a.id, b.id
        |HAVING CAST(count(*) AS DOUBLE) / least(any_value(a.n_fp), any_value(b.n_fp)) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin),
    "q_substring" -> (substringSpansCte +
      """
        |SELECT doc_a, doc_b, pos_a, pos_b, span_len FROM spans
        |ORDER BY doc_a, doc_b, pos_a, pos_b""".stripMargin),
    // incremental substring dedup: the SAME all-positions recompute over
    // history UNION the prefix-edited batch, filtered to batch pairs
    "q_substring_incremental" ->
      """WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000,
        |  'INCREMENTAL SPAN BATCH :: ' || text
        | FROM documents WHERE doc_id % 25 = 0),
        |g AS (
        | SELECT doc_id,
        |  unnest(generate_series(1, greatest(length(text) - 39, 0))) AS i,
        |  text
        | FROM corpus),
        |h AS (
        | SELECT doc_id, i, md5(substr(text, i, 40)) AS gh FROM g),
        |m AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia, b.i AS ib
        | FROM h a JOIN h b ON a.gh = b.gh AND a.doc_id < b.doc_id),
        |r AS (
        | SELECT doc_a, doc_b, ia, ib, ia - ib AS diag,
        |  ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib ORDER BY ia) AS grp
        | FROM m),
        |spans AS (
        | SELECT doc_a, doc_b,
        |  CAST(min(ia) AS BIGINT) AS pos_a, CAST(min(ib) AS BIGINT) AS pos_b,
        |  CAST(count(*) + 39 AS BIGINT) AS span_len
        | FROM r GROUP BY doc_a, doc_b, diag, grp)
        |SELECT doc_a, doc_b, pos_a, pos_b, span_len FROM spans
        |WHERE doc_a >= 1000000 OR doc_b >= 1000000
        |ORDER BY doc_a, doc_b, pos_a, pos_b""".stripMargin,
    "q_self_spans" ->
      """WITH g AS (
        | SELECT doc_id,
        |  unnest(generate_series(1, greatest(length(text) - 19, 0))) AS i,
        |  text
        | FROM documents),
        |h AS (
        | SELECT doc_id, i, md5(substr(text, i, 20)) AS gh FROM g),
        |m AS (
        | SELECT a.doc_id, a.i AS ia, b.i AS ib
        | FROM h a JOIN h b ON a.gh = b.gh AND a.doc_id = b.doc_id AND a.i < b.i),
        |r AS (
        | SELECT doc_id, ia, ib, ib - ia AS diag,
        |  ia - row_number() OVER (PARTITION BY doc_id, ib - ia ORDER BY ia) AS grp
        | FROM m)
        |SELECT doc_id,
        | CAST(min(ia) AS BIGINT) AS pos_a, CAST(min(ib) AS BIGINT) AS pos_b,
        | CAST(count(*) + 19 AS BIGINT) AS span_len
        |FROM r GROUP BY doc_id, diag, grp
        |ORDER BY doc_id, pos_a, pos_b""".stripMargin,
    "q_substring_stats" -> (substringSpansCte +
      """,
        |iv AS (
        | SELECT doc_a AS doc_id, pos_a AS s, pos_a + span_len AS e FROM spans
        | UNION ALL
        | SELECT doc_b, pos_b, pos_b + span_len FROM spans),
        |seq AS (
        | SELECT doc_id, s, e,
        |  max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        | FROM iv),
        |isl AS (
        | SELECT doc_id, s, e,
        |  sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        | FROM seq),
        |cov AS (
        | SELECT doc_id, grp, max(e) - min(s) AS covered, count(*) AS n
        | FROM isl GROUP BY doc_id, grp),
        |agg AS (
        | SELECT doc_id, CAST(sum(covered) AS BIGINT) AS dup_chars,
        |        CAST(sum(n) AS BIGINT) AS n_spans
        | FROM cov GROUP BY doc_id)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        | a.dup_chars, a.n_spans,
        | CAST(a.dup_chars AS DOUBLE) / length(d.text) AS dup_frac
        |FROM documents d JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    "q_substring_clean" -> (substringSpansCte +
      """,
        |iv AS (
        | SELECT doc_b AS doc_id, pos_b AS s, pos_b + span_len AS e FROM spans),
        |seq AS (
        | SELECT doc_id, s, e,
        |  max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        | FROM iv),
        |isl AS (
        | SELECT doc_id, s, e,
        |  sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        | FROM seq),
        |mrg AS (
        | SELECT doc_id, grp, min(s) AS s, max(e) AS e FROM isl GROUP BY doc_id, grp),
        |segs AS (
        | SELECT doc_id,
        |  coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS ks,
        |  s AS ke,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY s) AS ord
        | FROM mrg
        | UNION ALL
        | SELECT doc_id, max(e), NULL, 1000000000 FROM mrg GROUP BY doc_id),
        |txt AS (
        | SELECT g.doc_id,
        |  string_agg(CASE WHEN g.ke IS NULL THEN substr(d.text, CAST(g.ks AS BIGINT))
        |    ELSE substr(d.text, CAST(g.ks AS BIGINT), CAST(g.ke - g.ks AS BIGINT)) END,
        |    '' ORDER BY g.ord) AS text_clean
        | FROM segs g JOIN documents d ON d.doc_id = g.doc_id
        | GROUP BY g.doc_id)
        |SELECT t.doc_id, t.text_clean,
        | CAST(length(d.text) - length(t.text_clean) AS BIGINT) AS removed_chars
        |FROM txt t JOIN documents d ON d.doc_id = t.doc_id
        |WHERE length(d.text) > length(t.text_clean)
        |ORDER BY t.doc_id""".stripMargin),
    "q_multimodal_plan" ->
      """WITH meta AS (
        | SELECT doc_id,
        |  cast(32 + doc_id % 64 AS bigint) AS width,
        |  cast(32 + (doc_id * 7) % 64 AS bigint) AS height,
        |  doc_id % 40 AS n_frames
        | FROM documents),
        |scaled AS (
        | SELECT *, least(64.0 / width, 48.0 / height, 1.0) AS s FROM meta)
        |SELECT doc_id, width, height,
        | cast(floor(width * s) AS bigint) AS target_width,
        | cast(floor(height * s) AS bigint) AS target_height,
        | n_frames,
        | CASE WHEN n_frames <= 0 THEN ''
        |      WHEN n_frames <= 8 THEN
        |        array_to_string(generate_series(0, n_frames - 1), ',')
        |      ELSE array_to_string(list_transform(generate_series(0, 7),
        |             i -> (i * n_frames) // 8), ',')
        | END AS frame_plan
        |FROM scaled ORDER BY doc_id""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        | 32 + doc_id % 64 AS width,
        | 32 + (doc_id * 7) % 64 AS height,
        | chr(cast(48 + doc_id % 3 AS int)) AS format,
        | cast(5 + octet_length(encode(text)) AS bigint) AS n_bytes,
        | cast(octet_length(encode(text)) AS bigint) AS payload_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    // planted-pixel channel means as exact integer sums over range joins;
    // r varies only with x and g only with y, so sum_x/w == (h*sum_x)/(w*h)
    // exactly (same real quotient -> same correctly-rounded double as the
    // kernel's sum/count)
    "q_multimodal_decode" ->
      """WITH dims AS (
        | SELECT doc_id, cast(8 + doc_id % 16 AS bigint) AS w,
        |        cast(8 + (doc_id * 3) % 16 AS bigint) AS h
        | FROM documents),
        |xs AS (SELECT range AS x FROM range(0, 24)),
        |ys AS (SELECT range AS y FROM range(0, 24)),
        |rs AS (SELECT doc_id, sum((x * 7 + doc_id) % 256) AS s
        |       FROM dims JOIN xs ON x < w GROUP BY doc_id),
        |gs AS (SELECT doc_id, sum((y * 11 + doc_id) % 256) AS s
        |       FROM dims JOIN ys ON y < h GROUP BY doc_id),
        |bs AS (SELECT doc_id, sum((x + y + doc_id) % 256) AS s
        |       FROM dims JOIN xs ON x < w JOIN ys ON y < h GROUP BY doc_id)
        |SELECT d.doc_id, d.w AS width, d.h AS height, 'png' AS format,
        | cast(rs.s AS double) / d.w AS mean_r,
        | cast(gs.s AS double) / d.h AS mean_g,
        | cast(bs.s AS double) / (d.w * d.h) AS mean_b
        |FROM dims d
        |JOIN rs USING (doc_id) JOIN gs USING (doc_id) JOIN bs USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // nearest-neighbor resample replay: resized pixel (x,y) reads planted
    // pixel ((x*w)//tw, (y*h)//th); aspect-fit arithmetic matches
    // resizeImage's floor(dim * least(12/w, 12/h, 1)) double math
    "q_multimodal_resize" ->
      """WITH dims AS (
        | SELECT doc_id, cast(8 + doc_id % 16 AS bigint) AS w,
        |        cast(8 + (doc_id * 3) % 16 AS bigint) AS h
        | FROM documents),
        |t AS (
        | SELECT doc_id, w, h,
        |  greatest(1, cast(floor(w * least(12.0 / w, 12.0 / h, 1.0)) AS bigint)) AS tw,
        |  greatest(1, cast(floor(h * least(12.0 / w, 12.0 / h, 1.0)) AS bigint)) AS th
        | FROM dims),
        |xs AS (SELECT range AS x FROM range(0, 24)),
        |ys AS (SELECT range AS y FROM range(0, 24)),
        |rs AS (SELECT doc_id, sum((((x * w) // tw) * 7 + doc_id) % 256) AS s
        |       FROM t JOIN xs ON x < tw GROUP BY doc_id),
        |gs AS (SELECT doc_id, sum((((y * h) // th) * 11 + doc_id) % 256) AS s
        |       FROM t JOIN ys ON y < th GROUP BY doc_id),
        |bs AS (SELECT doc_id, sum(((x * w) // tw + (y * h) // th + doc_id) % 256) AS s
        |       FROM t JOIN xs ON x < tw JOIN ys ON y < th GROUP BY doc_id)
        |SELECT t.doc_id, t.tw AS width, t.th AS height, 'png' AS format,
        | cast(rs.s AS double) / t.tw AS mean_r,
        | cast(gs.s AS double) / t.th AS mean_g,
        | cast(bs.s AS double) / (t.tw * t.th) AS mean_b
        |FROM t JOIN rs USING (doc_id) JOIN gs USING (doc_id) JOIN bs USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // frame-sampling replay: n = 2 + id%6 frames, sampled indices are all
    // frames when n <= 4 else floor(i*n/4); frame f pixel formulas shift
    // by 13f/17f/f per channel
    "q_multimodal_frames" ->
      """WITH dims AS (
        | SELECT doc_id, cast(8 + doc_id % 16 AS bigint) AS w,
        |        cast(8 + (doc_id * 3) % 16 AS bigint) AS h,
        |        cast(2 + doc_id % 6 AS bigint) AS n
        | FROM documents),
        |fidx AS (
        | SELECT doc_id, w, h, n,
        |  unnest(CASE WHEN n <= 4 THEN generate_series(0, n - 1)
        |    ELSE list_transform(generate_series(0, 3), i -> (i * n) // 4) END) AS f
        | FROM dims),
        |xs AS (SELECT range AS x FROM range(0, 24)),
        |ys AS (SELECT range AS y FROM range(0, 24)),
        |rs AS (SELECT doc_id, f, sum((x * 7 + doc_id + 13 * f) % 256) AS s
        |       FROM fidx JOIN xs ON x < w GROUP BY doc_id, f),
        |gs AS (SELECT doc_id, f, sum((y * 11 + doc_id + 17 * f) % 256) AS s
        |       FROM fidx JOIN ys ON y < h GROUP BY doc_id, f),
        |bs AS (SELECT doc_id, f, sum((x + y + doc_id + f) % 256) AS s
        |       FROM fidx JOIN xs ON x < w JOIN ys ON y < h GROUP BY doc_id, f)
        |SELECT d.doc_id, d.n AS n_frames, d.f AS frame_idx,
        | d.w AS width, d.h AS height,
        | cast(rs.s AS double) / d.w AS mean_r,
        | cast(gs.s AS double) / d.h AS mean_g,
        | cast(bs.s AS double) / (d.w * d.h) AS mean_b
        |FROM fidx d
        |JOIN rs USING (doc_id, f) JOIN gs USING (doc_id, f)
        |JOIN bs USING (doc_id, f)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // planted-waveform replay: sample i = (37i + 11*id) mod 65536 - 32768
    "q_multimodal_audio" ->
      """WITH dims AS (
        | SELECT doc_id, cast(64 + doc_id % 64 AS bigint) AS n FROM documents),
        |idx AS (SELECT range AS i FROM range(0, 128)),
        |s AS (SELECT doc_id, ((i * 37 + doc_id * 11) % 65536) - 32768 AS v
        |      FROM dims JOIN idx ON i < n)
        |SELECT d.doc_id, cast(8000 AS bigint) AS sample_rate,
        | cast(1 AS bigint) AS channels, d.n AS n_frames,
        | cast(sum(abs(v)) AS double) / d.n AS mean_abs_ch0,
        | cast(max(abs(v)) AS bigint) AS peak_ch0
        |FROM dims d JOIN s USING (doc_id)
        |GROUP BY d.doc_id, d.n ORDER BY d.doc_id""".stripMargin,
    "q_namespace" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    "q_table_lifecycle" ->
      """SELECT (SELECT cast(count(*) * 2 AS bigint) FROM nation) AS n_after_append,
        | (SELECT count(*) FROM region) AS n_after_overwrite,
        | (SELECT cast(sum(r_regionkey) AS bigint) FROM region) AS sum_rkey,
        | true AS t1_exists, false AS missing_exists, true AS error_raised,
        | 'r_regionkey,r_name' AS t2_columns""".stripMargin,
    "q_persist_table" ->
      """WITH agg AS (
        | SELECT r_name, count(*) AS n_nations,
        |        cast(sum(n_nationkey) AS bigint) AS sum_key
        | FROM nation JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name)
        |SELECT r_name, n_nations, sum_key,
        | (SELECT count(*) FROM agg) AS n_first,
        | true AS lineage_cut
        |FROM agg WHERE r_name < 'EUROPE' ORDER BY r_name""".stripMargin,
    "q_special_columns" ->
      """SELECT n_nationkey AS "a b", n_name AS "select",
        | n_regionkey AS "a.b", reverse(n_name) AS "tick`mark"
        |FROM nation WHERE n_regionkey < 3 ORDER BY 1""".stripMargin,
    "q_io_parquet" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q_stream_dedup" ->
      """SELECT event_type, count(*) AS n_events,
        | cast(sum(cast(round(value*100) AS bigint)) AS bigint) AS sum_value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_decontaminate" -> decontaminateOracleSql,
    // the e4-quantized integer cosine decision replayed in HUGEINT:
    // round-half-away quantization, dot/norms via lambda-indexed list
    // folds, flag = dot ≥ 0 ∧ 10⁶·dot² ≥ 350²·na·nb — no float compare
    // anywhere, so no margin assumption
    "q_decontaminate_semantic" ->
      """WITH q AS (
        | SELECT vec_id,
        |        list_transform(embedding,
        |          x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
        | FROM embeddings),
        |n AS (SELECT vec_id, v,
        |      list_reduce(list_transform(v, x -> CAST(x AS HUGEINT) * x),
        |                  (a, c) -> a + c) AS nrm
        |      FROM q),
        |b AS (SELECT vec_id AS bid, v AS bv, nrm AS nb FROM n
        |      WHERE vec_id % 25 = 0),
        |pairs AS (
        | SELECT n.vec_id, n.nrm, b.nb,
        |        list_reduce(list_transform(generate_series(1, len(n.v)),
        |          i -> CAST(n.v[i] AS HUGEINT) * b.bv[i]),
        |          (a, c) -> a + c) AS d
        | FROM n, b WHERE len(n.v) = len(b.bv)),
        |hits AS (
        | SELECT vec_id,
        |        count(*) FILTER (WHERE nrm > 0 AND nb > 0 AND d >= 0
        |          AND 1000000 * d * d >= CAST(122500 AS HUGEINT) * nrm * nb)
        |          AS n_bench_hits
        | FROM pairs GROUP BY 1)
        |SELECT vec_id, CAST(n_bench_hits AS INT) AS n_bench_hits,
        |       n_bench_hits > 0 AS contaminated
        |FROM hits ORDER BY vec_id""".stripMargin,
    // the trained-model kernel probe must flag the SAME docs the
    // relational semi-join flags — one oracle, two Spark formulations
    "q_decontaminate_map" -> decontaminateOracleSql,
    "q_pipeline_e2e" ->
      """WITH norm AS (
        | SELECT doc_id, lang,
        |  trim(regexp_replace(lower(nfc_normalize(text)), '[\t\n\f\r ]+', ' ', 'g')) AS t
        | FROM documents WHERE text IS NOT NULL),
        |kept AS (
        | SELECT doc_id, lang, t FROM (
        |   SELECT *, min(doc_id) OVER (PARTITION BY md5(t)) AS k FROM norm)
        | WHERE doc_id = k),
        |base AS (
        | SELECT doc_id, lang, length(t) AS nc,
        |  string_split(trim(t), ' ') AS w,
        |  len(regexp_extract_all(lower(t), '\b(the|and|of|to|in|is|you|that|it|for)\b')) AS stop_hits,
        |  CASE WHEN len(string_split(trim(t), ' ')) >= 2 THEN
        |   list_transform(generate_series(1, len(string_split(trim(t), ' ')) - 1),
        |     i -> concat(string_split(trim(t), ' ')[i], ' ',
        |                 string_split(trim(t), ' ')[i+1]))
        |  ELSE CAST([] AS VARCHAR[]) END AS g,
        |  len(regexp_split_to_array(trim(t), '\s+')) AS n_ws
        | FROM kept),
        |words AS (SELECT doc_id, unnest(w) AS tk FROM base),
        |wcnt AS (SELECT doc_id, tk, count(*) AS c FROM words GROUP BY doc_id, tk),
        |wtop AS (SELECT doc_id, c FROM (
        |  SELECT doc_id, c, row_number() OVER (
        |   PARTITION BY doc_id ORDER BY c DESC, tk ASC) AS rn FROM wcnt) WHERE rn = 1),
        |m AS (SELECT b.doc_id, b.lang, b.n_ws,
        |  cast(len(b.w) AS bigint) AS n_words,
        |  cast(b.nc - (len(b.w) - 1) AS double) / len(b.w) AS mean_word_len,
        |  CASE WHEN len(b.g) > 0 THEN
        |   cast(len(b.g) - len(list_distinct(b.g)) AS double) / len(b.g)
        |  ELSE 0.0 END AS dup_ngram_frac,
        |  cast(wtop.c AS double) / len(b.w) AS top_word_frac,
        |  b.stop_hits
        | FROM base b JOIN wtop ON b.doc_id = wtop.doc_id)
        |SELECT lang,
        | CAST(count(*) AS BIGINT) AS n_kept,
        | CAST(sum(CASE WHEN (n_words >= 50 AND n_words <= 100000)
        |   AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        |   AND (dup_ngram_frac <= 0.2) AND (top_word_frac <= 0.3)
        |   AND (stop_hits >= 2) THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        | CAST(sum(n_ws) AS BIGINT) AS n_tokens
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    "q_salted_join" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        | cast(sum(cast(l_quantity AS bigint)) AS bigint) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // keep-first segment election replayed relationally: row_number over
    // (doc_id, pos) per md5, splice via ordered string_agg
    "q_paragraph_dedup" ->
      """WITH s AS (
        | SELECT doc_id, string_split(text, ' ') AS ps
        | FROM documents WHERE text IS NOT NULL),
        |paras AS (
        | SELECT doc_id, unnest(generate_series(1, len(ps))) AS pos, ps FROM s),
        |p2 AS (SELECT doc_id, pos, ps[pos] AS p, md5(ps[pos]) AS h FROM paras),
        |k AS (SELECT h, doc_id, pos FROM (
        |  SELECT h, doc_id, pos,
        |   row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM p2) WHERE rn = 1),
        |kept AS (SELECT p2.doc_id, p2.pos, p2.p
        |         FROM p2 JOIN k USING (h, doc_id, pos)),
        |agg AS (SELECT doc_id, cast(count(*) AS bigint) AS n_kept,
        |        string_agg(p, ' ' ORDER BY pos) AS text_clean
        |        FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, cast(len(s.ps) AS bigint) AS n_paras,
        | cast(coalesce(agg.n_kept, 0) AS bigint) AS n_kept,
        | coalesce(agg.text_clean, '') AS text_clean
        |FROM s LEFT JOIN agg USING (doc_id) ORDER BY s.doc_id""".stripMargin,
    // history store = doc_id % 3 = 0; batch keeps only store-unseen
    // segments, first-in-batch occurrence wins
    "q_paragraph_incremental" ->
      """WITH s AS (
        | SELECT doc_id, string_split(text, ' ') AS ps
        | FROM documents WHERE text IS NOT NULL),
        |hist AS (
        | SELECT DISTINCT md5(p) AS h FROM (
        |  SELECT unnest(ps) AS p FROM s WHERE doc_id % 3 = 0)),
        |b AS (SELECT doc_id, ps FROM s WHERE doc_id % 3 <> 0),
        |paras AS (
        | SELECT doc_id, unnest(generate_series(1, len(ps))) AS pos, ps FROM b),
        |p2 AS (SELECT doc_id, pos, ps[pos] AS p, md5(ps[pos]) AS h FROM paras),
        |fresh AS (SELECT doc_id, pos, p, h FROM p2
        |          WHERE h NOT IN (SELECT h FROM hist)),
        |k AS (SELECT h, doc_id, pos FROM (
        |  SELECT h, doc_id, pos,
        |   row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM fresh) WHERE rn = 1),
        |kept AS (SELECT f.doc_id, f.pos, f.p
        |         FROM fresh f JOIN k USING (h, doc_id, pos)),
        |agg AS (SELECT doc_id, cast(count(*) AS bigint) AS n_kept,
        |        string_agg(p, ' ' ORDER BY pos) AS text_clean
        |        FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, cast(len(b.ps) AS bigint) AS n_paras,
        | cast(coalesce(agg.n_kept, 0) AS bigint) AS n_kept,
        | coalesce(agg.text_clean, '') AS text_clean
        |FROM b LEFT JOIN agg USING (doc_id) ORDER BY b.doc_id""".stripMargin,
    // hot-segment set (>= 50 distinct docs) removed everywhere
    "q_boilerplate" ->
      """WITH s AS (
        | SELECT doc_id, string_split(text, ' ') AS ps
        | FROM documents WHERE text IS NOT NULL),
        |paras AS (
        | SELECT doc_id, unnest(generate_series(1, len(ps))) AS pos, ps FROM s),
        |p2 AS (SELECT doc_id, pos, ps[pos] AS p, md5(ps[pos]) AS h FROM paras),
        |hot AS (SELECT h FROM p2 GROUP BY h HAVING count(DISTINCT doc_id) >= 50),
        |kept AS (SELECT doc_id, pos, p FROM p2
        |         WHERE h NOT IN (SELECT h FROM hot)),
        |agg AS (SELECT doc_id, cast(count(*) AS bigint) AS n_kept,
        |        string_agg(p, ' ' ORDER BY pos) AS text_clean
        |        FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, cast(len(s.ps) AS bigint) AS n_lines,
        | cast(coalesce(agg.n_kept, 0) AS bigint) AS n_kept,
        | coalesce(agg.text_clean, '') AS text_clean
        |FROM s LEFT JOIN agg USING (doc_id) ORDER BY s.doc_id""".stripMargin,
    // full streaming-chain replay: normalize, string-gram decontamination
    // over the NORMALIZED text, Gopher metrics over the clean survivors
    "q_stream_pipeline" ->
      """WITH norm AS (
        | SELECT doc_id, lang,
        |  trim(regexp_replace(lower(nfc_normalize(text)), '[\t\n\f\r ]+', ' ', 'g')) AS t
        | FROM documents WHERE text IS NOT NULL),
        |toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
        |grams AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(w)-2),
        |                i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
        |  FROM toks WHERE len(w) >= 3),
        |bg AS (SELECT DISTINCT unnest(g) AS gr FROM grams WHERE doc_id % 20 = 0),
        |cg AS (SELECT doc_id, unnest(g) AS gr FROM grams WHERE doc_id % 20 <> 0),
        |hit AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg ON cg.gr = bg.gr),
        |clean AS (
        | SELECT n.doc_id, n.lang, n.t FROM norm n
        | LEFT JOIN hit h ON n.doc_id = h.doc_id
        | WHERE n.doc_id % 20 <> 0 AND h.doc_id IS NULL),
        |base AS (
        | SELECT doc_id, lang, length(t) AS nc,
        |  string_split(trim(t), ' ') AS w,
        |  len(regexp_extract_all(lower(t), '\b(the|and|of|to|in|is|you|that|it|for)\b')) AS stop_hits,
        |  CASE WHEN len(string_split(trim(t), ' ')) >= 2 THEN
        |   list_transform(generate_series(1, len(string_split(trim(t), ' ')) - 1),
        |     i -> concat(string_split(trim(t), ' ')[i], ' ',
        |                 string_split(trim(t), ' ')[i+1]))
        |  ELSE CAST([] AS VARCHAR[]) END AS g
        | FROM clean),
        |words AS (SELECT doc_id, unnest(w) AS tk FROM base),
        |wcnt AS (SELECT doc_id, tk, count(*) AS c FROM words GROUP BY doc_id, tk),
        |wtop AS (SELECT doc_id, c FROM (
        |  SELECT doc_id, c, row_number() OVER (
        |   PARTITION BY doc_id ORDER BY c DESC, tk ASC) AS rn FROM wcnt) WHERE rn = 1),
        |m AS (SELECT b.doc_id, b.lang,
        |  cast(len(b.w) AS bigint) AS n_words,
        |  cast(b.nc - (len(b.w) - 1) AS double) / len(b.w) AS mean_word_len,
        |  CASE WHEN len(b.g) > 0 THEN
        |   cast(len(b.g) - len(list_distinct(b.g)) AS double) / len(b.g)
        |  ELSE 0.0 END AS dup_ngram_frac,
        |  cast(wtop.c AS double) / len(b.w) AS top_word_frac,
        |  b.stop_hits
        | FROM base b JOIN wtop ON b.doc_id = wtop.doc_id)
        |SELECT lang,
        | CAST(count(*) AS BIGINT) AS n_clean,
        | CAST(sum(CASE WHEN (n_words >= 50 AND n_words <= 100000)
        |   AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        |   AND (dup_ngram_frac <= 0.2) AND (top_word_frac <= 0.3)
        |   AND (stop_hits >= 2) THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        | CAST(sum(n_words) AS BIGINT) AS n_tokens
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    "q_lm_fluency" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |uni AS (SELECT unnest(w) AS t FROM toks),
        |vc AS MATERIALIZED (
        | SELECT t, count(*) AS c FROM uni GROUP BY t
        | ORDER BY c DESC, t ASC LIMIT 4096),
        |pr AS (
        | SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS i, w
        | FROM toks WHERE len(w) >= 2),
        |pairs AS MATERIALIZED (
        | SELECT doc_id, i, w[i] AS w1, w[i+1] AS w2 FROM pr),
        |bc AS MATERIALIZED (
        | SELECT w1, w2, count(*) AS c FROM pairs
        | JOIN vc v1 ON w1 = v1.t JOIN vc v2 ON w2 = v2.t
        | GROUP BY w1, w2
        | ORDER BY c DESC, w1 ASC, w2 ASC LIMIT 65536),
        |scored AS (
        | SELECT p.doc_id, p.i,
        |  CASE WHEN v1.t IS NOT NULL AND v2.t IS NOT NULL
        |       THEN coalesce(bc.c, 0) / v1.c END AS rel
        | FROM pairs p
        | LEFT JOIN vc v1 ON p.w1 = v1.t
        | LEFT JOIN vc v2 ON p.w2 = v2.t
        | LEFT JOIN bc ON p.w1 = bc.w1 AND p.w2 = bc.w2),
        |agg AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(rel) AS BIGINT) AS known_pairs,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(rel ORDER BY i) FILTER (rel IS NOT NULL)),
        |    (a, b) -> a + b) AS s
        | FROM scored GROUP BY doc_id)
        |SELECT d.doc_id,
        | coalesce(a.n_pairs, 0) AS n_pairs,
        | coalesce(a.known_pairs, 0) AS known_pairs,
        | CASE WHEN coalesce(a.known_pairs, 0) = 0 THEN 0.0
        |      ELSE a.s / a.known_pairs END AS lm_fluency
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_repetition" ->
      """WITH base AS (
        | SELECT doc_id, length(text) AS nc,
        |  string_split(trim(text), ' ') AS w,
        |  CASE WHEN len(string_split(trim(text), ' ')) >= 2 THEN
        |   list_transform(generate_series(1, len(string_split(trim(text), ' ')) - 1),
        |     i -> concat(string_split(trim(text), ' ')[i], ' ',
        |                 string_split(trim(text), ' ')[i+1]))
        |  ELSE CAST([] AS VARCHAR[]) END AS g
        | FROM documents),
        |words AS (SELECT doc_id, unnest(w) AS t FROM base),
        |wcnt AS (SELECT doc_id, t, count(*) AS c FROM words GROUP BY doc_id, t),
        |wtop AS (SELECT doc_id, t, c FROM (
        |  SELECT doc_id, t, c,
        |   row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, t ASC) AS rn
        |  FROM wcnt) WHERE rn = 1),
        |gx AS (SELECT doc_id, unnest(g) AS t FROM base),
        |gcnt AS (SELECT doc_id, t, count(*) AS c FROM gx GROUP BY doc_id, t),
        |gtop AS (SELECT doc_id, t, c FROM (
        |  SELECT doc_id, t, c,
        |   row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, t ASC) AS rn
        |  FROM gcnt) WHERE rn = 1)
        |SELECT b.doc_id,
        | cast(len(b.w) AS bigint) AS n_words,
        | cast(len(b.w) - len(list_distinct(b.w)) AS double) / len(b.w) AS dup_word_frac,
        | CASE WHEN len(b.g) > 0 THEN
        |  cast(len(b.g) - len(list_distinct(b.g)) AS double) / len(b.g)
        | ELSE 0.0 END AS dup_ngram_frac,
        | wtop.t AS top_word,
        | cast(wtop.c AS bigint) AS top_word_cnt,
        | cast(wtop.c AS double) / len(b.w) AS top_word_frac,
        | coalesce(gtop.t, '') AS top_ngram,
        | cast(coalesce(gtop.c, 0) AS bigint) AS top_ngram_cnt,
        | CASE WHEN len(b.g) > 0 THEN
        |  cast(gtop.c * length(gtop.t) AS double) / b.nc
        | ELSE 0.0 END AS top_ngram_char_frac
        |FROM base b
        |JOIN wtop ON b.doc_id = wtop.doc_id
        |LEFT JOIN gtop ON b.doc_id = gtop.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "q_mixture_contract" ->
      """SELECT source,
        | least(cast(3 + (cast(substr(source, 4) AS int) % 5) * 4 AS bigint),
        |        count(*)) AS n_sampled
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_mixture_stream" ->
      """WITH t(lang, target) AS (VALUES
        |  ('en', 100), ('fr', 50), ('de', 40), ('es', 30), ('zh', 1000))
        |SELECT d.lang,
        | least(CAST(t.target AS BIGINT), count(*)) AS n_selected,
        | least(CAST(t.target AS BIGINT), count(*)) AS n_distinct,
        | CAST(0 AS BIGINT) AS n_misplaced
        |FROM documents d JOIN t ON d.lang = t.lang
        |GROUP BY d.lang, t.target
        |ORDER BY d.lang""".stripMargin,
    "q_gopher_filter" -> gopherFilterOracleSql,
    "q_quality_classifier" -> qualityClassifierOracleSql,
    "q_tfidf" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |words AS (SELECT doc_id, unnest(w) AS t FROM toks),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM words GROUP BY doc_id, t),
        |dfreq AS (SELECT t, count(DISTINCT doc_id) AS df FROM words GROUP BY t),
        |n AS (SELECT count(*) AS nd FROM documents),
        |scored AS (SELECT doc_id, t, tf.tf, dfreq.df,
        |  cast(tf.tf * n.nd AS double) / dfreq.df AS score
        |  FROM tf JOIN dfreq USING (t) CROSS JOIN n),
        |ranked AS (SELECT *, row_number() OVER (
        |  PARTITION BY doc_id ORDER BY score DESC, t ASC) AS rnk FROM scored)
        |SELECT doc_id, cast(rnk AS bigint) AS rank, t AS term, tf, df, score
        |FROM ranked WHERE rnk <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    "q_merge_upsert" ->
      """WITH tgt AS (
        | SELECT c_custkey, c_mktsegment,
        |  cast(round(c_acctbal*100) AS bigint) AS acct_cents FROM customer),
        |src AS (
        | SELECT CASE WHEN o_custkey % 50 = 0 THEN -o_custkey ELSE o_custkey END
        |   AS c_custkey,
        |  'MERGED' AS c_mktsegment,
        |  cast(sum(cast(round(o_totalprice*100) AS bigint)) AS bigint) AS acct_cents
        | FROM orders GROUP BY o_custkey)
        |SELECT t.c_custkey,
        | CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
        |      ELSE t.c_mktsegment END AS c_mktsegment,
        | CASE WHEN s.c_custkey IS NOT NULL THEN s.acct_cents
        |      ELSE t.acct_cents END AS acct_cents
        |FROM tgt t LEFT JOIN src s ON t.c_custkey = s.c_custkey
        |UNION ALL
        |SELECT s.c_custkey, s.c_mktsegment, s.acct_cents
        |FROM src s WHERE NOT EXISTS (
        |  SELECT 1 FROM tgt t WHERE t.c_custkey = s.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_scd2" ->
      """WITH cust AS (SELECT c_custkey, c_mktsegment FROM customer),
        |dim AS (
        | SELECT c_custkey, c_mktsegment AS tier, DATE '1995-01-01' AS valid_from,
        |        cast(NULL AS date) AS valid_to, TRUE AS is_current FROM cust
        | UNION ALL
        | SELECT c_custkey, 'LEGACY', DATE '1990-01-01', DATE '1995-01-01', FALSE
        | FROM cust WHERE c_custkey % 100 = 0),
        |upd AS (
        | SELECT CASE WHEN o.o_custkey % 97 = 0 THEN -o.o_custkey
        |             ELSE o.o_custkey END AS c_custkey,
        |        CASE WHEN o.o_custkey % 7 = 0 THEN c.c_mktsegment
        |             ELSE o.prio END AS tier,
        |        o.eff
        | FROM (SELECT o_custkey, max(o_orderpriority) AS prio,
        |              cast(max(o_orderdate) AS date) AS eff
        |       FROM orders GROUP BY o_custkey) o
        | JOIN cust c ON o.o_custkey = c.c_custkey),
        |cur AS (SELECT * FROM dim WHERE is_current),
        |hist AS (SELECT * FROM dim WHERE NOT is_current),
        |j AS (SELECT d.c_custkey, d.tier AS dtier, d.valid_from, d.valid_to,
        |             u.tier AS utier, u.eff, u.c_custkey IS NOT NULL AS matched
        |      FROM cur d LEFT JOIN upd u ON d.c_custkey = u.c_custkey)
        |SELECT * FROM hist
        |UNION ALL
        |SELECT c_custkey, dtier AS tier, valid_from, valid_to, TRUE AS is_current
        |FROM j WHERE NOT (matched AND dtier IS DISTINCT FROM utier)
        |UNION ALL
        |SELECT c_custkey, dtier, valid_from, eff, FALSE
        |FROM j WHERE matched AND dtier IS DISTINCT FROM utier
        |UNION ALL
        |SELECT c_custkey, utier, eff, cast(NULL AS date), TRUE
        |FROM j WHERE matched AND dtier IS DISTINCT FROM utier
        |UNION ALL
        |SELECT u.c_custkey, u.tier, u.eff, cast(NULL AS date), TRUE
        |FROM upd u WHERE NOT EXISTS (
        |  SELECT 1 FROM cur d WHERE d.c_custkey = u.c_custkey)
        |ORDER BY c_custkey, valid_from, is_current""".stripMargin,
    "q_collocations" ->
      s"""WITH toks AS (SELECT string_split(trim(text), ' ') AS t FROM documents),
        |words AS (SELECT unnest(t) AS w FROM toks),
        |uni AS (SELECT w, count(*) AS c FROM words GROUP BY w),
        |tot AS (SELECT count(*) AS n_tokens FROM words),
        |pairs AS MATERIALIZED (SELECT t[i] AS w1, t[i + 1] AS w2
        |          FROM toks CROSS JOIN LATERAL unnest(range(1, len(t))) AS u(i)),
        |big AS (SELECT w1, w2, count(*) AS pair_cnt FROM pairs
        |        GROUP BY w1, w2 HAVING count(*) >= 5),
        |prow AS (SELECT w1, CAST(count(*) AS BIGINT) AS rr FROM pairs GROUP BY w1),
        |pcol AS (SELECT w2, CAST(count(*) AS BIGINT) AS cc FROM pairs GROUP BY w2),
        |ptot AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pairs),
        |cells AS (SELECT b.w1, b.w2, b.pair_cnt, l.c AS left_cnt,
        |   r.c AS right_cnt, tot.n_tokens,
        |   pr.rr, pc.cc, pt.np,
        |   cast((cast(b.pair_cnt AS hugeint) * tot.n_tokens * 1000000)
        |        // (cast(l.c AS hugeint) * r.c) AS bigint) AS lift_e6
        |  FROM big b
        |  JOIN uni l ON b.w1 = l.w
        |  JOIN uni r ON b.w2 = r.w
        |  CROSS JOIN tot
        |  JOIN prow pr ON b.w1 = pr.w1
        |  JOIN pcol pc ON b.w2 = pc.w2
        |  CROSS JOIN ptot pt)
        |SELECT w1, w2, pair_cnt, left_cnt, right_cnt, n_tokens, lift_e6,
        | ${llrSql("pair_cnt", "rr", "cc", "np")} AS llr_u20
        |FROM cells
        |ORDER BY lift_e6 DESC, w1, w2 LIMIT 100""".stripMargin,
    "q_profile" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |  cast(round(o_totalprice*100) AS bigint) AS price_cents,
        |  cast(o_orderdate AS date) AS order_date, o_orderpriority FROM orders)
        |SELECT 'o_custkey' AS col_name, 'bigint' AS dtype, count(*) AS n_rows,
        | count(o_custkey) AS n_nonnull, count(DISTINCT o_custkey) AS n_distinct,
        | cast(min(o_custkey) AS varchar) AS min_val,
        | cast(max(o_custkey) AS varchar) AS max_val FROM o
        |UNION ALL
        |SELECT 'o_orderkey', 'bigint', count(*), count(o_orderkey),
        | count(DISTINCT o_orderkey), cast(min(o_orderkey) AS varchar),
        | cast(max(o_orderkey) AS varchar) FROM o
        |UNION ALL
        |SELECT 'o_orderpriority', 'string', count(*), count(o_orderpriority),
        | count(DISTINCT o_orderpriority), min(o_orderpriority),
        | max(o_orderpriority) FROM o
        |UNION ALL
        |SELECT 'o_orderstatus', 'string', count(*), count(o_orderstatus),
        | count(DISTINCT o_orderstatus), min(o_orderstatus),
        | max(o_orderstatus) FROM o
        |UNION ALL
        |SELECT 'order_date', 'date', count(*), count(order_date),
        | count(DISTINCT order_date), cast(min(order_date) AS varchar),
        | cast(max(order_date) AS varchar) FROM o
        |UNION ALL
        |SELECT 'price_cents', 'bigint', count(*), count(price_cents),
        | count(DISTINCT price_cents), cast(min(price_cents) AS varchar),
        | cast(max(price_cents) AS varchar) FROM o
        |ORDER BY col_name""".stripMargin,
    "q_funnel" ->
      """WITH e AS (SELECT user_id AS u, event_type AS t, ts FROM events),
        |s1 AS (SELECT u, min(ts) AS ts_1 FROM e WHERE t = 'view' GROUP BY u),
        |s2 AS (SELECT s1.u, s1.ts_1, min(e.ts) AS ts_2
        |       FROM s1 LEFT JOIN e ON e.u = s1.u AND e.t = 'click'
        |         AND e.ts >= s1.ts_1
        |         AND e.ts <= s1.ts_1 + INTERVAL 4320 MINUTE
        |       GROUP BY s1.u, s1.ts_1),
        |s3 AS (SELECT s2.u, s2.ts_1, s2.ts_2, min(e.ts) AS ts_3
        |       FROM s2 LEFT JOIN e ON e.u = s2.u AND e.t = 'purchase'
        |         AND e.ts >= s2.ts_2
        |         AND e.ts <= s2.ts_1 + INTERVAL 4320 MINUTE
        |       GROUP BY s2.u, s2.ts_1, s2.ts_2)
        |SELECT * FROM (
        | SELECT 1 AS step, 'view' AS step_name, count(ts_1) AS n_users FROM s3
        | UNION ALL
        | SELECT 2, 'click', count(ts_2) FROM s3
        | UNION ALL
        | SELECT 3, 'purchase', count(ts_3) FROM s3)
        |ORDER BY step""".stripMargin,
    "q_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id AS u, cast(ts AS date) AS d
        |            FROM events),
        |coh AS (SELECT u, min(d) AS cohort_date FROM ud GROUP BY u),
        |sizes AS (SELECT cohort_date, count(*) AS n_cohort FROM coh
        |          GROUP BY cohort_date)
        |SELECT j.cohort_date, j.day_offset, j.n_active, sizes.n_cohort
        |FROM (SELECT coh.cohort_date,
        |        datediff('day', coh.cohort_date, ud.d) AS day_offset,
        |        count(*) AS n_active
        |      FROM ud JOIN coh ON ud.u = coh.u
        |      WHERE datediff('day', coh.cohort_date, ud.d) <= 7
        |      GROUP BY coh.cohort_date, datediff('day', coh.cohort_date, ud.d)) j
        |JOIN sizes ON j.cohort_date = sizes.cohort_date
        |ORDER BY j.cohort_date, j.day_offset""".stripMargin,
    "q_heavy_hitters" ->
      """SELECT t AS item, count(*) AS est_count
        |FROM (SELECT unnest(string_split(trim(text), ' ')) AS t
        |      FROM documents)
        |GROUP BY t ORDER BY est_count DESC, item""".stripMargin,
    "q_range_join" ->
      """WITH pts AS (SELECT o_orderkey,
        |  cast(round(o_totalprice*100) AS bigint) AS price_cents FROM orders),
        |bands AS (SELECT n_nationkey AS band_id,
        |  1000000 + n_nationkey * 1500000 AS lo_cents,
        |  1000000 + n_nationkey * 1500000 + 4000000 AS hi_cents FROM nation)
        |SELECT band_id, count(*) AS n_orders,
        | cast(sum(price_cents) AS bigint) AS sum_cents
        |FROM pts JOIN bands
        |  ON price_cents >= lo_cents AND price_cents <= hi_cents
        |GROUP BY band_id ORDER BY band_id""".stripMargin,
    "q_decontaminate_bloom" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |grams AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(w)-2),
        |                i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))) AS g
        |  FROM toks WHERE len(w) >= 3),
        |bg AS (SELECT DISTINCT unnest(g) AS gr FROM grams WHERE doc_id % 20 = 0),
        |cg AS (SELECT doc_id, unnest(g) AS gr FROM grams WHERE doc_id % 20 <> 0),
        |hit AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg ON cg.gr = bg.gr)
        |SELECT h.doc_id, true AS exact_hit, true AS bloom_hit
        |FROM hit h ORDER BY h.doc_id""".stripMargin,
    "q_skew_profile" ->
      """WITH keyed AS (SELECT o_orderpriority || chr(1) || o_orderstatus AS item
        |              FROM orders),
        |tot AS (SELECT count(*) AS n_rows FROM keyed)
        |SELECT k.item, count(*) AS est_count, tot.n_rows,
        | cast((cast(count(*) AS hugeint) * 1000000) // tot.n_rows AS bigint)
        |   AS share_e6
        |FROM keyed k CROSS JOIN tot
        |GROUP BY k.item, tot.n_rows
        |ORDER BY est_count DESC, item""".stripMargin,
    "q_zorder" -> zorderOracleSql,
    "q_heavy_hitters_grouped" ->
      """SELECT lang, t AS item, count(*) AS est_count
        |FROM (SELECT lang, unnest(string_split(trim(text), ' ')) AS t
        |      FROM documents)
        |GROUP BY lang, t ORDER BY lang, est_count DESC, item""".stripMargin,
    "q_bm25_topk" -> (bm25OracleCte +
      """
        |SELECT a.doc_id, r.rank, a.score_e6, a.n_matched, a.matched_terms,
        |       CAST(dl.dl AS BIGINT) AS dl
        |FROM bm25_ranked r JOIN bm25_agg a USING (doc_id)
        |     JOIN bm25_dl dl USING (doc_id)
        |WHERE r.rank <= 20 ORDER BY r.rank""".stripMargin),
    "q_hybrid_rrf" -> (bm25OracleCte +
      """,
        |dq AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |dc AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |       FROM embeddings WHERE vec_id != 0),
        |dense AS (
        | SELECT neighbor_id AS doc_id,
        |        row_number() OVER (ORDER BY list_cosine_similarity(cv, qv) DESC,
        |                           neighbor_id) AS rank_a
        | FROM dc, dq QUALIFY rank_a <= 20),
        |sparse AS (SELECT doc_id, rank AS rank_b FROM bm25_ranked WHERE rank <= 20),
        |fused AS (
        | SELECT COALESCE(dense.doc_id, sparse.doc_id) AS doc_id,
        |        COALESCE(1000000000 // (rank_a + 60), 0)
        |          + COALESCE(1000000000 // (rank_b + 60), 0) AS rrf_e9,
        |        rank_a, rank_b
        | FROM dense FULL OUTER JOIN sparse ON dense.doc_id = sparse.doc_id),
        |franked AS (
        | SELECT doc_id, row_number() OVER (ORDER BY rrf_e9 DESC, doc_id) AS rank,
        |        rrf_e9, rank_a, rank_b
        | FROM fused)
        |SELECT doc_id, rank, rrf_e9, rank_a, rank_b FROM franked
        |WHERE rank <= 20 ORDER BY rank""".stripMargin),
    // IR eval metrics: results/qrels rebuilt relationally, DCG discounts
    // via the 20-step ilog2 recurrence, ideal-DCG as a cumulative sum —
    // recall/MRR/nDCG all integer floor divisions, bit-exact
    "q_retrieval_metrics" ->
      s"""WITH q AS (SELECT doc_id AS qid, lang FROM documents WHERE doc_id % 50 = 0),
         |res AS (
         | SELECT q.qid, q.qid + g.r AS did, CAST(g.r AS BIGINT) AS rank
         | FROM q CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS r) g
         | WHERE EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = q.qid + g.r)),
         |rel AS (
         | SELECT q.qid, d.doc_id AS did FROM q
         | JOIN documents d ON d.lang = q.lang AND d.doc_id <> q.qid),
         |nrel AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel FROM rel GROUP BY qid),
         |hit AS (
         | SELECT r.qid, r.rank,
         |  ${ilogSql("CAST(r.rank + 1 AS BIGINT)")} AS l
         | FROM res r JOIN rel ON r.qid = rel.qid AND r.did = rel.did),
         |agg AS (
         | SELECT qid, CAST(count(*) AS BIGINT) AS hits_k, min(rank) AS best,
         |  CAST(SUM(1048576000000 // l) AS BIGINT) AS dcg_e6
         | FROM hit GROUP BY qid),
         |idcg AS (
         | SELECT CAST(m.m AS BIGINT) AS m,
         |  CAST(SUM(1048576000000 // ${ilogSql("CAST(i.i + 1 AS BIGINT)")}) AS BIGINT)
         |    AS idcg_e6
         | FROM (SELECT unnest(generate_series(1, 10)) AS m) m
         | JOIN (SELECT unnest(generate_series(1, 10)) AS i) i ON i.i <= m.m
         | GROUP BY m.m)
         |SELECT n.qid AS doc_id, n.n_rel,
         | COALESCE(a.hits_k, 0) AS hits_k,
         | COALESCE(a.hits_k, 0) * 1000000 // n.n_rel AS recall_ppm,
         | CAST(COALESCE(1000000 // a.best, 0) AS BIGINT) AS rr_ppm,
         | COALESCE(a.dcg_e6, 0) AS dcg_e6,
         | COALESCE(a.dcg_e6, 0) * 1000000 // i.idcg_e6 AS ndcg_ppm
         |FROM nrel n LEFT JOIN agg a ON a.qid = n.qid
         |JOIN idcg i ON i.m = least(n.n_rel, 10)
         |ORDER BY doc_id""".stripMargin,
    "q_events_sliding" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
        |w AS (SELECT (us // 900000000 - j) * 900000000 AS window_start_us,
        |             event_type, value
        |      FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j))
        |SELECT window_start_us, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_shard_assign" ->
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |    AS sort_key,
        |  CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8
        |    AS shard
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_url_canonical" -> urlCanonicalOracleSql,
    // v1 = orders with status F; v2/latest/asof = F plus O — the oracle
    // replays each read's DERIVATION, so wrong-version resolution breaks
    "q_time_travel" ->
      """WITH f AS (SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_cents
        | FROM orders WHERE o_orderstatus = 'F'),
        |fo AS (SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_cents
        | FROM orders WHERE o_orderstatus IN ('F', 'O'))
        |SELECT 'asof_now' AS which, fo.n_rows, fo.sum_price_cents FROM fo
        |UNION ALL SELECT 'latest', fo.n_rows, fo.sum_price_cents FROM fo
        |UNION ALL SELECT 'v1', f.n_rows, f.sum_price_cents FROM f
        |UNION ALL SELECT 'v2', fo.n_rows, fo.sum_price_cents FROM fo
        |ORDER BY which""".stripMargin,
    // restore-to-version: latest re-reads as v1's content, v2 stays
    // readable, history count 3 — all replayed from orders
    "q_restore" ->
      """WITH f AS (SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_cents
        | FROM orders WHERE o_orderstatus = 'F'),
        |fo AS (SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_cents
        | FROM orders WHERE o_orderstatus IN ('F', 'O'))
        |SELECT 'latest_is_v1_again' AS which, f.n_rows, f.sum_price_cents,
        |  CAST(3 AS BIGINT) AS n_versions FROM f
        |UNION ALL SELECT 'v2_still_readable', fo.n_rows, fo.sum_price_cents,
        |  CAST(3 AS BIGINT) FROM fo
        |ORDER BY which""".stripMargin,
    // entity resolution: self fuzzy-join pairs + recursive CC election
    "q_entity_resolution" ->
      """WITH RECURSIVE d AS (
        | SELECT doc_id, substr(text, 1, 60) AS s FROM documents
        | WHERE text IS NOT NULL AND length(text) >= 40),
        |base AS (SELECT doc_id, s FROM d WHERE doc_id % 2 = 0),
        |typo AS (SELECT doc_id + 1000000 AS doc_id,
        |  concat(substr(s, 1, 29), 'Z', substr(s, 31, 60)) AS s FROM base),
        |corp AS (SELECT * FROM base UNION ALL SELECT * FROM typo),
        |cg AS (SELECT doc_id, len(gs) AS ng, unnest(gs) AS g FROM (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(s) - 2, 0)),
        |    i -> substr(s, i, 3))) AS gs FROM corp)),
        |jp AS (SELECT a.doc_id AS x, b.doc_id AS y, a.ng AS na, b.ng AS nb,
        |        count(*) AS sh
        |       FROM cg a JOIN cg b ON a.g = b.g AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2, 3, 4),
        |p AS (SELECT x, y FROM jp WHERE sh * 5 >= 4 * (na + nb - sh)),
        |e AS (SELECT x AS a, y AS b FROM p UNION SELECT y, x FROM p),
        |reach(src, dst) AS (
        | SELECT a, a FROM e
        | UNION
        | SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
        |comp AS (SELECT src AS doc_id, min(dst) AS entity_id
        |         FROM reach GROUP BY src)
        |SELECT c.doc_id, coalesce(p2.entity_id, c.doc_id) AS entity_id,
        | c.doc_id = coalesce(p2.entity_id, c.doc_id) AS keep
        |FROM corp c LEFT JOIN comp p2 ON p2.doc_id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin,
    // market-basket pairs: support / confidences / lift replayed with
    // the same integer arithmetic (HUGEINT where decimal(38) is used)
    "q_association" -> associationOracleSql,
    // the mergeable store must reproduce the one-shot metrics exactly
    // (counts add; baskets arrive whole per batch)
    "q_association_store" -> associationOracleSql,
    // point-in-time join: the validity-interval join replayed outright
    "q_point_in_time" ->
      """WITH dim AS (
        | SELECT c_custkey, c_mktsegment AS tier,
        |  DATE '1995-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
        |  true AS is_current
        | FROM customer
        | UNION ALL
        | SELECT c_custkey, 'LEGACY', DATE '1990-01-01', DATE '1995-01-01',
        |  false
        | FROM customer WHERE c_custkey % 100 = 0),
        |f AS (SELECT o_orderkey, o_custkey AS c_custkey,
        |  CAST(o_orderdate AS DATE) AS order_date FROM orders)
        |SELECT f.o_orderkey, f.c_custkey, f.order_date,
        | d.tier, d.valid_from, d.valid_to, d.is_current
        |FROM f LEFT JOIN dim d ON d.c_custkey = f.c_custkey
        | AND d.valid_from <= f.order_date
        | AND (d.valid_to IS NULL OR f.order_date < d.valid_to)
        |ORDER BY o_orderkey""".stripMargin,
    // vacuum: surviving versions' derivations + retention metadata
    // (2 versions kept, v1 dropped); the query itself asserts the
    // dropped version is unreadable
    "q_vacuum" ->
      """WITH fo AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_cents
        | FROM orders WHERE o_orderstatus IN ('F', 'O')),
        |al AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_cents
        | FROM orders)
        |SELECT 'latest' AS which, al.n_rows, al.sum_price_cents FROM al
        |UNION ALL SELECT 'meta', CAST(2 AS BIGINT), CAST(1 AS BIGINT)
        |UNION ALL SELECT 'oldest_kept', fo.n_rows, fo.sum_price_cents FROM fo
        |ORDER BY which""".stripMargin,
    "q_compact" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_cents,
        |  16 AS files_before, 1 AS files_after
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_negative_sample" ->
      """WITH q AS (SELECT doc_id AS query_id, source FROM documents WHERE doc_id < 8),
        |pos AS (SELECT q.query_id, d.doc_id AS cand_id
        |        FROM q JOIN documents d ON d.source = q.source
        |        WHERE d.doc_id != q.query_id),
        |cand AS (
        | SELECT q.query_id, d.doc_id AS cand_id,
        |  CAST(('0x' || substr(md5('42:' || CAST(q.query_id AS VARCHAR) || ':'
        |    || CAST(d.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS key
        | FROM q CROSS JOIN documents d
        | WHERE d.doc_id != q.query_id),
        |neg AS (
        | SELECT c.* FROM cand c LEFT JOIN pos p
        |   ON p.query_id = c.query_id AND p.cand_id = c.cand_id
        | WHERE p.query_id IS NULL),
        |ranked AS (
        | SELECT query_id, cand_id, key,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY key, cand_id) AS rank
        | FROM neg)
        |SELECT query_id, rank, cand_id AS neg_id, key FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_ann_mmr" -> mmrOracleSql,
    "q_event_transitions" ->
      """WITH chain AS (
        | SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |                        ORDER BY ts, event_id) AS from_type
        | FROM events),
        |pairs AS (SELECT from_type, event_type AS to_type, count(*) AS n_pairs
        |          FROM chain WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(sum(n_pairs) AS BIGINT) AS n_from
        |        FROM pairs GROUP BY 1)
        |SELECT p.from_type, p.to_type, p.n_pairs, t.n_from,
        | CAST((CAST(p.n_pairs AS HUGEINT) * 1000000) // t.n_from AS BIGINT)
        |   AS share_e6
        |FROM pairs p JOIN tot t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "q_constraints" ->
      """WITH n AS (SELECT count(*) AS n FROM orders),
        |r AS (
        | SELECT 'not_null' AS rule, 'o_custkey' AS target,
        |   (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS violations
        | UNION ALL SELECT 'in_range', 'o_totalprice',
        |   (SELECT count(*) FROM orders WHERE o_totalprice IS NOT NULL
        |      AND (o_totalprice < 1000.0 OR o_totalprice > 400000.0))
        | UNION ALL SELECT 'accepted_values', 'o_orderstatus',
        |   (SELECT count(*) FROM orders WHERE o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('F', 'O', 'P'))
        | UNION ALL SELECT 'min_rows', '100',
        |   (SELECT greatest(100 - n, 0) FROM n)
        | UNION ALL SELECT 'unique', 'o_orderkey',
        |   (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
        | UNION ALL SELECT 'unique', 'o_custkey',
        |   (SELECT count(*) - count(DISTINCT o_custkey) FROM orders)
        | UNION ALL SELECT 'foreign_key', 'o_custkey -> customer.c_custkey',
        |   (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
        |      AND NOT EXISTS (SELECT 1 FROM customer c
        |                      WHERE c.c_custkey = o.o_custkey))
        | UNION ALL SELECT 'foreign_key', 'o_custkey -> customer_small.c_custkey',
        |   (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
        |      AND NOT EXISTS (SELECT 1 FROM customer c
        |                      WHERE c.c_custkey < 100
        |                        AND c.c_custkey = o.o_custkey))
        | UNION ALL SELECT 'freshness', 'o_orderdate@60m',
        |   (SELECT CASE WHEN coalesce(epoch_us(max(o_orderdate)),
        |        -9223372036854775808) <
        |      946684800000000 - CAST(60 AS BIGINT) * 60000000
        |    THEN 1 ELSE 0 END FROM orders)
        | UNION ALL SELECT 'freshness', 'o_orderdate@52560000m',
        |   (SELECT CASE WHEN coalesce(epoch_us(max(o_orderdate)),
        |        -9223372036854775808) <
        |      946684800000000 - CAST(52560000 AS BIGINT) * 60000000
        |    THEN 1 ELSE 0 END
        |    FROM orders))
        |SELECT rule, target, CAST(violations AS BIGINT) AS violations,
        |       violations = 0 AS passed
        |FROM r ORDER BY rule, target""".stripMargin,
    // exact regime (31-word vocabulary < k=64): the two-batch store
    // merge provably equals the true corpus counts
    "q_heavy_hitters_stream" ->
      """SELECT t AS item, count(*) AS est_count
        |FROM (SELECT unnest(string_split(trim(text), ' ')) AS t FROM documents)
        |GROUP BY t ORDER BY est_count DESC, item""".stripMargin,
    "q_table_diff" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders),
        |b AS (SELECT * FROM o WHERE o_orderkey % 11 != 0),
        |a AS (SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 3 = 0 THEN price_cents + 1
        |       ELSE price_cents END AS price_cents
        | FROM o WHERE o_orderkey % 13 != 0),
        |d AS (SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS k,
        |  CASE WHEN b.o_orderkey IS NULL THEN 'inserted'
        |       WHEN a.o_orderkey IS NULL THEN 'deleted'
        |       WHEN b.o_orderstatus IS NOT DISTINCT FROM a.o_orderstatus
        |        AND b.price_cents IS NOT DISTINCT FROM a.price_cents
        |         THEN 'unchanged'
        |       ELSE 'changed' END AS diff_status
        | FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey)
        |SELECT diff_status, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_keys
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_fuzzy_join" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 60) AS s FROM documents
        |           WHERE text IS NOT NULL AND length(text) >= 40),
        |l AS (SELECT doc_id AS l_id, s FROM d WHERE doc_id % 2 = 0),
        |rc AS (SELECT doc_id AS r_id, s FROM d WHERE doc_id % 2 = 1),
        |rt AS (SELECT l_id + 1000000 AS r_id,
        |       concat(substr(s, 1, 29), 'Z', substr(s, 31, 60)) AS s FROM l),
        |r AS (SELECT * FROM rc UNION ALL SELECT * FROM rt),
        |lg AS (SELECT l_id, len(gs) AS l_grams, unnest(gs) AS g FROM (
        |  SELECT l_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(s) - 2, 0)),
        |    i -> substr(s, i, 3))) AS gs FROM l)),
        |rg AS (SELECT r_id, len(gs) AS r_grams, unnest(gs) AS g FROM (
        |  SELECT r_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(s) - 2, 0)),
        |    i -> substr(s, i, 3))) AS gs FROM r)),
        |pairs AS (SELECT l_id, r_id, l_grams, r_grams, count(*) AS shared_grams
        |          FROM lg JOIN rg USING (g) GROUP BY 1, 2, 3, 4),
        |sel AS (SELECT *, l_grams + r_grams - shared_grams AS u FROM pairs
        |        WHERE shared_grams * 5 >= 4 * (l_grams + r_grams - shared_grams))
        |SELECT l_id, r_id, shared_grams, l_grams, r_grams,
        |  CAST((CAST(shared_grams AS HUGEINT) * 1000000) // u AS BIGINT) AS jaccard_e6
        |FROM sel ORDER BY l_id, r_id""".stripMargin,
    // the incremental form: the same all-pairs gram-jaccard replay as a
    // SELF join over history ∪ batch, restricted to pairs with at least
    // one batch side (doc_id % 10 = 0 or a planted typo id >= 1e6) — the
    // store-probed result must agree pair-for-pair
    "q_fuzzy_incremental" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 60) AS s FROM documents
        |           WHERE text IS NOT NULL AND length(text) >= 40),
        |typo AS (SELECT doc_id + 1000000 AS doc_id,
        |         concat(substr(s, 1, 29), 'Z', substr(s, 31, 60)) AS s
        |         FROM d WHERE doc_id % 10 = 1),
        |c AS (SELECT * FROM d UNION ALL SELECT * FROM typo),
        |cg AS (SELECT doc_id, len(gs) AS grams, unnest(gs) AS g FROM (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(s) - 2, 0)),
        |    i -> substr(s, i, 3))) AS gs FROM c)),
        |pairs AS (SELECT a.doc_id AS l_id, b.doc_id AS r_id,
        |            a.grams AS l_grams, b.grams AS r_grams,
        |            count(*) AS shared_grams
        |          FROM cg a JOIN cg b ON a.g = b.g AND a.doc_id < b.doc_id
        |          WHERE a.doc_id % 10 = 0 OR a.doc_id >= 1000000
        |             OR b.doc_id % 10 = 0 OR b.doc_id >= 1000000
        |          GROUP BY 1, 2, 3, 4),
        |sel AS (SELECT *, l_grams + r_grams - shared_grams AS u FROM pairs
        |        WHERE shared_grams * 5 >= 4 * (l_grams + r_grams - shared_grams))
        |SELECT l_id, r_id, shared_grams, l_grams, r_grams,
        |  CAST((CAST(shared_grams AS HUGEINT) * 1000000) // u AS BIGINT) AS jaccard_e6
        |FROM sel ORDER BY l_id, r_id""".stripMargin,
    "q_pagerank" -> pagerankOracleSql,
    "q_hits" -> hitsOracleSql,
    "q_shortest_paths" -> shortestPathsOracleSql,
    "q_bpe_train" -> bpeTrainOracleSql,
    "q_bpe_driver_train" -> bpeDriverTrainOracleSql,
    "q_bpe_encode" -> bpeEncodeOracleSql,
    "q_bpe_model_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS counts_identical,
        | true AS merges_identical FROM documents""".stripMargin,
    // the naive all-pairs levenshtein — deliberately a DIFFERENT
    // formulation from the Spark side's PassJoin blocking, so the two
    // must agree pair-for-pair
    "q_edit_join" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS BIGINT) AS dist
        |FROM documents a, documents b
        |WHERE a.doc_id < b.doc_id
        | AND levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 4
        |ORDER BY id_a, id_b""".stripMargin,
    // the RAKE token-stream contract replayed relationally: breaker
    // tokens from the [^a-z0-9 ] substitution + the stopword list,
    // phrase ids by gaps-and-islands, freq/deg as grouped aggregates,
    // 10^6*deg // freq word scores summed per phrase, ties by phrase
    "q_keywords" ->
      """WITH marked AS (
        | SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', ' | ', 'g') AS t
        | FROM documents WHERE text IS NOT NULL),
        |toked AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(t, ' +'), x -> x <> '') AS toks
        | FROM marked),
        |tok AS (
        | SELECT doc_id, toks[i] AS tok, i,
        |        (toks[i] = '|' OR toks[i] IN
        |          ('the','and','of','to','in','is','you','that','it','for')) AS brk
        | FROM toked, unnest(generate_series(1, len(toks))) AS g(i)),
        |pid AS (
        | SELECT doc_id, tok, i, brk,
        |        sum(CASE WHEN brk THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY i) AS phrase_id
        | FROM tok),
        |w AS (SELECT doc_id, phrase_id, tok, i,
        |      count(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
        |      FROM pid WHERE NOT brk),
        |stats AS (SELECT doc_id, tok,
        |          CAST(1000000 AS BIGINT) * sum(plen) // count(*) AS score_ppm
        |          FROM w GROUP BY 1, 2),
        |ph AS (SELECT w.doc_id, w.phrase_id,
        |       string_agg(w.tok, ' ' ORDER BY w.i) AS phrase,
        |       sum(s.score_ppm) AS score
        |       FROM w JOIN stats s ON w.doc_id = s.doc_id AND w.tok = s.tok
        |       GROUP BY 1, 2),
        |dp AS (SELECT doc_id, phrase, max(score) AS score FROM ph GROUP BY 1, 2),
        |rk AS (SELECT doc_id, phrase, CAST(score AS BIGINT) AS score_ppm,
        |       row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, phrase) AS rank
        |       FROM dp)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, phrase, score_ppm
        |FROM rk WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    // the Aho-Corasick match set replayed as the all-starts substring
    // scan: every (position, pattern) occurrence — overlapping and
    // nested both count — then per-doc totals, distinct patterns, and
    // the earliest match (smallest pattern id on position ties)
    "q_blocklist" ->
      s"""WITH pats(pid, p) AS (VALUES ${blocklistPats.zipWithIndex
          .map { case (p, i) => s"($i,'$p')" }.mkString(",")}),
        |posn AS (
        | SELECT doc_id, unnest(generate_series(1, length(text))) AS pos, text
        | FROM documents),
        |hits AS (
        | SELECT s.doc_id, p.pid, s.pos
        | FROM posn s JOIN pats p
        |   ON substr(s.text, CAST(s.pos AS INT), CAST(length(p.p) AS INT)) = p.p),
        |agg AS (SELECT doc_id, count(*) AS bh, count(DISTINCT pid) AS bd,
        |        min(pos) AS fp FROM hits GROUP BY doc_id),
        |fpat AS (SELECT h.doc_id, min(h.pid) AS fpt FROM hits h
        |         JOIN agg a ON h.doc_id = a.doc_id AND h.pos = a.fp
        |         GROUP BY h.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.bh, 0) AS BIGINT) AS block_hits,
        |  CAST(coalesce(a.bd, 0) AS BIGINT) AS block_distinct,
        |  CAST(a.fp AS BIGINT) AS block_first_pos,
        |  CAST(f.fpt AS BIGINT) AS block_first_pat,
        |  coalesce(a.bh, 0) > 0 AS blocked
        |FROM documents d
        |LEFT JOIN agg a USING (doc_id) LEFT JOIN fpat f ON d.doc_id = f.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // the positional-intersection phrase match replayed as a token-list
    // walk: anchors where toks[p] = w1 AND toks[p+1] = w2
    "q_phrase_search" ->
      """WITH t AS (SELECT doc_id,
        | list_filter(string_split(text, ' '), x -> x != '') AS toks
        | FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
        |posn AS (SELECT doc_id, toks,
        | unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS p FROM t),
        |m AS (SELECT doc_id, p FROM posn
        |      WHERE toks[p] = 'table' AND toks[p+1] = 'part')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        |       CAST(min(p) AS BIGINT) AS first_pos
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // words / sentence-runs / vowel-group syllables replayed with list
    // lambdas; the two truncating divisions are positive-operand floor
    // in both engines
    "q_readability" ->
      """WITH t AS (SELECT doc_id, text,
        | list_filter(string_split(text, ' '), x -> x != '') AS w
        | FROM documents),
        |m AS (SELECT doc_id,
        | CASE WHEN text IS NULL THEN NULL
        |      ELSE CAST(len(w) AS BIGINT) END AS n_words,
        | CASE WHEN text IS NULL THEN NULL ELSE greatest(CAST(1 AS BIGINT),
        |      CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
        |      END AS n_sentences,
        | CASE WHEN text IS NULL THEN NULL ELSE
        |      CAST(coalesce(list_sum(list_transform(w, x -> greatest(1,
        |        len(regexp_extract_all(x, '[aeiouyAEIOUY]+'))))), 0) AS BIGINT)
        |      END AS n_syllables
        | FROM t)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        | CASE WHEN n_words > 0 THEN 206835
        |      - (1015 * n_words) // n_sentences
        |      - (84600 * n_syllables) // n_words END AS flesch_e3,
        | CASE WHEN n_words > 0 THEN (390 * n_words) // n_sentences
        |      + (11800 * n_syllables) // n_words - 15590 END AS fk_grade_e3
        |FROM m ORDER BY doc_id""".stripMargin,
    // the Soundex code re-derived INDEPENDENTLY with list lambdas
    "q_soundex" ->
      s"""WITH src AS (
        | SELECT doc_id AS id, split_part(text, ' ', 1) AS w
        | FROM documents WHERE text IS NOT NULL),
        |${soundexCte("src")}
        |SELECT id AS doc_id, w, sx FROM sxt ORDER BY doc_id""".stripMargin,
    // blocking replayed with the independent Soundex; pairs scored with
    // DuckDB's OWN jaro_winkler_similarity — blocking AND metric
    // independently verified (the q_jw_join pattern)
    "q_soundex_join" ->
      s"""WITH words AS (
        | SELECT DISTINCT split_part(text, ' ', 1) AS w
        | FROM documents WHERE text IS NOT NULL),
        |src AS (
        | SELECT CAST(('0x' || substr(md5('o:' || w), 1, 15)) AS BIGINT) AS id,
        |        w
        | FROM words
        | UNION ALL
        | SELECT CAST(('0x' || substr(md5('c:' || w), 1, 15)) AS BIGINT) AS id,
        |        regexp_replace(w, '[aeiou]', 'o', 'g') AS w
        | FROM words),
        |${soundexCte("src")}
        |SELECT a.id AS id_a, b.id AS id_b, a.sx,
        |  CAST(round(jaro_winkler_similarity(a.w, b.w) * 1000000) AS BIGINT)
        |    AS jw_e6
        |FROM sxt a JOIN sxt b ON a.sx = b.sx AND a.id < b.id
        |WHERE CAST(round(jaro_winkler_similarity(a.w, b.w) * 1000000) AS BIGINT)
        |      >= 800000
        |ORDER BY id_a, id_b""".stripMargin,
    // the sorted-neighborhood blocking replayed: the same total
    // (string, id) rank, the same window offsets, scored with DuckDB's
    // OWN jaro_winkler_similarity — blocking AND metric independently
    // verified
    "q_jw_join" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 30) AS p
        |           FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
        |rk AS (SELECT doc_id, p,
        |       CAST(row_number() OVER (ORDER BY p, doc_id) AS BIGINT) - 1 AS rk
        |       FROM d),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |        CAST(round(jaro_winkler_similarity(a.p, b.p) * 1000000) AS BIGINT) AS jw_e6
        | FROM rk a JOIN rk b ON b.rk BETWEEN a.rk + 1 AND a.rk + 7)
        |SELECT id_a, id_b, jw_e6 FROM pairs WHERE jw_e6 >= 900000
        |ORDER BY id_a, id_b""".stripMargin,
    // DuckDB's OWN jaro_winkler_similarity — an independent
    // implementation of the matching/transposition/boost algorithm;
    // the kernel's operation order is validated bit-exact against it,
    // so the e6 rounding can never straddle a tie
    "q_jaro_winkler" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 30) AS p FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(round(jaro_winkler_similarity(a.p, b.p) * 1000000) AS BIGINT) AS jw_e6
        |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin,
    // the incremental form: the same naive all-pairs, restricted to
    // pairs with at least one batch (doc_id % 10 = 0) side — the
    // store-probed result must agree pair-for-pair
    "q_edit_incremental" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS BIGINT) AS dist
        |FROM documents a, documents b
        |WHERE a.doc_id < b.doc_id
        | AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)
        | AND levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 4
        |ORDER BY id_a, id_b""".stripMargin,
    // the CUSUM recurrence replayed as one recursive CTE stepping a
    // rank per key — GREATEST-clamped integer sums, flags included
    "q_cusum" ->
      """WITH RECURSIVE base AS (
        | SELECT user_id AS k, event_id AS id, epoch_us(ts) AS us,
        |        CAST(round(value * 100) AS BIGINT) AS vc
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |rk AS (SELECT k, id, us, vc,
        |       CAST(row_number() OVER (PARTITION BY k ORDER BY us, id) AS BIGINT) AS rn
        |       FROM base),
        |rec AS (
        | SELECT k, id, us, vc, rn,
        |        GREATEST(CAST(0 AS BIGINT), vc - 4500) AS sp,
        |        GREATEST(CAST(0 AS BIGINT), 3500 - vc) AS sn
        | FROM rk WHERE rn = 1
        | UNION ALL
        | SELECT r.k, r.id, r.us, r.vc, r.rn,
        |        GREATEST(CAST(0 AS BIGINT), rec.sp + r.vc - 4500),
        |        GREATEST(CAST(0 AS BIGINT), rec.sn + 3500 - r.vc)
        | FROM rk r JOIN rec ON r.k = rec.k AND r.rn = rec.rn + 1)
        |SELECT id AS event_id, k AS user_id, us, vc AS value_cents,
        |       sp AS cusum_pos, sn AS cusum_neg,
        |       sp > 20000 AS shift_up, sn > 20000 AS shift_down
        |FROM rec ORDER BY user_id, us, event_id""".stripMargin,
    // the contingency cells, margins, and every fixed-point log
    // replayed with the shared 20-step ilog2 recurrence; truncating
    // divisions toward zero in both engines
    "q_pmi" ->
      s"""WITH base AS (
        | SELECT l_returnflag AS a, l_linestatus AS b FROM lineitem
        | WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cnt
        |          FROM base GROUP BY a, b),
        |m AS (SELECT a, b, cnt,
        |      CAST(sum(cnt) OVER (PARTITION BY a) AS BIGINT) AS n_a,
        |      CAST(sum(cnt) OVER (PARTITION BY b) AS BIGINT) AS n_b,
        |      CAST(sum(cnt) OVER () AS BIGINT) AS n FROM cells),
        |p AS (SELECT a, b, cnt, n_a, n_b, n,
        |      ${ilogSql("(cnt * n)")} - ${ilogSql("(n_a * n_b)")} AS pmi_u20
        |      FROM m)
        |SELECT a AS l_returnflag, b AS l_linestatus, cnt, n_a, n_b,
        |  CAST((pmi_u20 * 1000000) // 1048576 AS BIGINT) AS pmi_e6,
        |  CAST((sum(cnt * pmi_u20) OVER () * 1000000)
        |    // (n * 1048576) AS BIGINT) AS mi_e6
        |FROM p ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // first digits from the INTEGER cents string (identical printing in
    // both engines), full 1-9 grid, truncating ppm; the nine Benford
    // constants sum to exactly 10^6 on both sides
    "q_benford" ->
      """WITH base AS (
        | SELECT l_returnflag AS k,
        |        CAST(round(l_extendedprice * 100) AS BIGINT) AS vc
        | FROM lineitem
        | WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL),
        |d AS (SELECT k,
        |      CAST(substr(CAST(abs(vc) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |      FROM base WHERE vc != 0),
        |c AS (SELECT k, digit, CAST(count(*) AS BIGINT) AS cnt
        |      FROM d GROUP BY k, digit),
        |t AS (SELECT k, CAST(count(*) AS BIGINT) AS total FROM d GROUP BY k),
        |ben(digit, ben_ppm) AS (VALUES
        | (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
        | (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
        |g AS (SELECT t.k, t.total, CAST(b.digit AS BIGINT) AS digit,
        |      CAST(b.ben_ppm AS BIGINT) AS ben_ppm FROM t, ben b)
        |SELECT g.k AS l_returnflag, g.digit,
        |  CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt, g.total,
        |  CAST(coalesce(c.cnt, 0) * 1000000 // g.total AS BIGINT) AS obs_ppm,
        |  g.ben_ppm,
        |  CAST(abs(coalesce(c.cnt, 0) * 1000000 // g.total - g.ben_ppm)
        |    AS BIGINT) AS dev_ppm
        |FROM g LEFT JOIN c ON g.k = c.k AND g.digit = c.digit
        |ORDER BY l_returnflag, g.digit""".stripMargin,
    // the OLS normal equations replayed closed-form in HUGEINT over the
    // same rank regressor; two truncating // divisions. q_trend_store
    // and q_trend_incremental answer to the SAME replay (the
    // acfOracleSql sharing pattern): the store must reproduce the
    // one-shot bit-exactly
    "q_trend" -> trendOracleSql,
    "q_trend_store" -> trendOracleSql,
    "q_trend_incremental" -> trendOracleSql,
    // the pairwise self-join replayed: one truncating // per pair
    // slope, the two-middle-ranks median (x2), sign sums for S and tau
    "q_robust_trend" ->
      """WITH base AS (
        | SELECT user_id AS k, event_id AS id, epoch_us(ts) AS us,
        |        CAST(round(value * 100) AS BIGINT) AS vc
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |rk AS (SELECT k, vc,
        |       CAST(row_number() OVER (PARTITION BY k ORDER BY us, id)
        |         AS BIGINT) AS rn,
        |       CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n
        |       FROM base),
        |p AS (SELECT a.k, a.n,
        |      ((b.vc - a.vc) * 1000000) // (b.rn - a.rn) AS slope_e6,
        |      CAST(sign(b.vc - a.vc) AS BIGINT) AS sgn,
        |      a.rn AS ri, b.rn AS rj
        |      FROM rk a JOIN rk b ON a.k = b.k AND a.rn < b.rn),
        |r AS (SELECT *,
        |      CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS m,
        |      CAST(row_number() OVER (PARTITION BY k
        |        ORDER BY slope_e6, ri, rj) AS BIGINT) AS rr
        |      FROM p),
        |med AS (SELECT k, CAST(sum(slope_e6) *
        |        (CASE WHEN max((m + 1) // 2) = max(m // 2 + 1)
        |         THEN 2 ELSE 1 END) AS BIGINT) AS slope_med2_e6
        |        FROM r WHERE rr = (m + 1) // 2 OR rr = m // 2 + 1
        |        GROUP BY k),
        |agg AS (SELECT k, CAST(max(n) AS BIGINT) AS n,
        |        CAST(count(*) AS BIGINT) AS n_pairs,
        |        CAST(sum(sgn) AS BIGINT) AS s_stat
        |        FROM p GROUP BY k)
        |SELECT a.k AS user_id, a.n, a.n_pairs, a.s_stat,
        |  CAST((a.s_stat * 1000000) // a.n_pairs AS BIGINT) AS tau_e6,
        |  m.slope_med2_e6
        |FROM agg a JOIN med m ON a.k = m.k
        |ORDER BY user_id""".stripMargin,
    // the mean-cleared integer ACF replayed closed-form in HUGEINT:
    // y = n*x - S per row, lag pairs by an offset equi-join, one
    // truncating // per lag, argmax by (acf DESC NULLS LAST, lag).
    // q_acf_store and q_acf_incremental REUSE this replay verbatim:
    // the store rows must reproduce the one-shot bit-exactly, and the
    // incremental form must equal store(A ∪ B) — one ground truth
    // serves all three (the associationOracleSql sharing pattern)
    "q_acf" -> acfOracleSql,
    "q_acf_store" -> acfOracleSql,
    "q_acf_incremental" -> acfOracleSql,
    // the between-segment SS argmax replayed closed-form in HUGEINT:
    // window prefix/total sums, one truncating // per candidate split,
    // argmax by (gain DESC, rank) — no recursion needed
    "q_changepoint" ->
      """WITH base AS (
        | SELECT user_id AS k, event_id AS id, epoch_us(ts) AS us,
        |        CAST(round(value * 100) AS BIGINT) AS vc
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |rk AS (SELECT k, id, us, vc,
        |       CAST(row_number() OVER w AS BIGINT) AS rn,
        |       CAST(sum(vc) OVER (PARTITION BY k ORDER BY us, id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s1,
        |       CAST(sum(vc) OVER (PARTITION BY k) AS BIGINT) AS s,
        |       CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n
        |       FROM base WINDOW w AS (PARTITION BY k ORDER BY us, id)),
        |cand AS (SELECT k, id, us, rn, n, s1, s,
        |         CAST(s1 AS HUGEINT) * (n - rn)
        |           - CAST(s - s1 AS HUGEINT) * rn AS diff
        |         FROM rk WHERE rn < n),
        |g AS (SELECT k, id, us, rn, n, s1, s,
        |      CAST((diff * diff * 1000000)
        |        // (CAST(n AS HUGEINT) * rn * (n - rn)) AS BIGINT) AS gain_e6
        |      FROM cand),
        |best AS (SELECT *,
        |         row_number() OVER (PARTITION BY k ORDER BY gain_e6 DESC, rn) AS pk
        |         FROM g)
        |SELECT k AS user_id, n, rn AS split_rn, id AS split_id, us AS split_us,
        |       s1 AS s_left, CAST(s - s1 AS BIGINT) AS s_right, gain_e6,
        |       gain_e6 >= 100000000000000 AS shifted
        |FROM best WHERE pk = 1 ORDER BY user_id""".stripMargin,
    // the EWMA recurrence replayed as one recursive CTE: level held
    // ×10⁶, one truncating // per step (toward zero in both engines),
    // seed row unflagged, deviation judged against the PRIOR level
    "q_ewma" ->
      """WITH RECURSIVE base AS (
        | SELECT user_id AS k, event_id AS id, epoch_us(ts) AS us,
        |        CAST(round(value * 100) AS BIGINT) AS vc
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |rk AS (SELECT k, id, us, vc,
        |       CAST(row_number() OVER (PARTITION BY k ORDER BY us, id) AS BIGINT) AS rn
        |       FROM base),
        |rec AS (
        | SELECT k, id, us, vc, rn, vc * 1000000 AS s, FALSE AS dev
        | FROM rk WHERE rn = 1
        | UNION ALL
        | SELECT r.k, r.id, r.us, r.vc, r.rn,
        |        200000 * r.vc + (800000 * rec.s) // 1000000,
        |        abs(r.vc * 1000000 - rec.s) > 3000000000
        | FROM rk r JOIN rec ON r.k = rec.k AND r.rn = rec.rn + 1)
        |SELECT id AS event_id, k AS user_id, us, vc AS value_cents,
        |       CAST(s AS BIGINT) AS ewma_e6, dev AS deviation
        |FROM rec ORDER BY user_id, us, event_id""".stripMargin,
    // the Holt double recurrence replayed as one recursive CTE in
    // HUGEINT: level and trend each one truncating // per term (toward
    // zero in both engines), the new-level expression repeated inline
    // inside the trend update, seed row (level=value, trend 0)
    // unflagged, deviation judged against the PRIOR forecast l+b
    "q_holt" ->
      """WITH RECURSIVE base AS (
        | SELECT user_id AS k, event_id AS id, epoch_us(ts) AS us,
        |        CAST(round(value * 100) AS BIGINT) AS vc
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |rk AS (SELECT k, id, us, vc,
        |       CAST(row_number() OVER (PARTITION BY k ORDER BY us, id) AS BIGINT) AS rn
        |       FROM base),
        |rec AS (
        | SELECT k, id, us, vc, rn,
        |        CAST(vc AS HUGEINT) * 1000000 AS l,
        |        CAST(0 AS HUGEINT) AS b, FALSE AS dev
        | FROM rk WHERE rn = 1
        | UNION ALL
        | SELECT n.k, n.id, n.us, n.vc, n.rn,
        |        CAST(200000 AS HUGEINT) * n.vc
        |          + (CAST(800000 AS HUGEINT) * (rec.l + rec.b)) // 1000000,
        |        (CAST(100000 AS HUGEINT) *
        |          (CAST(200000 AS HUGEINT) * n.vc
        |            + (CAST(800000 AS HUGEINT) * (rec.l + rec.b)) // 1000000
        |            - rec.l)) // 1000000
        |          + (CAST(900000 AS HUGEINT) * rec.b) // 1000000,
        |        abs(CAST(n.vc AS HUGEINT) * 1000000 - (rec.l + rec.b))
        |          > CAST(3000 AS HUGEINT) * 1000000
        | FROM rk n JOIN rec ON n.k = rec.k AND n.rn = rec.rn + 1)
        |SELECT id AS event_id, k AS user_id, us, vc AS value_cents,
        |       CAST(l AS BIGINT) AS level_e6, CAST(b AS BIGINT) AS trend_e6,
        |       dev AS deviation
        |FROM rec ORDER BY user_id, us, event_id""".stripMargin,
    // the slot profile replayed directly: integer slot from epoch
    // micros, population mean via one truncating //, the gate + the
    // deviation both pure integer compares. SHARED by the store
    // roundtrip key: longs round-trip parquet bit-exactly, so scoring
    // against the reloaded profile must match the same replay.
    // the Holt-Winters triple recurrence replayed in one HUGEINT
    // recursive CTE, the 24 seasonal components as a LIST column
    "q_holt_winters" -> holtWintersOracleSql,
    // the SAME full-history triple recurrence, restricted to the batch
    // rows the continuation emits — store→continue must land on the
    // one-shot bit-for-bit
    "q_holt_winters_incremental" ->
      holtWintersOracleWhere("WHERE us >= 1706400000000000"),
    // the forecast tail over the same shared recursive core: terminal
    // state per key, h = 1..6 slot-stepped integer forecasts
    "q_holt_winters_forecast" -> holtWintersForecastOracleSql,
    // exact order statistics replayed with the same two-middle-ranks
    // trick: the value at a rank is determined by the multiset, so the
    // row_number tie order never matters. SHARED by the store roundtrip
    // key: the profile longs round-trip parquet bit-exactly, so scoring
    // against the reloaded profile must match the same replay.
    "q_robust_anomaly" -> robustOracleSql,
    "q_robust_store" -> robustOracleSql,
    "q_seasonal" -> seasonalOracleSql,
    "q_seasonal_store" -> seasonalOracleSql,
    "q_seasonal_incremental" -> seasonalOracleSql,
    "q_attribution" ->
      """WITH conv AS (
        | SELECT user_id AS k, event_id AS conv_id, epoch_us(ts) AS conv_us
        | FROM events WHERE event_type = 'purchase'),
        |touch AS (
        | SELECT user_id AS k, event_id AS touch_id, event_type AS touch_type,
        |        epoch_us(ts) AS touch_us
        | FROM events WHERE event_type IN ('view', 'click')),
        |pairs AS (
        | SELECT c.k, c.conv_id, c.conv_us, t.touch_id, t.touch_type, t.touch_us
        | FROM conv c JOIN touch t ON t.k = c.k
        |  AND t.touch_us < c.conv_us
        |  AND t.touch_us >= c.conv_us - 86400000000),
        |stats AS (
        | SELECT conv_id, CAST(count(*) AS BIGINT) AS n_touches,
        |        min(ROW(touch_us, touch_id)) AS fst,
        |        max(ROW(touch_us, touch_id)) AS lst
        | FROM pairs GROUP BY 1)
        |SELECT p.conv_id, p.k AS user_id, p.conv_us, p.touch_id, p.touch_type,
        |       p.touch_us, s.n_touches,
        |       CAST(1000000 // s.n_touches AS BIGINT) AS credit_linear_ppm,
        |       ROW(p.touch_us, p.touch_id) = s.fst AS is_first_touch,
        |       ROW(p.touch_us, p.touch_id) = s.lst AS is_last_touch
        |FROM pairs p JOIN stats s USING (conv_id)
        |UNION ALL
        |SELECT c.conv_id, c.k, c.conv_us, CAST(NULL AS BIGINT),
        |       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
        |       CAST(0 AS BIGINT), CAST(1000000 AS BIGINT), false, false
        |FROM conv c
        |WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.conv_id = c.conv_id)
        |ORDER BY conv_id, touch_id NULLS FIRST""".stripMargin,
    "q_random_project" ->
      """WITH sgn AS (
        | SELECT i, j,
        |  CASE WHEN CAST(('0x'||substr(md5('rp:7:'||i||':'||j),1,15)) AS BIGINT) % 2 = 0
        |       THEN 1 ELSE -1 END AS s
        | FROM generate_series(0, 63) g1(i), generate_series(0, 15) g2(j)),
        |v AS (
        | SELECT vec_id, i - 1 AS i,
        |        CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vc
        | FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i))
        |SELECT v.vec_id, CAST(sgn.j AS BIGINT) AS dim,
        |       CAST(SUM(v.vc * sgn.s) AS BIGINT) AS proj
        |FROM v JOIN sgn ON sgn.i = v.i
        |GROUP BY 1, 2 ORDER BY vec_id, dim""".stripMargin,
    "q_resample" ->
      """WITH base AS (
        | SELECT user_id, event_id, epoch_us(ts) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS vc,
        |  epoch_us(ts) // 3600000000 AS bucket
        | FROM events),
        |agg AS (
        | SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(vc) AS BIGINT) AS sum_cents
        | FROM base GROUP BY 1, 2),
        |ranked AS (
        | SELECT user_id, bucket, vc,
        |  row_number() OVER (PARTITION BY user_id, bucket
        |                     ORDER BY us DESC, event_id DESC) AS rk
        | FROM base),
        |lastv AS (SELECT user_id, bucket, vc AS lv FROM ranked WHERE rk = 1),
        |span AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
        |         FROM base GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
        |         FROM span)
        |SELECT g.user_id, g.bucket,
        | coalesce(a.n_events, 0) AS n_events,
        | coalesce(a.sum_cents, 0) AS sum_cents,
        | last_value(l.lv IGNORE NULLS) OVER (
        |   PARTITION BY g.user_id ORDER BY g.bucket
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_cents,
        | a.n_events IS NULL AS is_gap
        |FROM grid g
        |LEFT JOIN agg a ON a.user_id = g.user_id AND a.bucket = g.bucket
        |LEFT JOIN lastv l ON l.user_id = g.user_id AND l.bucket = g.bucket
        |ORDER BY g.user_id, g.bucket""".stripMargin,
    "q_pagerank_weighted" -> pagerankWeightedOracleSql,
    "q_pagerank_personalized" -> ppagerankOracleSql,
    "q_char_entropy" -> charEntropyOracleSql,
    "q_label_propagation" -> labelPropagationOracleSql,
    "q_triangles" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer),
        |e0 AS (
        | SELECT k AS src, k + 1 AS dst FROM c
        | UNION ALL SELECT k, k + 2 FROM c),
        |e AS (SELECT e0.src, e0.dst FROM e0 JOIN c ON c.k = e0.dst),
        |ce AS (
        | SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        | FROM e WHERE src <> dst),
        |tri AS (
        | SELECT a.u AS x, a.v AS y, b.v AS z
        | FROM ce a JOIN ce b ON b.u = a.v
        | JOIN ce cc ON cc.u = a.u AND cc.v = b.v),
        |corners AS (
        | SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        | UNION ALL SELECT z FROM tri),
        |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |       FROM corners GROUP BY node),
        |nodes AS (SELECT u AS node FROM ce UNION SELECT v FROM ce)
        |SELECT n.node, coalesce(pn.n_triangles, 0) AS n_triangles
        |FROM nodes n LEFT JOIN pn ON pn.node = n.node
        |ORDER BY n.node""".stripMargin,
    // the medoid identity replayed with list ops: e4 quantization in
    // DOUBLE, element-wise cluster sums via an unnest position walk,
    // n*nq - 2*dot + sumn, argmin by (score, id)
    "q_cluster_medoid" ->
      """WITH v AS (
        | SELECT vec_id,
        |  CAST(('0x' || substr(md5('m:' || CAST(vec_id AS VARCHAR)), 1, 15))
        |    AS BIGINT) % 16 AS cluster_id,
        |  list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS q
        | FROM embeddings
        | WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |nq AS (SELECT vec_id, cluster_id, q,
        |       CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq
        |       FROM v),
        |agg AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(nq) AS BIGINT) AS sumn FROM nq GROUP BY cluster_id),
        |pos AS (SELECT cluster_id, q,
        |        unnest(generate_series(1, len(q))) AS i FROM v),
        |s AS (SELECT cluster_id, i, CAST(sum(q[i]) AS BIGINT) AS sv
        |      FROM pos GROUP BY cluster_id, i),
        |dt AS (SELECT n.vec_id, n.cluster_id, n.nq,
        |       CAST(sum(n.q[s.i] * s.sv) AS BIGINT) AS dot
        |       FROM nq n JOIN s ON n.cluster_id = s.cluster_id
        |       GROUP BY n.vec_id, n.cluster_id, n.nq),
        |sc AS (SELECT d.cluster_id, d.vec_id, a.n,
        |       CAST(a.n * d.nq - 2 * d.dot + a.sumn AS BIGINT) AS score_e8
        |       FROM dt d JOIN agg a USING (cluster_id)),
        |pk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
        |       ORDER BY score_e8, vec_id) AS rn FROM sc)
        |SELECT cluster_id, vec_id AS medoid_id, n, score_e8
        |FROM pk WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    // the erasure anti-join + per-segment audit replayed relationally;
    // unmatched (negative) request keys remove nothing
    "q_forget" ->
      """WITH req AS (
        | SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
        | UNION
        | SELECT -c_custkey FROM customer WHERE c_custkey % 89 = 0),
        |aft AS (SELECT c.* FROM customer c LEFT JOIN req r
        |        ON c.c_custkey = r.c_custkey WHERE r.c_custkey IS NULL),
        |b AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_before
        |      FROM customer GROUP BY c_mktsegment),
        |a AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_after
        |      FROM aft GROUP BY c_mktsegment)
        |SELECT b.c_mktsegment, b.n_before,
        |  coalesce(a.n_after, 0) AS n_after,
        |  b.n_before - coalesce(a.n_after, 0) AS n_removed
        |FROM b LEFT JOIN a USING (c_mktsegment)
        |ORDER BY c_mktsegment""".stripMargin,
    // the composed versioned erasure replayed relationally: post-erasure
    // per-segment stats, the audit counts, and the purge count (v1 =
    // even keys is purged iff it held any requested key — a relational
    // EXISTS; v2 = the full snapshot always is once any key matches)
    "q_forget_rewrite" ->
      """WITH c AS (
        | SELECT c_custkey, c_mktsegment,
        |        CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        | FROM customer),
        |req AS (
        | SELECT c_custkey FROM c WHERE c_custkey % 97 = 0
        | UNION
        | SELECT -c_custkey FROM c WHERE c_custkey % 89 = 0),
        |aft AS (SELECT x.* FROM c x LEFT JOIN req r
        |        ON x.c_custkey = r.c_custkey WHERE r.c_custkey IS NULL),
        |seg AS (SELECT c_mktsegment AS which,
        |        CAST(count(*) AS BIGINT) AS n_rows,
        |        CAST(sum(bal_cents) AS BIGINT) AS sum_bal_cents
        |        FROM aft GROUP BY c_mktsegment),
        |meta AS (
        | SELECT '~audit_counts' AS which,
        |   (SELECT CAST(count(*) AS BIGINT) FROM c x JOIN req r
        |     ON x.c_custkey = r.c_custkey) AS n_rows,
        |   (SELECT CAST(count(*) AS BIGINT) FROM req) AS sum_bal_cents
        | UNION ALL
        | SELECT '~audit_versions', CAST(3 AS BIGINT),
        |   CASE WHEN EXISTS (SELECT 1 FROM c
        |        WHERE c_custkey % 2 = 0 AND c_custkey % 97 = 0)
        |   THEN CAST(2 AS BIGINT) ELSE CAST(1 AS BIGINT) END)
        |SELECT which, n_rows, sum_bal_cents FROM seg
        |UNION ALL SELECT which, n_rows, sum_bal_cents FROM meta
        |ORDER BY which""".stripMargin,
    // wedges = one self-join of the capped adjacency on the center,
    // AA terms via the shared 20-step ilog2 recurrence, anti-join of
    // existing edges — all integer, one truncating division per score
    "q_link_prediction" ->
      s"""WITH e0 AS (
        | SELECT DISTINCT o.o_custkey AS a, l.l_suppkey + 1000000 AS b
        | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |sym AS (SELECT a, b FROM
        |        (SELECT a, b FROM e0 UNION SELECT b, a FROM e0)
        |        WHERE a != b),
        |d AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY a),
        |kept AS (SELECT s.a, s.b, d.deg FROM sym s JOIN d ON s.a = d.a
        |         WHERE d.deg <= 100),
        |w AS (SELECT x.b AS u, y.b AS v, x.deg
        |      FROM kept x JOIN kept y ON x.a = y.a AND x.b < y.b),
        |g AS (SELECT u, v, CAST(count(*) AS BIGINT) AS cn,
        |      CAST(sum(1048576000000 // ${ilogSql("deg")}) AS BIGINT) AS aa_e6
        |      FROM w GROUP BY u, v HAVING count(*) >= 2),
        |ne AS (SELECT g.* FROM g LEFT JOIN sym s
        |       ON g.u = s.a AND g.v = s.b WHERE s.a IS NULL)
        |SELECT ne.u, ne.v, ne.cn, du.deg AS deg_u, dv.deg AS deg_v,
        |  CAST(ne.cn * 1000000 // (du.deg + dv.deg - ne.cn) AS BIGINT)
        |    AS jaccard_e6,
        |  ne.aa_e6
        |FROM ne JOIN d du ON ne.u = du.a JOIN d dv ON ne.v = dv.a
        |ORDER BY u, v""".stripMargin,
    "q_graph_degrees" ->
      """WITH e AS (
        | SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
        | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |o AS (SELECT src AS node, count(*) AS out_deg FROM e GROUP BY src),
        |i AS (SELECT dst AS node, count(*) AS in_deg FROM e GROUP BY dst)
        |SELECT coalesce(o.node, i.node) AS node,
        | coalesce(o.out_deg, 0) AS out_deg,
        | coalesce(i.in_deg, 0) AS in_deg
        |FROM o FULL JOIN i ON o.node = i.node
        |ORDER BY node""".stripMargin,
    "q_dsir" -> dsirOracleSql,
    "q_drift_numeric" -> driftNumericOracleSql,
    "q_drift_categorical" -> driftCategoricalOracleSql,
    "q_drift_store" -> driftNumericOracleSql,
    // the one-shot histogram + integer percentile_disc rank scan; the
    // merged store must answer identically (the require in the query
    // pins bin-level equality, the oracle pins the quantile read)
    "q_quantile_store" ->
      """WITH h AS (
        | SELECT CAST(floor(least(199.0, greatest(0.0,
        |   (CAST(o_totalprice AS DOUBLE) - 0.0) * 200 / 600000.0)))
        |   AS INTEGER) AS bin
        | FROM orders WHERE o_totalprice IS NOT NULL),
        |c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY bin),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
        |cum AS (SELECT bin, n,
        |        CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cum FROM c),
        |q(q_e6) AS (VALUES (100000), (250000), (500000), (750000),
        |                   (900000), (990000), (1000000)),
        |sel AS (SELECT CAST(q.q_e6 AS BIGINT) AS q_e6, t.n_total,
        |        (CAST(q.q_e6 AS BIGINT) * t.n_total + 999999) // 1000000
        |          AS rk,
        |        c.bin, c.n, c.cum
        |        FROM q CROSS JOIN t JOIN cum c
        |        ON c.cum >= (CAST(q.q_e6 AS BIGINT) * t.n_total + 999999)
        |             // 1000000
        |        AND c.cum - c.n < (CAST(q.q_e6 AS BIGINT) * t.n_total
        |             + 999999) // 1000000)
        |SELECT q_e6, n_total, rk, CAST(bin AS BIGINT) AS bin,
        | (CAST(bin AS BIGINT) * 600000000000) // 200 AS edge_lo_e6,
        | ((CAST(bin AS BIGINT) + 1) * 600000000000) // 200 AS edge_hi_e6
        |FROM sel ORDER BY q_e6""".stripMargin,
    // the per-key composed consumer: per-language bounds from the
    // grouped histogram + rank scan, left-joined back, one clamp per
    // doc (DuckDB's least/greatest skip NULLs exactly like the
    // uncovered-group pass-through branch)
    "q_grouped_winsorize" ->
      """WITH h AS (
        | SELECT CAST(lang AS VARCHAR) AS k,
        |  CAST(floor(least(99.0, greatest(0.0,
        |    (CAST(n_chars AS DOUBLE) - 0.0) * 100 / 4000.0)))
        |    AS INTEGER) AS bin
        | FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |c AS (SELECT k, bin, CAST(count(*) AS BIGINT) AS n
        |      FROM h GROUP BY k, bin),
        |t AS (SELECT k, CAST(sum(n) AS BIGINT) AS n_total FROM c GROUP BY k),
        |cum AS (SELECT k, bin, n,
        |        CAST(sum(n) OVER (PARTITION BY k ORDER BY bin) AS BIGINT)
        |          AS cum FROM c),
        |q(q_e6) AS (VALUES (100000), (900000)),
        |sel AS (SELECT cum.k, CAST(q.q_e6 AS BIGINT) AS q_e6, cum.bin
        |        FROM q CROSS JOIN cum JOIN t ON t.k = cum.k
        |        WHERE cum.cum >= (CAST(q.q_e6 AS BIGINT) * t.n_total
        |             + 999999) // 1000000
        |        AND cum.cum - cum.n < (CAST(q.q_e6 AS BIGINT) * t.n_total
        |             + 999999) // 1000000),
        |b AS (SELECT k,
        |  min(CASE WHEN q_e6 = 100000
        |      THEN (CAST(bin AS BIGINT) * 4000000000) // 100 END) AS wlo,
        |  min(CASE WHEN q_e6 = 900000
        |      THEN ((CAST(bin AS BIGINT) + 1) * 4000000000) // 100 END) AS whi
        | FROM sel GROUP BY k)
        |SELECT d.doc_id, d.lang,
        | CAST(round(d.n_chars * 1000000) AS BIGINT) AS n_chars_e6,
        | least(greatest(CAST(round(d.n_chars * 1000000) AS BIGINT),
        |   b.wlo), b.whi) AS n_chars_winsor_e6,
        | CAST(round(d.n_chars * 1000000) AS BIGINT) !=
        |   least(greatest(CAST(round(d.n_chars * 1000000) AS BIGINT),
        |     b.wlo), b.whi) AS n_chars_clipped,
        | b.k IS NOT NULL AS calibrated
        |FROM documents d LEFT JOIN b ON CAST(d.lang AS VARCHAR) = b.k
        |ORDER BY d.doc_id""".stripMargin,
    // the composed consumer: clip bounds = pLow bin's lower / pHigh
    // bin's upper micro-edge from the replayed histogram + rank scan,
    // then one stateless clamp per order row
    "q_winsorize" ->
      """WITH h AS (
        | SELECT CAST(floor(least(199.0, greatest(0.0,
        |   (CAST(o_totalprice AS DOUBLE) - 0.0) * 200 / 600000.0)))
        |   AS INTEGER) AS bin
        | FROM orders WHERE o_totalprice IS NOT NULL),
        |c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY bin),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
        |cum AS (SELECT bin, n,
        |        CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cum FROM c),
        |q(q_e6) AS (VALUES (10000), (990000)),
        |sel AS (SELECT CAST(q.q_e6 AS BIGINT) AS q_e6, c.bin
        |        FROM q CROSS JOIN t JOIN cum c
        |        ON c.cum >= (CAST(q.q_e6 AS BIGINT) * t.n_total + 999999)
        |             // 1000000
        |        AND c.cum - c.n < (CAST(q.q_e6 AS BIGINT) * t.n_total
        |             + 999999) // 1000000),
        |b AS (SELECT
        |  (SELECT (CAST(bin AS BIGINT) * 600000000000) // 200
        |   FROM sel WHERE q_e6 = 10000) AS wlo,
        |  (SELECT ((CAST(bin AS BIGINT) + 1) * 600000000000) // 200
        |   FROM sel WHERE q_e6 = 990000) AS whi)
        |SELECT o.o_orderkey,
        | CAST(round(o.o_totalprice * 1000000) AS BIGINT) AS o_totalprice_e6,
        | least(greatest(CAST(round(o.o_totalprice * 1000000) AS BIGINT),
        |   b.wlo), b.whi) AS o_totalprice_winsor_e6,
        | CAST(round(o.o_totalprice * 1000000) AS BIGINT) !=
        |   least(greatest(CAST(round(o.o_totalprice * 1000000) AS BIGINT),
        |     b.wlo), b.whi) AS o_totalprice_clipped
        |FROM orders o CROSS JOIN b
        |ORDER BY o.o_orderkey""".stripMargin,
    // the coarsening route replayed: bin@200 then integer div 5 (direct
    // binning at 40 could diverge on float boundaries), rank scan at
    // the 40-bin micro-edges
    "q_quantile_coarse" ->
      """WITH h AS (
        | SELECT CAST(floor(least(199.0, greatest(0.0,
        |   (CAST(o_totalprice AS DOUBLE) - 0.0) * 200 / 600000.0)))
        |   AS INTEGER) // 5 AS bin
        | FROM orders WHERE o_totalprice IS NOT NULL),
        |c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY bin),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
        |cum AS (SELECT bin, n,
        |        CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cum FROM c),
        |q(q_e6) AS (VALUES (250000), (500000), (900000), (990000)),
        |sel AS (SELECT CAST(q.q_e6 AS BIGINT) AS q_e6, t.n_total,
        |        (CAST(q.q_e6 AS BIGINT) * t.n_total + 999999) // 1000000
        |          AS rk,
        |        c.bin, c.n, c.cum
        |        FROM q CROSS JOIN t JOIN cum c
        |        ON c.cum >= (CAST(q.q_e6 AS BIGINT) * t.n_total + 999999)
        |             // 1000000
        |        AND c.cum - c.n < (CAST(q.q_e6 AS BIGINT) * t.n_total
        |             + 999999) // 1000000)
        |SELECT q_e6, n_total, rk, CAST(bin AS BIGINT) AS bin,
        | (CAST(bin AS BIGINT) * 600000000000) // 40 AS edge_lo_e6,
        | ((CAST(bin AS BIGINT) + 1) * 600000000000) // 40 AS edge_hi_e6
        |FROM sel ORDER BY q_e6""".stripMargin,
    // the grouped form: per-language histogram + rank scan replayed
    // relationally (same clamp, same integer rank, same micro-edges)
    "q_grouped_quantile_store" ->
      """WITH h AS (
        | SELECT CAST(lang AS VARCHAR) AS k,
        |  CAST(floor(least(99.0, greatest(0.0,
        |    (CAST(n_chars AS DOUBLE) - 0.0) * 100 / 4000.0)))
        |    AS INTEGER) AS bin
        | FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |c AS (SELECT k, bin, CAST(count(*) AS BIGINT) AS n
        |      FROM h GROUP BY k, bin),
        |t AS (SELECT k, CAST(sum(n) AS BIGINT) AS n_total FROM c GROUP BY k),
        |cum AS (SELECT k, bin, n,
        |        CAST(sum(n) OVER (PARTITION BY k ORDER BY bin) AS BIGINT)
        |          AS cum FROM c),
        |q(q_e6) AS (VALUES (500000), (900000), (990000)),
        |sel AS (SELECT cum.k, CAST(q.q_e6 AS BIGINT) AS q_e6, t.n_total,
        |        (CAST(q.q_e6 AS BIGINT) * t.n_total + 999999) // 1000000
        |          AS rk,
        |        cum.bin, cum.n, cum.cum
        |        FROM q CROSS JOIN cum JOIN t ON t.k = cum.k
        |        WHERE cum.cum >= (CAST(q.q_e6 AS BIGINT) * t.n_total
        |             + 999999) // 1000000
        |        AND cum.cum - cum.n < (CAST(q.q_e6 AS BIGINT) * t.n_total
        |             + 999999) // 1000000)
        |SELECT k, q_e6, n_total, rk, CAST(bin AS BIGINT) AS bin,
        | (CAST(bin AS BIGINT) * 4000000000) // 100 AS edge_lo_e6,
        | ((CAST(bin AS BIGINT) + 1) * 4000000000) // 100 AS edge_hi_e6
        |FROM sel ORDER BY k, q_e6""".stripMargin,
    "q_weighted_sample" ->
      """WITH w AS (
        | SELECT doc_id AS id, CAST(greatest(0, n_chars) AS BIGINT) AS w
        | FROM documents WHERE n_chars > 0),
        |c AS (
        | SELECT id, w,
        |  CAST(coalesce(SUM(w) OVER (ORDER BY id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        | FROM w),
        |t AS (SELECT greatest(CAST(1 AS BIGINT),
        |        CAST(SUM(w) AS BIGINT) // 150) AS stride FROM w),
        |sel AS (
        | SELECT c.id, c.w, c.start,
        |  (c.start + c.w - 1 + t.stride) // t.stride
        |   - (c.start - 1 + t.stride) // t.stride AS n_hits
        | FROM c CROSS JOIN t)
        |SELECT id AS doc_id, w AS weight, start AS global_start, n_hits
        |FROM sel WHERE n_hits > 0 ORDER BY doc_id""".stripMargin,
    "q_k_anonymity" ->
      """WITH cls AS (
        | SELECT c_nationkey, c_mktsegment, count(*) AS cs
        | FROM customer GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_classes,
        | CAST(SUM(cs) AS BIGINT) AS n_records,
        | CAST(SUM(CASE WHEN cs < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_classes,
        | CAST(SUM(CASE WHEN cs < 5 THEN cs ELSE 0 END) AS BIGINT) AS n_risky_records,
        | CAST(MIN(cs) AS BIGINT) AS achieved_k
        |FROM cls""".stripMargin,
    // the homogeneity-attack screen: distinct sensitive-bucket counts
    // per quasi class; the +100000 shift keeps the bucket dividend
    // non-negative so trunc/floor division cannot diverge
    "q_l_diversity" ->
      """WITH c AS (
        | SELECT c_nationkey, c_mktsegment,
        |  (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000
        |    AS bal_bucket
        | FROM customer)
        |SELECT c_nationkey, c_mktsegment,
        | CAST(count(*) AS BIGINT) AS class_size,
        | CAST(count(DISTINCT bal_bucket) AS BIGINT) AS l_distinct,
        | count(DISTINCT bal_bucket) < 3 AS risky
        |FROM c GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "q_quota_cap" ->
      """SELECT doc_id, source, n_chars FROM (
        | SELECT doc_id, source, n_chars,
        |  row_number() OVER (PARTITION BY source
        |                     ORDER BY n_chars DESC, doc_id) AS rn
        | FROM documents) WHERE rn <= 10
        |ORDER BY doc_id""".stripMargin,
    "q_rolling_anomaly" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |w AS (SELECT event_id, user_id, us, vc,
        |  CAST(count(vc) OVER win AS BIGINT) AS n_prev,
        |  CAST(sum(vc) OVER win AS BIGINT) AS s,
        |  CAST(sum(vc * vc) OVER win AS BIGINT) AS s2
        | FROM e WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
        |                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, us, vc AS value_cents, n_prev,
        | coalesce(n_prev >= 8 AND
        |  (n_prev * vc - s) * (n_prev * vc - s) >
        |   9 * (n_prev * s2 - s * s), FALSE) AS anomaly
        |FROM w ORDER BY event_id""".stripMargin,
    "q_bloom_join" ->
      """SELECT l_orderkey,
        | CAST(count(*) AS BIGINT) AS n_items,
        | CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_qty_cents
        |FROM lineitem
        |JOIN (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000.0) o
        |  ON l_orderkey = o_orderkey
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q_token_budget" ->
      """WITH d AS (
        | SELECT source AS stratum, doc_id AS id,
        |  greatest(0, n_chars) AS n_tokens,
        |  CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 12))
        |    AS BIGINT) AS key
        | FROM documents WHERE source IS NOT NULL),
        |c AS (
        | SELECT stratum, id, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY stratum
        |    ORDER BY key, id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS BIGINT) AS tokens_before
        | FROM d)
        |SELECT stratum, id, n_tokens, tokens_before FROM c
        |WHERE tokens_before < 4000
        |  AND stratum NOT IN ('src18', 'src19')
        |ORDER BY stratum, id""".stripMargin,
    "q_grouped_quantiles" ->
      """WITH b AS (SELECT o_orderpriority AS grp, o_totalprice AS v
        |           FROM orders WHERE o_totalprice IS NOT NULL),
        |r AS (SELECT grp, v,
        |  row_number() OVER (PARTITION BY grp ORDER BY v) AS rk,
        |  count(*) OVER (PARTITION BY grp) AS n FROM b),
        |q AS (SELECT unnest([500000, 900000, 990000]) AS q_e6)
        |SELECT grp, CAST(q.q_e6 AS BIGINT) AS q_e6, v AS value
        |FROM r, q
        |WHERE rk = (q.q_e6 * n + 999999) // 1000000
        |ORDER BY grp, q_e6""".stripMargin,
    "q_quota_incremental" ->
      """SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score FROM (
        | SELECT doc_id, source, n_chars,
        |  row_number() OVER (PARTITION BY source
        |                     ORDER BY n_chars DESC, doc_id) AS rn
        | FROM documents) WHERE rn <= 10
        |ORDER BY doc_id""".stripMargin,
    "q_unpivot" ->
      """SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey, 'o_key_x2', CAST(o_orderkey * 2.0 AS DOUBLE)
        |FROM orders
        |ORDER BY o_orderkey, metric""".stripMargin,
    "q_schema_evolution" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN o_custkey END)
        |   AS BIGINT) AS n_evolved,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_price_cents,
        | CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN o_custkey END)
        |   AS BIGINT) AS sum_custkey,
        | TRUE AS retype_refused
        |FROM orders""".stripMargin,
    "q_embedding_incremental" ->
      """WITH clones AS (
        |  SELECT 2000000 + vec_id AS vec_id,
        |    embedding[1:(vec_id % 64)] || [CAST(0 AS FLOAT)]
        |      || embedding[(vec_id % 64 + 2):] AS embedding
        |  FROM embeddings WHERE vec_id < 16),
        |aug AS (SELECT vec_id, embedding FROM embeddings
        |        UNION ALL SELECT vec_id, embedding FROM clones),
        |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS cosine
        |  FROM aug a, clones b WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, true AS found_incremental FROM pairs
        |WHERE cosine >= 0.7 ORDER BY id_a, id_b""".stripMargin,
    "q_simhash_incremental" ->
      """SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b,
        | true AS found_incremental
        |FROM documents
        |WHERE doc_id % 25 = 0 AND n_chars >= 100
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_kcore" -> kCoreOracleSql,
    "q_quantile_filter" ->
      """WITH r AS (SELECT lang, n_chars,
        |  row_number() OVER (PARTITION BY lang ORDER BY CAST(n_chars AS DOUBLE)) AS rk,
        |  count(*) OVER (PARTITION BY lang) AS n
        | FROM documents WHERE n_chars IS NOT NULL),
        |cut AS (SELECT lang, CAST(n_chars AS DOUBLE) AS c FROM r
        |        WHERE rk = (700000 * n + 999999) // 1000000)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN cut ON d.lang = cut.lang
        |WHERE CAST(d.n_chars AS DOUBLE) >= cut.c
        |ORDER BY d.doc_id""".stripMargin
  )

  /** Shared tail of the two drift oracles: from a `j(key, n_a, n_b)`
    * CTE (smoothed per-bin counts), totals as BIGINT scalars, then the
    * PSI₂ term with [[ilogSql]] fixed-point logs and one truncating
    * HUGEINT division — the Spark side's decimal `div` on the same
    * non-negative integers.
    */
  private def driftPsiSelect(keyCol: String): String =
    s"""t AS (SELECT j.*,
       |  CAST((SELECT SUM(n_a) FROM j) AS BIGINT) AS na,
       |  CAST((SELECT SUM(n_b) FROM j) AS BIGINT) AS nb FROM j)
       |SELECT $keyCol, n_a, n_b,
       | CAST((CAST(n_a * nb - n_b * na AS HUGEINT) *
       |   (${ilogSql("(n_a * nb)")} - ${ilogSql("(n_b * na)")}) * 1000000000)
       |  // (CAST(na AS HUGEINT) * nb * 1048576) AS BIGINT) AS psi2_e9
       |FROM t ORDER BY $keyCol""".stripMargin

  private val driftNumericOracleSql: String =
    s"""WITH a0 AS (
       | SELECT CAST(floor(least(9.0, greatest(0.0,
       |   (CAST(o_totalprice AS DOUBLE) - 0.0) * 10 / 600000.0))) AS INTEGER) AS bin
       | FROM orders WHERE o_orderstatus = 'F' AND o_totalprice IS NOT NULL),
       |b0 AS (
       | SELECT CAST(floor(least(9.0, greatest(0.0,
       |   (CAST(o_totalprice AS DOUBLE) - 0.0) * 10 / 600000.0))) AS INTEGER) AS bin
       | FROM orders WHERE o_orderstatus = 'O' AND o_totalprice IS NOT NULL),
       |ca AS (SELECT bin, count(*) AS c FROM a0 GROUP BY bin),
       |cb AS (SELECT bin, count(*) AS c FROM b0 GROUP BY bin),
       |j AS (
       | SELECT g.bin, coalesce(ca.c, 0) + 1 AS n_a, coalesce(cb.c, 0) + 1 AS n_b
       | FROM generate_series(0, 9) AS g(bin)
       | LEFT JOIN ca ON ca.bin = g.bin LEFT JOIN cb ON cb.bin = g.bin),
       |${driftPsiSelect("bin")}""".stripMargin

  private val driftCategoricalOracleSql: String =
    s"""WITH ca AS (
       | SELECT CAST(o_orderpriority AS VARCHAR) AS value, count(*) AS c
       | FROM orders WHERE o_orderstatus = 'F' AND o_orderpriority IS NOT NULL
       | GROUP BY 1),
       |cb AS (
       | SELECT CAST(o_orderpriority AS VARCHAR) AS value, count(*) AS c
       | FROM orders WHERE o_orderstatus = 'O' AND o_orderpriority IS NOT NULL
       | GROUP BY 1),
       |j AS (
       | SELECT coalesce(ca.value, cb.value) AS value,
       |  coalesce(ca.c, 0) + 1 AS n_a, coalesce(cb.c, 0) + 1 AS n_b
       | FROM ca FULL JOIN cb ON ca.value = cb.value),
       |${driftPsiSelect("value")}""".stripMargin

  /** The 20-step [[graft.functions.Kernels.ilog2Fp]] square-and-
    * normalize recurrence as a DuckDB expression over a BIGINT operand
    * `v` (≥ 1): exponent from the bin-string length (the classifier
    * oracle's floor-log2 trick), mantissa normalized into Q30, then 20
    * squarings via list_reduce with the prepend-the-init SCALAR
    * accumulator pattern — (mantissa, result) packed into one BIGINT
    * (mantissa · 2^27 | acc; mantissa < 2^31, acc < 2^27, packed < 2^58,
    * squares < 2^62 — nothing overflows). A struct-typed accumulator
    * would be the natural shape, but DuckDB's struct list_reduce
    * mis-evaluates under vectorized execution (observed nondeterminism);
    * the scalar form is the same proven pattern the classifier oracle
    * uses. Every op integer, so the fixed-point log matches the Scala
    * kernel bit-for-bit.
    */
  /** One Dunning-LLR 2×2 term replay: k·(ilog2(k·N) − ilog2(R·C)),
    * zero cells contribute 0 — mirrors [[operators.Stats.llrU20]]'s
    * term; the caller sums four of these and doubles.
    */
  private def llrTermSql(k: String, r: String, c: String, n: String): String =
    s"(CASE WHEN $k = 0 THEN 0 ELSE $k * (${ilogSql(s"($k * $n)")} - " +
      s"${ilogSql(s"(($r) * ($c))")}) END)"

  /** Full llr_u20 replay from (k11, R1, C1, N) of a proper table. */
  private def llrSql(k11: String, r1: String, c1: String, n: String): String =
    s"""CAST(2 * (${llrTermSql(k11, r1, c1, n)}
       | + ${llrTermSql(s"(($r1) - $k11)", r1, s"(($n) - ($c1))", n)}
       | + ${llrTermSql(s"(($c1) - $k11)", s"(($n) - ($r1))", c1, n)}
       | + ${llrTermSql(s"(($n) - ($r1) - ($c1) + $k11)",
              s"(($n) - ($r1))", s"(($n) - ($c1))", n)}) AS BIGINT)""".stripMargin

  private def ilogSql(v: String): String = {
    val e = s"(length(bin($v)) - 1)"
    val x0 = s"(CASE WHEN $e <= 30 THEN $v << (30 - $e) ELSE $v >> ($e - 30) END)"
    // within the lambda: mantissa = a >> 27, acc = a & (2^27 - 1);
    // nx = (mantissa^2) >> 30, appears inline (no struct, no nesting)
    val nx = "(((a >> 27) * (a >> 27)) >> 30)"
    s"""(list_reduce(list_prepend(
       |  ($x0 << 27) | (CAST($e AS BIGINT) * 1048576),
       |  list_transform(generate_series(1, 20), j -> CAST(j AS BIGINT))),
       |  (a, j) -> CASE WHEN $nx >= 2147483648
       |    THEN (($nx >> 1) << 27) | ((a & 134217727) | (CAST(1 AS BIGINT) << CAST(20 - j AS INTEGER)))
       |    ELSE ($nx << 27) | (a & 134217727)
       |  END) & 134217727)""".stripMargin
  }

  /** DuckDB replay of the whole DSIR pipeline
    * ([[operators.TextAnalysis.trainDsir]] + `dsirSelect`): the
    * classifier oracle's gram walk WITHOUT distinct (bag counts) and
    * without structural grams, bucket counts for target (lang = 'en')
    * and raw corpora over the full 4096-bucket space, the 20-step
    * integer log2 recurrence per count ([[ilogSql]]), integer weights,
    * integer per-doc sums, and the (score desc, doc_id) top-200 — every
    * stage bit-identical to the Spark kernels.
    */
  private val dsirOracleSql: String = {
    val d = 4096
    s"""WITH base0 AS (
       | SELECT doc_id, lang, string_split(trim(text), ' ') AS w
       | FROM documents WHERE text IS NOT NULL),
       |gram AS (
       | SELECT doc_id, lang, unnest(w) AS g FROM base0
       | UNION ALL
       | SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(w) - 1),
       |   i -> concat(w[i], ' ', w[i+1]))) AS g
       | FROM base0 WHERE len(w) >= 2),
       |feat AS MATERIALIZED (
       | SELECT doc_id, lang,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series(1, length(g)),
       |      i -> CAST(unicode(substring(g, i, 1)) AS BIGINT))),
       |    (a, c) -> (a * 31 + c) % 1000003) % $d AS bucket
       | FROM gram),
       |ctab AS (SELECT bucket, count(*) AS c FROM feat WHERE lang = 'en' GROUP BY bucket),
       |rtab AS (SELECT bucket, count(*) AS c FROM feat GROUP BY bucket),
       |nn AS (SELECT CAST((SELECT coalesce(sum(c), 0) FROM ctab) AS BIGINT) AS nt,
       |              CAST((SELECT coalesce(sum(c), 0) FROM rtab) AS BIGINT) AS nr),
       |wtab AS MATERIALIZED (
       | SELECT b.bucket, ${ilogSql("b.ct")} - ${ilogSql("b.cr")} AS w
       | FROM (
       |   SELECT a.bucket,
       |    coalesce(c1.c, 0) + 1 AS ct, coalesce(c2.c, 0) + 1 AS cr
       |   FROM generate_series(0, ${d - 1}) AS a(bucket)
       |   LEFT JOIN ctab c1 ON c1.bucket = a.bucket
       |   LEFT JOIN rtab c2 ON c2.bucket = a.bucket) b),
       |pg AS (SELECT ${ilogSql(s"(nn.nr + $d)")} - ${ilogSql(s"(nn.nt + $d)")}
       |       AS pergram FROM nn)
       |SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       | CAST(SUM(w.w) AS BIGINT) + CAST(count(*) AS BIGINT) * pg.pergram
       |   AS dsir_score
       |FROM feat f JOIN wtab w ON w.bucket = f.bucket CROSS JOIN pg
       |GROUP BY f.doc_id, pg.pergram
       |ORDER BY dsir_score DESC, doc_id LIMIT 200""".stripMargin
  }

  /** DuckDB replay of [[operators.Graph.pageRank]] on the symmetrized
    * customer↔supplier trade graph: the 8 fixed-point iterations
    * UNROLLED as CTEs (the 64-CTE classifier-oracle pattern). Same
    * integer semantics as the Spark side — truncating `//` per-edge
    * shares, rational 85/100 damping multiply-then-divide, bigint sums —
    * so every rank matches bit-for-bit. SUM promotes to HUGEINT in
    * DuckDB; cast back to BIGINT before the damping multiply (values are
    * bounded by N·scale ≈ 2.6e13 at sf0.1, far inside both ranges).
    */
  private def pagerankSqlBuilder(seedSql: Option[String]): String = {
    val iters = 8; val scale = 1000000000L
    val dampNum = 85L; val dampDen = 100L
    val base = (dampDen - dampNum) * scale / dampDen
    // per-node teleport base: constant for the global form; for the
    // personalized form, N·base/|S| (one floor division) on seeds only
    val (seedCtes, nodesCte) = seedSql match {
      case None => ("", // global: nodes from edges only
        s"""nodes AS MATERIALIZED (
           | SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
           |bases AS (SELECT node, CAST($base AS BIGINT) AS b FROM nodes)""".stripMargin)
      case Some(sql) => (s"seeds AS MATERIALIZED ($sql),\n",
        s"""nodes AS MATERIALIZED (
           | SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
           | UNION SELECT node FROM seeds),
           |consts AS (SELECT (SELECT count(*) FROM nodes) AS n,
           |                  (SELECT count(*) FROM seeds) AS ns),
           |bases AS (
           | SELECT n.node,
           |  CASE WHEN s.node IS NOT NULL
           |   THEN (CAST(${dampDen - dampNum} AS BIGINT) * $scale * c.n) // (c.ns * $dampDen)
           |   ELSE CAST(0 AS BIGINT) END AS b
           | FROM nodes n LEFT JOIN seeds s ON s.node = n.node
           | CROSS JOIN consts c)""".stripMargin)
    }
    val iterCtes = (1 to iters).map { k =>
      val prev = s"r${k - 1}"
      s"""r$k AS MATERIALIZED (
         | SELECT n.node, CAST(n.b + ($dampNum *
         |   CAST(coalesce(s.s, 0) AS BIGINT)) // $dampDen AS BIGINT) AS rank_fp
         | FROM bases n LEFT JOIN (
         |   SELECT ed.dst AS node, SUM(p.rank_fp // ed.outdeg) AS s
         |   FROM edeg ed JOIN $prev p ON p.node = ed.src
         |   GROUP BY ed.dst) s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |e0 AS (
       | SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
       | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |edges AS MATERIALIZED (
       | SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |edeg AS MATERIALIZED (
       | SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON d.src = e.src),
       |$seedCtes$nodesCte,
       |r0 AS (SELECT node, CAST($scale AS BIGINT) AS rank_fp FROM nodes),
       |$iterCtes
       |SELECT node, rank_fp FROM r$iters ORDER BY node""".stripMargin
  }

  private val pagerankOracleSql: String = pagerankSqlBuilder(None)

  /** DuckDB replay of [[operators.Graph.labelPropagation]]: 4 synchronous
    * rounds unrolled — per round, in-neighbor label counts, max count per
    * node, min label among the maxima, left-joined back to the node list
    * (no-in-edge nodes keep their id, matching the Spark fallback).
    */
  private val labelPropagationOracleSql: String = {
    val iters = 4
    val rounds = (1 to iters).map { k =>
      val prev = s"l${k - 1}"
      s"""v$k AS MATERIALIZED (
         | SELECT e.dst AS node, p.label, count(*) AS c
         | FROM edges e JOIN $prev p ON p.node = e.src
         | GROUP BY e.dst, p.label),
         |m$k AS (SELECT node, max(c) AS mc FROM v$k GROUP BY node),
         |w$k AS (SELECT v.node, min(v.label) AS lab
         |        FROM v$k v JOIN m$k m ON m.node = v.node AND v.c = m.mc
         |        GROUP BY v.node),
         |l$k AS MATERIALIZED (
         | SELECT n.node, coalesce(w.lab, n.node) AS label
         | FROM nodes n LEFT JOIN w$k w ON w.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |e0 AS (
       | SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
       | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |edges AS MATERIALIZED (
       | SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |nodes AS MATERIALIZED (
       | SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
       |l0 AS (SELECT node, node AS label FROM nodes),
       |$rounds
       |SELECT node, label FROM l$iters ORDER BY node""".stripMargin
  }

  /** DuckDB replay of [[operators.TextAnalysis.charEntropy]]: the
    * classifier oracle's per-code-point walk (unicode(substring)), counts
    * per (doc, code point), then ent_num = Σ c·(ilog2(n) − ilog2(c)) with
    * the same 20-step fixed-point log and one truncating division —
    * entropy and the low-entropy flag bit-exact.
    */
  /** DuckDB replay of [[operators.TextAnalysis.cdcChunkDocs]] at
    * minLen = 1 / unbounded maxLen: the non-resetting Gear hash has the
    * closed form h_i = Σ_{k=0..39} g_{i−k}·2^k mod 2^40, so every
    * position's hash is a 40-term windowed sum (per-term
    * (g mod 2^{40−k})·2^k keeps everything under 2^63 — exact, no
    * HUGEINT needed); cut positions are the mask-zero hashes, segments
    * come from a lag window over the cut set, and each chunk substring
    * md5s to the kernel's dedup key.
    */
  /** DuckDB replay of [[operators.Graph.pageRankWeighted]] over the
    * lineitem-count-weighted trade graph: 8 rounds unrolled, each a
    * per-edge HUGEINT floor-division share sum + the damped base —
    * every rank bit-exact. All CTEs MATERIALIZED (the hits lesson).
    */
  private val pagerankWeightedOracleSql: String = {
    val head =
      """WITH e AS MATERIALIZED (
        | SELECT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst,
        |  CAST(count(*) AS BIGINT) AS w
        | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        | GROUP BY 1, 2),
        |ws AS MATERIALIZED (
        | SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM e GROUP BY src),
        |ew AS MATERIALIZED (
        | SELECT e.src, e.dst, e.w, ws.wsum FROM e JOIN ws USING (src)),
        |nodes AS MATERIALIZED (
        | SELECT src AS node FROM e UNION SELECT dst FROM e),
        |r0 AS MATERIALIZED (
        | SELECT node, CAST(1000000000 AS BIGINT) AS v FROM nodes)""".stripMargin
    val rounds = (1 to 8).map { i =>
      s""",
         |c$i AS MATERIALIZED (
         | SELECT ew.dst AS node,
         |  CAST(SUM((CAST(p.v AS HUGEINT) * ew.w) // ew.wsum) AS BIGINT) AS s
         | FROM ew JOIN r${i - 1} p ON p.node = ew.src GROUP BY ew.dst),
         |r$i AS MATERIALIZED (
         | SELECT n.node,
         |  CAST(150000000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS v
         | FROM nodes n LEFT JOIN c$i c ON c.node = n.node)""".stripMargin
    }.mkString
    val tail =
      """
        |SELECT node, v AS rank_fp FROM r8 ORDER BY node""".stripMargin
    head + rounds + tail
  }

  /** DuckDB replay of [[operators.Graph.hits]] over the directed trade
    * graph: 8 rounds UNROLLED (the pageRank/classifier pattern), each
    * phase an edge join + integer SUM + one HUGEINT floor-division
    * sup-norm — every authority and hub score bit-exact.
    */
  private val hitsOracleSql: String = {
    val head =
      """WITH e AS MATERIALIZED (
        | SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
        | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |h0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS v FROM nodes)""".stripMargin
    val rounds = (1 to 8).map { i =>
      s""",
         |a${i}r AS MATERIALIZED (
         | SELECT e.dst AS node, CAST(SUM(p.v) AS BIGINT) AS s
         | FROM e JOIN h${i - 1} p ON p.node = e.src GROUP BY e.dst),
         |a$i AS MATERIALIZED (
         | SELECT node, CAST((CAST(s AS HUGEINT) * 1000000)
         |   // (SELECT MAX(s) FROM a${i}r) AS BIGINT) AS v FROM a${i}r),
         |h${i}r AS MATERIALIZED (
         | SELECT e.src AS node, CAST(SUM(p.v) AS BIGINT) AS s
         | FROM e JOIN a$i p ON p.node = e.dst GROUP BY e.src),
         |h$i AS MATERIALIZED (
         | SELECT node, CAST((CAST(s AS HUGEINT) * 1000000)
         |   // (SELECT MAX(s) FROM h${i}r) AS BIGINT) AS v FROM h${i}r)""".stripMargin
    }.mkString
    val tail =
      """
        |SELECT n.node, coalesce(a8.v, 0) AS authority_e6,
        | coalesce(h8.v, 0) AS hub_e6
        |FROM nodes n LEFT JOIN a8 ON a8.node = n.node
        |LEFT JOIN h8 ON h8.node = n.node
        |ORDER BY n.node""".stripMargin
    head + rounds + tail
  }

  /** DuckDB replay of [[operators.Graph.shortestPaths]] on the weighted
    * symmetric trade graph: the 6 Bellman-Ford relaxation rounds
    * unrolled as CTEs — per round, MIN over (previous dist ∪ in-edge
    * source dist + w) per node — bigint throughout, so every distance
    * matches bit-for-bit (the fixed-horizon contract makes the round
    * count part of the semantics).
    */
  private val shortestPathsOracleSql: String = {
    val iters = 6
    val rounds = (1 to iters).map { k =>
      val prev = s"d${k - 1}"
      s"""d$k AS MATERIALIZED (
         | SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
         |  SELECT node, dist FROM $prev
         |  UNION ALL
         |  SELECT e.dst AS node, p.dist + e.w AS dist
         |  FROM em e JOIN $prev p ON p.node = e.src) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |e0 AS (
       | SELECT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst,
       |        CAST(count(*) AS BIGINT) AS w
       | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       | GROUP BY 1, 2),
       |es AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst, src, w FROM e0),
       |em AS MATERIALIZED (SELECT src, dst, MIN(w) AS w FROM es GROUP BY 1, 2),
       |d0 AS (SELECT DISTINCT c_custkey AS node, CAST(0 AS BIGINT) AS dist
       |       FROM customer WHERE c_nationkey = 1),
       |$rounds
       |SELECT node, dist FROM d$iters ORDER BY node""".stripMargin
  }

  /** DuckDB replay of [[operators.Bpe.trainDistributed]]: all 16 merge
    * rounds unrolled as CTEs — per round, pair counts over every word's
    * adjacent symbols (lateral generate_series walk), argmax with the
    * (count DESC, left, right) tie-break, then the greedy left-to-right
    * merge as a `list_reduce` string fold (the accumulator's last token
    * is `regexp_extract(acc, '([^ ]*)$')` in both engines). Chosen
    * pairs AND counts match bit-for-bit.
    */
  /** The shared w0..wN + b1..bN CTE chain (each w_k carries the RAW word
    * so [[bpeEncodeOracleSql]] can join documents back to their final
    * segmentations; `raw` is a bijection of the spaced form, so carrying
    * it cannot change training).
    */
  private def bpeRoundsCte(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      val p = k - 1
      s"""p$k AS (SELECT s[i] AS l, s[i+1] AS r, CAST(sum(f) AS BIGINT) AS c
         |  FROM (SELECT string_split(w, ' ') AS s, f FROM w$p) t,
         |       unnest(generate_series(1, len(s) - 1)) AS g(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT l, r, c FROM p$k
         |  ORDER BY c DESC, l ASC, r ASC LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT t.raw, list_reduce(string_split(t.w, ' '), (acc, x) -> CASE
         |    WHEN regexp_extract(acc, '([^ ]*)$$') = b.l AND x = b.r
         |    THEN substr(acc, 1, length(acc) - length(regexp_extract(acc, '([^ ]*)$$'))) ||
         |      b.l || b.r
         |    ELSE acc || ' ' || x END) AS w, t.f
         |  FROM w$p t CROSS JOIN b$k b)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       | SELECT raw, array_to_string(regexp_split_to_array(raw, ''), ' ') AS w,
       |        CAST(count(*) AS BIGINT) AS f
       | FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS raw
       |       FROM documents)
       | GROUP BY 1),
       |$rounds""".stripMargin
  }

  /** DuckDB replay of [[operators.Bpe.trainOnTexts]] (the DRIVER-side
    * trainer behind q_token_bpe) — unlike [[bpeRoundsCte]]'s
    * distributed contract this one keeps the driver trainer's exact
    * semantics: words are raw \\s+ tokens (case and punctuation kept),
    * symbols are per-character codepoint IDs carried as space-joined
    * ID strings, the argmax tie-breaks on the packed l·2³²+r key, and
    * round k's merged symbol is the fresh ID 0x110000+k−1 (which can
    * never equal a pre-existing left symbol, so the greedy
    * left-to-right fold replays the trainer's skip-2 scan exactly).
    */
  private def bpeDriverRoundsCte(iters: Int, docWhere: String): String = {
    val rounds = (1 to iters).map { k =>
      val p = k - 1
      val newId = 1114112 + k - 1
      s"""p$k AS (SELECT CAST(s[i] AS BIGINT) AS l, CAST(s[i+1] AS BIGINT) AS r,
         |  CAST(sum(f) AS BIGINT) AS c
         |  FROM (SELECT string_split(s, ' ') AS s, f FROM v$p) t,
         |       unnest(generate_series(1, len(s) - 1)) AS g(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT l, r, c FROM p$k
         |  ORDER BY c DESC, l * 4294967296 + r ASC LIMIT 1),
         |v$k AS MATERIALIZED (
         |  SELECT list_reduce(string_split(t.s, ' '), (acc, x) -> CASE
         |    WHEN regexp_extract(acc, '([^ ]*)$$') = CAST(b.l AS VARCHAR)
         |         AND x = CAST(b.r AS VARCHAR)
         |    THEN substr(acc, 1, length(acc) -
         |           length(regexp_extract(acc, '([^ ]*)$$'))) || '$newId'
         |    ELSE acc || ' ' || x END) AS s, t.f
         |  FROM v$p t CROSS JOIN b$k b)""".stripMargin
    }.mkString(",\n")
    s"""vw AS (SELECT w, CAST(count(*) AS BIGINT) AS f
       | FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w
       |       FROM documents WHERE $docWhere)
       | WHERE w != '' GROUP BY w),
       |v0 AS MATERIALIZED (
       | SELECT array_to_string(list_transform(
       |   generate_series(1, length(w)),
       |   i -> CAST(unicode(substring(w, i, 1)) AS VARCHAR)), ' ') AS s, f
       | FROM vw),
       |$rounds""".stripMargin
  }

  private val bpeDriverTrainOracleSql: String = {
    val iters = 12
    val union = (1 to iters).map { k =>
      s"SELECT $k AS merge_rank, l AS l_id, r AS r_id FROM b$k"
    }.mkString("\nUNION ALL\n")
    s"""WITH
       |${bpeDriverRoundsCte(iters, "doc_id < 400 AND text IS NOT NULL")}
       |SELECT CAST(merge_rank AS BIGINT) AS merge_rank, l_id, r_id
       |FROM ($union) ORDER BY merge_rank""".stripMargin
  }

  private val bpeTrainOracleSql: String = {
    val iters = 16
    val union = (1 to iters).map { k =>
      s"SELECT $k AS merge_rank, l AS lsym, r AS rsym, c AS pair_count FROM b$k"
    }.mkString("\nUNION ALL\n")
    s"""WITH
       |${bpeRoundsCte(iters)}
       |SELECT CAST(merge_rank AS BIGINT) AS merge_rank, lsym, rsym, pair_count
       |FROM ($union) ORDER BY merge_rank""".stripMargin
  }

  /** DuckDB replay of [[operators.Bpe.encodeCorpus]] under the 16 merges
    * [[bpeTrainOracleSql]] trains: every document's words join the final
    * w16 segmentation table, token count = segment count summed per doc
    * (0,0 for wordless docs) — the full train→encode pipeline replayed
    * end-to-end in one statement.
    */
  private val bpeEncodeOracleSql: String =
    s"""WITH
       |${bpeRoundsCte(16)},
       |docw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS raw
       |         FROM documents),
       |tok AS (SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |               CAST(sum(len(string_split(s.w, ' '))) AS BIGINT) AS n_tokens
       |        FROM docw d JOIN w16 s ON s.raw = d.raw GROUP BY 1)
       |SELECT doc.doc_id, coalesce(t.n_words, 0) AS n_words,
       |       coalesce(t.n_tokens, 0) AS n_tokens
       |FROM documents doc LEFT JOIN tok t ON t.doc_id = doc.doc_id
       |ORDER BY doc.doc_id""".stripMargin

  /** The per-shard recursive next-fit fold shared by the three packing
    * oracles (q_pack_bins / q_pack_incremental via [[packBinsOracle]],
    * q_pack_sequences) — one CTE text, like [[cdcSegsCte]].
    */
  private val packFoldCte: String =
    """WITH RECURSIVE docs AS (
      | SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(CASE WHEN text IS NULL THEN 0
      |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
      |    AS n_tokens,
      |  CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
      |    AS BIGINT) % 8 AS shard
      | FROM documents),
      |ranked AS (SELECT doc_id, n_tokens, shard,
      |  row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rk
      | FROM docs),
      |state AS (
      | SELECT shard, CAST(0 AS BIGINT) AS rk, CAST(-1 AS BIGINT) AS bin,
      |   CAST(NULL AS BIGINT) AS fill, CAST(NULL AS BIGINT) AS doc_id,
      |   CAST(NULL AS BIGINT) AS n_tokens
      | FROM (SELECT DISTINCT shard FROM ranked)
      | UNION ALL
      | SELECT r.shard, r.rk,
      |  CASE WHEN s.fill IS NULL OR s.fill + r.n_tokens > 90
      |       THEN s.bin + 1 ELSE s.bin END,
      |  CASE WHEN s.fill IS NULL OR s.fill + r.n_tokens > 90
      |       THEN r.n_tokens ELSE s.fill + r.n_tokens END,
      |  r.doc_id, r.n_tokens
      | FROM state s JOIN ranked r ON r.shard = s.shard AND r.rk = s.rk + 1)""".stripMargin

  private def packBinsOracle(finalWhere: String): String = packFoldCte +
    s"""
      |SELECT doc_id, n_tokens, shard, bin, fill AS bin_fill,
      | n_tokens > 90 AS oversize
      |FROM state WHERE rk > 0$finalWhere ORDER BY doc_id""".stripMargin

  private val packSequencesOracleSql: String = packFoldCte +
    """,
      |asg AS (SELECT doc_id, n_tokens, shard, bin FROM state WHERE rk > 0)
      |SELECT a.shard, a.bin, CAST(count(*) AS BIGINT) AS n_docs,
      | CAST(sum(a.n_tokens) AS BIGINT) AS n_tokens,
      | max(a.n_tokens > 90) AS oversize,
      | string_agg(coalesce(d.text, ''), ' ' ORDER BY a.doc_id) AS seq_text
      |FROM asg a JOIN documents d ON d.doc_id = a.doc_id
      |GROUP BY a.shard, a.bin ORDER BY a.shard, a.bin""".stripMargin

  /** Market-basket support/confidences/lift over lineitem order
    * baskets — serves both q_association (one-shot) and
    * q_association_store (the mergeable store must reproduce it
    * exactly).
    */
  private val associationOracleSql: String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
      |           FROM lineitem
      |           WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      |sz AS (SELECT bk FROM (SELECT bk, count(*) AS c FROM b GROUP BY bk)
      |       WHERE c <= 64),
      |bf AS (SELECT b.bk, b.it FROM b JOIN sz USING (bk)),
      |n AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_baskets FROM bf),
      |ic AS (SELECT it, CAST(count(*) AS BIGINT) AS cnt FROM bf GROUP BY it),
      |p AS (SELECT a.it AS item_a, c.it AS item_b,
      |       CAST(count(*) AS BIGINT) AS pair_count
      |      FROM bf a JOIN bf c ON a.bk = c.bk AND a.it < c.it
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |cells AS (SELECT item_a, item_b, pair_count,
      |  ca.cnt AS count_a, cb.cnt AS count_b, n.n_baskets
      | FROM p JOIN ic ca ON ca.it = p.item_a
      |        JOIN ic cb ON cb.it = p.item_b CROSS JOIN n)
      |SELECT item_a, item_b, pair_count, count_a, count_b, n_baskets,
      | pair_count * 1000000 // count_a AS conf_ab_e6,
      | pair_count * 1000000 // count_b AS conf_ba_e6,
      | CAST((CAST(pair_count AS HUGEINT) * n_baskets * 1000000)
      |   // (CAST(count_a AS HUGEINT) * count_b) AS BIGINT) AS lift_e6,
      | ${llrSql("pair_count", "count_a", "count_b", "n_baskets")} AS llr_u20
      |FROM cells
      |ORDER BY pair_count DESC, item_a, item_b LIMIT 100""".stripMargin

  private val cdcSegsCte: String =
    """WITH base AS (
      | SELECT doc_id, text, length(text) AS n
      | FROM documents WHERE text IS NOT NULL AND length(text) > 0),
      |chars AS MATERIALIZED (
      | SELECT doc_id, i, unicode(substring(text, i, 1)) AS cp
      | FROM (SELECT doc_id, text, unnest(generate_series(1, n)) AS i FROM base)),
      |g AS MATERIALIZED (
      | SELECT doc_id, i,
      |  (CAST(cp AS BIGINT) * 2654435761) % 1099511627776 AS gv
      | FROM chars),
      |h AS (
      | SELECT a.doc_id, a.i,
      |  CAST(SUM((b.gv % (CAST(1 AS BIGINT) << CAST(40 - (a.i - b.i) AS INTEGER)))
      |         << CAST(a.i - b.i AS INTEGER)) % 1099511627776 AS BIGINT) AS hv
      | FROM g a JOIN g b
      |   ON b.doc_id = a.doc_id AND b.i BETWEEN a.i - 39 AND a.i
      | GROUP BY a.doc_id, a.i),
      |cuts AS (SELECT doc_id, i FROM h WHERE (hv & 63) = 0),
      |ends AS (
      | SELECT doc_id, i AS e FROM cuts
      | UNION SELECT doc_id, n FROM base),
      |segs AS (
      | SELECT doc_id, e,
      |  coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY e) - 1 AS chunk_idx
      | FROM ends)""".stripMargin

  private val cdcChunksOracleSql: String = cdcSegsCte +
    """
      |SELECT sg.doc_id, CAST(sg.chunk_idx AS BIGINT) AS chunk_idx,
      | CAST(sg.s - 1 AS BIGINT) AS start, CAST(sg.e - sg.s + 1 AS BIGINT) AS len,
      | md5(substring(b.text, sg.s, sg.e - sg.s + 1)) AS chunk_md5
      |FROM segs sg JOIN base b ON b.doc_id = sg.doc_id
      |ORDER BY sg.doc_id, chunk_idx""".stripMargin

  /** DuckDB replay of [[operators.Dedup.cdcDedup]]: the shared CDC
    * segment CTE, keep-first election per chunk hash via a
    * (doc_id, chunk_idx) row_number, and the cleaned text respliced
    * with an idx-ordered zero-separator string_agg.
    */
  private val cdcDedupOracleSql: String = cdcDedupOracle("")

  /** The incremental form must equal the one-shot dedup restricted to
    * the batch (append-ordered ids — the 38h-inc parity contract), so
    * its oracle is the same replay with a final batch filter.
    */
  private val cdcIncrementalOracleSql: String =
    cdcDedupOracle("WHERE d.doc_id >= 250")

  private def cdcDedupOracle(finalWhere: String): String = cdcSegsCte +
    s""",
      |chunks AS MATERIALIZED (
      | SELECT sg.doc_id, sg.chunk_idx, sg.s, sg.e,
      |  md5(substring(b.text, sg.s, sg.e - sg.s + 1)) AS hh
      | FROM segs sg JOIN base b ON b.doc_id = sg.doc_id),
      |kept AS (
      | SELECT doc_id, chunk_idx, s, e FROM (
      |  SELECT *, row_number() OVER (PARTITION BY hh
      |    ORDER BY doc_id, chunk_idx) AS rn FROM chunks)
      | WHERE rn = 1),
      |agg AS (
      | SELECT k.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |  string_agg(substring(b.text, k.s, k.e - k.s + 1), ''
      |    ORDER BY k.chunk_idx) AS text_clean
      | FROM kept k JOIN base b ON b.doc_id = k.doc_id
      | GROUP BY k.doc_id),
      |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
      |        FROM chunks GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(t.n_chunks, 0) AS n_chunks,
      | CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
      | coalesce(a.text_clean, '') AS text_clean
      |FROM documents d
      |LEFT JOIN tot t ON t.doc_id = d.doc_id
      |LEFT JOIN agg a ON a.doc_id = d.doc_id
      |$finalWhere
      |ORDER BY d.doc_id""".stripMargin

  private val charEntropyOracleSql: String =
    s"""WITH base AS (
       | SELECT doc_id, text, length(text) AS n
       | FROM documents WHERE text IS NOT NULL),
       |chars AS (
       | SELECT doc_id, unicode(substring(text, i, 1)) AS cp
       | FROM (SELECT doc_id, text, unnest(generate_series(1, n)) AS i FROM base)),
       |cc AS MATERIALIZED (
       | SELECT doc_id, cp, CAST(count(*) AS BIGINT) AS c
       | FROM chars GROUP BY doc_id, cp),
       |nums AS (
       | SELECT b.doc_id, CAST(b.n AS BIGINT) AS n,
       |  CAST(coalesce(SUM(cc.c * (${ilogSql("b.n")} - ${ilogSql("cc.c")})), 0)
       |    AS BIGINT) AS num
       | FROM base b LEFT JOIN cc ON cc.doc_id = b.doc_id
       | GROUP BY b.doc_id, b.n)
       |SELECT doc_id, n AS n_chars_ent,
       | CASE WHEN n > 0 THEN num // n ELSE CAST(0 AS BIGINT) END AS entropy_fp,
       | (n >= 64 AND (CASE WHEN n > 0 THEN num // n ELSE CAST(0 AS BIGINT) END)
       |  < 2097152) AS low_entropy
       |FROM nums ORDER BY doc_id""".stripMargin

  private val ppagerankOracleSql: String = pagerankSqlBuilder(Some(
    "SELECT DISTINCT c_custkey AS node FROM customer WHERE c_nationkey = 1"))

  /** DuckDB replay of [[operators.Retrieval.mmrRerank]] over the
    * brute-force top-20 shortlists of query vectors 0–3: the five greedy
    * steps UNROLLED (the 64-CTE classifier-oracle pattern) — step i
    * joins picks p1..p(i−1), excludes their ids, takes the redundancy
    * term as greatest over the selected cosines, and argmaxes
    * 0.7·score − 0.3·m with the (mmr desc, id asc) tie-break. Every
    * float op is the same IEEE double op in the same order as the Spark
    * side, so picks AND mmr values match bit-for-bit.
    */
  private val mmrOracleSql: String = {
    val base =
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 4),
        |c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |scored AS (SELECT query_id, cand_id, cv,
        |           list_cosine_similarity(cv, qv) AS score
        |           FROM q, c WHERE cand_id != query_id),
        |sl AS MATERIALIZED (SELECT query_id, cand_id, cv, score FROM (
        | SELECT *, row_number() OVER (PARTITION BY query_id
        |                              ORDER BY score DESC, cand_id) AS rn
        | FROM scored) WHERE rn <= 20),
        |s1 AS (SELECT query_id, cand_id, cv, score,
        |       0.7 * score - 0.3 * 0.0 AS mmr FROM sl),
        |p1 AS (SELECT query_id, cand_id AS id1, cv AS v1, mmr AS mmr1 FROM (
        | SELECT *, row_number() OVER (PARTITION BY query_id
        |                              ORDER BY mmr DESC, cand_id) AS rn
        | FROM s1) WHERE rn = 1)""".stripMargin
    val steps = (2 to 5).map { i =>
      val joins = (1 until i).map(j => s"JOIN p$j USING (query_id)").mkString(" ")
      val excl = (1 until i).map(j => s"sl.cand_id != p$j.id$j").mkString(" AND ")
      val sims = (1 until i)
        .map(j => s"list_cosine_similarity(sl.cv, p$j.v$j)").mkString(", ")
      val m = if (i == 2) sims else s"greatest($sims)"
      s""",
         |s$i AS (SELECT sl.query_id, sl.cand_id, sl.cv, sl.score,
         |       0.7 * sl.score - 0.3 * $m AS mmr
         |       FROM sl $joins WHERE $excl),
         |p$i AS (SELECT query_id, cand_id AS id$i, cv AS v$i, mmr AS mmr$i FROM (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |                              ORDER BY mmr DESC, cand_id) AS rn
         | FROM s$i) WHERE rn = 1)""".stripMargin
    }.mkString
    val finals = (1 to 5)
      .map(i => s"SELECT query_id, CAST($i AS BIGINT) AS rank, " +
        s"id$i AS neighbor_id, mmr$i AS mmr FROM p$i")
      .mkString("\n", "\nUNION ALL ", "\nORDER BY query_id, rank")
    base + steps + finals
  }

  /** DuckDB re-expression of [[operators.Retrieval.bm25TopK]] on the
    * documents corpus with query terms (vector, join, stream) and
    * k1=6/5, b=3/4: the identical integer-cleared rational-idf scoring
    * in HUGEINT arithmetic, one truncating division per (doc, term) at
    * e6 scale, integer sums per doc. Yields `bm25_dl(doc_id, dl)`,
    * `bm25_agg(doc_id, n_matched, matched_terms, score_e6)` and
    * `bm25_ranked(doc_id, rank)` for the retrieval rows to project.
    */
  private val bm25OracleCte: String =
    """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
      |bm25_dl AS (SELECT doc_id, len(t) AS dl FROM d),
      |bm25_stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
      |               FROM bm25_dl),
      |bm25_tf AS (
      | SELECT doc_id, term, count(*) AS tf
      | FROM (SELECT doc_id, unnest(t) AS term FROM d)
      | WHERE term IN ('vector', 'join', 'stream') GROUP BY doc_id, term),
      |bm25_df AS (SELECT term, count(*) AS df FROM bm25_tf GROUP BY term),
      |bm25_sc AS (
      | SELECT tf.doc_id, tf.term,
      |  CAST((CAST(1000000 AS HUGEINT)
      |        * (2 * s.n_docs - 2 * f.df + 1) * 22 * tf.tf * s.sum_dl)
      |    // ((2 * f.df + 1)
      |        * (10 * CAST(s.sum_dl AS HUGEINT) * tf.tf + 3 * s.sum_dl
      |           + 9 * dl.dl * s.n_docs)) AS BIGINT) AS term_score_e6
      | FROM bm25_tf tf JOIN bm25_df f USING (term)
      |      JOIN bm25_dl dl ON tf.doc_id = dl.doc_id
      |      CROSS JOIN bm25_stats s),
      |bm25_agg AS (
      | SELECT doc_id, count(*) AS n_matched,
      |        string_agg(term, ',' ORDER BY term) AS matched_terms,
      |        CAST(sum(term_score_e6) AS BIGINT) AS score_e6
      | FROM bm25_sc GROUP BY doc_id),
      |bm25_ranked AS (
      | SELECT doc_id, row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS rank
      | FROM bm25_agg)""".stripMargin

  /** DuckDB replay of [[TextAnalysis.canonicalizeUrl]] over the same
    * deterministically derived messy URLs as [[qUrlCanonical]] —
    * function-for-function: the same RE2-safe regexes, the same
    * tracking-param predicate generated from the one
    * [[TextAnalysis.trackingParams]] list, the same sort-and-rejoin.
    */
  private val urlCanonicalOracleSql: String = {
    val trackPred = TextAnalysis.trackingParams
      .map(t => s"p = '$t' OR starts_with(p, '$t=')").mkString(" OR ")
    s"""WITH u AS (SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0
      |    THEN 'HTTP://' || source || '.Example.COM:80/Docs/'
      |         || CAST(doc_id AS VARCHAR) || '/?b=2&a=1&utm_campaign=x'
      |    ELSE 'HTTPS://WWW.' || source || '.example.com:443/Docs/'
      |         || CAST(doc_id AS VARCHAR) || '?z=' || lang || '&a=1&fbclid=abc#frag'
      |  END AS url FROM documents),
      |parts AS (SELECT doc_id, url,
      |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS rawhost,
      |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path0,
      |  regexp_extract(regexp_replace(url, '#.*', ''), '\\?(.*)', 1) AS query0
      | FROM u),
      |hostp AS (SELECT *, regexp_replace(
      |  CASE WHEN scheme = 'http' THEN regexp_replace(rawhost, ':80$$', '')
      |       WHEN scheme = 'https' THEN regexp_replace(rawhost, ':443$$', '')
      |       ELSE rawhost END, '^www\\.', '') AS url_host FROM parts),
      |qp AS (SELECT *, list_sort(list_filter(string_split(query0, '&'),
      |  p -> p <> '' AND NOT ($trackPred))) AS kept FROM hostp)
      |SELECT doc_id, url, url_host,
      |  scheme || '://' || url_host || regexp_replace(path0, '/$$', '')
      |    || CASE WHEN len(kept) = 0 THEN ''
      |            ELSE '?' || array_to_string(kept, '&') END AS url_canonical
      |FROM qp ORDER BY doc_id""".stripMargin
  }
}

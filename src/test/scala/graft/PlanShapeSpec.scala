package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.{LocalTableScanExec, RDDScanExec, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, EventAnalytics, Graph, Relational, Stats, TextAnalysis}

/** The physical-plan structure each past optimization depends on,
  * asserted on `executedPlan` at sf0.001 — a reverted restructure fails
  * here instead of surviving as a stale `explain` dump.
  */
class PlanShapeSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** A node's children, looking through AQE wrappers and query stages;
    * a ReusedExchange is a leaf, so no exchange is counted twice, and
    * cached relations are leaves too. */
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _ => p.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)

  /** The plan skeleton — joins, exchanges, scans, aggregates — for
    * failure messages. */
  private def skeleton(p: SparkPlan, depth: Int = 1): String = {
    val interesting = Seq("Join", "Exchange", "Scan", "HashAggregate",
      "ObjectHashAggregate", "SortAggregate", "Window", "Generate", "TakeOrdered")
    val line =
      if (!interesting.exists(p.nodeName.contains)) ""
      else "\n" + "  " * depth + p.simpleString(8).replaceAll("#\\d+L?", "").take(160)
    line + children(p).map(skeleton(_, depth + 1)).mkString
  }

  /** Names of the columns computed (aliased) by any node of `p`. */
  private def computed(p: SparkPlan): Set[String] =
    nodes(p).flatMap(_.expressions.flatMap(_.collect { case a: Alias => a.name })).toSet

  test("association and collocation scores sit above the top-K limit") {
    def check(plan: SparkPlan, above: Seq[String], below: Seq[String]): Unit = {
      val tops = nodes(plan).collect { case t: TakeOrderedAndProjectExec => t }
      assert(tops.size === 1, skeleton(plan))
      val underTop = computed(tops.head)
      above.foreach { c =>
        assert(computed(plan)(c), s"$c is computed somewhere${skeleton(plan)}")
        assert(!underTop(c), s"$c is computed at or below the limit${skeleton(plan)}")
      }
      below.foreach(c => assert(underTop(c), s"$c ranks, so it stays below${skeleton(plan)}"))
    }
    val store = Stats.associationStore(wh.loadTable("lineitem"), "l_orderkey", "l_partkey")
      .localCheckpoint()
    check(Stats.associationFromStore(store, minSupport = 2L, topK = 50)
        .queryExecution.executedPlan,
      above = Seq("conf_ab_e6", "conf_ba_e6", "lift_e6", "llr_u20"), below = Nil)
    // lift_e6 IS the collocation rank key: only the LLR margins move up
    val colloc = plansRunBy {
      TextAnalysis.collocations(wh.loadTable("documents"), "text", minCount = 5, topK = 100)
    }.collect { case ("localCheckpoint", p) => p }
    assert(colloc.size === 1)
    check(colloc.head, above = Seq("llr_u20"), below = Seq("lift_e6"))
  }

  test("verify pins: round-robin to defaultParallelism under the join") {
    val dp = spark.sparkContext.defaultParallelism
    val rows = (0 until 30).flatMap { i =>
      val b = (0 until 24).map(j => "abcdefgh"((i * 31 + j * 7) % 8)).mkString
      Seq((i * 3L, b), (i * 3L + 1, b.updated(i % 24, 'Z')),
        (i * 3L + 2, b.updated((i + 5) % 24, 'Y')))
    }
    val all = rows.toDF("id", "s")
    val hist = rows.filter(_._1 % 10 != 0).toDF("id", "s")
    val batch = rows.filter(_._1 % 10 == 0).toDF("id", "s")
    val pins: Seq[(String, () => DataFrame)] = Seq(
      "fuzzyJoin" -> (() => Relational.fuzzyJoin(hist, batch, "id", "s", "id", "s", 4L, 5L)),
      "fuzzySelfPairs" -> (() => Relational.fuzzySelfPairs(all, "id", "s", 4L, 5L)),
      "fuzzyJoinIncremental" -> (() => Relational.fuzzyJoinIncremental(batch, "id", "s",
        Relational.fuzzyGramStore(hist, "id", "s"), hist, 4L, 5L)),
      "editDistanceJoin" -> (() => Relational.editDistanceJoin(all, "id", "s", maxDist = 2)),
      "editDistanceJoinIncremental" -> (() => Relational.editDistanceJoinIncremental(batch,
        "id", "s", Relational.editSegmentStore(hist, "id", "s", maxDist = 2), hist,
        maxDist = 2)),
      "ngramJaccard" -> (() => Dedup.ngramJaccard(
        all.withColumn("s", regexp_replace(col("s"), "(...)", "$1 ")), "id", "s")))
    def pinned(plan: SparkPlan): Boolean =
      nodes(plan).collect { case j: BaseJoinExec => j }.exists { j =>
        nodes(j).exists {
          case s: ShuffleExchangeExec => s.outputPartitioning == RoundRobinPartitioning(dp)
          case _ => false
        }
      }
    // an operator may checkpoint its result: check the plans its own
    // actions ran as well as the frame it returns
    val unpinned = pins.flatMap { case (name, op) =>
      var out: DataFrame = null
      val plans = plansRunBy { out = op() }.map(_._2) :+ out.queryExecution.executedPlan
      if (plans.exists(pinned)) None else Some(s"$name:${plans.map(skeleton(_)).mkString}")
    }
    if (unpinned.nonEmpty)
      fail(s"no RoundRobinPartitioning($dp) under a join in\n${unpinned.mkString("\n")}")
  }

  test("graph rounds: one join each; one shuffle per pageRank round") {
    val edges = tradeEdges
    // rounds below RoundCheckpoints.interval chain into the ONE localCheckpoint
    // the last round materializes, so its plan holds every round; it
    // reads the setup's checkpoint, while the setup reads the tables
    def lastRound(run: Int => DataFrame, rounds: Int): SparkPlan = {
      val plans = plansRunBy(run(rounds)).collect {
        case ("localCheckpoint", p) if nodes(p).exists(_.isInstanceOf[RDDScanExec]) => p
      }
      assert(plans.size === 1)
      plans.head
    }
    def oneAndTwo(run: Int => DataFrame) = (lastRound(run, 1), lastRound(run, 2))
    val graphs = Seq(
      "pageRank" -> oneAndTwo(k => Graph.pageRank(edges, "src", "dst", iters = k)),
      "labelPropagation" -> oneAndTwo(k => Graph.labelPropagation(edges, "src", "dst", iters = k)))
    def check(name: String, plans: (SparkPlan, SparkPlan), what: String,
        count: SparkPlan => Int): Unit =
      assert(count(plans._2) - count(plans._1) === 1,
        s"$name $what per round${skeleton(plans._1)}\n  ---${skeleton(plans._2)}")
    // the base term / self vote unions into the round's aggregate: no
    // per-round join back to the node list
    graphs.foreach { case (name, plans) =>
      check(name, plans, "joins", nodes(_).count(_.isInstanceOf[BaseJoinExec]))
    }
    // and the groupBy is pageRank's only per-round shuffle (at this scale
    // the edge join broadcasts the cached edge list)
    check("pageRank", graphs.head._2, "shuffles",
      nodes(_).count(_.isInstanceOf[ShuffleExchangeExec]))
  }


  test("hits: each phase runs its raw-sum shuffle once") {
    // a phase divides its raw sums by their max: the max's input reads
    // the sums' shuffle as a reused exchange instead of running it again
    val phases = plansRunBy(Graph.hits(tradeEdges, "src", "dst", iters = 2)).collect {
      case ("localCheckpoint", p) if nodes(p).exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]) => p
    }
    assert(phases.size === 4)
    phases.foreach { p =>
      val reused = nodes(p).collect { case r: ReusedExchangeExec => r.child }
      assert(reused.exists(_.isInstanceOf[ShuffleExchangeExec]), skeleton(p))
    }
  }

  test("one-shot segment dedup plans no store probe") {
    // paragraphDedup and cdcDedup are their incremental forms over an
    // empty hash store, whose semi- and anti-join must plan away
    val docs = wh.loadTable("documents")
    val oneShots: Seq[(String, DataFrame)] = Seq(
      "paragraphDedup" -> Dedup.paragraphDedup(docs, "doc_id", "text", sep = " "),
      "cdcDedup" -> Dedup.cdcDedup(docs, "doc_id", "text"))
    oneShots.foreach { case (name, df) =>
      val plans = plansRunBy(df.collect()).map(_._2)
      assert(plans.size === 1, name)
      val plan = plans.head
      val probes = nodes(plan).collect {
        case j: BaseJoinExec if j.joinType == LeftSemi || j.joinType == LeftAnti => j
      }
      assert(probes.isEmpty, s"$name: no store probe${skeleton(plan)}")
      assert(!nodes(plan).exists(_.isInstanceOf[LocalTableScanExec]),
        s"$name: no empty-store scan${skeleton(plan)}")
      assert(!nodes(plan).exists(_.output.exists(_.name == "__store_h")),
        s"$name: no __store_h column${skeleton(plan)}")
    }
  }

  test("sequential folds and stores built from scratch: one key exchange, no join") {
    // a store built from scratch is the update verb over an empty store,
    // whose join and pass-through union must plan away
    val ev = wh.loadTable("events")
    val folds: Seq[(String, DataFrame)] = Seq(
      "cusum" -> EventAnalytics.cusum(ev, "user_id", "ts", "event_id", "value",
        targetCents = 4000, slackCents = 500, threshCents = 20000),
      "ewma" -> EventAnalytics.ewma(ev, "user_id", "ts", "event_id", "value",
        alphaPpm = 200000, devThreshCents = 3000),
      "holt" -> EventAnalytics.holt(ev, "user_id", "ts", "event_id", "value",
        alphaPpm = 200000, betaPpm = 100000, devThreshCents = 3000),
      "holtWinters" -> EventAnalytics.holtWinters(ev, "user_id", "ts", "event_id",
        "value", alphaPpm = 200000, betaPpm = 100000, gammaPpm = 300000),
      "holtWintersStore" -> EventAnalytics.holtWintersStore(ev, "user_id", "ts",
        "event_id", "value", alphaPpm = 200000, betaPpm = 100000, gammaPpm = 300000),
      "acfStore" -> EventAnalytics.acfStore(ev, "user_id", "ts", "event_id", "value",
        maxLag = 12),
      "trendStore" -> EventAnalytics.trendStore(ev, "user_id", "ts", "event_id", "value"))
    folds.foreach { case (name, df) =>
      val plans = plansRunBy(df.collect()).map(_._2)
      assert(plans.size === 1, name)
      val plan = plans.head
      val byK = nodes(plan).count {
        case s: ShuffleExchangeExec => s.outputPartitioning match {
          case HashPartitioning(Seq(a: AttributeReference), _) => a.name == "k"
          case _ => false
        }
        case _ => false
      }
      assert(nodes(plan).count(_.isInstanceOf[ShuffleExchangeExec]) === 1 && byK === 1,
        s"$name: one hashpartitioning(k) exchange${skeleton(plan)}")
      assert(!nodes(plan).exists(_.isInstanceOf[BaseJoinExec]), s"$name: no join${skeleton(plan)}")
    }
  }
}

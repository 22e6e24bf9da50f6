package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared local session for every suite (Test/fork runs them in a
  * single JVM — reusing the session avoids ~5 s of startup per suite).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(Some("local[4]"), shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"
  def wh: Warehouse = Warehouse(spark, sfDir)

  /** The symmetrized customer-supplier trade graph of q_pagerank. */
  def tradeEdges: DataFrame = {
    val e = wh.loadTable("orders").join(wh.loadTable("lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** The messages of `t` and of its whole cause chain, concatenated: a
    * refusal raised inside a Spark job arrives wrapped, so specs match
    * its text here. */
  def root(t: Throwable): String =
    t.getMessage + Option(t.getCause).map(root).getOrElse("")

  def cachedRddIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** How many cached RDDs absent from `before` are still cached, polled
    * for up to 30 s until at most `slack`: unrelated transient caches may
    * be in flight at any instant (unpersist is asynchronous) — a GENUINE
    * leak never drains, transient churn does. Comparing ids, not counts,
    * keeps RDDs released meanwhile from masking new ones. */
  def cachedSince(before: Set[Int], slack: Int): Int = {
    def added = (cachedRddIds -- before).size
    val deadline = System.nanoTime() + 30_000_000_000L
    while (added > slack && System.nanoTime() < deadline) Thread.sleep(200)
    added
  }

  /** The executed plan of every action `body` runs — localCheckpoints
    * included — in the order they ran. */
  def plansRunBy(body: => Unit): Seq[(String, SparkPlan)] = {
    val seen = new ConcurrentLinkedQueue[(String, SparkPlan)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        seen.add(funcName -> qe.executedPlan); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      SparkInternals.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** How many Spark jobs `body` starts. Events already queued are
    * delivered before counting begins, so earlier jobs are not counted. */
  def jobsRunBy(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    SparkInternals.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      SparkInternals.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }
}

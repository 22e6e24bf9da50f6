package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark-side span: a call into a layer, an action, or the op. */
final case class Span(op: String, name: String, startNs: Long, endNs: Long)

/** Everything the traced passes record, kept in memory until the run ends.
  *
  * Spans come from the benchmark's own code around each call into graft.
  * Spark's side comes from public listener APIs: a `SparkListener` for jobs,
  * stages and task metrics (attributed to an op by the job group the
  * benchmark sets around it) and a `QueryExecutionListener` for the
  * `QueryExecution.tracker` planning phases of every executed query. Times
  * are epoch nanoseconds so both sides share one clock.
  */
final class Tracer {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L

  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  @volatile private var on = false
  private var op: String = ""
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.ArrayBuffer[mutable.Map[String, Any]]()
  val stages = mutable.LinkedHashMap[(Int, Int), mutable.Map[String, Any]]()
  val phases = mutable.ArrayBuffer[Map[String, Any]]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobById = mutable.Map[Int, mutable.Map[String, Any]]()

  def setOp(id: String): Unit = op = id

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val s = now()
      try f finally spans += Span(op, name, s, now())
    }

  /** The parse/analysis phases a returned frame already paid for; the
    * phases of executed queries arrive through the execution listener.
    */
  def framePhases(qe: QueryExecution): Unit =
    if (on) recordPhases(op, qe)

  private def recordPhases(group: String, qe: QueryExecution): Unit = {
    val ps = qe.tracker.phases.toSeq.map { case (name, p) =>
      Map[String, Any]("group" -> group, "phase" -> name,
        "start_ns" -> p.startTimeMs * 1000000L, "end_ns" -> p.endTimeMs * 1000000L)
    }
    phases.synchronized(phases ++= ps)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val j = mutable.Map[String, Any]("job" -> e.jobId, "group" -> group,
        "start_ns" -> e.time * 1000000L, "stages" -> e.stageIds)
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(s => stageGroup(s) = group)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobById.get(e.jobId).foreach(_("end_ns") = e.time * 1000000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      i.submissionTime.foreach(t => s("start_ns") = t * 1000000L)
      i.completionTime.foreach(t => s("end_ns") = t * 1000000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stage(e.stageId, e.stageAttemptId)
      def add(k: String, v: Long): Unit =
        s(k) = s.getOrElse(k, 0L).asInstanceOf[Long] + v
      add("tasks", 1L)
      add("duration_ms", e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        add("run_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("result_bytes", m.resultSize)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", m.diskBytesSpilled)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("input_rows", m.inputMetrics.recordsRead)
        add("output_bytes", m.outputMetrics.bytesWritten)
        add("output_rows", m.outputMetrics.recordsWritten)
      }
    }
    private def stage(id: Int, attempt: Int): mutable.Map[String, Any] =
      stages.getOrElseUpdate((id, attempt), mutable.Map[String, Any](
        "stage" -> id, "attempt" -> attempt, "group" -> stageGroup.get(id).orNull))
  }

  private val qeListener = new QueryExecutionListener {
    // runs on the listener bus, where the calling thread's job group is not
    // visible: these phases carry no op, and the analysis attributes them
    // to the op whose time window holds them
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordPhases(null, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordPhases(null, qe)
  }

  def attach(spark: SparkSession): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Waits for queued events, then stops listening. Called between passes,
    * outside any timed op.
    */
  def detach(spark: SparkSession): Unit = if (on) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  def toJson: Map[String, Any] = Map(
    "spans" -> spans.map(s => Map("op" -> s.op, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
    "jobs" -> jobs.map(_.toMap),
    "stages" -> stages.values.map(_.toMap),
    "phases" -> phases)
}

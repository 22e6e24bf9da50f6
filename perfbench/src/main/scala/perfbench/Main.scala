package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** JVM side of the benchmark: one closed-loop client driving graft.
  *
  * Usage: `perfbench.Main --dir <inputs> --seconds <s> --trace <0|1>
  * [--setups <n>] [--train 1]`. `<inputs>/manifest.json` (written by the Python
  * generator) names the workload. The client sets up `--setups` times
  * (session build, workload preparation, one warm-up query). A priming pass
  * then runs every op once and writes its output for the checks, which also
  * warms every op shape at full size. Timed passes over the workload's ops
  * follow, one op after the other, until `--seconds` have gone by. A traced
  * run alternates untraced and traced passes, starting and ending with an
  * untraced one, so that both are measured on the same JVM.
  *
  * Nothing is aggregated here: every op execution, span and Spark event is
  * written to `<inputs>/result.json` for `run.py` to check and summarise.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val dir = opts("dir")
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val setups = opts.getOrElse("setups", "3").toInt
    // a training run only sets up and primes: it exists to record the
    // classes a run loads for the class-data sharing archive
    val train = opts.getOrElse("train", "0") == "1"
    val manifest = new ObjectMapper().readTree(new java.io.File(s"$dir/manifest.json"))
    val nproc = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = new Tracer

    val os = ManagementFactory.getOperatingSystemMXBean
    // CPU time of the whole JVM: the driver, every executor task thread,
    // and the JIT and GC threads working for them
    val procCpu = os match {
      case b: com.sun.management.OperatingSystemMXBean => () => b.getProcessCpuTime
      case _ => () => 0L
    }

    var spark: SparkSession = null
    var ctx: Ctx = null
    var wl: Workload = null
    val setupRecs = (0 until setups).map { round =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      // the first round's CPU time also covers starting the JVM
      val cpu0 = if (round == 0) 0L else procCpu()
      spark = GraftSession
        .builder(master = Some(s"local[$nproc]"), shufflePartitions = nproc)
        .config("spark.local.dir", s"$dir/spark-local")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      ctx = new Ctx(spark, tracer, s"$dir/tables")
      wl = Workload(manifest, dir, ctx, round)
      val t2 = System.nanoTime()
      ctx.load(wl.warmTable).write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      // the first build also pays for starting the JVM
      val jvm = if (round == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 - (t3 - t0) / 1e9 else 0.0
      Map("session_s" -> ((t1 - t0) / 1e9 + jvm), "prepare_s" -> (t2 - t1) / 1e9,
        "warmup_s" -> (t3 - t2) / 1e9, "cpu_s" -> (procCpu() - cpu0) / 1e9)
    }

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    // CPU time of the JVM's Java threads (driver, executor tasks, Spark's
    // own threads), without the JIT compiler and GC threads: a delta per
    // thread, so threads that start during an op count from zero (a thread
    // that ends during the op loses its share)
    val threads = ManagementFactory.getThreadMXBean
    def threadCpu(): Map[Long, Long] =
      threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 > 0).toMap
    def threadCpuSince(before: Map[Long, Long]): Long =
      threadCpu().iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum
    val jit = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs() = gcs.map(_.getCollectionTime).sum
    val sc = spark.sparkContext

    /** Runs one op; returns its record. In the priming pass (`prime`) an
      * op with `capture` writes its output in place of its action.
      */
    def runOp(p: Int, op: Op, prime: Boolean, tracedPass: Boolean,
        clear: Boolean = true): Map[String, Any] = {
      val runId = s"p$p/${op.id}"
      sc.setJobGroup(runId, op.verb, interruptOnCancel = false)
      tracer.setOp(runId)
      val load0 = os.getSystemLoadAverage
      val cpu0 = procCpu()
      val app0 = threadCpu()
      val (jit0, gc0) = (jit.getTotalCompilationTime, gcMs())
      val s0 = tracer.now()
      var s1 = s0
      var df: DataFrame = null
      var error: String = null
      try {
        df = op.call(ctx)
        s1 = tracer.now()
        if (prime && op.capture) df.write.mode("overwrite").parquet(s"$dir/out/${op.id}")
        else op.action(ctx, df)
      } catch {
        case e: Throwable =>
          error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          if (s1 == s0) s1 = tracer.now()
      }
      val s2 = tracer.now()
      val cpu1 = procCpu()
      val app = threadCpuSince(app0)
      val (jit1, gc1) = (jit.getTotalCompilationTime, gcMs())
      val load1 = os.getSystemLoadAverage
      if (tracedPass) {
        tracer.spans += Span(runId, "op", s0, s2)
        if (df != null) tracer.framePhases(df.queryExecution)
      }
      var observed: Map[String, Any] = Map.empty
      if (error == null) {
        sc.setJobGroup("untimed", "checks", interruptOnCancel = false)
        tracer.setOp("untimed")
        try op.observe.foreach(f => observed = f(ctx, df))
        catch {
          case e: Throwable =>
            error = s"output: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      }
      sc.clearJobGroup()
      if (clear) spark.catalog.clearCache()
      Map("op" -> op.id, "verb" -> op.verb, "kind" -> op.kind, "pass" -> p,
        "prime" -> prime, "traced" -> tracedPass, "start_ns" -> s0,
        "call_s" -> (s1 - s0) / 1e9, "action_s" -> (s2 - s1) / 1e9,
        "latency_s" -> (s2 - s0) / 1e9, "thread_cpu_s" -> app / 1e9,
        "process_cpu_s" -> (cpu1 - cpu0) / 1e9, "jit_s" -> (jit1 - jit0) / 1e3,
        "gc_s" -> (gc1 - gc0) / 1e3, "load1m_start" -> load0, "load1m_end" -> load1,
        "error" -> error, "observed" -> observed)
    }

    val records = mutable.ArrayBuffer[Map[String, Any]]()
    val primeStart = System.nanoTime()
    wl.pass(0).foreach { prime =>
      // the priming pass is untimed, and most of its cost is first-execution
      // work (code generation, JIT) in this JVM: independent ops run
      // concurrently, and the chain runs in order beside them
      def run(op: Op) = runOp(0, op, prime = true, tracedPass = false, clear = false)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
      try {
        val chain = pool.submit(() => prime.chain.map(run))
        val futures = prime.independent.map(op => pool.submit(() => run(op)))
        futures.foreach(f => records += f.get())
        records ++= chain.get()
      } finally pool.shutdown()
      spark.catalog.clearCache()
    }
    val primeS = (System.nanoTime() - primeStart) / 1e9
    val start = System.nanoTime()
    var p = 1
    var done = train
    while (!done) {
      wl.pass(p) match {
        case None => done = true
        case Some(pass) =>
          // a traced run alternates untraced and traced passes and ends on
          // an untraced one, so the traced passes sit between untraced
          // ones and the JVM's warm-up trend cancels in the overhead ratio
          val tracedPass = traced && p % 2 == 0
          if (tracedPass) tracer.attach(spark) else tracer.detach(spark)
          pass.ops.foreach(op => records += runOp(p, op, prime = false, tracedPass))
          p += 1
          done = (System.nanoTime() - start) / 1e9 >= seconds && (!traced || p % 2 == 0 && p >= 4)
      }
    }
    tracer.detach(spark)
    val measuredS = (System.nanoTime() - start) / 1e9
    val heapPeakMib = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val finish = wl.finish(ctx)

    val out = Map(
      "nproc" -> nproc, "setups" -> setupRecs, "ops" -> records, "passes" -> p,
      "prime_s" -> primeS,
      "measured_s" -> measuredS, "heap_peak_mib" -> heapPeakMib, "finish" -> finish,
      "trace" -> tracer.toJson)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/result.json"), Json.encode(out))
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the role of the reference's client/engine bootstrap
  * (fugue_trino/execution_engine.py:173 `TrinoExecutionEngine.__init__`,
  * fugue_bigquery/client.py `BigQueryClient.get_or_create`) but Spark-native:
  * one SparkSession, tuned for large-scale shuffles with AQE enabled so the
  * same code path survives 100 TB inputs (skew-join splitting, partition
  * coalescing, runtime broadcast demotion).
  */
object GraftSession {

  /** Core count from a raw `SPARK_GRAFT_CPUS` value: `default` when
    * unset, otherwise a positive integer — anything else fails here,
    * naming the variable, instead of as a bare NumberFormatException
    * or a `local[0]` master further down.
    */
  def parseCpus(raw: Option[String], default: Int): Int = raw.fold(default) { v =>
    val n = v.toIntOption
    require(n.exists(_ >= 1), s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
    n.get
  }

  /** Local core count: `SPARK_GRAFT_CPUS`, or `default` when unset. */
  def cpus(default: Int = 32): Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), default)

  /** Default local parallelism; on a real cluster this is driven by
    * spark-submit and the values below only set sane SQL defaults.
    */
  def builder(
      master: Option[String] = None,
      shufflePartitions: Int = cpus()
  ): SparkSession.Builder = {
    // Catalog state (bucketed tables, derby metastore) lives under tmp, not
    // the working directory.
    val tmp = System.getProperty("java.io.tmpdir")
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", tmp)
    val b = SparkSession
      .builder()
      .appName("graft")
      .config("spark.sql.warehouse.dir", s"$tmp/graft-spark-warehouse")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Respect the advisory partition size when coalescing instead of
      // stopping at defaultParallelism (parallelismFirst=false is Spark's
      // own documented recommendation — the default true "maximizes
      // parallelism" by keeping 1 MiB partitions, which at any scale
      // multiplies per-task overhead: every task result ships one
      // serialized accumulator per SQL metric per operator, and jstack
      // sampling showed ~70% of this workload's task-side CPU inside
      // that DirectTaskResult accumulator deserialization, r13). At
      // 100 TB the advisory target produces the same many-partition
      // plans either way; CPU-dense narrow-byte verify stages keep their
      // parallelism via the explicit verifyFanout repartition, which AQE
      // never coalesces. Settled by r13's interleaved A/B
      // (OPTIMIZATION_r13.md, "kill the per-task accumulator tax"):
      // tasks per query fell 5-20x.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // Let cache materialization run under full AQE too (upstream flag,
      // default false): without it every persisted frame pins its
      // pre-AQE partition count and all downstream scans of the cache
      // inherit it — the operators' edge/signature/gram caches kept
      // 32-partition layouts whose per-task accumulator traffic dwarfed
      // their data (r13). Cache-partitioning-dependent joins still plan
      // correctly — Spark inserts an exchange when a consumer needs a
      // different distribution.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // 64 MiB split target keeps scan tasks balanced on wide parquet.
      .config("spark.sql.files.maxPartitionBytes", "67108864")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects; read as long and normalize in Warehouse.loadTable.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reliable checkpoints (connectedComponents checkpointDir): delete
      // a round's files once its RDD is unreferenced — without this,
      // iterative reliable checkpointing accumulates every superseded
      // round in the checkpoint dir until application exit
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // Hold graft's generated-code working set in the compiled-class
      // cache (Spark's default: 100 entries). The cache is keyed by
      // (classloader, source), so the driver and the executors each
      // compile their own copy, and one perfbench workload's calls
      // compile about 120 classes (121 `operators`, 120 `warehouse`;
      // JVM class-load log, seed 101). With 100 entries the LRU evicted
      // them: every repeated call recompiled 45-55 classes in Janino
      // (18.8 % of the profiled samples inside timed `operators` ops)
      // and ran them interpreted again until the JIT caught up. At 1000
      // (~8x that set) a repeated call compiles nothing, and perfbench
      // `cpu_s` fell 18 % on `operators` and 11 % on `warehouse` (ten
      // alternating pairs each, 4-core box), with metaspace no larger.
      // The cache is JVM-wide and sized from the conf active when
      // Spark's CodeGenerator is first used, so a JVM whose first SQL
      // session was not built here keeps Spark's default.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
    master.fold(b)(b.master)
  }

  def getOrCreate(): SparkSession = {
    val s = builder(master = Some(s"local[${cpus()}]")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

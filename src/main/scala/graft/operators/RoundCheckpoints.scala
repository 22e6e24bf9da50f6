package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** THE materialization helper of the graph and dedup operators, for
  * two kinds of frame: setup frames built once, and round state.
  *
  * [[materializeNow]] builds a SHARED frame — one that later queries
  * read several times (a graph's edge list, a corpus's signatures) —
  * eagerly, once, as a checkpoint. A lazy `persist` read N times costs
  * N jobs under AQE: each scan of the not-yet-built cache plans its own
  * table-cache stage, and all but the first block on the first one's
  * block lock. A checkpoint is a plain leaf scan, built before any
  * reader is planned. (Its hash partitioning is not kept: AQE reports
  * none for the plan it checkpoints, so a join on its key still plans
  * an exchange.) [[cacheNow]] is the same eager build as a cache, for
  * a frame that every round JOINS: a built cache reports its real size
  * to the planner, where a checkpoint keeps the estimate of the plan it
  * ran, so a round that joins a small edge list is planned as a
  * broadcast of it up front instead of a shuffle of it that AQE only
  * replaces after that shuffle ran (one job per round). [[release]]
  * drops what `materializeNow` and `cacheNow` built: an operator that
  * returns a materialized result calls it in a `finally`; one that
  * returns a LAZY plan over the frame leaves it to the ContextCleaner,
  * which unpersists it once the plan is unreferenced.
  *
  * [[materialize]] is the per-round form for an iterative operator's
  * state. Without a `checkpointDir` a round is a lazy `localCheckpoint`:
  * fast and single-process, but its blocks have NO recompute path, so
  * any executor loss mid-iteration fails the run. With one, a round is a
  * RELIABLE checkpoint into that directory (survives executor loss); its
  * write is a second job over the round's plan, which would recompute
  * the round from scratch unless the frame is cached — so it is cached,
  * and [[releaseSuperseded]], called after the action that built the
  * newest round (which writes the checkpoint of every marked RDD in its
  * lineage — doCheckpoint recurses ancestors), drops those caches and
  * the blocks of every earlier round. The newest round survives
  * [[release]]: an operator whose result is its last round leaves
  * exactly that cached. Checkpoint FILES of superseded rounds are
  * reclaimed by the ContextCleaner only under
  * spark.cleaner.referenceTracking.cleanCheckpoints=true (GraftSession
  * sets it); on sessions without the flag they accumulate in
  * `checkpointDir` until app exit — the durability trade the option
  * buys. Sets the session's checkpoint dir if none is configured; an
  * already-configured dir wins.
  *
  * [[fixedRound]] is the cadence of a fixed-round iteration.
  */
private[operators] final class RoundCheckpoints(
    spark: SparkSession, checkpointDir: Option[String]) {
  checkpointDir.foreach { dir =>
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
  }
  private var pendingCaches: List[DataFrame] = Nil
  private var rounds: List[DataFrame] = Nil // newest first
  private var shared: List[DataFrame] = Nil
  private var sharedCaches: List[DataFrame] = Nil

  def materialize(plan: DataFrame): DataFrame = {
    val out =
      if (checkpointDir.isDefined) {
        val cached = plan.persist(StorageLevel.MEMORY_AND_DISK)
        pendingCaches ::= cached
        cached.checkpoint(eager = false)
      } else plan.localCheckpoint(eager = false, storageLevel = StorageLevel.MEMORY_AND_DISK)
    rounds ::= out
    out
  }

  /** `plan`, computed now, once (see the class doc). The reliable form
    * needs no cache: its eager write job is the only pass over `plan`. */
  def materializeNow(plan: DataFrame): DataFrame = {
    val out =
      if (checkpointDir.isDefined) plan.checkpoint(eager = true)
      else plan.localCheckpoint(eager = true, storageLevel = StorageLevel.MEMORY_AND_DISK)
    shared ::= out
    out
  }

  /** `plan`, cached and built now, once (see the class doc). */
  def cacheNow(plan: DataFrame): DataFrame = {
    val out = plan.persist(StorageLevel.MEMORY_AND_DISK)
    sharedCaches ::= out
    out.count()
    out
  }

  /** Round `k` (0-based) of a fixed `iters`-round iteration: every
    * [[RoundCheckpoints.interval]] rounds and on the last, `plan`
    * materialized, built by a `count()` and its predecessors released;
    * otherwise `plan` itself. Each round reads the prior one once, so
    * the lineage between checkpoints grows linearly and those rounds
    * chain into one job — the checkpoint only bounds lineage depth, and
    * the values are the same either way. */
  def fixedRound(plan: DataFrame, k: Int, iters: Int): DataFrame =
    if (k == iters - 1 || (k + 1) % RoundCheckpoints.interval == 0) {
      val next = materialize(plan)
      next.count()
      releaseSuperseded()
      next
    } else plan

  /** After the action that built the newest round: drop the pending
    * round caches and every earlier round's blocks. */
  def releaseSuperseded(): Unit = {
    pendingCaches.foreach(_.unpersist())
    pendingCaches = Nil
    rounds.drop(1).foreach(dropBlocks)
    rounds = rounds.take(1)
  }

  /** [[releaseSuperseded]], then drop every [[materializeNow]] and
    * [[cacheNow]] frame. */
  def release(): Unit = {
    releaseSuperseded()
    shared.foreach(dropBlocks)
    shared = Nil
    sharedCaches.foreach(_.unpersist())
    sharedCaches = Nil
  }

  /** Unpersist a checkpoint's RDD: a local checkpoint's blocks (a
    * reliable checkpoint's RDD holds none). */
  private def dropBlocks(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
    case _ => ()
  }
}

private[operators] object RoundCheckpoints {

  /** Rounds between lineage-truncating checkpoints in a fixed-round
    * iteration ([[RoundCheckpoints.fixedRound]]). Settled at 4 by the
    * r12 A/B (OPTIMIZATION_r12.md). */
  val interval = 4
}

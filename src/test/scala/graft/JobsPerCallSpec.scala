package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph}

/** Spark jobs per graph and dedup operator call, an action on its result
  * included, at sf0.001 — the per-job driver cost dominates these
  * compute-light calls, so a restructure that brings back a per-read
  * cache job or a setup exchange fails here. AQE runs sibling stages
  * concurrently and re-plans as each one finishes, so whether a shuffle
  * it then replaces by a broadcast had already started is a matter of
  * timing: a count varies by one between runs. Each bound is the highest
  * count seen in 12 runs on the shared test session (local[4], 4 shuffle
  * partitions) under load, plus that one.
  */
class JobsPerCallSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("graph and dedup operators: jobs per call") {
    val edges = tradeEdges.localCheckpoint()
    val weighted = edges.withColumn("w", col("src") % 5 + 1)
    val seeds = Seq(1L, 2L, 3L, 1000001L, 9999999L).toDF("seed")
    val docs = wh.loadTable("documents").select("doc_id", "text").localCheckpoint()
    val ops: Seq[(String, Int, () => DataFrame)] = Seq(
      ("pageRank, 1 round", 11, () => Graph.pageRank(edges, "src", "dst", iters = 1)),
      ("pageRank, 2 rounds", 13, () => Graph.pageRank(edges, "src", "dst", iters = 2)),
      ("personalizedPageRank, 2 rounds", 15, () =>
        Graph.personalizedPageRank(edges, "src", "dst", seeds, "seed", iters = 2)),
      ("kCore, 2 rounds", 16, () => Graph.kCore(edges, "src", "dst", k = 3, maxIters = 2)),
      ("labelPropagation, 2 rounds", 15, () =>
        Graph.labelPropagation(edges, "src", "dst", iters = 2)),
      ("pageRankWeighted, 2 rounds", 13, () =>
        Graph.pageRankWeighted(weighted, "src", "dst", "w", iters = 2)),
      ("hits, 2 iters", 36, () => Graph.hits(edges, "src", "dst", iters = 2)),
      ("shortestPaths", 24, () =>
        Graph.shortestPaths(weighted, "src", "dst", seeds, "seed", Some("w"))),
      ("connectedComponents", 18, () => Dedup.connectedComponents(edges, "src", "dst")),
      ("minhashLsh", 8, () => Dedup.minhashLsh(docs, "doc_id", "text")),
      ("ngramJaccard", 10, () => Dedup.ngramJaccard(docs, "doc_id", "text")))
    // the call, then the caller's action on what it returns
    val counts = ops.map { case (name, _, op) => name -> jobsRunBy(op().count()) }
    val over = ops.zip(counts).collect {
      case ((name, bound, _), (_, c)) if c > bound => s"$name: $c jobs > $bound"
    }
    assert(over.isEmpty, over.mkString("; "))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.operators.{Dedup, Graph, Relational, Similarity}

/** The steady-state operators run once per arriving batch for the life
  * of a session, so each call may leave at most its own (eagerly
  * checkpointed) result cached — every intermediate it persisted must be
  * released. The iterative graph operators are held to the same rule:
  * their setup checkpoint and superseded rounds go, their result stays.
  * One-shot operators are exempt: their lazy result still reads their
  * caches.
  */
class CacheReleaseSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("steady-state operators cache at most their result per call") {
    GraftFunctions.ensure(spark)
    // the inputs of each operator's parity spec (DedupSpec,
    // RelationalSpec, SimilaritySpec)
    val docs = wh.loadTable("documents").select("doc_id", "text")
    val old7 = docs.filter(col("doc_id") === 7L).collect()(0).getString(1)
    val docBatch = Seq(
      (1000007L, old7 + " tiny suffix edit"),
      (1000999L, (1 to 40).map(i => s"fresh$i").mkString(" "))
    ).toDF("doc_id", "text")
    val sigBatch = Dedup.simhashSignatures(
      Seq((1000007L, old7)).toDF("doc_id", "text"), "doc_id", "text")
    val emb = wh.loadTable("embeddings")
    val vecStore = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val vecBatch = emb.filter(col("vec_id").isin(3L, 11L))
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
    val spanHistory = docs.filter(col("doc_id") < 60)
    val spanBatch = spanHistory.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"),
        concat(lit("BATCH CLONE PREFIX >> "), col("text")).as("text"))
    def split(rows: Seq[(Long, String)], isNew: Long => Boolean) =
      (rows.filterNot(r => isNew(r._1)).toDF("id", "s"),
        rows.filter(r => isNew(r._1)).toDF("id", "s"))
    val (editHist, editBatch) =
      split(IncrementalFixtures.editRows, IncrementalFixtures.editIsNew)
    val (fuzzyHist, fuzzyBatch) =
      split(IncrementalFixtures.fuzzyRows, IncrementalFixtures.fuzzyIsNew)
    val clustered = Seq(
      (1L, 10L, Seq(0.1f, 0.0f)), (1L, 11L, Seq(0.2f, 0.0f)),
      (1L, 12L, Seq(0.9f, 0.0f)),
      (2L, 20L, Seq(0.5f, 0.5f)), (2L, 21L, Seq(0.5f, 0.5f)),
      (3L, 30L, Seq(-0.3f, 0.4f)))
      .toDF("c", "id", "v")

    val ops: Seq[(String, () => DataFrame)] = Seq(
      "minhashLshIncremental" -> (() => Dedup.minhashLshIncremental(docBatch,
        "doc_id", "text", Dedup.minhashSignatures(docs, "doc_id", "text",
          shingleWidth = 3, numPerms = 128, seed = 42L))),
      "hammingNearDupIncremental" -> (() => Dedup.hammingNearDupIncremental(
        sigBatch, "id", "sig", Dedup.simhashSignatures(docs, "doc_id", "text"))),
      "embeddingNearDupIncremental" -> (() => Dedup.embeddingNearDupIncremental(
        vecBatch, "vec_id", "embedding", vecStore, threshold = 0.9,
        numBits = 6, numTables = 32)),
      "fuzzyJoinIncremental" -> (() => Relational.fuzzyJoinIncremental(
        fuzzyBatch, "id", "s", Relational.fuzzyGramStore(fuzzyHist, "id", "s"),
        fuzzyHist, thresholdNum = 4, thresholdDen = 5)),
      "editDistanceJoinIncremental" -> (() => Relational.editDistanceJoinIncremental(
        editBatch, "id", "s", Relational.editSegmentStore(editHist, "id", "s", maxDist = 3),
        editHist, maxDist = 3)),
      "sharedSpansIncremental" -> (() => Dedup.sharedSpansIncremental(spanBatch,
        "doc_id", "text", Dedup.spanAnchorStore(spanHistory, "doc_id", "text"),
        spanHistory)),
      "clusterMedoid" -> (() => Similarity.clusterMedoid(clustered, "id", "v", "c")))

    assertNoLeaks(ops)
  }

  test("graph operators cache at most their result per call") {
    val edges = tradeEdges.localCheckpoint()
    val weighted = edges.withColumn("w", col("src") % 5 + 1)
    val seeds = Seq(1L, 2L, 1000001L).toDF("seed")
    // enough rounds that a superseded round checkpoint exists
    assertNoLeaks(Seq(
      "pageRank" -> (() => Graph.pageRank(edges, "src", "dst")),
      "personalizedPageRank" -> (() =>
        Graph.personalizedPageRank(edges, "src", "dst", seeds, "seed")),
      "pageRankWeighted" -> (() => Graph.pageRankWeighted(weighted, "src", "dst", "w")),
      "kCore" -> (() => Graph.kCore(edges, "src", "dst", k = 2)),
      "labelPropagation" -> (() => Graph.labelPropagation(edges, "src", "dst", iters = 5)),
      "hits" -> (() => Graph.hits(edges, "src", "dst")),
      "shortestPaths" -> (() =>
        Graph.shortestPaths(weighted, "src", "dst", seeds, "seed", Some("w"))),
      "connectedComponents" -> (() => Dedup.connectedComponents(edges, "src", "dst"))))
  }

  test("shortestPaths caches nothing when it refuses a negative weight") {
    val edges = tradeEdges.withColumn("w", col("src") % 5 - 1).localCheckpoint()
    val before = cachedRddIds
    intercept[IllegalArgumentException] {
      Graph.shortestPaths(edges, "src", "dst", Seq(1L).toDF("seed"), "seed", Some("w"))
    }
    assert(cachedSince(before, 0) === 0)
  }

  /** Each op, run once, leaves at most one cached RDD behind. The count
    * materializes a lazily returned result, so caches its plan reads show
    * up too. */
  private def assertNoLeaks(ops: Seq[(String, () => DataFrame)]): Unit = {
    val leaks = ops.flatMap { case (name, op) =>
      val before = cachedRddIds
      assert(op().count() > 0, s"$name: the fixture yields rows")
      val added = cachedSince(before, 1)
      if (added <= 1) None else Some(s"$name: $added cached RDDs")
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, TextAnalysis}

/** The workflow-level analogue of the reference's test_workflow.py: a
  * realistic multi-stage training-data pipeline composed from graft
  * operators end-to-end — dedup → near-dup prune → quality gate → token
  * accounting → save/reload — asserting the invariants a data curator
  * cares about at every stage.
  */
class PipelineIntegrationSpec extends AnyFunSuite with SparkTestBase {

  test("docs corpus flows dedup -> near-dup prune -> quality gate -> stats -> storage") {
    val docs = wh.loadTable("documents")
    val total = docs.count()

    // 1. exact dedup: keep the minimum doc_id per content hash
    val keepExact = Dedup.exact(docs, "doc_id", "text").select(col("keep_id").as("doc_id"))
    val afterExact = docs.join(keepExact, "doc_id")

    // 2. near-dup prune: of each minhash pair, drop the larger id
    val nearPairs = Dedup.minhashLsh(afterExact, "doc_id", "text",
      shingleWidth = 3, numPerms = 128, bands = 32, threshold = 0.7)
    val drop = nearPairs.select(col("id_b").as("doc_id")).distinct()
    val afterNear = afterExact.join(drop, Seq("doc_id"), "left_anti")
    assert(afterNear.count() < total, "near-dup prune removed nothing")

    // 3. quality gate + token accounting
    val scored = TextAnalysis.tokenCount(
      TextAnalysis.quality(afterNear, "text"), "text")
    val kept = scored.filter(col("quality") > 0.5)
    assert(kept.count() > 0)

    // 4. save → reload, schema and counts intact
    val out = Files.createTempDirectory("graft_pipe").toString
    wh.saveTable(kept.select("doc_id", "text", "quality", "n_word_tokens"), out, "curated")
    val back = Warehouse(spark, out).loadTable("curated")
    assert(back.count() === kept.count())
    assert(back.schema.fieldNames.toSet === Set("doc_id", "text", "quality", "n_word_tokens"))

    // pipeline is idempotent: re-running dedup on curated data drops nothing
    val again = Dedup.minhashLsh(back, "doc_id", "text",
      shingleWidth = 3, numPerms = 128, bands = 32, threshold = 0.7)
    assert(again.count() === 0, "curated corpus still contains near-dups")
  }
}

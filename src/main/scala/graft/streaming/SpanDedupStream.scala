package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Warehouse
import graft.operators.Dedup

/** STREAMING-NATIVE substring dedup: the [[Dedup.sharedSpansIncremental]]
  * composition packaged as a durable foreachBatch sink. The span store —
  * history's winnowing anchors AND texts — lives in warehouse tables, not
  * in-memory state, so the stream survives restarts (a new session picks
  * up the store where the last one left off), the store is inspectable
  * like any other table, and store growth is append-only parquet (bucket
  * the anchor table by `h` at scale for bucket-pruned probes).
  *
  * CRASH-SAFE idempotence: plain appends would break in the window
  * between the three writes (a replay after a partial failure would
  * either double-append anchors — inflating the occurrence-cap counts
  * forever — or skip the spans write entirely). Every write therefore
  * goes to a hive-style `batch_id=N` PARTITION of its table, overwritten
  * whole: replaying micro-batch N (foreachBatch is at-least-once on
  * recovery) rewrites exactly the same three partitions to the same
  * contents, regardless of where the previous attempt died. Cross-batch
  * re-delivery of already-ingested documents is separately dropped by
  * the id guard (ids already in the texts store under a DIFFERENT
  * batch_id), so duplicated docs neither duplicate store rows nor
  * re-emit spans.
  *
  * Per batch the work is O(batch + matches): one anchor pass over the
  * batch, a broadcast hash-probe of the store, text fetches for bounded
  * candidates ([[Dedup.sharedSpansIncremental]]'s contract), then three
  * partition writes.
  */
object SpanDedupStream {

  private def anchorsTable(storeName: String) = s"${storeName}_anchors"
  private def textsTable(storeName: String) = s"${storeName}_texts"

  private def partitionPath(wh: Warehouse, dir: String, table: String,
      batchId: Long): String =
    s"${graft.Warehouse.tablePath(dir, table)}/batch_id=$batchId"

  /** Process micro-batch `batchId` against the persisted store under
    * `wh.baseDir`/`outDir`: returns the spans found (batch-vs-history
    * and batch-internal; never history-vs-history) and overwrites the
    * batch's `batch_id=$batchId` partitions of the anchors and texts
    * store tables. Absent store tables bootstrap as empty history.
    * Batch ids must be unique per batch and stable across replays of
    * the same batch (foreachBatch's batchId contract). Returns an empty
    * frame for an all-replayed batch.
    */
  def processBatch(wh: Warehouse, batch: DataFrame, idCol: String,
      textCol: String, storeName: String, batchId: Long, outDir: String = "",
      minLen: Int = 40, k: Int = 20, maxHashDocs: Int = 100,
      maxHashOccurrences: Int = 1000): DataFrame = {
    val dir = if (outDir.nonEmpty) outDir else wh.baseDir
    // reads must target the STORE dir, which may differ from wh.baseDir
    val swh = if (dir == wh.baseDir) wh else Warehouse(wh.spark, dir)
    val aT = anchorsTable(storeName)
    val tT = textsTable(storeName)
    val b = batch.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    val (storeAnchors, history, haveStore) =
      if (wh.tableExists(dir, tT))
        // exclude THIS batch's partitions: a replay after a partial
        // failure must see the state as if its previous attempt never
        // ran, or the id guard below would filter the whole batch out
        // and overwrite its partitions with empty data
        (swh.loadTable(aT).filter(col("batch_id") =!= batchId)
           .select("id", "pos", "h"),
         swh.loadTable(tT).filter(col("batch_id") =!= batchId)
           .select("id", "text"), true)
      else
        (Dedup.spanAnchorStore(b.limit(0), "id", "text", minLen, k),
          b.limit(0), false)
    // id-level idempotence for CROSS-batch re-delivery: drop docs already
    // ingested by an earlier batch before any work
    val fresh = (if (haveStore)
        b.join(history.select("id"), Seq("id"), "left_anti")
      else b)
      .localCheckpoint(true) // frozen: batch sources are spent after the trigger
    // eagerly checkpointed by the operator: materialized BEFORE the
    // store writes below
    val spans = Dedup.sharedSpansIncremental(fresh, "id", "text",
      storeAnchors, history, minLen, k, maxHashDocs, maxHashOccurrences)
    wh.saveDf(Dedup.spanAnchorStore(fresh, "id", "text", minLen, k),
      partitionPath(wh, dir, aT, batchId))
    wh.saveDf(fresh, partitionPath(wh, dir, tT, batchId))
    Warehouse.invalidate(dir, aT)
    Warehouse.invalidate(dir, tT)
    spans
  }

  /** foreachBatch sink: spans of micro-batch N overwrite the
    * `batch_id=N` partition of `storeName`_spans alongside the store
    * tables — replay-idempotent end to end.
    *
    * {{{
    * docsStream.writeStream
    *   .foreachBatch(SpanDedupStream.sink(wh, "doc_id", "text", "spanstore"))
    *   .start()
    * }}}
    */
  def sink(wh: Warehouse, idCol: String, textCol: String, storeName: String,
      outDir: String = "", minLen: Int = 40, k: Int = 20,
      maxHashDocs: Int = 100, maxHashOccurrences: Int = 1000):
      (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    val dir = if (outDir.nonEmpty) outDir else wh.baseDir
    val spans = processBatch(wh, batch, idCol, textCol, storeName, batchId,
      dir, minLen, k, maxHashDocs, maxHashOccurrences)
    val sT = s"${storeName}_spans"
    wh.saveDf(spans, partitionPath(wh, dir, sT, batchId))
    Warehouse.invalidate(dir, sT)
  }

  /** CONTINUOUS-QUERY form: the whole ingest→dedup→store pipeline as one
    * long-running Structured Streaming query. Documents arrive as new
    * parquet files under the `docsTable` warehouse table
    * ([[Warehouse.loadTableStream]] — same schema contract as the batch
    * load), each micro-batch runs [[sink]], and progress checkpoints to
    * `checkpointDir`: a restarted query resumes at the next unread file
    * with CONTINUOUS batch ids, which is exactly the contract the
    * partition-overwrite idempotence of [[processBatch]] needs (a replay
    * of the in-flight batch after a crash rewrites its own partitions).
    *
    * `availableNow = true` drains everything currently ingestible and
    * terminates (incremental batch over a growing table — run it from
    * cron); `false` keeps the query live, micro-batching as files land.
    * `maxFilesPerTrigger` bounds per-batch volume for steady-state
    * latency. Returns the running [[StreamingQuery]].
    */
  def start(wh: Warehouse, docsTable: String, idCol: String, textCol: String,
      storeName: String, checkpointDir: String, outDir: String = "",
      availableNow: Boolean = true, maxFilesPerTrigger: Int = 0,
      minLen: Int = 40, k: Int = 20, maxHashDocs: Int = 100,
      maxHashOccurrences: Int = 1000):
      org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.Trigger
    val src = wh.loadTableStream(docsTable, maxFilesPerTrigger)
    var writer = src.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(sink(wh, idCol, textCol, storeName, outDir,
        minLen, k, maxHashDocs, maxHashOccurrences))
    if (availableNow) writer = writer.trigger(Trigger.AvailableNow())
    writer.start()
  }

  /** Streaming read of the emitted spans — the downstream half of the
    * continuous pipeline: a consumer (alerting, span-mass aggregation,
    * removeSpans application) subscribes to spans as they are produced
    * instead of re-scanning the table. New `batch_id=N` partitions are
    * discovered as new files; the schema (incl. the `batch_id` partition
    * column) comes from the table as written. The spans table must exist
    * (at least one processed batch) before subscribing.
    */
  def spansStream(wh: Warehouse, storeName: String, outDir: String = ""): DataFrame = {
    val dir = if (outDir.nonEmpty) outDir else wh.baseDir
    val sT = s"${storeName}_spans"
    require(wh.tableExists(dir, sT),
      s"spansStream: spans table '$sT' does not exist yet under $dir")
    val swh = if (dir == wh.baseDir) wh else Warehouse(wh.spark, dir)
    swh.loadTableStream(sT)
  }
}

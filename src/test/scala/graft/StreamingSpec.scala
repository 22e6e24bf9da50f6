package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Events
import graft.streaming.Events.Event

class StreamingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ts(min: Long) = new Timestamp(1700000000000L / 3600000 * 3600000 + min * 60000)

  private val real = Seq(
    Event(1, ts(5), 1, "click", 1.00),
    Event(2, ts(10), 1, "click", 2.50),
    Event(3, ts(65), 2, "view", 3.00),
    Event(4, ts(70), 1, "click", 4.25))
  // far-future sentinel: advances the watermark so every real window/session
  // closes; its own output is filtered out of the assertions
  private val sentinel = Event(99, ts(60 * 24 * 400), 99, "sentinel", 0.0)

  test("streaming windowed agg equals the batch re-expression once closed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Events.windowedAggStream(mem.toDF(), watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("win_out").outputMode("append").start()
    try {
      mem.addData(real: _*)
      q.processAllAvailable()
      mem.addData(sentinel)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("win_out").filter($"event_type" =!= "sentinel")
      .collect().map(_.toSeq).toSet
    val expect = Events.windowedAggBatch(real.toDF()).collect().map(_.toSeq).toSet
    assert(got === expect)
  }

  test("streaming sessionization closes sessions on gap and on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Events.sessionizeStream(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      mem.addData(real: _*)   // user 1: session {5,10} closed by gap to 70
      q.processAllAvailable()
      mem.addData(sentinel)   // watermark jump times out open sessions
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess_out").filter($"user_id" =!= 99)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet // (user_id, n_events)
    val expect = Events.sessionizeBatch(real.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got === expect)
    // exact shape: user 1 has sessions of 2 and 1 events; user 2 has 1
    assert(got === Set((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("native session_window sessionization equals the window-function form") {
    // full-contract parity on the real events table: same sessions, same
    // indices, same microsecond bounds — the two forms share one oracle
    val ev = wh.loadTable("events")
    val a = Events.sessionizeBatch(ev)
      .select("user_id", "session_idx", "n_events", "start_us", "end_us", "duration_us")
      .collect().map(_.toSeq).toSet
    val b = Events.sessionizeNative(ev)
      .collect().map(_.toSeq).toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("stream-stream interval join equals the batch interval join") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = Seq(
      Event(10, ts(40), 1, "purchase", 9.99),
      Event(11, ts(100), 1, "purchase", 5.00),
      Event(12, ts(50), 2, "purchase", 1.00))
    val clicks = Seq(
      Event(1, ts(15), 1, "click", 0.1),  // within 30min of purchase 10
      Event(2, ts(39), 1, "click", 0.2),  // within 30min of purchase 10
      Event(3, ts(80), 1, "click", 0.3),  // within 30min of purchase 11
      Event(4, ts(5), 2, "click", 0.4))   // too old for purchase 12
    val memL = MemoryStream[Event]
    val memR = MemoryStream[Event]
    val q = Events.intervalJoinStream(memL.toDF(), memR.toDF())
      .writeStream.format("memory").queryName("ij_out").outputMode("append").start()
    try {
      memL.addData(purchases: _*)
      memR.addData(clicks: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ij_out").collect().map(_.toSeq).toSet
    val expect = Events.intervalJoinBatch(purchases.toDF(), clicks.toDF())
      .collect().map(_.toSeq).toSet
    assert(got === expect)
    assert(got.map(r => (r(1), r(3))) === Set((10L, 1L), (10L, 2L), (11L, 3L)))
  }

  test("streaming dedup keeps first occurrence within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Events.dedupStream(mem.toDF(), Seq("event_type"), watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      mem.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 2, "click", 2.0),  // dup key within watermark
        Event(3, ts(2), 3, "view", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_out").collect().map(_.getAs[Long]("event_id")).toSet
    assert(got === Set(1L, 3L))
  }

  test("map-side text operators apply unchanged to streaming frames (stream == batch)") {
    // The LLM-pipeline scoring operators (quality, langId, repetition,
    // gopherFilter) are stateless map-side transforms, so the SAME
    // operator call must compose with readStream and produce batch-
    // identical rows — the property that lets a pipeline score documents
    // on ingest instead of in a second pass.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, (1 to 60).map(i => s"word$i").mkString(" ") + " the and of it"),
      (2L, "the and of it brief words here"),
      (3L, (("spam spam " * 40).trim + " the and of")))
    val mem = MemoryStream[(Long, String)]
    val streamed = TextAnalysis.gopherFilter(
      TextAnalysis.langId(mem.toDF().toDF("doc_id", "text"), "text"), "text")
    assert(streamed.isStreaming, "operator chain must preserve streaming-ness")
    val q = streamed
      .writeStream.format("memory").queryName("text_stream_out")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("text_stream_out")
      .select("doc_id", "pred_lang", "n_words", "dup_ngram_frac", "gopher_pass")
      .collect().map(_.toSeq).toSet
    val expect = TextAnalysis.gopherFilter(
      TextAnalysis.langId(docs.toDF("doc_id", "text"), "text"), "text")
      .select("doc_id", "pred_lang", "n_words", "dup_ngram_frac", "gopher_pass")
      .collect().map(_.toSeq).toSet
    assert(got === expect)
  }

  test("decontaminateMapSide applies unchanged to streaming frames (stream == batch)") {
    // The join-form decontaminate cannot stream (hit-distinct + flag join
    // are not append-mode operators); the trained-model kernel probe is a
    // stateless map, so the SAME call composes with readStream — the
    // decontaminate-on-ingest path.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val bench = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val model = Dedup.trainDecontaminationSet(bench, "text", n = 3)
    val docs = Seq(
      (1L, "we saw the quick brown animal run"),
      (2L, "entirely different words appear here now"),
      (3L, "fox jumps high over everything else"))
    val mem = MemoryStream[(Long, String)]
    val streamed = Dedup.decontaminateMapSide(
      mem.toDF().toDF("doc_id", "text"), "text", model)
    assert(streamed.isStreaming)
    val q = streamed.select("doc_id", "contaminated")
      .writeStream.format("memory").queryName("decont_stream_out")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("decont_stream_out")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val expect = Dedup.decontaminateMapSide(docs.toDF("doc_id", "text"),
        "text", model)
      .select("doc_id", "contaminated")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === expect && got === Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("blocklistTag applies unchanged to streaming frames (stream == batch)") {
    // the Aho-Corasick automaton rides as a codegen reference object and
    // the tagging is a stateless map — the same blocklist-on-ingest path
    // as decontaminateMapSide
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val model = TextAnalysis.trainBlocklist(Seq("bad word", "worse"))
    val docs = Seq(
      (1L, "this has a bad word inside"),
      (2L, "perfectly clean text"),
      (3L, "worse and worse again"))
    val mem = MemoryStream[(Long, String)]
    val streamed = TextAnalysis.blocklistTag(
      mem.toDF().toDF("doc_id", "text"), "text", model)
    assert(streamed.isStreaming)
    val q = streamed.select("doc_id", "block_hits", "blocked")
      .writeStream.format("memory").queryName("blocklist_stream_out")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("blocklist_stream_out")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val expect = TextAnalysis.blocklistTag(docs.toDF("doc_id", "text"),
        "text", model)
      .select("doc_id", "block_hits", "blocked")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === expect &&
      got === Map(1L -> ((1L, true)), 2L -> ((0L, false)), 3L -> ((2L, true))))
  }

  test("composed text pipeline (normalize → decontaminate → gopher) streams unchanged") {
    // q_stream_pipeline's chain run through an actual MemoryStream in two
    // triggers: every stage is a stateless kernel map, so the composed
    // chain — not just each operator alone — must produce batch-identical
    // rows. This is the composition guarantee the join-form
    // decontaminate pitfall (r4) made worth pinning.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, TextAnalysis}
    val docs = wh.loadTable("documents").filter($"text".isNotNull)
      .select("doc_id", "lang", "text")
    val model = Dedup.trainDecontaminationSet(
      TextAnalysis.normalize(docs.filter($"doc_id" % 20 === 0), "text"),
      "norm", n = 3)
    val corpus = docs.filter($"doc_id" % 20 =!= 0)
    val rows = corpus.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val (p1, p2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, String, String)]
    val streamed = SparkEntry.streamTextPipeline(
      mem.toDF().toDF("doc_id", "lang", "text"), model)
    assert(streamed.isStreaming, "composed chain must preserve streaming-ness")
    val cols = Seq("doc_id", "lang", "contaminated", "n_words",
      "dup_ngram_frac", "gopher_pass")
    val q = streamed.select(cols.head, cols.tail: _*)
      .writeStream.format("memory").queryName("pipe_stream_out")
      .outputMode("append").start()
    try {
      mem.addData(p1: _*)
      q.processAllAvailable()
      mem.addData(p2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("pipe_stream_out").collect().map(_.toSeq).toSet
    val expect = SparkEntry.streamTextPipeline(corpus, model)
      .select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty, "stream delivered nothing")
    assert(got === expect)
  }

  test("incremental paragraph dedup over foreachBatch equals one-shot batch dedup") {
    // The steady-state ingestion composition: a document stream is
    // cleaned per micro-batch against the accumulated paragraph-hash
    // store (Dedup.paragraphDedupIncremental inside foreachBatch, store
    // folded between triggers). With ids arriving in temporal order the
    // concatenated per-batch outputs must equal Dedup.paragraphDedup run
    // once over everything — stream == batch, state externalized to the
    // store instead of an in-stream state operator (text never enters
    // streaming state).
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val b1 = Seq((1L, "alpha\nshared footer\nbeta"), (2L, "gamma\nshared footer"))
    val b2 = Seq((3L, "alpha\ndelta"), (4L, "delta\nshared footer\nepsilon"))
    val all = (b1 ++ b2).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    var store = Seq.empty[String].toDF("h")
    val out = collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= Dedup.paragraphDedupIncremental(batch, "doc_id", "text", store)
          .collect().map(_.toSeq)
        // fold this batch's hashes into the store; localCheckpoint
        // materializes so the union never re-reads a spent micro-batch
        store = store.unionByName(
            Dedup.paragraphHashStore(batch, "doc_id", "text"))
          .distinct().localCheckpoint(eager = true)
        ()
      }
      .start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val expect = Dedup.paragraphDedup(all, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(out.toSet === expect)
    // the fixture exercises BOTH halves: cross-batch collapse (doc 3
    // loses "alpha" to batch 1) and within-batch election (doc 4 loses
    // "delta" to doc 3)
    val byId = out.map(s => s.head -> s(3)).toMap
    assert(byId(3L) === "delta" && byId(4L) === "epsilon")
  }

  test("incremental substring dedup over foreachBatch equals one-shot shared spans") {
    // Streaming-native substring dedup: each micro-batch probes the
    // accumulated ANCHOR STORE (Dedup.sharedSpansIncremental inside
    // foreachBatch), then folds its own anchors into the store — the
    // paragraph-incremental composition applied to spans. Concatenated
    // per-batch outputs must equal the one-shot sharedSpans over
    // everything, minus the old-vs-old (history-internal) pairs.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val lic = "This exactly repeated licensing paragraph spans well over forty characters total."
    val h = Seq((1L, s"first historical document body $lic with tail one"),
      (2L, "second historical body sharing nothing with anything else at all"))
    val b1 = Seq((10L, s"batch one document $lic and a different tail"))
    val b2 = Seq((20L, s"batch two document with $lic plus more"),
      (21L, s"batch two document with $lic plus more")) // batch-internal pair
    val all = (h ++ b1 ++ b2).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    var history = h.toDF("doc_id", "text").localCheckpoint(eager = true)
    var store = Dedup.spanAnchorStore(history, "doc_id", "text", minLen = 40, k = 8)
      .localCheckpoint(eager = true)
    val out = collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= Dedup.sharedSpansIncremental(batch, "doc_id", "text", store,
            history, minLen = 40, k = 8, maxHashDocs = 0, maxHashOccurrences = 0)
          .collect().map(_.toSeq)
        store = store.unionByName(
            Dedup.spanAnchorStore(batch, "doc_id", "text", minLen = 40, k = 8))
          .localCheckpoint(eager = true)
        history = history.unionByName(batch.select("doc_id", "text"))
          .localCheckpoint(eager = true)
        ()
      }
      .start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val expect = Dedup.sharedSpans(all, "doc_id", "text", minLen = 40, k = 8,
        maxHashDocs = 0, maxHashOccurrences = 0)
      .filter($"id_a" >= 10L || $"id_b" >= 10L) // old-old never generated
      .collect().map(_.toSeq).toSet
    assert(out.toSet === expect)
    // nontrivial on both halves: cross-batch (10 vs 20/21) AND
    // batch-internal (20 vs 21) pairs surfaced
    assert(out.exists(s => s.head == 10L && Seq(20L, 21L).contains(s(1))))
    assert(out.exists(s => s.head == 20L && s(1) == 21L))
  }

  test("SpanDedupStream: durable store sink is restart-safe and replay-idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.SpanDedupStream
    val storeDir = java.nio.file.Files.createTempDirectory("graft-spanstore").toString
    val w = Warehouse(spark, storeDir)
    val lic = "This exactly repeated licensing paragraph spans well over forty characters total."
    val h = Seq((1L, s"first historical document body $lic with tail one"))
    val b1 = Seq((10L, s"batch one document $lic and a different tail"))
    val b2 = Seq((20L, s"batch two document with $lic plus more"),
      (21L, s"batch two document with $lic plus more"))
    // bootstrap: history ingested as a batch with its own id (absent
    // store tables); the streaming batchIds below start at 0
    SpanDedupStream.processBatch(w, h.toDF("doc_id", "text"), "doc_id", "text",
      "ss", batchId = 1000L, minLen = 40, k = 8,
      maxHashDocs = 0, maxHashOccurrences = 0).count()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(SpanDedupStream.sink(w, "doc_id", "text", "ss",
        minLen = 40, k = 8, maxHashDocs = 0, maxHashOccurrences = 0))
      .start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable() // at-least-once replay
    } finally q.stop()
    val spanCols = Seq("id_a", "id_b", "pos_a", "pos_b", "span_len")
    val got = w.loadTable("ss_spans")
      .select(spanCols.head, spanCols.tail: _*).collect().map(_.toSeq).toSet
    val expect = Dedup.sharedSpans((h ++ b1 ++ b2).toDF("doc_id", "text"),
        "doc_id", "text", minLen = 40, k = 8,
        maxHashDocs = 0, maxHashOccurrences = 0)
      .filter($"id_a" >= 10L || $"id_b" >= 10L)
      .collect().map(_.toSeq).toSet
    assert(got === expect)
    // replay was a no-op: one store row per distinct ingested doc
    assert(w.loadTable("ss_texts").count() === (h ++ b1 ++ b2).length)
    // crash-window idempotence: re-running an OLD batch id end-to-end
    // (simulating recovery after any partial failure) rewrites its own
    // partitions to identical contents — store and spans are unchanged
    SpanDedupStream.sink(w, "doc_id", "text", "ss", minLen = 40, k = 8,
      maxHashDocs = 0, maxHashOccurrences = 0)(b2.toDF("doc_id", "text"), 1L)
    assert(w.loadTable("ss_texts").count() === (h ++ b1 ++ b2).length)
    assert(w.loadTable("ss_spans")
      .select(spanCols.head, spanCols.tail: _*).collect().map(_.toSeq).toSet === expect)
    // restart: a FRESH warehouse over the same dir continues from disk —
    // a new batch still dedups against everything ingested before it
    val w2 = Warehouse(spark, storeDir)
    val b3 = Seq((30L, s"post restart document carrying $lic once more"))
    val spans3 = SpanDedupStream.processBatch(w2, b3.toDF("doc_id", "text"),
        "doc_id", "text", "ss", batchId = 2000L, minLen = 40, k = 8,
        maxHashDocs = 0, maxHashOccurrences = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(spans3 === Set((1L, 30L), (10L, 30L), (20L, 30L), (21L, 30L)))
  }

  test("SpanDedupStream.start: continuous query drains, checkpoints, resumes") {
    import graft.operators.Dedup
    import graft.streaming.SpanDedupStream
    val baseDir = java.nio.file.Files.createTempDirectory("graft-cspan").toString
    val ckpt = s"$baseDir/ckpt"
    val docsPath = s"$baseDir/docs.parquet"
    val w = Warehouse(spark, baseDir)
    val lic = "This exactly repeated licensing paragraph spans well over forty characters total."
    val wave1 = Seq((1L, s"first continuous document body $lic with tail one"),
      (2L, s"second continuous document $lic and a different tail"))
    val wave2 = Seq((10L, s"later wave document with $lic plus more"),
      (11L, s"later wave document with $lic plus more"))
    wave1.toDF("doc_id", "text").write.mode("append").parquet(docsPath)

    // wave 1: drain-and-terminate (AvailableNow)
    val q1 = SpanDedupStream.start(w, "docs", "doc_id", "text", "css", ckpt,
      minLen = 40, k = 8, maxHashDocs = 0, maxHashOccurrences = 0)
    q1.awaitTermination()
    val spanCols = Seq("id_a", "id_b", "pos_a", "pos_b", "span_len")
    def spansNow(): Set[Seq[Any]] = w.loadTable("css_spans")
      .select(spanCols.head, spanCols.tail: _*).collect().map(_.toSeq).toSet
    val expect1 = Dedup.sharedSpans(wave1.toDF("doc_id", "text"), "doc_id", "text",
        minLen = 40, k = 8, maxHashDocs = 0, maxHashOccurrences = 0)
      .collect().map(_.toSeq).toSet
    assert(spansNow() === expect1 && expect1.nonEmpty)

    // wave 2 lands as new files; a restarted query resumes from the
    // checkpoint and processes ONLY the new files
    wave2.toDF("doc_id", "text").write.mode("append").parquet(docsPath)
    val q2 = SpanDedupStream.start(w, "docs", "doc_id", "text", "css", ckpt,
      minLen = 40, k = 8, maxHashDocs = 0, maxHashOccurrences = 0)
    q2.awaitTermination()
    val expectAll = Dedup.sharedSpans((wave1 ++ wave2).toDF("doc_id", "text"),
        "doc_id", "text", minLen = 40, k = 8,
        maxHashDocs = 0, maxHashOccurrences = 0)
      .collect().map(_.toSeq).toSet
    assert(spansNow() === expectAll)
    assert(w.loadTable("css_texts").count() === (wave1 ++ wave2).length)

    // idle restart: nothing new to read — store and spans unchanged
    val q3 = SpanDedupStream.start(w, "docs", "doc_id", "text", "css", ckpt,
      minLen = 40, k = 8, maxHashDocs = 0, maxHashOccurrences = 0)
    q3.awaitTermination()
    assert(spansNow() === expectAll)

    // downstream continuous consumer: subscribe to the emitted spans and
    // aggregate them incrementally (memory sink, drain-and-terminate)
    val down = SpanDedupStream.spansStream(w, "css")
      .groupBy().count()
      .writeStream.outputMode("complete").format("memory")
      .queryName("css_span_counts")
      .option("checkpointLocation", s"$baseDir/ckpt_down")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    down.awaitTermination()
    val n = spark.table("css_span_counts").collect()(0).getLong(0)
    assert(n === expectAll.size)
  }

  test("partitionPreReservoir bounds per-stratum volume and preserves exact min-k") {
    // the map-side reduction in front of the stateful shuffle: per
    // stratum, at most max(1, target) rows leave a partition, and they
    // are EXACTLY the partition's smallest (frac, key) entries — so the
    // one-task-per-stratum shuffle sees partitions × target rows, not
    // the whole stream, with bit-identical final reservoirs
    import graft.streaming.Events
    val targets = Map("a" -> 3L, "b" -> 1L, "c" -> 0L)
    val rows = (1 to 300).map { i =>
      val s = if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"
      (s, (i * 37 % 101) / 101.0, i.toLong)
    }
    val out = Events.partitionPreReservoir(targets)(rows.iterator).toSeq
    val byS = out.groupBy(_._1)
    assert(byS("a").size === 3)
    assert(byS("b").size === 1)
    assert(byS("c").size === 1, "target-0 stratum must keep presence (1 row)")
    val expect = rows.groupBy(_._1).map { case (s, rs) =>
      s -> rs.map(t => (t._2, t._3)).distinct.sorted
        .take(math.max(1L, targets(s)).toInt).toSet
    }
    assert(byS.map { case (s, rs) => s -> rs.map(t => (t._2, t._3)).toSet } === expect)
    // exact re-deliveries inside one partition collapse to one entry
    val dup = Events.partitionPreReservoir(Map("a" -> 5L))(
      Iterator(("a", 0.5, 1L), ("a", 0.5, 1L), ("a", 0.2, 2L))).toSeq
    assert(dup.map(t => (t._2, t._3)).toSet === Set((0.5, 1L), (0.2, 2L)))
  }

  test("mixtureReservoir converges to the batch mixtureSample across triggers") {
    // The streaming reservoir keeps the target smallest (frac, key) per
    // stratum — the batch sampler's exact selection rule — so after ANY
    // ingestion split the final state must equal Relational.mixtureSample
    // over everything seen. Two addData phases force multi-trigger state
    // evolution; re-delivering phase-1 rows in phase 2 exercises the
    // at-least-once idempotence guard.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Relational
    import graft.streaming.Events
    val docs = wh.loadTable("documents").select("doc_id", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (phase1, phase2) = docs.splitAt(docs.length / 2)
    val targets = Map("en" -> 40L, "fr" -> 25L, "de" -> 20L,
      "es" -> 15L, "zh" -> 100000L)
    val mem = MemoryStream[(Long, String)]
    val out = Events.mixtureReservoir(
      mem.toDF().toDF("doc_id", "lang"), "lang", "doc_id", targets)
    assert(out.isStreaming)
    val q = out.toDF()
      .writeStream.format("memory").queryName("mix_stream_out")
      .outputMode("update").start()
    try {
      mem.addData(phase1: _*)
      q.processAllAvailable()
      mem.addData(phase2 ++ phase1.take(20): _*) // re-delivery included
      q.processAllAvailable()
    } finally q.stop()
    // final reservoir per stratum = row with the max emission counter
    val finals = spark.table("mix_stream_out")
      .withColumn("__rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("stratum")
          .orderBy($"emission".desc)))
      .filter($"__rk" === 1)
      .collect().map(r => r.getAs[String]("stratum") ->
        r.getAs[Seq[Long]]("keys").toSet).toMap
    val batch = Relational.mixtureSample(
        docs.toDF("doc_id", "lang"), "lang", targets, keyCols = Seq("doc_id"))
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(finals === batch,
      s"stream-vs-batch mismatch: ${finals.keySet ++ batch.keySet}")
    // and the batch degeneration of the same operator agrees too
    val batchForm = Events.mixtureReservoir(
        docs.toDF("doc_id", "lang"), "lang", "doc_id", targets)
      .collect().map(r => r.stratum -> r.keys.toSet).toMap
    assert(batchForm === batch)
  }

  test("file-based event stream reads the warehouse parquet incrementally") {
    val stream = Events.readEventStream(spark, sfDir)
    assert(stream.isStreaming)
    val q = stream
      .writeStream.format("memory").queryName("file_stream_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // must actually deliver the table's rows, not complete vacuously
    val n = spark.table("file_stream_out").count()
    val expected = wh.loadTable("events").count()
    assert(n === expected, s"stream delivered $n of $expected rows")
  }

  test("incremental simhash over foreachBatch: growing store == one-shot") {
    import graft.operators.Dedup
    val docs = wh.loadTable("documents").select("doc_id", "text")
      .filter($"doc_id" < 60)
    // stream the corpus in 3 slices; each batch dedups against the store
    // of everything BEFORE it, then its signatures join the store —
    // accumulated pairs must equal the one-shot run (every pair has a
    // unique later side, so exactly one batch emits it)
    val slices = Seq(docs.filter($"doc_id" < 20),
      docs.filter($"doc_id" >= 20 && $"doc_id" < 40),
      docs.filter($"doc_id" >= 40))
    var store = Dedup.simhashSignatures(docs.limit(0), "doc_id", "text")
      .localCheckpoint()
    var pairs = Set.empty[(Long, Long)]
    // batch 1 has an empty store: its pairs are new-new, still emitted
    slices.foreach { slice =>
      val sigs = Dedup.simhashSignatures(slice, "doc_id", "text").localCheckpoint()
      pairs ++= Dedup.hammingNearDupIncremental(sigs, "id", "sig", store,
          maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      store = store.unionByName(sigs).localCheckpoint()
    }
    val oneShot = Dedup.simhash(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === oneShot,
      s"fold diverges: extra=${pairs -- oneShot} missing=${oneShot -- pairs}")
  }

  test("incremental packing over foreachBatch: store continuation == one-shot") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val rows = wh.loadTable("documents").select("doc_id", "text")
      .filter($"doc_id" < 90)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val in = MemoryStream[(Long, String)]
    var store = TextAnalysis.packStore(
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", "text", 90L, 4)
      .localCheckpoint(true)
    var assigns = Vector.empty[Seq[Any]]
    val q = in.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val asg = TextAnalysis.packBinsIncremental(batch, store,
          "doc_id", "text", 90L, 4).localCheckpoint(true)
        assigns ++= asg.collect().map(_.toSeq)
        store = TextAnalysis.updatePackStore(store, asg, "doc_id")
          .localCheckpoint(true)
        ()
      }.start()
    // append-ordered triggers: each batch's ids sort after the previous
    rows.grouped(30).foreach { g =>
      in.addData(g.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val oneShot = TextAnalysis.packBins(
        rows.toSeq.toDF("doc_id", "text"), "doc_id", "text", 90L, 4)
      .collect().map(_.toSeq)
    assert(assigns.sortBy(_.head.asInstanceOf[Long]) ===
      oneShot.sortBy(_.head.asInstanceOf[Long]).toVector)
  }

  test("quantile store over foreachBatch: rolled-up histogram == one-shot") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Stats
    val prices = wh.loadTable("orders").select("o_totalprice")
      .collect().map(_.getDouble(0))
    val in = MemoryStream[Double]
    var store = Stats.histogramStore(
        Seq.empty[Double].toDF("o_totalprice"), "o_totalprice",
        0.0, 600000.0, 200)
      .localCheckpoint(true)
    val q = in.toDS().toDF("o_totalprice").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        store = Stats.updateHistogramStore(store,
            Stats.histogramStore(batch, "o_totalprice", 0.0, 600000.0, 200))
          .localCheckpoint(true)
        ()
      }.start()
    prices.grouped(math.max(1, prices.length / 3)).foreach { g =>
      in.addData(g.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val qs = Seq(250000L, 500000L, 900000L, 990000L)
    val fromStream = Stats.quantilesFromHistogramStore(
        store, 0.0, 600000.0, 200, qs)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val oneShot = Stats.quantilesFromHistogramStore(
        Stats.histogramStore(prices.toSeq.toDF("o_totalprice"),
          "o_totalprice", 0.0, 600000.0, 200),
        0.0, 600000.0, 200, qs)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(fromStream === oneShot,
      "percentiles off the streamed rollup must equal the one-shot read")
  }

  test("grouped quantile store over foreachBatch: per-key rollup == one-shot") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Stats
    val rows = wh.loadTable("documents").select("lang", "n_chars")
      .collect().map(r => (r.getString(0), r.getLong(1).toDouble))
    val in = MemoryStream[(String, Double)]
    var store = Stats.histogramStore(
        Seq.empty[(String, Double)].toDF("lang", "n_chars"),
        "n_chars", 0.0, 4000.0, 100, keyCol = Some("lang"))
      .localCheckpoint(true)
    val q = in.toDS().toDF("lang", "n_chars").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        store = Stats.updateHistogramStore(store,
            Stats.histogramStore(batch, "n_chars",
              0.0, 4000.0, 100, keyCol = Some("lang")))
          .localCheckpoint(true)
        ()
      }.start()
    rows.grouped(math.max(1, rows.length / 3)).foreach { g =>
      in.addData(g.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val qs = Seq(500000L, 900000L)
    def read(st: org.apache.spark.sql.DataFrame) =
      Stats.quantilesFromHistogramStore(st, 0.0, 4000.0, 100, qs)
        .collect().map(_.toSeq)
        .sortBy(r => (r.head.asInstanceOf[String], r(1).asInstanceOf[Long]))
    val oneShot = read(Stats.histogramStore(
      rows.toSeq.toDF("lang", "n_chars"), "n_chars",
      0.0, 4000.0, 100, keyCol = Some("lang")))
    assert(read(store) === oneShot,
      "per-key percentiles off the streamed rollup == one-shot")
  }

  test("incremental CDC dedup over foreachBatch: growing store == one-shot") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val rows = wh.loadTable("documents").select("doc_id", "text")
      .filter($"doc_id" < 90)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val in = MemoryStream[(Long, String)]
    var store = Dedup.cdcHashStore(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text",
        maskBits = 5, minLen = 1, maxLen = 1000000)
      .localCheckpoint(true)
    var cleaned = Vector.empty[Seq[Any]]
    val q = in.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        cleaned ++= Dedup.cdcDedupIncremental(batch, "doc_id", "text", store,
            maskBits = 5, minLen = 1, maxLen = 1000000)
          .collect().map(_.toSeq)
        store = store.unionByName(Dedup.cdcHashStore(batch, "doc_id", "text",
            maskBits = 5, minLen = 1, maxLen = 1000000))
          .distinct().localCheckpoint(true)
        ()
      }.start()
    rows.grouped(30).foreach { g =>
      in.addData(g.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val oneShot = Dedup.cdcDedup(rows.toSeq.toDF("doc_id", "text"),
        "doc_id", "text", maskBits = 5, minLen = 1, maxLen = 1000000)
      .collect().map(_.toSeq)
    assert(cleaned.sortBy(_.head.asInstanceOf[Long]) ===
      oneShot.sortBy(_.head.asInstanceOf[Long]).toVector)
  }

  test("association store over foreachBatch: streamed baskets == one-shot metrics") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Stats
    val li = wh.loadTable("lineitem").select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val in = MemoryStream[(Long, Long)]
    var store = Stats.associationStore(
        Seq.empty[(Long, Long)].toDF("bk", "it"), "bk", "it")
      .localCheckpoint(true)
    val q = in.toDS().toDF("bk", "it").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        store = Stats.updateAssociationStore(store,
            Stats.associationStore(batch, "bk", "it"))
          .localCheckpoint(true)
        ()
      }.start()
    // baskets arrive WHOLE per trigger (the store contract): split by
    // basket parity, not row position
    Seq(0L, 1L).foreach { par =>
      in.addData(li.filter(_._1 % 2 == par).toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = Stats.associationFromStore(store, 2L, 50)
      .collect().map(_.toSeq).toSeq
    val oneShot = Stats.associationPairs(
        li.toSeq.toDF("bk", "it"), "bk", "it", 2L, 50)
      .collect().map(_.toSeq).toSeq
    assert(streamed === oneShot)
  }

  test("attributionStream credits on arrival; in-order stream == batch") {
    implicit val sqlCtx = spark.sqlContext
    // user 1: touches at 7/8/9, purchase at 10 (the touches arrive in
    // trigger 1, the purchase in trigger 2 — the window spans the
    // boundary); a click AT 10 must not count for purchase 10; a second
    // purchase at 12 sees touches 8/9/10/11 (the ts(7) view fell out of
    // its 240 s window). user 2: purchase with no touches → direct row
    // (arrives in trigger 2, ahead of the watermark).
    val evs = Seq(
      Event(1, ts(7), 1L, "view", 1.0), Event(2, ts(8), 1L, "click", 1.0),
      Event(3, ts(9), 1L, "view", 1.0),
      Event(10, ts(10), 1L, "purchase", 1.0), Event(4, ts(10), 1L, "click", 1.0),
      Event(20, ts(10), 2L, "purchase", 1.0),
      Event(5, ts(11), 1L, "view", 1.0), Event(11, ts(12), 1L, "purchase", 1.0))
    val mem = MemoryStream[Event]
    val q = Events.attributionStream(mem.toDS(), "purchase",
        Seq("view", "click"), windowSeconds = 240)
      .writeStream.format("memory").queryName("attr_out").outputMode("append").start()
    try {
      mem.addData(evs.take(3): _*); q.processAllAvailable()
      mem.addData(evs.slice(3, 6): _*); q.processAllAvailable()
      mem.addData(evs.drop(6): _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]))
    def payload(r: org.apache.spark.sql.Row) =
      (r.getLong(6), r.getLong(7), r.getBoolean(8), r.getBoolean(9))
    val got = spark.table("attr_out").collect().map(r => key(r) -> payload(r)).toMap
    val batch = graft.operators.EventAnalytics.attribution(
        evs.toDF(), "user_id", "ts", "event_id", "event_type",
        "purchase", Seq("view", "click"), windowSeconds = 240)
      .collect().map(r => key(r) -> payload(r)).toMap
    assert(got === batch)
    // purchase 10: three touches before it (the same-instant click 4
    // excluded), window spanning the trigger boundary
    assert(got((10L, Some(1L))) === ((3L, 333333L, true, false)))
    assert(got((10L, Some(3L))) === ((3L, 333333L, false, true)))
    // purchase 11 sees 4 touches incl. the same-batch click 4 + view 5;
    // the ts(7) view is outside its window
    assert(got((11L, Some(4L)))._1 === 4L)
    assert(!got.contains((11L, Some(1L))))
    assert(got((20L, None)) === ((0L, 1000000L, false, false)))
  }

  test("rollingAnomalyStream: $40M values keep stream == batch (BigInt decision)") {
    implicit val sqlCtx = spark.sqlContext
    // vc ≈ 4e9 cents: w*w wrapped the old all-long streaming decision
    // while the batch form decided in decimal — parity must hold here
    val base = 4.0e7
    val vals = Seq(base, base + 100, base - 100, base + 50, base - 50,
      base, 2 * base, base)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Event(i.toLong + 1, ts(i.toLong), 1L, "m", v) }
    val mem = MemoryStream[Event]
    val q = Events.rollingAnomalyStream(mem.toDS(), window = 5, minPrev = 3, z = 3)
      .writeStream.format("memory").queryName("anom_big").outputMode("append").start()
    try { mem.addData(evs: _*); q.processAllAvailable() } finally q.stop()
    val got = spark.table("anom_big")
      .collect().map(r => r.getLong(0) -> ((r.getLong(4), r.getBoolean(5)))).toMap
    val batch = graft.operators.EventAnalytics.rollingAnomaly(
        evs.toDF(), "user_id", "ts", "event_id", "value",
        window = 5, minPrev = 3, z = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(4), r.getBoolean(5)))).toMap
    assert(got === batch)
    assert(got(7L)._2 === true, "the 2x spike must flag")
  }

  test("attributionStream: pruneSlack keeps a late conversion's touches") {
    implicit val sqlCtx = spark.sqlContext
    // touch at minute 0; a minute-9 event would prune it under a 240 s
    // window with no slack; the conversion at minute 2 arrives LATE (in
    // trigger 2, within the 15 min lateness) and must still credit it
    val mem = MemoryStream[Event]
    val q = Events.attributionStream(mem.toDS(), "purchase", Seq("view"),
        windowSeconds = 240, allowedLateness = "15 minutes",
        pruneSlackSeconds = 900)
      .writeStream.format("memory").queryName("attr_late").outputMode("append").start()
    try {
      mem.addData(Event(1, ts(0), 1L, "view", 1.0),
        Event(2, ts(9), 1L, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Event(10, ts(2), 1L, "purchase", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("attr_late")
      .collect().map(r => Option(r.get(3)).map(_.asInstanceOf[Long]) ->
        r.getLong(6)).toMap
    assert(got === Map(Some(1L) -> 1L),
      "the late purchase credits exactly the minute-0 view")
  }

  test("cusumStream: in-order stream == batch; state carries across triggers") {
    implicit val sqlCtx = spark.sqlContext
    // the EventAnalyticsSpec cusum fixture streamed over 3 triggers —
    // the drift that flags on event 6 accumulates across the boundary
    val vals = Seq(10.0, 10.0, 10.0, 13.0, 13.0, 13.0, 5.0, 13.0)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Event(i.toLong + 1, ts(i.toLong), 1L, "m", v) } :+
      Event(100, ts(7), 2L, "m", 13.0)
    val mem = MemoryStream[Event]
    val q = Events.cusumStream(mem.toDS(), targetCents = 1000,
        slackCents = 100, threshCents = 500)
      .writeStream.format("memory").queryName("cusum_out").outputMode("append").start()
    try {
      mem.addData(evs.take(4): _*); q.processAllAvailable()
      mem.addData(evs.slice(4, 7): _*); q.processAllAvailable()
      mem.addData(evs.drop(7): _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getLong(4), r.getLong(5), r.getBoolean(6), r.getBoolean(7)))
    val got = spark.table("cusum_out").collect().map(key).toMap
    val batch = graft.operators.EventAnalytics.cusum(
        evs.toDF(), "user_id", "ts", "event_id", "value",
        targetCents = 1000, slackCents = 100, threshCents = 500)
      .collect().map(key).toMap
    assert(got === batch)
    assert(got(6L)._3 === true, "the sustained drift flags on its third event")
    assert(got(100L) === ((200L, 0L, false, false)), "second key starts cold")
  }

  test("ewmaStream: in-order stream == batch; level carries across triggers") {
    implicit val sqlCtx = spark.sqlContext
    // the EventAnalyticsSpec ewma fixture streamed over 3 triggers —
    // the spike deviation is judged against a level seeded two
    // triggers earlier; the negative value crosses a boundary too
    val vals = Seq(10.0, 10.0, 20.0, 10.0, -3.37)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Event(i.toLong + 1, ts(i.toLong), 1L, "m", v) } :+
      Event(100, ts(7), 2L, "m", 20.0)
    val mem = MemoryStream[Event]
    val q = Events.ewmaStream(mem.toDS(), alphaPpm = 250000,
        devThreshCents = 100)
      .writeStream.format("memory").queryName("ewma_out").outputMode("append").start()
    try {
      mem.addData(evs.take(2): _*); q.processAllAvailable()
      mem.addData(evs.slice(2, 4): _*); q.processAllAvailable()
      mem.addData(evs.drop(4): _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getLong(4), r.getBoolean(5)))
    val got = spark.table("ewma_out").collect().map(key).toMap
    val batch = graft.operators.EventAnalytics.ewma(
        evs.toDF(), "user_id", "ts", "event_id", "value",
        alphaPpm = 250000, devThreshCents = 100)
      .collect().map(key).toMap
    assert(got === batch)
    assert(got(3L)._2 === true, "the spike deviates from the carried level")
    assert(got(100L) === ((2000L * 1000000L, false)), "second key seeds cold")
  }

  test("seasonalScoreStream: stream-static scoring == batch; cold slot unflagged") {
    implicit val sqlCtx = spark.sqlContext
    // profile trained in batch; the stream scores two triggers against
    // it, including a key the profile never saw
    val train = Seq(
      Event(1, ts(0), 1L, "m", 10.0), Event(2, ts(10), 1L, "m", 10.0),
      Event(3, ts(20), 1L, "m", 40.0),
      Event(5, ts(0), 2L, "m", 50.0), Event(6, ts(5), 2L, "m", 50.0)).toDF()
    val prof = graft.operators.EventAnalytics.seasonalProfile(
      train, "user_id", "ts", "value", 3600, 24)
    val score = Seq(
      Event(10, ts(1), 1L, "m", 40.0),   // big for the slot -> flags
      Event(11, ts(2), 1L, "m", 21.0),   // within $15 of the 20.00 mean
      Event(12, ts(3), 7L, "m", 900.0))  // cold key: unflagged, NULL
    val mem = MemoryStream[Event]
    val q = Events.seasonalScoreStream(mem.toDS(), prof,
        slotSeconds = 3600, slotModulus = 24, minSlotEvents = 2,
        devThreshCents = 1500)
      .writeStream.format("memory").queryName("seas_out").outputMode("append").start()
    try {
      mem.addData(score.take(2): _*); q.processAllAvailable()
      mem.addData(score.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      ((Option(r.get(5)), Option(r.get(6)), r.getBoolean(7)))
    val got = spark.table("seas_out").collect().map(key).toMap
    val batch = graft.operators.EventAnalytics.seasonalScore(
        score.toDF(), prof, "user_id", "ts", "event_id", "value",
        3600, 24, 2, 1500)
      .collect().map(key).toMap
    assert(got === batch, "stream-static scoring == batch scoring")
    assert(got(10L)._3 === true, "big for the trained slot")
    assert(got(11L)._3 === false)
    assert(got(12L) === ((None, None, false)), "cold key: NULL baseline, no flag")
  }

  test("holtStream: in-order stream == batch; level AND trend carry across triggers") {
    implicit val sqlCtx = spark.sqlContext
    // the EventAnalyticsSpec holt replay fixture streamed over 3
    // triggers — the crash at event 5 is judged against a forecast
    // whose trend was learned across earlier triggers; the falling
    // series keeps the trend NEGATIVE across a state round-trip
    val vals = Seq(10.0, 9.0, 7.5, 8.2, -3.37)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Event(i.toLong + 1, ts(i.toLong), 1L, "m", v) } :+
      Event(100, ts(7), 2L, "m", 20.0)
    val mem = MemoryStream[Event]
    val q = Events.holtStream(mem.toDS(), alphaPpm = 250000,
        betaPpm = 300000, devThreshCents = 100)
      .writeStream.format("memory").queryName("holt_out").outputMode("append").start()
    try {
      mem.addData(evs.take(2): _*); q.processAllAvailable()
      mem.addData(evs.slice(2, 4): _*); q.processAllAvailable()
      mem.addData(evs.drop(4): _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getLong(4), r.getLong(5), r.getBoolean(6)))
    val got = spark.table("holt_out").collect().map(key).toMap
    val batch = graft.operators.EventAnalytics.holt(
        evs.toDF(), "user_id", "ts", "event_id", "value",
        alphaPpm = 250000, betaPpm = 300000, devThreshCents = 100)
      .collect().map(key).toMap
    assert(got === batch)
    assert(got.values.exists(_._2 < 0L),
      "a negative trend survives the long state round-trip")
    assert(got(5L)._3 === true, "the crash deviates from the carried forecast")
    assert(got(100L) === ((2000L * 1000000L, 0L, false)), "second key seeds cold")
  }

  test("robustScoreStream: stream-static scoring == batch; cold key unflagged") {
    implicit val sqlCtx = spark.sqlContext
    // median/MAD profile trained in batch (key 1: median $2, MAD from
    // one $80 spike stays 0 — the masking fixture); the stream scores
    // two triggers against it, including a key the profile never saw
    val train = ((1 to 10).map(i =>
      Event(i.toLong, ts(i.toLong), 1L, "m", 2.00)) :+
      Event(11, ts(11), 1L, "m", 80.0)).toDF()
    val prof = graft.operators.EventAnalytics.robustProfile(
      train, "user_id", "ts", "value")
    val score = Seq(
      Event(20, ts(20), 1L, "m", 80.0),  // any departure from the $2 base flags
      Event(21, ts(21), 1L, "m", 2.0),   // on-median: never flags at mad4 = 0
      Event(22, ts(22), 9L, "m", 900.0)) // cold key: unflagged, NULL stats
    val mem = MemoryStream[Event]
    val q = Events.robustScoreStream(mem.toDS(), prof,
        kPermille = 3500, minEvents = 5)
      .writeStream.format("memory").queryName("rob_out").outputMode("append").start()
    try {
      mem.addData(score.take(2): _*); q.processAllAvailable()
      mem.addData(score.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      ((Option(r.get(4)), Option(r.get(6)), r.getBoolean(8)))
    val got = spark.table("rob_out").collect().map(key).toMap
    val batch = graft.operators.EventAnalytics.robustScore(
        score.toDF(), prof, "user_id", "ts", "event_id", "value",
        kPermille = 3500, minEvents = 5)
      .collect().map(key).toMap
    assert(got === batch, "stream-static scoring == batch scoring")
    assert(got(20L)._3 === true, "departure from the constant base flags")
    assert(got(21L)._3 === false, "on-median stays quiet")
    assert(got(22L) === ((None, None, false)), "cold key: NULL stats, no flag")
  }

  test("holtWintersStream: in-order stream == batch; seasonals carry across triggers") {
    implicit val sqlCtx = spark.sqlContext
    // the EventAnalyticsSpec holtWinters replay fixture streamed over 3
    // triggers — the warmup count, level, trend AND both slot components
    // must survive the Seq[Long] state round-trip so mid-stream events
    // are judged against seasonals learned in EARLIER triggers
    val vals = Seq(10.0, -9.0, 7.5, -8.2, 3.37)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Event(i.toLong + 1, ts(i.toLong), 1L, "m", v) } :+
      Event(100, ts(7), 2L, "m", 20.0)
    val mem = MemoryStream[Event]
    val q = Events.holtWintersStream(mem.toDS(), alphaPpm = 250000,
        betaPpm = 300000, gammaPpm = 500000, slotSeconds = 60,
        slotModulus = 2, warmupEvents = 1, devThreshCents = 100)
      .writeStream.format("memory").queryName("hw_out").outputMode("append").start()
    try {
      mem.addData(evs.take(2): _*); q.processAllAvailable()
      mem.addData(evs.slice(2, 4): _*); q.processAllAvailable()
      mem.addData(evs.drop(4): _*); q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      ((r.getLong(5), r.getLong(6), r.getLong(7), r.getBoolean(8)))
    val got = spark.table("hw_out").collect().map(key).toMap
    val batch = graft.operators.EventAnalytics.holtWinters(
        evs.toDF(), "user_id", "ts", "event_id", "value",
        alphaPpm = 250000, betaPpm = 300000, gammaPpm = 500000,
        slotSeconds = 60, slotModulus = 2, warmupEvents = 1,
        devThreshCents = 100)
      .collect().map(key).toMap
    assert(got === batch)
    assert(got.values.exists(_._3 < 0L),
      "a negative seasonal component survives the Seq state round-trip")
    assert(got(100L) === ((2000L * 1000000L, 0L, 0L, false)),
      "second key seeds cold with neutral seasonals")
  }

  test("holtWintersStream refuses a restart whose slotModulus differs from its checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    // the checkpointed state holds 2 seasonals; restarting with 3 slots
    // would index past them, with 1 it would silently read the wrong ones
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hw-restart").toString
    val mem = MemoryStream[Event]
    def start(slotModulus: Int) = Events.holtWintersStream(mem.toDS(),
        alphaPpm = 250000, betaPpm = 300000, gammaPpm = 500000,
        slotSeconds = 60, slotModulus = slotModulus, warmupEvents = 1,
        devThreshCents = 100)
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start(2)
    try {
      mem.addData(Event(1, ts(0), 1L, "m", 10.0), Event(2, ts(1), 1L, "m", -9.0))
      q1.processAllAvailable()
    } finally q1.stop()
    for (m <- Seq(3, 1)) {
      val q = start(m)
      val ex = intercept[Exception] {
        try {
          mem.addData(Event(10L + m, ts(2L + m), 1L, "m", 7.5))
          q.processAllAvailable()
        } finally q.stop()
      }
      assert(root(ex).contains(
        s"holtWintersStream: store has 2 slots, operator given $m — train/score mismatch"),
        root(ex))
    }
  }

  test("rollingAnomalyStream flags on arrival; in-order stream == batch") {
    implicit val sqlCtx = spark.sqlContext
    // one user, stable history then a spike, split across three triggers
    // in ts order — arrival order == event-time order, so the stream must
    // reproduce the batch operator's flags exactly
    val evs = (1 to 6).map(i => Event(i.toLong, ts(i.toLong), 1L, "m", 2.00)) ++
      Seq(Event(7, ts(7), 1L, "m", 80.00), Event(8, ts(8), 1L, "m", 2.00),
        Event(9, ts(9), 2L, "m", 5.00)) // second key: cold, never flags
    val mem = MemoryStream[Event]
    val q = Events.rollingAnomalyStream(mem.toDS(), window = 5, minPrev = 3, z = 3)
      .writeStream.format("memory").queryName("anom_out").outputMode("append").start()
    try {
      mem.addData(evs.take(3): _*); q.processAllAvailable()
      mem.addData(evs.slice(3, 7): _*); q.processAllAvailable()
      mem.addData(evs.drop(7): _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("anom_out")
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getBoolean(5))).toMap
    val batch = graft.operators.EventAnalytics.rollingAnomaly(
        evs.toDF(), "user_id", "ts", "event_id", "value",
        window = 5, minPrev = 3, z = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getBoolean(5))).toMap
    assert(got === batch)
    assert(got(7L)._2 === true)
    assert(got.forall { case (k, (_, f)) => k == 7L || !f })
    // state carried across triggers: event 7's window spans trigger 1+2
    assert(got(7L)._1 === 5L)
  }
}

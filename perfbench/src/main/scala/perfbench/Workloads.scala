package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.Warehouse
import graft.operators.{Dedup, Graph, Merge, Relational}

/** What an op sees: the session, the traced span helper and the warehouse
  * over the generated input tables.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, tablesDir: String) {
  val wh: Warehouse = Warehouse(spark, tablesDir)

  def span[A](name: String)(f: => A): A = tracer.span(name)(f)

  /** `Warehouse.loadTable` with column and row-filter pushdown. */
  def load(table: String, columns: Seq[String] = Nil, filter: String = null): DataFrame =
    span("warehouse.load")(wh.loadTable(table, columns, Option(filter)))
}

/** One op: a call into a graft layer, then its action. `verb` names the
  * layer span the op exists to measure. In the priming pass an op with
  * `capture` writes its output for the checks in place of its action.
  * `observe` runs after every execution, outside the timed region.
  */
final case class Op(
    id: String,
    verb: String,
    call: Ctx => DataFrame,
    action: (Ctx, DataFrame) => Unit = Op.sink,
    capture: Boolean = true,
    observe: Option[(Ctx, DataFrame) => Map[String, Any]] = None,
    kind: String = "op")

object Op {
  /** The `Bench` rule: run into a noop sink so Catalyst cannot prune work. */
  val sink: (Ctx, DataFrame) => Unit =
    (c, df) => c.span("sink")(df.write.format("noop").mode("overwrite").save())
  val none: (Ctx, DataFrame) => Unit = (_, _) => ()
}

/** The ops of one pass. A timed pass runs `independent` and then `chain`,
  * one op after the other. The priming pass runs every independent op
  * concurrently, and the chain in order beside them on one thread.
  */
final case class Pass(independent: Seq[Op], chain: Seq[Op]) {
  def ops: Seq[Op] = independent ++ chain
}

trait Workload {
  /** The table the set-up's warm-up query reads. */
  def warmTable: String

  /** The ops of pass `p`, or None once the inputs are used up. */
  def pass(p: Int): Option[Pass]

  /** Facts measured once after the last pass, outside timing. */
  def finish(ctx: Ctx): Map[String, Any] = Map.empty
}

object Workload {
  def apply(m: JsonNode, dir: String, ctx: Ctx, round: Int): Workload =
    m.get("workload").asText match {
      case "warehouse" => new WarehouseMix(new Analytics(m), new Ingest(m, dir, ctx, round))
      case "operators" => new Operators(m)
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** The warehouse contract: the analytics reads, then the ingest writes. */
final class WarehouseMix(reads: Analytics, writes: Ingest) extends Workload {
  def warmTable = "orders"
  def pass(p: Int): Option[Pass] =
    for (r <- reads.pass(p); w <- writes.pass(p))
      yield Pass(r.independent ++ w.independent, r.chain ++ w.chain)
  override def finish(ctx: Ctx): Map[String, Any] = writes.finish(ctx)
}

/** Short Fugue-contract ops over the read-only warehouse tables. */
final class Analytics(m: JsonNode) extends Workload {
  private def strs(j: JsonNode): Seq[String] = j.elements.asScala.map(_.asText).toSeq

  private val ops: Seq[Op] = m.get("ops").elements.asScala.map(opFor).toSeq

  def warmTable = "nation"
  def pass(p: Int): Option[Pass] = Some(Pass(ops, Nil))

  private def opFor(j: JsonNode): Op = {
    def s(k: String) = j.get(k).asText
    val verb = s("verb")
    val call: Ctx => DataFrame = s("template") match {
      case "load_filter" =>
        c => c.load(s("table"), strs(j.get("columns")), s("filter"))
      case _ if j.has("sql") =>
        c => {
          val frames = strs(j.get("tables")).map(t => t -> c.load(t)).toMap
          c.span(verb)(Relational.select(c.spark, frames, s("sql")))
        }
      case t if t.startsWith("join_") =>
        c => {
          val l = c.span("relational.rename")(Relational.rename(
            c.load("orders", Seq("o_orderkey", "o_custkey", "o_totalprice"), s("orders_filter")),
            Map("o_custkey" -> "custkey")))
          val r = c.span("relational.rename")(Relational.rename(
            c.load("customer", Seq("c_custkey", "c_nationkey", "c_mktsegment"), s("customer_filter")),
            Map("c_custkey" -> "custkey")))
          c.span(verb)(Relational.join(l, r, s("how"), Seq("custkey")))
        }
      case "subtract" =>
        c => {
          val cols = Seq("o_custkey", "o_orderpriority")
          val a = c.load("orders", cols, s("filter_a"))
          val b = c.load("orders", cols, s("filter_b"))
          c.span(verb)(Relational.subtract(a, b))
        }
      case "sample_n" =>
        c => c.span(verb)(Relational.sample(
          c.load("orders", Seq("o_orderkey", "o_totalprice")),
          n = Some(j.get("n").asInt), seed = j.get("sample_seed").asLong))
      case "take" =>
        c => c.span(verb)(Relational.takePresort(
          c.load("orders", Seq("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"),
            s("filter")),
          j.get("n").asInt, "o_totalprice desc, o_orderkey", partitionBy = Seq("o_orderpriority")))
      case other => throw new IllegalArgumentException(s"unknown analytics template $other")
    }
    Op(s("id"), verb, call)
  }
}

/** The long operators on top of the contract: iterative graph ops over the
  * seeded customer→supplier trade graph, then candidate→verify dedup over a
  * seeded near-duplicate corpus.
  */
final class Operators(m: JsonNode) extends Workload {
  private val seed = m.get("minhash_seed").asLong
  private def i(k: String) = m.get(k).asInt
  private def edges(c: Ctx) = c.load("edges")
  private def docs(c: Ctx) = c.load("docs", Seq("doc_id", "text"))

  private val dedupOps = Seq(
    Op("minhash_lsh", "dedup.minhash_lsh", c => {
      val d = docs(c)
      c.span("dedup.minhash_lsh")(Dedup.minhashLsh(d, "doc_id", "text", shingleWidth = 3,
        numPerms = 128, bands = 32, threshold = 0.5, seed = seed))
    }),
    Op("ngram_jaccard", "dedup.ngram_jaccard", c => {
      val d = docs(c)
      c.span("dedup.ngram_jaccard")(Dedup.ngramJaccard(d, "doc_id", "text", n = 3, threshold = 0.5))
    }))

  private val graphOps = Seq(
    Op("page_rank", "graph.page_rank", c => {
      val e = edges(c)
      c.span("graph.page_rank")(Graph.pageRank(e, "src", "dst", iters = i("rank_iters")))
    }),
    Op("k_core", "graph.k_core", c => {
      val e = edges(c)
      c.span("graph.k_core")(
        Graph.kCore(e, "src", "dst", k = i("kcore_k"), maxIters = i("kcore_max_iters")))
    }))

  def warmTable = "docs"
  // graph ops first: page_rank is the longest first execution, so the
  // priming pass starts it first
  def pass(p: Int): Option[Pass] = Some(Pass(graphOps ++ dedupOps, Nil))
}

/** Seeded batches through append, merge-upsert + versioned save, periodic
  * compaction and vacuum, each write followed by a pushdown read.
  *
  * Constructing it is set-up: it writes version 1 of `orders_cur` from the
  * generated orders into a fresh warehouse directory.
  */
final class Ingest(m: JsonNode, dir: String, ctx: Ctx, round: Int) extends Workload {
  private val compactEvery = m.get("compact_every").asInt
  private val keep = m.get("vacuum_keep").asInt
  private val batches = m.get("batches").elements.asScala.toIndexedSeq
  private val whDir = s"$dir/wh$round"
  private val staging = s"$dir/batches"
  private val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
  private val lastFiles = scala.collection.mutable.Map[String, Int]()

  ctx.wh.saveTableVersioned(ctx.wh.loadTable("orders"), whDir, "orders_cur")
  lastFiles("orders_cur") = dataFiles("orders_cur")
  lastFiles("orders_log") = 0

  private def target(c: Ctx) = Warehouse(c.spark, whDir)

  private def stats(df: DataFrame): Map[String, Any] = {
    val r = df.agg(count(lit(1)), sum(col("o_orderkey")), sum(col("o_totalprice"))).head()
    Map("rows" -> r.getLong(0), "key_sum" -> (if (r.isNullAt(1)) 0L else r.getLong(1)),
      "price_sum" -> (if (r.isNullAt(2)) "0" else r.getDecimal(2).toPlainString))
  }

  private def dataFiles(table: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles.map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(s"$whDir/$table.parquet"))
  }

  /** Data files the op added to `table` (a compaction rewrites them all). */
  private def written(table: String, rewrite: Boolean = false): Map[String, Any] = {
    val now = dataFiles(table)
    val added = if (rewrite) now else math.max(0, now - lastFiles(table))
    lastFiles(table) = now
    Map("files" -> now, "files_written" -> added)
  }

  def warmTable = "orders"

  /** A timed pass is `compactEvery` batches; maintenance follows the last
    * one. The priming pass (0) has one batch, enough to warm every op shape.
    */
  def pass(p: Int): Option[Pass] = {
    val first = if (p == 0) 0 else 1 + (p - 1) * compactEvery
    val last = if (p == 0) 0 else first + compactEvery - 1
    if (last >= batches.size) None
    else Some(Pass(Nil, (first to last).flatMap(batchOps) ++ maintenanceOps(last)))
  }

  private def range(b: Int): String = {
    val meta = batches(b)
    s"o_orderkey >= ${meta.get("key_lo").asLong} AND o_orderkey <= ${meta.get("key_hi").asLong}"
  }

  private val counted = Some((_: Ctx, df: DataFrame) => Map[String, Any]("rows" -> df.count()))

  private def batchOps(b: Int): Seq[Op] = {
    val meta = batches(b)
    val table = meta.get("table").asText
    val range = this.range(b)
    def batch(c: Ctx) = c.span("warehouse.load")(Warehouse(c.spark, staging).loadTable(table))
    Seq(
      Op(s"b$b.append", "warehouse.append", c => {
        val df = batch(c)
        c.span("warehouse.append")(target(c).appendTable(df, whDir, "orders_log"))
        null
      }, action = Op.none, capture = false, kind = "write", observe = Some((c, _) =>
        stats(target(c).loadTable("orders_log")) ++ written("orders_log"))),
      Op(s"b$b.read_log", "warehouse.load", c => c.span("warehouse.load")(
        target(c).loadTable("orders_log", cols, Some(range))),
        capture = false, kind = "read_after_write", observe = counted),
      Op(s"b$b.upsert", "merge.upsert", c => {
        val cur = c.span("warehouse.load")(target(c).loadTable("orders_cur"))
        val df = batch(c)
        c.span("merge.upsert")(Merge.mergeUpsert(cur, df, Seq("o_orderkey")))
      }, action = (c, df) => c.span("warehouse.save_versioned")(
        target(c).saveTableVersioned(df, whDir, "orders_cur")),
        capture = false, kind = "write", observe = Some { (c, _) =>
          val t = target(c)
          val v = t.listVersions("orders_cur").last
          stats(t.loadTableVersion("orders_cur", v)) ++ written("orders_cur") + ("version" -> v)
        }),
      Op(s"b$b.read_cur", "warehouse.load", c => c.span("warehouse.load")(
        target(c).loadTable("orders_cur", cols, Some(range))),
        capture = false, kind = "read_after_write", observe = counted))
  }

  /** After the last batch `b` of a pass: a read of the version before it,
    * compaction of the log and vacuum of the versions.
    */
  private def maintenanceOps(b: Int): Seq[Op] = {
    val range = this.range(b)
    Seq(
      Op(s"b$b.read_version", "warehouse.load_version", c => {
        val t = target(c)
        val prev = t.listVersions("orders_cur").init.last
        c.span("warehouse.load_version")(t.loadTableVersion("orders_cur", prev))
          .where(range).select(cols.map(col): _*)
      }, capture = false, kind = "read", observe = counted),
      Op(s"b$b.compact", "warehouse.compact", c => {
        c.span("warehouse.compact")(target(c).compactTable(whDir, "orders_log"))
        null
      }, action = Op.none, capture = false, kind = "write", observe = Some((c, _) =>
        stats(target(c).loadTable("orders_log")) ++ written("orders_log", rewrite = true))),
      Op(s"b$b.vacuum", "warehouse.vacuum", c => {
        c.span("warehouse.vacuum")(target(c).vacuumTable(whDir, "orders_cur", keep))
        null
      }, action = Op.none, capture = false, kind = "write", observe = Some((c, _) =>
        Map("versions" -> target(c).listVersions("orders_cur")) ++ written("orders_cur"))))
  }

  /** Bytes on storage now, and the bytes of one fresh parquet write of the
    * live rows.
    */
  override def finish(c: Ctx): Map[String, Any] = {
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles.map(bytes).sum
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else f.length
    val t = target(c)
    val stored = Seq("orders_cur", "orders_log")
      .map(n => bytes(new java.io.File(s"$whDir/$n.parquet"))).sum
    val fresh = s"$whDir-fresh"
    t.loadTable("orders_cur").write.mode("overwrite").parquet(s"$fresh/orders_cur")
    t.loadTable("orders_log").write.mode("overwrite").parquet(s"$fresh/orders_log")
    Map("stored_bytes" -> stored, "fresh_bytes" -> bytes(new java.io.File(fresh)))
  }
}

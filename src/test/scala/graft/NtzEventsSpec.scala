package graft

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Events

/** Regression pin for the round-8 driver break: events parquet written with
  * isAdjustedToUTC=false loads as TIMESTAMP_NTZ, which `unix_micros` (and
  * the java.sql.Timestamp encoders) reject. StreamingSpec's fixtures are
  * built from java.sql.Timestamp — always LTZ — so only an NTZ-typed frame
  * can see the failure. This suite runs the whole §2.4 family over NTZ
  * inputs and asserts bit-parity with the LTZ forms (session timezone is
  * UTC, so the cast preserves instants exactly).
  */
class NtzEventsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private lazy val ltz: DataFrame = wh.loadTable("events").limit(2000).cache()
  private lazy val ntz: DataFrame = ltz.withColumn("ts", col("ts").cast(TimestampNTZType))

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  // Each fixture writes one table into a fresh warehouse dir and returns
  // the dir: NTZ `events`, TIMESTAMP(NANOS) `readings`, double-vector
  // `embeddings`.

  private def ntzFixture(): String = {
    val tmp = Files.createTempDirectory("graft-ntz").toString
    ntz.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    tmp
  }

  private val baseNanos = 1700000000000000000L // 2023-11-14T22:13:20Z

  /** Genuine nanos parquet, written with the low-level writer (Spark
    * cannot produce one) — on a table name and column names the old
    * hardcoded events.ts rule would never have matched. */
  private def nanosFixture(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).as(
        LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("created_at")
      .required(PrimitiveTypeName.INT64).named("row_id")
      .named("m")
    val tmp = Files.createTempDirectory("graft-nanos").toString
    val file = new org.apache.hadoop.fs.Path(s"$tmp/readings.parquet")
    val writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file,
          spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    val fac = new SimpleGroupFactory(schema)
    try (1 to 3).foreach { i =>
      val g = fac.newGroup()
      g.add("created_at", baseNanos + i * 1500L) // sub-micro tails truncate
      g.add("row_id", i.toLong)
      writer.write(g)
    } finally writer.close()
    tmp
  }

  private def dblVecFixture(): String = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val tmp = Files.createTempDirectory("graft-dblvec").toString
    wh.loadTable("embeddings").limit(50)
      .withColumn("embedding", col("embedding").cast(ArrayType(DoubleType)))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    tmp
  }

  test("loadTable normalizes NTZ parquet timestamps to LTZ, instants intact") {
    val tmp = ntzFixture()
    // pin the fixture: the file on disk must actually be NTZ, or this suite
    // silently stops guarding the type family
    assert(spark.read.parquet(s"$tmp/events.parquet").schema("ts").dataType == TimestampNTZType)
    val loaded = Warehouse(spark, tmp).loadTable("events")
    assert(loaded.schema("ts").dataType == TimestampType)
    assert(rows(loaded.select(col("event_id"), unix_micros(col("ts")))) ===
      rows(ltz.select(col("event_id"), unix_micros(col("ts")))))
  }

  test("loadTable detects TIMESTAMP(NANOS) columns from the footer, any table/column") {
    val loaded = Warehouse(spark, nanosFixture()).loadTable("readings")
    assert(loaded.schema("created_at").dataType == TimestampType)
    assert(rows(loaded.select(col("row_id"), unix_micros(col("created_at")))) ===
      (1 to 3).map(i => Seq(i.toLong, (baseNanos + i * 1500L) / 1000L)).toSet)
    // plain long columns stay long — only footer-annotated nanos convert
    assert(loaded.schema("row_id").dataType == LongType)
  }

  test("loadTable normalizes array<double> vector columns to array<float>") {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val loaded = Warehouse(spark, dblVecFixture()).loadTable("embeddings")
    assert(loaded.schema("embedding").dataType.asInstanceOf[ArrayType]
      .elementType == FloatType)
    // the whole ANN family must run over the re-float frame — and since
    // float→double→float round-trips exactly, results match the original
    val q = loaded.filter(col("vec_id") < 2)
    val got = graft.operators.Similarity.bruteForceTopK(
        loaded, "vec_id", "embedding", q, "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq).toSet
    val orig = wh.loadTable("embeddings").limit(50)
    val want = graft.operators.Similarity.bruteForceTopK(
        orig, "vec_id", "embedding", orig.filter(col("vec_id") < 2),
        "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq).toSet
    assert(got === want)
  }

  test("getSchema is the normalized schema loadTable returns") {
    Seq(ntzFixture() -> "events", nanosFixture() -> "readings",
        dblVecFixture() -> "embeddings").foreach { case (dir, t) =>
      val w = Warehouse(spark, dir)
      assert(w.getSchema(t) === w.loadTable(t).schema, t)
    }
  }

  test("a table rewritten outside graft reads the nanos columns now on disk") {
    val dir = nanosFixture()
    val w = Warehouse(spark, dir)
    assert(w.loadTable("readings").schema("created_at").dataType == TimestampType)
    // a plain Spark overwrite leaves created_at a plain long and does not
    // bump the dir's write epoch: nothing keyed by epoch may survive it
    spark.range(1, 4).select(col("id").as("created_at"), col("id").as("row_id"))
      .write.mode("overwrite").parquet(Warehouse.tablePath(dir, "readings"))
    assert(w.loadTable("readings").schema("created_at").dataType == LongType)
  }

  test("the footer schema matches Spark's inference on every sf0.001 table and fixture") {
    val tmp = Files.createTempDirectory("graft-parity").toString
    val w = Warehouse(spark, tmp)
    val o = wh.loadTable("orders")
    w.saveTable(o.withColumn("yr", year(col("o_orderdate"))), tmp, "op", partitionBy = Seq("yr"))
    w.saveTableVersioned(o, tmp, "ov")
    val paths = Warehouse.knownTables.map(Warehouse.tablePath(sfDir, _)) ++ Seq(
      Warehouse.tablePath(ntzFixture(), "events"),
      Warehouse.tablePath(nanosFixture(), "readings"),
      Warehouse.tablePath(dblVecFixture(), "embeddings"),
      Warehouse.tablePath(tmp, "op"),
      Warehouse.latestVersionDir(spark, Warehouse.tablePath(tmp, "ov")).get)
    paths.foreach { p =>
      val inferred = spark.read.parquet(p).schema // Spark's own inference, the reference
      val footer = Warehouse.footerSchema(spark, p).schema
      // the footer holds the data columns; Spark appends partition columns
      assert(footer.map(f => f.name -> f.dataType) ===
        inferred.take(footer.size).map(f => f.name -> f.dataType), p)
      assert(spark.read.schema(footer).parquet(p).schema === inferred, p)
    }
  }

  test("sessionizeBatch accepts raw NTZ frames and matches the LTZ result") {
    assert(rows(Events.sessionizeBatch(ntz)) === rows(Events.sessionizeBatch(ltz)))
  }

  test("intervalJoinBatch accepts raw NTZ frames and matches the LTZ result") {
    def split(df: DataFrame) =
      (df.filter(col("event_type") === "purchase"), df.filter(col("event_type") === "click"))
    val (lp, lc) = split(ltz); val (np, nc) = split(ntz)
    assert(rows(Events.intervalJoinBatch(np, nc)) === rows(Events.intervalJoinBatch(lp, lc)))
  }

  test("windowedAggBatch / dedupBatch accept raw NTZ frames") {
    assert(rows(Events.windowedAggBatch(ntz)) === rows(Events.windowedAggBatch(ltz)))
    // dedup passes ts through untouched (NTZ out for NTZ in — it never
    // needed LTZ), so parity is asserted on the key/payload columns
    assert(rows(Events.dedupBatch(ntz.unionAll(ntz), Seq("event_id"))
        .select("event_id", "user_id", "event_type", "value")) ===
      rows(Events.dedupBatch(ltz, Seq("event_id"))
        .select("event_id", "user_id", "event_type", "value")))
  }

  test("to_date over an NTZ ts matches LTZ (SparkEntry q_assign-family guard)") {
    assert(rows(ntz.select(col("event_id"), to_date(col("ts")).as("day"))) ===
      rows(ltz.select(col("event_id"), to_date(col("ts")).as("day"))))
  }

  test("streaming forms (windowed agg, dedup, interval join) run over NTZ streams") {
    implicit val sqlCtx = spark.sqlContext
    // LocalDateTime encodes as TIMESTAMP_NTZ — a genuinely NTZ stream
    val base = LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    def ev(id: Long, min: Long, uid: Long, typ: String, v: Double) =
      (id, base.plusMinutes(min), uid, typ, v)
    val data = Seq(
      ev(1, 5, 1, "click", 1.0), ev(2, 10, 1, "purchase", 2.5),
      ev(3, 65, 2, "view", 3.0), ev(4, 70, 1, "click", 4.25))
    val sentinel = ev(99, 60L * 24 * 400, 99, "sentinel", 0.0)
    def toDf(m: MemoryStream[(Long, LocalDateTime, Long, String, Double)]) =
      m.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")

    val mem = MemoryStream[(Long, LocalDateTime, Long, String, Double)]
    assert(toDf(mem).schema("ts").dataType == TimestampNTZType)
    val q = Events.windowedAggStream(toDf(mem), watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("ntz_win").outputMode("append").start()
    try {
      mem.addData(data: _*); q.processAllAvailable()
      mem.addData(sentinel); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ntz_win").filter($"event_type" =!= "sentinel")
    val batchDf = data.toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(rows(got) === rows(Events.windowedAggBatch(batchDf)))

    val memD = MemoryStream[(Long, LocalDateTime, Long, String, Double)]
    val qd = Events.dedupStream(toDf(memD), Seq("event_id"))
      .writeStream.format("memory").queryName("ntz_dedup").outputMode("append").start()
    try {
      memD.addData(data: _*); memD.addData(data: _*) // at-least-once replay
      qd.processAllAvailable()
    } finally qd.stop()
    assert(spark.table("ntz_dedup").count() === data.length)

    val memL = MemoryStream[(Long, LocalDateTime, Long, String, Double)]
    val memR = MemoryStream[(Long, LocalDateTime, Long, String, Double)]
    val qj = Events.intervalJoinStream(
        toDf(memL).filter($"event_type" === "purchase"),
        toDf(memR).filter($"event_type" === "click"))
      .writeStream.format("memory").queryName("ntz_ij").outputMode("append").start()
    try {
      memL.addData(data: _*); memR.addData(data: _*)
      qj.processAllAvailable()
      memL.addData(sentinel); memR.addData(sentinel)
      qj.processAllAvailable()
    } finally qj.stop()
    val gotJoin = spark.table("ntz_ij").filter($"l_id" =!= 99)
    val expectJoin = Events.intervalJoinBatch(
      batchDf.filter($"event_type" === "purchase"),
      batchDf.filter($"event_type" === "click"))
    assert(rows(gotJoin) === rows(expectJoin))
  }
}

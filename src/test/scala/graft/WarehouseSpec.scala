package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{count, expr}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

class WarehouseSpec extends AnyFunSuite with SparkTestBase {

  test("loadTable pushes filter and prunes columns down to the parquet scan") {
    val df = wh.loadTable("lineitem",
      columns = Seq("l_orderkey", "l_quantity"),
      rowFilter = Some("l_quantity > 45.0"))
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThan(l_quantity,45.0)"), plan)
    // pruned read schema: only the two requested columns reach the scan
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("l_extendedprice"), "scan reads a column the query never uses")
  }

  test("saveTable overwrite/append roundtrip + tableExists") {
    val tmp = Files.createTempDirectory("graft_wh").toString
    val nation = wh.loadTable("nation")
    assert(!wh.tableExists(tmp, "nation"))
    wh.saveTable(nation, tmp, "nation", mode = "overwrite")
    assert(wh.tableExists(tmp, "nation"))
    val back = Warehouse(spark, tmp).loadTable("nation")
    assert(back.count() === 25)
    wh.saveTable(nation, tmp, "nation", mode = "append")
    assert(Warehouse(spark, tmp).loadTable("nation").count() === 50)
  }

  test("saveTable mode=error refuses to clobber an existing table") {
    // reference semantics: save_table errors when the table exists unless
    // overwrite/append (fugue_trino/execution_engine.py:89-97)
    val tmp = Files.createTempDirectory("graft_err").toString
    val nation = wh.loadTable("nation")
    wh.saveTable(nation, tmp, "nation")
    intercept[Exception] {
      wh.saveTable(nation, tmp, "nation", mode = "error")
    }
  }

  test("csv, json and orc load_df/save_df roundtrip") {
    val tmp = Files.createTempDirectory("graft_io").toString
    val src = wh.loadTable("nation", columns = Seq("n_nationkey", "n_name"))
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_name", StringType)))
    for (fmt <- Seq("csv", "json", "orc")) {
      wh.saveDf(src, s"$tmp/$fmt", format = fmt)
      val back = wh.loadDf(s"$tmp/$fmt", format = fmt, schema = Some(schema))
      assert(back.count() === 25, fmt)
      val pairs = back.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val expect = src.collect().map(r => (r.getAs[Number](0).longValue(), r.getString(1))).toSet
      assert(pairs === expect, fmt)
    }
  }

  test("loadDf accepts multiple paths in one scan") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_multi").toString
    val n = wh.loadTable("nation")
    wh.saveDf(n.filter(col("n_nationkey") < 10), s"$tmp/a")
    wh.saveDf(n.filter(col("n_nationkey") >= 10), s"$tmp/b")
    val both = wh.loadDf(Seq(s"$tmp/a", s"$tmp/b"), "parquet", None, header = true)
    assert(both.count() === 25)
    intercept[IllegalArgumentException] {
      wh.loadDf(Nil, "parquet", None, header = true)
    }
  }

  test("sampleN returns exactly n rows") {
    // the reference's sample(n) contract asserts an exact count
    // (tests/fugue_trino/test_execution_engine.py:47-52: count() == 90)
    val got = Relational.sampleN(wh.loadTable("customer"), 90).count()
    assert(got === 90)
  }

  test("partitioned save prunes partitions on filtered reads") {
    import org.apache.spark.sql.functions.{col, year}
    val tmp = Files.createTempDirectory("graft_part").toString
    val o = wh.loadTable("orders").withColumn("yr", year(col("o_orderdate")))
    wh.saveTable(o, tmp, "orders_part", partitionBy = Seq("yr"))
    val part = Warehouse(spark, tmp)
    val filtered = part.loadTable("orders_part", rowFilter = Some("yr = 1996"))
    val plan = filtered.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("(yr = 1996)") || plan.contains("yr#"), plan)
    val expected = o.filter(col("yr") === 1996).count()
    assert(filtered.count() === expected)
  }

  test("bucketed tables join without an exchange") {
    val o = wh.loadTable("orders").select("o_orderkey", "o_totalprice")
    val l = wh.loadTable("lineitem").select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    wh.saveTableBucketed(o, "orders_bucketed", 4, Seq("o_orderkey"))
    wh.saveTableBucketed(l, "lineitem_bucketed", 4, Seq("o_orderkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_bucketed")
        .join(spark.table("lineitem_bucketed"), "o_orderkey")
      val plan = joined.queryExecution.explainString(ExplainMode.fromString("simple"))
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed join still shuffles:\n" + plan)
      assert(joined.count() === wh.loadTable("lineitem").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_join_bucketed plans without an exchange on the join key") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("q_join_bucketed")(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("simple"))
      assert(!plan.contains("hashpartitioning(o_orderkey"),
        "bucketed join still shuffles on the join key:\n" + plan)
      assert(df.count() === 5)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("loadSql runs over registered tables") {
    val n = wh.loadSql("SELECT count(*) AS c FROM nation").collect()(0).getLong(0)
    assert(n === 25)
  }

  test("saveTable to a registered dir invalidates the cached view") {
    val tmp = Files.createTempDirectory("graft_stale").toString
    val w2 = Warehouse(spark, tmp)
    w2.saveTable(wh.loadTable("nation"), tmp, "nation")
    assert(w2.loadSql("SELECT count(*) AS c FROM nation").collect()(0).getLong(0) === 25)
    // overwrite with fewer rows: a frozen file index would serve the old 25
    // (or throw FileNotFoundException on the replaced files)
    w2.saveTable(wh.loadTable("nation").limit(5), tmp, "nation")
    assert(w2.loadSql("SELECT count(*) AS c FROM nation").collect()(0).getLong(0) === 5)
  }

  test("two warehouses on one session each see their own tables in SQL") {
    // temp views are session-global by name; ownership tracking must
    // re-register views when a different warehouse used the name last
    val tmp = Files.createTempDirectory("graft_two").toString
    val w2 = Warehouse(spark, tmp)
    w2.saveTable(wh.loadTable("nation").limit(3), tmp, "nation")
    assert(w2.loadSql("SELECT count(*) AS c FROM nation").collect()(0).getLong(0) === 3)
    assert(wh.loadSql("SELECT count(*) AS c FROM nation").collect()(0).getLong(0) === 25)
    assert(w2.loadSql("SELECT count(*) AS c FROM nation").collect()(0).getLong(0) === 3)
  }

  test("namespaced tables resolve to subdirs and join across namespaces in SQL") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_ns").toString
    val w = Warehouse(spark, tmp)
    // two datasets coexist under one warehouse dir
    w.saveTable(wh.loadTable("nation"), tmp, "sales.nation")
    w.saveTable(wh.loadTable("nation").filter(col("n_nationkey") < 5), tmp, "ops.nation")
    assert(w.tableExists(tmp, "sales.nation") && w.tableExists(tmp, "ops.nation"))
    assert(w.loadTable("sales.nation").count() === 25)
    assert(w.loadTable("ops.nation").count() === 5)
    w.registerNamespace("sales")
    w.registerNamespace("ops")
    val c = w.loadSql(
      """SELECT count(*) AS c FROM sales.nation s
        |JOIN ops.nation o ON s.n_nationkey = o.n_nationkey""".stripMargin)
      .collect()(0).getLong(0)
    assert(c === 5)
    // overwrite refreshes this session's catalog automatically — no
    // manual re-registerNamespace needed for the writing session
    w.saveTable(wh.loadTable("nation").limit(2), tmp, "ops.nation")
    assert(w.loadSql("SELECT count(*) AS c FROM ops.nation").collect()(0).getLong(0) === 2)
    intercept[IllegalArgumentException] { w.registerNamespace("bad-ns") }
  }

  test("analyzeTable feeds row counts and column NDVs to the optimizer") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_stats").toString
    val w = Warehouse(spark, tmp)
    w.saveTable(wh.loadTable("nation"), tmp, "statsdb.nation")
    w.registerNamespace("statsdb")
    w.analyzeTable("statsdb.nation")
    val prev = spark.conf.get("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true") // the ANALYZE+CBO pairing
      val stats = spark.table("statsdb.nation").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(25)), s"row count missing: $stats")
      val desc = spark.sql("DESCRIBE EXTENDED statsdb.nation n_nationkey")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc.get("distinct_count").exists(_ == "25"), desc.toString)
      // CBO can now see the filtered table is tiny: filter estimate < total
      val est = spark.table("statsdb.nation").filter(col("n_nationkey") < 3)
        .queryExecution.optimizedPlan.stats
      assert(est.sizeInBytes < stats.sizeInBytes)
      // a routine re-register takes the REFRESH path and keeps the stats
      w.registerNamespace("statsdb")
      val stats2 = spark.table("statsdb.nation").queryExecution.optimizedPlan.stats
      assert(stats2.rowCount.contains(BigInt(25)), s"REFRESH dropped stats: $stats2")
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)
  }

  test("load dispatches SELECT/WITH to SQL and bare names to tables") {
    // ported from tests/fugue_bigquery/test_utils.py:test_is_select_query
    assert(Warehouse.isSelectQuery("\n    \n    SELECT\n    a\n    "))
    assert(Warehouse.isSelectQuery("\n    \n    WITH\n    a\n    "))
    assert(!Warehouse.isSelectQuery("a.b.c"))
    assert(!Warehouse.isSelectQuery("select.b.c"))
    assert(wh.load("nation").count() === 25)
    assert(wh.load("SELECT * FROM nation WHERE n_nationkey < 5").count() === 5)
  }

  test("describe dumps plan and schema") {
    val d = wh.describe(wh.loadTable("region"))
    assert(d.contains("Output Schema"))
    assert(d.contains("r_regionkey"))
  }

  test("persistToTable cuts lineage: the re-read plan is a bare scan") {
    val tmp = Files.createTempDirectory("graft_persist").toString
    // an intermediate with a join + aggregate above the scan
    val agg = wh.loadTable("nation")
      .join(wh.loadTable("region"), expr("n_regionkey = r_regionkey"))
      .groupBy("r_name").agg(count("*").as("n"))
    val mat = wh.persistToTable(agg, outDir = tmp)
    val plan = mat.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), s"upstream join survived the cut:\n$plan")
    assert(!plan.contains("Aggregate"), s"upstream agg survived the cut:\n$plan")
    assert(mat.count() === agg.count())
    // downstream pushdown reaches the MATERIALIZED files' scan
    val filtered = mat.filter("n > 3").select("r_name")
    val phys = filtered.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(phys.contains("PushedFilters"), phys)
    assert(phys.contains("GreaterThan(n,3)"), phys)
  }

  test("persistToTable overwrite freshness and auto-naming") {
    val tmp = Files.createTempDirectory("graft_persist2").toString
    val v1 = wh.persistToTable(wh.loadTable("region"), table = "inter", outDir = tmp)
    assert(v1.count() === 5)
    // re-materializing under the same name must serve the NEW rows — the
    // saveTable route invalidates any view/file-index caching of the target
    val v2 = wh.persistToTable(wh.loadTable("nation"), table = "inter", outDir = tmp)
    assert(v2.count() === 25)
    assert(wh.tableExists(tmp, "inter"))
    // auto-generated names never collide
    val a = wh.persistToTable(wh.loadTable("region"), outDir = tmp)
    val b = wh.persistToTable(wh.loadTable("nation"), outDir = tmp)
    assert(a.count() === 5)
    assert(b.count() === 25)
  }

  test("text format: line-per-row corpus write + read back") {
    val tmp = Files.createTempDirectory("graft-text").toString
    val names = wh.loadTable("nation").select(expr("n_name AS value"))
    wh.saveDf(names, s"$tmp/corpus", format = "text")
    val back = wh.loadDf(s"$tmp/corpus", "text", None, header = false)
    assert(back.columns.toSeq === Seq("value"))
    assert(back.count() === 25)
    assert(back.except(names).count() === 0 && names.except(back).count() === 0)
  }

  test("zInterleave places bit b of column i at position b*cols+i") {
    import org.apache.spark.sql.functions.{col, lit}
    val df = spark.range(1).select(lit(5L).as("a"), lit(3L).as("b")) // 0b101, 0b011
    val z = df.select(Warehouse.zInterleave(Seq(col("a"), col("b")), 3).as("z"))
      .collect()(0).getLong(0)
    // bits: (b0,a)=1->pos0, (b0,b)=1->pos1, (b1,a)=0, (b1,b)=1->pos3,
    // (b2,a)=1->pos4, (b2,b)=0  =>  1+2+8+16 = 27
    assert(z === 27L)
  }

  test("saveTableZordered: rows preserved, per-file boxes far tighter than natural") {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val tmp = Files.createTempDirectory("graft-zorder").toString
    // 32x32 grid in random-ish row order (hash shuffle)
    val grid = spark.range(1024).select(
      (col("id") % 32).as("x"), (col("id") / 32).cast("long").as("y"),
      col("id").as("rid"))
      .orderBy(expr("hash(id)"))
    wh.saveDf(grid.repartition(8), s"$tmp/natural.parquet")
    Warehouse(spark, tmp).saveTableZordered(grid, tmp, "zordered",
      Seq("x", "y"), bits = 5, numFiles = 8)

    // contents identical
    val back = Warehouse(spark, tmp).loadTable("zordered")
    assert(back.count() === 1024)
    assert(back.select("rid").except(grid.select("rid")).count() === 0)

    def boxArea(path: String): Long =
      spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(((max("x") - min("x") + 1) * (max("y") - min("y") + 1)).as("area"))
        .agg(org.apache.spark.sql.functions.sum("area")).collect()(0).getLong(0)
    val natural = boxArea(s"$tmp/natural.parquet")
    val zord = boxArea(Warehouse.tablePath(tmp, "zordered"))
    // hash-scattered files each span ~the whole grid (area ~1024 x 8);
    // z-ordered files cover compact tiles - demand at least 4x tighter
    assert(zord * 4 <= natural, s"zordered=$zord natural=$natural")
  }

  test("time travel: versions are immutable, latest resolves, as-of by time") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_tt").toString
    val w = Warehouse(spark, tmp)
    val n = wh.loadTable("nation")
    assert(w.listVersions("nv") === Seq.empty)
    assert(w.saveTableVersioned(n.filter(col("n_nationkey") < 5), tmp, "nv") === 1L)
    val t1 = System.currentTimeMillis()
    Thread.sleep(20)
    assert(w.saveTableVersioned(n.filter(col("n_nationkey") < 10), tmp, "nv") === 2L)
    assert(w.listVersions("nv") === Seq(1L, 2L))
    assert(w.loadTableVersion("nv", 1).count() === 5)
    assert(w.loadTableVersion("nv", 2).count() === 10)
    // loadTable resolves the LATEST committed version
    assert(w.loadTable("nv").count() === 10)
    // as-of t1 sees only v1; as-of now sees v2
    assert(w.loadTableAsOf("nv", t1).count() === 5)
    assert(w.loadTableAsOf("nv", System.currentTimeMillis()).count() === 10)
    // a version dir without _SUCCESS is not committed (crashed write)
    val junk = new org.apache.hadoop.fs.Path(
      Warehouse.versionDir(Warehouse.tablePath(tmp, "nv"), 3))
    val fs = junk.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(junk)
    assert(w.listVersions("nv") === Seq(1L, 2L))
    assert(w.loadTable("nv").count() === 10)
    // next write claims version 3's slot is taken -> becomes 4? No: the
    // uncommitted dir already occupies v3, so errorifexists fails the
    // writer rather than silently merging into a torn directory
    intercept[Exception] {
      w.saveTableVersioned(n, tmp, "nv")
    }
    intercept[IllegalArgumentException] { w.loadTableVersion("nv", 7) }
    intercept[IllegalArgumentException] { w.loadTableAsOf("nv", 0L) }
  }

  test("restoreTableVersion: new commit with the old snapshot's content, history intact") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_restore").toString
    val w = Warehouse(spark, tmp)
    val n = wh.loadTable("nation")
    w.saveTableVersioned(n.filter(col("n_nationkey") < 5), tmp, "nv")
    w.saveTableVersioned(n.filter(col("n_nationkey") < 10), tmp, "nv")
    assert(w.restoreTableVersion(tmp, "nv", 1L) === 3L,
      "restore commits a NEW version, never rolls back by delete")
    assert(w.listVersions("nv") === Seq(1L, 2L, 3L), "history intact")
    assert(w.loadTable("nv").count() === 5, "latest re-reads as v1")
    assert(w.loadTable("nv").select("n_nationkey").collect().map(_.getInt(0)).sorted
      === w.loadTableVersion("nv", 1).select("n_nationkey").collect()
        .map(_.getInt(0)).sorted, "content identical to the restored snapshot")
    assert(w.loadTableVersion("nv", 2).count() === 10, "the bad version stays readable")
    // restoring the CURRENT version is an explicit re-commit
    assert(w.restoreTableVersion(tmp, "nv", 3L) === 4L)
    assert(w.loadTable("nv").count() === 5)
    intercept[IllegalArgumentException] { w.restoreTableVersion(tmp, "nv", 9L) }
  }

  test("vacuumTable: drops oldest committed versions, keeps latest, spares uncommitted") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_vac").toString
    val w = Warehouse(spark, tmp)
    val n = wh.loadTable("nation")
    w.saveTableVersioned(n.filter(col("n_nationkey") < 5), tmp, "nv")
    w.saveTableVersioned(n.filter(col("n_nationkey") < 10), tmp, "nv")
    w.saveTableVersioned(n.filter(col("n_nationkey") < 15), tmp, "nv")
    // an uncommitted (torn) dir beyond the committed range must survive
    val junk = new org.apache.hadoop.fs.Path(
      Warehouse.versionDir(Warehouse.tablePath(tmp, "nv"), 4))
    val fs = junk.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(junk)
    assert(w.vacuumTable(tmp, "nv", keepLast = 2) === Seq(1L))
    assert(w.listVersions("nv") === Seq(2L, 3L))
    assert(w.loadTable("nv").count() === 15)
    assert(w.loadTableVersion("nv", 2).count() === 10)
    intercept[IllegalArgumentException] { w.loadTableVersion("nv", 1) }
    assert(fs.exists(junk), "uncommitted dir must not be vacuumed")
    // keepLast covering everything is a no-op
    assert(w.vacuumTable(tmp, "nv", keepLast = 10) === Seq.empty)
    assert(w.listVersions("nv") === Seq(2L, 3L))
    intercept[IllegalArgumentException] { w.vacuumTable(tmp, "nv", keepLast = 0) }
    intercept[IllegalArgumentException] { w.vacuumTable(tmp, "region", keepLast = 1) }
  }

  test("describeHistory: one row per committed version, sizes, latest flag") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_hist").toString
    val w = Warehouse(spark, tmp)
    val n = wh.loadTable("nation")
    w.saveTableVersioned(n.filter(col("n_nationkey") < 5), tmp, "nv")
    w.saveTableVersioned(n, tmp, "nv")
    // a torn (uncommitted) dir must be invisible, matching every reader
    val junk = new org.apache.hadoop.fs.Path(
      Warehouse.versionDir(Warehouse.tablePath(tmp, "nv"), 3))
    junk.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(junk)
    val h = w.describeHistory(tmp, "nv").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    h.foreach { r =>
      assert(r.getLong(2) >= 1L && r.getLong(3) > 0L,
        "every committed version has data files and bytes")
      assert(r.getLong(1) > 0L, "commit time from the _SUCCESS marker")
    }
    assert(h.map(r => r.getLong(0) -> r.getBoolean(4)).toMap ===
      Map(1L -> false, 2L -> true), "newest flagged")
    // vacuum planning: the history row count tracks retention
    w.vacuumTable(tmp, "nv", keepLast = 1)
    assert(w.describeHistory(tmp, "nv").count() === 1L)
    intercept[IllegalArgumentException] { w.describeHistory(tmp, "region") }
  }

  test("retentionPlan: dry-run flags == what the vacuum verbs then drop") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_plan").toString
    val w = Warehouse(spark, tmp)
    val n = wh.loadTable("nation")
    (1 to 4).foreach(i =>
      w.saveTableVersioned(n.filter(col("n_nationkey") < i * 5), tmp, "nv"))
    val base = Warehouse.tablePath(tmp, "nv")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(1L -> 1000L, 2L -> 2000L, 3L -> 3000L, 4L -> 4000L).foreach {
      case (v, t) => fs.setTimes(new org.apache.hadoop.fs.Path(
        Warehouse.versionDir(base, v), "_SUCCESS"), t, -1)
    }
    def plan(keep: Int, cutoff: Long) =
      w.retentionPlan(tmp, "nv", keep, cutoff).collect()
        .map(r => r.getLong(0) ->
          ((r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))).toMap
    // count policy alone: keepLast=2 marks v1, v2
    val p1 = plan(2, Long.MinValue)
    assert(p1.view.mapValues(_._1).toMap ===
      Map(1L -> true, 2L -> true, 3L -> false, 4L -> false))
    assert(p1.values.forall(v => !v._2), "age policy inactive at MinValue")
    // age policy alone: cutoff 2500 marks v1, v2; newest spared always
    val p2 = plan(Int.MaxValue, 2500L)
    assert(p2.view.mapValues(_._2).toMap ===
      Map(1L -> true, 2L -> true, 3L -> false, 4L -> false))
    // union: keepLast=3 (marks v1) + cutoff 2500 (marks v1, v2)
    val p3 = plan(3, 2500L)
    assert(p3.view.mapValues(_._3).toMap ===
      Map(1L -> true, 2L -> true, 3L -> false, 4L -> false))
    // PLAN == ACTION: the verbs drop exactly the flagged versions
    assert(w.vacuumTableOlderThan(tmp, "nv", 2500L).toSet ===
      p2.filter(_._2._2).keySet)
    val pKeep1 = plan(1, Long.MinValue) // on the surviving {3, 4}
    assert(w.vacuumTable(tmp, "nv", keepLast = 1).toSet ===
      pKeep1.filter(_._2._1).keySet)
    assert(w.listVersions("nv") === Seq(4L))
  }

  test("vacuumTableOlderThan: age cutoff, newest always survives") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_vacage").toString
    val w = Warehouse(spark, tmp)
    val n = wh.loadTable("nation")
    w.saveTableVersioned(n.filter(col("n_nationkey") < 5), tmp, "nv")
    w.saveTableVersioned(n.filter(col("n_nationkey") < 10), tmp, "nv")
    w.saveTableVersioned(n.filter(col("n_nationkey") < 15), tmp, "nv")
    // pin deterministic commit times on the _SUCCESS markers (the same
    // clock loadTableAsOf resolves by)
    val base = Warehouse.tablePath(tmp, "nv")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(1L -> 1000L, 2L -> 2000L, 3L -> 3000L).foreach { case (v, t) =>
      fs.setTimes(new org.apache.hadoop.fs.Path(
        Warehouse.versionDir(base, v), "_SUCCESS"), t, -1)
    }
    assert(w.vacuumTableOlderThan(tmp, "nv", 500L) === Seq.empty,
      "cutoff before everything: nothing to drop")
    assert(w.vacuumTableOlderThan(tmp, "nv", 1500L) === Seq(1L))
    assert(w.listVersions("nv") === Seq(2L, 3L))
    // a cutoff past every commit still spares the newest version
    assert(w.vacuumTableOlderThan(tmp, "nv", Long.MaxValue) === Seq(2L))
    assert(w.listVersions("nv") === Seq(3L))
    assert(w.loadTable("nv").count() === 15, "latest intact")
    intercept[IllegalArgumentException] {
      w.vacuumTableOlderThan(tmp, "region", 0L)
    }
  }

  test("forgetAndRewrite: erases latest, purges key-bearing history, audits") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_rtbf").toString
    val w = Warehouse(spark, tmp)
    val n = wh.loadTable("nation")
    w.saveTableVersioned(n.filter(col("n_nationkey") < 5), tmp, "nv")
    w.saveTableVersioned(n.filter(col("n_nationkey") < 10), tmp, "nv")
    w.saveTableVersioned(n.filter(col("n_nationkey") < 15), tmp, "nv")
    // keys 2 and 7 live in history; 7 is absent from v1; 999 matches nothing
    val req = Seq(2, 7, 999).toDF("n_nationkey")
    val audit = w.forgetAndRewrite(tmp, "nv", req, Seq("n_nationkey")).collect()
    assert(audit.length === 1)
    val r = audit.head
    assert(r.getString(0) === "nv" && r.getLong(1) === 4L)
    assert(r.getLong(2) === 15L && r.getLong(3) === 2L && r.getLong(4) === 13L,
      "two of three requested keys matched the 15-row latest")
    assert(r.getLong(5) === 3L && r.getLong(6) === 2L)
    assert(r.getLong(7) === 3L && r.getLong(8) === 1L,
      "v1 holds key 2, v2/v3 hold both — all three purged")
    assert(w.listVersions("nv") === Seq(4L),
      "no readable version may still contain a requested key")
    assert(w.loadTable("nv").filter(col("n_nationkey").isin(2, 7)).count() === 0)
    assert(w.loadTable("nv").count() === 13)
    // the audit LOG accumulates in a plain companion table
    assert(w.loadTable("nv__forget_audit").count() === 1)
    // a request matching NOTHING purges nothing: history survives
    val audit2 = w.forgetAndRewrite(tmp, "nv",
      Seq(999).toDF("n_nationkey"), Seq("n_nationkey")).collect().head
    assert(audit2.getLong(1) === 5L && audit2.getLong(3) === 0L)
    assert(audit2.getLong(7) === 0L && audit2.getLong(8) === 2L)
    assert(w.listVersions("nv") === Seq(4L, 5L), "clean history kept")
    assert(w.loadTable("nv__forget_audit").count() === 2)
    // a NULL key refuses loudly BEFORE any version is touched
    val ex = intercept[Exception] {
      w.forgetAndRewrite(tmp, "nv",
        Seq(Some(1), None).toDF("n_nationkey"), Seq("n_nationkey"))
    }
    assert(root(ex).contains("NULL"))
    assert(w.listVersions("nv") === Seq(4L, 5L), "nothing touched on refusal")
    // a plain (non-versioned) table is refused with the right pointer
    wh.saveTable(n, tmp, "plainn")
    val ex2 = intercept[IllegalArgumentException] {
      w.forgetAndRewrite(tmp, "plainn", req, Seq("n_nationkey"))
    }
    assert(ex2.getMessage.contains("not versioned"))
    // an instance whose baseDir is NOT outDir must still erase and
    // purge under outDir (the vacuumTable dir-parameter convention —
    // reading versions through the instance's baseDir would erase one
    // table while purging another)
    val other = Files.createTempDirectory("graft_rtbf_other").toString
    val w2 = Warehouse(spark, other)
    val a3 = w2.forgetAndRewrite(tmp, "nv",
      Seq(3).toDF("n_nationkey"), Seq("n_nationkey")).collect().head
    assert(a3.getLong(1) === 6L && a3.getLong(3) === 1L,
      "erasure ran against the outDir table, not baseDir")
    assert(w.listVersions("nv") === Seq(6L),
      "key-bearing versions 4 and 5 purged under outDir")
  }

  test("compactTable: content preserved, files merged, views refreshed") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_cmp").toString
    val w = Warehouse(spark, tmp)
    val o = wh.loadTable("orders").select("o_orderkey", "o_totalprice")
    w.saveTable(o.repartition(12), tmp, "om")
    def files(): Int = {
      val p = new org.apache.hadoop.fs.Path(Warehouse.tablePath(tmp, "om"))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).count(st => st.isFile &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
    }
    assert(files() === 12)
    val before = w.loadTable("om").collect().map(_.toSeq).toSet
    val n = w.compactTable(tmp, "om", targetBytes = 1L << 40)
    assert(n === 1 && files() === 1)
    assert(w.loadTable("om").collect().map(_.toSeq).toSet === before)
    // a partitioned layout is refused, not flattened
    val p = wh.loadTable("orders")
      .withColumn("yr", org.apache.spark.sql.functions.year(col("o_orderdate")))
    w.saveTable(p, tmp, "op", partitionBy = Seq("yr"))
    intercept[IllegalArgumentException] { w.compactTable(tmp, "op") }
    // compacting a VERSIONED table compacts only its latest version
    w.saveTableVersioned(o.repartition(8), tmp, "ov")
    w.saveTableVersioned(o.repartition(8), tmp, "ov")
    w.compactTable(tmp, "ov", targetBytes = 1L << 40)
    assert(w.loadTable("ov").count() === o.count())
    assert(w.loadTableVersion("ov", 1).count() === o.count())
    val v1dir = new org.apache.hadoop.fs.Path(
      Warehouse.versionDir(Warehouse.tablePath(tmp, "ov"), 1))
    val fs1 = v1dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs1.listStatus(v1dir).count(st => st.isFile &&
      !st.getPath.getName.startsWith("_")) === 8, "v1 layout untouched")
  }

  test("compaction preserves a versioned table's commit timestamps (as-of)") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_ttc").toString
    val w = Warehouse(spark, tmp)
    val n = wh.loadTable("nation")
    w.saveTableVersioned(n.filter(col("n_nationkey") < 5).repartition(4), tmp, "nv")
    Thread.sleep(20)
    val t1 = System.currentTimeMillis()
    Thread.sleep(20)
    w.saveTableVersioned(n.filter(col("n_nationkey") < 10).repartition(4), tmp, "nv")
    Thread.sleep(20)
    val t2 = System.currentTimeMillis()
    w.compactTable(tmp, "nv", targetBytes = 1L << 40)
    // as-of reads resolve exactly as before the rewrite: t1 -> v1, t2 -> v2
    assert(w.loadTableAsOf("nv", t1).count() === 5)
    assert(w.loadTableAsOf("nv", t2).count() === 10)
    assert(w.loadTable("nv").count() === 10)
  }

  test("getSchema and loadTableStream resolve versioned tables") {
    val tmp = Files.createTempDirectory("graft_ttv").toString
    val w = Warehouse(spark, tmp)
    val n = wh.loadTable("nation")
    w.saveTableVersioned(n.select("n_nationkey", "n_name"), tmp, "nv")
    w.saveTableVersioned(n.select("n_nationkey", "n_name", "n_regionkey"), tmp, "nv")
    // schema of the LATEST version (3 columns)
    assert(w.getSchema("nv").fieldNames.toSeq
      === Seq("n_nationkey", "n_name", "n_regionkey"))
    // streaming read drains the latest version's rows
    val q = w.loadTableStream("nv").writeStream
      .format("memory").queryName("ttv_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("ttv_out").count() === n.count())
  }

  test("table reads start no Spark job: loadTable, getSchema, the first registerAll") {
    import org.apache.spark.sql.functions.{col, year}
    val tmp = Files.createTempDirectory("graft_nojob").toString
    val w = Warehouse(spark, tmp)
    val o = wh.loadTable("orders")
    w.saveTable(o.withColumn("yr", year(col("o_orderdate"))), tmp, "op", partitionBy = Seq("yr"))
    w.saveTableVersioned(o, tmp, "ov")
    // the counter sees Spark's own footer inference, the job graft skips
    assert(jobsRunBy(spark.read.parquet(Warehouse.tablePath(sfDir, "nation"))) >= 1)
    assert(jobsRunBy(wh.loadTable("lineitem")) === 0, "single-file table")
    assert(jobsRunBy(w.loadTable("op")) === 0, "hive-partitioned table")
    assert(jobsRunBy(w.loadTable("ov")) === 0, "versioned table")
    assert(jobsRunBy(wh.getSchema("events")) === 0, "getSchema")
    // drop every session's ownership of the sf0.001 views, so the next
    // registerAll registers each table afresh
    Warehouse.knownTables.foreach(Warehouse.invalidate(sfDir, _))
    assert(jobsRunBy(wh.registerAll()) === 0, "first registerAll")
  }

  test("loadTable fails naming the path on a malformed store") {
    import org.apache.hadoop.fs.Path
    val tmp = Files.createTempDirectory("graft_bad").toString
    val w = Warehouse(spark, tmp)
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a table dir that holds only the commit marker
    val onlyMarker = Warehouse.tablePath(tmp, "marker")
    fs.create(new Path(onlyMarker, "_SUCCESS")).close()
    val e1 = intercept[IllegalStateException](w.loadTable("marker"))
    assert(e1.getMessage.contains(onlyMarker), e1.getMessage)
    // a table whose one data file has a truncated footer
    w.saveTable(wh.loadTable("nation").coalesce(1), tmp, "cut")
    val cut = Warehouse.tablePath(tmp, "cut")
    val data = fs.listStatus(new Path(cut)).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
    assert(data.length === 1)
    val file = java.nio.file.Paths.get(data.head.toUri)
    val bytes = Files.readAllBytes(file)
    Files.write(file, bytes.take(bytes.length - 16))
    fs.delete(new Path(cut, s".${data.head.getName}.crc"), false)
    val e2 = intercept[IllegalStateException](w.loadTable("cut"))
    assert(e2.getMessage.contains(cut), e2.getMessage)
  }

  test("appendTable evolves schema by added columns; merged read NULL-fills") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_evo").toString
    val w = Warehouse(spark, tmp)
    w.saveTable(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), tmp, "t")
    // superset append (evolution)
    w.appendTable(Seq((3L, 30.0, "x")).toDF("id", "v", "tag"), tmp, "t")
    // subset append (rows predating nothing — missing column NULL-fills)
    w.appendTable(Seq((4L, 40.0)).toDF("id", "v"), tmp, "t")
    val merged = w.loadTable("t", mergeSchema = true)
    assert(merged.schema.fieldNames.sorted.toSeq === Seq("id", "tag", "v"))
    val tags = merged.collect()
      .map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("tag"))).toMap
    assert(tags === Map(1L -> None, 2L -> None, 3L -> Some("x"), 4L -> None))
    // a NON-merged read still works (sees some footer's schema)
    assert(w.loadTable("t").count() === 4)
    // disjoint schema refused
    assertThrows[IllegalArgumentException] {
      w.appendTable(Seq((5L, "y")).toDF("id", "other"), tmp, "t")
    }
    // retype refused
    assertThrows[IllegalArgumentException] {
      w.appendTable(Seq(("6", 60.0)).toDF("id", "v"), tmp, "t")
    }
  }

  test("appendTable after a write to a sibling table reads no footer") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_sib").toString
    val w = Warehouse(spark, tmp)
    w.saveTable(Seq((1L, 10.0)).toDF("id", "v"), tmp, "log")
    w.appendTable(Seq((2L, 20.0, "x")).toDF("id", "v", "tag"), tmp, "log")
    w.saveTableVersioned(Seq((1L, 1.0)).toDF("k", "x"), tmp, "cur")
    // the write itself is the one job: the union schema is still cached
    assert(jobsRunBy(w.appendTable(Seq((3L, 30.0)).toDF("id", "v"), tmp, "log")) === 1)
    assert(w.loadTable("log", mergeSchema = true).count() === 3)
  }

  test("compactTable keeps the columns appendTable added, whichever file lists first") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val narrow = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    val wide = Seq((3L, 30.0, "x")).toDF("id", "v", "tag")
    val tmp = Files.createTempDirectory("graft_cmpevo").toString
    val w = Warehouse(spark, tmp)
    // a table's first listed file decides a single-footer read; build
    // tables until one lists its narrow file first and one its wide file
    // first, alternating the write order so either listing rule yields both
    val byFirst = scala.collection.mutable.Map[Boolean, String]()
    var i = 0
    while (byFirst.size < 2 && i < 40) {
      val t = s"t$i"
      val (first, second): (DataFrame, DataFrame) =
        if (i % 2 == 0) (narrow, wide) else (wide, narrow)
      w.saveTable(first.coalesce(1), tmp, t)
      w.appendTable(second.coalesce(1), tmp, t)
      val wideFirst = Warehouse.footerSchema(spark, Warehouse.tablePath(tmp, t))
        .schema.fieldNames.contains("tag")
      byFirst.getOrElseUpdate(wideFirst, t)
      i += 1
    }
    assert(byFirst.size === 2, "both listing orders built")
    def rows(t: String) =
      w.loadTable(t, mergeSchema = true).collect().map(_.toSeq).toSet
    byFirst.foreach { case (wideFirst, t) =>
      val before = rows(t)
      assert(before.exists(_.contains("x")))
      // the union schema is cached by the append: the compaction's
      // shuffle and write are its only jobs
      assert(jobsRunBy(w.compactTable(tmp, t, targetBytes = 1L << 40)) === 2)
      assert(w.loadTable(t, mergeSchema = true).schema.fieldNames.sorted.toSeq ===
        Seq("id", "tag", "v"), s"wide file listed first: $wideFirst")
      assert(rows(t) === before, s"wide file listed first: $wideFirst")
    }
  }

  test("appendTable refuses a versioned table (base-path rows would be invisible)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_appver").toString
    val w = Warehouse(spark, tmp)
    w.saveTableVersioned(Seq((1L, 10.0)).toDF("id", "v"), tmp, "vt")
    // appending to the BASE path of a versioned table would silently lose
    // the rows (every read resolves to the latest version dir) — loud refusal
    val e = intercept[IllegalArgumentException] {
      w.appendTable(Seq((2L, 20.0)).toDF("id", "v"), tmp, "vt")
    }
    assert(e.getMessage.contains("versioned"))
    // the table still reads its committed version, untouched
    assert(w.loadTable("vt").collect().map(_.getLong(0)).toSeq === Seq(1L))
  }
}

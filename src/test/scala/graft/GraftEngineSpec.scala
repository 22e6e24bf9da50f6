package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraftEngineSpec extends AnyFunSuite with SparkTestBase {

  private lazy val engine = GraftEngine(spark, sfDir)

  test("toDf builds a frame from local rows and a DDL schema") {
    val df = engine.toDf(Seq(Row(1L, "a"), Row(2L, "b")), "id bigint, v string")
    assert(df.count() === 2)
    assert(df.schema.fieldNames.toSeq === Seq("id", "v"))
  }

  test("engine verbs compose end-to-end") {
    val c = engine.loadTable("customer", columns = Seq("c_custkey", "c_nationkey"))
    val n = engine.rename(engine.loadTable("nation"), Map("n_nationkey" -> "c_nationkey"))
    val joined = engine.join(c, n, "inner", Seq("c_nationkey"))
    val top = engine.take(joined, 3, Seq(col("c_custkey").desc))
    assert(top.count() === 3)
    val agg = engine.select(Map("j" -> joined),
      "SELECT n_name, count(*) AS c FROM j GROUP BY n_name")
    assert(agg.count() === 25)
  }

  test("engine sample follows the reference contract") {
    intercept[IllegalArgumentException] { engine.sample(engine.loadTable("orders")) }
    assert(engine.sample(engine.loadTable("orders"), n = Some(50)).count() === 50)
  }

  test("frame handle is reachable from the engine") {
    assert(engine.table("region").count() === 5)
  }

  test("session AQE posture (r13): advisory-size coalescing + cached-plan AQE") {
    // parallelismFirst=false lets AQE respect the advisory partition size
    // instead of pinning tiny post-shuffle partitions at defaultParallelism;
    // cached-plan AQE lets persisted frames coalesce too
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst") === "false")
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") === "true")
    // the compiled-class cache holds the working set of generated code
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1000")
    // and the coalescing actually bites: a tiny groupBy's post-shuffle
    // read collapses below the session's shuffle-partition setting
    import org.apache.spark.sql.functions._
    val g = spark.range(0, 10000)
      .select((col("id") % 100).as("k")).groupBy("k").agg(count(lit(1)))
    g.write.format("noop").mode("overwrite").save()
    assert(g.rdd.getNumPartitions === 1,
      "advisory-size coalescing collapses a tiny aggregate to one partition")
  }

  test("SPARK_GRAFT_CPUS: default if unset, loud failure if malformed") {
    assert(GraftSession.parseCpus(None, 32) === 32)
    assert(GraftSession.parseCpus(Some("8"), 32) === 8)
    Seq("eight", "", "8 ", "0", "-4", "99999999999").foreach { bad =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad), 4))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }
}

package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

class TopKAggSpec extends AnyFunSuite with SparkTestBase {

  test("topK equals sort-based reference across groups, including merges") {
    // 10k rows, 7 groups, deterministic pseudo-random scores, forced into
    // many partitions so partial-aggregate merge paths are exercised
    val df = spark.range(10000).repartition(16)
      .withColumn("grp", col("id") % 7)
      .withColumn("score", (xxhash64(col("id")) % 100000).cast("double") / 1000.0)
    val got = df.groupBy("grp")
      .agg(GraftFunctions.topK(col("id"), col("score"), 10).as("tk"))
      .select(col("grp"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("grp"), (col("pos") + 1).as("rank"), col("e.id").as("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2))).toSet
    val w = Window.partitionBy("grp").orderBy(col("score").desc, col("id"))
    val ref = df.withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      .select("grp", "rank", "id")
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2))).toSet
    assert(got === ref)
  }

  test("ties break toward the smaller id") {
    val df = spark.range(100).withColumn("score", lit(1.0))
    val ids = df.agg(GraftFunctions.topK(col("id"), col("score"), 5).as("tk"))
      .select(explode(col("tk.id"))).collect().map(_.getLong(0)).toSeq
    assert(ids === Seq(0L, 1L, 2L, 3L, 4L))
  }
}

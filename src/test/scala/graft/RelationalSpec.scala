package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

class RelationalSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("semi + anti partition the left side") {
    val c = wh.loadTable("customer")
    val o = Relational.rename(wh.loadTable("orders"), Map("o_custkey" -> "c_custkey"))
    val semi = Relational.join(c, o, "semi", Seq("c_custkey")).count()
    val anti = Relational.join(c, o, "anti", Seq("c_custkey")).count()
    assert(semi + anti === c.count())
  }

  test("take per group keeps at most n rows per key") {
    val t = Relational.take(wh.loadTable("orders"), 3,
      Seq(col("o_totalprice").desc), partitionBy = Seq("o_orderpriority"))
    val maxPerGroup = t.groupBy("o_orderpriority").count().agg(max("count")).collect()(0).getLong(0)
    assert(maxPerGroup <= 3)
  }

  test("rangeJoin equals the naive cross-filter join at any binSize") {
    val pts = Seq((1L, 5L), (2L, 10L), (3L, 17L), (4L, -3L), (5L, 100L))
      .toDF("pid", "p")
    val ivs = Seq((10L, 0L, 10L), (20L, 9L, 16L), (30L, -5L, -1L),
      (40L, 17L, 17L), (50L, 8L, 3L) /* inverted: never matches */ )
      .toDF("iid", "lo", "hi")
    val want = pts.crossJoin(ivs)
      .filter($"p" >= $"lo" && $"p" <= $"hi")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty && want.contains((3L, 40L)) && want.contains((4L, 30L)))
    Seq(1L, 4L, 100L).foreach { bin =>
      val got = Relational.rangeJoin(pts, ivs, "p", "lo", "hi", bin)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"binSize=$bin")
    }
  }

  test("rangeJoin left keeps unmatched points with NULL band columns") {
    val pts = Seq((1L, 5L), (2L, 999L)).toDF("pid", "p")
    val ivs = Seq((10L, 0L, 10L)).toDF("iid", "lo", "hi")
    val got = Relational.rangeJoin(pts, ivs, "p", "lo", "hi", 10L, how = "left")
      .collect().map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    assert(got === Set((1L, Some(10L)), (2L, None)))
  }

  test("rangeJoin left: matched rows with NULL columns are not re-emitted") {
    val pts = Seq((1L, 5L, Option.empty[String]), (2L, 999L, Option("z")))
      .toDF("pid", "p", "note")
    val ivs = Seq((10L, 0L, 10L)).toDF("iid", "lo", "hi")
    val got = Relational.rangeJoin(pts, ivs, "p", "lo", "hi", 10L, how = "left")
      .collect().map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long])))
    // pid=1 (note NULL) matched once and ONLY once; pid=2 unmatched padded
    assert(got.sortBy(_._1).toSeq === Seq((1L, Some(10L)), (2L, None)))
  }

  test("rangeJoin plans an equi-join on the bin, not a nested loop") {
    val pts = Seq((1L, 5L)).toDF("pid", "p")
    val ivs = Seq((10L, 0L, 10L)).toDF("iid", "lo", "hi")
    val plan = Relational.rangeJoin(pts, ivs, "p", "lo", "hi", 10L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("profile: exact counts, nulls, min/max per column in one pass") {
    val df = Seq((1L, Option("a")), (2L, Option("b")), (2L, None))
      .toDF("k", "v")
    val got = Relational.profile(df, exact = true)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5), r.getString(6))).toSeq
    assert(got === Seq(
      ("k", "bigint", 3L, 3L, 2L, "1", "2"),
      ("v", "string", 3L, 2L, 2L, "a", "b")))
  }

  test("profile: approx mode stays within HLL error on distinct counts") {
    val df = wh.loadTable("orders").select("o_orderkey", "o_orderpriority")
    val got = Relational.profile(df, exact = false, rsd = 0.05)
      .collect().map(r => (r.getString(0), r.getLong(4))).toMap
    val nd = wh.loadTable("orders").select("o_orderkey").distinct().count()
    assert(math.abs(got("o_orderkey") - nd).toDouble / nd < 0.2)
    assert(got("o_orderpriority") === 5L) // tiny cardinality is exact in HLL
  }

  test("take per group without presort returns any n per group") {
    val t = Relational.take(wh.loadTable("orders"), 2, Nil, partitionBy = Seq("o_orderpriority"))
    val counts = t.groupBy("o_orderpriority").count().collect().map(_.getLong(1))
    assert(counts.forall(_ <= 2) && counts.nonEmpty)
  }

  test("dropna how=all only drops fully-null rows") {
    val df = Seq[(Option[Int], Option[Int])]((Some(1), None), (None, None), (Some(2), Some(3)))
      .toDF("a", "b")
    assert(Relational.dropna(df, "all").count() === 2)
    assert(Relational.dropna(df, "any").count() === 1)
  }

  test("dropna thresh keeps rows with at least thresh non-nulls") {
    val df = Seq[(Option[Int], Option[Int], Option[Int])](
      (Some(1), None, None), (Some(1), Some(2), None),
      (None, None, None), (Some(1), Some(2), Some(3)))
      .toDF("a", "b", "c")
    assert(Relational.dropna(df, thresh = Some(2)).count() === 2)
    assert(Relational.dropna(df, subset = Seq("a", "b"), thresh = Some(1)).count() === 3)
  }

  test("sample with replacement draws duplicate rows; without never does") {
    val n = wh.loadTable("nation").select("n_nationkey")
    // Poisson with mean 3: 25 keys → expect ~75 rows and near-certain dups
    val withRep = Relational.sampleFrac(n, 3.0, seed = 7L, replace = true)
    assert(withRep.count() > n.count(), "replacement sample should exceed base size")
    assert(withRep.distinct().count() < withRep.count(), "expected duplicate draws")
    val without = Relational.sampleFrac(n, 0.5, seed = 7L)
    assert(without.distinct().count() === without.count())
    intercept[IllegalArgumentException] {
      Relational.sample(n, n = Some(5), replace = true)
    }
  }

  test("presort strings parse to ordered takes with na_position") {
    val df = Seq[(Option[Int], String)](
      (Some(3), "c"), (None, "x"), (Some(1), "a"), (Some(2), "b"))
      .toDF("k", "v")
    val last = Relational.takePresort(df, 4, "k desc", naPosition = "last")
      .select("v").collect().map(_.getString(0)).toSeq
    assert(last === Seq("c", "b", "a", "x"))
    val first = Relational.takePresort(df, 4, "k desc", naPosition = "first")
      .select("v").collect().map(_.getString(0)).toSeq
    assert(first === Seq("x", "c", "b", "a"))
    // multi-key string form, default asc
    val multi = Relational.takePresort(df.filter(col("k").isNotNull), 2, "k, v ASC")
      .select("k").collect().map(_.getInt(0)).toSeq
    assert(multi === Seq(1, 2))
    intercept[IllegalArgumentException] { Relational.parsePresort("k sideways") }
    intercept[IllegalArgumentException] { Relational.parsePresort("k", "middle") }
  }

  test("alterColumns casts preserve column order") {
    val out = Relational.alterColumns(wh.loadTable("nation"),
      Map("n_nationkey" -> "string"))
    assert(out.columns.toSeq === wh.loadTable("nation").columns.toSeq)
    assert(out.schema("n_nationkey").dataType === StringType)
  }

  test("asofJoin picks the latest right row at-or-before each left ts") {
    def ts(min: Int) = new Timestamp(3600L * 1000 * 24 * 1000 + min * 60000L)
    val left = Seq((1L, ts(600), 1L), (1L, ts(630), 2L), (2L, ts(540), 3L))
      .toDF("k", "ts", "lid")
    val right = Seq((1L, ts(595), "a"), (1L, ts(610), "b"), (2L, ts(540), "c"), (2L, ts(541), "d"))
      .toDF("k", "ts", "v")
    val got = Relational.asofJoin(left, right, "k", "ts", Seq("v"))
      .select("lid", "v_right").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a", 2L -> "b", 3L -> "c")) // 3: tie at equal ts is inclusive
  }

  test("asofJoin matches rows, not values: a NULL in the latest right row wins") {
    def ts(min: Int) = new Timestamp(min * 60000L)
    val left = Seq((1L, ts(300), 1L)).toDF("k", "ts", "lid")
    val right = Seq((1L, ts(100), Some("old")), (1L, ts(200), Option.empty[String]))
      .toDF("k", "ts", "v")
    val got = Relational.asofJoin(left, right, "k", "ts", Seq("v")).collect()(0)
    // the ts=200 row is the as-of match; its v is genuinely NULL
    assert(got.getAs[String]("v_right") == null)
  }

  test("asofJoin yields null when no right row precedes") {
    def ts(min: Int) = new Timestamp(min * 60000L)
    val left = Seq((1L, ts(100), 1L)).toDF("k", "ts", "lid")
    val right = Seq((1L, ts(200), "late")).toDF("k", "ts", "v")
    val got = Relational.asofJoin(left, right, "k", "ts", Seq("v")).collect()
    assert(got.length === 1 && got(0).getAs[String]("v_right") == null)
  }

  test("transform maps partitions with an explicit output schema") {
    val in = spark.range(100).toDF("id")
    val out = Relational.transform(in,
      StructType(Seq(StructField("doubled", LongType)))) { it =>
      it.map(r => Row(r.getLong(0) * 2))
    }
    assert(out.agg(sum("doubled")).collect()(0).getLong(0) === 9900)
  }

  test("cogroup streams both sides per key") {
    val l = Seq((1L, "x"), (2L, "y")).toDF("k", "a")
    val r = Seq((1L, 10L), (1L, 20L), (3L, 30L)).toDF("k", "b")
    val out = Relational.cogroup(l, r, "k", "k",
      StructType(Seq(StructField("k", LongType), StructField("n_l", LongType),
        StructField("sum_r", LongType)))) { (k, ls, rs) =>
      Iterator.single(Row(k, ls.size.toLong, rs.map(_.getLong(1)).sum))
    }
    val m = out.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m === Map(1L -> (1L, 30L), 2L -> (1L, 0L), 3L -> (0L, 30L)))
  }

  test("stratifiedSample respects per-stratum fractions") {
    val docs = wh.loadTable("documents")
    val sampled = Relational.stratifiedSample(docs, "lang",
      Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.0, "es" -> 0.0, "zh" -> 0.0))
    val byLang = sampled.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val deTotal = docs.filter(col("lang") === "de").count()
    assert(byLang.getOrElse("de", 0L) === deTotal)
    assert(!byLang.contains("fr") && !byLang.contains("zh"))
    assert(byLang.getOrElse("en", 0L) > 0)
  }

  test("temperatureMixture flattens skewed strata with integer-exact targets") {
    val docs = wh.loadTable("documents")
    val n = docs.filter(col("lang").isNotNull)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val budget = 100L
    val targets = Relational.temperatureTargets(docs, "lang", budget)
    // exact integer replay: budget·isqrt(n_s) ÷ Σ isqrt(n_s)
    val wSum = n.values.toSeq.map(Relational.isqrt).sum
    n.foreach { case (s, c) =>
      assert(targets(s) === budget * Relational.isqrt(c) / wSum, s)
    }
    assert(targets.values.sum <= budget)
    // temperature flattens: the head stratum's share of the target mass
    // is strictly below its share of the corpus
    val head = n.maxBy(_._2)._1
    assert(targets(head).toDouble / targets.values.sum <
      n(head).toDouble / n.values.sum)
    // the sampler delivers exactly min(target, n) per stratum
    val got = Relational.temperatureMixture(docs, "lang", Seq("doc_id"), budget)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === targets.collect {
      case (s, t) if math.min(t, n(s)) > 0 => s -> math.min(t, n(s))
    })
  }

  test("isqrt is exact at perfect-square boundaries, no Long overflow") {
    assert(Relational.isqrt(0L) === 0L)
    // 3037000499 is the largest k with k² < Long.MaxValue — the naive
    // (r+1)² probe overflows there
    for (k <- Seq(1L, 2L, 3L, 999L, 46340L, 3037000499L)) {
      assert(Relational.isqrt(k * k - 1) === k - 1, s"k=$k below")
      assert(Relational.isqrt(k * k) === k, s"k=$k exact")
      assert(Relational.isqrt(k * k + 1) === k, s"k=$k above")
    }
    assert(Relational.isqrt(Long.MaxValue) === 3037000499L)
  }

  test("mixtureSample draws exactly min(target, available) per stratum, deterministically") {
    val docs = wh.loadTable("documents")
    val avail = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val huge = avail.values.max + 100 // exceeds every stratum
    val targets = Map("src0" -> 3L, "src1" -> 7L, "src2" -> huge)
    val sampled = Relational.mixtureSample(docs, "source", targets, Seq("doc_id"))
    val got = sampled.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map(
      "src0" -> math.min(3L, avail("src0")),
      "src1" -> math.min(7L, avail("src1")),
      "src2" -> avail("src2")), "exact-N per stratum; untargeted strata dropped")
    // deterministic: the same ROWS, not just the same counts
    val again = Relational.mixtureSample(docs, "source", targets, Seq("doc_id"))
    assert(sampled.select("doc_id").except(again.select("doc_id")).count() === 0)
    // subset of the source, with the stratum column intact
    assert(sampled.join(docs, Seq("doc_id", "source"), "left_anti").count() === 0)
    // the two-phase pre-filter must select the IDENTICAL rows a naive
    // single-phase rank would (the filter keeps the low end of the same
    // order the rank sorts by)
    import org.apache.spark.sql.expressions.Window
    val frac = shiftrightunsigned(xxhash64(struct(col("doc_id")), lit(42L)), 1)
      .cast("double") / Long.MaxValue.toDouble
    val naive = docs.filter(col("source").isin("src0", "src1", "src2"))
      .withColumn("__t",
        when(col("source") === "src0", 3L).when(col("source") === "src1", 7L)
          .otherwise(huge))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("source").orderBy(frac.asc, col("doc_id").asc)))
      .filter(col("__rk") <= col("__t"))
    assert(sampled.select("doc_id").except(naive.select("doc_id")).count() === 0)
    assert(naive.select("doc_id").except(sampled.select("doc_id")).count() === 0)
  }

  test("split partitions every row into exactly one deterministic part") {
    val docs = wh.loadTable("documents")
    val parts = Relational.split(docs, Seq(0.8, 0.1, 0.1))
    val counts = parts.map(_.count())
    assert(counts.sum === docs.count())
    assert(counts.head > counts(1) && counts.head > counts(2))
    // stable across recomputation
    assert(parts.head.count() === counts.head)
    // disjoint: no doc_id in any two parts (all pairs, incl. 0 vs 2)
    val ids = parts.map(_.select("doc_id").collect().map(_.getLong(0)).toSet)
    for (i <- ids.indices; j <- ids.indices if i < j)
      assert(ids(i).intersect(ids(j)).isEmpty, s"parts $i and $j overlap")
  }

  test("select runs SQL over a map of named frames") {
    val out = Relational.select(spark,
      Map("c" -> wh.loadTable("customer"), "n" -> wh.loadTable("nation")),
      "SELECT n_name, count(*) AS cnt FROM c JOIN n ON c_nationkey = n_nationkey GROUP BY n_name")
    assert(out.count() === 25)
  }

  test("saltedJoin equals the plain join result") {
    val c = wh.loadTable("customer").select("c_custkey", "c_name")
    val o = wh.loadTable("orders").select(col("o_custkey").as("c_custkey"), col("o_orderkey"))
    val plain = c.join(o, Seq("c_custkey")).select("c_custkey", "o_orderkey")
      .collect().map(_.toSeq).toSet
    val salted = Relational.saltedJoin(o, c, Seq("c_custkey"), salt = 4)
      .select("c_custkey", "o_orderkey").collect().map(_.toSeq).toSet
    assert(salted === plain)
  }

  test("repartition controls partition count") {
    assert(Relational.repartition(wh.loadTable("orders"), 8).rdd.getNumPartitions === 8)
  }

  test("persist cuts recomputation and unpersist releases") {
    val df = Relational.persist(wh.loadTable("orders").filter(col("o_totalprice") > 100.0))
    try assert(df.count() === df.count())
    finally Relational.unpersist(df)
  }

  test("special-character and reserved-word column names pass through every verb") {
    // The reference escapes arbitrary identifiers at its SQL boundary
    // (encode_column_name, fugue_bigquery/execution_engine.py:49 /
    // fugue_trino/execution_engine.py:52). Columns named with spaces,
    // dots, reserved words, and embedded backticks must survive the
    // string-taking verbs and SQL text built with encodeColumnName.
    val names = Seq("a b", "select", "a.b", "tick`mark")
    val df = Seq((1L, "x", 2.0, 10L), (2L, "y", 3.0, 20L), (3L, "z", 4.0, 30L))
      .toDF(names: _*)
    def enc(n: String) = Warehouse.encodeColumnName(n)

    // alterColumns: literal resolution (a.b must NOT parse as struct nav)
    val altered = Relational.alterColumns(df, Map("a b" -> "int", "a.b" -> "long"))
    assert(altered.schema("a b").dataType === IntegerType)
    assert(altered.schema("a.b").dataType === LongType)
    assert(altered.columns.toSeq === names)

    // presort strings with quoted names (spaces, reserved, doubled ticks)
    val top = Relational.takePresort(df, 1, s"${enc("a b")} desc, ${enc("select")} asc")
      .select(Warehouse.literalCol("a b")).collect()(0).getLong(0)
    assert(top === 3L)
    val tickSorted = Relational.takePresort(df, 2, s"${enc("tick`mark")} desc")
      .select(Warehouse.literalCol("tick`mark")).collect().map(_.getLong(0)).toSeq
    assert(tickSorted === Seq(30L, 20L))

    // per-group take partitioned by a spaced name
    assert(Relational.takePresort(df, 1, s"${enc("a.b")} asc",
      partitionBy = Seq("select")).count() === 3)

    // rename / drop / assign / split / repartition / pivot-rollup keys
    val renamed = Relational.rename(df, Map("a b" -> "ab", "select" -> "sel"))
    assert(renamed.columns.toSeq === Seq("ab", "sel", "a.b", "tick`mark"))
    assert(Relational.dropColumns(df, Seq("a.b")).columns.toSeq ===
      Seq("a b", "select", "tick`mark"))
    val parts = Relational.split(df, Seq(0.5, 0.5))
    assert(parts.map(_.count()).sum === 3)
    assert(Relational.repartition(df, 2, Seq("a b")).rdd.getNumPartitions === 2)
    assert(Relational.rollup(df, Seq("a b"), Seq(count(lit(1)).as("n"))).count() === 4)

    // SQL text via encodeColumnName (loadSql/rowFilter boundary)
    df.createOrReplaceTempView("weird_names")
    val viaSql = spark.sql(
      s"SELECT ${enc("a b")} AS k, ${enc("select")} AS v, ${enc("tick`mark")} AS t " +
        "FROM weird_names ORDER BY k")
    assert(viaSql.collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))

    // parquet save/load roundtrip keeps the names
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_weird_names"
    wh.saveDf(df, tmp, format = "parquet")
    val back = wh.loadDf(tmp, "parquet")
    assert(back.columns.sorted.toSeq === names.sorted)
    assert(back.count() === 3)
  }

  test("fuzzySelfPairs == the bipartite self join filtered to undirected pairs") {
    val docs = wh.loadTable("documents")
      .filter(col("text").isNotNull && length(col("text")) >= 40)
      .filter(col("doc_id") < 120)
      .select(col("doc_id").as("id"),
        substring(col("text"), 1, 60).as("name"))
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.select("l_id", "r_id", "jaccard_e6").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(identity)
    val self = norm(Relational.fuzzySelfPairs(docs, "id", "name",
      4L, 5L, n = 3, maxGramFreq = 0L))
    val bip = norm(Relational.fuzzyJoin(docs, docs, "id", "name",
        "id", "name", 4L, 5L, n = 3, maxGramFreq = 0L)
      .filter(col("l_id") < col("r_id")))
    assert(self.toSeq === bip.toSeq)
    assert(self.forall(p => p._1 < p._2), "self pairs must be undirected, no x~x")
  }

  test("resolveEntities: transitive near-matches collapse to one canonical entity") {
    import spark.implicits._
    // 1~2 and 1~3 match at 4/5 trigram jaccard; 2~3 do NOT match each
    // other directly (12/18) — only CC transitivity puts all three in
    // one entity. 9 is an unrelated singleton.
    val recs = Seq(
      (1L, "acme corporation"),
      (2L, "acme corporation."),
      (3L, "acme corporatiom."),
      (9L, "zenith industries")
    ).toDF("id", "name")
    val got = Relational.resolveEntities(recs, "id", "name",
        thresholdNum = 4L, thresholdDen = 5L, n = 3, maxGramFreq = 0L)
      .select("id", "entity_id", "keep").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(1L) === ((1L, true)))
    assert(got(2L) === ((1L, false)))
    assert(got(3L) === ((1L, false)))
    assert(got(9L) === ((9L, true)))
    // sanity: the direct 2~3 edge really is absent at this threshold
    val direct = Relational.fuzzyJoin(
        recs.filter($"id" === 2L), recs.filter($"id" === 3L),
        "id", "name", "id", "name", 4L, 5L, n = 3, maxGramFreq = 0L)
    assert(direct.count() === 0L)
  }

  test("jaroWinklerJoin: sorted-neighborhood catches prefix-clustered pairs, documents the window miss") {
    // "alpha widget one"/"alpha widget onf" share a 15-char prefix →
    // adjacent under the lexicographic sort, caught at any window; the
    // two "zz gadget" variants straddle an unrelated string, caught at
    // window 3 but NOT at window 2 — the sorted-neighborhood recall
    // contract, pinned rather than papered over
    val rows = Seq(
      (1L, "alpha widget one"), (2L, "alpha widget onf"),
      (3L, "mmm unrelated row"),
      (4L, "zz gadget prime"), (5L, "zz gadget primo"),
      (6L, "zz gadget pzzzz"))
    val docs = rows.toDF("doc_id", "s")
    def pairs(window: Int, df: org.apache.spark.sql.DataFrame = docs) =
      Relational.jaroWinklerJoin(df, "doc_id", "s",
          minSimE6 = 900000, window = window)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w3 = pairs(3)
    assert(w3.contains((1L, 2L)), "prefix-clustered typo pair caught")
    assert(w3.contains((4L, 5L)), "adjacent in sort order")
    // soundness: every emitted pair really clears the threshold
    val byId = rows.toMap
    w3.foreach { case (a, b) =>
      val jw = graft.functions.Kernels.jaroWinkler(
        org.apache.spark.unsafe.types.UTF8String.fromString(byId(a)),
        org.apache.spark.unsafe.types.UTF8String.fromString(byId(b)))
      assert(jw >= 0.9, s"pair ($a,$b) emitted below threshold")
    }
    // rank determinism: a differently-partitioned input yields the
    // same pair set (zipWithIndex rank is a pure function of the data)
    assert(pairs(3, docs.repartition(7)) === w3)
    // the window contract: at window 2 a pair TWO positions apart in
    // sort order is missed even when its JW clears the threshold
    val between = Seq((1L, "alpha widget one"), (7L, "alpha widget onez"),
      (2L, "alpha widget onf")).toDF("doc_id", "s")
    val w2 = pairs(2, between)
    assert(w2.contains((1L, 7L)) && w2.contains((7L, 2L)),
      "adjacent pairs caught")
    assert(!w2.contains((1L, 2L)),
      "the straddled pair is the documented sorted-neighborhood miss")
    assert(pairs(3, between).contains((1L, 2L)),
      "window 3 closes it — composition knob, not a bug")
  }

  test("fuzzyJoin: exact trigram jaccard pairs, threshold boundary, short strings") {
    val l = Seq((1L, "widget blue"), (2L, "xy"), (3L, "gadget red"))
      .toDF("id", "s")
    val r = Seq((10L, "widget blu"), (20L, "unrelated zzz"), (30L, "gadget red"))
      .toDF("id", "s")
    val got = Relational.fuzzyJoin(l, r, "id", "s", "id", "s",
        thresholdNum = 1, thresholdDen = 2, n = 3, maxGramFreq = 0)
      .collect().map(r2 => ((r2.getLong(0), r2.getLong(1)),
        (r2.getLong(2), r2.getLong(3), r2.getLong(4), r2.getLong(5)))).toMap
    // identical strings: jaccard 1
    assert(got(((3L, 30L)))._4 === 1000000L)
    // "widget blue"(9 grams) vs "widget blu"(8): shared 8 -> 8/9 >= 1/2
    assert(got(((1L, 10L))) === ((8L, 9L, 8L, 888888L)))
    // short string (len < n) has no grams and never matches
    assert(!got.keySet.exists(_._1 == 2L))
    assert(!got.keySet.exists(_._2 == 20L))
  }

  test("fuzzyJoin: maxGramFreq cap drops hot-gram-only pairs (recall trade)") {
    // 5 left and 5 right rows all share ONLY the hot gram "aaa"
    val l = (1L to 5L).map(i => (i, s"aaa${i}xx")).toDF("id", "s")
    val r = (11L to 15L).map(i => (i, s"aaa${i}yy")).toDF("id", "s")
    val uncapped = Relational.fuzzyJoin(l, r, "id", "s", "id", "s",
      thresholdNum = 1, thresholdDen = 10, n = 3, maxGramFreq = 0).count()
    val capped = Relational.fuzzyJoin(l, r, "id", "s", "id", "s",
      thresholdNum = 1, thresholdDen = 10, n = 3, maxGramFreq = 2).count()
    assert(uncapped === 25L, "every pair shares the hot gram at 1/10")
    assert(capped === 0L, "capped hot gram generates no candidates")
  }

  test("fuzzySelfPairs: maxGramFreq cap counts single-corpus df (not the doubled union)") {
    import spark.implicits._
    // "aaa" appears in exactly 2 documents; every other gram is unique.
    // The self-mode freq table unions the corpus with its own rename, so
    // the raw __df is 4 — the cap must still behave as per-corpus df = 2.
    val docs = Seq((1L, "aaa1xx"), (2L, "aaa2yy"), (3L, "bbbbbb"))
      .toDF("id", "s")
    def pairs(cap: Long) = Relational.fuzzySelfPairs(docs, "id", "s",
        thresholdNum = 1, thresholdDen = 10, n = 3, maxGramFreq = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // cap 2 ADMITS the df-2 gram: pair (1,2) found (shared 1/union 7 ≥ 1/10)
    assert(pairs(2L) === Seq((1L, 2L)))
    // cap 1 drops it: no candidates at all
    assert(pairs(1L) === Seq.empty)
  }

  test("checkConstraints: one report row per rule, exact violation counts") {
    import graft.operators.Relational.Constraint._
    val df = Seq[(Option[Long], Option[Double], Option[String])](
      (Some(1L), Some(5.0), Some("a")),
      (Some(2L), Some(50.0), Some("b")),
      (Some(2L), None, Some("z")),     // dup key, null value
      (None, Some(-1.0), None)         // null key, out-of-range
    ).toDF("k", "v", "s")
    val got = Relational.checkConstraints(df, Seq(
        NotNull("k"), NotNull("v"),
        InRange("v", 0.0, 10.0),
        AcceptedValues("s", Seq("a", "b")),
        Unique(Seq("k")),
        Unique(Seq("k", "s")),
        MinRows(10)))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(("not_null", "k")) === ((1L, false)))
    assert(got(("not_null", "v")) === ((1L, false)))
    // NULL v is not a range violation; 50.0 and -1.0 are
    assert(got(("in_range", "v")) === ((2L, false)))
    // NULL s is not an accepted-values violation; "z" is
    assert(got(("accepted_values", "s")) === ((1L, false)))
    assert(got(("unique", "k")) === ((1L, false)))
    assert(got(("unique", "k,s")) === ((0L, true)))
    assert(got(("min_rows", "10")) === ((6L, false)))
    assert(got.size === 7)
  }

  test("checkConstraints: all-green report on a clean frame") {
    import graft.operators.Relational.Constraint._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val got = Relational.checkConstraints(df,
      Seq(NotNull("k"), Unique(Seq("k")), MinRows(2)))
    assert(got.collect().forall(_.getBoolean(3)))
  }

  test("checkConstraints: foreign_key and freshness rules") {
    import spark.implicits._
    import graft.operators.Relational.Constraint._
    val facts = Seq((Some(1L), ts(0)), (Some(2L), ts(10)),
      (Some(9L), ts(20)), (None, ts(30))).toDF("fk", "t")
    val dim = Seq(1L, 2L, 3L).toDF("pk")
    // as-of = minute 40; newest fact is minute 30 → fresh at 15m horizon?
    // no: 30 < 40-15=25 is false → fresh; at 5m horizon 30 < 35 → stale
    val asOf = tsUs(40)
    val got = Relational.checkConstraints(facts,
        Seq(ForeignKey("fk", "dim", "pk"),
          Freshness("t", 15L, asOf), Freshness("t", 5L, asOf)),
        refs = Map("dim" -> dim))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    val byTarget = got.map(x => x._2 -> ((x._3, x._4))).toMap
    // one non-NULL key (9) missing from the dim; NULL fk is not a violation
    assert(byTarget("fk -> dim.pk") === ((1L, false)))
    assert(byTarget("t@15m") === ((0L, true)))
    assert(byTarget("t@5m") === ((1L, false)))
    // a FK rule without its ref frame is refused loudly
    assertThrows[IllegalArgumentException] {
      Relational.checkConstraints(facts, Seq(ForeignKey("fk", "nope", "pk")))
    }
  }

  private def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
  private def tsUs(min: Long) = (1700000000000L + min * 60000L) * 1000L

  test("negativeSample: excludes self+positives, md5 min-k, deterministic") {
    import spark.implicits._
    val corpus = (0L until 10L).toDF("id")
    val positives = Seq((1L, 2L), (1L, 3L), (5L, 0L)).toDF("q", "p")
    val got = Relational.negativeSample(positives, corpus, "q", "p", "id",
        k = 3, seed = 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2))
    // first-principles replay of the md5 ranking
    def key(q: Long, c: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val hex = d.digest(s"42:$q:$c".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 12), 16)
    }
    def expect(q: Long, excl: Set[Long]) =
      (0L until 10L).filter(c => c != q && !excl(c))
        .map(c => (c, key(q, c))).sortBy(x => (x._2, x._1)).take(3)
        .zipWithIndex.map { case ((c, k2), i) => (q, i + 1L, c, k2) }
    assert(got.toSeq === (expect(1L, Set(2L, 3L)) ++ expect(5L, Set(0L))))
    // pure function of (seed, ids): repartitioned input agrees
    val again = Relational.negativeSample(positives, corpus.repartition(4),
        "q", "p", "id", k = 3, seed = 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2))
    assert(again.toSeq === got.toSeq)
    // a different seed draws a different set for at least one query
    val other = Relational.negativeSample(positives, corpus, "q", "p", "id",
        k = 3, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(other !== got.map(r => (r._1, r._3)).toSet)
  }

  test("weightedSystematicSample: exact hit arithmetic, determinism, PPS bias") {
    import spark.implicits._
    import graft.operators.Relational
    // ids 1..10 with weight = id; total 55, target 5 => stride 11, points
    // at 0, 11, 22, 33, 44: intervals in id order — local replay
    val df = (1 to 10).map(i => (i.toLong, i.toLong)).toDF("id", "w")
    def localReplay(ws: Seq[(Long, Long)], target: Long): Seq[(Long, Long, Long, Long)] = {
      val total = ws.map(_._2).sum
      val stride = math.max(1L, total / target)
      var start = 0L
      ws.sortBy(_._1).flatMap { case (id, w) =>
        val s = start; start += w
        val hits = (s + w - 1 + stride) / stride - (s - 1 + stride) / stride
        if (hits > 0) Some((id, w, s, hits)) else None
      }
    }
    val got = Relational.weightedSystematicSample(df, "id", "w", target = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    assert(got === localReplay((1 to 10).map(i => (i.toLong, i.toLong)), 5))
    // re-run and repartition stability
    val again = Relational.weightedSystematicSample(df.repartition(7), "id", "w", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    assert(again === got)
    // PPS bias: a dominant-weight row must always be selected, with
    // multiplicity ~ its weight share
    val skewed = (1 to 50).map(i => (i.toLong, 1L)) :+ (99L, 1000L)
    val sel = Relational.weightedSystematicSample(skewed.toDF("id", "w"),
        "id", "w", target = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(sel.contains(99L) && sel(99L) >= 8L,
      s"dominant row multiplicity ${sel.get(99L)}")
    // phase shifts the point lattice but keeps the count shape
    val shifted = Relational.weightedSystematicSample(df, "id", "w", 5, phase = 7)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(shifted.values.sum === 5L)
  }

  test("capPerKey keeps the n best per key by score, ties to smaller id") {
    import spark.implicits._
    val df = Seq(
      // key a: 4 rows, cap 2 — top scores 9 and the 7-tie resolved to id 1
      (1L, "a", 7L, "x1"), (2L, "a", 7L, "x2"), (3L, "a", 9L, "x3"),
      (4L, "a", 1L, "x4"),
      // key b: under quota, all kept
      (5L, "b", 5L, "x5"),
      // null key is its own group
      (6L, null, 3L, "x6"), (7L, null, 8L, "x7"), (8L, null, 4L, "x8")
    ).toDF("id", "k", "score", "payload")
    val got = Relational.capPerKey(df, "k", "id", 2, Some("score"))
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq.sorted
    // wide columns survive intact; election: a → {3, 1}, b → {5}, null → {7, 8}
    assert(got === Seq((1L, "x1"), (3L, "x3"), (5L, "x5"), (7L, "x7"), (8L, "x8")))
  }

  test("capPerKey: NULL-score rows rank last but survive under-quota groups") {
    import spark.implicits._
    val df = Seq[(Long, String, Option[Double])](
      // key a UNDER quota (2 rows, cap 3): the null-score row must survive
      (1L, "a", Some(5.0)), (2L, "a", None),
      // key b OVER quota: nulls rank below every real score and drop first;
      // two nulls tie-break by smaller id for the last slot
      (3L, "b", Some(1.0)), (4L, "b", None), (5L, "b", None),
      (6L, "b", Some(2.0))
    ).toDF("id", "k", "score")
    val under = Relational.capPerKey(df.filter($"k" === "a"), "k", "id", 3,
      Some("score")).collect().map(_.getLong(0)).toSeq.sorted
    assert(under === Seq(1L, 2L), "NULL score must not drop an under-quota row")
    val over = Relational.capPerKey(df.filter($"k" === "b"), "k", "id", 3,
      Some("score")).collect().map(_.getLong(0)).toSeq.sorted
    assert(over === Seq(3L, 4L, 6L), "nulls last, id-asc tie for the last slot")
  }

  test("capPerKey without a score keeps the n smallest ids per key") {
    import spark.implicits._
    val df = (1 to 20).map(i => (i.toLong, s"k${i % 2}")).toDF("id", "k")
    val got = Relational.capPerKey(df, "k", "id", 3, None)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(got === Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("tokenBudgetSample fills each stratum's token budget in md5 order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, conv, lit, md5, substring}
    val df = ((1 to 30).map(i => (i.toLong, "a", 100L)) ++
      (31 to 40).map(i => (i.toLong, "b", 100L)) ++
      Seq((41L, "c", 100L))) // stratum with no budget
      .toDF("id", "s", "tok")
    val budgets = Map("a" -> 1000L, "b" -> 5000L)
    val got = Relational.tokenBudgetSample(df, "s", "id", "tok", budgets)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    val byStratum = got.groupBy(_._1)
    // a: 100-token docs against a 1000 budget → exactly 10 selected,
    // tokens_before of the last one = 900 (< 1000, boundary included)
    assert(byStratum("a").length === 10)
    assert(byStratum("a").map(_._3).max === 900L)
    // b: budget exceeds the stratum → everything selected
    assert(byStratum("b").length === 10)
    // c: no declared budget → nothing
    assert(!byStratum.contains("c"))
    // selection must equal the local md5-order replay
    val keyOf = df.select(col("id"),
      conv(substring(md5(concat(lit("42:"), col("id").cast("string"))), 1, 12),
        16, 10).cast("long").as("key")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectA = (1 to 30).map(_.toLong).sortBy(id => (keyOf(id), id)).take(10).toSet
    assert(byStratum("a").map(_._2).toSet === expectA)
    // partitioning-independence: same selection from a different layout
    val again = Relational.tokenBudgetSample(df.repartition(7), "s", "id", "tok",
      budgets).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    assert(again === got.toSet)
  }

  test("tokenBudgetSample includes the boundary doc that crosses the budget") {
    import spark.implicits._
    val df = Seq((1L, "a", 600L), (2L, "a", 600L), (3L, "a", 600L)).toDF("id", "s", "tok")
    // budget 1000: first doc (before=0) + the crossing doc (before=600) —
    // third (before=1200) excluded, whatever the md5 order
    val got = Relational.tokenBudgetSample(df, "s", "id", "tok", Map("a" -> 1000L))
      .collect()
    assert(got.length === 2)
    assert(got.map(_.getLong(3)).sorted.toSeq === Seq(0L, 600L))
  }

  test("quota store folds batches with exact one-shot parity and evicts") {
    import spark.implicits._
    val all = (1 to 40).map(i => (i.toLong, s"k${i % 3}", (i * 7 % 40).toLong, s"p$i"))
    val df = all.toDF("id", "k", "score", "payload")
    val oneShot = Relational.capPerKey(df, "k", "id", 4, Some("score"))
      .select("k", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // fold in 4 arbitrary batches — final store must equal the one-shot
    val batches = all.grouped(10).toSeq.map(_.toDF("id", "k", "score", "payload"))
    val store0 = Relational.quotaStore(batches.head, "k", "id", 4, Some("score"))
    val folded = batches.tail.foldLeft(store0)(
      (st, b) => Relational.updateQuotaStore(st, b, "k", "id", 4, Some("score")))
    assert(folded.select("k", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet === oneShot)
    // eviction: a later, better row displaces a stored one
    val s1 = Relational.quotaStore(Seq((1L, "a", 1L, "")).toDF("id", "k", "score", "p"),
      "k", "id", 1, Some("score"))
    val s2 = Relational.updateQuotaStore(s1,
      Seq((2L, "a", 9L, "")).toDF("id", "k", "score", "p"), "k", "id", 1, Some("score"))
    assert(s2.select("id").collect().map(_.getLong(0)).toSeq === Seq(2L))
    // no-score path: smallest ids win across batches
    val n1 = Relational.quotaStore(Seq((5L, "a", 0L, "")).toDF("id", "k", "score", "p"),
      "k", "id", 2, None)
    val n2 = Relational.updateQuotaStore(n1,
      Seq((3L, "a", 0L, ""), (9L, "a", 0L, "")).toDF("id", "k", "score", "p"),
      "k", "id", 2, None)
    assert(n2.select("id").collect().map(_.getLong(0)).toSet === Set(3L, 5L))
  }

  test("unpivot melts wide metrics to long rows, keeps nulls, inverts pivot") {
    import spark.implicits._
    val df = Seq((1L, Some(10.0), 5.0), (2L, None, 7.0)).toDF("id", "a", "b")
    val long = Relational.unpivot(df, Seq("id"), Seq("a", "b"))
    val got = long.collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    // INCLUDE NULLS form: (2, a, null) survives the melt
    assert(got === Set((1L, "a", 10.0), (1L, "b", 5.0),
      (2L, "a", null), (2L, "b", 7.0)))
    // pivot inverts the melt
    val wide = Relational.pivot(long, Seq("id"), "metric", Seq("a", "b"),
      org.apache.spark.sql.functions.first("value"))
    val back = wide.collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) null else r.getDouble(1), r.getDouble(2))).toSet
    assert(back === Set((1L, 10.0, 5.0), (2L, null, 7.0)))
  }

  test("quota store drives from a stream via foreachBatch == one-shot cap") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val all = (1 to 60).map(i => (i.toLong, s"k${i % 4}", (i * 13 % 50).toLong))
    val mem = MemoryStream[(Long, String, Long)]
    var store = Seq.empty[(String, Long, Double)].toDF("k", "id", "__score")
    val q = mem.toDF().toDF("id", "k", "score").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        store = Relational.updateQuotaStore(store, batch, "k", "id", 5,
          Some("score")).localCheckpoint()
      }
      .start()
    try {
      mem.addData(all.take(20): _*); q.processAllAvailable()
      mem.addData(all.slice(20, 45): _*); q.processAllAvailable()
      mem.addData(all.drop(45): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = store.select("k", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val oneShot = Relational.capPerKey(
        all.toDF("id", "k", "score"), "k", "id", 5, Some("score"))
      .select("k", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed === oneShot)
  }

  test("bloomPrefilteredJoin is row-identical to the plain join") {
    import spark.implicits._
    // duplicate keys both sides + null keys + non-matching rows
    val big = Seq((Some(1L), "a"), (Some(1L), "b"), (Some(2L), "c"),
      (Some(3L), "d"), (Some(3L), "e"), (Some(7L), "x"), (Some(8L), "y"),
      (None, "n")).toDF("k", "payload")
    val small = Seq((Some(1L), 10L), (Some(1L), 11L), (Some(3L), 30L),
      (None, 99L)).toDF("k", "v")
    val got = Relational.bloomPrefilteredJoin(big, small, Seq("k"))
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val plain = big.join(small, Seq("k"))
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(got === plain && got.nonEmpty)
    // left_semi parity too
    val gotSemi = Relational.bloomPrefilteredJoin(big, small, Seq("k"), "left_semi")
      .collect().map(_.toSeq).toSet
    assert(gotSemi === big.join(small, Seq("k"), "left_semi")
      .collect().map(_.toSeq).toSet)
    // unsafe join types are refused
    assertThrows[IllegalArgumentException] {
      Relational.bloomPrefilteredJoin(big, small, Seq("k"), "left")
    }
  }

  test("bloomPrefilteredJoin: coercible key types keep row-identity; cross-family refused") {
    import spark.implicits._
    // int keys vs long keys — the equi-join coerces them equal, and the
    // probe hash must agree (un-normalized xxhash64 hashes int and long
    // DIFFERENTLY and would silently drop every matching row)
    val big = (1 to 100).map(i => (i, s"p$i")).toDF("k", "payload") // int k
    val small = Seq((5L, 1L), (50L, 2L)).toDF("k", "v")             // long k
    val got = Relational.bloomPrefilteredJoin(big, small, Seq("k"))
      .collect().map(_.toSeq).toSet
    val plain = big.join(small, Seq("k")).collect().map(_.toSeq).toSet
    assert(got === plain && got.size === 2)
    // int vs double also coerces in the join — normalized to double
    val smallD = Seq((5.0, 9L)).toDF("k", "v")
    assert(Relational.bloomPrefilteredJoin(big, smallD, Seq("k")).count() === 1)
    // cross-family (string vs long) is refused, not silently empty
    val smallS = Seq(("5", 9L)).toDF("k", "v")
    assertThrows[IllegalArgumentException] {
      Relational.bloomPrefilteredJoin(big, smallS, Seq("k"))
    }
  }

  test("quota store: re-delivered rows supersede, never evict distinct ids") {
    import spark.implicits._
    // store: key a holds ids 1 (score 5) and 2 (score 4) at n=2
    val s0 = Relational.quotaStore(
      Seq((1L, "a", 5L, ""), (2L, "a", 4L, "")).toDF("id", "k", "score", "p"),
      "k", "id", 2, Some("score"))
    // re-deliver id 1 (same score, twice in one batch): id 2 must survive
    // and the store must stay duplicate-free
    val s1 = Relational.updateQuotaStore(s0,
      Seq((1L, "a", 5L, ""), (1L, "a", 5L, "")).toDF("id", "k", "score", "p"),
      "k", "id", 2, Some("score"))
    val rows = s1.select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(rows === Seq(1L, 2L), s"re-delivery corrupted the store: $rows")
    // a re-delivered id with an UPDATED score supersedes its store row
    val s2 = Relational.updateQuotaStore(s1,
      Seq((2L, "a", 9L, "")).toDF("id", "k", "score", "p"),
      "k", "id", 2, Some("score"))
    val scores = s2.collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(scores === Map(1L -> 5.0, 2L -> 9.0))
  }

  test("bloomPrefilteredJoin probes map-side before the join in the plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64}
    // file-backed big side: an in-memory fixture would let the optimizer
    // constant-fold the probe into the LocalTableScan
    val big = wh.loadTable("lineitem")
      .select(col("l_orderkey").as("k"), col("l_partkey").as("x"))
    val small = Seq((5L, 1L), (10L, 2L)).toDF("k", "y")
    val joined = Relational.bloomPrefilteredJoin(big, small, Seq("k"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_contains_long"),
      s"bloom probe missing from plan:\n$plan")
    // and the probe actually prunes: only the two orderkeys' lines plus
    // the fpp-rate false positives survive (deterministic for fixed data)
    val total = big.count()
    val kept = big.filter(graft.functions.GraftFunctions.bloomContainsLong(
      xxhash64(big("k")),
      small.select(xxhash64(small("k")).as("h"))
        .stat.bloomFilter("h", 1000L, 0.01))).count()
    assert(kept < total / 10, s"bloom kept $kept of $total")
  }

  test("editDistanceJoin matches brute-force levenshtein on a seeded corpus") {
    // 120 strings: 40 bases (deterministic 9-13 char strings) with 2
    // mutated variants each (substitution / deletion / insertion at a
    // hash-picked position) — plenty of pairs at every distance 0..3
    def base(i: Int): String = {
      val chars = "abcdefgh"
      (0 until 9 + i % 5).map(j => chars((i * 31 + j * 7) % 8)).mkString
    }
    def mutate(s: String, m: Int, i: Int): String = {
      val p = (i * 13 + m * 5) % s.length
      m % 3 match {
        case 0 => s.updated(p, 'z')
        case 1 => s.take(p) + s.drop(p + 1)
        case _ => s.take(p) + "q" + s.drop(p)
      }
    }
    val rows = (0 until 40).flatMap { i =>
      Seq((i * 3L, base(i)), (i * 3L + 1, mutate(base(i), i, i)),
        (i * 3L + 2, mutate(mutate(base(i), i, i), i + 1, i)))
    }
    val df = rows.toDF("id", "s")
    val k = 3
    val got = Relational.editDistanceJoin(df, "id", "s", maxDist = k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expect = (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      d = lev(sa, sb) if d <= k
    } yield (ia, ib) -> d.toLong).toMap
    assert(got === expect,
      s"missing: ${(expect.keySet diff got.keySet).take(5)}; " +
        s"extra: ${(got.keySet diff expect.keySet).take(5)}")
    assert(expect.nonEmpty && expect.values.exists(_ > 0))
  }

  test("soundexJoin: phonetic blocks, JW verification, hot-block cap") {
    // Smith/Smyth (S530) and Robert/Rupert (R163) block together;
    // Jackson (J250) is alone; Ashcraft/Ashcroft (A261) too
    val df = Seq(
      (1L, "smith"), (2L, "smyth"), (3L, "robert"), (4L, "rupert"),
      (5L, "jackson"), (6L, "ashcraft"), (7L, "ashcroft"), (8L, "123"))
      .toDF("id", "w")
    val got = Relational.soundexJoin(df, "id", "w", minSimE6 = 800000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3)))).toMap
    assert(got.keySet === Set((1L, 2L), (3L, 4L), (6L, 7L)),
      "vowel-level variants pair; no-letter rows never block")
    assert(got((1L, 2L))._1 === "S530")
    assert(got.values.forall(_._2 >= 800000L), "every pair is verified")
    // below-threshold same-code pairs are verified OUT: smith and sandy
    // both code S530 but are not close in JW
    val low = Relational.soundexJoin(
      Seq((1L, "smith"), (2L, "sandy")).toDF("id", "w"), "id", "w",
      minSimE6 = 800000L)
    assert(low.count() === 0, "same block, low JW → verified out")
    // hot-block cap: 5 identical-code rows with maxBlock=4 drop WHOLE
    val hot = Seq.tabulate(5)(i => (i.toLong, "smith")) :+ ((100L, "rupert")) :+
      ((101L, "robert"))
    val capped = Relational.soundexJoin(hot.toDF("id", "w"), "id", "w",
      minSimE6 = 800000L, maxBlock = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((100L, 101L)),
      "the oversize S530 block drops whole; the small block survives")
  }

  test("editDistanceJoin: short strings pair through the bounded block") {
    // len < k+1 strings have no non-empty segments — the short block
    // must still find their partners (incl. short-long both id orders)
    val df = Seq((1L, "ab"), (2L, "abcde"), (5L, "ba"), (9L, "a"))
      .toDF("id", "s")
    val got = Relational.editDistanceJoin(df, "id", "s", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 5L)) === 2L)
    assert(got((1L, 2L)) === 3L, "short id 1 pairs with longer id 2")
    assert(got((1L, 9L)) === 1L)
    assert(!got.contains((2L, 9L)), "abcde vs a is distance 4")
  }

  test("editDistanceJoinIncremental == one-shot new-involving pairs; no old-old") {
    // the brute-force corpus split 90/10: the incremental result over
    // (store of history, batch) must equal the one-shot pairs with at
    // least one batch side — and never emit an old-old pair
    val rows = IncrementalFixtures.editRows
    val k = 3
    val isNew = IncrementalFixtures.editIsNew _
    val hist = rows.filterNot(r => isNew(r._1)).toDF("id", "s")
    val batch = rows.filter(r => isNew(r._1)).toDF("id", "s")
    val store = Relational.editSegmentStore(hist, "id", "s", maxDist = k)
    val got = Relational.editDistanceJoinIncremental(
        batch, "id", "s", store, hist, maxDist = k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = Relational.editDistanceJoin(rows.toDF("id", "s"), "id", "s",
        maxDist = k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expect = full.filter { case ((a, b), _) => isNew(a) || isNew(b) }
    assert(got === expect,
      s"missing: ${(expect.keySet diff got.keySet).take(5)}; " +
        s"extra: ${(got.keySet diff expect.keySet).take(5)}")
    assert(expect.exists { case ((a, b), _) => isNew(a) ^ isNew(b) },
      "fixture exercises mixed old/new pairs")
    assert(expect.exists { case ((a, b), _) => isNew(a) && isNew(b) },
      "fixture exercises batch-internal pairs")
    assert(got.contains((1000L, 1001L)), "short batch row pairs with short history row")
  }

  test("fuzzyJoinIncremental == one-shot new-involving pairs; no old-old") {
    // batch variants carry grams history has NEVER seen (the df-0
    // novel-gram path in the frozen store order is exercised on every
    // mixed pair). 90/10 split by id % 10; the planted new-new pair plus
    // its old twin gives batch-internal AND exact-duplicate mixed
    // coverage; sub-n strings (no grams) must vanish from both paths.
    val rows = IncrementalFixtures.fuzzyRows
    val isNew = IncrementalFixtures.fuzzyIsNew _
    val hist = rows.filterNot(r => isNew(r._1)).toDF("id", "s")
    val batch = rows.filter(r => isNew(r._1)).toDF("id", "s")
    val store = Relational.fuzzyGramStore(hist, "id", "s", n = 3)
    def row(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))
    val got = Relational.fuzzyJoinIncremental(batch, "id", "s", store, hist,
        thresholdNum = 4, thresholdDen = 5, n = 3)
      .collect().map(row).toSet
    val full = Relational.fuzzySelfPairs(rows.toDF("id", "s"), "id", "s",
        thresholdNum = 4, thresholdDen = 5, n = 3, maxGramFreq = 0)
      .collect().map(row).toSet
    val expect = full.filter(p => isNew(p._1) || isNew(p._2))
    assert(got === expect,
      s"missing: ${(expect diff got).take(3)}; extra: ${(got diff expect).take(3)}")
    assert(got.exists(p => isNew(p._1) ^ isNew(p._2)), "mixed pairs present")
    assert(got.exists(p => isNew(p._1) && isNew(p._2)), "batch-internal pairs present")
    // base(i) is j-periodic with period 8, so each 30-char base carries
    // exactly 8 distinct trigrams — the exact-duplicate pair is (8,8,8)
    assert(got.contains((3L, 2000L, 8L, 8L, 8L, 1000000L)),
      "exact-duplicate mixed pair with full jaccard")
    assert(!got.exists(p => p._1 == 3001L || p._2 == 3010L),
      "sub-n-gram strings excluded on both paths")
    assert(full.exists(p => !isNew(p._1) && !isNew(p._2)),
      "one-shot has old-old pairs the incremental must not emit")
  }

  test("fuzzyJoinIncremental asks Spark's cache for no plan twice") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // a persist of a plan that is already cached (say, the same gram
    // arrays under other column names) is a no-op that only logs this
    // warning, and an unpersist of either frame drops the shared entry
    val rows = IncrementalFixtures.fuzzyRows
    val isNew = IncrementalFixtures.fuzzyIsNew _
    val hist = rows.filterNot(r => isNew(r._1)).toDF("id", "s")
    val batch = rows.filter(r => isNew(r._1)).toDF("id", "s")
    val store = Relational.fuzzyGramStore(hist, "id", "s", n = 3)
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("cache-requests", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        logged.add(e.getMessage.getFormattedMessage); ()
      }
    }
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.CacheManager").asInstanceOf[Logger]
    val level = logger.getLevel
    appender.start()
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    val n = try Relational.fuzzyJoinIncremental(batch, "id", "s", store, hist,
        thresholdNum = 4, thresholdDen = 5, n = 3).count()
      finally {
        logger.removeAppender(appender)
        logger.setLevel(level)
        appender.stop()
      }
    assert(n > 0, "the fixture yields pairs")
    val repeated = logged.toArray.toSeq.filter(_.toString.contains("already cached"))
    assert(repeated.isEmpty, s"repeated cache requests: $repeated")
  }

  test("editDistanceJoinIncremental: a re-delivered history id supersedes its old row") {
    // batch id 1 is also in history (and its segment store): once with
    // its stored text, once with a changed one. Its old row must neither
    // pair with its new row nor with other batch rows.
    val k = 3
    val rows = IncrementalFixtures.editRows
    val isNew = IncrementalFixtures.editIsNew _
    val hist = rows.filterNot(r => isNew(r._1))
    val store = Relational.editSegmentStore(hist.toDF("id", "s"), "id", "s", maxDist = k)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    Seq(hist.find(_._1 == 1L).get._2, rows.find(_._1 == 31L).get._2 + "h").foreach { text =>
      val batch = rows.filter(r => isNew(r._1)) :+ (1L -> text)
      val ids = batch.map(_._1).toSet
      val got = pairs(Relational.editDistanceJoinIncremental(
        batch.toDF("id", "s"), "id", "s", store, hist.toDF("id", "s"), maxDist = k))
      assert(!got.keySet.exists(p => p._1 == p._2), s"self-pair for $text")
      val expect = pairs(Relational.editDistanceJoin(
          (hist.filterNot(r => ids(r._1)) ++ batch).toDF("id", "s"), "id", "s", maxDist = k))
        .filter { case ((a, b), _) => ids(a) || ids(b) }
      assert(got === expect, s"$text — missing: ${(expect.keySet diff got.keySet).take(5)}; " +
        s"extra: ${(got.keySet diff expect.keySet).take(5)}")
      assert(expect.keySet.exists(p => p._1 == 1L || p._2 == 1L), "the re-delivered id pairs")
    }
  }

  test("fuzzyJoinIncremental: a re-delivered store id supersedes its old grams") {
    // batch id 1 is also in history (and its gram store): once with its
    // stored string, once with another cluster's. Its old grams must
    // neither pair with its new row nor with other batch rows.
    val rows = IncrementalFixtures.fuzzyRows
    val isNew = IncrementalFixtures.fuzzyIsNew _
    val hist = rows.filterNot(r => isNew(r._1))
    val store = Relational.fuzzyGramStore(hist.toDF("id", "s"), "id", "s", n = 3)
    def row(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))
    Seq(hist.find(_._1 == 1L).get._2, rows.find(_._1 == 15L).get._2).foreach { text =>
      val batch = rows.filter(r => isNew(r._1)) :+ (1L -> text)
      val ids = batch.map(_._1).toSet
      val got = Relational.fuzzyJoinIncremental(batch.toDF("id", "s"), "id", "s",
          store, hist.toDF("id", "s"), thresholdNum = 4, thresholdDen = 5, n = 3)
        .collect().map(row).toSet
      assert(!got.exists(p => p._1 == p._2), s"self-pair for $text")
      val expect = Relational.fuzzySelfPairs(
          (hist.filterNot(r => ids(r._1)) ++ batch).toDF("id", "s"), "id", "s",
          thresholdNum = 4, thresholdDen = 5, n = 3, maxGramFreq = 0)
        .collect().map(row).toSet
        .filter(p => ids(p._1) || ids(p._2))
      assert(got === expect,
        s"$text — missing: ${(expect diff got).take(3)}; extra: ${(got diff expect).take(3)}")
      assert(expect.exists(p => p._1 == 1L || p._2 == 1L), "the re-delivered id pairs")
    }
  }

  test("groupingSets: exact sets only, one Expand pass (no per-set scan)") {
    val df = Seq(("a", "x", "P", 1L), ("a", "y", "P", 2L), ("b", "x", "Q", 4L))
      .toDF("f", "s", "m", "v")
    val got = Relational.groupingSets(df,
        Seq(Seq("f", "s"), Seq("f"), Seq("m")),
        Seq(sum(col("v")).as("sv")))
      .collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        Option(r.getString(2)), r.getLong(3))).toSet
    val expect = Set(
      (Some("a"), Some("x"), None, 1L), (Some("a"), Some("y"), None, 2L),
      (Some("b"), Some("x"), None, 4L),                    // (f, s)
      (Some("a"), None, None, 3L), (Some("b"), None, None, 4L), // (f)
      (None, None, Some("P"), 3L), (None, None, Some("Q"), 4L)) // (m)
    assert(got === expect, "exactly the listed sets — no grand total row")
    val plan = Relational.groupingSets(df,
        Seq(Seq("f", "s"), Seq("f"), Seq("m")),
        Seq(sum(col("v")).as("sv")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), "sets expand in one pass")
    assert("LocalTableScan|Scan".r.findAllIn(plan).size <= 1,
      "one scan feeds all sets — never one scan per set")
  }

  test("fuzzyGramStore: df counts, (df, g) prefix ranks, cap -> NULL rk") {
    val df = Seq((1L, "abcdx"), (2L, "abcdy"), (3L, "abcdz")).toDF("id", "s")
    // grams per string: abc, bcd + one unique (cdx/cdy/cdz)
    val rows = Relational.fuzzyGramStore(df, "id", "s", n = 3, maxGramFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), // (id, df)
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))).toList
    assert(rows.count(_._2 == 3L) === 6, "abc+bcd appear in all 3 strings")
    assert(rows.filter(_._2 == 3L).forall(_._3 == -1L),
      "df-3 grams are over the cap of 2: NULL rk, never in a prefix")
    assert(rows.filter(_._2 == 1L).forall(r => r._3 == 1L && r._4 == 3L),
      "each unique gram ranks FIRST among uncapped (df, g) per string")
  }
}

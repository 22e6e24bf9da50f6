package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Merge

class MergeSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def target =
    Seq((1L, "A", 10L), (2L, "B", 20L), (3L, "C", 30L))
      .toDF("k", "seg", "bal")

  test("mergeUpsert updates matched, inserts unmatched, passes the rest") {
    val source = Seq((2L, "B2", 200L), (9L, "NEW", 900L)).toDF("k", "seg", "bal")
    val out = Merge.mergeUpsert(target, source, Seq("k"))
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(out === Seq((1L, "A", 10L), (2L, "B2", 200L), (3L, "C", 30L), (9L, "NEW", 900L)))
  }

  test("mergeUpsert true-overwrites with source NULLs (no coalesce semantics)") {
    val source = Seq((2L, Option.empty[String], Option(200L))).toDF("k", "seg", "bal")
    val out = Merge.mergeUpsert(target, source, Seq("k"))
      .filter($"k" === 2L).as[(Long, Option[String], Option[Long])].collect().head
    assert(out === ((2L, None, Some(200L))))
  }

  test("mergeUpsert restricts updates to updateCols and nulls absent insert columns") {
    val source = Seq((2L, "X", 999L), (9L, "Y", 900L)).toDF("k", "seg", "bal")
    val out = Merge.mergeUpsert(target, source, Seq("k"), updateCols = Seq("seg"))
      .orderBy("k").as[(Long, Option[String], Option[Long])].collect().toSeq
    // bal untouched on update (20 stays); insert's bal is NULL (not an updateCol)
    assert(out === Seq((1L, Some("A"), Some(10L)), (2L, Some("X"), Some(20L)),
      (3L, Some("C"), Some(30L)), (9L, Some("Y"), None)))
  }

  test("mergeUpsert deleteMatched removes matched target rows") {
    val source = Seq((1L, "z", 0L), (9L, "NEW", 900L)).toDF("k", "seg", "bal")
    val out = Merge.mergeUpsert(target, source, Seq("k"), deleteMatched = true)
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(out === Seq((2L, "B", 20L), (3L, "C", 30L), (9L, "NEW", 900L)))
  }

  test("mergeUpsert insertUnmatched=false is update-only") {
    val source = Seq((2L, "B2", 200L), (9L, "NEW", 900L)).toDF("k", "seg", "bal")
    val out = Merge.mergeUpsert(target, source, Seq("k"), insertUnmatched = false)
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(out === Seq((1L, "A", 10L), (2L, "B2", 200L), (3L, "C", 30L)))
  }

  test("mergeUpsert rejects a key-duplicated source") {
    val source = Seq((2L, "a", 1L), (2L, "b", 2L)).toDF("k", "seg", "bal")
    val e = intercept[IllegalArgumentException] {
      Merge.mergeUpsert(target, source, Seq("k"))
    }
    assert(e.getMessage.contains("not unique"))
  }

  test("mergeUpsert works when target and source share lineage (self-merge)") {
    val t = wh.loadTable("nation").select($"n_nationkey", $"n_name")
    val s = wh.loadTable("nation").filter($"n_nationkey" < 5)
      .select($"n_nationkey", upper($"n_name").as("n_name"))
    val out = Merge.mergeUpsert(t, s, Seq("n_nationkey"))
    assert(out.count() === t.count())
    assert(out.filter($"n_nationkey" < 5 && $"n_name" =!= upper($"n_name")).count() === 0)
  }

  private def dim =
    Seq(
      (1L, "gold", "x", Date.valueOf("2020-01-01"), Option.empty[Date], true),
      (1L, "bronze", "x", Date.valueOf("2019-01-01"), Option(Date.valueOf("2020-01-01")), false),
      (2L, "silver", "y", Date.valueOf("2020-01-01"), Option.empty[Date], true)
    ).toDF("k", "tier", "attr", "valid_from", "valid_to", "is_current")

  test("scd2Apply closes changed rows, appends versions, inserts new keys") {
    val updates = Seq(
      (1L, "platinum", Date.valueOf("2021-06-01")), // changed tier
      (2L, "silver", Date.valueOf("2021-06-01")),   // unchanged → no-op
      (7L, "new", Date.valueOf("2021-06-01"))       // new key
    ).toDF("k", "tier", "eff")
    val out = Merge.scd2Apply(dim, updates, Seq("k"), Seq("tier"), "eff")
      .orderBy("k", "valid_from")
      .as[(Long, String, Option[String], Date, Option[Date], Boolean)].collect().toSeq

    assert(out === Seq(
      (1L, "bronze", Some("x"), Date.valueOf("2019-01-01"), Some(Date.valueOf("2020-01-01")), false),
      (1L, "gold", Some("x"), Date.valueOf("2020-01-01"), Some(Date.valueOf("2021-06-01")), false),
      (1L, "platinum", Some("x"), Date.valueOf("2021-06-01"), None, true),
      (2L, "silver", Some("y"), Date.valueOf("2020-01-01"), None, true),
      (7L, "new", None, Date.valueOf("2021-06-01"), None, true)))
  }

  test("scd2Apply null-safe compare: NULL->value and value->NULL both count as change") {
    val d = Seq(
      (1L, Option.empty[String], Date.valueOf("2020-01-01"), Option.empty[Date], true),
      (2L, Option("v"), Date.valueOf("2020-01-01"), Option.empty[Date], true)
    ).toDF("k", "tier", "valid_from", "valid_to", "is_current")
    val u = Seq(
      (1L, Option("v"), Date.valueOf("2021-01-01")),
      (2L, Option.empty[String], Date.valueOf("2021-01-01"))
    ).toDF("k", "tier", "eff")
    val out = Merge.scd2Apply(d, u, Seq("k"), Seq("tier"), "eff")
    assert(out.count() === 4) // both rows closed + reopened
    assert(out.filter($"is_current").count() === 2)
  }

  test("scd2Apply leaves the dimension untouched on an empty batch") {
    val updates = Seq.empty[(Long, String, Date)].toDF("k", "tier", "eff")
    val out = Merge.scd2Apply(dim, updates, Seq("k"), Seq("tier"), "eff")
      .orderBy("k", "valid_from").collect().toSeq
    assert(out === dim.orderBy("k", "valid_from").collect().toSeq)
  }

  test("diffTables: all four fates, null-safe value compare") {
    val before = Seq[(Long, Option[String])](
      (1L, Some("a")),   // unchanged
      (2L, Some("b")),   // changed: b -> c
      (3L, None),        // unchanged with NULL value (NULL <=> NULL)
      (4L, Some("d")),   // changed: d -> NULL
      (5L, Some("e"))    // deleted
    ).toDF("k", "v")
    val after = Seq[(Long, Option[String])](
      (1L, Some("a")), (2L, Some("c")), (3L, None), (4L, None),
      (6L, Some("f"))    // inserted
    ).toDF("k", "v")
    val got = Merge.diffTables(before, after, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed", 3L -> "unchanged",
      4L -> "changed", 5L -> "deleted", 6L -> "inserted"))
  }

  test("diffTables: extra columns outside the shared set are ignored") {
    val before = Seq((1L, "a", 9L)).toDF("k", "v", "only_before")
    val after = Seq((1L, "a")).toDF("k", "v")
    val got = Merge.diffTables(before, after, Seq("k")).collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "unchanged")))
  }

  test("diffTables: NULL key parts match via <=> and still read as present") {
    // (1, NULL) exists identically on both sides -> unchanged, not
    // 'inserted' (presence comes from markers, not key nullability)
    val before = Seq[(Long, Option[String], String)](
      (1L, None, "a"), (2L, None, "gone")).toDF("k1", "k2", "v")
    val after = Seq[(Long, Option[String], String)](
      (1L, None, "a")).toDF("k1", "k2", "v")
    val got = Merge.diffTables(before, after, Seq("k1", "k2"))
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "deleted"))
  }

  test("diffTables: duplicate keys rejected unless explicitly allowed") {
    val dup = Seq((1L, "a"), (1L, "b")).toDF("k", "v")
    val clean = Seq((1L, "a")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Merge.diffTables(dup, clean, Seq("k"))
    }
    // opt-out keeps the fan-out semantics available
    assert(Merge.diffTables(dup, clean, Seq("k"), checkUniqueKeys = false)
      .count() === 2)
  }

  test("pointInTimeJoin picks the version valid at event time; left pads; strict catches overlap") {
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    val dim = Seq(
      (1L, "old", d("2020-01-01"), d("2021-01-01"), false),
      (1L, "mid", d("2021-01-01"), d("2022-01-01"), false),
      (1L, "new", d("2022-01-01"), null.asInstanceOf[Date], true),
      (2L, "only", d("2021-06-01"), null.asInstanceOf[Date], true)
    ).toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val facts = Seq(
      (10L, 1L, d("2020-06-15")), // -> old
      (11L, 1L, d("2021-01-01")), // boundary: from inclusive -> mid
      (12L, 1L, d("2021-12-31")), // -> mid (to exclusive)
      (13L, 1L, d("2025-01-01")), // open version -> new
      (14L, 2L, d("2021-01-01")), // before key existed -> null pad
      (15L, 3L, d("2021-01-01"))  // unknown key -> null pad
    ).toDF("fid", "k", "t")
    val got = Merge.pointInTimeJoin(facts, dim, Seq("k"), "t", strict = true)
      .orderBy("fid")
      .collect().map(r => (r.getLong(0), Option(r.getString(3)))).toSeq
    assert(got === Seq((10L, Some("old")), (11L, Some("mid")),
      (12L, Some("mid")), (13L, Some("new")), (14L, None), (15L, None)))
    // inner drops the padded rows
    assert(Merge.pointInTimeJoin(facts, dim, Seq("k"), "t", how = "inner")
      .count() === 4)
    // strict refuses an overlapping dimension
    val overlap = dim.unionByName(Seq(
      (1L, "dup", d("2020-06-01"), d("2020-09-01"), false))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current"))
    intercept[IllegalArgumentException] {
      Merge.pointInTimeJoin(facts, overlap, Seq("k"), "t", strict = true)
    }
    // non-strict joins an scd2Apply-produced dim without duplication
    intercept[IllegalArgumentException] {
      Merge.pointInTimeJoin(facts, dim, Seq("k"), "t", how = "full")
    }
  }

  test("forgetKeys: erasure semantics, NULL contracts, audit report") {
    val target = Seq(
      (Some(1L), "a"), (Some(2L), "b"), (Some(3L), "c"),
      (None, "null-key survives"), (Some(2L), "b2"))
      .toDF("k", "v")
    val req = Seq(2L, 999L).toDF("k") // 999 unknown: already-deleted, fine
    val left = Merge.forgetKeys(target, req, Seq("k"))
      .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getString(1))).toSet
    assert(left === Set((Some(1L), "a"), (Some(3L), "c"),
      (None, "null-key survives")),
      "both rows of key 2 drop; NULL-key rows always survive")
    // the audit row: 5 before, 2 removed, 3 after; 2 requested, 1 matched
    val rep = Merge.forgetReport(target, req, "k").collect().head
    assert((rep.getLong(0), rep.getLong(1), rep.getLong(2), rep.getLong(3),
      rep.getLong(4)) === ((5L, 2L, 3L, 2L, 1L)))
    // a NULL key anywhere in the request raises — malformed erasure list
    val ex = intercept[Exception] {
      Merge.forgetKeys(target,
        Seq(Some(1L), None).toDF("k"), Seq("k")).collect()
    }
    assert(root(ex).contains("malformed"))
    // multi-column keys: only the exact tuple drops
    val t2 = Seq((1L, "x", 10.0), (1L, "y", 20.0), (2L, "x", 30.0))
      .toDF("k1", "k2", "v")
    val left2 = Merge.forgetKeys(t2,
        Seq((1L, "x")).toDF("k1", "k2"), Seq("k1", "k2"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(left2 === Set((1L, "y"), (2L, "x")))
  }
}

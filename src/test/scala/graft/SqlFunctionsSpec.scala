package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** The pure-SQL surface of the native functions: after registration every
  * kernel is reachable from spark.sql / loadSql text, which is how SQL-only
  * clients (and the GraftExtensions deployment route, which injects the
  * same builder list) consume them.
  */
class SqlFunctionsSpec extends AnyFunSuite with SparkTestBase {

  test("graft functions are callable from pure SQL") {
    GraftFunctions.ensure(spark)
    val row = spark.sql(
      """SELECT
        |  size(graft_word_ngrams('a b c d e', 3))         AS n_grams,
        |  size(graft_char_ngrams('abcdef', 3))            AS n_cgrams,
        |  size(graft_minhash(graft_word_ngrams('a b c d', 2), 64, 42)) AS sig_len,
        |  graft_simhash64(graft_word_ngrams('a b c d', 2)) AS sh,
        |  graft_cosine(array(cast(1.0 AS float), cast(0.0 AS float)),
        |               array(cast(1.0 AS float), cast(0.0 AS float))) AS cos_same,
        |  size(graft_winnow('abcdefghijklmnop', 4, 3))     AS n_fp,
        |  graft_jaro_winkler('martha', 'marhta')           AS jw,
        |  graft_rake_topk('deep learning of deep nets', 2)[0].phrase AS kw
        |""".stripMargin).collect()(0)
    assert(row.getAs[Int]("n_grams") === 3)
    assert(row.getAs[Int]("n_cgrams") === 4)
    assert(row.getAs[Int]("sig_len") === 64)
    assert(row.getAs[Double]("cos_same") === 1.0)
    assert(row.getAs[Int]("n_fp") > 0)
    assert(row.getAs[Double]("jw") === 0.9611111111111111)
    assert(row.getAs[String]("kw") === "deep learning") // tie → phrase asc
  }

  test("graft_jaro_winkler: literature values, window/transposition/boost edges") {
    GraftFunctions.ensure(spark)
    // expected doubles are DuckDB 1.0.0's own jaro_winkler_similarity
    // outputs (the oracle's independent implementation) — the kernel
    // must match them BIT-exactly, which pins the operation order
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),   // 1 transposition, prefix 3
      ("dixon", "dicksonx", 0.8133333333333332),  // unequal lengths
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("abcdef", "abdcfe", 0.9111111111111111),   // 2 transpositions
      ("ab", "ba", 0.0),                          // window 0: no matches at len 2
      ("a", "a", 1.0), ("a", "b", 0.0),           // the length-1 special case
      ("", "", 0.0), ("", "x", 0.0),              // DuckDB: empty → 0, even both
      ("prefixaaaa", "prefixbbbb", 0.8400000000000001), // boost capped at p=4
      ("aXcdefgh", "abcdefgh", 0.9249999999999999),     // boost with p=1
      ("abqqqqqq", "abzzzzzz", 0.5))              // jaro ≤ 0.7: prefix does NOT boost
    val df = spark.createDataFrame(cases).toDF("a", "b", "want")
    val got = df.selectExpr("graft_jaro_winkler(a, b) AS jw", "want", "a", "b")
      .collect()
    got.foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1),
        s"jw(${r.getString(2)}, ${r.getString(3)})")
    }
  }

  test("graft_soundex: classic fixtures, h/w transparency, edge inputs") {
    GraftFunctions.ensure(spark)
    val cases = Seq(
      ("Robert", "R163"), ("Rupert", "R163"),      // the canonical pair
      ("Ashcraft", "A261"),                        // s-h-c collapses across h
      ("Tymczak", "T522"), ("Pfister", "P236"),    // y separates; P,F collapse
      ("Honeyman", "H555"),
      ("HB", "H100"), ("WB", "W100"),              // leading h/w is kept
      ("AEB", "A100"), ("BB", "B000"), ("BCB", "B210"),
      ("o'brien", "O165"), ("McDonald", "M235"),   // non-letters ignored
      ("lee", "L000"), ("a", "A000"), ("hw", "H000"),
      ("Smith", "S530"), ("Smyth", "S530"))        // vowel-insensitive
    val df = spark.createDataFrame(cases).toDF("w", "want")
    df.selectExpr("nullif(graft_soundex(w), '') AS sx", "want", "w")
      .collect().foreach { r =>
        assert(r.getString(0) === r.getString(1), s"soundex(${r.getString(2)})")
      }
    // no ASCII letters → NULL through the Column wrapper; non-ASCII
    // letters are non-letters (the upper(c) BETWEEN A AND Z filter)
    val edge = spark.createDataFrame(
        Seq(("123", 0), ("", 0), ("éé", 0), ("é1a", 0))).toDF("w", "x")
      .select(graft.functions.GraftFunctions.soundex(
        org.apache.spark.sql.functions.col("w")).as("sx"))
      .collect().map(r => Option(r.getString(0)))
    assert(edge.toSeq === Seq(None, None, None, Some("A000")))
  }

  test("graft_topk aggregates in SQL grouping") {
    GraftFunctions.ensure(spark)
    spark.range(100).createOrReplaceTempView("nums")
    val rows = spark.sql(
      """SELECT tk.id, tk.score FROM (
        |  SELECT graft_topk(id, cast(id AS double), 3) AS arr FROM nums
        |) LATERAL VIEW explode(arr) AS tk
        |ORDER BY tk.score DESC""".stripMargin).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(99L, 98L, 97L))
  }

  test("loadSql sees graft functions over warehouse tables") {
    GraftFunctions.ensure(spark)
    val n = wh.loadSql(
      "SELECT count(*) AS c FROM documents WHERE size(graft_word_ngrams(text, 3)) > 0")
      .collect()(0).getLong(0)
    assert(n > 0)
  }

  test("SQL builders refuse integer arguments outside the int range") {
    GraftFunctions.ensure(spark)
    // 4294967424 = 2^32 + 128: a wrapping conversion would run 128 perms
    def refusal(sql: String): String = {
      val e = intercept[Exception](spark.sql(sql).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    val perms = refusal(
      "SELECT graft_minhash(graft_word_ngrams('a b c d', 2), 4294967424, 7)")
    assert(perms.contains("numPerms") && perms.contains("4294967424"), perms)
    val n = refusal("SELECT graft_word_ngrams('a b c d', 4294967298)")
    assert(n.contains("n must fit in an int"), n)
    // in-range BIGINT literals still convert
    val row = spark.sql(
      "SELECT size(graft_minhash(graft_word_ngrams('a b c d', 2L), 16L, 7)) AS s")
      .collect()(0)
    assert(row.getInt(0) === 16)
  }

  test("GraftExtensions shares the ensure builder list (no drift possible)") {
    // the deployment route injects GraftFunctions.builders verbatim — assert
    // the list names every model-free function of the Column API
    val names = GraftFunctions.builders.map(_._1).toSet
    assert(names === Set(
      "graft_word_ngrams", "graft_char_ngrams", "graft_word_ngrams_tf",
      "graft_icws_minhash", "graft_minhash", "graft_simhash64",
      "graft_simhash_tf", "graft_cosine", "graft_jaro_winkler",
      "graft_rake_topk", "graft_hyperplane_lsh_multi",
      "graft_langid_hits", "graft_quality_counts", "graft_normalize",
      "graft_soundex",
      "graft_repetition_stats", "graft_winnow", "graft_winnow_pos",
      "graft_extend_match", "graft_pq_adc_score", "graft_topk",
      "graft_heavy_hitters"))
    // and the extensions class constructs + applies cleanly
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }
}

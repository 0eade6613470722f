package graft

import org.apache.spark.sql.functions._

/** shingle_set (graft.plans.ShingleSet): the native codegen'd per-doc
  * distinct shingle set must equal the declarative
  * transform+array_distinct formulation on every input shape. */
class ShingleSetSpec extends GraftSpec {
  import spark.implicits._

  private def viaHof(k: Int) = expr(
    s"array_sort(array_distinct(transform(sequence(1, length(t) - ${k - 1}), g -> substring(t, g, $k))))")

  test("matches the higher-order-function formulation, incl. repeats and multibyte chars") {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val texts = Seq("abcabcabc", "aaaaa", "abcde", "héllo wörld héllo",
      "ab", "日本語のテキストです日本語", "x y x y x y")
    val df = texts.toDF("t")
      .filter(length(col("t")) >= 3)
      .select(array_sort(expr("shingle_set(t, 3)")).as("got"), viaHof(3).as("want"))
    assert(df.filter(col("got") =!= col("want")).count() == 0)
    assert(df.count() == 6) // every text except "ab" passes the length filter
  }

  test("minhash_sig matches the declarative md5-slice-min formulation bitwise") {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val texts = Seq("abcdefgh", "the quick brown fox", "aaaaaaaaaa", "héllo wörld")
    val df = texts.toDF("t")
      .select(expr("shingle_set(t, 3)").as("ss"))
      .select(col("ss"), expr("minhash_sig(ss)").as("got"))
      .select(col("got"), explode(col("ss")).as("s"))
    val declarative = (0 to 3).map(i =>
      min(expr(s"cast(conv(substring(md5(s), ${1 + 8 * i}, 8), 16, 10) as long)"))) ++
      (0 to 3).map(i =>
        min(expr(s"cast(conv(substring(md5(concat('1:', s)), ${1 + 8 * i}, 8), 16, 10) as long)")))
    val rows = df.groupBy("got").agg(declarative.head, declarative.tail: _*).collect()
    rows.foreach { r =>
      val native = r.getSeq[Long](0)
      val decl = (1 to 8).map(r.getLong(_))
      assert(native == decl, s"native=$native declarative=$decl")
    }
    assert(rows.length == texts.length)
  }

  test("registered builders reject null and non-positive k with AnalysisException") {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val one = Seq(("abc", 1)).toDF("t", "tag")
    Seq("shingle_set(t, null)", "shingle_set(t, 0)", "shingle_set(t, -2)",
        "shingle_stats(t, null)", "shingle_stats(t, 0)").foreach { bad =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        one.select(expr(bad)).collect()
      }
      assert(e.getMessage.contains("k"), s"$bad -> ${e.getMessage}")
    }
  }

  test("registered builders reject a wrong argument count with WRONG_NUM_ARGS") {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val one = Seq(("abc", 1)).toDF("t", "tag")
    Seq("inter_count(t)" -> "inter_count", "minhash_sig(t, t)" -> "minhash_sig",
        "sign_bands_long(t)" -> "sign_bands_long").foreach { case (bad, fn) =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        one.select(expr(bad)).collect()
      }
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", s"$bad -> ${e.getMessage}")
      assert(e.getMessage.contains(fn), s"$bad -> ${e.getMessage}")
    }
  }

  test("minhash_sig: null for empty arrays, null elements skipped") {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val r = spark.sql(
      """SELECT minhash_sig(cast(array() AS array<string>)) AS empty,
        |  minhash_sig(array(cast(null AS string))) AS allnull,
        |  minhash_sig(array('x', cast(null AS string))) AS mixed,
        |  minhash_sig(array('x')) AS just_x""".stripMargin).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(!r.isNullAt(2) && r.getSeq[Long](2) == r.getSeq[Long](3))
  }

  test("short text yields an empty set; k=1 yields the distinct chars") {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val r = Seq(("ab", 0), ("abcba", 1)).toDF("t", "tag")
      .select(col("tag"), size(expr("shingle_set(t, 3)")).as("n3"),
        array_sort(expr("shingle_set(t, 1)")).as("s1")).collect()
    val short = r.find(_.getInt(0) == 0).get
    assert(short.getInt(1) == 0)
    val full = r.find(_.getInt(0) == 1).get
    assert(full.getSeq[String](2) == Seq("a", "b", "c"))
  }
}

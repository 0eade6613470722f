package graft

import org.apache.spark.sql.functions._
import graft.operators.Embed

class EmbedSpec extends GraftSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = {
    val dir = java.nio.file.Files.createTempDirectory("embed").toString
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The hashing contract replicated independently in plain JVM code. */
  private def refVector(text: String, d: Int): Map[Long, Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    text.split(" ", -1).toSeq
      .map { tok =>
        val hx = md.digest(s"$tok:f".getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
        val dim = java.lang.Long.parseLong(hx.substring(0, 8), 16) % d
        val s = if (hx.charAt(8) >= '8') -1L else 1L
        dim -> s
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      .filter(_._2 != 0L)
  }

  test("q282: projections hash-verified against an independent JVM replication") {
    val texts = Seq(0L -> "the cat sat on the mat", 1L -> "a b a b a",
      2L -> "xyzzy", 3L -> "")
    val dir = docs(texts: _*)
    val ops = new graft.operators.EmbedOps(GraftConfig(featHashDim = 8))
    val got = ops.q282TextEmbed(spark, dir).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    val expected = texts.map { case (id, t) => id -> refVector(t, 8) }.toMap
      .filter(_._2.nonEmpty)
    assert(got == expected, "signed feature-hash vectors must match the reference bitwise")
    // the duplicate-token doc exercises real accumulation, not presence
    assert(expected(1L).values.exists(v => math.abs(v) > 1),
      "test corpus must exercise |count| > 1 accumulation")
  }

  test("q283: identical texts embed identically and pair at cosine exactly 1") {
    val dir = docs(
      0L -> "alpha beta gamma delta epsilon zeta",
      1L -> "alpha beta gamma delta epsilon zeta", // exact dup of 0
      2L -> "totally different words entirely here now",
      3L -> "alpha beta gamma delta epsilon eta") // near dup of 0
    val ops = new graft.operators.EmbedOps(
      GraftConfig(featHashDim = 16, derivedNeardupMin = 0.999))
    val v = ops.q282TextEmbed(spark, dir).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    assert(v(0L) == v(1L), "identical text must derive the identical sparse vector")
    val pairs = ops.q283DerivedNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cosine")).toMap
    assert(pairs.contains((0L, 1L)), "the exact-dup pair must surface")
    assert(pairs((0L, 1L)) == 1.0, "identical vectors must read cosine exactly 1")
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L)),
      "unrelated docs must not pass a 0.999 threshold")
  }

  test("feat_hash_vec: the native scan expression equals the explode+groupBy SQL formulation") {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val D = GraftConfig.default.featHashDim
    // the original column-chain formulation, replicated inline
    val reference = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("hx", md5(concat(col("tok"), lit(":f"))))
      .select(col("doc_id"),
        (conv(substring(col("hx"), 1, 8), 16, 10).cast("long") % D).as("dim"),
        when(substring(col("hx"), 9, 1) >= "8", lit(-1L)).otherwise(lit(1L)).as("s"))
      .groupBy("doc_id", "dim").agg(sum(col("s")).as("val"))
      .filter(col("val") =!= 0)
    val native = graft.operators.Embed.q282TextEmbed(spark, sf)
    assert(native.exceptAll(reference).isEmpty && reference.exceptAll(native).isEmpty,
      "native feat_hash_vec must reproduce the hash-chain formulation bitwise")
    assert(native.count() > 0)
  }

  test("q288: the stateless stream drains bit-equal to the batch embedder") {
    val batch = graft.operators.Embed.q282TextEmbed(spark, sf)
    val streamed = graft.operators.Embed.q288StreamEmbed(spark, sf)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    assert(streamed.count() > 0)
  }

  test("q289: derived ANN is well-formed; an exact text duplicate ranks first at cosine 1") {
    val cfg = GraftConfig.default
    val rows = graft.operators.Embed.q289DerivedAnn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val rks = rs.map(_.getAs[Int]("rk")).sorted.toSeq
      assert(rks == (1 to rks.size) && rks.size <= cfg.annTopK)
      rs.foreach(r => assert(r.getLong(1) != q, "never the query itself"))
    }
    // duplicate text: doc 100 repeats doc 0's text → for query 0 the
    // dup must rank first with cosine exactly 1
    val dir = docs((0L -> "alpha beta gamma delta") +:
      (1L to 99L).map(i => i -> s"filler words number $i distinct") :+
      (100L -> "alpha beta gamma delta"): _*)
    val ops = new graft.operators.EmbedOps(GraftConfig(annQueries = 1, annTopK = 3))
    val top = ops.q289DerivedAnn(spark, dir).collect()
      .filter(_.getLong(0) == 0L).minBy(_.getAs[Int]("rk"))
    assert(top.getLong(1) == 100L && top.getAs[Double]("cosine") == 1.0,
      "the exact text duplicate must rank first at cosine exactly 1")
  }

  test("q287: eval totals reconcile; identical-corpus degeneracy reads perfect recall AND precision") {
    val r = graft.operators.Embed.q287DerivedDedupEval(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val (ex, cd, ht) = (row.getAs[Long]("exact_pairs"),
      row.getAs[Long]("cand_pairs"), row.getAs[Long]("hit_pairs"))
    assert(ht <= ex && ht <= cd, "hits are the intersection")
    assert(row.getAs[Long]("n_sample") ==
      math.min(Embed.DerivedEvalSample.toLong,
        spark.read.parquet(s"$sf/documents.parquet").count()))
    val (rec, prec) = (row.getAs[Double]("recall"), row.getAs[Double]("precision"))
    assert(rec >= 0.0 && rec <= 1.0 && prec >= 0.0 && prec <= 1.0)
    // identical corpus: every pair is exact AND blocked together
    val dir = docs((0L to 5L).map(i => i -> "same words every single time"): _*)
    val one = graft.operators.Embed.q287DerivedDedupEval(spark, dir).collect().head
    assert(one.getAs[Long]("exact_pairs") == 15L && one.getAs[Long]("hit_pairs") == 15L)
    assert(one.getAs[Double]("recall") == 1.0 && one.getAs[Double]("precision") == 1.0)
  }

  /** Independent JVM replication of the banded sign-LSH keys: ±1
    * hyperplane weights from md5("pl:p:d") (first hex char ≥ '8' →
    * −1), bit j of band B set when plane B·bits+j dots ≥ 0 against
    * the dense vector. */
  private def refBands(v: Map[Long, Long], dim: Int, bands: Int, bits: Int): Seq[(Int, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def w(p: Int, d: Int): Long = {
      val hx = md.digest(s"pl:$p:$d".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      if (hx.charAt(0) >= '8') -1L else 1L
    }
    (0 until bands).map { b =>
      var key = 0L
      for (j <- 0 until bits) {
        val p = b * bits + j
        val dot = (0 until dim).map(d => w(p, d) * v.getOrElse(d.toLong, 0L)).sum
        if (dot >= 0L) key |= 1L << j
      }
      b -> key
    }
  }

  test("sign_bands_long matches an independent JVM replication of the hyperplane rule") {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val cfg = GraftConfig.default
    val got = graft.sources.Tables.documents(spark, sf).limit(20)
      .select(col("doc_id"),
        expr(s"sign_bands_long(feat_hash_vec(text, ${cfg.featHashDim}), " +
          s"${Embed.DerivedBands}, ${Embed.DerivedBandBits})").as("keys"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val v = graft.operators.Embed.q282TextEmbed(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    got.foreach { case (id, keys) =>
      val expect = refBands(v.getOrElse(id, Map.empty), cfg.featHashDim,
        Embed.DerivedBands, Embed.DerivedBandBits).map(_._2)
      assert(keys == expect, s"doc $id band keys diverge from the replication")
    }
  }

  test("q283 blocking invariant: every reported pair shares a band key surviving the df cap") {
    val ops = new graft.operators.EmbedOps(
      GraftConfig(derivedNeardupMin = 0.9)) // wider net on the real corpus
    val cfg = ops.cfg
    val v = ops.q282TextEmbed(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    val keys = v.map { case (id, m) =>
      id -> refBands(m, cfg.featHashDim, Embed.DerivedBands, Embed.DerivedBandBits).toSet }
    val df = keys.values.flatten.groupBy(identity).map { case (k, xs) => k -> xs.size }
    val res = ops.q283DerivedNearDup(spark, sf).collect()
    assert(res.nonEmpty, "sf0.001 corpus must yield at least one 0.9-pair")
    res.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a < b, "pairs must be ordered once, never mirrored")
      val shared = keys(a).intersect(keys(b))
        .filter(k => df(k) <= cfg.derivedBandMaxDf)
      assert(shared.nonEmpty,
        s"pair ($a,$b) escaped the capped band block — candidate generation unbounded")
      val cos = r.getAs[Double]("cosine")
      assert(cos >= 0.9 && cos <= 1.0)
    }
  }

  test("q292/q293: derived IVF tier is well-formed; recall reconciles against the brute truth") {
    val cfg = GraftConfig.default
    val ivf = graft.operators.Embed.q292DerivedIvf(spark, sf).collect()
    assert(ivf.nonEmpty)
    ivf.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val rks = rs.map(_.getAs[Int]("rk")).sorted.toSeq
      assert(rks == (1 to rks.size) && rks.size <= cfg.ivfTopK)
      rs.foreach(r => assert(r.getLong(1) != q, "never the query itself"))
    }
    val rec = graft.operators.Embed.q293DerivedIvfRecall(spark, sf).collect()
    assert(rec.nonEmpty)
    rec.foreach { r =>
      val (h, rc) = (r.getAs[Long]("hits"), r.getAs[Double]("recall"))
      assert(h >= 0 && h <= cfg.ivfTopK && rc == h.toDouble / cfg.ivfTopK)
    }
  }

  test("q283 candidate bound: the df cap drops hot buckets (verdict flips both ways)") {
    // six identical docs: every band bucket holds all six
    val dir = docs((0L to 5L).map(i => i -> "same words every single time"): _*)
    val tight = new graft.operators.EmbedOps(
      GraftConfig(derivedBandMaxDf = 2, derivedNeardupMin = 0.9))
    assert(tight.q283DerivedNearDup(spark, dir).count() == 0L,
      "with every bucket above the cap, candidate generation must emit nothing")
    val loose = new graft.operators.EmbedOps(
      GraftConfig(derivedBandMaxDf = 15, derivedNeardupMin = 0.9))
    assert(loose.q283DerivedNearDup(spark, dir).count() == 15L,
      "under the cap the full identical-doc clique must surface")
  }
}

package graft

import graft.functions.Vec
import graft.plans.GraftExtensions
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class FixedPointDotSpec extends GraftSpec {

  test("native vec_dot_fixed is bit-identical to the HOF formulation on real embeddings") {
    GraftExtensions.ensureRegistered(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val pairs = e.as("x").crossJoin(e.as("y"))
      .filter(col("x.vec_id") < col("y.vec_id")).limit(2000)
      .select(
        Vec.dot("x.embedding", "y.embedding").as("hof"),
        Vec.dotN("x.embedding", "y.embedding").as("native"))
    assert(pairs.filter(col("hof") =!= col("native")).count() == 0)
  }

  test("native vec_dot_long is bit-identical to the interpreted long fold and to the sparse sum") {
    GraftExtensions.ensureRegistered(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 200L).map(i =>
      i -> Array.fill(16)(rnd.nextInt(2001) - 1000L)).toDF("id", "vec")
    val pairs = vecs.as("x").crossJoin(vecs.as("y"))
      .filter(col("x.id") < col("y.id"))
      .select(
        expr("vec_dot_long(x.vec, y.vec)").as("native"),
        expr("aggregate(zip_with(x.vec, y.vec, (a, b) -> a * b), CAST(0 AS BIGINT), " +
          "(acc, v) -> acc + v)").as("hof"))
    assert(pairs.filter(col("native") =!= col("hof")).count() == 0)
    // and it codegens — over a non-foldable source (a literal local
    // table constant-folds to LocalTableScan and hides the expression)
    val plan = spark.range(100)
      .select(expr("transform(sequence(CAST(0 AS BIGINT), CAST(15 AS BIGINT)), j -> j + id)").as("vec"))
      .select(expr("vec_dot_long(vec, vec)").as("n2"))
      .queryExecution.executedPlan.toString
    // the "*(n)" stage prefix on the Project is the WholeStageCodegen marker
    assert("""\*\(\d+\) Project \[vec_dot_long""".r.findFirstIn(plan).isDefined, plan)
  }

  test("native expression participates in codegen (no interpreted lambdas in plan)") {
    GraftExtensions.ensureRegistered(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = e.select(expr("vec_dot_fixed(embedding, embedding)").as("n2"))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" stage prefix is the WholeStageCodegen marker in plan text
    assert(plan.contains("*(1) Project [vec_dot_fixed"), s"expected codegen'd project in:\n$plan")
    assert(df.count() > 0)
  }

  test("q164: floor-mean centroid + exact integer distances; the far vector ranks first") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q164").toString
    Seq((1L, Array(0f, 0f), 0), (2L, Array(0f, 0f), 0), (3L, Array(3f, 4f), 0),
        (4L, Array(1f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.operators.Similarity.q164LabelOutliers(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(4)))
    def sc(x: Double) = math.floor(x * 1e6).toLong
    val m0 = (sc(0) + sc(0) + sc(3)) / 3
    val m1 = (sc(0) + sc(0) + sc(4)) / 3
    def d2(x: Double, y: Double) = {
      val a = sc(x) - m0; val b = sc(y) - m1; a * a + b * b
    }
    val lab0 = got.filter(_._1 == 0).sortBy(_._4)
    assert(lab0.head == ((0, 3L, d2(3, 4), 1)), "far vector must rank first with exact dist2")
    assert(lab0.map(v => v._2 -> v._3).toMap ==
      Map(1L -> d2(0, 0), 2L -> d2(0, 0), 3L -> d2(3, 4)))
    // singleton label: the centroid is the vector itself → dist2 = 0
    assert(got.find(_._1 == 1).get._3 == 0L)
  }

  test("q183: balance summary conserves vectors and bounds the ratio") {
    val r = graft.operators.Similarity.q183IvfBalance(spark, sf).collect().head
    val (cells, total, mx, mn) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(total == spark.read.parquet(s"$sf/embeddings.parquet").count())
    assert(cells <= GraftConfig.default.ivfCentroids && cells > 0)
    assert(mx >= mn && mx * cells >= total, "max·cells ≥ total by pigeonhole")
    assert(r.getDouble(4) >= 1.0)
  }

  test("q179: reconstruction errors match a double-arithmetic mirror and respect the qscale/2 bound") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q179").toString
    Seq((1L, Array(1f, -1f, 0.5f), 0), (2L, Array(0f, 0f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.operators.Similarity.q179QuantError(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // mirror the operator's double chain exactly
    val qscale = 1.0 / 127.0
    val errs = Seq(1f, -1f, 0.5f).map { x =>
      val c = math.round(x.toDouble / qscale)
      math.abs(x.toDouble - c.toDouble * qscale)
    }
    val expMax = math.floor(errs.max * 1e9).toLong
    val expSse = errs.map(e => math.floor(e * e * 1e12).toLong).sum
    assert(got(1L) == ((expMax, expSse)))
    assert(got(2L) == ((0L, 0L)), "the zero vector reconstructs exactly")
    // structural bound on real data: max error ≤ qscale/2 (+1 ulp slack)
    val joined = graft.operators.Similarity.q179QuantError(spark, sf)
      .join(graft.operators.Similarity.q89Quantize(spark, sf), "vec_id")
      .collect()
    joined.foreach { r =>
      val bound = math.floor(r.getAs[Double]("qscale") / 2.0 * 1e9).toLong + 1
      assert(r.getAs[Long]("max_err_e9") <= bound,
        s"vec ${r.getLong(0)}: err exceeds the rounding half-step")
    }
  }

  test("q172: two-phase quantiles handle negatives and match hand nearest-ranks") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q172").toString
    // dim 0 values {-3,-1,0,2,10}: n=5 → ranks p25→2nd, p50→3rd, p75→4th
    Seq((1L, Array(-3f), 0), (2L, Array(-1f), 0), (3L, Array(0f), 0),
        (4L, Array(2f), 0), (5L, Array(10f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = graft.operators.Similarity.q172RobustScale(spark, dir).collect().head
    assert(r.getInt(0) == 0 && r.getLong(1) == 5L)
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
      ((-1000000L, 0L, 2000000L, 3000000L)))
  }

  test("norm is positive and scales as expected") {
    GraftExtensions.ensureRegistered(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val bad = e.select(Vec.norm2N("embedding").as("n2")).filter(col("n2") <= 0)
    assert(bad.count() == 0)
  }

  // ---------- vec_nearest_cells against the two formulations it replaced ----------

  /** The packed centroid row as `assign` built it before the kernel:
    * sorted by cent_id, which the fold's tie rule relied on. */
  private def packedRef(cents: DataFrame): DataFrame =
    cents.select(struct(col("cent_id"), col("ce"),
        expr("CAST(vec_dot_fixed(ce, ce) AS DOUBLE)").as("cn2")).as("c"))
      .groupBy().agg(array_sort(collect_list(col("c"))).as("cents"))

  /** Reference: the argmax fold `assign` ran. */
  private def foldCell = expr(
    """aggregate(
      |  transform(cents, c -> named_struct(
      |    'cid', c.cent_id,
      |    'cs', CAST(vec_dot_fixed(embedding, c.ce) AS DOUBLE) / (sqrt(n2) * sqrt(c.cn2)))),
      |  named_struct('cid', CAST(NULL AS BIGINT), 'cs', CAST(-1e9 AS DOUBLE)),
      |  (acc, x) -> IF(x.cs > acc.cs, x, acc),
      |  acc -> acc.cid)""".stripMargin)

  /** Reference: the queries×centroids window the probe ran — each
    * vector's top-k cent_ids in rank order. */
  private def windowRef(q: DataFrame, cents: DataFrame, k: Int): Map[Long, Seq[Long]] = {
    val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cent_id"))
    q.crossJoin(cents.select(col("cent_id"), col("ce"),
        expr("CAST(vec_dot_fixed(ce, ce) AS DOUBLE)").as("cn2")))
      .select(col("vec_id"), col("cent_id"),
        (expr("CAST(vec_dot_fixed(embedding, ce) AS DOUBLE)")
          / (sqrt(col("n2")) * sqrt(col("cn2")))).as("ccos"))
      .withColumn("crk", row_number().over(w)).filter(col("crk") <= k)
      .collect().toSeq.groupBy(_.getLong(0))
      .map { case (v, rs) => v -> rs.sortBy(_.getInt(3)).map(_.getLong(1)) }
  }

  /** Per vector: (fold cell, kernel cell, kernel top-k). The kernel
    * reads the packed array reversed, so its tie rule cannot lean on
    * the array's order. */
  private def kernelVsFold(q: DataFrame, cents: DataFrame, k: Int): Seq[(Long, Any, Any, Seq[Long])] =
    q.crossJoin(packedRef(cents))
      .select(col("vec_id"), foldCell.as("fold"),
        expr("get(vec_nearest_cells(embedding, n2, reverse(cents), 1), 0)").as("cell"),
        expr(s"vec_nearest_cells(embedding, n2, cents, $k)").as("top"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.get(1), r.get(2), Option(r.getSeq[Long](3)).orNull))

  private def vectors(n: Int, dim: Int, seed: Int, elem: String): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0L until n).map(i => i -> Array.fill(dim)(rnd.nextGaussian())).toDF("vec_id", "e")
      .select(col("vec_id"), col("e").cast(s"array<$elem>").as("embedding"))
      .withColumn("n2", Vec.norm2N("embedding"))
  }

  private def centsOf(v: DataFrame, ids: Seq[Long]): DataFrame =
    v.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("cent_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ce"))

  private def assertParity(q: DataFrame, cents: DataFrame, k: Int): Int = {
    val win = windowRef(q, cents, k)
    val got = kernelVsFold(q, cents, k)
    got.foreach { case (v, fold, cell, top) =>
      assert(cell == fold, s"vec $v: kernel cell $cell, fold cell $fold")
      assert(top == win(v), s"vec $v: kernel top-$k $top, window ${win(v)}")
    }
    got.size
  }

  test("vec_nearest_cells matches the fold and the window on seeded float and double vectors") {
    GraftExtensions.ensureRegistered(spark)
    Seq("float" -> 11, "double" -> 12).foreach { case (elem, seed) =>
      val v = vectors(300, 16, seed, elem)
      val cents = centsOf(v, Seq(3L, 17L, 40L, 41L, 77L, 90L, 123L, 200L, 250L, 299L))
      Seq(1, 3, 10).foreach(k => assert(assertParity(v, cents, k) == 300, s"$elem k=$k"))
    }
  }

  test("vec_nearest_cells breaks exact cosine ties to the lowest cent_id, as both references did") {
    GraftExtensions.ensureRegistered(spark)
    val v = vectors(120, 8, 21, "float")
    val base = centsOf(v, Seq(5L, 9L, 30L, 64L))
    // every centroid planted twice more under higher ids: each vector's
    // best cosine is a three-way exact tie
    val cents = base.union(base.withColumn("cent_id", col("cent_id") + 1000))
      .union(base.withColumn("cent_id", col("cent_id") + 500))
    assertParity(v, cents, 4)
    val cells = kernelVsFold(v, cents, 1).map(_._3.asInstanceOf[Long]).toSet
    assert(cells.nonEmpty && cells.subsetOf(Set(5L, 9L, 30L, 64L)), s"a tie went above the lowest id: $cells")
  }

  test("vec_nearest_cells on real embeddings and trained centroids: k above the centroid count ranks them all") {
    GraftExtensions.ensureRegistered(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
      .withColumn("n2", Vec.norm2N("embedding"))
    val cents = graft.operators.Similarity.trainIndex(spark, sf)
    val nc = cents.count().toInt
    assert(assertParity(e, cents, nc + 5) > 0)
    assert(kernelVsFold(e.limit(5), cents, nc + 5).forall(_._4.size == nc))
  }

  test("vec_nearest_cells: NULL vectors, NULL elements and an empty centroid array") {
    GraftExtensions.ensureRegistered(spark)
    val v = vectors(60, 8, 31, "double")
    // NULL elements in every third vector: the kernel reads them as vec_dot_fixed does
    val holes = v.select(col("vec_id"),
        expr("transform(embedding, (x, i) -> IF(vec_id % 3 = 0 AND i % 4 = 1, CAST(NULL AS DOUBLE), x))")
          .as("embedding"))
      .withColumn("n2", Vec.norm2N("embedding"))
    val cents = centsOf(v, Seq(1L, 2L, 8L, 13L, 50L))
    assertParity(holes, cents, 3)
    // a NULL embedding: a NULL cell from the kernel and the fold alike;
    // the window gave it rows, the kernel gives no probe (pinned)
    val nulls = holes.select(col("vec_id"), when(col("vec_id") < 4, lit(null)).otherwise(col("embedding"))
      .as("embedding")).withColumn("n2", Vec.norm2N("embedding"))
    val got = kernelVsFold(nulls, cents, 3)
    got.filter(_._1 < 4).foreach { case (id, fold, cell, top) =>
      assert(fold == null && cell == null && top == null, s"vec $id")
    }
    assert(windowRef(nulls, cents, 3)(0L).size == 3, "the window gave a NULL vector nprobe rows")
    // no centroids: NULL cell (as the fold) and no probe rows (as the window)
    val none = kernelVsFold(v, cents.filter(lit(false)), 2)
    assert(none.size == 60 && none.forall(r => r._2 == null && r._3 == null && r._4 == Seq.empty))
    assert(windowRef(v, cents.filter(lit(false)), 2).isEmpty)
  }

  test("vec_nearest_cells: a zero norm raises DIVIDE_BY_ZERO under ANSI as the fold did, and ranks nowhere without it") {
    GraftExtensions.ensureRegistered(spark)
    def condition(t: Throwable): Option[String] = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .collectFirst { case s: SparkThrowable if s.getCondition != null => s.getCondition }
    def query(s: SparkSession, zeroVec: Boolean) = {
      val v = s.createDataFrame(Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 0.0)), (3L, Array(0.0, 2.0))))
        .toDF("vec_id", "embedding").withColumn("n2", Vec.norm2N("embedding"))
      val q = if (zeroVec) v.filter(col("vec_id") === 2L) else v.filter(col("vec_id") =!= 2L)
      // a zero vector against real centroids, or real vectors against a zero centroid
      val cents = v.filter(if (zeroVec) col("vec_id") =!= 2L else lit(true))
        .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
      q.crossJoin(packedRef(cents))
    }
    Seq(true, false).foreach { zeroVec =>
      Seq(foldCell, expr("get(vec_nearest_cells(embedding, n2, cents, 1), 0)")).foreach { c =>
        val e = intercept[Throwable](query(spark, zeroVec).select(c).collect())
        assert(condition(e).contains("DIVIDE_BY_ZERO"), s"zeroVec=$zeroVec: $e")
      }
    }
    val lax = spark.newSession()
    lax.conf.set("spark.sql.ansi.enabled", "false")
    GraftExtensions.ensureRegistered(lax)
    // without ANSI the zero divisor's cosine is NULL: the fold skipped
    // it and so does the kernel — the zero vector gets no cell, and a
    // zero centroid is never picked
    val zv = query(lax, zeroVec = true)
      .select(foldCell.as("fold"), expr("vec_nearest_cells(embedding, n2, cents, 3)").as("top")).collect()
    assert(zv.map(r => (r.get(0), r.getSeq[Long](1))).toSeq == Seq((null, Seq.empty)))
    val zc = query(lax, zeroVec = false)
      .select(col("vec_id"), foldCell.as("fold"), expr("vec_nearest_cells(embedding, n2, cents, 3)").as("top"))
      .collect().map(r => (r.getLong(0), r.get(1), r.getSeq[Long](2))).sortBy(_._1).toSeq
    assert(zc == Seq((1L, 1L, Seq(1L, 3L)), (3L, 3L, Seq(3L, 1L))), zc)
  }

  test("IVF serve: a NULL-embedding query probes no cell and gets no neighbours") {
    GraftExtensions.ensureRegistered(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")
      .withColumn("n2", Vec.norm2N("embedding"))
    val qv = e.filter(col("vec_id") < 3).union(
      e.filter(col("vec_id") === 3).select(lit(-1L).as("vec_id"),
        lit(null).cast(e.schema("embedding").dataType).as("embedding"), lit(null).cast("double").as("n2")))
    val got = graft.operators.Similarity.servePanel(e, qv, graft.operators.Similarity.trainIndex(spark, sf), 2)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 1L, 2L), s"queries answered: $got")
  }
}

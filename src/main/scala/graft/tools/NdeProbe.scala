package graft.tools

import org.apache.spark.sql.functions._

/** Scratch: decompose the near-dup pair pipeline's cost at a given SF —
  * candidate counts per generator and timed sub-stages. */
object NdeProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.get()
    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"NDE $tag ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val arr = timed("shingleArrays.ck")(
      graft.operators.Dedup.shingleArrays(spark, dir).localCheckpoint(true))
    println("NDE docs=" + arr.count() +
      " shingles=" + arr.select(sum(size(col("ss")))).collect()(0).get(0))
    val sig = arr.select(col("doc_id"), expr("minhash_sig(ss)").as("sig"))
    timed("minhash_sig")(sig.write.format("noop").mode("overwrite").save())
    val bands = sig.select(col("doc_id"),
        xxhash64((0 to 3).map(i => element_at(col("sig"), i + 1)): _*).as("bk"))
      .unionAll(sig.select(col("doc_id"),
        xxhash64((4 to 7).map(i => element_at(col("sig"), i + 1)): _*).as("bk")))
    val candMh = bands.as("x").join(bands.as("y"), col("x.bk") === col("y.bk"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
    println("NDE candMh=" + timed("candMh.count")(candMh.count()))
    val sh = arr.select(col("doc_id"), explode(col("ss")).as("s"))
    val rareSh = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 20 && col("df") >= 2).select("s")
    println("NDE rareShingles=" + rareSh.count())
    val idx = sh.join(broadcast(rareSh), "s")
    val candRare = idx.as("x").join(idx.as("y"), col("x.s") === col("y.s"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
    println("NDE candRare=" + timed("candRare.count")(candRare.count()))
    val cand = candMh.unionAll(candRare).groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
    println("NDE candDistinct=" + timed("cand.count")(cand.count()))
    spark.stop()
  }
}

import org.apache.spark.sql.functions._

/** Bucket census: band-key bucket sizes and replica spread. */
object NdeProbe2 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.get()
    val arr = graft.operators.Dedup.shingleArrays(spark, dir).localCheckpoint(true)
    val sig = arr.select(col("doc_id"), expr("minhash_sig(ss)").as("sig"))
    val bands = sig.select(col("doc_id"),
        xxhash64((0 to 3).map(i => element_at(col("sig"), i + 1)): _*).as("bk"))
      .unionAll(sig.select(col("doc_id"),
        xxhash64((4 to 7).map(i => element_at(col("sig"), i + 1)): _*).as("bk")))
    val b = bands.groupBy("bk").agg(count(lit(1)).as("n"),
      countDistinct(expr("doc_id div 1000000000")).as("nrep"))
    b.orderBy(col("n").desc).show(10, false)
    println("NDE2 buckets=" + b.count() +
      " sumSq=" + b.agg(sum(col("n") * col("n"))).collect()(0).get(0))
    println("NDE2 crossRepBuckets=" + b.filter(col("nrep") > 1).count())
    println("NDE2 distinctShingleUniverse=" +
      arr.select(explode(col("ss"))).distinct().count())
    spark.stop()
  }
}

/** Size-gate / class-dedup estimate over the band candidates. */
object NdeProbe3 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.get()
    val arr = graft.operators.Dedup.shingleArrays(spark, dir).localCheckpoint(true)
    println("NDE3 docs=" + arr.count())
    println("NDE3 classes=" + arr.select(md5(to_json(col("ss")))).distinct().count())
    val sig = arr.select(col("doc_id"), size(col("ss")).as("n"), expr("minhash_sig(ss)").as("sig"))
    val bands = sig.select(col("doc_id"), col("n"),
        xxhash64((0 to 3).map(i => element_at(col("sig"), i + 1)): _*).as("bk"))
      .unionAll(sig.select(col("doc_id"), col("n"),
        xxhash64((4 to 7).map(i => element_at(col("sig"), i + 1)): _*).as("bk")))
    val cand = bands.as("x").join(bands.as("y"), col("x.bk") === col("y.bk"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .groupBy("id_a", "id_b").agg(max("na").as("na"), max("nb").as("nb"))
    val t = graft.operators.Dedup.MinhashJ
    println("NDE3 candDistinct=" + cand.count())
    println("NDE3 candSizeGate=" + cand.filter(
      least(col("na"), col("nb")).cast("double") >=
        lit(t) * greatest(col("na"), col("nb"))).count())
    spark.stop()
  }
}

/** Time + explain the full near-dup edge pipeline (q57.pairs) and its
  * verify stage in isolation. */
object NdeProbe4 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/herodata/sf1")
    val spark = graft.GraftSession.get()
    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"NDE4 $tag ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    timed("shingleArrays.ck")(
      graft.operators.Dedup.shingleArrays(spark, dir).localCheckpoint(true)).unpersist(false)
    (1 to 2).foreach { r =>
      val e = graft.operators.Dedup.nearDupEdges(spark, dir)
      timed(s"nearDupEdges.noop.$r")(e.write.format("noop").mode("overwrite").save())
    }
    spark.stop()
  }
}

/** Decompose the HEAD nearDupEdges shape: candidates-only vs +verify. */
object NdeProbe5 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/herodata/sf1")
    val spark = graft.GraftSession.get()
    graft.plans.GraftExtensions.ensureRegistered(spark)
    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"NDE5 $tag ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val arr = timed("arr.ck")(
      graft.operators.Dedup.shingleArrays(spark, dir).localCheckpoint(true))
    val sig = arr.select(col("doc_id"), expr("minhash_sig(ss)").as("sig"))
    val bands = sig.select(col("doc_id"),
        xxhash64((0 to 3).map(i => element_at(col("sig"), i + 1)): _*).as("bk"))
      .unionAll(sig.select(col("doc_id"),
        xxhash64((4 to 7).map(i => element_at(col("sig"), i + 1)): _*).as("bk")))
    val candMh = bands.as("x").join(bands.as("y"), col("x.bk") === col("y.bk"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
    val par = spark.sparkContext.defaultParallelism
    (1 to 2).foreach { r =>
      timed(s"candMh.repart.noop.$r")(candMh.repartition(par)
        .write.format("noop").mode("overwrite").save())
    }
    val docArr = arr.select(col("doc_id"), col("ss"), size(col("ss")).cast("long").as("n"))
    val joined = candMh.repartition(par)
      .join(docArr.select(col("doc_id").as("id_a"), col("ss").as("sa"), col("n").as("na")), "id_a")
      .join(docArr.select(col("doc_id").as("id_b"), col("ss").as("sb"), col("n").as("nb")), "id_b")
    (1 to 2).foreach { r =>
      timed(s"join.only.noop.$r")(joined.select(col("id_a"), col("id_b"), col("na"), col("nb"))
        .write.format("noop").mode("overwrite").save())
    }
    val ver = joined.withColumn("i", expr("inter_count(sa, sb)"))
      .select(col("id_a"), col("id_b"), col("i"), col("na"), col("nb"))
    (1 to 2).foreach { r =>
      timed(s"verify.noop.$r")(ver.write.format("noop").mode("overwrite").save())
    }
    spark.stop()
  }
}

/** q57 tail decomposition: CC + keeper aggregate over prebuilt pairs. */
object NdeProbe6 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/herodata/sf1")
    val spark = graft.GraftSession.get()
    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"NDE6 $tag ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val pairs = timed("pairs.ck")(
      graft.operators.Dedup.nearDupEdges(spark, dir).localCheckpoint(true))
    println("NDE6 nPairs=" + pairs.count())
    val lbl = timed("cc")(graft.operators.Cc.labels(
      pairs.select(col("id_a").as("u"), col("id_b").as("v")),
      graft.GraftConfig.default).localCheckpoint(true))
    println("NDE6 nLbl=" + lbl.count())
    val full = timed("q57.full")(graft.operators.Dedup.q57DedupFamilies(spark, dir)
      .write.format("noop").mode("overwrite").save())
    spark.stop()
  }
}

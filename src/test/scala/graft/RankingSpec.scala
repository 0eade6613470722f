package graft

import graft.operators.{Ranking, RankingOps, Sketch, Similarity}
import org.apache.spark.sql.functions._

/** Term ranking (q87 tf-idf, q90 bm25), Count-Min sketch (q88), and int8
  * quantization (q89): semantics on hand corpora + invariants on real data. */
class RankingSpec extends GraftSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("ranking").toString
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q87: rare term outranks common term; ties break by token asc") {
    val dir = docs(
      0L -> "common rare common",
      1L -> "common common",
      2L -> "common zebra")
    val top = Ranking.q87Tfidf(spark, dir)
      .filter(col("rk") === 1).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // 'rare' (df 1) beats 'common' (df 3) in doc 0 despite tf 2 for common:
    // common: 2*(4/4)=2.0 < rare: 1*(4/2)=2.0 — tie! token asc → 'common'.
    // Use the df gap harder: doc 2 'zebra' df1 tf1 = 2.0 vs common 1.0.
    assert(top(2L) == "zebra")
    assert(top(1L) == "common")
  }

  test("q87: emits at most top-k rows per doc with dense ranks 1..k") {
    val out = Ranking.q87Tfidf(spark, sf).cache()
    try {
      val perDoc = out.groupBy("doc_id").agg(count(lit(1)).as("n"),
        min("rk").as("lo"), max("rk").as("hi"))
      assert(perDoc.filter(col("n") > Ranking.TfidfTopK).count() == 0)
      assert(perDoc.filter(col("lo") =!= 1 || col("hi") =!= col("n")).count() == 0)
    } finally out.unpersist()
  }

  test("q90: score saturates below k1+1 and grows with tf at fixed dl") {
    val dir = docs(
      0L -> "spark spark spark spark other words here",
      1L -> "spark filler filler filler filler stuff uh")
    val rows = Ranking.q90Bm25(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(4)).toMap
    val hi = rows((0L, "spark")) // tf 4, dl 7
    val lo = rows((1L, "spark")) // tf 1, dl 7
    assert(hi > lo && hi < Ranking.K1 + 1.0 && lo > 0.0)
  }

  test("q90: only docs containing a query term appear") {
    val out = Ranking.q90Bm25(spark, sf)
    assert(out.filter(col("tf") <= 0).count() == 0)
    assert(out.filter(!col("token").isin(Ranking.Terms: _*)).count() == 0)
  }

  test("q88: sketch estimate is an upper bound that equals truth absent collisions") {
    val out = Sketch.q88Countmin(spark, sf).collect()
    assert(out.length == Sketch.CmHeavyK)
    out.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"cm_est ${r.getLong(2)} < true ${r.getLong(1)} for ${r.getString(0)}")
    }
  }

  test("q88: estimates are exact on a collision-free tiny vocabulary") {
    val dir = docs(0L -> "x x x y y z")
    val got = Sketch.q88Countmin(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map("x" -> (3L, 3L), "y" -> (2L, 2L), "z" -> (1L, 1L)))
  }

  test("q95: streaming sketch equals the batch sketch after the bounded replay drains") {
    val streamed = Sketch.q95StreamCountmin(spark, sf)
    val batch = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .select(explode(array((0 until Sketch.CmRows).map(r => struct(lit(r).as("r"),
        substring(md5(concat(lit(s"$r:"), col("token"))), 1, Sketch.CmHexChars).as("b"))): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("q205 quantile sketch: union sketch equals the per-bucket count-SUM merge of shard sketches") {
    // shard the real orders by key parity into two temp corpora; the
    // full sf dir IS the union — merge must reproduce it bucket-exactly
    def shard(rem: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"qsk$rem").toString
      spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderkey") % 2 === rem)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      dir
    }
    type K = (String, Long, Long, Long, Long)
    def sk(dir: String): Map[K, Long] = Sketch.q205QuantileSketch(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ->
        r.getLong(5)).toMap
    val (sa, sb) = (sk(shard(0)), sk(shard(1)))
    val merged = (sa.keySet ++ sb.keySet).map(k =>
      k -> (sa.getOrElse(k, 0L) + sb.getOrElse(k, 0L))).toMap
    assert(sk(sf) == merged)
  }

  test("q206 quantile eval: exact percentile always inside its bucket; width ≤ 2^-k relative") {
    val rows = Sketch.q206QuantileEval(spark, sf).collect()
    assert(rows.length ==
      spark.read.parquet(s"$sf/orders.parquet").select("o_orderpriority").distinct().count()
        * GraftConfig.percentileLevels.length)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("in_bounds"), s"exact value escaped its bucket: $r")
      val lo = r.getAs[Long]("lo100"); val hi = r.getAs[Long]("hi100")
      val width = hi - lo + 1
      assert(width == 1 || width * (1L << GraftConfig.quantileSketchBits) <= lo,
        s"bucket wider than the 2^-k relative guarantee: $r")
    }
  }

  test("q207 streaming quantile sketch drains bit-equal to batch q205") {
    val streamed = Sketch.q207StreamQuantile(spark, sf)
    val batch = Sketch.q205QuantileSketch(spark, sf)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("q96: registers of a union equal the element-wise max-merge of the parts") {
    val a = docs(0L -> "alpha beta gamma delta", 1L -> "epsilon zeta eta")
    val b = docs(0L -> "beta theta iota", 1L -> "kappa alpha mu nu xi")
    val u = docs(
      0L -> "alpha beta gamma delta", 1L -> "epsilon zeta eta",
      2L -> "beta theta iota", 3L -> "kappa alpha mu nu xi")
    def regs(dir: String) = Sketch.q96HllRegisters(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (ra, rb, ru) = (regs(a), regs(b), regs(u))
    val merged = (ra.keySet ++ rb.keySet).map(k =>
      k -> math.max(ra.getOrElse(k, 0L), rb.getOrElse(k, 0L))).toMap
    assert(ru == merged)
  }

  test("q224: inclusion-exclusion lands near the true overlap in the sketch's regime") {
    // two sources with 10k-token vocabularies overlapping in 7k tokens —
    // cardinalities ≫ m = 256, squarely in the raw-estimator regime the
    // operator contracts for (sf-corpus vocabularies are far below it,
    // which is why the real-data rel_err column reads large there)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hlloverlap").toString
    def text(lo: Int, hi: Int) = (lo until hi).map(i => s"t$i").mkString(" ")
    Seq((0L, text(0, 10000), "en", "A", 1L), (1L, text(3000, 13000), "en", "B", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Sketch.q224HllOverlap(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("exact_overlap") == 7000L)
    val relErr = row.getAs[Double]("rel_err")
    // deterministic hash → fixed error; 1σ per estimate is 6.5%, the
    // overlap difference amplifies it by ~|U|+|A|+|B| over |A∩B| — pin
    // a bound with margin over the measured fixed value
    assert(math.abs(relErr) < 0.35, s"rel_err=$relErr")
    // structural sketch-algebra bounds: max-merged union registers can
    // only raise the estimate above either part, so the implied overlap
    // never exceeds either side
    assert(row.getAs[Double]("est_union") >=
      math.max(row.getAs[Double]("est_a"), row.getAs[Double]("est_b")))
    assert(row.getAs[Double]("est_overlap") <=
      math.min(row.getAs[Double]("est_a"), row.getAs[Double]("est_b")))
  }

  test("q224 real corpus: one row per source pair, structural bounds hold on every row") {
    val rows = Sketch.q224HllOverlap(spark, sf).collect()
    val s = spark.read.parquet(s"$sf/documents.parquet")
      .select("source").distinct().count()
    assert(rows.length == s * (s - 1) / 2)
    rows.foreach { r =>
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
      assert(r.getAs[Double]("est_union") >=
        math.max(r.getAs[Double]("est_a"), r.getAs[Double]("est_b")))
      // exact in the reals; the float a+b−u chain can overshoot the
      // min by a few ulps when the register sets coincide
      val minEst = math.min(r.getAs[Double]("est_a"), r.getAs[Double]("est_b"))
      assert(r.getAs[Double]("est_overlap") <= minEst * (1.0 + 1e-12))
      assert(r.getAs[Long]("present_a") >= 1L && r.getAs[Long]("present_b") >= 1L)
    }
  }

  test("q264: identical split vocabularies collapse every union to the single estimate") {
    // pick doc ids landing in each md5 split bucket and give them the
    // SAME text: every union's register set equals every single's, so
    // est_union_* == est_train == est_val == est_test and the
    // inclusion–exclusion algebra collapses to est_overlap3 == est_train
    import spark.implicits._
    val cfg = GraftConfig.default
    def grp(id: Long): String = {
      val b = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString
      if (b < cfg.splitTrainUpper) "train"
      else if (b < GraftConfig.splitValUpper) "val" else "test"
    }
    val ids = (0L until 512L).toList
    val tr = ids.find(grp(_) == "train").get
    val va = ids.find(grp(_) == "val").get
    val te = ids.find(grp(_) == "test").get
    val dir = java.nio.file.Files.createTempDirectory("hlltriple").toString
    val text = (0 until 2000).map(i => s"w$i").mkString(" ")
    Seq(tr, va, te).map(id => (id, text, "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Sketch.q264HllTriple(spark, dir).collect().head
    val e = r.getAs[Double]("est_train")
    Seq("est_val", "est_test", "est_union_trainval", "est_union_traintest",
      "est_union_valtest", "est_union_all").foreach(c =>
      assert(r.getAs[Double](c) == e, s"$c must equal est_train"))
    assert(math.abs(r.getAs[Double]("est_overlap3") - e) < 1e-6 * e)
    assert(r.getAs[Long]("exact_overlap3") == 2000L)
  }

  test("q264 real corpus: structural sketch-algebra bounds on the one-row triple") {
    val r = Sketch.q264HllTriple(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val singles = Seq("est_train", "est_val", "est_test").map(row.getAs[Double])
    // every union's registers dominate each member's → union est ≥ member est
    assert(row.getAs[Double]("est_union_trainval") >= math.max(singles(0), singles(1)))
    assert(row.getAs[Double]("est_union_traintest") >= math.max(singles(0), singles(2)))
    assert(row.getAs[Double]("est_union_valtest") >= math.max(singles(1), singles(2)))
    Seq("est_union_trainval", "est_union_traintest", "est_union_valtest").foreach(c =>
      assert(row.getAs[Double]("est_union_all") >= row.getAs[Double](c)))
    assert(row.getAs[Long]("exact_overlap3") > 0L,
      "sf corpus shares tokens across all three splits — the eval must not be vacuous")
    Seq("present_train", "present_val", "present_test").foreach(c =>
      assert(row.getAs[Long](c) >= 1L))
  }

  test("q225: CMS inner product is exact on a collision-free key set and never underestimates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("joincard").toString
    Seq(1L, 1L, 1L, 2L, 2L, 3L).zipWithIndex.map { case (u, i) =>
      (i.toLong, u, "click", 0.0)
    }.toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts", expr("timestamp_millis(event_id * 1000)"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq(1L, 2L, 4L).toDF("c_custkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = Sketch.q225JoinCardinality(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // Σf² = 9 + 4 + 1; events⋈customer matches users 1 (×3) and 2 (×2);
    // 4 distinct keys over 256 buckets hash collision-free here, so the
    // deterministic sketch is exact, not just an upper bound
    assert(got("events_self") == ((14L, 14L)), s"got ${got("events_self")}")
    assert(got("events_customer") == ((5L, 5L)), s"got ${got("events_customer")}")
  }

  test("q225 real corpus: the estimate upper-bounds the true join size on every row") {
    Sketch.q225JoinCardinality(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) >= r.getLong(2),
        s"${r.getString(0)}: cm_est ${r.getLong(1)} < exact ${r.getLong(2)}")
      assert(r.getLong(2) > 0, s"${r.getString(0)}: eval is vacuous with exact = 0")
    }
  }

  test("hllEstimate: within 3 standard errors of the true distinct count on real data") {
    val regs = Sketch.q96HllRegisters(spark, sf)
    val est = Sketch.hllEstimate(regs)
    val truth = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "").select("t").distinct().count().toDouble
    // HLL standard error 1.04/sqrt(m); m = 16^CmHexChars = 256 → 6.5%
    val m = math.pow(16.0, Sketch.CmHexChars)
    val tol = 3.0 * 1.04 / math.sqrt(m)
    assert(math.abs(est - truth) <= tol * truth,
      s"est=$est truth=$truth tol=${tol * truth}")
  }

  test("hllEstimate: small-range linear counting lands near an exact tiny vocab") {
    val dir = docs(0L -> "alpha beta gamma", 1L -> "beta delta")
    val est = Sketch.hllEstimate(Sketch.q96HllRegisters(spark, dir))
    assert(est >= 2.0 && est <= 8.0, s"est=$est for 4 distinct tokens")
  }

  test("hllEstimate: deterministic across evaluations (fixed fold order)") {
    val regs = Sketch.q96HllRegisters(spark, sf)
    assert(Sketch.hllEstimate(regs) == Sketch.hllEstimate(regs))
  }

  test("q139: grouped registers — per-source sketch equals q96 run on that source alone") {
    val all = Sketch.q139GroupHll(spark, sf).cache()
    try {
      val srcs = all.select("source").distinct().collect().map(_.getString(0))
      assert(srcs.length > 1)
      // a group's registers must be exactly the corpus sketch of its slice
      val one = srcs.min
      val slice = spark.read.parquet(s"$sf/documents.parquet")
        .filter(col("source") === one)
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .select(md5(col("token")).as("h"))
      // compare via the element-max merge identity: merging the group's
      // registers into the whole-corpus sketch must be a no-op
      val corpus = Sketch.q96HllRegisters(spark, sf)
      val over = all.filter(col("source") === one)
        .select(col("bucket"), col("max_rho").as("g"))
        .join(corpus, "bucket")
        .filter(col("g") > col("max_rho")).count()
      assert(over == 0, "a group register exceeded the corpus register")
      assert(slice.count() > 0)
    } finally all.unpersist()
  }

  test("hllEstimateByKey: per-source estimates within 3 standard errors, deterministic") {
    val regs = Sketch.q139GroupHll(spark, sf)
    val est = Sketch.hllEstimateByKey(regs, "source").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val truth = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "").distinct()
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val m = math.pow(16.0, Sketch.CmHexChars)
    val tol = 3.0 * 1.04 / math.sqrt(m)
    truth.foreach { case (s, t) =>
      assert(math.abs(est(s) - t) <= tol * t, s"source=$s est=${est(s)} truth=$t") }
    val again = Sketch.hllEstimateByKey(regs, "source").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(again == est)
  }

  test("q147: streaming HLL drain equals the batch register table bit-for-bit") {
    val stream = Sketch.q147StreamHll(spark, sf)
    val batch = Sketch.q96HllRegisters(spark, sf)
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
    assert(batch.count() > 0)
  }

  test("q89: codes bounded by ±127, max-magnitude element hits exactly 127") {
    val out = Similarity.q89Quantize(spark, sf).collect()
    assert(out.length > 0)
    out.foreach { r =>
      val codes = r.getString(2).split(",").map(_.toLong)
      assert(codes.forall(c => c >= -127 && c <= 127))
      if (r.getDouble(1) > 0.0) assert(codes.map(math.abs).max == 127L)
    }
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("q156: every inserted key's positions are set; words are 32-bit; n_set = bit_count") {
    val dir = docs(1L -> "alpha beta", 2L -> "gamma delta", 3L -> "alpha beta")
    val bySource = Sketch.q156BloomBuild(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
    bySource.foreach { case (wi, bits, nset) =>
      assert(wi >= 0 && wi < Sketch.BloomBits / 32)
      assert((bits >>> 32) == 0L, "words must stay within 32 bits")
      assert(java.lang.Long.bitCount(bits) == nset)
    }
    val bitsByWord = bySource.map { case (wi, b, _) => wi -> b }.toMap
    Seq("alpha beta", "gamma delta").foreach { text =>
      val h = md5Hex(text)
      (0 until Sketch.BloomHashes).foreach { j =>
        val pos = java.lang.Long.parseLong(h.substring(j * 8, j * 8 + 8), 16) % Sketch.BloomBits
        val bit = 1L << (pos % 32).toInt
        assert((bitsByWord.getOrElse(pos / 32, 0L) & bit) != 0L,
          s"position $pos of '$text' must be set")
      }
    }
  }

  test("q173: streaming bloom drain equals the batch filter bit-for-bit") {
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getInt(3)))).toMap
    assert(keyed(Sketch.q173StreamBloom(spark, sf)) == keyed(Sketch.q156BloomBuild(spark, sf)))
  }

  test("q174: bloom-guarded verdict equals the plain anti join for every delta doc") {
    val got = Sketch.q174BloomGuardedDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("b", substring(md5(col("doc_id").cast("string")), 1, 2))
      .withColumn("key", md5(col("text")))
    val baseKeys = d.filter(col("b") < GraftConfig.default.splitTrainUpper)
      .select("key").collect().map(_.getString(0)).toSet
    val expected = d.filter(col("b") >= GraftConfig.default.splitTrainUpper)
      .select("doc_id", "key").collect()
      .map(r => r.getLong(0) -> !baseKeys.contains(r.getString(1))).toMap
    assert(got.map(g => g._1 -> g._3).toMap == expected,
      "the bloom guard must not change a single verdict")
    // a confirmed duplicate can only come off the bloom-hit path
    assert(got.filter(!_._3).forall(_._2), "every duplicate must have hit the filter")
  }

  test("q157: a true duplicate can never miss (no false negatives), counts reconcile") {
    val cfgd = GraftConfig.default
    // place ids on the two sides of the md5(doc_id) split deterministically
    val ids = (1L to 200L)
    val trainIds = ids.filter(i => md5Hex(i.toString).substring(0, 2) < cfgd.splitTrainUpper)
    val evalIds = ids.filter(i => md5Hex(i.toString).substring(0, 2) >= cfgd.splitTrainUpper)
    assert(trainIds.nonEmpty && evalIds.size >= 2)
    // eval doc #1 duplicates a train doc's text; eval doc #2 is novel
    val rows = Seq(trainIds.head -> "shared corpus text",
      evalIds.head -> "shared corpus text",
      evalIds(1) -> "completely novel text")
    val dir = docs(rows: _*)
    val r = Sketch.q157BloomProbe(spark, dir).collect().head
    val (probes, hits, ntrue, nfp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(probes == 2L && ntrue == 1L)
    assert(hits - nfp == ntrue, "every true duplicate must hit the filter")
  }

  test("q234: two-pass heavy hitters are exact at the threshold boundary, est >= true") {
    val ops = new graft.operators.SketchOps(GraftConfig(cmHeavyMin = 3))
    // "a b" x3 (heavy, == threshold), "b a" x2 (below), "c d" x1
    val dir = docs(0L -> "a b a b a b", 1L -> "c d")
    val got = ops.q234HeavyHitters(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.map(t => (t._1, t._2)).toSet == Set(("a b", 3L)),
      s"exact threshold semantics: count==T in, count==T-1 out; got ${got.toSeq}")
    got.foreach(t => assert(t._3 >= t._2, "CMS estimate must never undercount"))
  }

  test("q256: expansion terms come from feedback docs and surface docs the base query missed") {
    val ops = new graft.operators.RankingOps(GraftConfig(
      bm25Terms = Seq("apple"), prfFeedbackDocs = 1, prfExpandTerms = 1, rrfPoolK = 10))
    val dir = docs(
      1L -> "apple banana banana",
      2L -> "apple apple cherry", // strongest apple doc -> the feedback doc
      3L -> "cherry cherry cherry") // invisible to the base query
    val got = ops.q256PrfExpansion(spark, dir).collect()
      .map(r => r.getLong(1) -> ((r.getInt(0), r.getLong(2), r.getLong(3)))).toMap
    // expansion term = d2's top non-query token ("cherry") -> d3 enters
    val (_, d3exp, d3base) = got(3L)
    assert(d3base == 0L, "d3 never matched the base query")
    assert(d3exp > 0L, "the expanded query must reach d3 — that's the recall gain")
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got.values.map(_._1).toSeq.sorted == Seq(1, 2, 3), "dense distinct ranks")
  }

  test("q252: max-merged trailing registers count the window's union of users exactly") {
    import spark.implicits._
    val ops = new graft.operators.SketchOps(GraftConfig(rollingQuantileDays = 2))
    val DayMs = 86400000L
    val dir = java.nio.file.Files.createTempDirectory("rolldau").toString
    Seq((1L, 10L, 1L), (2L, 10L, 2L), (3L, 11L, 2L), (4L, 11L, 3L))
      .map { case (id, d, u) => (id, new java.sql.Timestamp(d * DayMs), u, "view", 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = ops.q252RollingDistinct(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    // day 10 sees {1,2}; day 11's trailing pair sees {1,2,3} — distinct
    // users do NOT sum across days (2 + 2 ≠ 3), the merge must union
    assert(got(10L)._2 == 2L && got(11L)._2 == 3L)
    got.values.foreach { case (present, exact) =>
      assert(present >= 1 && present <= exact,
        "each user occupies at most one register")
    }
  }

  test("q266: the triplet nests (DAU ⊆ WAU ⊆ MAU) and windows union, never sum") {
    import spark.implicits._
    val DayMs = 86400000L
    val dir = java.nio.file.Files.createTempDirectory("triplet").toString
    // user 1 active days 10,11; user 2 day 11; user 3 day 30 — day 11's
    // WAU unions {1,2} with day 10's {1} (2+1 ≠ 2), day 30's MAU does
    // NOT reach back past its 28-day window's start (day 3): it sees
    // only {3} plus days 10/11 (within [3, 30]) → {1,2,3}
    Seq((1L, 10L, 1L), (2L, 11L, 1L), (3L, 11L, 2L), (4L, 30L, 3L))
      .map { case (id, d, u) => (id, new java.sql.Timestamp(d * DayMs), u, "view", 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Sketch.q266ActiveUsers(spark, dir).collect()
      .map(r => r.getAs[Long]("day") ->
        ((r.getAs[Long]("dau_exact"), r.getAs[Long]("wau_exact"), r.getAs[Long]("mau_exact")))).toMap
    assert(got(10L) == ((1L, 1L, 1L)))
    assert(got(11L) == ((2L, 2L, 2L))) // union {1,2}, not 1+2=3... but {1} ∪ {1,2} = {1,2}
    assert(got(30L) == ((1L, 1L, 3L))) // MAU reaches days 10/11 → {1,2,3}
  }

  test("q266 real corpus: estimates and exacts both nest; regime exposure travels") {
    val rows = Sketch.q266ActiveUsers(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("dau_exact") <= r.getAs[Long]("wau_exact"))
      assert(r.getAs[Long]("wau_exact") <= r.getAs[Long]("mau_exact"))
      // wider windows only raise registers → estimates nest too
      assert(r.getAs[Double]("dau_est") <= r.getAs[Double]("wau_est") * (1 + 1e-12))
      assert(r.getAs[Double]("wau_est") <= r.getAs[Double]("mau_est") * (1 + 1e-12))
      assert(r.getAs[Long]("present_dau") <= r.getAs[Long]("present_wau") &&
        r.getAs[Long]("present_wau") <= r.getAs[Long]("present_mau"))
    }
  }

  test("q277: min-max fusion is bounded, deterministic, and each pool's argmax normalizes to 1") {
    val rows = Ranking.q277MinmaxFusion(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= GraftConfig.rrfTopK)
    rows.foreach { r =>
      val f = r.getAs[Double]("fused")
      assert(f >= 0.0 && f <= 2.0, "two [0,1] normalizations sum to at most 2")
    }
    // determinism: a second run fuses identically
    val again = Ranking.q277MinmaxFusion(spark, sf).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
    // each pool's argmax doc normalizes to 1 on its side, so its fused
    // score is ≥ 1 — and the top-k keeps the maximum-fused row, so the
    // output maximum must clear 1 whenever any pool is non-empty
    assert(rows.map(_.getAs[Double]("fused")).max >= 1.0 - 1e-12,
      "a pool argmax (norm 1) must survive into the fused top-k")
  }

  test("q278: streaming per-day registers drain bit-equal to the batch daily sketch") {
    // batch reference: the register pipeline re-derived inline (the
    // q95 spec precedent) keyed by day over the same events
    val hex = Sketch.CmHexChars
    val sfxLen = 32 - hex
    val ev = graft.sources.Tables.events(spark, sf)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        md5(col("user_id").cast("string")).as("h"))
    val batch = ev
      .select(col("day"), substring(col("h"), 1, hex).as("bucket"),
        substring(col("h"), hex + 1, sfxLen).as("sfx"))
      .select(col("day"), col("bucket"),
        length(regexp_extract(col("sfx"), "^0*", 0)).as("z"), col("sfx"))
      .select(col("day"), col("bucket"), col("z"),
        expr("substring(sfx, z + 1, 1)").as("nib"))
      .select(col("day"), col("bucket"),
        when(col("nib") === "", lit(4 * sfxLen + 1))
          .otherwise(col("z") * 4 + lit(1) +
            when(col("nib") === "1", 3)
              .when(col("nib").isin("2", "3"), 2)
              .when(col("nib").isin("4", "5", "6", "7"), 1)
              .otherwise(0)).as("rho"))
      .groupBy("day", "bucket").agg(max(col("rho")).cast("long").as("max_rho"))
    val streamed = Sketch.q278StreamDayHll(spark, sf)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("q273: artifact-plus-delta registers reproduce q252's resketch row for row") {
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))).toSet
    val full = key(Sketch.q252RollingDistinct(spark, sf).collect())
    val merged = key(Sketch.q273RegisterLedger(spark, sf).collect())
    assert(merged == full, "the register ledger must equal the full resketch")
    assert(merged.nonEmpty)
  }

  test("q273: reads the persisted base registers (doctored artifact shifts the estimate)") {
    import spark.implicits._
    val DayMs = 86400000L
    val dir = java.nio.file.Files.createTempDirectory("hllledger").toString
    Seq((1L, 10L, 1L), (2L, 10L, 2L), (3L, 11L, 3L))
      .map { case (id, d, u) => (id, new java.sql.Timestamp(d * DayMs), u, "view", 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val before = Sketch.q273RegisterLedger(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap // day -> present
    // doctor the base-day artifact: claim day 10 saturated EVERY register
    val path = graft.sources.Scratch.keyedDir(
      "hllday_base", dir, spark, Seq("events.parquet"), s"hex=${Sketch.CmHexChars}")
    val m = 1 << (4 * Sketch.CmHexChars)
    (0 until m).map(b => (10L, f"$b%02x", 5L))
      .toDF("day", "bucket", "max_rho")
      .write.mode("overwrite").parquet(path)
    val after = Sketch.q273RegisterLedger(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before(10L) == 2L && after(10L) == m.toLong,
      "q273 must merge from the PERSISTED registers, not resketch the base days")
  }

  test("q284: mixed ledger serves both granularities; union-not-sum holds per period") {
    val P = Sketch.LedgerPeriodDays
    val rows = Sketch.q284LedgerCompact(spark, sf).collect()
    assert(rows.nonEmpty)
    val srcs = rows.map(_.getAs[String]("src")).toSet
    assert(srcs == Set("compact", "daily"),
      s"test corpus must exercise BOTH ledger granularities, got $srcs")
    // union-not-sum extended to the mixed ledger: a period's distinct
    // count is ≤ the sum of its days' distincts, strictly < whenever a
    // user is active on several days of the period
    val ev = graft.sources.Tables.events(spark, sf)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        col("user_id").cast("string").as("token"))
    val dailyDistinct = ev.distinct().groupBy(expr(s"day div $P").as("period"))
      .agg(count(lit(1)).as("sum_daily"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var strict = false
    rows.foreach { r =>
      val (p, exact) = (r.getLong(0), r.getAs[Long]("exact_users"))
      assert(exact <= dailyDistinct(p), "period distinct can never exceed the daily sum")
      if (exact < dailyDistinct(p)) strict = true
      assert(r.getAs[Double]("est_users") > 0.0 && r.getAs[Long]("present") >= 1L)
    }
    assert(strict, "corpus must exercise the strict union<sum case or the pin is vacuous")
  }

  test("q284: compacted artifact registers equal a straight-by-period resketch bitwise") {
    val P = Sketch.LedgerPeriodDays
    val hex = Sketch.CmHexChars
    val sfxLen = 32 - hex
    val ev = graft.sources.Tables.events(spark, sf)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        md5(col("user_id").cast("string")).as("h"))
    val maxDay = ev.agg(max(col("day"))).head().getLong(0)
    val curStart = (maxDay / P) * P
    // independent reference: the manual register chain (q278 spec
    // precedent) grouped straight by period over the aged days
    val expected = ev.filter(col("day") < curStart)
      .select(col("day"), substring(col("h"), 1, hex).as("bucket"),
        substring(col("h"), hex + 1, sfxLen).as("sfx"))
      .select(col("day"), col("bucket"),
        length(regexp_extract(col("sfx"), "^0*", 0)).as("z"), col("sfx"))
      .select(col("day"), col("bucket"), col("z"),
        expr("substring(sfx, z + 1, 1)").as("nib"))
      .select(expr(s"day div $P").as("period"), col("bucket"),
        when(col("nib") === "", lit(4 * sfxLen + 1))
          .otherwise(col("z") * 4 + lit(1) +
            when(col("nib") === "1", 3)
              .when(col("nib").isin("2", "3"), 2)
              .when(col("nib").isin("4", "5", "6", "7"), 1)
              .otherwise(0)).as("rho"))
      .groupBy("period", "bucket").agg(max(col("rho")).cast("long").as("max_rho"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    Sketch.q284LedgerCompact(spark, sf).collect() // ensure artifact exists
    val path = graft.sources.Scratch.keyedDir("hllperiod_base", sf, spark,
      Seq("events.parquet"), s"hex=$hex,p=$P,cs=$curStart")
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getAs[Long]("period"), r.getAs[String]("bucket"),
        r.getAs[Long]("max_rho"))).toSet
    assert(got == expected,
      "daily→period compaction must be lossless (register-max associativity)")
    assert(got.nonEmpty)
  }

  test("q284: reads the persisted super-registers (doctored artifact saturates the aged period)") {
    import spark.implicits._
    val P = Sketch.LedgerPeriodDays
    val DayMs = 86400000L
    val dir = java.nio.file.Files.createTempDirectory("hllcompact").toString
    // day 10 → period 0 (aged once day 30 exists: period 1 is current)
    Seq((1L, 10L, 1L), (2L, 10L, 2L), (3L, 30L, 3L))
      .map { case (id, d, u) => (id, new java.sql.Timestamp(d * DayMs), u, "view", 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val before = Sketch.q284LedgerCompact(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("present")).toMap
    val path = graft.sources.Scratch.keyedDir("hllperiod_base", dir, spark,
      Seq("events.parquet"), s"hex=${Sketch.CmHexChars},p=$P,cs=${(30L / P) * P}")
    val m = 1 << (4 * Sketch.CmHexChars)
    (0 until m).map(b => (0L, f"$b%02x", 5L))
      .toDF("period", "bucket", "max_rho")
      .write.mode("overwrite").parquet(path)
    val after = Sketch.q284LedgerCompact(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("present")).toMap
    assert(before(0L) == 2L && after(0L) == m.toLong,
      "q284 must serve aged periods from the PERSISTED super-registers")
  }

  test("q295: mixed quantile ledger serves both granularities; every period's exact lands in its cut bucket") {
    val rows = Sketch.q295QuantileCompact(spark, sf).collect()
    assert(rows.nonEmpty)
    val srcs = rows.map(_.getAs[String]("src")).toSet
    assert(srcs == Set("compact", "daily"),
      s"test corpus must exercise BOTH ledger granularities, got $srcs")
    val P = Sketch.LedgerPeriodDays
    val perPeriod = graft.sources.Tables.orders(spark, sf)
      .select(expr(s"(unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000) div $P").as("period"))
      .groupBy("period").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Boolean]("in_bounds"),
        s"period ${r.getLong(0)}: exact percentile escaped the cut bucket — the error bound broke")
      assert(r.getAs[Long]("n") == perPeriod(r.getLong(0)),
        "the mixed ledger's total count must equal the period's raw row count")
      assert(r.getAs[Long]("lo100") <= r.getAs[Long]("hi100"))
    }
  }

  test("q295: compacted artifact buckets equal a straight-by-period sketch bitwise (sum-mergeability)") {
    val P = Sketch.LedgerPeriodDays
    val vals = graft.sources.Tables.orders(spark, sf)
      .select(expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000").as("day"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("v"))
    val maxDay = vals.agg(max(col("day"))).head().getLong(0)
    val curStart = (maxDay / P) * P
    val k = GraftConfig.quantileSketchBits
    // independent reference: one sketch built straight over each aged
    // period (never through the daily ledger)
    val expected = vals.filter(col("day") < curStart)
      .withColumn("e", length(conv(col("v"), 10, 2)).cast("long"))
      .withColumn("d", expr(s"CAST(power(2.0, greatest(e - 1 - $k, 0)) AS BIGINT)"))
      .withColumn("m", expr("v div d"))
      .groupBy(expr(s"day div $P").as("period"), col("e"), col("m"), col("d"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("period"), col("e"), col("m"),
        (col("m") * col("d")).as("lo100"),
        ((col("m") + lit(1L)) * col("d") - lit(1L)).as("hi100"), col("cnt"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSet
    Sketch.q295QuantileCompact(spark, sf).collect() // ensure artifact exists
    val path = graft.sources.Scratch.keyedDir("qsperiod_base", sf, spark,
      Seq("orders.parquet"), s"qsk=$k,p=$P,cs=$curStart")
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getAs[Long]("period"), r.getAs[Long]("e"), r.getAs[Long]("m"),
        r.getAs[Long]("lo100"), r.getAs[Long]("hi100"), r.getAs[Long]("cnt")))
      .toSet
    assert(got == expected,
      "daily→period compaction must be lossless (bucket-count sum associativity)")
    assert(got.nonEmpty)
  }

  test("q295: reads the persisted super-buckets (doctored artifact shifts the aged period's total)") {
    import spark.implicits._
    val P = Sketch.LedgerPeriodDays
    val DayMs = 86400000L
    val dir = java.nio.file.Files.createTempDirectory("qscompact").toString
    // days 10/11 → period 0 (aged once day 30 makes period 1 current)
    Seq((10L, 100.00), (11L, 200.00), (30L, 300.00))
      .map { case (d, p) => (new java.sql.Timestamp(d * DayMs), p) }
      .toDF("o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val before = Sketch.q295QuantileCompact(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n")).toMap
    val k = GraftConfig.quantileSketchBits
    val path = graft.sources.Scratch.keyedDir("qsperiod_base", dir, spark,
      Seq("orders.parquet"), s"qsk=$k,p=$P,cs=${(30L / P) * P}")
    // doctor: one absurd-count bucket replaces the aged period's table
    Seq((0L, 1L, 0L, 0L, 0L, 999L))
      .toDF("period", "e", "m", "lo100", "hi100", "cnt")
      .write.mode("overwrite").parquet(path)
    val after = Sketch.q295QuantileCompact(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n")).toMap
    assert(before(0L) == 2L && after(0L) == 999L,
      "q295 must serve aged periods from the PERSISTED super-buckets")
  }

  test("q248: NDV estimates land near exact for key columns; tiny columns are exposed, not hidden") {
    val got = Sketch.q248NdvProfile(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set("l_orderkey", "l_partkey", "l_suppkey",
      "l_returnflag", "l_shipdate"))
    assert(got("l_returnflag")._3 == 3L) // A / N / R
    got.foreach { case (_, (present, est, exact, _)) =>
      assert(exact > 0 && est > 0 && present >= 1)
    }
    // the raw estimator is only trustworthy when most registers are
    // occupied; columns below that regime are EXPOSED by `present`, and
    // the spec checks exactly that split rather than pretending the raw
    // formula is universally accurate (q224's contract)
    val m = 1 << (4 * Sketch.CmHexChars)
    got.foreach { case (c, (present, _, _, relErr)) =>
      if (present >= (m * 9) / 10)
        assert(math.abs(relErr) < 0.3, s"$c in-regime rel_err $relErr")
    }
    assert(got("l_orderkey")._1 >= (m * 9) / 10,
      "the high-cardinality key must exercise the in-regime branch")
    assert(got("l_returnflag")._1 <= 3L && got("l_suppkey")._1 < m / 2,
      "present is the regime flag for the tiny columns")
  }

  test("q245: trailing sketch quantile brackets the exact value; gap days serve only existing data") {
    import spark.implicits._
    val ops = new graft.operators.SketchOps(
      GraftConfig(rollingQuantileDays = 2, rollingQuantileP = 50))
    val DayMs = 86400000L
    val dir = java.nio.file.Files.createTempDirectory("rollq").toString
    Seq((1L, 10L, 100.0), (2L, 11L, 200.0), (3L, 11L, 300.0), (4L, 14L, 500.0))
      .map { case (k, d, p) => (k, new java.sql.Timestamp(d * DayMs), p) }
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = ops.q245RollingQuantile(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(4), r.getBoolean(5)))).toMap
    // day 10: {100} median 100; day 11: {100,200,300} rank (3*50+99)//100=2
    // -> 200; day 14: the day-13 gap contributes nothing -> {500};
    // day 12 is not a target (no orders that day)
    assert(got.keySet == Set(10L, 11L, 14L))
    assert(got(10L) == ((1L, 10000L, true)))
    assert(got(11L) == ((3L, 20000L, true)))
    assert(got(14L) == ((1L, 50000L, true)))
  }

  test("q234: agrees with the exact full aggregate on real data (no false negatives/positives)") {
    val exact = graft.sources.Tables.documents(spark, sf)
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .withColumn("g", explode(sequence(lit(1), size(col("ws")) - 1)))
      .select(concat(element_at(col("ws"), col("g")), lit(" "),
        element_at(col("ws"), col("g") + 1)).as("bigram"))
      .groupBy("bigram").count()
      .filter(col("count") >= Sketch.cfg.cmHeavyMin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = Sketch.q234HeavyHitters(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == exact)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** The quantized serving tiers: SQ8 search/recall (q297/q298) and the
  * frozen-codebook PQ delta drift eval (q299). */
class QuantTierSpec extends GraftSpec {
  import spark.implicits._

  /** Deterministic pseudo-random int in [-127, 127] (plain LCG — no
    * Math.random in specs, reruns must be bitwise). */
  private def lcgInt(seed: Long): (Long, Int) = {
    val next = seed * 6364136223846793005L + 1442695040888963407L
    (next, ((next >>> 33) % 255).toInt - 127)
  }

  test("q297/q298: a code-exact corpus serves losslessly — SQ recall 1.0 everywhere") {
    val dir = java.nio.file.Files.createTempDirectory("sq").toString
    // components are exact multiples of amax/127 (one coordinate pinned
    // to ±127), so quantization is lossless: code_i recovers m_i
    // exactly and the code cosine ranks like the float cosine
    val vecs = (0L until 16L).map { id =>
      var s = id * 7919L + 13L
      val m = Array.fill(8) { val (n, v) = lcgInt(s); s = n; v }
      m(0) = if (id % 2 == 0) 127 else -127 // force amax = 1.0 exactly
      (id, m.map(_ / 127f).toSeq)
    }
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val top = Similarity.q297SqSearch(spark, dir).collect()
    assert(top.nonEmpty && top.forall(r => r.getInt(2) <= 5))
    val rec = Similarity.q298SqRecall(spark, dir).collect()
    assert(rec.length == 10)
    assert(rec.forall(_.getDouble(2) == 1.0),
      "lossless codes must reproduce the exact ranking")
  }

  test("q297: codes are honest int8 — every emitted cosine is in [-1, 1] and ranks are dense per query") {
    val rows = Similarity.q297SqSearch(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getDouble(3)
      assert(c >= -1.0000001 && c <= 1.0000001, s"code cosine out of range: $c")
    }
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length))
    }
  }

  test("q298 on real data: recall in [0,1], n_hit consistent") {
    val rec = Similarity.q298SqRecall(spark, sf).collect()
    assert(rec.nonEmpty)
    rec.foreach { r =>
      val (nh, rc) = (r.getLong(1), r.getDouble(2))
      assert(nh >= 0 && nh <= 5 && rc == nh / 5.0)
    }
  }

  test("q299: an out-of-distribution delta reads err_ratio >> 1 in every subspace") {
    val dir = java.nio.file.Files.createTempDirectory("pqd").toString
    // membership is the operator's own content-stable md5 rule — compute
    // it first, then PLANT the delta rows far outside the base cluster
    val ids = (0L until 100L)
    val bucket = ids.toDF("vec_id")
      .select(col("vec_id"), substring(md5(col("vec_id").cast("string")), 1, 2).as("bk"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val up = GraftConfig.default.splitTrainUpper
    val vecs = ids.map { id =>
      var s = id * 104729L + 7L
      val jitter = Array.fill(8) { val (n, v) = lcgInt(s); s = n; v / 1270f } // ±0.1
      val base = jitter.map(_ + 1f)
      val v = if (bucket(id) < up) base else base.map(_ + 50f) // delta: far cluster
      (id, v.toSeq)
    }
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.q299PqDelta(spark, dir).collect()
    assert(out.length == GraftConfig.default.pqSubspaces)
    out.foreach { r =>
      val (nb, nd) = (r.getLong(1), r.getLong(2))
      assert(nb + nd == 100L, "split sizes must reconcile with the corpus")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(4) >= 0.0)
      assert(r.getDouble(5) > 1.5,
        s"a far-out delta must read high drift, got ratio ${r.getDouble(5)}")
    }
  }

  test("recall evals read the persisted truth artifact: doctoring it moves the recall both ways") {
    val base = GraftConfig.default
    // a distinct annTopK keys a PRIVATE truth artifact for this test,
    // so doctoring cannot leak into other suites' reads
    val ops = new graft.operators.SimilarityOps(GraftConfig(annTopK = base.annTopK + 1))
    val path = graft.sources.Scratch.keyedDir("ann_truth", sf, spark,
      Seq("embeddings.parquet"), s"nq=${ops.NumQueries},k=${ops.TopK}")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val honest = ops.q298SqRecall(spark, sf).collect().map(_.getDouble(2)).sum
    // doctor: truth = the SQ answer itself → recall must read perfect
    ops.q297SqSearch(spark, sf).select("query_id", "vec_id", "rk", "ccos")
      .withColumnRenamed("ccos", "cosine")
      .write.mode("overwrite").parquet(path)
    val rigged = ops.q298SqRecall(spark, sf).collect()
    assert(rigged.forall(_.getDouble(2) == 1.0),
      "truth ≡ answer must read recall 1.0 — the eval is not reading the artifact")
    fs.delete(p, true) // leave no doctored state behind
    assert(honest >= 0.0) // the honest pass ran against the real truth
  }

  test("q305: the drained streaming serve equals batch q41 row for row") {
    val stream = Similarity.q305StreamAnnServe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val batch = Similarity.q41AnnIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(stream == batch, "per-batch serve must reproduce the batch search bitwise")
    assert(stream.nonEmpty)
  }

  test("q306: recall is monotone in nprobe per query and the curve point at the default matches q123") {
    val curve = Similarity.q306IvfProbeCurve(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val queries = curve.keys.map(_._2).toSet
    val maxNp = Similarity.ProbeCurveMax
    queries.foreach { q =>
      (1 until maxNp).foreach { np =>
        assert(curve((np, q)) <= curve((np + 1, q)) + 1e-12,
          s"recall must not fall as nprobe grows (query $q, np $np)")
      }
    }
    val atDefault = GraftConfig.default.ivfNprobe
    val q123 = Similarity.q123AnnRecall(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    q123.foreach { case (q, r) =>
      assert(curve((atDefault, q)) == r,
        "the curve at the serving default must reproduce q123's recall")
    }
  }

  test("q299 on real data: counts reconcile with the md5 split and errors are finite") {
    val out = Similarity.q299PqDelta(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == total)
      assert(!r.getDouble(3).isNaN && !r.getDouble(4).isNaN && r.getDouble(5) > 0.0)
    }
  }

  test("cellsFor pins the Σ|cell|² sub-quadratic contract: cells grow ∝ n; test SFs sit below the knee") {
    val cfg = GraftConfig.default
    val target = Similarity.SemTargetCellSize.toLong
    // (1) the rule keeps EXPECTED cell size bounded at every scale —
    // the property that makes q94/q196's pair space O(n·target), not n²
    Seq(100L, 1000L, 10000L, 1000000L, 100000000L).foreach { n =>
      val cells = Similarity.cellsFor(n)
      assert(cells >= cfg.ivfCentroids, "never below the configured floor")
      assert(n.toDouble / cells <= target.toDouble,
        s"n=$n: expected cell size ${n.toDouble / cells} must stay ≤ target $target")
    }
    // (2) linear growth: 100× the corpus → ≥ 50× the cells once past
    // the knee (exact ratio depends only on ceil rounding)
    assert(Similarity.cellsFor(100000000L) >= 50 * Similarity.cellsFor(1000000L),
      "cells must track corpus growth, not saturate")
    // (3) the oracle-gated corpora sit BELOW the knee: the configured
    // centroid count already satisfies the rule, so the tested
    // assignment IS the production-sized one and the oracle is
    // unchanged — a future corpus regen past the knee fails here
    // instead of silently going quadratic inside cells
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(Similarity.cellsFor(n) == cfg.ivfCentroids,
      s"test corpus n=$n must sit below the cells knee (cfg ${cfg.ivfCentroids})")
  }

  test("q325 streaming drift: ledger reconciles with the static split and the retrain flag is the exact trigger") {
    val rows = Similarity.q325StreamDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    val upper = GraftConfig.default.splitTrainUpper
    def band(c: org.apache.spark.sql.Column) = substring(md5(c.cast("string")), 1, 2)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val nBase = e.filter(band(col("vec_id")) < upper).count()
    val nDelta = e.filter(band(col("vec_id")) >= upper).count()
    // every delta arrival lands in the ledger exactly once
    assert(rows.map(_.getLong(2)).sum == nDelta,
      "Σ delta_n over (wave, cell) must equal the delta split size")
    // per-cell cumulative is the running sum of its own waves
    val byCell = rows.groupBy(_.getLong(1))
    byCell.values.foreach { cs =>
      val sorted = cs.sortBy(_.getLong(0))
      var run = 0L
      sorted.foreach { r =>
        run += r.getLong(2)
        assert(r.getLong(3) == run, s"delta_cum must be the running per-cell sum")
      }
    }
    // the retrain flag is the integer trigger on the CUMULATIVE total,
    // recomputed independently per wave
    val (tn, td) = (Similarity.DriftTNum.toLong, Similarity.DriftTDen.toLong)
    val waveTotals = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    rows.foreach { r =>
      val cum = waveTotals.filter(_._1 <= r.getLong(0)).values.sum
      assert(r.getBoolean(5) == (td * cum >= tn * nBase),
        s"wave ${r.getLong(0)}: retrain flag must equal the exact trigger")
    }
    // the FINAL wave must fire at this corpus (delta/base ≈ 1/3 > 1/4),
    // so the monitor genuinely reaches its decision
    val lastWave = rows.map(_.getLong(0)).max
    assert(rows.filter(_.getLong(0) == lastWave).forall(_.getBoolean(5)),
      "the full delta must cross the retrain threshold at every test SF")
  }

  test("q326/q327 filtered ANN: every result carries the label, and pre-filter dominates post-filter") {
    val L = Similarity.AnnFilterLabel
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val res = Similarity.q326FilteredSearch(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(labels(r.getLong(1)) == L, "a filtered search must never surface an ineligible vector")
      assert(r.getLong(1) != r.getLong(0), "never the query itself")
    }
    // per-query ranks are 1..m with no gaps (the top-k contract)
    res.groupBy(_.getLong(0)).values.foreach { qs =>
      assert(qs.map(_.getInt(2)).sorted.sameElements(1 to qs.length))
    }
    val ab = Similarity.q327FilteredRecall(spark, sf).collect()
    val byArm = ab.groupBy(_.getString(0)).view
      .mapValues(rs => rs.map(_.getDouble(3)).sum / rs.length).toMap
    assert(byArm.keySet == Set("pre", "post"))
    // the measured decision: at ~10% selectivity the post arm spends
    // its k slots on mostly-ineligible results — pre must dominate
    assert(byArm("pre") > byArm("post"),
      s"pre-filter must beat post-filter at matched budget; got $byArm")
    // the pre arm IS q326's walk: hits ⊆ its result set per query
    val preHits = ab.filter(r => r.getString(0) == "pre")
    assert(preHits.map(_.getLong(2)).sum > 0, "pre arm must land real hits")
  }

  test("q328 MMR: the first pick is the plain argmax, the second pick trades relevance for diversity") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mmr").toString
    // query 0 along e1; 1/2/3 are near-clones of it, 4 is the diverse
    // direction: relevance-only top-3 = {1,2,3}, but MMR's second slot
    // must go to 4 (a clone's marginal score is ~0.5·0.99 − 0.5·1 < 0)
    Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0.99f, 0.1f, 0f, 0f)),
      (2L, Seq(0.99f, 0.11f, 0f, 0f)),
      (3L, Seq(0.99f, 0.12f, 0f, 0f)),
      (4L, Seq(0.7f, 0f, 0.7f, 0f)))
      .map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ops = new graft.operators.SimilarityOps(GraftConfig(annQueries = 1,
      mmrPool = 4, mmrK = 3))
    val got = ops.q328MmrRerank(spark, dir).collect()
      .map(r => r.getInt(2) -> r.getLong(1)).toMap
    assert(got(1) == 1L, "rank 1 must be the plain cosine argmax (lowest-id clone)")
    assert(got(2) == 4L, s"rank 2 must be the diverse vector, not a clone; got $got")
    assert(Set(2L, 3L).contains(got(3)), "rank 3 falls back to a clone once diversity is spent")
  }

  test("q328 on real data: k gapless slots per query, rank 1 ≡ brute top-1, scores non-increasing from rank 2") {
    val rows = Similarity.q328MmrRerank(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    val brute1 = Similarity.q40AnnBrute(spark, sf).collect()
      .filter(_.getInt(2) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).sameElements(1 to GraftConfig.default.mmrK),
        s"query $q: ranks must be gapless 1..k")
      assert(sorted.map(_.getLong(1)).distinct.length == sorted.length, "no repeats")
      assert(sorted.head.getLong(1) == brute1(q),
        s"query $q: MMR's first pick must be the relevance argmax")
      val tail = sorted.drop(1).map(_.getDouble(3))
      assert(tail.zip(tail.drop(1)).forall { case (a, b) => b <= a },
        s"query $q: marginal scores must be non-increasing from rank 2 (the greedy invariant)")
    }
  }

  test("q344 hybrid MMR: picks come from the fused pool, rank 1 is the fused argmax at normalized relevance 1") {
    val pool = graft.operators.Ranking.q110HybridRrf(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val top = pool.toSeq.sortBy { case (id, s) => (-s, id) }.head._1
    val rows = Similarity.q344HybridMmr(spark, sf).collect().sortBy(_.getInt(2))
    assert(rows.nonEmpty && rows.map(_.getInt(2)).sameElements(1 to rows.length),
      "gapless 1..n ranks for the single hybrid query")
    assert(rows.map(_.getLong(1)).forall(pool.contains),
      "every diversified pick must come from the fused pool")
    assert(rows.head.getLong(1) == top,
      "the first pick is the fused-relevance argmax (normalized simq = 1)")
    assert(rows.head.getDouble(3) == 1.0,
      "rank 1's score is the normalized pool maximum")
  }

  test("q351 cross-modal MMR: gapless page, and the image arm genuinely contributes to the fused pool") {
    import graft.functions.Vec
    val cfg = GraftConfig.default
    val rows = Similarity.q351CrossModalMmr(spark, sf).collect().sortBy(_.getInt(2))
    assert(rows.nonEmpty && rows.map(_.getInt(2)).sameElements(1 to rows.length),
      "gapless 1..n ranks for the single cross-modal query")
    assert(rows.head.getDouble(3) == 1.0,
      "rank 1's score is the normalized fused-pool maximum")
    // the two arms recomputed directly (the oracle gates exact values;
    // this pins the CROSS-MODAL composition: both modality indexes
    // reach the fused pool, and the image arm adds docs the text arm
    // alone would never surface)
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .withColumn("n2", Vec.norm2N("embedding"))
    val tq = e.filter(col("vec_id") === GraftConfig.hybridQueryVec)
      .select(col("embedding").as("qe"), col("n2").as("qn2"))
    val textPool = e.filter(col("vec_id") =!= GraftConfig.hybridQueryVec).crossJoin(broadcast(tq))
      .select(col("vec_id"),
        Vec.cosineFromParts(Vec.dotN("qe", "embedding"), col("qn2"), col("n2")).as("c"))
      .orderBy(col("c").desc, col("vec_id")).limit(cfg.rrfPoolK)
      .collect().map(_.getLong(0)).toSet
    val d = graft.operators.Multimodal.keyedDescriptors(spark, sf)
      .select(col("doc_id"), col("desc"), col("n2"))
    val iq = d.filter(col("doc_id") === GraftConfig.hybridQueryVec)
      .select(col("desc").as("qd"), col("n2").as("iqn2"))
    val imgPool = d.filter(col("doc_id") =!= GraftConfig.hybridQueryVec).crossJoin(broadcast(iq))
      .select(col("doc_id"),
        (col("iqn2") + col("n2") - lit(2L) * expr("vec_dot_long(qd, desc)")).as("d2"))
      .orderBy(col("d2"), col("doc_id")).limit(cfg.rrfPoolK)
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(1)).forall(id => textPool(id) || imgPool(id)),
      "every diversified pick must come from one of the two modality pools")
    assert((imgPool -- textPool).nonEmpty,
      "the image index must contribute candidates the text arm alone would not surface — else the cell isn't cross-modal")
  }
}

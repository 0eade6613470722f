package graft

import graft.operators.{Dedup, Similarity}
import graft.functions.Vec
import org.apache.spark.sql.functions._

class DedupSpec extends GraftSpec {

  test("inter_count ≡ size(array_intersect): native verify count parity (r18)") {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    import spark.implicits._
    // constructed edge cases: empty sides, duplicate inputs (distinct-count
    // semantics), identical sets, disjoint sets
    val rows = (Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq.empty[String], Seq("a")),
      (Seq("x"), Seq.empty[String]),
      (Seq("a", "a", "b"), Seq("a", "a", "a", "c")),
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("p", "q"), Seq("r", "s")),
      // r18 packed fast path edges: 7-byte boundary (packable) vs
      // 8-byte (build-side abort → generic path; probe-side skip),
      // multibyte UTF-8, empty string, length-distinguished prefixes
      (Seq("abcdefg", "abcdefgh", "αβ", "x"), Seq("abcdefgh", "αβ", "abcdefg")),
      (Seq("a", "bb"), Seq("abcdefghij", "a", "bb")),
      (Seq("abcdefghi", "abcdefg"), Seq("abcdefg", "abcdefghi")),
      (Seq(""), Seq("", "a")),
      (Seq("a", "ab", "abc"), Seq("ab", "abcd", "a")),
      (Seq("αβγδ", "ab"), Seq("αβγδ", "αβγε"))
    ) ++ Seq(
      // bulk case exercising table probing/tombstones: overlapping
      // modular families with duplicates on both sides
      ((0 until 200).map(i => s"k${i % 37}"), (0 until 300).map(i => s"k${i % 53}")),
      ((0 until 64).map(i => s"v$i"), (32 until 96).map(i => s"v$i"))
    )).toDF("sa", "sb")
    val got = rows.select(expr("inter_count(sa, sb)")).as[Long].collect().toSeq
    val ref = rows.select(size(array_intersect($"sa", $"sb")).cast("long"))
      .as[Long].collect().toSeq
    assert(got == ref, s"got=$got ref=$ref")
    // NULL elements: array_intersect keeps one NULL when both sides
    // hold one and never matches NULL against the empty string
    val withNulls = Seq(
      (Seq(null, "a"), Seq("", "a")),
      (Seq(null, "a"), Seq(null, "b")),
      (Seq(null, null, "abcdefghij"), Seq("abcdefghij", null)),
      (Seq(null, "abcdefghij"), Seq("x"))
    ).toDF("sa", "sb")
    val gotN = withNulls.select(expr("inter_count(sa, sb)")).as[Long].collect().toSeq
    val refN = withNulls.select(size(array_intersect($"sa", $"sb")).cast("long"))
      .as[Long].collect().toSeq
    assert(gotN == refN && refN == Seq(1L, 1L, 2L, 0L), s"got=$gotN ref=$refN")
    // a foldable call with a NULL element is evaluated at constant folding
    val folded = spark.sql(
      "SELECT inter_count(array(CAST(NULL AS STRING), 'abcdefghij'), array('x'))," +
        " inter_count(array(NULL, 'a'), array('', 'a'))").collect()(0)
    assert(folded.getLong(0) == 0L && folded.getLong(1) == 1L)
    // and over the real corpus' shingle arrays: all pairs agree
    val arr = Dedup.shingleArrays(spark, sf).limit(60)
    val diff = arr.as("x").crossJoin(arr.as("y"))
      .select(col("x.ss").as("sa"), col("y.ss").as("sb"))
      .filter(expr("inter_count(sa, sb)") =!=
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .count()
    assert(diff == 0, "native count diverged from array_intersect on corpus arrays")
  }

  test("q31 minhash-LSH finds the planted near-duplicate pairs") {
    val pairs = Dedup.q31MinhashPairs(spark, sf)
    assert(pairs.count() > 0, "corpus contains planted near-dups; LSH must surface some")
    assert(pairs.filter(col("jaccard") < Dedup.MinhashJ).count() == 0)
  }

  test("q31 and q33 agree on jaccard values for pairs both surface") {
    val a = Dedup.q31MinhashPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    val b = Dedup.q33JaccardPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    val common = a.keySet intersect b.keySet
    assert(common.nonEmpty, "candidate paths should overlap on the strongest dups")
    common.foreach(k => assert(a(k) == b(k), s"jaccard for $k must be identical"))
  }

  test("q32 simhash: near-identical docs get close hashes (hamming), disjoint docs do not collide to equal") {
    val h = Dedup.q32Simhash(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(h.values.toSet.size > 1, "simhash must discriminate")
  }

  test("q34 embedding near-dup detects crafted duplicates") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    val base = Array.tabulate(64)(i => (math.sin(i + 1) * 0.5).toFloat)
    val nearDup = base.clone(); nearDup(0) = base(0) + 0.001f
    val other = Array.tabulate(64)(i => (math.cos(3 * i + 2) * 0.5).toFloat)
    val rows = Seq(
      org.apache.spark.sql.Row(1L, base.toSeq),
      org.apache.spark.sql.Row(2L, nearDup.toSeq),
      org.apache.spark.sql.Row(3L, other.toSeq))
    val df = spark.createDataFrame(rows.asJava, schema)
    val e = df.select(col("vec_id"), col("embedding"), Vec.signBucket("embedding", 8).as("bucket"))
    val found = e.as("x").join(e.as("y"), col("x.bucket") === col("y.bucket"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
        Vec.cosine("x.embedding", "y.embedding").as("cosine"))
      .filter(col("cosine") >= Dedup.NearDupCos)
      .collect()
    assert(found.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(!found.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("q40 top-k: ranks are 1..k per query and cosine non-increasing") {
    val rows = Similarity.q40AnnBrute(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rk"))
      assert(sorted.map(_.getAs[Int]("rk")).toSeq == (1 to sorted.length))
      val cos = sorted.map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (x, y) => x >= y })
    }
  }

  test("q41 IVF results are a subset-quality approximation of q40 (same query ids)") {
    val brute = Similarity.q40AnnBrute(spark, sf).select("query_id").distinct().count()
    val ivf = Similarity.q41AnnIvf(spark, sf).select("query_id").distinct().count()
    assert(ivf > 0 && ivf <= brute)
  }

  test("q123 recall: bounded in [0,1] for every query; exhaustive probing gives recall 1") {
    val r = Similarity.q123AnnRecall(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val rec = row.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // nprobe = all centroids → IVF searches every cell = brute force
    // with the same tie-break → recall exactly 1 for every query; run
    // it with SAMPLED training (ivfTrainMod > 1) so the 100 TB training
    // path is exercised end-to-end — exhaustive probing must hit full
    // recall no matter where the centroids landed
    val full = new graft.operators.SimilarityOps(GraftConfig(
      ivfNprobe = GraftConfig.default.ivfCentroids, ivfTrainMod = 4))
    full.q123AnnRecall(spark, sf).collect().foreach { row =>
      assert(row.getAs[Double]("recall") == 1.0,
        s"query ${row.getAs[Long]("query_id")} recall < 1 under exhaustive probing")
    }
  }

  test("q188: delta assignment against the unchanged index equals full re-assignment restricted to the delta") {
    import org.apache.spark.sql.functions._
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .withColumn("n2", graft.functions.Vec.norm2N("embedding"))
      .withColumn("bk", substring(md5(col("vec_id").cast("string")), 1, 2))
    val base = all.filter(col("bk") < GraftConfig.default.splitTrainUpper)
    val delta = all.filter(col("bk") >= GraftConfig.default.splitTrainUpper)
    assert(base.count() > 0 && delta.count() > 0, "split must be non-trivial")
    val cents = Similarity.trainIndexOn(base)
    val fullAssign = Similarity.assign(all, cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val deltaAssign = Similarity.assign(delta, cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deltaAssign.nonEmpty)
    deltaAssign.foreach { case (id, cell) =>
      assert(fullAssign(id) == cell,
        s"vec $id: delta-only assignment $cell != full re-assignment ${fullAssign(id)}")
    }
  }

  test("q188: drift eval totals reconcile and the balance ratios are sane") {
    val r = Similarity.q188IvfDelta(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val nBase = row.getAs[Long]("n_base"); val nDelta = row.getAs[Long]("n_delta")
    assert(nBase + nDelta == spark.read.parquet(s"$sf/embeddings.parquet").count(),
      "every vector is exactly one of base/delta")
    assert(row.getAs[Long]("merged_cells") >= row.getAs[Long]("base_cells"))
    assert(row.getAs[Long]("new_cells") ==
      row.getAs[Long]("merged_cells") - row.getAs[Long]("base_cells"))
    assert(row.getAs[Long]("merged_max_cell") >= row.getAs[Long]("base_max_cell"))
    assert(row.getAs[Double]("base_balance") >= 1.0 - 1e-9,
      "max*cells/total is >= 1 by definition")
    assert(row.getAs[Double]("merged_balance") >= 1.0 - 1e-9)
  }

  test("q285: graph-debt totals reconcile (one row; touched bounds stale; edges bounded by delta×k)") {
    val cfg = GraftConfig.default
    val r = Similarity.q285KnnDelta(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val (nb, nd) = (row.getAs[Long]("n_base"), row.getAs[Long]("n_delta"))
    assert(nb + nd == spark.read.parquet(s"$sf/embeddings.parquet").count())
    assert(nb > 0 && nd > 0, "split must exercise both sides")
    val (touched, stale) = (row.getAs[Long]("touched_base"), row.getAs[Long]("stale_base"))
    assert(stale <= touched && touched <= nb,
      "stale ⊆ touched ⊆ base — the debt metric must reconcile")
    assert(row.getAs[Long]("delta_edges") <= nd * cfg.knnK,
      "each delta vector adds at most k out-edges")
    assert(row.getAs[Double]("stale_frac") ==
      stale.toDouble / nb.toDouble)
  }

  test("q285 reads the persisted base graph: doctored k-th entries flip the stale verdict") {
    val base = GraftConfig.default
    // a distinct knnK keys a PRIVATE artifact pair for this test, so
    // doctoring cannot leak into other suites' artifacts
    val ops = new graft.operators.SimilarityOps(GraftConfig(knnK = base.knnK + 1))
    val k = ops.cfg.knnK
    val ckey = s"k=$k,np=${base.ivfNprobe},c=${base.ivfCentroids}," +
      s"ki=${base.kmeansIters},tm=${base.ivfTrainMod},u=${base.splitTrainUpper}"
    val gPath = graft.sources.Scratch.keyedDir("knnd_graph", sf, spark,
      Seq("embeddings.parquet"), ckey)
    // the scratch artifact survives JVM runs — a previous run leaves it
    // DOCTORED, so force a clean rebuild before doctoring again
    val gp = new org.apache.hadoop.fs.Path(gPath)
    val fs = gp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(gp)) fs.delete(gp, true)
    ops.q285KnnDelta(spark, sf).collect() // builds graph + probe artifacts
    val nodes = spark.read.parquet(gPath).select("vec_id").distinct().collect()
      .map(_.getLong(0))
    import spark.implicits._
    // doctor A: every stored list is FULL and UNBEATABLE (k-th cosine
    // 2.0 with nbr_id -1) — nothing can enter, stale_base must be 0
    nodes.flatMap(u => (1 to k).map(rk => (u, -rk.toLong, rk, 2.0)))
      .toSeq.toDF("vec_id", "nbr_id", "rk", "cosine")
      .write.mode("overwrite").parquet(gPath)
    val unbeatable = ops.q285KnnDelta(spark, sf).collect().head
    assert(unbeatable.getAs[Long]("stale_base") == 0L,
      "an unbeatable stored top-k must never read stale — q285 is not reading the artifact")
    // doctor B: every stored list is EMPTY-roomed (deg 0 via no rows)
    // — every touched node is stale by the has-room branch
    Seq.empty[(Long, Long, Int, Double)].toDF("vec_id", "nbr_id", "rk", "cosine")
      .write.mode("overwrite").parquet(gPath)
    val roomy = ops.q285KnnDelta(spark, sf).collect().head
    assert(roomy.getAs[Long]("stale_base") == roomy.getAs[Long]("touched_base"),
      "with room in every list, every touched base node is stale")
    assert(roomy.getAs[Long]("touched_base") > 0L)
  }

  test("q286: well-formed per-query recall of the stale mixed serving state") {
    val cfg = GraftConfig.default
    val rows = Similarity.q286StaleServeRecall(spark, sf).collect()
    assert(rows.length == cfg.annQueries, "one recall row per query")
    rows.foreach { r =>
      val (hit, rec) = (r.getAs[Long]("n_hit"), r.getAs[Double]("recall"))
      assert(hit >= 0 && hit <= cfg.annTopK)
      assert(rec == hit.toDouble / cfg.annTopK)
    }
  }

  test("q286: with an EMPTY delta the stale state IS the fresh graph — recall equals q280 bitwise") {
    // splitTrainUpper "zz" puts every vector in base: the mixed edge
    // set degenerates to the full q140 graph, so stale-state serving
    // must reproduce the fresh-graph recall row for row
    val ops = new graft.operators.SimilarityOps(GraftConfig(splitTrainUpper = "zz"))
    val fresh = ops.q280GraphAnnRecall(spark, sf)
    val stale = ops.q286StaleServeRecall(spark, sf)
    assert(stale.exceptAll(fresh).isEmpty && fresh.exceptAll(stale).isEmpty,
      "empty-delta mixed state must serve identically to the fresh graph")
  }

  test("q290 minimality: untouched base rows byte-identical; every rewritten base node gained a delta neighbor") {
    val cfg = GraftConfig.default
    def md5b(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).take(1).map(b => f"${b & 0xff}%02x").mkString
    val isBase = (id: Long) => md5b(id) < cfg.splitTrainUpper
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"),
        r.getAs[Int]("rk"), r.getAs[Double]("cosine")))
      .groupBy(_._1).map { case (u, rs) => u -> rs.toSet }
    val stored = keyed(Similarity.knnDeltaParts(spark, sf).g.collect())
    val out = keyed(Similarity.q290KnnRecompact(spark, sf).collect())
    val baseNodes = out.keys.filter(isBase).toSeq
    val deltaNodes = out.keys.filterNot(isBase).toSeq
    assert(baseNodes.nonEmpty && deltaNodes.nonEmpty, "both splits must appear")
    val changed = baseNodes.filter(u => out(u) != stored.getOrElse(u, Set.empty))
    assert(changed.nonEmpty, "a non-empty delta must rewrite SOME stale base rows")
    assert(baseNodes.exists(u => out(u) == stored.getOrElse(u, Set.empty)),
      "recompaction must leave untouched base rows byte-identical, not rewrite everything")
    changed.foreach { u =>
      assert(out(u).exists { case (_, nbr, _, _) => !isBase(nbr) },
        s"base node $u was rewritten without gaining a delta neighbor — rewrite not minimal")
    }
    // delta rows are well-formed under the q140 contract
    deltaNodes.foreach { u =>
      val rks = out(u).map(_._3).toSeq.sorted
      assert(rks == (1 to rks.size) && rks.size <= cfg.knnK)
    }
  }

  test("q290/q291 empty-delta degeneracy: recompacted graph ≡ q140, recall ≡ q280 bitwise") {
    val ops = new graft.operators.SimilarityOps(GraftConfig(splitTrainUpper = "zz"))
    val rebuilt = ops.q140KnnGraph(spark, sf)
    val recompacted = ops.q290KnnRecompact(spark, sf)
    assert(recompacted.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(recompacted).isEmpty,
      "with no delta, recompaction must reproduce the full q140 graph bitwise")
    val fresh = ops.q280GraphAnnRecall(spark, sf)
    val served = ops.q291RecompactRecall(spark, sf)
    assert(served.exceptAll(fresh).isEmpty && fresh.exceptAll(served).isEmpty,
      "post-recompaction serving must equal fresh-graph recall row for row")
  }

  test("q294: two rows per query; the ivf arm reproduces q280 bitwise (the serving default)") {
    val cfg = GraftConfig.default
    val rows = Similarity.q294BeamEntryEval(spark, sf).collect()
    assert(rows.length == 2 * cfg.annQueries, "one row per query per arm")
    val ivf = rows.filter(_.getString(0) == "ivf")
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val q280 = Similarity.q280GraphAnnRecall(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ivf == q280, "the ivf arm must be exactly q280's walk — else the A/B is unmatched")
    rows.filter(_.getString(0) == "fixed").foreach { r =>
      val (hit, rec) = (r.getLong(2), r.getDouble(3))
      assert(hit >= 0 && hit <= cfg.annTopK && rec == hit.toDouble / cfg.annTopK)
    }
  }

  test("q296 minimality: untouched-family rows byte-identical to q57; relabels confined to touched families") {
    val cfg = GraftConfig.default
    def bucket(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).take(1).map(b => f"${b & 0xff}%02x").mkString
    val full = Dedup.q57DedupFamilies(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap
    val retracted = full.keys.filter(bucket(_) >= cfg.docRetractLower).toSet
    assert(retracted.nonEmpty, "the retraction band must hit some docs")
    val touchedFams = retracted.map(d => full(d)._1)
    val dec = Dedup.q296DecrementalFamilies(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap
    assert(dec.keySet == full.keySet -- retracted,
      "output must be exactly the surviving docs")
    var untouchedSeen = false
    dec.foreach { case (doc, row) =>
      if (!touchedFams(full(doc)._1)) {
        assert(row == full(doc),
          s"doc $doc sits in an untouched family but its row changed — recompute not minimal")
        untouchedSeen = true
      }
    }
    assert(untouchedSeen, "corpus must leave some families untouched or minimality is vacuous")
    // a touched family with a survivor necessarily shrank — its rows change
    val touchedSurvivors = dec.keys.filter(d => touchedFams(full(d)._1))
    if (touchedSurvivors.nonEmpty)
      assert(touchedSurvivors.exists(d => dec(d) != full(d)),
        "a touched family kept a survivor yet no row changed — the retraction was not applied")
  }

  test("q200 dedup curve: monotonically non-increasing in the threshold, base point equals q131") {
    val rows = Dedup.q200DedupCurve(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.nonEmpty)
    rows.toList.sliding(2).foreach {
      case List((pa, na, da), (pb, nb, db)) =>
        assert(pa < pb && nb <= na && db <= da,
          s"curve must not increase with the threshold: $pa->($na,$da), $pb->($nb,$db)")
      case _ =>
    }
    // the lowest sweep point IS the base threshold → counts equal q131's table
    val base = Dedup.q131SimJoin(spark, sf).select("id_a", "id_b").collect()
    val basePct = rows.head
    assert(basePct._1 * GraftConfig.default.simJoinTDen ==
      100 * GraftConfig.default.simJoinTNum, "lowest sweep point is the base threshold")
    assert(basePct._2 == base.length)
    assert(basePct._3 == base.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.length)
  }

  test("q197 family split: no family straddles a split; moved measures real relocations") {
    val rows = Dedup.q197FamilySplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getBoolean(4)))
    assert(rows.length == spark.read.parquet(s"$sf/documents.parquet").count(),
      "every doc gets exactly one split row")
    rows.groupBy(_._2).foreach { case (fam, rs) =>
      assert(rs.map(_._3).distinct.length == 1,
        s"family $fam straddles splits: ${rs.map(_._3).distinct.mkString(",")}")
    }
    rows.foreach { case (_, _, s, ns, moved) => assert(moved == (s != ns)) }
    // the naive per-doc split of a multi-doc family CAN differ from the
    // family split — when it does, moved must be true for that doc and
    // the family still lands whole (covered by the straddle check)
  }

  test("q204 persisted split ≡ q197 recomputed split on the delta slice") {
    val cfgD = GraftConfig.default
    val q197 = Dedup.q197FamilySplit(spark, sf).collect()
      .filter(r => r.getLong(0) % cfgD.deltaBatchMod == cfgD.deltaBatchRem)
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2), r.getString(3), r.getBoolean(4))))
      .toMap
    val q204 = Dedup.q204FamilySplitPersisted(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2), r.getString(3), r.getBoolean(4))))
      .toMap
    assert(q204.nonEmpty && q204 == q197,
      "routing a delta through the persisted family table must equal recomputing the split")
  }

  test("q194 cluster sample: per-cell cap respected, deterministic across re-runs") {
    val cap = GraftConfig.default.clusterSampleCap
    val r1 = Similarity.q194ClusterSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val r2 = Similarity.q194ClusterSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(r1.nonEmpty && r1.toSet == r2.toSet, "sample must be re-run stable")
    r1.groupBy(_._2).foreach { case (cell, rs) =>
      assert(rs.length <= cap, s"cell $cell over cap")
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length), s"cell $cell ranks not dense")
    }
  }

  test("q196 cohesion: pair counts are m·(m−1)/2 for m=min(n,cap), cosines bounded, singletons null") {
    val cap = GraftConfig.default.cohesionPairCap
    val rows = Similarity.q196ClusterCohesion(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n"); val np = r.getAs[Long]("n_pairs")
      val m = math.min(n, cap.toLong)
      assert(np == m * (m - 1) / 2, s"cell ${r.getLong(0)}: pairs $np for n=$n cap=$cap")
      assert(r.getAs[Long]("exact") == (if (n <= cap) 1L else 0L))
      if (np == 0) assert(r.isNullAt(r.fieldIndex("within_avg_cos")))
      else {
        val c = r.getAs[Double]("within_avg_cos")
        assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      }
      val s = r.getAs[Double]("max_other_centroid_cos")
      assert(s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9)
    }
  }

  test("q196 cap reconciliation: capped run ≡ full run on exact cells; capped cells bounded") {
    // tiny cap forces the capped branch; the full (default-cap) run is
    // the reference — on any cell the tiny cap didn't touch (n <= 3)
    // every output column must be IDENTICAL, and on capped cells the
    // pair space must shrink to cap·(cap−1)/2 with exact = 0
    val capped = new graft.operators.SimilarityOps(GraftConfig(cohesionPairCap = 3))
      .q196ClusterCohesion(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val full = Similarity.q196ClusterCohesion(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(capped.keySet == full.keySet, "cell set must not depend on the cap")
    assert(full.values.exists(_.getAs[Long]("n") > 3), "need at least one capped cell")
    capped.foreach { case (cell, c) =>
      val f = full(cell)
      val n = f.getAs[Long]("n")
      assert(c.getAs[Long]("n") == n, "n is the FULL cell size either way")
      if (n <= 3) {
        assert(c.getAs[Long]("exact") == 1L)
        assert(c.getAs[Long]("n_pairs") == f.getAs[Long]("n_pairs"))
        assert((c.isNullAt(c.fieldIndex("within_avg_cos")) &&
                f.isNullAt(f.fieldIndex("within_avg_cos"))) ||
               c.getAs[Double]("within_avg_cos") == f.getAs[Double]("within_avg_cos"),
          s"cell $cell under cap must be bit-identical to the full run")
      } else {
        assert(c.getAs[Long]("exact") == 0L)
        assert(c.getAs[Long]("n_pairs") == 3L, "3 members → 3 pairs")
      }
      assert(c.getAs[Double]("max_other_centroid_cos") ==
        f.getAs[Double]("max_other_centroid_cos"), "separation is cap-independent")
    }
  }

  test("q195 cluster terms: ranks dense per cell, support threshold respected") {
    val cfgD = GraftConfig.default
    val rows = Similarity.q195ClusterTerms(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cell, rs) =>
      assert(rs.length <= cfgD.clusterTermsTopK)
      assert(rs.map(_._4).sorted.toSeq == (1 to rs.length), s"cell $cell ranks not dense")
      rs.foreach { case (_, _, c, _) => assert(c >= cfgD.clusterTermsMinCount) }
    }
  }

  test("q131 prefix filtering is COMPLETE: equals the naive all-shared-shingle join on real data") {
    val fast = Dedup.q131SimJoin(spark, sf).select("id_a", "id_b", "jaccard")
    // naive truth: every pair sharing >= 1 word gram, exact Jaccard,
    // the same integer threshold — completeness has no generator to hide in
    val sh = Dedup.wordGrams(spark, sf)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("i"))
    val (tn, td) = (GraftConfig.default.simJoinTNum.toLong, GraftConfig.default.simJoinTDen.toLong)
    val naive = inter
      .join(sz.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sz.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .filter(lit(td) * col("i") >= lit(tn) * (col("na") + col("nb") - col("i")))
      .select(col("id_a"), col("id_b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jaccard"))
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
    assert(fast.count() > 0, "threshold too high — the completeness check compared empty sets")
  }

  test("q133 incremental dedup: every delta doc accounted, blame always lands in base") {
    val out = Dedup.q133IncrementalDedup(spark, sf).cache()
    try {
      def bucket(c: org.apache.spark.sql.Column) =
        substring(md5(c.cast("string")), 1, 2)
      val upper = GraftConfig.default.splitTrainUpper
      // output is exactly the delta docs, each once
      val delta = graft.sources.Tables.documents(spark, sf)
        .filter(bucket(col("doc_id")) >= upper)
      assert(out.count() == delta.count())
      assert(out.select("doc_id").distinct().count() == out.count())
      // no delta doc escapes into the base side, and blame is always a base doc
      assert(out.filter(bucket(col("doc_id")) < upper).count() == 0)
      assert(out.filter(col("is_dup")).count() > 0, "no dups at this sf — test is vacuous")
      assert(out.filter(col("is_dup") =!= col("dup_of").isNotNull).count() == 0)
      assert(out.filter(col("dup_of").isNotNull && bucket(col("dup_of")) >= upper).count() == 0)
    } finally out.unpersist()
  }

  private def pqDir(vecs: (Long, Seq[Float])*): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pq").toString
    vecs.toSeq.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q222/q223: vectors that are their own codewords give ADC = exact distance and recall 1") {
    // 6 distinct 4-dim vectors with 1-decimal coordinates: floor(x·1e7)/1e7
    // round-trips them exactly, so each singleton cell's mean IS its
    // vector, ADC sums the exact per-subspace distances, and the PQ
    // ranking equals the exact ranking under the same (d2, vec_id)
    // tie-break — recall must be exactly 1.
    val dir = pqDir((0L to 5L).map(i =>
      i -> Seq(i.toFloat, i + 0.5f, 10f - i, 2f * i)): _*)
    val ops = new graft.operators.SimilarityOps(GraftConfig(
      pqSubspaces = 2, pqCodewords = 8, pqIters = 1,
      annQueries = 3, annTopK = 2))
    val codes = ops.q222PqEncode(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("codes")).toMap
    assert(codes == (0L to 5L).map(i => i -> s"$i,$i").toMap,
      s"each distinct vector must be its own codeword, got $codes")
    ops.q223PqRecall(spark, dir).collect().foreach { r =>
      assert(r.getAs[Double]("recall") == 1.0,
        s"query ${r.getAs[Long]("query_id")}: exact codebook must give recall 1")
    }
  }

  test("q222 reads the persisted codebook, not a retrain (doctored artifact changes the codes)") {
    import spark.implicits._
    val dir = pqDir((0L to 5L).map(i =>
      i -> Seq(i.toFloat, i + 0.5f, 10f - i, 2f * i)): _*)
    val ops = new graft.operators.SimilarityOps(GraftConfig(
      pqSubspaces = 2, pqCodewords = 8, pqIters = 1,
      annQueries = 3, annTopK = 2))
    ops.q222PqEncode(spark, dir).collect() // trains + persists
    // doctor the artifact down to ONE codeword per subspace
    val path = graft.sources.Scratch.keyedDir("pq_cb", dir, spark,
      Seq("embeddings.parquet"), "m=2,k=8,i=1")
    Seq((0L, Seq(0.0, 0.0), 1), (0L, Seq(0.0, 0.0), 2))
      .toDF("cent_id", "ce", "sub_id")
      .write.mode("overwrite").parquet(path)
    val doctored = ops.q222PqEncode(spark, dir).collect()
      .map(_.getAs[String]("codes")).toSet
    assert(doctored == Set("0,0"),
      "q222 must encode with the PERSISTED codebook, not retrain")
  }

  test("trainIndex reads the persisted ivf_cents artifact, not a retrain (doctored centroids reroute every consumer)") {
    import spark.implicits._
    val dir = pqDir((0L to 5L).map(i =>
      i -> Seq(i.toFloat, i + 0.5f, 10f - i, 2f * i)): _*)
    val ops = new graft.operators.SimilarityOps(GraftConfig(
      ivfCentroids = 2, kmeansIters = 1, ivfTrainMod = 1,
      annQueries = 2, annTopK = 2, ivfTopK = 2, ivfNprobe = 1))
    ops.trainIndex(spark, dir).collect() // trains + persists ivf_cents
    // doctor the artifact down to ONE centroid with a sentinel id:
    // every consumer that reads the artifact must now assign every
    // vector to cell 7; a consumer that silently retrained would
    // produce cells 0/1 again
    val path = graft.sources.Scratch.keyedDir("ivf_cents", dir, spark,
      Seq("embeddings.parquet"), "c=2,ki=1,tm=1")
    Seq((7L, Seq(1.0, 1.0, 1.0, 1.0)))
      .toDF("cent_id", "ce")
      .write.mode("overwrite").parquet(path)
    val cells = ops.q94SemanticDedup(spark, dir).collect()
      .map(_.getAs[Long]("cell")).toSet
    assert(cells == Set(7L),
      "q94 (an assign consumer) must read the PERSISTED ivf_cents, not retrain")
    val searched = ops.q41AnnIvf(spark, dir).collect()
    assert(searched.nonEmpty && searched.forall(_.getAs[Long]("vec_id") >= 0),
      "q41 must still serve from the doctored single-cell index")
  }

  test("q330 reads the persisted OPQ codebook (doctored artifact moves the opq arm, never the id arm)") {
    import spark.implicits._
    val dir = pqDir((0L to 5L).map(i =>
      i -> Seq(i.toFloat, i + 0.5f, 10f - i, 2f * i)): _*)
    val ops = new graft.operators.SimilarityOps(GraftConfig(
      pqSubspaces = 2, pqCodewords = 8, pqIters = 1,
      ivfCentroids = 2, kmeansIters = 1, ivfTrainMod = 1,
      annQueries = 3, annTopK = 2, ivfTopK = 2, ivfNprobe = 2))
    def armRows(df: org.apache.spark.sql.DataFrame, arm: String) =
      df.collect().filter(_.getString(0) == arm)
        .map(r => r.getLong(1) -> r.getLong(2)).toMap
    val before = ops.q330OpqAblation(spark, dir)
    val idBefore = armRows(before, "id")
    val opqBefore = armRows(before, "opq")
    // collapse the opq codebook to ONE origin codeword per subspace:
    // every corpus vector now codes identically, so the opq arm's ADC
    // ranking degenerates — a silent retrain would reproduce opqBefore
    val path = graft.sources.Scratch.keyedDir("opq_cb", dir, spark,
      Seq("embeddings.parquet"), "m=2,k=8,i=1")
    Seq((0L, Seq(0.0, 0.0), 1), (0L, Seq(0.0, 0.0), 2))
      .toDF("cent_id", "ce", "sub_id")
      .write.mode("overwrite").parquet(path)
    val after = ops.q330OpqAblation(spark, dir)
    assert(armRows(after, "id") == idBefore,
      "the id arm shares no state with the opq codebook and must not move")
    assert(armRows(after, "opq") != opqBefore,
      "q330 must encode with the PERSISTED opq codebook, not retrain")
  }

  test("q223/q262-style evals read the persisted l2_truth, not an inline recompute (doctored truth zeroes recall)") {
    import spark.implicits._
    val dir = pqDir((0L to 5L).map(i =>
      i -> Seq(i.toFloat, i + 0.5f, 10f - i, 2f * i)): _*)
    val ops = new graft.operators.SimilarityOps(GraftConfig(
      pqSubspaces = 2, pqCodewords = 8, pqIters = 1,
      annQueries = 3, annTopK = 2, ivfTopK = 2))
    val before = ops.q223PqRecall(spark, dir).collect()
    assert(before.forall(_.getAs[Double]("recall") == 1.0),
      "exact-codebook corpus must give recall 1 before doctoring")
    // doctor the truth: every query's exact neighbor is vec_id 999,
    // which no search can ever return → recall must read 0
    val path = graft.sources.Scratch.keyedDir("l2_truth", dir, spark,
      Seq("embeddings.parquet"), "nq=3,k=2")
    (0L to 2L).map(q => (q, 999L, 0L, 1))
      .toDF("query_id", "vec_id", "d2", "rk")
      .write.mode("overwrite").parquet(path)
    val doctored = ops.q223PqRecall(spark, dir).collect()
    assert(doctored.nonEmpty && doctored.forall(_.getAs[Double]("recall") == 0.0),
      "q223 must score against the PERSISTED l2_truth, not recompute it inline")
  }

  test("q222/q223 real corpus: codes in range, recall bounded") {
    val m = GraftConfig.default.pqSubspaces
    val k = GraftConfig.default.pqCodewords
    val rows = Similarity.q222PqEncode(spark, sf).collect()
    assert(rows.length == spark.read.parquet(s"$sf/embeddings.parquet").count())
    rows.foreach { r =>
      val cs = r.getAs[String]("codes").split(",").map(_.toLong)
      assert(cs.length == m && cs.forall(c => c >= 0 && c < k))
    }
    Similarity.q223PqRecall(spark, sf).collect().foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
  }

  test("q261/q262: exact codebook + all cells probed gives ADC = exact ranking, recall 1") {
    // Same construction as the q222/q223 exact test (each distinct
    // vector is its own codeword), plus an IVF index whose every cell
    // is probed (nprobe = centroids): the candidate set is the full
    // corpus minus self, ADC distances are exact, so the IVF-PQ top-k
    // IS the exact top-k and q262's recall must be exactly 1.
    val dir = pqDir((0L to 5L).map(i =>
      i -> Seq(i.toFloat, i + 0.5f, 10f - i, 2f * i)): _*)
    val ops = new graft.operators.SimilarityOps(GraftConfig(
      pqSubspaces = 2, pqCodewords = 8, pqIters = 1,
      annQueries = 3, annTopK = 2,
      ivfCentroids = 2, ivfNprobe = 2, ivfTopK = 2, kmeansIters = 1))
    val res = ops.q261IvfPqSearch(spark, dir).collect()
    assert(res.map(_.getAs[Long]("query_id")).distinct.length == 3)
    res.foreach { r =>
      val rk = r.getAs[Int]("rk")
      assert(rk >= 1 && rk <= 2)
      assert(r.getAs[Long]("ad2") >= 0L, "exact-integer ADC distance is non-negative")
    }
    ops.q262IvfPqRecall(spark, dir).collect().foreach { r =>
      assert(r.getAs[Double]("recall") == 1.0,
        s"query ${r.getAs[Long]("query_id")}: all-cells probe + exact codebook must give recall 1")
    }
  }

  test("q261/q262 real corpus: ranks bounded, recall in [0,1], one row per query in the eval") {
    val k = Similarity.IvfTopK
    val res = Similarity.q261IvfPqSearch(spark, sf).collect()
    assert(res.nonEmpty)
    res.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val rks = rows.map(_.getAs[Int]("rk")).sorted
      assert(rks.head == 1 && rks.last <= k && rks.distinct.length == rks.length)
    }
    val ev = Similarity.q262IvfPqRecall(spark, sf).collect()
    assert(ev.length == Similarity.NumQueries)
    ev.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getAs[Long]("n_hit") == math.round(rec * k))
    }
  }

  test("q271/q272: one cell + singleton residual codewords make ADC exact — recall 1") {
    // With ONE IVF cell every vector's residual is x − mean, and with
    // codewords ≥ vectors each residual is (within the 1e-7 exact-mean
    // quantum) its own codeword; subspaces partition the dims, so the
    // residual ADC sum telescopes to |q − x|² exactly and the ranking
    // equals full-space truth at every query.
    val dir = pqDir((0L to 5L).map(i =>
      i -> Seq(i.toFloat, i + 0.5f, 10f - i, 2f * i)): _*)
    val ops = new graft.operators.SimilarityOps(GraftConfig(
      pqSubspaces = 2, pqCodewords = 8, pqIters = 2,
      annQueries = 3, annTopK = 2,
      ivfCentroids = 1, ivfNprobe = 1, ivfTopK = 2, kmeansIters = 1))
    val res = ops.q271IvfPqResidualSearch(spark, dir).collect()
    assert(res.map(_.getAs[Long]("query_id")).distinct.length == 3)
    res.foreach(r => assert(r.getAs[Int]("rk") >= 1 && r.getAs[Int]("rk") <= 2))
    ops.q272IvfPqResidualRecall(spark, dir).collect().foreach { r =>
      assert(r.getAs[Double]("recall") == 1.0,
        s"query ${r.getAs[Long]("query_id")}: exact residual codebook must give recall 1")
    }
  }

  test("q271/q272 real corpus: ranks bounded, eval one row per query, recall in [0,1]") {
    val k = Similarity.IvfTopK
    val res = Similarity.q271IvfPqResidualSearch(spark, sf).collect()
    assert(res.nonEmpty)
    res.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val rks = rows.map(_.getAs[Int]("rk")).sorted
      assert(rks.head == 1 && rks.last <= k && rks.distinct.length == rks.length)
    }
    val ev = Similarity.q272IvfPqResidualRecall(spark, sf).collect()
    assert(ev.length == Similarity.NumQueries)
    ev.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getAs[Long]("n_hit") == math.round(rec * k))
    }
  }

  test("q268: when the prefix dims carry all the signal, every tier's recall is 1") {
    // vectors differ ONLY in their first 2 dims (the rest are zero), so
    // truncated rankings at any tier ≥ the signal dims equal the
    // full-dim ranking — recall must be exactly 1 at every tier
    val dir = pqDir((0L to 5L).map(i =>
      i -> (Seq(i.toFloat, 10f - i) ++ Seq.fill(62)(0f))): _*)
    val ops = new graft.operators.SimilarityOps(GraftConfig(
      annQueries = 3, annTopK = 2))
    ops.q268MatryoshkaRecall(spark, dir).collect().foreach { r =>
      assert(r.getAs[Double]("recall") == 1.0,
        s"dims=${r.getAs[Long]("dims")} query=${r.getAs[Long]("query_id")}: " +
          "zero-padded tails cannot change the ranking")
    }
  }

  test("q268 real corpus: full curve shape — one row per (tier, query), recall in [0,1]") {
    val rows = Similarity.q268MatryoshkaRecall(spark, sf).collect()
    val tiers = rows.map(_.getAs[Long]("dims")).distinct.sorted
    assert(tiers.toSeq == Seq(8L, 16L, 32L))
    tiers.foreach { d =>
      assert(rows.count(_.getAs[Long]("dims") == d) == Similarity.NumQueries)
    }
    rows.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
  }

  test("q229: Chebyshev drift against the corpus mean matches hand arithmetic") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("drift").toString
    Seq((0L, Seq(2f, 0f), 0), (1L, Seq(0f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Seq((0L, "a", "en", "A", 1L), (1L, "b", "en", "B", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // global mean (1, 0.5); both sources drift 1.0 on dim 0
    val got = graft.operators.Similarity.q229SourceDrift(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got == Map("A" -> ((1L, 1.0, 0L)), "B" -> ((1L, 1.0, 0L))), s"got $got")
  }

  test("q229 real corpus: one row per source, drift bounded and dimensions in range") {
    val rows = graft.operators.Similarity.q229SourceDrift(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(rows.length == docs.select("source").distinct().count())
    assert(rows.map(_.getLong(1)).sum == docs.count())
    val d = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("size(embedding)").head().getInt(0)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0)
      assert(r.getLong(3) >= 0L && r.getLong(3) < d)
    }
  }

  test("q140 kNN graph: no self edges, ranks dense per vector, exhaustive probing equals brute force") {
    val g = graft.operators.Similarity.q140KnnGraph(spark, sf).cache()
    try {
      assert(g.filter(col("vec_id") === col("nbr_id")).count() == 0)
      val k = GraftConfig.default.knnK
      val perVec = g.groupBy("vec_id").agg(count(lit(1)).as("c"), max("rk").as("m"))
      assert(perVec.filter(col("c") > k || col("m") =!= col("c")).count() == 0,
        "ranks must be dense 1..c with c <= k")
    } finally g.unpersist()
    // nprobe = all cells → candidates are the whole corpus → the graph
    // IS the brute-force top-k graph under the same tie-break
    val cfgAll = GraftConfig(ivfNprobe = GraftConfig.default.ivfCentroids)
    val full = new graft.operators.SimilarityOps(cfgAll)
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .withColumn("n2", graft.functions.Vec.norm2N("embedding"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cosine").desc, col("nbr_id"))
    val brute = e.as("x").join(e.select(col("vec_id").as("nbr_id"),
        col("embedding").as("ve"), col("n2").as("vn2")).as("y"),
        col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        graft.functions.Vec.cosineFromParts(
          graft.functions.Vec.dotN("embedding", "ve"), col("n2"), col("vn2")).as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cfgAll.knnK)
      .select("vec_id", "nbr_id", "rk", "cosine")
    val fast = full.q140KnnGraph(spark, sf)
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty)
  }

  test("q142: edit stats bounded and consistent on real pairs") {
    val out = Dedup.q142DupDiff(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (la, lb, d, f) = (r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))
      assert(d >= math.abs(la - lb), "edit distance at least the length gap")
      assert(d <= math.max(la, lb), "edit distance at most the longer length")
      assert(f >= 0.0 && f <= 1.0)
      assert(f == d.toDouble / math.max(la, lb))
    }
  }

  test("q132 eval invariants: hits bounded by both sides, rates in [0,1]") {
    val r = Dedup.q132LshEval(spark, sf).collect()(0)
    val (nt, nc, nh) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nh <= nt && nh <= nc)
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    assert(nt > 0, "no truth pairs at this sf — eval is vacuous")
  }

  test("q246: rr is exactly 1/rank when found, 0 when missed; truth matches brute rank 1") {
    val truth = Similarity.q40AnnBrute(spark, sf).filter(col("rk") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = Similarity.q246MrrEval(spark, sf).collect()
    assert(rows.length == truth.size)
    rows.foreach { r =>
      assert(truth(r.getLong(0)) == r.getLong(1))
      if (r.getBoolean(4)) {
        assert(r.getDouble(3) == 1.0 / r.getInt(2))
        assert(r.getInt(2) >= 1 && r.getInt(2) <= Similarity.IvfTopK)
      } else {
        assert(r.isNullAt(2) && r.getDouble(3) == 0.0)
      }
    }
  }

  test("q250: hard negatives share the query's cell, easy ones never do; draws reproduce") {
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .withColumn("n2", graft.functions.Vec.norm2N("embedding"))
    val cells = Similarity.assign(e, Similarity.trainIndex(spark, sf))
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def run() = Similarity.q250HardNegatives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val got = run()
    assert(got.exists(_._2 == "hard") && got.exists(_._2 == "easy"))
    got.foreach { case (q, kind, _, n) =>
      assert(n != q, "never the query itself")
      if (kind == "hard") assert(cells(n) == cells(q), s"hard ($q,$n) crosses cells")
      else assert(cells(n) != cells(q), s"easy ($q,$n) stays inside the cell")
    }
    assert(run() == got, "pairs are a pure function of corpus + index")
  }

  test("q279: full-coverage entry set makes the beam walk equal exhaustive search, recall 1") {
    // 1 query + 7 entries covering every other vector: with nprobe =
    // centroids the guided entry pool is the whole corpus minus the
    // query, beamEntries = 7 admits all of it, and visited is exactly
    // q40's candidate set — beam top-k must equal brute-force bitwise.
    val dir = pqDir((0L to 7L).map(i =>
      i -> Seq((i * 0.3f) % 1.1f, 0.7f - i * 0.1f, (i * i % 5) * 0.2f, 0.4f)): _*)
    val ops = new graft.operators.SimilarityOps(GraftConfig(
      annQueries = 1, annTopK = 3, beamEntries = 7, beamWidth = 16,
      beamHops = 1, ivfCentroids = 4, kmeansIters = 1, ivfNprobe = 4))
    val beam = ops.q279GraphAnnSearch(spark, dir)
    val brute = ops.q40AnnBrute(spark, dir)
    assert(beam.exceptAll(brute).isEmpty && brute.exceptAll(beam).isEmpty,
      "full-coverage beam must reproduce the exact ranking")
    ops.q280GraphAnnRecall(spark, dir).collect().foreach(r =>
      assert(r.getAs[Double]("recall") == 1.0))
  }

  test("q279: results stay inside the hop-bounded reachable set of the entry graph") {
    val cfg = GraftConfig.default
    val edges = Similarity.persistedKnnGraph(spark, sf)
      .select("vec_id", "nbr_id").collect()
      .groupBy(_.getLong(0)).map { case (s, rs) => s -> rs.map(_.getLong(1)).toSet }
    // per-query entry seeds are the IVF-guided set (the round-14
    // serving default); the FULL h-hop neighborhood of each seed set
    // is a superset of anything that query's beam can visit
    val entries = Similarity.ivfGuidedEntries(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def reachOf(seed: Set[Long]): Set[Long] = {
      var reach = seed
      for (_ <- 1 to cfg.beamHops)
        reach = reach ++ reach.flatMap(v => edges.getOrElse(v, Set.empty))
      reach
    }
    val res = Similarity.q279GraphAnnSearch(spark, sf).collect()
    assert(res.nonEmpty)
    res.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val rks = rows.map(_.getAs[Int]("rk")).sorted.toSeq
      assert(rks == (1 to rks.size) && rks.size <= cfg.annTopK, "dense ranks, <= k")
      val reach = reachOf(entries.getOrElse(q, Set.empty))
      rows.foreach { r =>
        assert(r.getLong(1) != q, "never the query itself")
        assert(reach.contains(r.getLong(1)),
          s"result ${r.getLong(1)} outside the $q walk's reachable set — probe not bounded")
      }
    }
    Similarity.q280GraphAnnRecall(spark, sf).collect().foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
  }

  test("beam walk: per-hop lineage cuts change nothing — cut ≡ uncut row for row") {
    // r17 made beamSearchOver localCheckpoint each hop (compute-once);
    // the cuts sit at union boundaries, so the visited rows — and the
    // final ranking over them — must be bit-identical to the uncut plan
    val edges = Similarity.persistedKnnGraph(spark, sf)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Int]("rk"), r.getAs[Double]("cosine"))).sortBy(t => (t._1, t._3)).toSeq
    val cut = keyed(Similarity.beamSearchOver(spark, sf, edges,
      Some(Similarity.ivfGuidedEntries(spark, sf))).collect())
    val uncut = keyed(Similarity.beamSearchOver(spark, sf, edges,
      Some(Similarity.ivfGuidedEntries(spark, sf)), hopCuts = false).collect())
    assert(cut.nonEmpty && cut == uncut,
      "per-hop checkpoints must not change the walk's results")
  }

  test("q291 reads the PERSISTED recompacted graph (doctored artifact collapses the walk to entries)") {
    val base = GraftConfig.default
    // a distinct knnK keys a PRIVATE artifact set for this test, so
    // doctoring cannot leak into other suites' (or the bench's) reads
    val ops = new graft.operators.SimilarityOps(GraftConfig(knnK = base.knnK + 2))
    val key = s"k=${ops.cfg.knnK},np=${base.ivfNprobe},c=${base.ivfCentroids}," +
      s"ki=${base.kmeansIters},tm=${base.ivfTrainMod},u=${base.splitTrainUpper}"
    val path = graft.sources.Scratch.keyedDir("knnd_recompact", sf, spark,
      Seq("embeddings.parquet"), key)
    val pp = new org.apache.hadoop.fs.Path(path)
    val fs = pp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // scratch survives JVM runs — a previous run leaves it DOCTORED
    if (fs.exists(pp)) fs.delete(pp, true)
    ops.q290KnnRecompact(spark, sf).collect() // the nightly job: builds + persists
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")),
      "q290 must leave the recompacted graph behind as a persisted artifact")
    import spark.implicits._
    // doctor: no edges at all — a reading q291's walk can only ever
    // score its guided entry points, which we can replay exactly
    Seq.empty[(Long, Long, Int, Double)].toDF("vec_id", "nbr_id", "rk", "cosine")
      .write.mode("overwrite").parquet(path)
    def keyRows(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_hit"),
        r.getAs[Double]("recall"))).sortBy(_._1).toSeq
    val st = ops.knnDeltaParts(spark, sf)
    val expected = keyRows(ops.recallVsBrute(spark, sf,
      ops.beamSearchOver(spark, sf,
        Seq.empty[(Long, Long)].toDF("src", "dst"),
        Some(ops.splitGuidedEntries(spark, sf, st)))).collect())
    val got = keyRows(ops.q291RecompactRecall(spark, sf).collect())
    assert(got == expected,
      "edge-free artifact must collapse q291 to the entries-only recall — q291 is not reading the artifact")
  }

  test("q309 retrain-and-swap: post-swap serving ≡ q280 bitwise; both versions committed and readable") {
    // spec-owned root (the public q309 runs on run-unique scratch and
    // drops its chain in a finally — unreachable for shape assertions)
    val root = java.nio.file.Files.createTempDirectory("knnvchain").toString + "/chain"
    val got = Similarity.q309RetrainSwapAt(spark, sf, root)
    val fresh = Similarity.q280GraphAnnRecall(spark, sf)
    assert(got.exceptAll(fresh).isEmpty && fresh.exceptAll(got).isEmpty,
      "serving from the committed head must equal the fresh-trained walk row for row")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.sources.VersionChain.latest(fs, root).contains(2),
      "the swap commits exactly v1 (pre-swap) and v2 (retrained)")
    // rollback surface: v1 — the mixed pre-swap state — stays readable
    // and is genuinely DIFFERENT from the retrained head
    val v1 = spark.read.parquet(graft.sources.VersionChain.dataPath(root, 1))
    val v2 = spark.read.parquet(graft.sources.VersionChain.dataPath(root, 2))
    assert(v1.count() > 0 && v2.count() > 0)
    assert(v1.exceptAll(v2).count() > 0,
      "pre-swap mixed edges must differ from the full retrain — else the swap bought nothing")
    // the head is CAS-guarded: a late writer racing v2 loses
    assert(!graft.sources.VersionChain.commit(fs, root, 2, s"$root/_nope"),
      "a second v2 commit must lose the CAS")
  }

  test("q350 streaming retraction: drain ≡ batch q340; the per-batch flip audit reconciles with the final resurrected set") {
    val base = java.nio.file.Files.createTempDirectory("sretr").toString
    val got = Dedup.q350DrainAt(spark, sf, s"$base/landing", s"$base/ckpt",
      s"$base/state", s"$base/ledger", s"$base/flips").localCheckpoint(true)
    val batch = Dedup.q340ContainmentRetract(spark, sf)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "the drained retraction must equal batch q340 row for row")
    // audit-trail reconciliation: every doc the waves resurrected was
    // announced in exactly the batch its last container died, and docs
    // later retracted themselves drop out via the ledger subtraction
    val flips = spark.read.parquet(s"$base/flips")
    val led = spark.read.parquet(s"$base/ledger").select("doc_id").distinct()
    val announced = flips.select("doc_id").distinct()
      .join(led, Seq("doc_id"), "left_anti")
    val res = got.filter(col("resurrected")).select("doc_id")
    assert(announced.exceptAll(res).isEmpty && res.exceptAll(announced).isEmpty,
      "union(per-batch flips) minus the ledger must equal the final resurrected set")
    assert(flips.select("doc_id").distinct().count() == flips.count(),
      "a doc's verdict flips at most once — its last container dies in exactly one batch")
    // the feed really was multi-batch: state advanced past v1
    val fs = new org.apache.hadoop.fs.Path(s"$base/state")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/state/v2")),
      "two takedown waves must fold as (at least) two micro-batches")
  }

  test("q349 tombstone fold: ledger resets AT the v2 commit; the committed index carries zero tombstoned ids; serve ≡ the ledger-free plan") {
    import graft.sources.VersionChain
    val root = java.nio.file.Files.createTempDirectory("foldchain").toString + "/chain"
    val ledger = java.nio.file.Files.createTempDirectory("foldledger").toString + "/ledger"
    val got = Similarity.q349RetrainFoldAt(spark, sf, root, ledger)
      .localCheckpoint(true)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the reset happened AT the swap: the ledger is empty except the
    // fold marker, and the marker names the committed version
    val lf = fs.listStatus(new org.apache.hadoop.fs.Path(ledger)).map(_.getPath.getName)
    assert(lf.toSet == Set("_folded_v2"),
      s"post-swap ledger must be empty + marker naming v2, found: ${lf.mkString(",")}")
    assert(VersionChain.latest(fs, root).contains(2),
      "the swap commits exactly v1 (pre-fold) and v2 (survivor-trained)")
    // structural deletion: the committed assignment contains NO
    // tombstoned id — serving needs no anti-join because the index
    // itself no longer holds the deleted vectors
    val tomb = substring(md5(col("vec_id").cast("string")), 1, 2) >=
      GraftConfig.default.docRetractLower
    val asg = spark.read.parquet(VersionChain.dataPath(root, 2) + "/assign")
    assert(asg.filter(tomb).count() == 0,
      "a tombstoned id inside the committed assignment means the fold failed")
    assert(asg.count() > 0 && spark.read.parquet(
        VersionChain.dataPath(root, 2) + "/cents").count() > 0,
      "v2 must carry both the survivor assignment and the survivor centroids")
    // post-swap serve ≡ the ledger-free plan recomputed directly:
    // train/assign/serve on the surviving corpus, no ledger anywhere
    val ops = Similarity
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .withColumn("n2", Vec.norm2N("embedding"))
    val survivors = e.filter(!tomb)
    val cents = ops.trainIndexOn(survivors)
    val expected = ops.serveAssigned(ops.assign(survivors, cents),
      survivors.filter(col("vec_id") < ops.NumQueries), cents,
      GraftConfig.default.ivfNprobe)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "post-swap serving must equal the ledger-free survivor plan row for row")
  }

  test("q317 entry ladder: matched-budget arms, one row per (arm, query), ladder entries obey the descent") {
    val cfg = GraftConfig.default
    val rows = Similarity.q317EntryLadder(spark, sf).collect()
    assert(rows.length == 2 * cfg.annQueries, "one recall row per query per arm")
    val byMode = rows.groupBy(_.getString(0))
    assert(byMode.keySet == Set("ladder", "nprobe2x"))
    rows.foreach { r =>
      val (hit, rec) = (r.getAs[Long]("n_hit"), r.getAs[Double]("recall"))
      assert(hit >= 0 && hit <= cfg.annTopK && rec == hit.toDouble / cfg.annTopK)
    }
    // the ladder's entry set is budget-matched and never the query itself
    val ent = Similarity.ladderEntries(spark, sf).collect()
    val perQ = ent.groupBy(_.getLong(0))
    assert(perQ.values.forall(_.length <= cfg.beamEntries),
      "ladder entries must respect the shared beamEntries budget")
    ent.foreach(r => assert(r.getLong(0) != r.getLong(1), "never the query itself"))
  }

  test("q279 serves from the PERSISTED graph, not a rebuild (doctored artifact collapses the walk)") {
    import spark.implicits._
    val dir = pqDir((0L to 7L).map(i =>
      i -> Seq((i * 0.3f) % 1.1f, 0.7f - i * 0.1f, (i * i % 5) * 0.2f, 0.4f)): _*)
    val ops = new graft.operators.SimilarityOps(GraftConfig(
      annQueries = 1, annTopK = 3, beamEntries = 2, beamWidth = 16,
      beamHops = 2, ivfCentroids = 4, kmeansIters = 1))
    ops.q279GraphAnnSearch(spark, dir).collect() // builds + persists the graph
    val path = graft.sources.Scratch.keyedDir("knn_graph", dir, spark,
      Seq("embeddings.parquet"),
      s"k=${ops.cfg.knnK},np=${ops.cfg.ivfNprobe},c=4,ki=1,tm=${ops.cfg.ivfTrainMod}")
    // doctor: no edges at all -> every hop's frontier is empty, so the
    // answer must be exactly the scored (guided) entry points
    Seq.empty[(Long, Long, Int, Double)].toDF("vec_id", "nbr_id", "rk", "cosine")
      .write.mode("overwrite").parquet(path)
    val expected = ops.ivfGuidedEntries(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty && expected.size <= ops.cfg.annTopK,
      "entry set must fit inside top-k for the collapse check to be exact")
    val got = ops.q279GraphAnnSearch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"edge-free artifact must collapse the walk to the entry points, got $got vs $expected")
  }

  test("q322 soft dedup: weights are exact 1/family_size fixed point and agree with q57's families") {
    val rows = Dedup.q322SoftDedup(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.length == nDocs, "soft dedup KEEPS every doc — that's the point")
    val S = 1000000L
    rows.foreach { r =>
      val (sz, w, eff) = (r.getLong(2), r.getLong(3), r.getLong(4))
      // w = S div sz exactly: w·sz ≤ S < (w+1)·sz, and the effective
      // chars are the doc's chars at that weight
      assert(w * sz <= S && (w + 1) * sz > S, s"w=$w sz=$sz is not S div sz")
      assert(eff % w == 0, "eff_chars_micro must be n_chars · w_micro")
    }
    // a family's members all carry the family's own weight, and the
    // family structure IS q57's (same labels, same sizes)
    val q57 = Dedup.q57DedupFamilies(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    rows.foreach { r =>
      val (fam, sz) = q57(r.getLong(0))
      assert(r.getLong(1) == fam && r.getLong(2) == sz,
        s"doc ${r.getLong(0)}: soft-dedup family disagrees with q57")
    }
    assert(rows.exists(_.getLong(3) == S), "singletons must keep full weight")
    assert(rows.exists(_.getLong(3) < S), "the corpus has real families — some doc must be down-weighted")
  }

  test("q324 containment is COMPLETE: equals the naive directional all-shared-gram join on real data") {
    val fast = Dedup.q324ContainmentJoin(spark, sf).select("src_id", "dst_id", "containment")
    val sh = Dedup.wordGrams(spark, sf)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("src_id"), col("b.doc_id").as("dst_id"))
      .agg(count(lit(1)).as("i"))
    val (tn, td) = (GraftConfig.default.contTNum.toLong, GraftConfig.default.contTDen.toLong)
    val naive = inter
      .join(sz.select(col("doc_id").as("src_id"), col("n").as("na")), "src_id")
      .filter(lit(td) * col("i") >= lit(tn) * col("na"))
      .select(col("src_id"), col("dst_id"),
        (col("i").cast("double") / col("na")).as("containment"))
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
    assert(fast.count() > 0, "threshold too high — the completeness check compared empty sets")
  }

  test("q324 is DIRECTIONAL: a quoted doc pairs toward its container, never back, and Jaccard misses it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("contain").toString
    val words = (1 to 20).map(i => f"w$i%02d")
    // doc 1 = the first 12 words of doc 2: every gram of 1 is a gram
    // of 2 (containment 1.0), but 2's grams outnumber 1's 2:1
    Seq((1L, words.take(12).mkString(" ")),
        (2L, words.mkString(" ")),
        (3L, (21 to 40).map(i => f"w$i%02d").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.q324ContainmentJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == Set((1L, 2L)), s"only quote→container qualifies; got ${got.keySet}")
    assert(got((1L, 2L)) == 1.0, "a verbatim prefix quote is fully contained")
    // the symmetric join CANNOT see this pair: J = 8/16 = 0.5 < 3/5
    val jac = Dedup.q131SimJoin(spark, dir).collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "Jaccard at the q131 threshold must miss the quote — that asymmetry is q324's reason to exist")
  }

  test("q324 serves the PERSISTED pair artifact (doctoring it changes the answer)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("containart").toString
    val words = (1 to 20).map(i => f"w$i%02d")
    Seq((1L, words.take(12).mkString(" ")), (2L, words.mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val first = Dedup.q324ContainmentJoin(spark, dir).collect()
    assert(first.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val cfg = GraftConfig.default
    val path = graft.sources.Scratch.keyedDir("contain_pairs", dir, spark,
      Seq("documents.parquet"), s"w=${cfg.simJoinWords},t=${cfg.contTNum}/${cfg.contTDen}")
    Seq((77L, 99L, 0.5)).toDF("src_id", "dst_id", "containment")
      .write.mode("overwrite").parquet(path)
    val doctored = Dedup.q324ContainmentJoin(spark, dir).collect()
    assert(doctored.length == 1 && doctored(0).getLong(0) == 77L,
      "q324 must READ the artifact, not silently recompute the join")
  }

  test("q332 incremental containment ≡ the full rebuild, row for row (the absorption theorem)") {
    val inc = Dedup.q332ContainmentDelta(spark, sf).select("src_id", "dst_id", "containment")
    val full = Dedup.q324ContainmentJoin(spark, sf).select("src_id", "dst_id", "containment")
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
      "delta absorption must equal a from-scratch rebuild exactly")
    assert(inc.count() > 0, "no pairs at this sf — the equality check is vacuous")
  }

  test("q332 reads the persisted base pair table (doctored artifact surfaces the sentinel)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("containdelta").toString
    val words = (1 to 20).map(i => f"w$i%02d")
    Seq((1L, words.take(12).mkString(" ")), (2L, words.mkString(" ")),
        (3L, (21 to 40).map(i => f"w$i%02d").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Dedup.q332ContainmentDelta(spark, dir).collect() // builds the base artifacts
    val cfg = GraftConfig.default
    val path = graft.sources.Scratch.keyedDir("cont_base_pairs", dir, spark,
      Seq("documents.parquet"),
      s"w=${cfg.simJoinWords},t=${cfg.contTNum}/${cfg.contTDen},u=${cfg.splitTrainUpper}")
    Seq((777L, 888L, 0.9)).toDF("src_id", "dst_id", "containment")
      .write.mode("overwrite").parquet(path)
    val doctored = Dedup.q332ContainmentDelta(spark, dir).collect()
    assert(doctored.exists(r => r.getLong(0) == 777L && r.getLong(1) == 888L),
      "q332 must union the PERSISTED base pairs, not recompute the base side")
  }

  test("q340: a quote whose ONLY container retracts resurrects; one backed by a surviving container stays scrubbed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("contretract").toString
    val words = (1 to 20).map(i => f"w$i%02d")
    val other = (21 to 40).map(i => f"w$i%02d")
    // md5-bucket facts (docRetractLower = e0): ids 3 and 5 retract;
    // 1, 2, 4 survive. doc 1 is quoted ONLY by retracting doc 3 →
    // resurrects; doc 2 is quoted by surviving doc 4 → stays scrubbed.
    Seq((1L, words.take(12).mkString(" ")),
        (3L, words.mkString(" ")),
        (2L, other.take(12).mkString(" ")),
        (4L, other.mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.q340ContainmentRetract(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 4L), s"only survivors may appear, got ${out.keySet}")
    assert(out(1L) == ((0L, false, true)),
      "doc 1's only container retracted: clean again, flip recorded")
    assert(out(2L) == ((1L, true, false)),
      "doc 2's container survives: still a quote, no flip")
    assert(out(4L) == ((0L, false, false)), "the container itself is untouched")
  }

  test("q329 quote scrub: the quote dies toward the larger container; mutual containment keeps the lower id") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("qscrub").toString
    val words = (1 to 20).map(i => f"w$i%02d")
    // 1 ⊂ 2 (strictly smaller), 4 ≡ 5 (gram-identical mutual
    // containment), 3 unrelated
    Seq((1L, words.take(12).mkString(" ")),
        (2L, words.mkString(" ")),
        (3L, (21 to 40).map(i => f"w$i%02d").mkString(" ")),
        (4L, (41 to 52).map(i => f"w$i%02d").mkString(" ")),
        (5L, (41 to 52).map(i => f"w$i%02d").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.q329QuoteScrub(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(1L) == ((1L, true)), "the strict quote must die toward its container")
    assert(got(2L) == ((0L, false)), "the container survives")
    assert(got(3L) == ((0L, false)))
    assert(got(4L) == ((0L, false)), "mutual containment: the lower id is the keeper")
    assert(got(5L) == ((1L, true)), "mutual containment: the higher id is the scrubbed copy")
  }
}

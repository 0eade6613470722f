package graft

import graft.operators.{DedupOps, GraphOpsLib, SequenceOps, SimilarityOps}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class ConfigSpec extends GraftSpec {

  test("SequenceOps honors a custom k (all k-mers have length k)") {
    val ops = new SequenceOps(GraftConfig(k = 12))
    val lens = ops.kmers(spark, sf, ops.K).select(length(col("kmer")).as("l")).distinct().collect()
    assert(lens.map(_.getInt(0)).toSet == Set(12))
  }

  test("custom config flows into the oracle SQL too") {
    val ops = new SequenceOps(GraftConfig(highFreq = 7))
    assert(ops.q11Sql.contains(">= 7"))
    val d = new DedupOps(GraftConfig(nearDupCos = 0.9))
    assert(d.q34Sql.contains(">= 0.9"))
  }

  test("iterative oracles unroll from the configured round counts") {
    val g = new GraphOpsLib(GraftConfig(tipRounds = 2))
    assert(g.q43Sql.contains("r2_out") && !g.q43Sql.contains("r3_out"))
    val s = new SimilarityOps(GraftConfig(kmeansIters = 1))
    assert(s.q41Sql.contains("c1") && !s.q41Sql.contains("c2"))
  }

  test("a saved-and-loaded IVF index searches identically to a fresh one") {
    // parquet round-trips the DOUBLE centroid arrays bit-exactly, so
    // train-once-probe-forever gives the same results as retraining
    val s = new SimilarityOps(GraftConfig(kmeansIters = 1))
    val idxPath = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    s.saveIndex(spark, sf, idxPath)
    val fromLoaded = s.searchWithCentroids(spark, sf, s.loadIndex(spark, idxPath)).collect().toSet
    val fresh = s.q41AnnIvf(spark, sf).collect().toSet
    assert(fromLoaded == fresh && fresh.nonEmpty)
  }

  test("default objects equal default-config instances") {
    assert(graft.operators.Sequence.K == GraftConfig().k)
    assert(graft.operators.Dedup.NearDupCos == GraftConfig().nearDupCos)
    assert(graft.operators.GraphOps.TipRounds == GraftConfig().tipRounds)
  }

  test("every entry-point object shares the one default config instance") {
    // the durability knob (and any env/prop override) must hit ALL loops
    // at once — a private GraftConfig() copy in one object would silently
    // keep that object's loops on localCheckpoint
    assert(graft.operators.Sequence.cfg eq GraftConfig.default)
    assert(graft.operators.GraphOps.cfg eq GraftConfig.default)
    assert(graft.operators.Dedup.cfg eq GraftConfig.default)
    assert(graft.operators.Similarity.cfg eq GraftConfig.default)
    assert(graft.operators.Relational.cfg eq GraftConfig.default)
    assert(graft.operators.TextAnalysis.cfg eq GraftConfig.default)
  }

  test("reliableStageCheckpoints=true runs the iterative loops on reliable checkpoints") {
    // exercises the cluster-durability path end-to-end: q57's CC loop and
    // q63's repeat-adjust rounds cut lineage via checkpoint(true), which
    // requires (and writes to) the session checkpoint dir
    val d = new DedupOps(GraftConfig(reliableStageCheckpoints = true))
    assert(d.q57DedupFamilies(spark, sf).count() > 0)
    val g = new GraphOpsLib(GraftConfig(reliableStageCheckpoints = true))
    assert(g.q63RepeatAdjust(spark, sf).count() > 0)
  }

  test("every GraftConfig field is set by some caller; unset knobs are constants") {
    // source-only: a field no operator, tool, test or benchmark assigns
    // has one value in use, so it belongs beside its query as a named
    // constant. The deployment settings are set through -Dgraft.* /
    // GRAFT_* and are exempt.
    val roots = Seq("src/main/scala", "src/test/scala", "perfbench").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repository root: ${r.toAbsolutePath}"))
    val sources = roots.flatMap(r => Files.walk(r).iterator.asScala.toList)
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftConfig.scala")
      .map(p => new String(Files.readAllBytes(p), "UTF-8"))
    val deployment = Set("reliableStageCheckpoints", "scratchDir")
    val unset = GraftConfig().productElementNames.filterNot(deployment).filterNot { n =>
      val assign = s"(?<![\\w.])$n\\s*=(?![=>])".r
      sources.exists(assign.findFirstIn(_).isDefined)
    }.toList
    assert(unset.isEmpty, s"GraftConfig fields no caller sets: ${unset.mkString(", ")}")
  }
}

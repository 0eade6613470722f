package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** End-to-end composition — CloudBrush's BrushAssembler phase driver
  * [BrushAssembler.java:256-760] re-expressed as a library of composable
  * DataFrame→DataFrame stages instead of HDFS-path handoffs between
  * MapReduce jobs.
  *
  * The reference iterates graph cleaning to convergence (tips→compress
  * loop at BrushAssembler.java:588-614, find→pop bubbles at :622-660);
  * here each fixpoint is a [[graft.Fixpoint]] loop whose rounds cut
  * lineage every round (removeTips references its input ~13×) and
  * converge on an edge-count fixpoint. At 100 TB each round
  * is two broadcast anti-joins (the removal set is small) over the
  * partitioned edge list — no driver-side data, no all-pairs work.
  */
object Pipeline {

  private val cfg = graft.GraftConfig.default

  /** Detect steps per job in the CHEAP-detect assembly fixpoints (main
    * tip loop, repeat-boundary loop). Fusing trades ~1.5× the
    * (post-shrink, small) detect aggregate's compute for one fewer
    * driver-synchronized barrier per extra step — the right trade when
    * per-round job latency dominates round data (measured ~80% of the
    * sf0.1 assembly tail; on a 1000-executor cluster a barrier is a
    * full-cluster sync). 4 was measured slower than 2 (q62 7.58 →
    * 15.34 s). Loops whose detect is expensive (bubble pop) or that
    * converge in round 1 (post-lowcov tips) stay unfused. */
  private val FusedDetects = 2

  /** Iterate tip detect+remove until no tip remains (or maxRounds):
    * [[GraphOpsLib.tipsToConvergence]], one fused cut+count job per
    * round. */
  def cleanToConvergence(spark: SparkSession, edges0: DataFrame, maxRounds: Int = 25): DataFrame =
    GraphOps.tipsToConvergence(edges0, maxRounds, "clean.tips")

  /** Full assembly: overlap edges → tip cleaning to convergence → chain
    * compression on the cleaned graph → ordered consensus per chain.
    * One call from the raw document table to "contigs", mirroring the
    * reference driver's preprocess→graph→clean→merge→output chain. */
  def assemble(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cleaned = cleanToConvergence(spark, GraphOps.edges2(spark, dir).select("src", "dst"))
    val chains = GraphOps.resolveChainsFrom(spark,
      docs.select(col("doc_id").as("node")), cleaned, withDepth = true)
    GraphOps.consensusFrom(chains, docs)
  }

  /** q46: the assembled contig table. */
  def q46Assembly(spark: SparkSession, dir: String): DataFrame =
    assemble(spark, dir)

  /** Oracle: 12 unrolled tip rounds (idempotent past convergence; every
    * tested sf converges in ≤6) + recursive chain CTEs + consensus. */
  def q46Sql: String = GraphOps.assembleSql(12)

  /** q62: the FULL BrushAssembler phase chain [BrushAssembler.java:826-894
    * drives: preprocess → buildOverlap → buildStringGraph (chimeric-cut
    * loop :345-370 → transitive reduction + removal :372-383) →
    * removeTips loop :565-618 → popallbubbles loop :623-673 →
    * removelowcov (+ tips) :678-700 → edgeAdjustment repeat-boundary
    * loop :400-460 → contigs]. The one reference phase NOT mirrored is
    * pairedgeAdjustment — the reference itself ships it commented out
    * (BrushAssembler.java:873-880); its mate-support signal exists as
    * q35_mate_consistent. Every stage is an existing Graft operator
    * applied to the CURRENT edge set; rounds are the config-bounded
    * counts the oracle unrolls identically. Per-stage eager checkpoints
    * cut the k^rounds lineage growth (removeTips references its input
    * ~13×); with reliableStageCheckpoints each phase is also restartable
    * on a real cluster, mirroring the reference's materialized HDFS
    * handoffs between jobs. */
  def assembleFull(spark: SparkSession, dir: String): DataFrame =
    assembleFull(spark, dir, null)

  /** As [[assembleFull]], with the reference driver's after-every-phase
    * stats hook [BrushAssembler.java:839-885 calls computeStats after
    * preprocess/overlap/graph/cleaning]: when `onPhaseStats` is
    * non-null it receives (phase tag, one-row stats DataFrame — the
    * q28 shape: n_contigs/total_len/max_len/n50 of the CURRENT graph)
    * after each phase. The chain-resolution fixpoint behind the stats
    * runs at hook time; the final aggregate is left lazy for the
    * caller to collect/write. The default (null) path pays nothing and
    * q62's output and oracle are untouched. */
  def assembleFull(spark: SparkSession, dir: String,
      onPhaseStats: (String, DataFrame) => Unit): DataFrame =
    assembleFullWithPhases(spark, dir,
      if (onPhaseStats == null) null
      else (tag: String, e: DataFrame) => onPhaseStats(tag,
        GraphOps.statsFromEdges(spark, Tables.documents(spark, dir), e)))

  /** Core of [[assembleFull]]: runs the phase chain and returns the
    * FINAL edge state. `onPhase` (nullable) receives each phase's
    * (tag, edge state). The stats adapter above computes one chain
    * resolution per phase — fine for a driver printing progress; q82
    * instead collects the edge states and resolves ALL phases' chains
    * in ONE namespaced pointer-jump pass, which is why the contig tail
    * (chains + consensus) lives in [[assembleFullWithPhases]], not
    * here: q82 never consumes it and should not pay its eager chain
    * resolution. */
  private[graft] def assembleEdges(spark: SparkSession, dir: String,
      onPhase: (String, DataFrame) => Unit): DataFrame = {
    graft.GraftSession.ensureCheckpointDir(spark)
    val docs = Tables.documents(spark, dir)
    def phaseStats(tag: String, e: DataFrame): Unit =
      if (onPhase != null) onPhase(tag, e)
    // eager checkpoint per stage: cuts the k^stages lineage growth
    // (removeTips references its input ~13×). local (in-memory) by
    // default; cfg.reliableStageCheckpoints=true flips every stage cut to
    // a reliable checkpoint for multi-executor clusters — executor loss
    // invalidates localCheckpoint blocks — mirroring the reference's HDFS
    // handoffs. The internal fixpoint loops (resolveChainsFrom, tip
    // rounds) route through the same knob: nothing survives executor
    // loss unless reliableStageCheckpoints is set.
    def ck(df: DataFrame): DataFrame = graft.Ck.stage(df, cfg)
    // The low-coverage removal list rides on the q15 per-doc k-mer
    // profile — the heaviest SCAN-side subtree here — and depends on
    // nothing the graph phases compute: submit it from a second driver
    // thread now so its jobs fill the scheduler gaps the small
    // chimeric/tip/pop rounds leave idle, and await it at the lowcov
    // stage (graft.Par: scheduling-only overlap, results unchanged)
    val lowF = graft.Par.async(spark, "graft-asm-lowcov")(graft.Trace("asm.lowcov.list")(
      ck(GraphOps.q26LowCoverage(spark, dir).select(col("doc_id").as("nid")))))
    // if any phase before the lowcov await fails, kill the background
    // jobs instead of leaving them running with their failure swallowed
    try {
    // build string graph: chimeric-cut rounds on the variable-length
    // overlap graph (a shrink loop: lazy cut + count in ONE job per
    // round, early exit on an unchanged edge count — the reference's own
    // `remaining > 0` exit; the phase entry is sized once, so every round
    // and every later phase stops paying the build plan's task count),
    // then transitive reduction
    val q17 = graft.Trace("asm.q17")(ck(GraphOps.q17BestOverlap(spark, dir)))
    val oe = GraphOps.shrinkFrom("asm.chimeric", q17, q17.count(), cfg.asmChimericRounds)(
      r => GraphOps.reciprocalBestFrom(r.state))
    phaseStats("chimeric", oe)
    var e = graft.Trace("asm.transred")(ck(GraphOps.transReduceFrom(oe.select("src", "dst"))))
    phaseStats("transred", e)
    // tip rounds, bubble pop rounds — node-removal fixpoints: each
    // phase checkpoints the edge set ONCE and per round materializes
    // only the small removal list (GraphOps.nodeRemovalLoopFrom) instead
    // of rewriting the full edge set every round
    e = GraphOps.nodeRemovalLoopFrom(spark, e, cfg.asmTipRounds, "asm.tips",
      cutEntry = false, detectsPerJob = FusedDetects)(GraphOps.tipNodesFrom)
    phaseStats("tips", e)
    e = GraphOps.nodeRemovalLoopFrom(spark, e, cfg.asmPopRounds, "asm.pop")(
      GraphOps.poppedMidsFrom(_, docs))
    phaseStats("pop", e)
    // low-coverage node removal + post-lowcov tip rounds. The removal
    // list was materialized concurrently above (small: the set of
    // BELOW-threshold docs) and feeds two broadcast anti-joins
    val low = lowF()
    e = graft.Trace("asm.lowcov")(ck(
      e.join(broadcast(low.select(col("nid").as("src"))), Seq("src"), "left_anti")
        .join(broadcast(low.select(col("nid").as("dst"))), Seq("dst"), "left_anti")))
    phaseStats("lowcov", e)
    e = GraphOps.nodeRemovalLoopFrom(spark, e, cfg.asmPostLowcovTipRounds, "asm.tips2",
      cutEntry = false)(GraphOps.tipNodesFrom)
    phaseStats("tips2", e)
    // repeat-boundary edge adjustment rounds: keep maps are small, so a
    // round is a cut of the boundary table plus two broadcast joins
    // stacked on the phase entry checkpoint; rounds fuse pairwise
    // (FusedDetects) so the usual productive-then-converged pair costs
    // one driver barrier, not two
    e = GraphOps.repeatAdjustLoopFrom(spark, e, cfg.asmRepeatRounds, "asm.repeat",
      roundsPerJob = FusedDetects)
    phaseStats("repeat", e)
    e
    } catch { case t: Throwable => lowF.cancelJobs(); throw t }
  }

  /** [[assembleEdges]] plus the contig tail (compress + ordered
    * consensus over the final edge state) — the q62 output shape. */
  private[graft] def assembleFullWithPhases(spark: SparkSession, dir: String,
      onPhase: (String, DataFrame) => Unit): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val e = assembleEdges(spark, dir, onPhase)
    val chains = graft.Trace("asm.chains")(GraphOps.resolveChainsFrom(spark,
      docs.select(col("doc_id").as("node")), e, withDepth = true))
    graft.Trace("asm.consensus.plan")(GraphOps.consensusFrom(chains, docs))
  }

  def q62FullAssembly(spark: SparkSession, dir: String): DataFrame =
    assembleFull(spark, dir)

  /** Oracle: the same phase chain as staged MATERIALIZED CTEs — each
    * round's CTE is built by the stage's own SQL builder from the
    * previous round's output, with round counts read from the SAME
    * config the Spark side runs. */
  /** The q62 phase chain as staged CTEs; returns (stage CTE list,
    * (phase tag, CTE holding that phase's edge state) marks, final
    * edge CTE). Shared by the q62 contigs oracle and the q82 per-phase
    * stats oracle so both unroll the SAME chain from the SAME config. */
  private def asmStagesSql(): (Seq[String], Seq[(String, String)], String) = {
    val stages = scala.collection.mutable.ArrayBuffer.empty[String]
    val marks = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var cur = "oe0"
    stages += s"oe0 AS MATERIALIZED (${GraphOps.q17SqlFrom})"
    for (i <- 1 to cfg.asmChimericRounds) {
      stages += GraphOps.reciprocalBestSql(cur, s"c$i"); cur = s"c${i}_out"
    }
    marks += ("chimeric" -> cur)
    stages += GraphOps.transReduceSql(cur, "tr"); cur = "tr_out"
    marks += ("transred" -> cur)
    for (i <- 1 to cfg.asmTipRounds) {
      stages += GraphOps.tipRoundSqlFrom(cur, s"t$i"); cur = s"t${i}_out"
    }
    marks += ("tips" -> cur)
    for (i <- 1 to cfg.asmPopRounds) {
      stages += GraphOps.popRoundSql(cur, s"p$i"); cur = s"p${i}_out"
    }
    marks += ("pop" -> cur)
    stages += s"""lc AS MATERIALIZED (SELECT doc_id FROM (${GraphOps.q26SqlFrom})),
      |lc_out AS MATERIALIZED (SELECT src, dst FROM $cur
      |  WHERE src NOT IN (SELECT doc_id FROM lc)
      |    AND dst NOT IN (SELECT doc_id FROM lc))""".stripMargin
    cur = "lc_out"
    marks += ("lowcov" -> cur)
    for (i <- 1 to cfg.asmPostLowcovTipRounds) {
      stages += GraphOps.tipRoundSqlFrom(cur, s"u$i"); cur = s"u${i}_out"
    }
    marks += ("tips2" -> cur)
    for (i <- 1 to cfg.asmRepeatRounds) {
      stages += GraphOps.repeatCutRoundSql(cur, s"r$i"); cur = s"r${i}_out"
    }
    marks += ("repeat" -> cur)
    (stages.toSeq, marks.toSeq, cur)
  }

  def q62Sql: String = {
    val (stages, _, cur) = asmStagesSql()
    s"""WITH RECURSIVE
       |${stages.mkString(",\n")},
       |${GraphOps.chainDepthCtesFromEdges(cur)}
       |SELECT h.head, count(*) AS n_members,
       |  string_agg(d.text, ' | ' ORDER BY h.depth, h.node) AS consensus
       |FROM heads h JOIN documents d ON d.doc_id = h.node
       |GROUP BY h.head""".stripMargin
  }

  /** q82: the reference driver's OBSERVABILITY surface as a query —
    * one q28-shaped stats row per assembly phase (the after-every-phase
    * computeStats calls, BrushAssembler.java:839-885), built on the
    * [[assembleFull]] onPhaseStats hook. The oracle unrolls the same
    * phase chain and computes each phase's chain-compressed contig
    * stats with prefixed CTEs, so the whole per-phase trajectory is
    * hash-gated, not just the final contigs. */
  def q82PhaseStats(spark: SparkSession, dir: String): DataFrame = {
    // collect each phase's (already stage-checkpointed) edge state, then
    // resolve ALL phases' chains in one namespaced pointer-jump pass —
    // one O(log chain) loop total instead of one per phase (the
    // per-phase statsFromEdges adapter measured 21.5 s at sf0.1; the
    // fused pass runs at q62-plus-one-resolution cost). Each phase's
    // chain-interior fragment starts materializing on a BACKGROUND
    // thread the moment the phase lands (degree aggregations are
    // phase-local under the namespace), so the chain resolution's entry
    // table is ready when the last phase finishes instead of serializing
    // a 7-phase degree pass after it.
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    val frags = scala.collection.mutable.ArrayBuffer.empty[graft.Par.Async[DataFrame]]
    try {
      assembleEdges(spark, dir, (tag, e) => {
        val ecur = e.select("src", "dst")
        acc += (tag -> ecur)
        frags += GraphOps.inChainFragmentAsync(spark, tag, ecur)
      })
      val inChain = frags.map(_()).reduce(_ unionAll _)
      GraphOps.multiPhaseStatsFromEdges(spark, Tables.documents(spark, dir), acc.toSeq,
        inChainPre = inChain)
    } catch { case t: Throwable => frags.foreach(_.cancelJobs()); throw t }
  }

  def q82Sql: String = {
    val (stages, marks, _) = asmStagesSql()
    val statsCtes = marks.map { case (tag, cte) =>
      GraphOps.phaseStatsSql(cte, s"st_$tag", tag)
    }
    s"""WITH RECURSIVE
       |${stages.mkString(",\n")},
       |${statsCtes.mkString(",\n")}
       |${marks.map { case (tag, _) => s"SELECT * FROM st_${tag}_st" }
          .mkString("\nUNION ALL\n")}""".stripMargin
  }
}

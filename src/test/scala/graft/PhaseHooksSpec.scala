package graft

import graft.operators.Pipeline
import org.apache.spark.sql.DataFrame

class PhaseHooksSpec extends GraftSpec with FixpointFixture {

  test("assembleFull emits one q28-shaped stats row after every phase") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    val contigs = Pipeline.assembleFull(spark, sf, (tag, st) => seen += ((tag, st)))
    assert(seen.map(_._1).toSeq ==
      Seq("chimeric", "transred", "tips", "pop", "lowcov", "tips2", "repeat"))
    seen.foreach { case (tag, st) =>
      assert(st.columns.toSeq == Seq("n_contigs", "total_len", "max_len", "n50"), tag)
      assert(st.count() == 1, s"$tag stats must be one row")
    }
    // cleaning only removes: contig count is monotone non-decreasing
    // (every removed edge can only split chains), and the hooked run's
    // output matches the default run exactly
    val counts = seen.map(_._2.collect()(0).getLong(0))
    assert(counts.zip(counts.tail).forall { case (a, b) => b >= a }, counts)
    assert(contigs.count() == Pipeline.assembleFull(spark, sf).count())
  }

  test("fused multi-phase stats match per-phase statsFromEdges exactly") {
    import spark.implicits._
    import graft.operators.GraphOps
    val docs = (1L to 10L).map(i => (i, 100L + i)).toDF("doc_id", "n_chars")
    // phase a: two chains; phase b: a chain sharing nodes with a 2-cycle
    // (cycle nodes must be excluded identically on both paths)
    val phaseA = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("src", "dst")
    val phaseB = Seq((7L, 8L), (8L, 9L), (9L, 10L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val phases = Seq("a" -> phaseA, "b" -> phaseB)
    val fused = GraphOps.multiPhaseStatsFromEdges(spark, docs, phases)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val separate = phases.map { case (tag, e) =>
      val r = GraphOps.statsFromEdges(spark, docs, e).collect()(0)
      tag -> (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }.toMap
    assert(fused == separate)
  }

  test("bounded loops warn when the round budget is exhausted mid-cleaning") {
    import graft.operators.{GraphOps, GraphOpsLib}
    val warns = scala.collection.mutable.ArrayBuffer.empty[String]
    val old = Convergence.onWarn
    Convergence.onWarn = msg => warns += msg
    // every config- or argument-bounded kernel on the Fixpoint driver:
    // (tag, a budget below what the input needs, an ample budget).
    // Cc, Scc and chain resolution are bounded by their data instead.
    val table: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      // the fixture's tips peel a 7-node path, one node per round
      ("clean.tips", () => Pipeline.cleanToConvergence(spark, edges, maxRounds = 1),
        () => Pipeline.cleanToConvergence(spark, edges)),
      ("q43.tips", () => new GraphOpsLib(GraftConfig(tipRounds = 1)).q43TipsIterative(spark, sf),
        () => new GraphOpsLib(GraftConfig(tipRounds = 10)).q43TipsIterative(spark, sf)),
      ("q63.repeat", () => new GraphOpsLib(GraftConfig(asmRepeatRounds = 1)).q63RepeatAdjust(spark, sf),
        () => new GraphOpsLib(GraftConfig(asmRepeatRounds = 10)).q63RepeatAdjust(spark, sf)),
      ("q159.kcore", () => new GraphOpsLib(GraftConfig(kcoreRounds = 1)).kcoreFrom(und),
        () => new GraphOpsLib(GraftConfig(kcoreRounds = 10)).kcoreFrom(und)),
      ("spec.sssp", () => GraphOps.ssspFrom(wedges, seeds, 1, "spec.sssp"),
        () => GraphOps.ssspFrom(wedges, seeds, 30, "spec.sssp")),
      ("spec.ecc", () => GraphOps.ssspFrom(wedges, sourceSeeds, 1, "spec.ecc"),
        () => GraphOps.ssspFrom(wedges, sourceSeeds, 30, "spec.ecc")),
      ("spec.tips", () => GraphOps.nodeRemovalLoopFrom(spark, edges, 1, "spec.tips")(GraphOps.tipNodesFrom),
        () => GraphOps.nodeRemovalLoopFrom(spark, edges, 20, "spec.tips",
          detectsPerJob = 2)(GraphOps.tipNodesFrom)),
      ("spec.repeat", () => GraphOps.repeatAdjustLoopFrom(spark, edges, 1, "spec.repeat"),
        () => GraphOps.repeatAdjustLoopFrom(spark, edges, 4, "spec.repeat", roundsPerJob = 2)))
    try {
      for ((tag, capped, ample) <- table) {
        warns.clear()
        capped().count()
        assert(warns.size == 1 && warns.head.startsWith(s"$tag: round bound 1 exhausted") &&
          warns.head.contains("(the last round "), s"$tag: $warns")
        warns.clear()
        ample().count()
        assert(warns.isEmpty, s"$tag: $warns")
      }
    } finally Convergence.onWarn = old
  }
}

package graft

import graft.operators.{Cc, GraphOps, GraphOpsLib, Pipeline, Scc}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The round loops on [[Fixpoint]]: job counts, durability, state
  * release and the convergence guard, on one small fixed graph. */
class FixpointSpec extends GraftSpec with FixpointFixture {

  /** Every moved kernel as one call on `g` (one config). */
  private def kernels(g: GraphOpsLib): Seq[(String, () => DataFrame)] = Seq(
    "cc" -> (() => Cc.labels(uv, g.cfg)),
    "scc" -> (() => Scc.labels(uv, g.cfg)),
    "sssp" -> (() => g.ssspFrom(wedges, seeds, 20, "spec.sssp")),
    "sssp per source" -> (() => g.ssspFrom(wedges, sourceSeeds, 20, "spec.ecc")),
    "kcore" -> (() => g.kcoreFrom(und)),
    "cleanToConvergence" -> (() => g.tipsToConvergence(edges, 25, "spec.clean")),
    "q43" -> (() => g.q43TipsIterative(spark, sf)),
    "q63" -> (() => g.q63RepeatAdjust(spark, sf)),
    "node removal x2" -> (() => g.nodeRemovalLoopFrom(spark, edges, 4, "spec.tips",
      detectsPerJob = 2)(g.tipNodesFrom)),
    "node removal" -> (() => g.nodeRemovalLoopFrom(spark, edges, 3, "spec.tips1")(g.tipNodesFrom)),
    "repeat adjust" -> (() => g.repeatAdjustLoopFrom(spark, edges, 2, "spec.repeat",
      roundsPerJob = 2)),
    "chains" -> (() => g.resolveChainsFrom(spark, nodes, edges, withDepth = true)))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).sorted.toSeq

  /** (jobs the call ran, jobs the call plus a count of its result ran) */
  private def jobs(f: => DataFrame): (Int, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val out = f
      ListenerBusDrain(sc)
      val call = n.get
      out.count()
      ListenerBusDrain(sc)
      (call, n.get)
    } finally sc.removeSparkListener(l)
  }

  test("each kernel runs the job counts it ran before the driver") {
    // (call, call + count) as the replaced loops ran them: the range
    // over 6 runs in two JVMs (40 more for Scc, 20 for Cc and chains,
    // where AQE's stage timing moves the count by a few jobs). The
    // fused node-removal path runs one job FEWER per fused job than it
    // did (48/50 and 15/17 before) since its cut goes through Ck: with
    // a raw lazy localCheckpoint in that cut it ran the old counts
    // again. assembleEdges drops the same 5 jobs (121-122/126-127).
    val pinned: Map[String, (Range, Range)] = Map(
      "cc" -> (35 to 38, 36 to 39),
      "scc" -> (161 to 170, 162 to 171),
      "sssp" -> (85 to 85, 87 to 87),
      "sssp per source" -> (103 to 103, 105 to 105),
      "kcore" -> (17 to 17, 20 to 20),
      "cleanToConvergence" -> (26 to 26, 27 to 27),
      "q43" -> (20 to 20, 21 to 21),
      "q63" -> (21 to 21, 22 to 22),
      "node removal x2" -> (46 to 46, 48 to 48),
      "node removal" -> (12 to 12, 14 to 14),
      "repeat adjust" -> (14 to 14, 20 to 20),
      "chains" -> (24 to 25, 32 to 33),
      "assembleEdges" -> (116 to 117, 121 to 122))
    val all = kernels(GraphOps) :+ ("assembleEdges" -> (() => Pipeline.assembleEdges(spark, sf, null)))
    val got = all.map { case (name, k) => name -> jobs(k()) }
    val off = got.filterNot { case (name, (call, total)) =>
      pinned(name)._1.contains(call) && pinned(name)._2.contains(total)
    }
    assert(off.isEmpty, s"job counts outside the pinned ranges: $off (pinned $pinned)")
  }

  test("every kernel returns the same rows on reliable checkpoints") {
    GraftSession.ensureCheckpointDir(spark)
    val local = kernels(new GraphOpsLib(GraftConfig(reliableStageCheckpoints = false)))
    val reliable = kernels(new GraphOpsLib(GraftConfig(reliableStageCheckpoints = true)))
    for (((name, l), (_, r)) <- local.zip(reliable)) {
      val want = rows(l())
      assert(want.nonEmpty, name)
      assert(rows(r()) == want, s"$name differs on reliable checkpoints")
    }
  }

  test("a shrink loop releases superseded round states") {
    val sc = spark.sparkContext
    // persisted RDDs a call leaves behind (ids newer than any before it)
    def leftBehind(f: => DataFrame): (Int, Int) = {
      val before = (sc.getPersistentRDDs.keys.toSeq :+ -1).max
      Trace.drain()
      f.count()
      val rounds = Trace.drain().count(_._1.startsWith("clean.tips."))
      (sc.getPersistentRDDs.keys.count(_ > before), rounds)
    }
    val (oneLeft, oneRounds) = leftBehind(Pipeline.cleanToConvergence(spark, edges, maxRounds = 1))
    val (manyLeft, manyRounds) = leftBehind(Pipeline.cleanToConvergence(spark, edges))
    assert(oneRounds == 1 && manyRounds >= 4, (oneRounds, manyRounds))
    assert(oneLeft == manyLeft,
      s"$manyRounds rounds left $manyLeft persisted RDDs, 1 round left $oneLeft")
  }
}

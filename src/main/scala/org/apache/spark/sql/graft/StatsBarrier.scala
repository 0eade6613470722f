package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Repairs the two things `Dataset.checkpoint`/`localCheckpoint` get
  * wrong for iterative kernels under AQE (round-11 findings, both
  * measured):
  *
  * 1. DROPS the origin statistics the checkpoint carries into its
  *    [[LogicalRDD]] (`LogicalRDD.fromDataset` → origin stats,
  *    unconditional — no SQLConf gate as of 4.1). In a kernel that
  *    checkpoints every round, round N+1's plan JOINS round N's
  *    checkpointed outputs and the size-only estimator MULTIPLIES
  *    child `sizeInBytes`, so the carried BigInt roughly squares per
  *    generation — its bit-length doubles every round, and after ~20
  *    compounding generations the driver spends minutes inside
  *    `BigInteger.multiply` planning 7-row joins (q187 at sf0.01:
  *    134 s total, single silent planning gaps up to 62 s; 6.6 s once
  *    cut). Stats reset to the bounded default; join-side choice falls
  *    to the kernels' explicit hints plus AQE's runtime sizes.
  *
  * 2. RESTORES the materialized output partitioning. `fromDataset`
  *    copies `executedPlan.outputPartitioning`, but under AQE the
  *    executed plan is an [[AdaptiveSparkPlanExec]] — a leaf wrapper
  *    that never overrides `outputPartitioning`, so EVERY checkpoint
  *    taken with AQE on advertises `UnknownPartitioning` (measured:
  *    even `repartition(n, col(k)).localCheckpoint(true)` reports
  *    Unknown, and a same-key join of two such checkpoints plans TWO
  *    exchanges). The kernels' exchange-free round contract — the
  *    edge table hash-partitioned once, rejoined every round — needs
  *    the FINAL adaptive plan's partitioning, which exists once the
  *    eager checkpoint has materialized; it is copied onto the
  *    rebuilt leaf when its attributes line up with the leaf output
  *    (the RDD's partition layout IS the final plan's, so advertising
  *    it is exact).
  */
object StatsBarrier {

  /** `ck` must be the result of `checkpoint`/`localCheckpoint` on
    * `origin` (a [[LogicalRDD]] leaf); anything else passes through
    * unchanged. (The origin-stats fields live in LogicalRDD's second,
    * private parameter list, so the leaf is REBUILT, not copied.) */
  def resetCheckpointStats(ck: DataFrame, origin: DataFrame): DataFrame =
    ck.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val session = ck.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val part = materializedPartitioning(origin, l)
        Dataset.ofRows(session,
          new LogicalRDD(l.output, l.rdd, part, l.outputOrdering,
            l.isStreaming, l.stream)(session, None, None))
      case _ => ck
    }

  /** Drop a checkpoint RDD's blocks. `RDD.unpersist` would log a
    * lineage-truncation warning for every local checkpoint, and the
    * round loops release one per round on purpose. */
  def freeBlocks(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** The origin's FINAL physical partitioning, if the adaptive plan
    * has materialized and its partitioning expressions resolve against
    * the checkpoint leaf's output; the leaf's own (pre-repair) value
    * otherwise. */
  private def materializedPartitioning(origin: DataFrame, l: LogicalRDD): Partitioning = {
    val finalPart: Option[Partitioning] = origin.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec if a.isFinalPlan => Some(a.executedPlan.outputPartitioning)
      case a: AdaptiveSparkPlanExec => None // lazy checkpoint: plan not final yet
      case p => Some(p.outputPartitioning)
    }
    finalPart match {
      case Some(_: UnknownPartitioning) | None => l.outputPartitioning
      case Some(p) =>
        val refs = p match {
          case e: org.apache.spark.sql.catalyst.expressions.Expression => e.references
          case _ => AttributeSet.empty // SinglePartition & co: no attributes
        }
        if (refs.subsetOf(AttributeSet(l.output))) p else l.outputPartitioning
    }
  }
}

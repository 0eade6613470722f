package graft

import org.apache.spark.sql.DataFrame

/** The checkpoint helper for the round loops and stage chains: eager
  * localCheckpoint on a single JVM, reliable checkpoint when
  * `cfg.reliableStageCheckpoints` (executor loss mid-loop cannot drop a
  * round on a cluster) — ALWAYS followed by
  * [[org.apache.spark.sql.graft.StatsBarrier]], which strips the
  * origin statistics the checkpoint would otherwise carry into its
  * leaf. Without the barrier, iterated checkpoint→join→checkpoint
  * generations SQUARE the carried `sizeInBytes` estimate every round
  * and Catalyst's size-only estimator ends up multiplying BigIntegers
  * with millions of digits — q187 at sf0.01 spent ~125 of its 134
  * seconds inside `BigInteger.multiply` on 7-row plans (see the
  * barrier's scaladoc for the full mechanism).
  *
  * Every [[Fixpoint]] round cuts through here. Fourteen straight-line,
  * compute-once cuts outside the round loops still call
  * `localCheckpoint` directly (Scratch, Dedup, GraphOps' bubble pop,
  * Similarity, CdcStream, EventStream); `CkSpec` pins that list so no
  * round loop can bypass this object again. */
object Ck {

  /** Eager stage cut (the shared stageCk discipline). */
  def stage(df: DataFrame, cfg: GraftConfig): DataFrame =
    org.apache.spark.sql.graft.StatsBarrier.resetCheckpointStats(
      if (cfg.reliableStageCheckpoints) df.checkpoint(true)
      else df.localCheckpoint(true),
      df)

  /** Lazy local stage cut (compute-once within one composition; the
    * reliable flavor has no lazy form worth the extra job, so it
    * stays eager there). */
  def lazyStage(df: DataFrame, cfg: GraftConfig): DataFrame =
    org.apache.spark.sql.graft.StatsBarrier.resetCheckpointStats(
      if (cfg.reliableStageCheckpoints) df.checkpoint(true)
      else df.localCheckpoint(false),
      df)

  /** Stage cut + row count in ONE job: lazy localCheckpoint stores its
    * blocks as a side effect of the count's single pass (the fused
    * materialize+probe the fixpoint loops use). */
  def sizedStage(df: DataFrame, cfg: GraftConfig): (DataFrame, Long) = {
    val c = lazyStage(df, cfg)
    (c, c.count())
  }

  /** Materialize an iterative loop's re-joined side KEY-PARTITIONED and
    * row-count-SIZED: one lazy cut+count evaluates the (possibly heavy)
    * build plan once, then the counted rows re-cut through an EXPLICIT
    * hash repartition sized by cfg.stageRowsPerPartition. Explicit,
    * because the stats barrier can only lift partitioning from a FINAL
    * adaptive plan (a lazy cut never has one) and a column-only
    * repartition gets AQE-coalesced out of co-location; sized, because
    * a fixed 32-way layout makes every round pay 32 task launches for a
    * table that may hold a few thousand rows (measured on q170:
    * 1.6 → 2.8 s with a fixed count; sizing restores the small-scale
    * task economy while keeping the at-scale exchange-free contract).
    * Returns (keyed table, row count). */
  def keyedStage(df: DataFrame, key: String, cfg: GraftConfig): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.col
    val (raw, n) = sizedStage(df, cfg)
    val maxParts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = math.max(1L, math.min(maxParts.toLong,
      (n + cfg.stageRowsPerPartition - 1) / cfg.stageRowsPerPartition)).toInt
    val keyed = stage(raw.repartition(parts, col(key)), cfg)
    release(raw)
    (keyed, n)
  }

  /** Right-size a just-COUNTED, materialized stage table's partitioning.
    *
    * Stage outputs inherit the parallelism of the corpus-sized scan/join
    * plans that built them (64+ thin partitions for a 26k-row edge set at
    * sf0.1), and every fixpoint round downstream then pays task scheduling
    * and AQE stage latency PER PARTITION — measured ~3× of a cleaning
    * round's cost, with identical results. One extra narrow re-cut at
    * phase entry buys every round after it (round outputs inherit the
    * sized partitioning through narrow broadcast joins).
    *
    * rows→partitions ratio is cfg.stageRowsPerPartition: 26k edges → 1
    * partition locally; 10B edges at corpus scale → ~10k partitions on a
    * cluster — the bytes-per-task discipline AQE applies to shuffles,
    * extended to checkpoint scans AQE cannot re-plan. Only ever shrinks
    * (and only on a ≥2× gap, so a well-sized table passes through). */
  def sized(df: DataFrame, rows: Long, cfg: GraftConfig): DataFrame = {
    val want = math.max(1L, (rows + cfg.stageRowsPerPartition - 1) / cfg.stageRowsPerPartition)
    if (want * 2 <= df.rdd.getNumPartitions) stage(df.coalesce(want.toInt), cfg) else df
  }

  /** Free a cut (or a cache-managed persist) once nothing reads it
    * again. `Dataset.unpersist` alone leaves a checkpoint's blocks in
    * place: they belong to the RDD under the checkpoint's `LogicalRDD`
    * leaf, which the cache manager never sees. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      org.apache.spark.sql.graft.StatsBarrier.freeBlocks(l.rdd)
    case _ => df.unpersist(blocking = false)
  }
}

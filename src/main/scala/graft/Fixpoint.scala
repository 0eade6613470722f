package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, sum, when}
import org.apache.spark.storage.StorageLevel

/** The one round driver behind every graph fixpoint: Cc and Scc's
  * min-label propagation, Scc's edge pruning, SSSP/BFS, k-core, the
  * tip / pop / repeat cleaning loops and chain resolution. CloudBrush
  * runs each cleaning phase until nothing changes (the `remaining > 0`
  * loops at BrushAssembler.java:411/577/633); here a phase is a driver
  * loop over checkpointed DataFrames, and a round is one thing to
  * write, cut and count (GLog's single round driver; rounds are the
  * unit of cost, as in MapReduce Algorithms for Big Data Analysis).
  *
  * A kernel supplies its entry state and a step that turns one round's
  * state into the next round's (unmaterialized) output. The driver owns
  * the rest:
  *   - the round budget (`maxRounds`; a [[Steps]] loop spends it per
  *     detect step, not per job);
  *   - the per-round cut through [[Ck]] and the count that decides
  *     convergence, both picked by the kernel's [[Cut]];
  *   - releasing the round states it created once a later cut no longer
  *     reads them, plus the intermediates a step registered with
  *     [[Round.own]]. It never releases the entry state, which is the
  *     caller's (unless `releaseInit`: the kernel made it and nothing
  *     else reads it), nor the returned state, which q82's phase hook
  *     keeps;
  *   - one [[Trace]] span per round, tagged `<tag>.<n>`, or
  *     `<tag>.j<n>(x<k>)` for a job of k fused steps, and a
  *     `Trace.log` line with the round's count;
  *   - [[Convergence.check]] with the last round's count when the
  *     budget runs out first.
  */
object Fixpoint {

  /** What a step sees: the round (job) number from 1; the state to
    * advance (the entry state in round 1, which a [[Steps]] loop may
    * pass as null); the last count (the entry count in round 1); and
    * the global numbers of the detect steps this round runs (just `n`
    * except in a [[Steps]] loop). */
  final class Round private[Fixpoint] (val n: Int, val state: DataFrame, val last: Long,
      val steps: Range) {
    private[Fixpoint] val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** Register a round-local cut or persist for release once this
      * round's output is cut. Call from the driver thread only. */
    def own(df: DataFrame): DataFrame = { owned += df; df }
  }

  /** How the driver cuts a round's output and reads convergence from
    * its count. */
  sealed trait Cut

  /** Lazy cut and row count in one job. Converged when a round leaves
    * the count unchanged (the shrink loops, whose steps only remove
    * rows; a loop that emptied its graph never warns). `resize`
    * re-cuts each round's output to its row count ([[Ck.sized]]). */
  final case class Shrink(resize: Boolean = false) extends Cut

  /** Lazy cut and a count of the rows where `changed` holds, in one
    * job; or, `eager`, an eager cut followed by that count. Converged
    * when no row changed. */
  final case class Frontier(changed: Column, eager: Boolean = false) extends Cut

  /** Chain resolution's cut: eager every 4th round, a MEMORY_AND_DISK
    * persist in between, `changed` rows counted from round 3 on.
    * Converged on zero movers or a mover plateau. Its budget is the
    * data's own bound and cycles circulate forever, so it never warns. */
  final case class Cadence(changed: Column) extends Cut

  /** Up to `perJob` fused detect steps per job. The step's output
    * carries each row's global step number in a `step` column; one lazy
    * cut + aggregate counts the last step's rows. Converged when the
    * last step found nothing. */
  final case class Steps(perJob: Int) extends Cut

  /** Run rounds from `init` (whose row or frontier count is
    * `initCount`; 0 means nothing to do, -1 unknown) until `cut`
    * reports convergence or `maxRounds` is spent. Returns the last
    * state. */
  def run(tag: String, init: DataFrame, initCount: Long, maxRounds: Int, cut: Cut,
      cfg: GraftConfig, releaseInit: Boolean = false)(step: Round => DataFrame): DataFrame = {
    var state = init
    var count = initCount
    var converged = initCount == 0
    var spent = 0
    var n = 0
    var lastRound = "never ran"
    // driver-made states that the next lineage cut makes unreadable
    var live: List[DataFrame] = if (releaseInit && init != null) List(init) else Nil
    var uncut = false
    while (!converged && spent < maxRounds) {
      n += 1
      val k = cut match {
        case Steps(perJob) => math.min(math.max(1, perJob), maxRounds - spent)
        case _ => 1
      }
      val r = new Round(n, state, count, spent + 1 to spent + k)
      val label = cut match {
        case _: Steps => s"$tag.j$n(x$k)"
        case _ => s"$tag.$n"
      }
      val (next, m, isCut) = Trace(label)(materialize(step(r), cut, r, cfg))
      spent += k
      r.owned.foreach(Ck.release)
      cut match {
        case _: Shrink =>
          converged = m == count
          lastRound = s"removed ${count - m} edges"
        case _: Cadence =>
          converged = m == 0 || (n > 3 && m == count)
        case _: Frontier =>
          converged = m == 0
          lastRound = s"left a frontier of $m rows"
        case _: Steps =>
          converged = m == 0
          lastRound = s"detected $m nodes"
      }
      Trace.log(s"$label count=$m")
      if (isCut) { live.foreach(Ck.release); live = List(next) } else live ::= next
      uncut = !isCut
      if (m >= 0) count = m
      state = next
    }
    if (uncut) {
      // the last round only persisted: cut it so its lineage can go
      state = Ck.stage(state, cfg)
      live.foreach(Ck.release)
    }
    Trace.log(s"$tag rounds=$n converged=$converged")
    cut match {
      case _: Cadence =>
      case _: Shrink => Convergence.check(tag, maxRounds, converged || count == 0, lastRound)
      case _ => Convergence.check(tag, maxRounds, converged, lastRound)
    }
    state
  }

  /** Cut a step's output as `cut` says: (next state, its count or -1
    * when the round is not counted, whether the cut truncated lineage). */
  private def materialize(out: DataFrame, cut: Cut, r: Round,
      cfg: GraftConfig): (DataFrame, Long, Boolean) = cut match {
    case Shrink(resize) =>
      val (c, m) = Ck.sizedStage(out, cfg)
      if (!resize) (c, m, true)
      else {
        val s = Ck.sized(c, m, cfg)
        if (s ne c) Ck.release(c)
        (s, m, true)
      }
    case Frontier(changed, eager) =>
      val c = if (eager) Ck.stage(out, cfg) else Ck.lazyStage(out, cfg)
      (c, c.filter(changed).count(), true)
    case Cadence(changed) =>
      val cutNow = r.n % 4 == 0
      val c = if (cutNow) Ck.stage(out, cfg) else out.persist(StorageLevel.MEMORY_AND_DISK)
      (c, if (r.n >= 3) c.filter(changed).count() else -1L, cutNow)
    case Steps(_) =>
      // sum(null) over an empty table reads as 0 rows
      val c = Ck.lazyStage(out, cfg)
      val row = c.agg(sum(when(col("step") === r.steps.last, 1L).otherwise(0L))).collect()(0)
      (c, if (row.isNullAt(0)) 0L else row.getLong(0), true)
  }
}

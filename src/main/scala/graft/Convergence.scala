package graft

/** Guard for config-bounded fixpoints (the [[Fixpoint]] round loops).
  *
  * The bounded-round loops are EXACT versus the reference's
  * run-to-convergence loops only while the configured bound covers
  * convergence (GraftConfig.asm*Rounds) — converged rounds are
  * idempotent no-ops, so any sufficient bound gives identical output.
  * A corpus that outgrows its bound would silently under-clean; this
  * guard makes that visible: [[Fixpoint.run]] reports every bounded
  * loop that exhausted its budget before converging, with what its
  * last round still did. The sink is swappable so specs can assert the
  * warning fires (and a cluster deployment can route it to metrics). */
object Convergence {
  @volatile var onWarn: String => Unit =
    msg => System.err.println(s"[graft] WARN $msg")

  /** Call after a bounded loop exits: `converged` = the last round
    * removed nothing / detected nothing new; `lastRound` says what it
    * did instead (e.g. "removed 4 edges", "left a frontier of 9 rows"). */
  def check(tag: String, maxRounds: Int, converged: Boolean, lastRound: String): Unit =
    if (!converged)
      onWarn(s"$tag: round bound $maxRounds exhausted before convergence (the last round " +
        s"$lastRound) — output may be under-converged versus run-to-convergence; " +
        "raise the corresponding rounds config")
}

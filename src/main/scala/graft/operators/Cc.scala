package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Ck, Fixpoint, GraftConfig}

/** Shared weakly-connected-components kernel: min-label propagation
  * with a pointer-jump (path-halving) hop per round — the distributed
  * CC algorithm q57's dedup families pioneered in this codebase.
  * Since round 10 q57 DELEGATES here too (the historical reason for
  * its inlined copy — fusing the loop with the pair-table checkpoint
  * lifecycle — disappeared once this kernel checkpoints and
  * key-partitions the symmetrized edge table itself), so every CC
  * caller (q144, q57, q197, q204) shares one implementation, and
  * [[Scc]]'s directed passes run the same [[propagate]] rounds.
  *
  * Scale contract (the q57 lessons, round 2-5): every round cuts
  * lineage through [[graft.Fixpoint]] (reliable when
  * cfg.reliableStageCheckpoints — executor loss mid-loop cannot drop a
  * round on a cluster); the hop makes convergence ≈ log(component
  * diameter) rounds; the round cap is the pure-propagation bound
  * (diameter < |nodes|) so capping can never leave labels unresolved;
  * superseded round checkpoints are released as soon as the next round
  * is materialized.
  */
private[graft] object Cc {

  /** Labels for an undirected graph given as an edge list (u, v) —
    * symmetrized internally. Returns (node, lbl) for every node WITH
    * an edge; isolated nodes are the caller's join (they label as
    * themselves). lbl = the minimum node id reachable from the node. */
  def labels(edges: DataFrame, cfg: GraftConfig): DataFrame = {
    graft.GraftSession.ensureCheckpointDir(edges.sparkSession)
    // eager cut BEFORE the loop: und is referenced once per round (plus
    // the seed), and a lazy und would re-run the caller's whole edge
    // pipeline — q20's boundary-key + verify join for q144 — every
    // round (q57 learned this with its pair table in round 3; measured
    // here: 8.9 s → ~3 s at sf0.1)
    val e = edges.select(col("u"), col("v"))
    val (und, _) = Ck.keyedStage(
      e.unionAll(e.select(col("v").as("u"), col("u").as("v"))), "v", cfg)
    val seed = und.groupBy(col("u").as("node")).agg(min(col("v")).as("l"))
      .select(col("node"), col("node").as("prev"),
        least(col("node"), col("l")).as("lbl"))
    propagate(und, seed, cfg, "cc").select(col("node"), col("lbl"))
  }

  /** Frontier size below which the per-round delta broadcasts instead
    * of shuffling (shared with [[GraphOpsLib.ssspFrom]]). */
  private[operators] val deltaBroadcastRows = 500000L

  /** The min-label propagation behind [[labels]] and [[Scc]]: a label
    * flows from v to u along every (u, v) row of `eP`, which must be
    * key-partitioned on v ([[Ck.keyedStage]]). `seed` = (node, prev,
    * lbl) for every node that can send or receive a label, with lbl ≤
    * node already folding in each node's plain neighbor ids. Returns
    * the final (node, prev, lbl) checkpoint: lbl(u) = min node
    * reachable from u. Releases `eP`.
    *
    * Round-10 rework (frontier messaging, Pregel's vote-to-halt in
    * DataFrame form):
    *   - MESSAGES COME ONLY FROM THE FRONTIER. A label update at u can
    *     only originate from a neighbor v whose label CHANGED last
    *     round (an unchanged lbl(v) was already folded into lbl(u) the
    *     round v last changed; round 1's frontier is the nodes whose
    *     seed already beats their id — plain neighbor ids are baked
    *     into the seed itself). The message join therefore streams the
    *     edge table against a delta that SHRINKS every round instead of
    *     the full N-row label table — at 100 TB this is the difference
    *     between O(frontier) and O(E) bytes shuffled per round.
    *   - THE EDGE TABLE IS HASH-PARTITIONED ON ITS JOIN KEY ONCE per
    *     call (checkpoint preserves outputPartitioning), so no round
    *     re-exchanges the E-row side; while the frontier is large the
    *     delta exchanges to match (shuffled-hash, build = delta), and
    *     once it drops under [[deltaBroadcastRows]] it BROADCASTS —
    *     zero exchange on either side for the tail rounds.
    *   - CONVERGENCE IS THE FRONTIER COUNT — the state carries (node,
    *     prev, lbl), prev = label at round start, so the frontier is a
    *     filter over just-checkpointed blocks, not a join; the LAZY cut
    *     and that count share ONE job per round (r18: the lazy
    *     localCheckpoint stores its blocks during the count's pass;
    *     reliable mode stays eager inside Ck.lazyStage). */
  private[operators] def propagate(eP: DataFrame, seed: DataFrame, cfg: GraftConfig,
      tag: String): DataFrame = {
    val lbl0 = Ck.lazyStage(seed, cfg)
    val n = lbl0.count()
    val out = Fixpoint.run(tag, lbl0, n, math.max(1L, n).toInt,
        Fixpoint.Frontier(col("lbl") =!= col("prev")), cfg, releaseInit = true) { r =>
      val lbl = r.state
      val delta = lbl.filter(col("lbl") =!= col("prev"))
        .select(col("node").as("v"), col("lbl").as("vl"))
      // round 1's frontier size is unknown (the entry count is every node)
      val deltaJ =
        if (r.n > 1 && r.last <= deltaBroadcastRows) broadcast(delta)
        else delta.hint("shuffle_hash")
      val nbrMin = eP.join(deltaJ, "v")
        .groupBy(col("u").as("node")).agg(min(col("vl")).as("nl"))
      val prop = lbl.select(col("node"), col("lbl"))
        .join(nbrMin.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"))
      // single pointer-jump hop per round (path halving) — a deeper
      // two-chase variant was measured NOT faster here (6.7 vs 5.9 s at
      // sf0.1): the loop's cost is per-round AQE/job latency on
      // trivially small data, which extra plan depth doesn't reduce;
      // that latency amortizes at real scale where rounds carry real
      // bytes (the q62 stage-chain lesson). Identity rows can't improve
      // any pointer — only lbl < node rows matter on the lookup side.
      val hop = prop.filter(col("lbl") < col("node"))
        .select(col("node").as("hn"), col("lbl").as("hl"))
      prop.join(hop, prop("lbl") === hop("hn"), "left")
        .select(col("node"), col("prev"),
          least(col("lbl"), coalesce(col("hl"), col("lbl"))).as("lbl"))
    }
    // the final state is itself checkpointed — no lineage back to eP
    Ck.release(eP)
    out
  }
}

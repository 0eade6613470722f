package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Ck, Fixpoint, GraftConfig}

/** Strongly-connected-components kernel — the DIRECTED twin of [[Cc]]
  * for the string graph's repeat tangles (the directed cycles
  * CutRepeatBoundary.java's ≥2-in/≥2-out boundaries and BrushAssembler's
  * edgeAdjustment loop [BrushAssembler.java:431-460] exist to break;
  * q144's weak components symmetrize them away).
  *
  * Algorithm: iterated forward/backward min-label with edge pruning —
  * per outer round on the remaining edge set,
  *   1. f(u) = min node FORWARD-reachable from u (incl. u),
  *      b(u) = min node BACKWARD-reachable (incl. u) — two independent
  *      pointer-jump propagations (run CONCURRENTLY via graft.Par; the
  *      hop f(u) ← min(f(u), f(f(u))) is sound because anything f(u)
  *      reaches, u reaches);
  *   2. ASSIGN every node with f(u) = b(u) = m to SCC m — exact, never
  *      heuristic: u →* m and m →* u is mutual reachability, and f/b
  *      are constant across an SCC so the whole SCC assigns together;
  *   3. PRUNE every edge whose endpoints disagree on (f, b) — safe
  *      because an SCC-internal edge always agrees — plus every edge
  *      touching an assigned node (its SCC is complete).
  * A pure DAG loses ALL its edges in round 1 (consecutive nodes differ
  * in f on ascending chains and in b on descending ones), so chains
  * never peel one-node-per-round; surviving structure is the tangle
  * neighborhood, which shrinks toward exact cycles where f = b fires.
  * Progress is guaranteed: the remaining graph's global-min node always
  * has f = b = itself, so every round assigns ≥ 1 SCC and the
  * node-count cap can never clip an unconverged answer silently
  * (Convergence guard, Cc's contract). Nodes never assigned and never
  * on a surviving edge are singleton SCCs — absent from the output,
  * the caller labels them as themselves (q144's join shape).
  */
private[graft] object Scc {

  /** (node, scc_id) for every node of a NON-trivial assignment or
    * self-assigned class minimum; callers coalesce absent nodes to
    * themselves. Edges as (u, v) directed. */
  def labels(edges0: DataFrame, cfg: GraftConfig): DataFrame = {
    val spark = edges0.sparkSession
    graft.GraftSession.ensureCheckpointDir(spark)
    // lazy cut + count fused into one job (r18)
    val (e0, nE) = Ck.sizedStage(edges0.select(col("u"), col("v")), cfg)
    val empty = e0.select(col("u").as("node"), col("u").as("scc_id")).limit(0)
    if (nE == 0) return empty
    val cap = math.max(1L,
      e0.select(col("u").as("n")).unionAll(e0.select(col("v").as("n"))).distinct().count()).toInt
    var assigned: DataFrame = null
    // every remaining edge is frontier: a round prunes, the loop ends
    // when no edge is left (lazy cut + edge count in ONE job, r18); the
    // last edge state is not part of the answer
    Ck.release(Fixpoint.run("scc", e0, nE, cap, Fixpoint.Frontier(lit(true)), cfg,
        releaseInit = true) { r =>
      val e = r.state
      val nodes = r.own(Ck.stage(
        e.select(col("u").as("node")).unionAll(e.select(col("v").as("node"))).distinct(), cfg))
      // forward and backward propagations are independent — overlap them
      // on a second driver thread (the lowcov/graft.Par pattern)
      val bF = graft.Par.async(spark, s"graft-scc-bwd-${r.n - 1}")(
        minLabels(nodes, e.select(col("v").as("u"), col("u").as("v")), cfg, "scc.bwd"))
      val f = r.own(minLabels(nodes, e, cfg, "scc.fwd"))
      // LAZY cut: fb's blocks materialize inside the `assigned` stage cut
      // job just below (the first action over fb), so the f/b join pays
      // no standalone materialization job; um/vm then read cached blocks
      val fb = try { val b = r.own(bF())
        r.own(Ck.lazyStage(f.select(col("node"), col("lbl").as("f"))
          .join(b.select(col("node"), col("lbl").as("b")), "node"), cfg))
      } catch { case t: Throwable => bF.cancelJobs(); throw t }
      val newA = fb.filter(col("f") === col("b"))
        .select(col("node"), col("f").as("scc_id"))
      val prev = assigned
      assigned = Ck.stage(if (prev == null) newA else prev.unionAll(newA), cfg)
      if (prev != null) Ck.release(prev)
      val um = fb.select(col("node").as("u"), col("f").as("uf"), col("b").as("ub"))
      val vm = fb.select(col("node").as("v"), col("f").as("vf"), col("b").as("vb"))
      e.join(um.hint("shuffle_hash"), "u").join(vm.hint("shuffle_hash"), "v")
        .filter(col("uf") === col("vf") && col("ub") === col("vb") &&
                col("uf") =!= col("ub")) // f=b endpoints are assigned — drop their edges
        .select("u", "v")
    })
    assigned
  }

  /** One directed min-label pass: lbl(u) = min node reachable from u
    * along edge direction, including u — [[Cc.propagate]] over the
    * unsymmetrized edges, whose seed folds in each node's out-neighbor
    * ids; `nodes` must cover every edge endpoint (sink nodes hold their
    * own label for the neighbor join). Returns Cc.propagate's final
    * (node, prev, lbl) checkpoint.
    *
    * Why NOT warm-start from the previous OUTER round's labels (the
    * round-9 verdict's suggested lever): pruning only ever REMOVES
    * edges, so reachable sets shrink and min-reachable labels GROW
    * monotonically across outer rounds — old labels are LOWER bounds,
    * and min-propagation can only descend, so seeding with them is
    * unsound. Counterexample: cell {5 → 7} (no cycle) that carried
    * f = 3, b = 4 from the old graph. Seeded propagation is already at
    * its (wrong) fixpoint — f stays 3, b stays 4 for both nodes — so
    * neither node ever reaches f = b, no edge is ever pruned (both
    * endpoints still agree), and the outer loop spins to its cap and
    * trips the convergence guard. Seeds would have to satisfy
    * exact_new(w) ≤ seed(w) ≤ w for exactness, and old labels sit on
    * the wrong side of that window. */
  private def minLabels(nodes: DataFrame, e: DataFrame, cfg: GraftConfig,
      tag: String): DataFrame = {
    // one shuffle up front buys an exchange-free edge side in EVERY
    // round; keyedStage = explicit, row-count-sized hash partitioning
    // (see Ck.keyedStage for why explicit AND sized)
    val (eP, _) = Ck.keyedStage(e, "v", cfg)
    val seed = nodes
      .join(e.groupBy(col("u").as("node")).agg(min(col("v")).as("m")), Seq("node"), "left")
      .select(col("node"), col("node").as("prev"),
        least(col("node"), coalesce(col("m"), col("node"))).as("lbl"))
    Cc.propagate(eP, seed, cfg, tag)
  }
}

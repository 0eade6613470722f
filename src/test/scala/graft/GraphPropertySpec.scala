package graft

import graft.operators.GraphOps
import scala.util.Random

/** Randomized property tests: the distributed graph primitives must
  * agree with naive single-machine reference implementations on random
  * graphs (seeded, so failures reproduce). */
class GraphPropertySpec extends GraftSpec {

  private def randomEdges(rnd: Random, n: Int, m: Int): Seq[(Long, Long)] =
    Iterator.continually((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (s, d) => s != d }
      .take(m).toSeq.distinct

  private def refRemoveTips(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val inc = edges.flatMap { case (s, d) => Seq(s -> d, d -> s) }
    val deg = inc.groupBy(_._1).view.mapValues(_.size).toMap
    val tips = inc.collect { case (nd, nb) if deg(nd) == 1 && deg(nb) >= 2 => nd }.toSet
    edges.filterNot { case (s, d) => tips(s) || tips(d) }.toSet
  }

  private def refChainHeads(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val out = edges.groupBy(_._1).view.mapValues(_.size).toMap
    val in = edges.groupBy(_._2).view.mapValues(_.size).toMap
    val parent = edges.collect {
      case (u, v) if out.getOrElse(u, 0) == 1 && in.getOrElse(v, 0) == 1 => v -> u
    }.toMap
    nodes.flatMap { n =>
      var cur = n
      var seen = Set.empty[Long]
      var cycle = false
      while (parent.contains(cur) && !cycle) {
        if (seen(cur)) cycle = true
        else { seen += cur; cur = parent(cur) }
      }
      if (cycle) None else Some(n -> cur)
    }.toMap
  }

  private def refKcore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val und = edges.flatMap { case (s, d) => Seq(s -> d, d -> s) }.distinct
    var alive = und.map(_._1).toSet
    var changed = true
    while (changed) {
      val deg = und.filter { case (u, v) => alive(u) && alive(v) }
        .groupBy(_._1).view.mapValues(_.size).toMap
      val next = alive.filter(v => deg.getOrElse(v, 0) >= k)
      changed = next != alive
      alive = next
    }
    und.filter { case (u, v) => alive(u) && alive(v) }
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
  }

  test("k-core peeling agrees with the naive run-to-convergence reference on random graphs") {
    import spark.implicits._
    val rnd = new Random(11)
    for (trial <- 1 to 8) {
      val n = 4 + rnd.nextInt(20)
      val edges = randomEdges(rnd, n, 1 + rnd.nextInt(3 * n))
      val k = 2 + (trial % 2)
      val ops = new graft.operators.GraphOpsLib(GraftConfig(kcoreK = k, kcoreRounds = 40))
      val und = edges.flatMap { case (s, d) => Seq((s, d), (d, s)) }.distinct
      val got = ops.kcoreFrom(und.toDF("u", "v"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == refKcore(edges, k), s"k=$k edges=$edges")
    }
  }

  private def refBfs(edges: Seq[(Long, Long)], seeds: Set[Long], maxHops: Int): Map[Long, Long] = {
    val adj = edges.flatMap { case (s, d) => Seq(s -> d, d -> s) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    var h = 0L
    while (frontier.nonEmpty && h < maxHops) {
      h += 1
      val next = frontier.flatMap(u => adj.getOrElse(u, Set.empty))
        .filterNot(dist.contains)
      dist ++= next.map(_ -> h)
      frontier = next
    }
    dist
  }

  test("multi-source BFS hops agree with the naive frontier reference on random graphs") {
    import spark.implicits._
    val rnd = new Random(23)
    for (_ <- 1 to 6) {
      val n = 5 + rnd.nextInt(20)
      val edges = randomEdges(rnd, n, 1 + rnd.nextInt(2 * n))
      val seeds = (0L until n.toLong).filter(_ => rnd.nextBoolean()).toSet + 0L
      val rounds = 30
      val ops = new graft.operators.GraphOpsLib(GraftConfig(bfsRounds = rounds))
      val und = edges.flatMap { case (s, d) => Seq((s, d), (d, s)) }.distinct
      val got = ops.bfsFrom(und.toDF("u", "v"),
          seeds.toSeq.map(s => (s, 0L)).toDF("u", "h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == refBfs(edges, seeds, rounds), s"seeds=$seeds edges=$edges")
    }
  }

  private def refDijkstra(wedges: Seq[(Long, Long, Long)], seeds: Set[Long],
      maxEdges: Int): Map[Long, Long] = {
    // naive Dijkstra with an edge-count budget: dist after the budget =
    // min cost over paths of <= maxEdges edges (matches the bounded
    // min-plus rounds exactly); with a generous budget it's plain
    // Dijkstra
    val adj = wedges.groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
    var dist = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to maxEdges) {
      val relaxed = dist.toSeq.flatMap { case (u, d) =>
        adj.getOrElse(u, Seq.empty).map { case (v, w) => v -> (d + w) } }
      val merged = (dist.toSeq ++ relaxed).groupBy(_._1).view
        .mapValues(_.map(_._2).min).toMap
      dist = merged
    }
    dist
  }

  test("weighted SSSP agrees with naive Dijkstra on random weighted graphs") {
    import spark.implicits._
    val rnd = new Random(31)
    for (_ <- 1 to 6) {
      val n = 5 + rnd.nextInt(20)
      val edges = randomEdges(rnd, n, 1 + rnd.nextInt(2 * n))
        .map { case (u, v) => (u, v, 1L + rnd.nextInt(9).toLong) }
      val seeds = (0L until n.toLong).filter(_ => rnd.nextBoolean()).toSet + 0L
      val rounds = 40 // above any shortest path's edge count at n <= 25
      val ops = new graft.operators.GraphOpsLib(GraftConfig(ssspRounds = rounds))
      val got = ops.ssspFrom(edges.toDF("u", "v", "w"),
          seeds.toSeq.map(s => (s, 0L)).toDF("u", "d"), rounds, "spec.sssp")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == refDijkstra(edges, seeds, rounds), s"seeds=$seeds edges=$edges")
    }
  }

  test("per-source min-plus agrees with per-seed naive Dijkstra on random weighted graphs") {
    import spark.implicits._
    val rnd = new Random(41)
    for (_ <- 1 to 4) {
      val n = 5 + rnd.nextInt(15)
      val edges = randomEdges(rnd, n, 1 + rnd.nextInt(2 * n))
        .map { case (u, v) => (u, v, 1L + rnd.nextInt(9).toLong) }
      val seeds = (0L until n.toLong).filter(_ => rnd.nextBoolean()).toSet + 0L
      val rounds = 40
      val got = graft.operators.GraphOps.ssspFrom(edges.toDF("u", "v", "w"),
          seeds.toSeq.map(s => (s, s, 0L)).toDF("s", "u", "d"), rounds, "spec.persrc")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val want = seeds.toSeq.flatMap { s =>
        refDijkstra(edges, Set(s), rounds).map { case (u, d) => ((s, u), d) }
      }.toMap
      assert(got == want, s"seeds=$seeds edges=$edges")
    }
  }

  test("removeTips agrees with the naive reference on random graphs") {
    import spark.implicits._
    val rnd = new Random(42)
    for (_ <- 1 to 12) {
      val n = 3 + rnd.nextInt(25)
      val edges = randomEdges(rnd, n, 1 + rnd.nextInt(2 * n))
      val got = GraphOps.removeTips(edges.toDF("src", "dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == refRemoveTips(edges), s"edges=$edges")
    }
  }

  test("pointer-jumping chain heads agree with the naive reference (incl. cycles)") {
    import spark.implicits._
    val rnd = new Random(7)
    val cases = Seq(
      // a pure 3-cycle, a 2-cycle plus chain, and a long chain: the
      // shapes that previously burned the fixed round budget
      Seq(1L -> 2L, 2L -> 3L, 3L -> 1L),
      Seq(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 5L),
      (1L to 14L).sliding(2).map(p => p.head -> p.last).toSeq,
      // adversarial for the plateau exit: an odd cycle holds the mover
      // count at 3 every round while a LONG chain is still resolving —
      // the plateau must not fire until the chain nodes all reach their
      // head (chain movers strictly decrease, so counts keep changing)
      Seq(101L -> 102L, 102L -> 103L, 103L -> 101L) ++
        (1L to 30L).sliding(2).map(p => p.head -> p.last).toSeq,
      // even cycle: pointer jumping converges it to self-parents, which
      // the root check must still exclude (parent stays interior)
      Seq(201L -> 202L, 202L -> 203L, 203L -> 204L, 204L -> 201L)
    ) ++ (1 to 5).map { _ =>
      val n = 3 + rnd.nextInt(15)
      randomEdges(rnd, n, 1 + rnd.nextInt(n + 4))
    }
    cases.foreach { edges =>
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val got = GraphOps.resolveChainsFrom(spark,
          nodes.toDF("node"), edges.toDF("src", "dst"), withDepth = false)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == refChainHeads(nodes, edges), s"edges=$edges")
    }
  }

  /** Naive SCC by reachability closure: u ~ v iff u →* v and v →* u. */
  private def refScc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def reach(s: Long): Set[Long] = {
      var seen = Set(s); var frontier = Set(s)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(u => adj.getOrElse(u, Set.empty)) -- seen
        seen ++= next; frontier = next
      }
      seen
    }
    val r = nodes.map(n => n -> reach(n)).toMap
    nodes.map(n => n -> r(n).filter(v => r(v)(n)).min).toMap
  }

  test("SCC labels agree with the naive mutual-reachability reference") {
    import spark.implicits._
    val rnd = new Random(19)
    val cases = Seq(
      // ascending chain, descending chain: DAGs must prune in one
      // round, never peel one node per round
      (1L to 10L).sliding(2).map(p => p.head -> p.last).toSeq,
      (1L to 10L).sliding(2).map(p => p.last -> p.head).toSeq,
      // pure cycles (odd, even), figure-eight sharing a node
      Seq(1L -> 2L, 2L -> 3L, 3L -> 1L),
      Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L),
      Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L),
      // two cycles bridged one-way: distinct SCCs despite the bridge
      Seq(2L -> 3L, 3L -> 2L, 4L -> 5L, 5L -> 4L, 3L -> 4L),
      // the (f,b)-pair-label counterexample: 5 and 6 share the
      // (fwd-min, bwd-min) pair but are NOT one SCC — the kernel's
      // assignment rule (f = b) must not merge them
      Seq(2L -> 5L, 2L -> 6L, 5L -> 1L, 6L -> 1L),
      // cycle feeding a chain feeding a cycle
      Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 4L)
    ) ++ (1 to 8).map { _ =>
      val n = 3 + rnd.nextInt(15)
      randomEdges(rnd, n, 1 + rnd.nextInt(2 * n))
    }
    cases.foreach { edges =>
      val lbl = graft.operators.Scc.labels(edges.toDF("u", "v"), GraftConfig())
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // absent nodes are singletons by contract
      val got = nodes.map(n => n -> lbl.getOrElse(n, n)).toMap
      assert(got == refScc(edges), s"edges=$edges got=$got")
    }
  }
}

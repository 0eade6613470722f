package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftConfig
import graft.sources.Tables

/** Distribution analytics: exact nearest-rank percentiles and graph
  * centrality (PageRank) — both in integer arithmetic so the oracle
  * hashes match bitwise. Interpolated percentiles and damped floating
  * PageRank involve engine-divergent float summation orders; the
  * nearest-rank definition and a fixed-point rank (SCALE ≙ 1.0, integer
  * floor division) are the portable exact forms. */
class AnalyticsOps(val cfg: GraftConfig) {
  val Levels: Seq[Int] = GraftConfig.percentileLevels
  val PrIters: Int = cfg.pagerankIters
  // q91's coarse-bucket width for the two-phase exact quantile: phase-1
  // histogram rows = value-range / width per class (bounded by the
  // price domain, NOT corpus size); phase 2 ranks only inside the
  // <= |classes|·|levels| selected buckets
  val PercentileBucketWidth: Double = 4096.0
  // PageRank's fixed-point scale (integer ranks = SCALE ≙ 1.0, so
  // every engine agrees bit-for-bit; keep iters × log10(n × scale ×
  // 85) under long range)
  val PrScale: Long = 1000000000000L
  // link prediction (q235): emit candidate links sharing at least
  // this many common neighbors
  val LinkMinCommon: Int = 2

  /** q91: exact nearest-rank percentiles of order value per priority
    * class — value at 1-based rank ⌈p·n/100⌉ = (n·p + 99) div 100, the
    * classic nearest-rank definition (no interpolation, so the output
    * is an actual data value and engine-exact).
    *
    * Scale shape: the TWO-PHASE bucket-refine exact quantile — never a
    * row_number over the 5-value class key (that funnels the corpus
    * into 5 sort tasks), and never a per-class VALUE histogram either
    * (o_totalprice is near-unique, so a value histogram doesn't
    * compress and its O(H²) cumulative join explodes). Phase 1 builds a
    * COARSE bucket histogram (rows bounded by price-range /
    * ${PercentileBucketWidth} per class, independent of corpus
    * size), takes cumulative counts with the q28/q105 broadcast
    * triangular join, and locates each level's cut bucket + residual
    * rank. Phase 2 re-scans only rows landing in the <= classes·levels
    * selected buckets (~1/buckets of the corpus) and row_numbers inside
    * (class, bucket) — each sort task holds one bucket's slice, and a
    * deeper refine would just recurse the same split. Ties on value
    * need no tie-break: any row at the residual rank inside a value run
    * carries the same o_totalprice. */
  def q91Percentiles(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("cls"), col("o_totalprice").as("v"),
        floor(col("o_totalprice") / PercentileBucketWidth).cast("long").as("bk"))
    val bh = o.groupBy("cls", "bk").agg(count(lit(1)).as("cnt"))
    val bcum = bh.as("a")
      .join(broadcast(bh.as("b")),
        col("a.cls") === col("b.cls") && col("b.bk") <= col("a.bk"))
      .groupBy(col("a.cls").as("cls"), col("a.bk").as("bk"), col("a.cnt").as("cnt"))
      .agg(sum(col("b.cnt")).as("cum"))
    // one row per (class, level): class size and the level's target rank
    val ranks = bh.groupBy("cls").agg(sum(col("cnt")).as("n"))
      .select(col("cls"), col("n"),
        explode(array(Levels.map(p => struct(lit(p).as("p"),
          expr(s"(n * $p + 99) div 100").as("r"))): _*)).as("pr"))
      .select(col("cls"), col("n"), col("pr.p").as("p"), col("pr.r").as("r"))
    // cut bucket = first whose cumulative count reaches r; rr = rank
    // inside it (min(struct) picks the lowest qualifying bucket)
    val cut = ranks.join(bcum, "cls")
      .filter(col("cum") >= col("r"))
      .groupBy("cls", "n", "p", "r")
      .agg(min(struct(col("bk"), (col("cum") - col("cnt")).as("base"))).as("m"))
      .select(col("cls"), col("n"), col("p"),
        col("m.bk").as("bk"), (col("r") - col("m.base")).as("rr"))
    val w = Window.partitionBy("cls", "bk").orderBy(col("v"))
    val picked = o
      .join(broadcast(cut.select("cls", "bk").distinct()), Seq("cls", "bk"))
      .withColumn("rn", row_number().over(w))
      .join(broadcast(cut), Seq("cls", "bk"))
      .filter(col("rn") === col("rr"))
    val pivots = Levels.map(p =>
      max(when(col("p") === p, col("v"))).as(s"p$p"))
    picked.groupBy(col("cls").as("o_orderpriority"), col("n"))
      .agg(pivots.head, pivots.tail: _*)
  }

  def q91Sql: String = {
    val pivots = Levels.map(p =>
      s"max(CASE WHEN rn = (n * $p + 99) // 100 THEN o_totalprice END) AS p$p")
      .mkString(",\n|  ")
    s"""WITH ranked AS (SELECT o_orderpriority, o_totalprice,
       |    row_number() OVER (PARTITION BY o_orderpriority
       |      ORDER BY o_totalprice, o_orderkey) AS rn,
       |    count(*) OVER (PARTITION BY o_orderpriority) AS n
       |  FROM orders)
       |SELECT o_orderpriority, n,
       |  $pivots
       |FROM ranked GROUP BY 1, 2""".stripMargin
  }

  /** Stage/round lineage cut for iterative loops — same contract as
    * GraphOps.stageCk: eager localCheckpoint locally, reliable
    * checkpoint on clusters (cfg.reliableStageCheckpoints). */
  private def stageCk(df: DataFrame): DataFrame = graft.Ck.stage(df, cfg)

  /** Cut the rank table's lineage every 4th round — the GraphOps
    * fixpoint cadence: enough rounds between cuts to amortize the
    * materialization, few enough that the plan never accretes more
    * than 4 rounds of joins (SURVEY §7's lineage lesson). */
  private val PrCkEvery = 4

  /** q92: PageRank over the document overlap graph (q20's edges), in
    * FIXED-POINT integers: rank starts at $PrScale (≙ 1.0), each
    * iteration sends rank div out_degree along edges and damps as
    * 0.15 + 0.85·Σ — computed as (15·SCALE) div 100 + (85·Σ) div 100,
    * all long arithmetic, so the Σ is order-free and both engines agree
    * exactly. Dangling nodes leak rank (the standard simplification);
    * isolated docs keep the base rank.
    *
    * Scale: textbook distributed PageRank — per iteration one join of
    * the edge list with the rank table on src and one aggregate on dst.
    * The edge⋈outdeg subtree is identical across iterations, so the
    * single final action reuses its exchange (ReusedExchange) instead
    * of recomputing the candidate join per round. Long-chain runs
    * (iters ≫ $PrCkEvery) stage-checkpoint the (|docs|-row) rank table
    * every $PrCkEvery rounds, so plan depth — and with
    * cfg.reliableStageCheckpoints the recovery cost after executor
    * loss — is bounded by the cadence, not the iteration count;
    * checkpointing a deterministic integer table cannot change values.
    * The default 3-iteration run takes no cut and keeps its
    * single-action ReusedExchange plan. */
  def q92Pagerank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id").as("node"))
    val e = GraphOps.q20OverlapEdges(spark, dir).select("src", "dst")
    val base = lit(15L * PrScale / 100)
    prLoop(docs, e, _ => base, _ => lit(PrScale))
      .select(col("node").as("doc_id"), col("pr"))
  }

  /** The q92/q213 shared rank loop: `baseOf(node)` is each node's
    * per-iteration restart mass and `r0Of(node)` the starting rank —
    * global PR uses constants, personalized PR concentrates both on
    * the seed set. Same fixed-point integer discipline, same
    * ReusedExchange/checkpoint-cadence plan shape. */
  private[graft] def prLoop(docs: DataFrame, e: DataFrame,
      baseOf: Column => Column, r0Of: Column => Column,
      weightCol: Option[String] = None): DataFrame = {
    // weighted: out-mass splits ∝ edge weight ((pr·w) div Σw — exact
    // longs; per-edge truncation keeps both engines identical), with
    // count/1 the unweighted special case
    val od = weightCol.fold(e.groupBy("src").agg(count(lit(1)).as("od"))) { w =>
      e.groupBy("src").agg(sum(col(w)).as("od"))
    }
    val eo = e.join(od, "src")
    val share = weightCol.fold(expr("pr div od"))(w => expr(s"(pr * $w) div od"))
    var r = docs.select(col("node"), r0Of(col("node")).as("pr"))
    for (i <- 1 to PrIters) {
      val contrib = eo.join(r, eo("src") === r("node"))
        .select(col("dst").as("node"), share.as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
      r = docs.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (baseOf(col("node")) +
            expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("pr"))
      if (i % PrCkEvery == 0 && i < PrIters) r = stageCk(r)
    }
    r
  }

  /** q213: PERSONALIZED PageRank — q92's restart vector concentrated
    * on the q170/q208 seed set (doc_id ≡ 0 mod ${GraftConfig.bfsSeedMod}):
    * rank restarts ONLY to seeds (base mass (15·SCALE) div 100 at
    * seeds, 0 elsewhere; r₀ = SCALE at seeds, 0 elsewhere), so the
    * stationary ranks measure graph PROXIMITY TO THE SEEDS — the
    * retrieval family's graph-side ranking signal (seed-anchored
    * relevance propagation, the random-walk twin of q170's hop
    * distance: hops count edges, PPR weighs all walks). Same
    * fixed-point integer discipline as q92 (all-long arithmetic,
    * order-free sums — both engines agree exactly; dangling nodes
    * leak mass, the standard simplification), same per-iteration
    * edge⋈rank + dst-aggregate shape, same checkpoint cadence.
    * Nodes unreachable from the seeds hold rank 0 — kept in the
    * output (the eval wants the zero/nonzero boundary). */
  def q213Ppr(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id").as("node"))
    val e = GraphOps.q20OverlapEdges(spark, dir).select("src", "dst")
    val seedBase = lit(15L * PrScale / 100)
    prLoop(docs, e,
      n => when(n % GraftConfig.bfsSeedMod === 0, seedBase).otherwise(lit(0L)),
      n => when(n % GraftConfig.bfsSeedMod === 0, lit(PrScale)).otherwise(lit(0L)))
      .select(col("node").as("doc_id"), col("pr").as("ppr"))
  }

  def q213Sql: String = {
    val seed = s"node % ${GraftConfig.bfsSeedMod} = 0"
    val iters = (1 to PrIters).map { i =>
      s"""c$i AS (SELECT eo.dst AS node, CAST(SUM(r${i - 1}.pr // eo.od) AS BIGINT) AS s
         |  FROM eo JOIN r${i - 1} ON r${i - 1}.node = eo.src GROUP BY 1),
         |r$i AS (SELECT d.node,
         |    CASE WHEN $seed THEN (15 * $PrScale) // 100 ELSE 0 END
         |      + (85 * COALESCE(c$i.s, 0)) // 100 AS pr
         |  FROM (SELECT doc_id AS node FROM documents) d
         |  LEFT JOIN c$i USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (SELECT src, dst FROM (${GraphOps.q20Sql})),
       |od AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
       |eo AS (SELECT e.src, e.dst, od.od FROM edges e JOIN od USING (src)),
       |r0 AS (SELECT doc_id AS node,
       |    CASE WHEN doc_id % ${GraftConfig.bfsSeedMod} = 0
       |      THEN CAST($PrScale AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pr
       |  FROM documents),
       |$iters
       |SELECT node AS doc_id, pr AS ppr FROM r$PrIters""".stripMargin
  }

  /** q227: LABEL-PROPAGATION communities on the undirected overlap
    * graph — the density-community view WCC (q144) cannot give: WCC
    * answers "connected at all", LPA's neighbor-majority vote splits a
    * connected component along its sparse cuts. Synchronous rounds:
    * every node adopts the most frequent label among its NEIGHBORS
    * (ties → smallest label — fully deterministic, no random tie
    * breaking), isolated nodes keep their own. Rounds are a FIXED
    * budget (cfg.lpaRounds), not a convergence test: neighbor-mode is
    * not a semilattice (labels move non-monotonically, oscillation is
    * possible in bipartite structures), so each round is a full
    * neighbor aggregate and both engines unroll the same count — the
    * q92 discipline, not the frontier kernels'.
    *
    * Scale: per round one edge⋈label join + one (node, label)
    * map-combinable count + one per-node argmax — the textbook
    * synchronous-LPA shape; label table is |V| rows, the edge table is
    * scanned once per round. All-integer, engine-exact. */
  def q227LpaCommunities(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id").as("node"))
    val e = GraphOps.q20OverlapEdges(spark, dir).select("src", "dst")
    val und = e.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val eo = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
    var lbl = docs.select(col("node"), col("node").as("lbl"))
    for (i <- 1 to cfg.lpaRounds) {
      val pick = eo.join(lbl.select(col("node").as("src"), col("lbl")), "src")
        .groupBy(col("dst").as("node"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("nl"))
      lbl = lbl.join(pick, Seq("node"), "left")
        .select(col("node"), coalesce(col("nl"), col("lbl")).as("lbl"))
      // prLoop's stage-cut cadence: round N's plan must not re-plan
      // through rounds 1..N−1's joins when the budget knob grows
      if (i % PrCkEvery == 0 && i < cfg.lpaRounds) lbl = stageCk(lbl)
    }
    lbl.select(col("node").as("doc_id"), col("lbl").as("community"))
  }

  def q227Sql: String = {
    val iters = (1 to cfg.lpaRounds).map { i =>
      s"""c$i AS (SELECT e.dst AS node, l.lbl AS lbl, CAST(count(*) AS BIGINT) AS c
         |  FROM eo e JOIN r${i - 1} l ON l.node = e.src GROUP BY 1, 2),
         |p$i AS (SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rk
         |    FROM c$i) WHERE rk = 1),
         |r$i AS (SELECT r.node, COALESCE(p$i.lbl, r.lbl) AS lbl
         |  FROM r${i - 1} r LEFT JOIN p$i USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT src, dst FROM (${GraphOps.q20Sql})),
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM e WHERE src <> dst),
       |eo AS (SELECT u AS src, v AS dst FROM und UNION ALL SELECT v, u FROM und),
       |r0 AS (SELECT doc_id AS node, doc_id AS lbl FROM documents),
       |$iters
       |SELECT node AS doc_id, lbl AS community FROM r${cfg.lpaRounds}""".stripMargin
  }

  /** q93: per-node triangle counts on the undirected overlap graph —
    * the clustering-coefficient numerator. Spark side uses the
    * DEGREE-ORDERED edge orientation (orient every edge toward the
    * higher (degree, id) endpoint, enumerate wedges only from each
    * edge's lower endpoint, close them against oriented edges): the
    * classic trick that caps any vertex's wedge fanout at O(√m), so a
    * hub with a million neighbors generates bounded work instead of a
    * quadratic neighbor-pair blowup. The triangle SET is
    * orientation-invariant, so the oracle closes id-ordered triads —
    * different join shape, identical rows.
    *
    * Scale: two equi-joins (wedge build on the low endpoint, closure on
    * the (b,c) edge key) over the oriented edge list; per-node counts
    * are a map-side-combinable explode+agg of the triangle rows. */
  def q93Triangles(spark: SparkSession, dir: String): DataFrame = {
    val e = GraphOps.q20OverlapEdges(spark, dir).select("src", "dst")
    val und = e.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = und.select(col("u").as("node")).unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // orient toward the higher (degree, id): a = lower endpoint
    val keyed = und
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
    val o = keyed.select(
      when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("a"), col("v").as("b"), col("du").as("da"), col("dv").as("db")))
        .otherwise(
          struct(col("v").as("a"), col("u").as("b"), col("dv").as("da"), col("du").as("db")))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"), col("e.db").as("db"))
    val wedges = o.select(col("a"), col("b"), col("db"))
      .join(o.select(col("a"), col("b").as("c"), col("db").as("dc")), "a")
      .filter(col("db") < col("dc") || (col("db") === col("dc") && col("b") < col("c")))
    val tri = wedges.join(o.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"))
      .select("a", "b", "c")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
  }

  def q93Sql: String =
    s"""WITH e AS (SELECT src, dst FROM (${GraphOps.q20Sql})),
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM e WHERE src <> dst),
       |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM und e1 JOIN und e2 ON e2.u = e1.v
       |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
       |nodes AS (SELECT a AS doc_id FROM tri
       |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
       |SELECT doc_id, count(*) AS n_triangles FROM nodes GROUP BY 1""".stripMargin

  /** Bit-interleave expression text for a 16-bit Z-order curve, built
    * once and rendered with each engine's integer-division operator so
    * the arithmetic is textually identical: bit i of x lands at 2i,
    * bit i of y at 2i+1. */
  private def zExpr(divOp: String): String =
    (0 until 16).map { i =>
      val (px, py) = (1L << i, 1L << i)
      s"((zx $divOp $px) % 2) * ${1L << (2 * i)} + ((zy $divOp $py) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** q98: Z-order (Morton) clustering key over (l_partkey, l_suppkey) —
    * the multi-dimensional layout complement to
    * [[graft.sources.Tables.writeBucketed]]: sort a table by zkey at
    * write time and BOTH part-range and supplier-range scans prune to a
    * contiguous fraction of files, where a single-column sort only ever
    * serves one dimension. Pure integer bit arithmetic (sum of masked
    * powers of two — order-free), computed as a scan projection with
    * zero shuffles; the sort it would feed is the writer's business.
    * The interleave is a bijection on 16-bit pairs (spec decodes it
    * back). */
  def q98Zorder(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") % 65536).as("zx"),
        (col("l_suppkey") % 65536).as("zy"))
      .select(col("l_orderkey"), col("l_linenumber"), col("zx"), col("zy"),
        expr(zExpr("div")).as("zkey"))

  def q98Sql: String =
    s"""SELECT l_orderkey, l_linenumber, zx, zy, ${zExpr("//")} AS zkey
       |FROM (SELECT l_orderkey, l_linenumber,
       |    l_partkey % 65536 AS zx, l_suppkey % 65536 AS zy
       |  FROM lineitem)""".stripMargin

  def q92Sql: String = {
    val iters = (1 to PrIters).map { i =>
      s"""c$i AS (SELECT eo.dst AS node, CAST(SUM(r${i - 1}.pr // eo.od) AS BIGINT) AS s
         |  FROM eo JOIN r${i - 1} ON r${i - 1}.node = eo.src GROUP BY 1),
         |r$i AS (SELECT d.node,
         |    (15 * $PrScale) // 100 + (85 * COALESCE(c$i.s, 0)) // 100 AS pr
         |  FROM (SELECT doc_id AS node FROM documents) d
         |  LEFT JOIN c$i USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (SELECT src, dst FROM (${GraphOps.q20Sql})),
       |od AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
       |eo AS (SELECT e.src, e.dst, od.od FROM edges e JOIN od USING (src)),
       |r0 AS (SELECT doc_id AS node, CAST($PrScale AS BIGINT) AS pr FROM documents),
       |$iters
       |SELECT node AS doc_id, pr FROM r$PrIters""".stripMargin
  }

  /** q124: join-key SKEW PROFILER — the pre-flight check for any big
    * join: per prospective key, how lopsided is the frequency
    * distribution that the shuffle will see? One summary row per
    * analyzed key column: row/key counts, the hottest key and its
    * frequency, the exact nearest-rank p99 frequency, and
    * skew_ratio = max_freq / avg_freq (the factor by which the hottest
    * shuffle partition's key exceeds average — the number that decides
    * salting / AQE skew-join config before the job runs).
    *
    * Scale shape, per column: (key → freq) is a map-side-combinable
    * aggregate; everything after runs on the FREQUENCY HISTOGRAM
    * (freq → #keys), whose size is bounded by distinct frequency
    * VALUES, not keys — the q105/q91 discipline. p99 comes from a
    * broadcast triangular cumulative join over that histogram; the
    * hottest key is a TakeOrdered-style min over (−freq, key) structs,
    * never a global sort. Exact integers + two fixed-shape double
    * divisions: engine-exact. */
  def q124SkewProfile(spark: SparkSession, dir: String): DataFrame = {
    def profile(keyCol: String, df: DataFrame): DataFrame = {
      val freq = df.select(col(keyCol).cast("long").as("k"))
        .groupBy("k").agg(count(lit(1)).as("c"))
      val hist = freq.groupBy("c").agg(count(lit(1)).as("nk"))
      val cum = hist.as("a")
        .join(broadcast(hist.as("b")), col("b.c") <= col("a.c"))
        .groupBy(col("a.c").as("c"))
        .agg(sum(col("b.nk")).as("cum"))
      val totals = freq.agg(
        sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
        max(col("c")).as("max_freq"),
        min(struct((-col("c")).as("nc"), col("k"))).as("hot"))
      val p99 = totals.select(col("n_keys"))
        .crossJoin(cum)
        .filter(col("cum") >= expr("(n_keys * 99 + 99) div 100"))
        .agg(min(col("c")).as("p99_freq"))
      totals.crossJoin(broadcast(p99))
        .select(lit(keyCol).as("key_col"), col("n_rows"), col("n_keys"),
          col("max_freq"), col("hot.k").as("hottest_key"), col("p99_freq"),
          (col("max_freq").cast("double") * col("n_keys") / col("n_rows")).as("skew_ratio"))
    }
    profile("l_orderkey", Tables.lineitem(spark, dir))
      .unionAll(profile("user_id", Tables.events(spark, dir)))
  }

  def q124Sql: String = {
    def one(keyCol: String, tbl: String): String =
      s"""(WITH freq AS (SELECT $keyCol AS k, count(*) AS c FROM $tbl GROUP BY 1),
         |hist AS (SELECT c, count(*) AS nk FROM freq GROUP BY c),
         |cum AS (SELECT a.c, SUM(b.nk) AS cum FROM hist a JOIN hist b ON b.c <= a.c GROUP BY a.c),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_rows, count(*) AS n_keys,
         |    CAST(MAX(c) AS BIGINT) AS max_freq
         |  FROM freq),
         |hot AS (SELECT CAST(k AS BIGINT) AS hottest_key FROM freq ORDER BY c DESC, k LIMIT 1),
         |p99 AS (SELECT CAST(MIN(c) AS BIGINT) AS p99_freq FROM cum, tot
         |  WHERE cum >= (n_keys * 99 + 99) // 100)
         |SELECT '$keyCol' AS key_col, n_rows, n_keys, max_freq, hottest_key, p99_freq,
         |  CAST(max_freq AS DOUBLE) * n_keys / n_rows AS skew_ratio
         |FROM tot, hot, p99)""".stripMargin
    s"""${one("l_orderkey", "lineitem")}
       |UNION ALL
       |${one("user_id", "events")}""".stripMargin
  }

  /** q143: grouped MEAN with a 95% confidence interval — per language,
    * the token-count mean ± 1.96·σ/√n: the "is this slice's average
    * actually different" primitive behind every corpus comparison
    * dashboard. S and Q accumulate as exact integers (order-free), so
    * mean, sample variance (n·Q − S²)/(n·(n−1)), and the half-width
    * are ONE fixed cast/divide/sqrt chain per group — deterministic
    * doubles on both engines (sqrt is a single correctly-rounded IEEE
    * op, §6 rule 1's boundary). Groups of one are excluded (sample
    * variance undefined). Pure map-combinable aggregate. */
  def q143MeanCi(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("t")).as("s"),
        sum(col("t") * col("t")).as("q"))
      .filter(col("n") >= 2)
      .select(col("lang"), col("n"),
        (col("s").cast("double") / col("n")).as("mean_toks"),
        (lit(1.96) * sqrt(
          ((col("n") * col("q") - col("s") * col("s")).cast("double")
            / (col("n") * (col("n") - 1)).cast("double"))
            / col("n").cast("double"))).as("ci_half"))

  def q143Sql: String =
    """WITH g AS (SELECT lang, count(*) AS n,
      |    CAST(SUM(t) AS BIGINT) AS s, CAST(SUM(t*t) AS BIGINT) AS q
      |  FROM (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS t
      |    FROM documents)
      |  GROUP BY lang)
      |SELECT lang, n, CAST(s AS DOUBLE) / n AS mean_toks,
      |  1.96 * sqrt((CAST(n*q - s*s AS DOUBLE) / (n*(n-1))) / CAST(n AS DOUBLE)) AS ci_half
      |FROM g WHERE n >= 2""".stripMargin

  /** q148: exact Pearson CORRELATION per language between doc length
    * (chars) and token count — the feature-redundancy check before
    * both columns enter a quality model ("are these two signals the
    * same signal?"). All five moments accumulate as DECIMAL(38,0)
    * (order-free exact integers; corpus-scale n·Σxy overflows BIGINT),
    * then r = (n·Σxy − ΣxΣy)/√((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)) is ONE
    * fixed cast/multiply/sqrt/divide chain in doubles — deterministic
    * on both engines (§6 rule 1). Zero-variance groups yield null
    * (correlation undefined), singleton groups are excluded. Built-in
    * `corr()` is the one-liner alternative — and exactly what this
    * avoids: it accumulates floating co-moments in stream order, so
    * two engines (or two partitionings) disagree in final ulps. */
  def q148Correlation(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars").as("x"),
        size(split(col("text"), " ")).cast("long").as("y"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"),
        sum((col("y") * col("y")).cast(d38)).as("syy"))
      .filter(col("n") >= 2)
      .select(col("lang"), col("n"),
        (col("sx").cast("double") / col("n")).as("mean_chars"),
        (col("sy").cast("double") / col("n")).as("mean_toks"), {
          val n = col("n").cast("double")
          val cov = n * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
          val vx = n * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
          val vy = n * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
          when(vx === 0.0 || vy === 0.0, lit(null).cast("double"))
            .otherwise(cov / sqrt(vx * vy)).as("pearson_r")
        })
  }

  def q148Sql: String =
    """WITH m AS (SELECT lang, count(*) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x*y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(x*x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(y*y AS DECIMAL(38,0))) AS DOUBLE) AS syy
      |  FROM (SELECT lang, n_chars AS x,
      |      CAST(len(string_split(text, ' ')) AS BIGINT) AS y
      |    FROM documents)
      |  GROUP BY lang)
      |SELECT lang, n, sx / n AS mean_chars, sy / n AS mean_toks,
      |  CASE WHEN (n*sxx - sx*sx) = 0.0 OR (n*syy - sy*sy) = 0.0 THEN NULL
      |    ELSE (n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) END AS pearson_r
      |FROM m WHERE n >= 2""".stripMargin

  /** q138: column PROFILE of the events table — the data-quality audit
    * every ingest runs before trusting a feed (the Deequ/"dataset
    * card" primitive): per column, row count, non-null count, exact
    * distinct count, null fraction, and numeric min/max (timestamps in
    * epoch ms; string columns carry null bounds — engine-portable
    * numeric bounds instead of engine-specific float formatting).
    *
    * Scale: ONE pass — all six columns' aggregates ride a single
    * aggregation (Spark plans multi-column exact distincts as one
    * Expand: rows × columns generated inside the scan pipeline and
    * partially aggregated before the shuffle, the same mechanism as
    * cube/grouping sets; never six table scans), then one row-local
    * `stack` unpivots the 1-row result. An approximate profile would
    * swap countDistinct for approx_count_distinct and drop the Expand
    * — noted on the knobless default because exactness is what the
    * oracle verifies. */
  def q138Profile(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    val numeric = Set("event_id", "ts_ms", "user_id", "value")
    val aggs = e.columns.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c")) ++
        (if (numeric(c))
          Seq(min(col(c)).cast("double").as(s"mn_$c"), max(col(c)).cast("double").as(s"mx_$c"))
        else Seq.empty)
    }
    val one = e.agg(count(lit(1)).as("n"), aggs.toIndexedSeq: _*)
    val stackArgs = e.columns.map { c =>
      val (mn, mx) = if (numeric(c)) (s"mn_$c", s"mx_$c")
        else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
      s"'$c', nn_$c, nd_$c, $mn, $mx"
    }.mkString(", ")
    one.selectExpr("n",
        s"stack(${e.columns.length}, $stackArgs) AS (col_name, n_non_null, n_distinct, min_num, max_num)")
      .select(col("col_name"), col("n"), col("n_non_null"), col("n_distinct"),
        ((col("n") - col("n_non_null")).cast("double") / col("n")).as("null_frac"),
        col("min_num"), col("max_num"))
  }

  def q138Sql: String = {
    val numeric = Map(
      "event_id" -> "event_id", "ts_ms" -> "ts_ms", "user_id" -> "user_id", "value" -> "value")
    def one(c: String): String = {
      val (mn, mx) =
        if (numeric.contains(c)) (s"CAST(min($c) AS DOUBLE)", s"CAST(max($c) AS DOUBLE)")
        else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
      s"""SELECT '$c' AS col_name, n.n, CAST(count($c) AS BIGINT) AS n_non_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(n.n - count($c) AS DOUBLE) / n.n AS null_frac,
         |  $mn AS min_num, $mx AS max_num
         |FROM e, n GROUP BY n.n""".stripMargin
    }
    val cols = Seq("event_id", "ts_ms", "user_id", "event_type", "value", "props")
    s"""WITH e AS (SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value, props
       |  FROM events),
       |n AS (SELECT count(*) AS n FROM e)
       |${cols.map(one).mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** q181: DATA-CONTRACT AUDIT — the dbt/Deequ-style constraint run
    * beside q138's statistical profile: one row per declared check
    * (PK uniqueness, FK referential integrity, NOT NULL) with checked
    * and violating row counts and a pass flag — the table a nightly
    * pipeline gates a publish on. PK checks compare row count to
    * distinct key count (violations = excess rows, no per-key state);
    * FK checks count child rows surviving an ANTI join to the parent
    * key set; the NOT NULL check is a conditional count. Every check
    * is its own bounded aggregate subtree unioned into one result —
    * at 100 TB each runs as an independent scan+aggregate (a shared-
    * scan rewrite is an optimization the contract's semantics don't
    * depend on); parent key sides are key-projected scans, never
    * wide. */
  def q181ContractAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    def row(name: String, checked: Column, violations: Column, of: DataFrame): DataFrame =
      of.agg(checked.as("n_checked"), violations.as("n_violations"))
        .select(lit(name).as("check_name"), col("n_checked"), col("n_violations"),
          (col("n_violations") === 0L).as("passed"))
    // FK null policy, pinned EXPLICITLY on both engines: a NULL child
    // key is NOT an FK violation (standard SQL FK semantics — a missing
    // reference is the NOT NULL check's job, declared separately when
    // the contract wants it). Without the explicit filter the two
    // engines silently disagree: Spark's left_anti counts a NULL key as
    // an orphan while SQL NOT IN yields NULL and excludes it —
    // invisible on TPC-H (keys are NOT NULL) but a latent parity trap.
    // n_checked counts the rows the check actually examined (non-null).
    def fk(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame = {
      val checked = child.filter(col(key).isNotNull)
      val total = checked.agg(count(lit(1)).as("n_checked"))
      val orphans = checked.select(col(key))
        .join(parent.select(col(pkey).as(key)), Seq(key), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      total.crossJoin(orphans)
        .select(lit(name).as("check_name"), col("n_checked"), col("n_violations"),
          (col("n_violations") === 0L).as("passed"))
    }
    row("pk_orders_orderkey",
        count(lit(1)), count(lit(1)) - countDistinct(col("o_orderkey")), ord)
      .unionAll(row("pk_lineitem_orderkey_linenumber",
        count(lit(1)),
        count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber")), li))
      .unionAll(fk("fk_lineitem_orderkey", li, "l_orderkey", ord, "o_orderkey"))
      .unionAll(fk("fk_lineitem_partkey", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey"))
      .unionAll(fk("fk_lineitem_suppkey", li, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"))
      .unionAll(fk("fk_orders_custkey", ord, "o_custkey",
        Tables.customer(spark, dir), "c_custkey"))
      .unionAll(row("notnull_customer_name",
        count(lit(1)), sum(when(col("c_name").isNull, 1L).otherwise(0L)),
        Tables.customer(spark, dir)))
  }

  /** DuckDB twin of one FK check — same explicit null policy as the
    * Spark side: NULL child keys are excluded from BOTH counts. */
  private def fkSql(name: String, childTbl: String, key: String,
      parentTbl: String, pkey: String): String =
    s"""SELECT '$name', (SELECT count(*) FROM $childTbl WHERE $key IS NOT NULL),
       |  (SELECT count(*) FROM $childTbl WHERE $key IS NOT NULL AND $key NOT IN
       |    (SELECT $pkey FROM $parentTbl)),
       |  (SELECT count(*) FROM $childTbl WHERE $key IS NOT NULL AND $key NOT IN
       |    (SELECT $pkey FROM $parentTbl)) = 0""".stripMargin

  def q181Sql: String =
    s"""SELECT 'pk_orders_orderkey' AS check_name,
       |  count(*) AS n_checked,
       |  count(*) - count(DISTINCT o_orderkey) AS n_violations,
       |  count(*) - count(DISTINCT o_orderkey) = 0 AS passed FROM orders
       |UNION ALL
       |SELECT 'pk_lineitem_orderkey_linenumber', count(*),
       |  count(*) - count(DISTINCT ROW(l_orderkey, l_linenumber)),
       |  count(*) - count(DISTINCT ROW(l_orderkey, l_linenumber)) = 0 FROM lineitem
       |UNION ALL
       |${fkSql("fk_lineitem_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey")}
       |UNION ALL
       |${fkSql("fk_lineitem_partkey", "lineitem", "l_partkey", "part", "p_partkey")}
       |UNION ALL
       |${fkSql("fk_lineitem_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey")}
       |UNION ALL
       |${fkSql("fk_orders_custkey", "orders", "o_custkey", "customer", "c_custkey")}
       |UNION ALL
       |SELECT 'notnull_customer_name', count(*),
       |  CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       |  CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) = 0
       |FROM customer""".stripMargin

  /** q160: grouped MEDIAN + MAD (median absolute deviation) of doc
    * length per language — the robust location/spread pair (the outlier
    * gate mean ± σ cannot be, q143's caveat): both are exact
    * nearest-rank statistics (min{v : cum(v) ≥ ⌈n/2⌉}), all BIGINT.
    * Two passes of the SAME histogram discipline (q105/q124): the value
    * histogram is bounded by the VALUE DOMAIN, not the corpus, so the
    * triangular cumulative self-join (≤ |H|² histogram rows per group)
    * replaces the per-language corpus sort a row_number median would
    * cost — precisely the q91 hot-key-window lesson; the deviation
    * histogram re-bins around the median and repeats the trick.
    * Singleton-value groups get mad = 0 naturally (deviation 0 is the
    * rank-1 value). Domain caveat: the triangular join is |H|² per
    * group — right for discrete domains like doc length (≤ max-len
    * distinct values); for wide/continuous domains switch to q172's
    * two-phase bucket shape, which bounds phase 1 by domain/width and
    * ranks only inside selected buckets. */
  def q160GroupedMad(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.documents(spark, dir)
      .groupBy(col("lang"), col("n_chars").cast("long").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val tot = h.groupBy("lang").agg(sum(col("cnt")).as("n"))
    def rankMin(hist: DataFrame): DataFrame = {
      // min value whose cumulative count reaches the median rank
      val a = hist.select(col("lang"), col("v"), col("cnt"))
      val b = hist.select(col("lang").as("lang_b"), col("v").as("v_b"),
        col("cnt").as("cnt_b"))
      a.join(b, col("lang") === col("lang_b") && col("v_b") <= col("v"))
        .groupBy(col("lang"), col("v")).agg(sum(col("cnt_b")).as("cum"))
        .join(tot, "lang")
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .groupBy("lang").agg(min(col("v")).as("rank_v"))
    }
    val med = rankMin(h).withColumnRenamed("rank_v", "median_chars")
    val dev = h.join(med, "lang")
      .groupBy(col("lang"), abs(col("v") - col("median_chars")).as("v"))
      .agg(sum(col("cnt")).as("cnt"))
    val mad = rankMin(dev).withColumnRenamed("rank_v", "mad_chars")
    tot.join(med, "lang").join(mad, "lang")
      .select(col("lang"), col("n").as("n_docs"),
        col("median_chars"), col("mad_chars"))
  }

  def q160Sql: String =
    s"""WITH h AS (SELECT lang, n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents GROUP BY 1, 2),
       |tot AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
       |cum1 AS (SELECT a.lang, a.v, SUM(b.cnt) AS cum
       |  FROM h a JOIN h b ON a.lang = b.lang AND b.v <= a.v GROUP BY 1, 2),
       |med AS (SELECT c.lang, CAST(min(c.v) AS BIGINT) AS median_chars
       |  FROM cum1 c JOIN tot t ON c.lang = t.lang
       |  WHERE c.cum >= (t.n + 1) // 2 GROUP BY 1),
       |dev AS (SELECT h.lang, abs(h.v - m.median_chars) AS v,
       |    CAST(SUM(h.cnt) AS BIGINT) AS cnt
       |  FROM h JOIN med m ON h.lang = m.lang GROUP BY 1, 2),
       |cum2 AS (SELECT a.lang, a.v, SUM(b.cnt) AS cum
       |  FROM dev a JOIN dev b ON a.lang = b.lang AND b.v <= a.v GROUP BY 1, 2),
       |mad AS (SELECT c.lang, CAST(min(c.v) AS BIGINT) AS mad_chars
       |  FROM cum2 c JOIN tot t ON c.lang = t.lang
       |  WHERE c.cum >= (t.n + 1) // 2 GROUP BY 1)
       |SELECT t.lang, t.n AS n_docs, med.median_chars, mad.mad_chars
       |FROM tot t JOIN med ON t.lang = med.lang JOIN mad ON t.lang = mad.lang""".stripMargin
  /** q260: WEIGHTED personalized PageRank — the fourth cell of the
    * prLoop matrix ({global, personalized} × {unweighted, weighted}):
    * q213's seed-concentrated restart vector with q251's
    * weight-proportional mass splitting — proximity TO THE SEEDS,
    * measured through overlap STRENGTH: the ranking signal for
    * "documents strongly connected to this contamination/query set",
    * where q213 would count a chain of trivial 1-char overlaps the
    * same as a chain of near-duplicates. Same kernel, same integer
    * discipline, zero new loop code — the parameterization IS the
    * point (one fixed-point implementation serves all four models
    * plus TextRank). */
  def q260WeightedPpr(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id").as("node"))
    val we = GraphOps.edges2(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars").cast("long").as("nc")),
        col("dst") === col("doc_id"))
      .select(col("src"), col("dst"),
        greatest(lit(1L), col("nc") - length(col("okey")).cast("long")).as("w"))
    val seedBase = lit(15L * PrScale / 100)
    prLoop(docs, we,
      n => when(n % GraftConfig.bfsSeedMod === 0, seedBase).otherwise(lit(0L)),
      n => when(n % GraftConfig.bfsSeedMod === 0, lit(PrScale)).otherwise(lit(0L)),
      Some("w"))
      .select(col("node").as("doc_id"), col("pr").as("wppr"))
  }

  def q260Sql: String = {
    val seed = s"node % ${GraftConfig.bfsSeedMod} = 0"
    val iters = (1 to PrIters).map { i =>
      s"""c$i AS (SELECT eo.dst AS node,
         |    CAST(SUM((r${i - 1}.pr * eo.w) // eo.od) AS BIGINT) AS s
         |  FROM eo JOIN r${i - 1} ON r${i - 1}.node = eo.src GROUP BY 1),
         |r$i AS (SELECT d.node,
         |    (CASE WHEN $seed THEN (15 * $PrScale) // 100 ELSE 0 END)
         |      + (85 * COALESCE(c$i.s, 0)) // 100 AS pr
         |  FROM (SELECT doc_id AS node FROM documents) d
         |  LEFT JOIN c$i USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH we AS (SELECT e.src, e.dst,
       |    CAST(greatest(1, d.n_chars - len(e.okey)) AS BIGINT) AS w
       |  FROM (${GraphOps.q20Sql}) e JOIN documents d ON e.dst = d.doc_id),
       |od AS (SELECT src, CAST(SUM(w) AS BIGINT) AS od FROM we GROUP BY 1),
       |eo AS (SELECT we.src, we.dst, we.w, od.od FROM we JOIN od USING (src)),
       |r0 AS (SELECT doc_id AS node,
       |    CASE WHEN doc_id % ${GraftConfig.bfsSeedMod} = 0 THEN CAST($PrScale AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS pr
       |  FROM documents),
       |$iters
       |SELECT node AS doc_id, pr AS wppr FROM r$PrIters""".stripMargin
  }

  /** q251: WEIGHTED PageRank — q92 with the random walk following
    * OVERLAP STRENGTH instead of edge count: each node's out-mass
    * splits proportionally to edge weight (q208's extension-length
    * weights — how much new sequence the step adds), so centrality
    * measures weighted flow, not raw degree; the third consumer of the
    * shared prLoop kernel (q92 global, q213 personalized, q221
    * TextRank), now weight-parameterized: share = (pr·w) div Σw in
    * exact longs with per-edge truncation — both engines compute the
    * identical integer, and the unweighted queries are the w ≡ 1
    * special case of the same code path. Same ReusedExchange +
    * checkpoint-cadence plan; the weight join adds one map-side column
    * to the edge table, nothing to the loop shape.
    *
    * Long-range bound: pr ≤ total mass ≈ N·SCALE and w ≤ doc length,
    * so pr·w stays far under 2⁶³ for any realistic corpus slice; a
    * wider regime would move the share to DECIMAL(38,0) (the q127
    * discipline). */
  def q251WeightedPagerank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id").as("node"))
    val we = GraphOps.edges2(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars").cast("long").as("nc")),
        col("dst") === col("doc_id"))
      .select(col("src"), col("dst"),
        greatest(lit(1L), col("nc") - length(col("okey")).cast("long")).as("w"))
    prLoop(docs, we,
      _ => lit(15L * PrScale / 100), _ => lit(PrScale), Some("w"))
      .select(col("node").as("doc_id"), col("pr").as("wpr"))
  }

  def q251Sql: String = {
    val iters = (1 to PrIters).map { i =>
      s"""c$i AS (SELECT eo.dst AS node,
         |    CAST(SUM((r${i - 1}.pr * eo.w) // eo.od) AS BIGINT) AS s
         |  FROM eo JOIN r${i - 1} ON r${i - 1}.node = eo.src GROUP BY 1),
         |r$i AS (SELECT d.node,
         |    (15 * $PrScale) // 100 + (85 * COALESCE(c$i.s, 0)) // 100 AS pr
         |  FROM (SELECT doc_id AS node FROM documents) d
         |  LEFT JOIN c$i USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH we AS (SELECT e.src, e.dst,
       |    CAST(greatest(1, d.n_chars - len(e.okey)) AS BIGINT) AS w
       |  FROM (${GraphOps.q20Sql}) e JOIN documents d ON e.dst = d.doc_id),
       |od AS (SELECT src, CAST(SUM(w) AS BIGINT) AS od FROM we GROUP BY 1),
       |eo AS (SELECT we.src, we.dst, we.w, od.od FROM we JOIN od USING (src)),
       |r0 AS (SELECT doc_id AS node, CAST($PrScale AS BIGINT) AS pr FROM documents),
       |$iters
       |SELECT node AS doc_id, pr AS wpr FROM r$PrIters""".stripMargin
  }

  /** q235: LINK PREDICTION on the overlap graph — candidate edges the
    * graph does NOT have, ranked by common-neighbor count: for every
    * non-adjacent pair (u, v) sharing ≥ ${LinkMinCommon} neighbors,
    * emit the pair and its count. The graph-ML companion to q140's
    * embedding kNN: "these two documents touch the same neighborhoods
    * but never each other" — a retrieval-expansion and
    * missing-duplicate signal that needs no vectors. Common-neighbor
    * count is the integer-exact core of the classic indices
    * (Adamic-Adar and resource-allocation reweight each shared
    * neighbor by an order-sensitive float 1/log·deg sum — engine-
    * divergent in final ulps, so Graft emits the exact count plus the
    * graph's degrees and leaves monotone reweighting to the caller).
    *
    * Scale: wedge generation is the q93 discipline — per-CENTER
    * neighbor pairs, with centers capped at ${cfg.maxOverlapKeyDf}
    * neighbors (the MatchPrefix hot-key guard: an ultra-hub's wedge
    * set is quadratic and its "common neighbor" signal is noise — the
    * same reasoning that drops stopwords from similarity joins). Work
    * is Σ_{deg(a)≤cap} deg(a)² ≤ cap·|E|, linear in edges at fixed
    * cap; the anti join back to the edge list and the threshold filter
    * bound the output to genuinely-promising pairs. */
  def q235LinkPredict(spark: SparkSession, dir: String): DataFrame = {
    val und = GraphOps.q20OverlapEdges(spark, dir).select("src", "dst")
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val adj = und.select(col("u").as("ctr"), col("v").as("nb"))
      .unionAll(und.select(col("v").as("ctr"), col("u").as("nb")))
    val deg = adj.groupBy("ctr").agg(count(lit(1)).as("d"))
    val small = adj.join(deg.filter(col("d") <= cfg.maxOverlapKeyDf), "ctr")
      .select("ctr", "nb")
    val pairs = small.select(col("ctr"), col("nb").as("x"))
      .join(small.select(col("ctr"), col("nb").as("y")), "ctr")
      .filter(col("x") < col("y"))
      .groupBy(col("x").as("u"), col("y").as("v"))
      .agg(count(lit(1)).as("common_nbrs"))
    pairs.join(und, Seq("u", "v"), "left_anti")
      .filter(col("common_nbrs") >= LinkMinCommon)
  }

  def q235Sql: String =
    s"""WITH e AS (SELECT src, dst FROM (${GraphOps.q20Sql})),
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM e WHERE src <> dst),
       |adj AS (SELECT u AS ctr, v AS nb FROM und
       |  UNION ALL SELECT v AS ctr, u AS nb FROM und),
       |deg AS (SELECT ctr, count(*) AS d FROM adj GROUP BY 1),
       |sm AS (SELECT adj.ctr, adj.nb FROM adj JOIN deg USING (ctr)
       |  WHERE d <= ${cfg.maxOverlapKeyDf}),
       |p AS (SELECT a.nb AS u, b.nb AS v, count(*) AS common_nbrs
       |  FROM sm a JOIN sm b ON a.ctr = b.ctr AND a.nb < b.nb
       |  GROUP BY 1, 2)
       |SELECT u, v, common_nbrs FROM p
       |WHERE common_nbrs >= ${LinkMinCommon}
       |  AND NOT EXISTS (SELECT 1 FROM und WHERE und.u = p.u AND und.v = p.v)""".stripMargin

  /** q233: SKYLINE (Pareto front) — parts no other part beats on BOTH
    * price and size: keep row a unless some b has b.price ≤ a.price ∧
    * b.size ≤ a.size with at least one strict. The multi-criteria
    * shortlist operator (cheapest-for-its-size tradeoff curve) that
    * relational engines lack natively and the naive form computes as an
    * O(n²) self-anti-join.
    *
    * Built instead on the DISTRIBUTED GLOBAL PREFIX-MIN
    * ([[graft.operators.Scan.exclusiveRunningMin]]): in (price, size)
    * ascending order, a (distinct) pair is dominated iff the running
    * min of size over strictly-earlier rows is ≤ its size (earlier ⇒
    * price ≤, smaller-or-equal size with a strict coordinate guaranteed
    * by pair distinctness). Exact at any scale, O(n log n), never the
    * O(n²) self-anti-join — see the Scan scaladoc for the stitching.
    * Higher dimensions compose: prune with this 2-D pass per dimension
    * pair, exact-verify the (tiny) survivor set.
    *
    * Ties: exact-duplicate (price, size) pairs do not dominate each
    * other (no strict coordinate), so all copies surface together —
    * the dedup-to-pairs + semi-join-back keeps every carrying partkey. */
  def q233Skyline(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.part(spark, dir)
      .select(col("p_retailprice").as("price"), col("p_size").as("size"))
      .distinct()
    val sky = Scan
      .exclusiveRunningMin(pts, cfg.skylineRangeParts, Seq("price", "size"), "size", cfg)
      .filter(col("run_min").isNull || col("run_min") > col("size"))
      .select("price", "size")
    Tables.part(spark, dir)
      .join(broadcast(sky),
        col("p_retailprice") === col("price") && col("p_size") === col("size"),
        "left_semi")
      .select("p_partkey", "p_retailprice", "p_size")
  }

  def q233Sql: String =
    """SELECT p_partkey, p_retailprice, p_size
      |FROM part a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part b
      |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size <= a.p_size
      |    AND (b.p_retailprice < a.p_retailprice OR b.p_size < a.p_size))""".stripMargin
}

/** Default-configured instance (see [[graft.GraftConfig]]). */
object Analytics extends AnalyticsOps(GraftConfig.default)

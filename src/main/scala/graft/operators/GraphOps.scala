package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftConfig
import graft.sources.{Artifact, Tables}

/** String-graph operators — CloudBrush's overlap / graph-cleaning /
  * compression phases on the document corpus.
  *
  * Graph model: docs are nodes. The *string graph* has an edge a→b when
  * a's 2-word suffix equals b's 2-word prefix (the fixed-overlap analogue
  * of MatchPrefix.java:60-200 + VerifyOverlap.java:50-240 keyed
  * candidate generation — an equi-join, never an all-pairs scan). The
  * *coarse graph* (1-word key) is denser and exercises transitive
  * reduction (TransitiveReduction.java:60-430) and bubble finding
  * (FindBubbles.java:50-400).
  *
  * Scale design: the coarse graph's path queries are NOT computed by the
  * naive edges⋈edges self-join (quadratic at 100 TB). Because edge
  * existence depends only on (last-word, first-word) classes, mid-node
  * counts are computed on the quotient graph — a ≤|vocab|² class-count
  * table built in one linear pass and broadcast — then each edge decides
  * membership with O(1) arithmetic. CloudBrush runs another full
  * MapReduce self-join here; the contraction is the Spark-first rethink.
  */
class GraphOpsLib(val cfg: GraftConfig) {
  // graph cleaning [CloudBrush: LowCovThreshold, tip/bubble params]
  val LowCovThreshold: Double = 70.0
  // graph stats [CloudBrush: Stats cutoffs array + min contig length]
  val StatsMinLen: Long = 100L
  // bubble popping [FindBubbles.java:207 BUBBLEEDITRATE]
  val BubbleEditRate: Double = 0.05
  // decremental CC (q281): edges whose md5 bucket is ≥ this bound
  // form the deterministic DELETE batch (0xd0-0xff ≈ 18.75% of
  // edges) retracted against the persisted full-graph labels
  val CcDeleteLower: String = "d0"
  private val seqOps = new SequenceOps(cfg)

  /** First m words of `text`, single-space delimited — WITHOUT splitting
    * the doc into a word array: substring_index stops scanning at the
    * m-th delimiter, split allocates every word of a multi-KB doc just
    * to read its boundary (measured: the split formulation burned ~14 s
    * of executor CPU in edges2's hot-key pass alone at sf0.1). Semantics
    * pinned to split+slice by BoundaryKeySpec: fewer than m words →
    * the whole text (slice(ws, 1, m) caps at the array length). */
  private[graft] def preWords(text: Column, m: Int): Column =
    substring_index(text, " ", m)

  /** Last m words of `text` — split+slice-equivalent: slice(ws, -m, m)
    * returns EMPTY when the doc has fewer than m words (so a short doc
    * never suffix-matches), and fewer than m words ⟺ fewer than m−1
    * delimiters ⟺ substring_index(text, m−1) is the whole text. */
  private[graft] def sufWords(text: Column, m: Int): Column =
    if (m <= 1) substring_index(text, " ", -1)
    else when(substring_index(text, " ", m - 1) === text, lit(""))
      .otherwise(substring_index(text, " ", -m))

  /** Docs annotated with first/last words and 2-word boundary keys. */
  private[graft] def docsKeyedFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("n_chars"),
      preWords(col("text"), 1).as("fw"),
      sufWords(col("text"), 1).as("lw"),
      preWords(col("text"), 2).as("pre2"),
      sufWords(col("text"), 2).as("suf2"))

  private def docsKeyed(spark: SparkSession, dir: String): DataFrame =
    docsKeyedFrom(Tables.documents(spark, dir))

  private val docsKeyedSql: String =
    """SELECT doc_id, n_chars, ws[1] AS fw, ws[-1] AS lw,
      |  array_to_string(ws[:2], ' ') AS pre2, array_to_string(ws[-2:], ' ') AS suf2
      |FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents)""".stripMargin

  /** Over-frequent join keys of a candidate-generating key table — the
    * hot-key guard CloudBrush applies by SKIPPING any candidate key on
    * the high-frequency-k-mer list [MatchPrefix.java:155-156, list built
    * by BuildHighKmerList]. A key shared by n docs makes an O(n²) join
    * bucket; AQE skew-split can share that shuffle but cannot cap the
    * candidate explosion itself, so at 100 TB one viral boundary phrase
    * would otherwise go quadratic. The over-threshold list is tiny by
    * construction → broadcast anti-join, no extra shuffle on the edge
    * path. */
  private[graft] def hotKeys(keys: DataFrame, keyCol: String): DataFrame =
    broadcast(keys.groupBy(keyCol).agg(count(lit(1)).as("kdf"))
      .filter(col("kdf") > cfg.maxOverlapKeyDf).select(keyCol))

  /** String-graph edges: suffix₂(a) = prefix₂(b), hot keys skipped. */
  private[graft] def edges2From(d: DataFrame): DataFrame = {
    val a = d.select(col("doc_id").as("src"), col("suf2").as("okey"))
    val b = d.select(col("doc_id").as("dst"), col("pre2").as("okey"))
    val hot = hotKeys(
      d.select(col("suf2").as("okey")).unionAll(d.select(col("pre2").as("okey"))), "okey")
    a.join(hot, Seq("okey"), "left_anti")
      .join(b, "okey").filter(col("src") =!= col("dst")).select("src", "dst", "okey")
  }

  def edges2(spark: SparkSession, dir: String): DataFrame =
    edges2From(docsKeyed(spark, dir))

  private val edges2Sql: String =
    s"""SELECT a.doc_id AS src, b.doc_id AS dst, b.pre2 AS okey
       |FROM ($docsKeyedSql) a JOIN ($docsKeyedSql) b
       |ON a.suf2 = b.pre2 AND a.doc_id <> b.doc_id
       |  AND a.suf2 NOT IN (
       |    SELECT okey FROM (
       |      SELECT suf2 AS okey FROM ($docsKeyedSql)
       |      UNION ALL SELECT pre2 FROM ($docsKeyedSql))
       |    GROUP BY okey HAVING count(*) > ${cfg.maxOverlapKeyDf})""".stripMargin

  /** Coarse-graph edges: last-word(a) = first-word(b). */
  private def edges1(spark: SparkSession, dir: String): DataFrame = {
    val d = docsKeyed(spark, dir)
    val a = d.select(col("doc_id").as("src"), col("fw").as("src_fw"), col("lw").as("k"))
    val b = d.select(col("doc_id").as("dst"), col("lw").as("dst_lw"), col("fw").as("k"))
    a.join(b, "k").filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("src_fw"), col("k").as("src_lw"),
              col("k").as("dst_fw"), col("dst_lw"))
  }

  private val edges1Sql: String =
    s"""SELECT a.doc_id AS src, b.doc_id AS dst, a.fw AS src_fw, a.lw AS src_lw,
       |  b.fw AS dst_fw, b.lw AS dst_lw
       |FROM ($docsKeyedSql) a JOIN ($docsKeyedSql) b
       |ON a.lw = b.fw AND a.doc_id <> b.doc_id""".stripMargin

  /** q17: variable-length overlap verification [VerifyOverlap.java:50-240]
    * — for each candidate pair, the best overlap m ∈ {2,3,4} words (an
    * m-word overlap is its own alignment, so the edge set is the union of
    * three equi-joins and m the max that matches). */
  def q17BestOverlap(spark: SparkSession, dir: String): DataFrame = {
    // one exploded key table for all three overlap lengths (3 rows/doc,
    // each carrying the m-word suffix and prefix), so candidate
    // generation is ONE (m, key) equi-join and the hot-key guard
    // [MatchPrefix.java:155-156 — q17 seeds the chimeric/assembly chain,
    // so a viral m-word boundary phrase must not explode it either] is
    // ONE aggregation, instead of 3 arms × (2 scans + agg + anti-join)
    // materialized once, sized: the keys table feeds FOUR subtrees (two
    // occ arms, two join sides) — lazy, each re-ran the scan+explode
    graft.GraftSession.ensureCheckpointDir(spark)
    val keys = {
      val (c, n) = ckCount(Tables.documents(spark, dir)
        .select(col("doc_id"), explode(array((2 to 4).map(m => struct(
          lit(m).as("m"),
          sufWords(col("text"), m).as("sk"),
          preWords(col("text"), m).as("pk"))): _*)).as("x"))
        .select(col("doc_id"), col("x.m").as("m"), col("x.sk").as("sk"), col("x.pk").as("pk")))
      sizedCk(c, n)
    }
    val occ = keys.select(col("m"), col("sk").as("k"))
      .unionAll(keys.select(col("m"), col("pk").as("k")))
    val hot = broadcast(occ.groupBy("m", "k").agg(count(lit(1)).as("kdf"))
      .filter(col("kdf") > cfg.maxOverlapKeyDf).select("m", "k"))
    keys.select(col("doc_id").as("src"), col("m"), col("sk").as("k"))
      .join(hot, Seq("m", "k"), "left_anti")
      .join(keys.select(col("doc_id").as("dst"), col("m"), col("pk").as("k")), Seq("m", "k"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(max(col("m")).as("overlap_len"))
  }

  def q17Sql: String = {
    val unions = (2 to 4).map { m =>
      s"""SELECT a.doc_id AS src, b.doc_id AS dst, $m AS m
         |FROM ($docsKeyedSql2) a JOIN ($docsKeyedSql2) b
         |ON array_to_string(a.ws[-$m:], ' ') = array_to_string(b.ws[:$m], ' ')
         |  AND a.doc_id <> b.doc_id
         |WHERE array_to_string(a.ws[-$m:], ' ') NOT IN (
         |  SELECT k FROM (
         |    SELECT array_to_string(ws[-$m:], ' ') AS k FROM ($docsKeyedSql2)
         |    UNION ALL SELECT array_to_string(ws[:$m], ' ') FROM ($docsKeyedSql2))
         |  GROUP BY k HAVING count(*) > ${cfg.maxOverlapKeyDf})""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT src, dst, max(m) AS overlap_len FROM ($unions) GROUP BY src, dst"""
  }

  private def docsKeyedSql2: String =
    "SELECT doc_id, string_split(text, ' ') AS ws FROM documents"

  /** q18: chimeric-link cut [CutChimericLinks.java:60-400] — keep an edge
    * only if its overlap is the best among both its source's out-edges and
    * its target's in-edges (reciprocal-best filtering).
    *
    * Per-node maxima come from two groupBy aggregates joined back, NOT
    * Window.partitionBy(src)/(dst): a hub node's whole edge list would
    * land in one unsplittable window partition, and AQE can split a
    * skewed shuffle *join* but not a window. */
  def q18ChimericCut(spark: SparkSession, dir: String): DataFrame = {
    val e = q17BestOverlap(spark, dir)
    val bestOut = e.groupBy("src").agg(max(col("overlap_len")).as("best_out"))
    val bestIn = e.groupBy("dst").agg(max(col("overlap_len")).as("best_in"))
    e.join(bestOut, "src").join(bestIn, "dst")
      .filter(col("overlap_len") === col("best_out") && col("overlap_len") === col("best_in"))
      .select("src", "dst", "overlap_len")
  }

  def q18Sql: String =
    s"""WITH e AS (${q17Sql})
       |SELECT src, dst, overlap_len FROM (
       |  SELECT src, dst, overlap_len,
       |    max(overlap_len) OVER (PARTITION BY src) AS best_out,
       |    max(overlap_len) OVER (PARTITION BY dst) AS best_in
       |  FROM e)
       |WHERE overlap_len = best_out AND overlap_len = best_in""".stripMargin

  /** q19: repeat-boundary nodes [CutRepeatBoundary.java:60-300] — nodes
    * where ≥2 in-edges meet ≥2 out-edges (the string-graph signature of a
    * repeated region). */
  def q19RepeatNodes(spark: SparkSession, dir: String): DataFrame = {
    val e = edges2(spark, dir)
    val o = e.groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("out_deg"))
    val i = e.groupBy(col("dst").as("doc_id")).agg(count(lit(1)).as("in_deg"))
    o.join(i, "doc_id")
      .filter(col("out_deg") >= 2 && col("in_deg") >= 2)
      .select("doc_id", "in_deg", "out_deg")
  }

  def q19Sql: String =
    s"""WITH e AS ($edges2Sql),
       |o AS (SELECT src AS doc_id, count(*) AS out_deg FROM e GROUP BY src),
       |i AS (SELECT dst AS doc_id, count(*) AS in_deg FROM e GROUP BY dst)
       |SELECT doc_id, in_deg, out_deg FROM o JOIN i USING (doc_id)
       |WHERE out_deg >= 2 AND in_deg >= 2""".stripMargin

  /** q20: the string-graph edge list. */
  def q20OverlapEdges(spark: SparkSession, dir: String): DataFrame =
    edges2(spark, dir)

  def q20Sql: String = edges2Sql

  /** q21: edge symmetrization [GenReverseEdge.java:40-130]. */
  def q21ReverseEdges(spark: SparkSession, dir: String): DataFrame = {
    val e = edges2(spark, dir).select("src", "dst")
    e.withColumn("direction", lit("fwd"))
      .unionAll(e.select(col("dst").as("src"), col("src").as("dst")).withColumn("direction", lit("rev")))
  }

  def q21Sql: String =
    s"""WITH e AS (SELECT src, dst FROM ($edges2Sql))
       |SELECT src, dst, 'fwd' AS direction FROM e
       |UNION ALL SELECT dst AS src, src AS dst, 'rev' AS direction FROM e""".stripMargin

  /** Quotient-class counts of the coarse graph: how many docs have
    * (first-word, last-word) = (fw, lw). ≤|vocab|² rows → broadcast. */
  private def classCounts(spark: SparkSession, dir: String): DataFrame =
    docsKeyed(spark, dir).groupBy(col("fw"), col("lw")).agg(count(lit(1)).as("cnt"))

  /** Stage/round lineage cut: eager localCheckpoint locally, reliable
    * checkpoint on clusters (cfg.reliableStageCheckpoints) — one knob for
    * every iterative loop's durability, same contract as
    * Pipeline.assembleFull's stage handoffs. */
  private def stageCk(df: DataFrame): DataFrame = graft.Ck.stage(df, cfg)

  /** Cut + count fused into ONE job for SMALL per-round tables (removal
    * node lists, boundary-keep maps): lazy localCheckpoint stores its
    * blocks during the count action. Reliable mode keeps the eager cut
    * (a lazy reliable checkpoint recomputes the RDD for the write). */
  private def ckCount(df: DataFrame): (DataFrame, Long) =
    graft.Ck.sizedStage(df, cfg)

  /** Materialize an iterative loop's EDGE-SIDE table key-partitioned
    * and row-count-sized: one lazy cut+count evaluates the (possibly
    * heavy) build plan once, then the counted rows re-cut through an
    * EXPLICIT hash repartition sized by Ck.StageRowsPerPartition —
    * explicit because the stats barrier can only lift partitioning
    * from a FINAL adaptive plan (a lazy cut never has one) and a
    * column-only repartition gets AQE-coalesced out of co-location,
    * and SIZED because a fixed 32-way layout makes every round pay 32
    * task launches for a table that may hold a few thousand rows
    * (measured: q170 1.6 → 2.8 s with the fixed count; the data-sized
    * count keeps both the small-scale task economy and the at-scale
    * exchange-free contract). Returns (keyed table, row count). */
  private[graft] def keyedCk(df: DataFrame, key: String): (DataFrame, Long) =
    graft.Ck.keyedStage(df, key, cfg)

  /** Right-size a just-counted stage table (see [[graft.Ck.sized]]). */
  private[operators] def sizedCk(e: DataFrame, n: Long): DataFrame = graft.Ck.sized(e, n, cfg)

  /** q22: transitive reduction on the coarse graph — drop a→b when some
    * 2-path a→x→b exists. Mid-class arithmetic instead of a path
    * self-join: a valid mid x has fw = last(a) and lw = first(b) = last(a),
    * so m = cnt(la, la) − [first(a)=la] − [last(b)=la]; keep edge iff m=0.
    * One broadcast hash join + codegen arithmetic — linear in |E|. */
  def q22TransitiveReduction(spark: SparkSession, dir: String): DataFrame = {
    val e = edges1(spark, dir)
    val mids = broadcast(classCounts(spark, dir)
      .filter(col("fw") === col("lw"))
      .select(col("fw").as("src_lw"), col("cnt")))
    e.join(mids, Seq("src_lw"), "left")
      .withColumn("m",
        coalesce(col("cnt"), lit(0L))
          - when(col("src_fw") === col("src_lw"), 1L).otherwise(0L)
          - when(col("dst_lw") === col("src_lw"), 1L).otherwise(0L))
      .filter(col("m") <= 0)
      .select("src", "dst")
  }

  def q22Sql: String =
    s"""WITH e AS ($edges1Sql)
       |SELECT src, dst FROM e
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM e x JOIN e y ON x.dst = y.src
       |  WHERE x.src = e.src AND y.dst = e.dst)""".stripMargin

  /** q23: in/out degrees of the string graph (isolated docs included)
    * [CountReads.java-style bookkeeping]. */
  def q23Degrees(spark: SparkSession, dir: String): DataFrame = {
    val e = edges2(spark, dir)
    val outd = e.groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("out_deg"))
    val ind = e.groupBy(col("dst").as("doc_id")).agg(count(lit(1)).as("in_deg"))
    Tables.documents(spark, dir).select("doc_id")
      .join(outd, Seq("doc_id"), "left").join(ind, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  def q23Sql: String =
    s"""WITH e AS ($edges2Sql),
       |o AS (SELECT src AS doc_id, count(*) AS od FROM e GROUP BY src),
       |i AS (SELECT dst AS doc_id, count(*) AS idg FROM e GROUP BY dst)
       |SELECT d.doc_id, coalesce(o.od, 0) AS out_deg, coalesce(i.idg, 0) AS in_deg
       |FROM documents d LEFT JOIN o USING (doc_id) LEFT JOIN i USING (doc_id)""".stripMargin

  /** (tip node, branching neighbor) pairs of an edge set: degree-1
    * pendants hanging off a neighbor of degree ≥ 2 — the single tip
    * definition shared by detection (q24), removal application
    * (q39/q43), and the pipeline fixpoint. */
  private[operators] def tipsWithNeighbor(e: DataFrame): DataFrame = {
    val inc = e.select(col("src").as("node"), col("dst").as("nbr"))
      .unionAll(e.select(col("dst").as("node"), col("src").as("nbr")))
    // ONE incidence aggregation: a degree-1 node's single neighbor IS
    // min(nbr), so the pendant table needs no join back to inc — the
    // old inc⋈deg⋈deg shape paid three ~2|E| shuffles where one
    // suffices. The pendant set is small (broadcast side); the nbr-
    // degree lookup probes the big deg agg output map-side.
    val deg = inc.groupBy("node").agg(
      count(lit(1)).as("total"), min(col("nbr")).as("only_nbr"))
    val pendants = deg.filter(col("total") === 1)
      .select(col("node").as("tip"), col("only_nbr").as("tnbr"))
    deg.join(broadcast(pendants), col("node") === col("tnbr"))
      .filter(col("total") >= 2)
      .select(col("tip").as("node"), col("tnbr").as("nbr"))
  }

  /** q24: tips — degree-1 pendant nodes hanging off a branching neighbor
    * [TipsRemoval.java:60-330]. */
  def q24Tips(spark: SparkSession, dir: String): DataFrame =
    tipsWithNeighbor(edges2(spark, dir).select("src", "dst"))
      .select(col("node").as("tip_id"), col("nbr").as("neighbor_id"))

  def q24Sql: String =
    s"""WITH e AS (SELECT src, dst FROM ($edges2Sql)),
       |inc AS (SELECT src AS node, dst AS nbr FROM e UNION ALL SELECT dst, src FROM e),
       |deg AS (SELECT node, count(*) AS total FROM inc GROUP BY node)
       |SELECT i.node AS tip_id, i.nbr AS neighbor_id
       |FROM inc i JOIN deg dn ON i.node = dn.node JOIN deg dm ON i.nbr = dm.node
       |WHERE dn.total = 1 AND dm.total >= 2""".stripMargin

  /** q25: bubbles — (a,b) joined by ≥2 distinct 2-paths
    * [FindBubbles.java:50-400]. Same quotient-class trick as q22: the
    * candidate pair set is generated through the (≤|vocab|²) class-pair
    * table with cnt ≥ 2, then corrected exactly per pair. */
  def q25Bubbles(spark: SparkSession, dir: String): DataFrame = {
    val d = docsKeyed(spark, dir)
    val cc = classCounts(spark, dir)
    // class pairs that can possibly host >= 2 mids (corrections subtract at most 2)
    val hot = broadcast(cc.filter(col("cnt") >= 2)
      .select(col("fw").as("mid_fw"), col("lw").as("mid_lw"), col("cnt")))
    val as_ = d.select(col("doc_id").as("src"), col("fw").as("src_fw"), col("lw").as("mid_fw"))
    val bs = d.select(col("doc_id").as("dst"), col("lw").as("dst_lw"), col("fw").as("mid_lw"))
    as_.join(hot, "mid_fw")
      .join(bs, "mid_lw")
      .filter(col("src") =!= col("dst"))
      .withColumn("n_paths",
        col("cnt")
          - when(col("src_fw") === col("mid_fw") && col("mid_fw") === col("mid_lw"), 1L).otherwise(0L)
          - when(col("dst_lw") === col("mid_lw") && col("mid_fw") === col("mid_lw"), 1L).otherwise(0L))
      .filter(col("n_paths") >= 2)
      .select(col("src"), col("dst"), col("n_paths"))
  }

  def q25Sql: String =
    s"""WITH e AS ($edges1Sql)
       |SELECT x.src, y.dst, count(DISTINCT x.dst) AS n_paths
       |FROM e x JOIN e y ON x.dst = y.src AND x.src <> y.dst
       |GROUP BY x.src, y.dst HAVING count(DISTINCT x.dst) >= 2""".stripMargin

  /** q26: low-coverage removal [RemoveLowCoverage.java:40-200] — docs
    * whose mean k-mer frequency is below threshold (the corpus analogue of
    * read coverage). */
  def q26LowCoverage(spark: SparkSession, dir: String): DataFrame =
    seqOps.q15KmerReadFreq(spark, dir)
      .filter(col("avg_freq") < LowCovThreshold)
      .select("doc_id", "avg_freq")

  def q26Sql: String =
    s"""SELECT doc_id, avg_freq FROM (${seqOps.q15Sql})
       |WHERE avg_freq < $LowCovThreshold""".stripMargin

  /** Compressible-edge parent rows: (node=v, parent=u) for edges u→v
    * with outdeg(u)=1 ∧ indeg(v)=1 [Compressible.java:50-200]. One row
    * per chain interior — nodes absent here are their own head. */
  private[operators] def compressibleFrom(e: DataFrame): DataFrame = {
    val out1 = e.groupBy("src").agg(count(lit(1)).as("od")).filter(col("od") === 1).select("src")
    val in1 = e.groupBy("dst").agg(count(lit(1)).as("idg")).filter(col("idg") === 1).select("dst")
    e.join(out1, "src").join(in1, "dst")
      .select(col("dst").as("node"), col("src").as("parent"))
  }

  /** Pointer-jumping resolution of the unary-chain parent map to chain
    * heads [QuickMark/QuickMerge, PairMark/PairMerge iterative merging],
    * optionally carrying the hop depth below the head (d(x) doubles
    * alongside the parent map). Spark-first: p ← p∘p, O(log n) self-join
    * rounds, instead of CloudBrush's randomized O(chain-length)
    * mark/merge rounds.
    *
    * Scale mechanics:
    * - only chain INTERIORS enter the loop (nodes with a compressible
    *   incoming edge) — rounds join |chains| rows, not |corpus| rows;
    * - the round cap derives from the data: a chain cannot be longer
    *   than the interior-node count n, so ceil(log2(n+1))+1 rounds
    *   resolve every genuine chain. Odd-length cycles never drain the
    *   'moved' flag (the pointer advances by 2^k mod L forever) and
    *   previously burned a fixed 60 rounds; now they stop at the cap and
    *   are excluded by the root check below;
    * - rounds run on [[graft.Fixpoint]]'s Cadence cut: MEMORY_AND_DISK
    *   persists (the map covers chain interiors only, so it fits storage
    *   and spills gracefully) with an eager Ck cut every 4th round to
    *   truncate lineage — localCheckpoint locally and a reliable
    *   checkpoint under cfg.reliableStageCheckpoints (executor-local
    *   blocks die with any executor, so clusters flip the knob). */
  private def traced[T](tag: String)(f: => T): T = graft.Trace(tag)(f)

  /** Edit-rate gate lev(a,b) ≤ rate·maxLen via THRESHOLDED levenshtein:
    * the 3-arg form runs a banded O(threshold·min(len)) DP with early
    * exit instead of the full O(len²) table — the win grows with doc
    * length since the threshold is a small fraction of it. Returns -1
    * iff the distance exceeds the per-row integer threshold, and
    * distances are integers, so `≥ 0` against floor(rate·maxLen) is
    * exactly the original ≤-predicate; the oracle keeps the plain
    * 2-arg form and hash-matches. */
  private def editGate(a: Column, b: Column, maxLen: Column): Column =
    call_function("levenshtein", a, b,
      floor(lit(BubbleEditRate) * maxLen).cast("int")) >= 0

  def resolveChainsFrom(
      spark: SparkSession, nodes: DataFrame, edges: DataFrame, withDepth: Boolean,
      inChainPre: DataFrame = null): DataFrame = {
    graft.GraftSession.ensureCheckpointDir(spark)
    // one parent-map derivation per call: the old formulation left-joined
    // nodes to the compressible rows and split self/non-self AFTER — the
    // un-materialized self side re-ran the whole edges+degrees subtree a
    // second time in the final union (measured: ~half of q27's runtime).
    // inChainPre: a caller-supplied ALREADY-MATERIALIZED (node, parent)
    // interior map (the q82 per-phase background fragments) — skips the
    // derivation here entirely.
    val inChain = traced("chain.inChain")(
      if (inChainPre != null) {
        if (withDepth) inChainPre.withColumn("d", lit(1L)) else inChainPre
      } else {
        val base = compressibleFrom(edges).filter(col("node") =!= col("parent"))
        stageCk(if (withDepth) base.withColumn("d", lit(1L)) else base)
      })
    // every node WITHOUT a compressible incoming edge is its own head —
    // an anti-join against the (tiny, already-materialized) interior set
    val selfBase = nodes.join(inChain.select("node"), Seq("node"), "left_anti")
    val selfHead =
      if (withDepth) selfBase.select(col("node"), col("node").as("head"), lit(0L).as("depth"))
      else selfBase.select(col("node"), col("node").as("head"))
    val n = inChain.count()
    val maxRounds =
      if (n <= 1) 1 else math.ceil(math.log((n + 1).toDouble) / math.log(2.0)).toInt + 1
    graft.Trace.log(s"chain.n=$n maxRounds=$maxRounds")
    // Cadence cut: EAGER every 4th round, MEMORY_AND_DISK persists in
    // between (the round map is (node, parent, depth) over chain
    // INTERIORS only — a small fraction of the corpus — so it fits
    // storage memory and spills gracefully; pure DISK_ONLY paid a
    // write+read round trip on every tiny round). A lazy cut+conv-count
    // fusion was tried here in r18 and REVERTED: it measured q82 10.4 →
    // 13.3 s at sf0.1 (subset-bench A/B, 3-run min, hot box) — q82's
    // 8-phase namespaced union keeps 3 persisted round maps alive UNDER
    // the fused count (they are the lazy cut's lineage until it
    // materializes), and the storage pressure cost more than the saved
    // barrier. q62/q28/q28b were flat either way; Cc/Scc keep their
    // fused cut+count, where the round state is a single small table
    // and the A/B favors it.
    //
    // Short chains dominate: the convergence count starts at round 3
    // (they almost never converge before covering length 8). Exit on 0
    // movers OR a mover-count plateau: genuine chain nodes strictly
    // decrease the count every round (each unresolved node's root
    // distance shrinks, and chain distances are contiguous, so every
    // doubling band resolves someone) — a plateau means only cycle/rho
    // components remain, whose pointers circulate forever; the root
    // check below excludes exactly those, so further rounds cannot
    // change the output. Without this, one cycle anywhere in the graph
    // forced the full log2(n) round cap (measured: 12 rounds instead of
    // ~7 on the cleaned sf0.1 graph). A last round that only persisted
    // is cut by the driver, so no round map outlives the call.
    val p = graft.Fixpoint.run("chain", inChain, n, maxRounds,
        graft.Fixpoint.Cadence(col("moved")), cfg) { r =>
      val p = r.state.drop("moved")
      // hop through the CURRENT map (p ∘ p): doubles resolved path length
      // per round, O(log chain-length) rounds total
      val hop =
        if (withDepth) p.select(col("node").as("pnode"), col("parent").as("pparent"), col("d").as("pd"))
        else p.select(col("node").as("pnode"), col("parent").as("pparent"))
      val joined = p.join(hop, p("parent") === hop("pnode"), "left")
      if (withDepth) joined.select(col("node"),
        coalesce(col("pparent"), col("parent")).as("parent"),
        (col("d") + coalesce(col("pd"), lit(0L))).as("d"),
        (col("pparent").isNotNull && col("pparent") =!= col("parent")).as("moved"))
      else joined.select(col("node"),
        coalesce(col("pparent"), col("parent")).as("parent"),
        (col("pparent").isNotNull && col("pparent") =!= col("parent")).as("moved"))
    }.drop("moved")
    // exclude cycles: resolved parent must be a genuine root (not interior)
    val resolved = p.join(inChain.select(col("node").as("pn")), p("parent") === col("pn"), "left_anti")
    val renamed =
      if (withDepth) resolved.select(col("node"), col("parent").as("head"), col("d").as("depth"))
      else resolved.select(col("node"), col("parent").as("head"))
    selfHead.unionAll(renamed)
  }

  private def resolveChains(spark: SparkSession, dir: String, withDepth: Boolean): DataFrame =
    resolveChainsFrom(spark,
      Tables.documents(spark, dir).select(col("doc_id").as("node")),
      edges2(spark, dir).select("src", "dst"), withDepth)

  /** q27: chain compression — map every node to the head of its maximal
    * unary chain. Nodes on pure cycles have no head and are excluded
    * (the final head must be a genuine root of the one-step map). */
  def q27ChainCompress(spark: SparkSession, dir: String): DataFrame =
    resolveChains(spark, dir, withDepth = false)

  def chainSql: String =
    s"""WITH RECURSIVE
       |e AS (SELECT src, dst FROM ($edges2Sql)),
       |odeg AS (SELECT src, count(*) AS c FROM e GROUP BY src),
       |ideg AS (SELECT dst, count(*) AS c FROM e GROUP BY dst),
       |comp AS (
       |  SELECT e.src AS parent, e.dst AS node FROM e
       |  JOIN odeg ON e.src = odeg.src JOIN ideg ON e.dst = ideg.dst
       |  WHERE odeg.c = 1 AND ideg.c = 1),
       |heads AS (
       |  SELECT d.doc_id AS node, d.doc_id AS head FROM documents d
       |  WHERE NOT EXISTS (SELECT 1 FROM comp WHERE comp.node = d.doc_id)
       |  UNION ALL
       |  SELECT comp.node, heads.head FROM heads JOIN comp ON comp.parent = heads.node)""".stripMargin

  def q27Sql: String = chainSql + "\nSELECT node, head FROM heads"

  /** q28: contig statistics incl. N50 [Stats.java:50-250] over the
    * compressed chains. */
  def q28GraphStats(spark: SparkSession, dir: String): DataFrame =
    statsFromChains(q27ChainCompress(spark, dir), Tables.documents(spark, dir))

  /** Contig statistics of a graph state, for any docs frame with
    * (doc_id, n_chars): the per-phase form the reference's driver runs
    * after every phase [BrushAssembler.java:839-885 computeStats]. */
  private[graft] def statsFromEdges(spark: SparkSession, docs: DataFrame,
      e: DataFrame): DataFrame =
    statsFromChains(resolveChainsFrom(spark,
      docs.select(col("doc_id").as("node")), e.select("src", "dst"),
      withDepth = false), docs)

  private[graft] def statsFromChains(chains: DataFrame, docs: DataFrame): DataFrame = {
    val lens = chains.join(docs.select(col("doc_id").as("node"), col("n_chars")), "node")
      .groupBy("head").agg(sum(col("n_chars")).as("clen"))
    val tot = lens.agg(count(lit(1)).as("n_contigs"), sum(col("clen")).as("total_len"),
                       max(col("clen")).as("max_len"))
    // N50 via a length HISTOGRAM, not a global ordered window: an
    // unpartitioned running sum funnels every contig into one task, a
    // single-partition bottleneck at millions of contigs. The histogram
    // has |distinct lengths| rows (≪ contigs), its triangular self-join
    // computes each bin's cumulative length in one broadcast-nested-loop
    // pass, and N50 = the largest length whose descending cumulative sum
    // reaches total/2 — identical to the row-ordered definition because
    // the threshold crossing always lands inside that bin.
    val hist = lens.groupBy("clen").agg(count(lit(1)).as("n"))
    val csum = hist.as("a").join(broadcast(hist.as("b")), col("b.clen") >= col("a.clen"))
      .groupBy(col("a.clen").as("bclen"))
      .agg(sum(col("b.clen") * col("b.n")).as("csum"))
    val n50 = csum.crossJoin(tot.select(col("total_len").as("t")))
      .filter(col("csum") >= col("t") / 2.0)
      .agg(max(col("bclen")).as("n50"))
    tot.crossJoin(n50)
  }

  /** Per-phase contig stats for SEVERAL graph states in ONE pass [the
    * reference driver's computeStats-after-every-phase loop,
    * BrushAssembler.java:839-885]: the phase tag is folded into the node
    * identity (struct(ph, id)), the union of all phases' edge sets runs
    * through a SINGLE pointer-jump chain resolution, and grouped
    * aggregations emit one q28-shaped row per phase.
    *
    * The scale point: [[resolveChainsFrom]] costs O(log longest-chain)
    * self-join ROUNDS, each a driver-synchronized job — resolving k
    * phases separately pays that round overhead k times on mostly-
    * overlapping graphs. Namespacing makes the union one graph whose
    * round count is the MAX over phases, not the sum, and every
    * per-round shuffle carries all phases' frontiers together. */
  /** Materialize one phase's namespaced chain-interior fragment on a
    * BACKGROUND driver thread (graft.Par): under the (ph, id) namespace
    * the degree aggregations behind compressibleFrom are phase-local, so
    * compressibleFrom(union of namespaced phases) ≡ union of per-phase
    * fragments — which means each fragment can be computed the moment
    * its phase's edge state exists, overlapping the NEXT phase's
    * driver-synchronized rounds instead of serializing after all of
    * them (the graft.Par lowcov pattern; scheduling-only, results
    * identical). */
  private[graft] def inChainFragmentAsync(spark: SparkSession, tag: String,
      e: DataFrame): graft.Par.Async[DataFrame] =
    graft.Par.async(spark, s"graft-inchain-$tag") {
      stageCk(compressibleFrom(e.select("src", "dst"))
        .filter(col("node") =!= col("parent"))
        .select(struct(lit(tag).as("ph"), col("node").as("id")).as("node"),
                struct(lit(tag).as("ph"), col("parent").as("id")).as("parent")))
    }

  private[graft] def multiPhaseStatsFromEdges(spark: SparkSession, docs: DataFrame,
      phases: Seq[(String, DataFrame)],
      inChainPre: DataFrame = null): DataFrame = {
    val edges = phases.map { case (tag, e) =>
      e.select(lit(tag).as("ph"), col("src"), col("dst")) }.reduce(_ unionAll _)
      .select(struct(col("ph"), col("src").as("id")).as("src"),
              struct(col("ph"), col("dst").as("id")).as("dst"))
    val nodes = docs.select(
        explode(array(phases.map(p => lit(p._1)): _*)).as("ph"), col("doc_id"))
      .select(struct(col("ph"), col("doc_id").as("id")).as("node"))
    val chains = resolveChainsFrom(spark, nodes, edges, withDepth = false,
      inChainPre = inChainPre)
    val lens = chains.select(col("head"), col("node.id").as("node_id"))
      .join(docs.select(col("doc_id").as("node_id"), col("n_chars")), "node_id")
      .groupBy("head").agg(sum(col("n_chars")).as("clen"))
      .select(col("head.ph").as("phase"), col("clen"))
    val tot = lens.groupBy("phase").agg(count(lit(1)).as("n_contigs"),
      sum(col("clen")).as("total_len"), max(col("clen")).as("max_len"))
    // per-phase histogram N50 (see statsFromChains): the triangular join
    // is phase-local, still broadcast-sized (|distinct lengths| per phase)
    val hist = lens.groupBy("phase", "clen").agg(count(lit(1)).as("n"))
    val csum = hist.as("a").join(broadcast(hist.as("b")),
        col("a.phase") === col("b.phase") && col("b.clen") >= col("a.clen"))
      .groupBy(col("a.phase").as("phase"), col("a.clen").as("bclen"))
      .agg(sum(col("b.clen") * col("b.n")).as("csum"))
    val n50 = csum.join(tot.select(col("phase"), col("total_len").as("t")), "phase")
      .filter(col("csum") >= col("t") / 2.0)
      .groupBy("phase").agg(max(col("bclen")).as("n50"))
    tot.join(n50, "phase")
      .select(col("phase"), col("n_contigs"), col("total_len"), col("max_len"), col("n50"))
  }

  def q28Sql: String =
    chainSql +
    s""",
       |lens AS (SELECT head, CAST(SUM(n_chars) AS BIGINT) AS clen
       |  FROM heads JOIN documents ON doc_id = node GROUP BY head),
       |tot AS (SELECT count(*) AS n_contigs, CAST(SUM(clen) AS BIGINT) AS total_len,
       |  max(clen) AS max_len FROM lens),
       |ord AS (SELECT clen, CAST(SUM(clen) OVER (ORDER BY clen DESC, head) AS BIGINT) AS csum FROM lens)
       |SELECT n_contigs, total_len, max_len,
       |  (SELECT clen FROM ord, tot WHERE csum >= total_len / 2.0 ORDER BY csum LIMIT 1) AS n50
       |FROM tot""".stripMargin

  /** q28b: multi-cutoff contig statistics [Stats.java:186-196 reports an
    * N10…N90 cutoff band; Stats.java:54 filters contigs below a minimum
    * length]. Same histogram machinery as q28 — one triangular
    * broadcast join over |distinct lengths| rows serves every cutoff, so
    * adding cutoffs is free — with the reference's min-length filter
    * ($StatsMinLen) applied before any statistic. The cutoff fractions
    * 0.25/0.50/0.75 are exact binary fractions, so threshold arithmetic
    * is bit-identical across engines. */
  def q28bStatsMulti(spark: SparkSession, dir: String): DataFrame = {
    val chains = q27ChainCompress(spark, dir)
    val lens = chains.join(Tables.documents(spark, dir).select(col("doc_id").as("node"), col("n_chars")), "node")
      .groupBy("head").agg(sum(col("n_chars")).as("clen"))
      .filter(col("clen") >= StatsMinLen)
    val tot = lens.agg(count(lit(1)).as("n_contigs"), sum(col("clen")).as("total_len"),
                       max(col("clen")).as("max_len"))
    val hist = lens.groupBy("clen").agg(count(lit(1)).as("n"))
    val csum = hist.as("a").join(broadcast(hist.as("b")), col("b.clen") >= col("a.clen"))
      .groupBy(col("a.clen").as("bclen"))
      .agg(sum(col("b.clen") * col("b.n")).as("csum"))
    val cuts = csum.crossJoin(tot.select(col("total_len").as("t")))
      .agg(max(when(col("csum") >= col("t") * 0.25, col("bclen"))).as("n25"),
           max(when(col("csum") >= col("t") * 0.50, col("bclen"))).as("n50"),
           max(when(col("csum") >= col("t") * 0.75, col("bclen"))).as("n75"))
    tot.crossJoin(cuts)
  }

  def q28bSql: String =
    chainSql +
    s""",
       |lens AS (SELECT head, CAST(SUM(n_chars) AS BIGINT) AS clen
       |  FROM heads JOIN documents ON doc_id = node GROUP BY head
       |  HAVING CAST(SUM(n_chars) AS BIGINT) >= ${StatsMinLen}),
       |tot AS (SELECT count(*) AS n_contigs, CAST(SUM(clen) AS BIGINT) AS total_len,
       |  max(clen) AS max_len FROM lens),
       |ord AS (SELECT clen, CAST(SUM(clen) OVER (ORDER BY clen DESC, head) AS BIGINT) AS csum FROM lens)
       |SELECT n_contigs, total_len, max_len,
       |  (SELECT max(clen) FROM ord, tot WHERE csum >= total_len * 0.25) AS n25,
       |  (SELECT max(clen) FROM ord, tot WHERE csum >= total_len * 0.50) AS n50,
       |  (SELECT max(clen) FROM ord, tot WHERE csum >= total_len * 0.75) AS n75
       |FROM tot""".stripMargin

  /** q35: mate-pair edge adjustment [AdjustMateEdge.java:60-300]. Mates
    * pair adjacent ids (d XOR 1). An edge a→b is mate-supported when the
    * reverse-orientation mate edge mate(b)→mate(a) also exists — emitted
    * as a flag so downstream can weight or cut. Self-join on the edge
    * key, shuffle-partitioned by (src,dst); linear at scale. */
  def q35MateConsistent(spark: SparkSession, dir: String): DataFrame = {
    val e = edges2(spark, dir).select("src", "dst")
    val mates = e.select((col("dst").bitwiseXOR(1)).as("src"), (col("src").bitwiseXOR(1)).as("dst"))
      .withColumn("mate_support", lit(true))
    e.join(mates.distinct(), Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), coalesce(col("mate_support"), lit(false)).as("mate_support"))
  }

  def q35Sql: String =
    s"""WITH e AS (SELECT src, dst FROM ($edges2Sql))
       |SELECT src, dst,
       |  EXISTS (SELECT 1 FROM e m WHERE m.src = xor(e.dst, 1) AND m.dst = xor(e.src, 1)) AS mate_support
       |FROM e""".stripMargin

  /** q36: braid counting [CountBraid.java:50-300] — coarse-graph edges
    * that coexist with ≥1 parallel 2-path (the braid motif). Same
    * quotient-class arithmetic as q22, opposite filter, plus the count. */
  def q36Braids(spark: SparkSession, dir: String): DataFrame = {
    val e = edges1(spark, dir)
    val mids = broadcast(classCounts(spark, dir)
      .filter(col("fw") === col("lw"))
      .select(col("fw").as("src_lw"), col("cnt")))
    e.join(mids, Seq("src_lw"), "left")
      .withColumn("n_braids",
        coalesce(col("cnt"), lit(0L))
          - when(col("src_fw") === col("src_lw"), 1L).otherwise(0L)
          - when(col("dst_lw") === col("src_lw"), 1L).otherwise(0L))
      .filter(col("n_braids") > 0)
      .select("src", "dst", "n_braids")
  }

  def q36Sql: String =
    s"""WITH e AS ($edges1Sql)
       |SELECT e.src, e.dst, (
       |  SELECT count(*) FROM e x JOIN e y ON x.dst = y.src
       |  WHERE x.src = e.src AND y.dst = e.dst) AS n_braids
       |FROM e
       |WHERE EXISTS (
       |  SELECT 1 FROM e x JOIN e y ON x.dst = y.src
       |  WHERE x.src = e.src AND y.dst = e.dst)""".stripMargin

  /** q37: SFA export [Graph2Sfa.java:40-130] — tab-separated id/sequence
    * lines, CloudBrush's intermediate format. */
  def q37Graph2Sfa(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), concat(col("doc_id"), lit("\t"), col("text")).as("sfa"))

  def q37Sql: String =
    """SELECT doc_id, doc_id || chr(9) || text AS sfa FROM documents""".stripMargin

  /** Chain membership with depth below the head — the depth-carrying
    * variant of the shared pointer-jumping loop. */
  private def chainsWithDepth(spark: SparkSession, dir: String): DataFrame =
    resolveChains(spark, dir, withDepth = true)

  /** Ordered consensus per chain [DefineConsensus.java:50-300]: member
    * texts concatenated head-first. Ordered aggregation via array_sort
    * over (depth, node, text) structs, the shuffle-stable Spark idiom
    * for ORDER BY inside an aggregate. Shared by q38 and
    * Pipeline.assemble so the definition can't silently diverge. */
  private[operators] def consensusFrom(chains: DataFrame, docs: DataFrame): DataFrame =
    chains.join(docs.select(col("doc_id").as("node"), col("text")), "node")
      .groupBy("head")
      .agg(count(lit(1)).as("n_members"),
        expr("array_join(transform(array_sort(collect_list(struct(depth, node, text))), x -> x.text), ' | ')")
          .as("consensus"))

  /** q38: consensus per compressed chain. */
  def q38Consensus(spark: SparkSession, dir: String): DataFrame =
    consensusFrom(chainsWithDepth(spark, dir), Tables.documents(spark, dir))

  def q38Sql: String =
    chainSqlDepth +
    s"""
       |SELECT h.head, count(*) AS n_members,
       |  string_agg(d.text, ' | ' ORDER BY h.depth, h.node) AS consensus
       |FROM heads h JOIN documents d ON d.doc_id = h.node
       |GROUP BY h.head""".stripMargin

  /** Depth-carrying chain CTEs over an arbitrary edge CTE (must appear
    * in a WITH RECURSIVE list). */
  private def chainDepthCtesFrom(edgeCte: String): String =
    s"""odeg AS (SELECT src, count(*) AS c FROM $edgeCte GROUP BY src),
       |ideg AS (SELECT dst, count(*) AS c FROM $edgeCte GROUP BY dst),
       |comp AS (
       |  SELECT e.src AS parent, e.dst AS node FROM $edgeCte e
       |  JOIN odeg ON e.src = odeg.src JOIN ideg ON e.dst = ideg.dst
       |  WHERE odeg.c = 1 AND ideg.c = 1),
       |heads AS (
       |  SELECT d.doc_id AS node, d.doc_id AS head, 0 AS depth FROM documents d
       |  WHERE NOT EXISTS (SELECT 1 FROM comp WHERE comp.node = d.doc_id)
       |  UNION ALL
       |  SELECT comp.node, heads.head, heads.depth + 1 FROM heads JOIN comp ON comp.parent = heads.node)""".stripMargin

  private def chainSqlDepth: String =
    s"""WITH RECURSIVE
       |e AS (SELECT src, dst FROM ($edges2Sql)),
       |${chainDepthCtesFrom("e")}""".stripMargin

  /** Oracle for the full assembly pipeline: the tip fixpoint is unrolled
    * $unrollRounds times — tip removal is IDEMPOTENT once converged, so
    * any unroll count ≥ the data's convergence round count is exact (the
    * corpus converges in ≤6 rounds at every tested sf; 12 is 2× margin)
    * — then the recursive chain CTEs and ordered consensus run over the
    * cleaned edge set. */
  private[operators] def assembleSql(unrollRounds: Int): String = {
    val rounds = (1 to unrollRounds)
      .map(i => tipRoundSql(if (i == 1) "e0" else s"t${i - 1}_out", s"t$i"))
      .mkString(",\n")
    s"""WITH RECURSIVE
       |e0 AS MATERIALIZED (SELECT src, dst FROM ($edges2Sql)),
       |$rounds,
       |${chainDepthCtesFrom(s"t${unrollRounds}_out")}
       |SELECT h.head, count(*) AS n_members,
       |  string_agg(d.text, ' | ' ORDER BY h.depth, h.node) AS consensus
       |FROM heads h JOIN documents d ON d.doc_id = h.node
       |GROUP BY h.head""".stripMargin
  }

  // ------------------------------------------------------------------
  // Edge-set-parameterized stages for the full BrushAssembler
  // composition (q62/q63). Unlike the standalone detectors (q18/q22/
  // q25/q42), which run on the RAW corpus graph and therefore need the
  // quotient-class machinery to stay linear, these run on the CURRENT
  // (already chimeric-cut / reduced / tip-cleaned) edge set, whose
  // degrees are bounded by reciprocal-best filtering — so the direct
  // join formulations are linear in |E| and compose over any stage
  // order, exactly like the reference's EdgeRemoval-between-stages.
  // ------------------------------------------------------------------

  /** One chimeric-link round [CutChimericLinks.java:60-400]: keep an edge
    * iff its overlap is best among its source's out-edges AND its
    * target's in-edges. Input/output: (src, dst, overlap_len). */
  private[graft] def reciprocalBestFrom(e: DataFrame): DataFrame = {
    val bestOut = e.groupBy("src").agg(max(col("overlap_len")).as("best_out"))
    val bestIn = e.groupBy("dst").agg(max(col("overlap_len")).as("best_in"))
    e.join(bestOut, "src").join(bestIn, "dst")
      .filter(col("overlap_len") === col("best_out") && col("overlap_len") === col("best_in"))
      .select("src", "dst", "overlap_len")
  }

  private[operators] def reciprocalBestSql(eIn: String, p: String): String =
    s"""${p}_bo AS MATERIALIZED (SELECT src, max(overlap_len) AS best_out FROM $eIn GROUP BY src),
       |${p}_bi AS MATERIALIZED (SELECT dst, max(overlap_len) AS best_in FROM $eIn GROUP BY dst),
       |${p}_out AS MATERIALIZED (SELECT e.src, e.dst, e.overlap_len FROM $eIn e
       |  JOIN ${p}_bo USING (src) JOIN ${p}_bi USING (dst)
       |  WHERE e.overlap_len = best_out AND e.overlap_len = best_in)""".stripMargin

  /** Transitive reduction on the current edge set [TransitiveReduction
    * .java:60-430]: drop a→b when a 2-path a→x→b survives. Post-chimeric
    * degrees are reciprocal-best-bounded, so the 2-path join is linear —
    * the raw-graph variant (q22) uses quotient-class arithmetic instead. */
  private[graft] def transReduceFrom(e: DataFrame): DataFrame = {
    val paths = e.as("x").join(e.as("y"), col("x.dst") === col("y.src"))
      .select(col("x.src").as("src"), col("y.dst").as("dst")).distinct()
    e.join(paths, Seq("src", "dst"), "left_anti")
  }

  private[operators] def transReduceSql(eIn: String, p: String): String =
    s"""${p}_paths AS MATERIALIZED (SELECT DISTINCT x.src, y.dst
       |  FROM $eIn x JOIN $eIn y ON x.dst = y.src),
       |${p}_out AS MATERIALIZED (SELECT e.src, e.dst FROM $eIn e
       |  WHERE NOT EXISTS (SELECT 1 FROM ${p}_paths t
       |    WHERE t.src = e.src AND t.dst = e.dst))""".stripMargin

  /** One bubble find+pop round on the current edge set [FindBubbles +
    * PopBubbles + EdgeRemoval]: per (src,dst) with ≥2 parallel 2-paths,
    * keep the longest mid (ties to smallest id) and remove the other
    * mids that sit within the BUBBLEEDITRATE gate of the kept text.
    * The cleaned graph's path count is degree-bounded, so the direct
    * path join + per-group min-struct stays linear (the raw-graph
    * bubble queries q25/q42 use the quotient contraction instead). */
  private[graft] def popRoundFrom(e: DataFrame, docs: DataFrame): DataFrame = {
    val popped = poppedMidsFrom(e, docs)
    e.join(popped.select(col("node").as("src")), Seq("src"), "left_anti")
      .join(popped.select(col("node").as("dst")), Seq("dst"), "left_anti")
      .select("src", "dst")
  }

  /** The (small) popped-mid node list of one bubble-pop round — the
    * detect half of [[popRoundFrom]], usable by [[nodeRemovalLoopFrom]]
    * so pop rounds never rewrite the edge set. */
  private[graft] def poppedMidsFrom(e: DataFrame, docs: DataFrame): DataFrame = {
    val paths = e.as("x").join(e.as("y"), col("x.dst") === col("y.src"))
      .filter(col("x.src") =!= col("y.dst"))
      .select(col("x.src").as("src"), col("y.dst").as("dst"), col("x.dst").as("mid"))
    // lengths-only through the heavy 2-path aggregate: the old shape
    // carried full TEXT through the (src, dst) shuffle and kept it in
    // every partial min(struct) — round-10 rework ships only ints
    // there and joins text back for the (rare) bubble candidates, so
    // corpus text bytes never ride the 2-path exchange at any scale
    val m = paths.join(docs.select(col("doc_id").as("mid"), col("n_chars")), "mid")
    val kept = m.groupBy("src", "dst").agg(
        count(lit(1)).as("n_mids"),
        min(struct((-col("n_chars")).as("negl"), col("mid").as("kmid"))).as("k"))
      .filter(col("n_mids") >= 2)
      .select(col("src"), col("dst"), col("k.kmid").as("kept_mid"),
        (-col("k.negl")).as("klen"))
    val cand = m.join(kept, Seq("src", "dst"))
      .filter(col("mid") =!= col("kept_mid"))
      .select(col("mid"), col("n_chars"), col("kept_mid"), col("klen"))
    cand
      .join(docs.select(col("doc_id").as("mid"), col("text")), "mid")
      .join(docs.select(col("doc_id").as("kept_mid"), col("text").as("ktext")), "kept_mid")
      .filter(editGate(col("text"), col("ktext"), greatest(col("n_chars"), col("klen"))))
      .select(col("mid").as("node")).distinct()
  }

  private[operators] def popRoundSql(eIn: String, p: String): String =
    s"""${p}_m AS MATERIALIZED (SELECT x.src, y.dst, x.dst AS mid, d.n_chars, d.text
       |  FROM $eIn x JOIN $eIn y ON x.dst = y.src AND x.src <> y.dst
       |  JOIN documents d ON d.doc_id = x.dst),
       |${p}_rk AS MATERIALIZED (SELECT src, dst, mid, n_chars, text,
       |    count(*) OVER (PARTITION BY src, dst) AS n_mids,
       |    row_number() OVER (PARTITION BY src, dst ORDER BY n_chars DESC, mid) AS rk
       |  FROM ${p}_m),
       |${p}_pop AS MATERIALIZED (SELECT DISTINCT r.mid AS nid
       |  FROM ${p}_rk r JOIN ${p}_rk k ON k.src = r.src AND k.dst = r.dst AND k.rk = 1
       |  WHERE r.rk > 1 AND k.n_mids >= 2
       |    AND levenshtein(k.text, r.text) <= ${BubbleEditRate} * greatest(k.n_chars, r.n_chars)),
       |${p}_out AS MATERIALIZED (SELECT src, dst FROM $eIn
       |  WHERE src NOT IN (SELECT nid FROM ${p}_pop)
       |    AND dst NOT IN (SELECT nid FROM ${p}_pop))""".stripMargin

  /** One repeat-boundary adjustment round [CutRepeatBoundary.java:300-520
    * + EdgeRemoval, driven by BrushAssembler.edgeAdjustment:431-460]: at
    * every repeat boundary (≥2 in AND ≥2 out), keep only the
    * deterministic best in/out edge (smallest neighbor id — the text
    * analogue of the consensus-matching edge) and cut the rest. */
  private[graft] def repeatCutRoundFrom(e: DataFrame): DataFrame =
    applyRepeatKeeps(e, repeatKeeps(e))

  /** The (small) repeat-boundary keep map of an edge set: one row per
    * ≥2-in/≥2-out node with its deterministic best in/out neighbor.
    * One incidence-union aggregation instead of two per-direction
    * degree aggs + an inner join: same shuffled bytes (2|E| rows once
    * vs |E| rows twice), one exchange and no node-join to build the
    * boundary table — the repeat set and keep choices are identical. */
  private[graft] def repeatKeeps(e: DataFrame): DataFrame = {
    val inc = e.select(col("src").as("node"), col("dst").as("nbr"), lit(1).as("out"))
      .unionAll(e.select(col("dst").as("node"), col("src").as("nbr"), lit(0).as("out")))
    inc.groupBy("node").agg(
        sum(col("out")).as("od"), sum(lit(1) - col("out")).as("idg"),
        min(when(col("out") === 1, col("nbr"))).as("keep_dst"),
        min(when(col("out") === 0, col("nbr"))).as("keep_src"))
      .filter(col("od") >= 2 && col("idg") >= 2)
      .select("node", "keep_dst", "keep_src")
  }

  /** Apply a keep map: drop every boundary edge that is not the kept
    * in/out choice. The keep map is a small fraction of the corpus →
    * two broadcast left joins, no edge-side shuffle. */
  private[graft] def applyRepeatKeeps(e: DataFrame, rep: DataFrame): DataFrame =
    e.join(broadcast(rep.select(col("node").as("src"), col("keep_dst"))), Seq("src"), "left")
      .join(broadcast(rep.select(col("node").as("dst"), col("keep_src"))), Seq("dst"), "left")
      .filter((col("keep_dst").isNull || col("dst") === col("keep_dst")) &&
              (col("keep_src").isNull || col("src") === col("keep_src")))
      .select("src", "dst")

  /** Repeat-boundary adjustment fixpoint with detect-round fusion: the
    * [[fusedStepsFrom]] path applied to keep MAPS instead of removal
    * node lists. Keep maps apply in step order (an empty keep map's
    * apply is a structural no-op, so a fused trailing converged round
    * is idempotent and bounded-round oracles unroll identically), and
    * every later phase reads the MATERIALIZED per-step maps — never a
    * lazy detect. */
  private[graft] def repeatAdjustLoopFrom(spark: SparkSession, e0: DataFrame,
      maxRounds: Int, tag: String, roundsPerJob: Int = 1): DataFrame = {
    graft.GraftSession.ensureCheckpointDir(spark)
    fusedStepsFrom(stageCk(e0.select("src", "dst")), maxRounds, tag, roundsPerJob,
      ordered = true)(repeatKeeps, applyRepeatKeeps)
  }

  private[operators] def repeatCutRoundSql(eIn: String, p: String): String =
    s"""${p}_o AS MATERIALIZED (SELECT src AS node, count(*) AS od, min(dst) AS keep_dst
       |  FROM $eIn GROUP BY src),
       |${p}_i AS MATERIALIZED (SELECT dst AS node, count(*) AS idg, min(src) AS keep_src
       |  FROM $eIn GROUP BY dst),
       |${p}_rep AS MATERIALIZED (SELECT node, keep_dst, keep_src
       |  FROM ${p}_o JOIN ${p}_i USING (node) WHERE od >= 2 AND idg >= 2),
       |${p}_out AS MATERIALIZED (SELECT e.src, e.dst FROM $eIn e
       |  LEFT JOIN ${p}_rep a ON a.node = e.src
       |  LEFT JOIN ${p}_rep b ON b.node = e.dst
       |  WHERE (a.node IS NULL OR e.dst = a.keep_dst)
       |    AND (b.node IS NULL OR e.src = b.keep_src))""".stripMargin

  /** Expose the shared tip-round SQL builder to the Pipeline oracle. */
  private[operators] def tipRoundSqlFrom(eIn: String, p: String): String =
    tipRoundSql(eIn, p)

  /** q63: repeat-boundary edge adjustment on the string graph — the
    * standalone form of BrushAssembler.edgeAdjustment (:431-460), which
    * alternates CutRepeatBoundary + EdgeRemoval with re-compression.
    * Each round cuts all but the deterministic best in/out edge at every
    * repeat boundary (q19's ≥2-in/≥2-out nodes), then runs one tip
    * cleanup round over the newly exposed pendants. Rounds are
    * config-bounded ($asmRepeatRounds, matching the unrolled oracle);
    * cuts are idempotent once no repeat boundary remains. */
  def q63RepeatAdjust(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.ensureCheckpointDir(spark)
    // cut before round 1: every round's detect pass re-scans the edge
    // blocks through the lazy broadcast-filter chain below; sized (in
    // shrinkFrom) so the per-round aggregation passes don't pay the
    // build plan's task count
    val (e0, n) = graft.Trace("q63.edges")(ckCount(edges2(spark, dir).select("src", "dst")))
    // Two jobs per round: (1) materialize the SMALL boundary keep map,
    // (2) apply it as broadcast map-side filters and fuse the tip
    // detect+remove+materialize+count of the shrunk remainder into the
    // round's cut. Materializing rep first matters: an unmaterialized
    // rep inside the round job gets its aggregation re-evaluated once
    // per broadcast arm. Early exit when a round removes nothing —
    // converged rounds are idempotent no-ops, so the unrolled oracle
    // stays exact.
    shrinkFrom("q63.repeat", e0, n, cfg.asmRepeatRounds) { r =>
      val (rep, nRep) = ckCount(repeatKeeps(r.state))
      r.own(rep)
      removeTips(if (nRep > 0) applyRepeatKeeps(r.state, rep) else r.state)
    }
  }

  def q63Sql: String = {
    val stages = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = "e0"
    for (i <- 1 to cfg.asmRepeatRounds) {
      stages += repeatCutRoundSql(cur, s"rc$i"); cur = s"rc${i}_out"
      stages += tipRoundSql(cur, s"rt$i"); cur = s"rt${i}_out"
    }
    s"""WITH e0 AS MATERIALIZED (SELECT src, dst FROM ($edges2Sql)),
       |${stages.mkString(",\n")}
       |SELECT src, dst FROM $cur""".stripMargin
  }

  private[operators] def q17SqlFrom: String = q17Sql
  private[operators] def q26SqlFrom: String = q26Sql
  /** Prefixed per-phase contig stats CTEs for the q82 oracle: chain
    * compression of `edgeCte` (recursive heads CTE) + the q28 stats
    * aggregate, all CTE names prefixed with `p` so several phases
    * coexist in one WITH RECURSIVE. Emits `<p>_st`: one row
    * (phase, n_contigs, total_len, max_len, n50). */
  private[operators] def phaseStatsSql(edgeCte: String, p: String, tag: String): String =
    s"""${p}_odeg AS (SELECT src, count(*) AS c FROM $edgeCte GROUP BY src),
       |${p}_ideg AS (SELECT dst, count(*) AS c FROM $edgeCte GROUP BY dst),
       |${p}_comp AS (
       |  SELECT e.src AS parent, e.dst AS node FROM $edgeCte e
       |  JOIN ${p}_odeg o ON e.src = o.src JOIN ${p}_ideg i ON e.dst = i.dst
       |  WHERE o.c = 1 AND i.c = 1),
       |${p}_heads AS (
       |  SELECT d.doc_id AS node, d.doc_id AS head FROM documents d
       |  WHERE NOT EXISTS (SELECT 1 FROM ${p}_comp c WHERE c.node = d.doc_id)
       |  UNION ALL
       |  SELECT c.node, h.head FROM ${p}_heads h JOIN ${p}_comp c ON c.parent = h.node),
       |${p}_lens AS (SELECT head, CAST(SUM(n_chars) AS BIGINT) AS clen
       |  FROM ${p}_heads JOIN documents ON doc_id = node GROUP BY head),
       |${p}_tot AS (SELECT count(*) AS n_contigs, CAST(SUM(clen) AS BIGINT) AS total_len,
       |  max(clen) AS max_len FROM ${p}_lens),
       |${p}_ord AS (SELECT clen, CAST(SUM(clen) OVER (ORDER BY clen DESC, head) AS BIGINT) AS csum
       |  FROM ${p}_lens),
       |${p}_st AS (SELECT '$tag' AS phase, n_contigs, total_len, max_len,
       |  (SELECT clen FROM ${p}_ord, ${p}_tot WHERE csum >= total_len / 2.0
       |   ORDER BY csum LIMIT 1) AS n50
       |  FROM ${p}_tot)""".stripMargin

  private[operators] def chainDepthCtesFromEdges(edgeCte: String): String =
    chainDepthCtesFrom(edgeCte)

  /** q29: FASTA export [Graph2Fasta.java:40-130]. */
  def q29Graph2Fasta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(lit(">doc_"), col("doc_id"), lit("\n"), col("text")).as("fasta"))

  def q29Sql: String =
    """SELECT doc_id, '>doc_' || doc_id || chr(10) || text AS fasta FROM documents""".stripMargin

  /** q39: removal application [EdgeRemoval.java:48-210] — CloudBrush's
    * detect stages emit removal messages and EdgeRemoval consumes them to
    * produce the cleaned graph. Graft's removal set is the union of tip
    * nodes (q24) and low-coverage docs (q26); the cleaned edge set drops
    * every incident edge. Scale: the removal set is a small fraction of
    * the corpus → two broadcast anti-joins over the edge list, no
    * edge-side shuffle. This one-shot form re-derives the edge list per
    * stage; when composing many removal stages, materialize the edge
    * list once instead (Pipeline.cleanToConvergence checkpoints it). */
  def q39CleanedGraph(spark: SparkSession, dir: String): DataFrame = {
    // the edge list feeds five consumers (incidence union ×2, two
    // anti-joins, the output projection); one eager checkpoint beats
    // five re-derivations of the scan+join subtree — same discipline as
    // Pipeline.cleanToConvergence, which hands removal stages a
    // materialized edge list
    graft.GraftSession.ensureCheckpointDir(spark)
    // the low-coverage half of the removal set rides on the q15 per-doc
    // k-mer profile — the single heaviest subtree here — and shares
    // nothing with the edge build: submit it from a second driver
    // thread so its scan-side jobs interleave with the edge
    // checkpoint's (graft.Par: scheduling-only overlap)
    val lowF = graft.Par.async(spark, "graft-q39-lowcov")(
      stageCk(q26LowCoverage(spark, dir).select(col("doc_id").as("nid"))))
    // if the main chain fails, kill the background jobs instead of
    // leaving them running unobserved with their failure swallowed
    try {
      val e = {
        val (c, n) = ckCount(edges2(spark, dir))
        sizedCk(c, n)
      }
      // the removal set feeds BOTH anti-join arms → materialize the
      // (small) node list once and broadcast it per arm
      val rem = stageCk(
        tipsWithNeighbor(e.select("src", "dst")).select(col("node").as("nid"))
          .unionAll(lowF())
          .distinct())
      e.join(broadcast(rem.select(col("nid").as("src"))), Seq("src"), "left_anti")
        .join(broadcast(rem.select(col("nid").as("dst"))), Seq("dst"), "left_anti")
        .select("src", "dst", "okey")
    } catch { case t: Throwable => lowF.cancelJobs(); throw t }
  }

  def q39Sql: String =
    s"""WITH e AS ($edges2Sql),
       |rem AS (SELECT tip_id AS nid FROM (${q24Sql})
       |  UNION SELECT doc_id FROM (${q26Sql}))
       |SELECT src, dst, okey FROM e
       |WHERE src NOT IN (SELECT nid FROM rem) AND dst NOT IN (SELECT nid FROM rem)""".stripMargin

  /** q42: bubble popping [PopBubbles.java:55-200] — for each bubble
    * (src,dst with ≥2 parallel 2-paths), keep the best mid path (longest
    * text, ties to the smallest doc_id) and count how many of the other
    * mids get popped. A mid is poppable only when its text is genuinely
    * similar to the kept path [FindBubbles.java:207-212: BUBBLEEDITRATE
    * = 0.05 edit-distance gate between the two path sequences]:
    * levenshtein(kept, mid) ≤ $BubbleEditRate × max(len) — without the
    * gate, popping would merge genuinely distinct content.
    *
    * Same quotient-class contraction as q25, with the edit gate computed
    * at CLASS granularity: each class compares its ≤3 keeper candidates
    * against its members (Σ 3·|class| levenshteins — linear in corpus
    * size, never per-bubble-pair), and the per-pair answer assembles
    * from broadcast (class, candidate) tables with O(1) lookups:
    * n_popped(src,dst) = n_ok(class, kept) − [src within gate] − [dst
    * within gate], where the src/dst corrections are left-join hits on
    * the same broadcast table (a row exists iff the node is in the mid
    * class AND within the gate of the keeper). */
  def q42PopBubbles(spark: SparkSession, dir: String): DataFrame =
    popBubblesFrom(Tables.documents(spark, dir))

  /** Core of q42 over any documents frame with (doc_id, n_chars, text) —
    * spec-testable on constructed corpora where mids ARE within the gate. */
  private[graft] def popBubblesFrom(docs0: DataFrame): DataFrame = {
    // levOk (the O(len²) member×candidate levenshtein pass) feeds three
    // consumers — nOk and the two okPairs broadcast lookups; broadcast
    // exchanges don't reuse across those branches, so an unmaterialized
    // levOk re-ran the whole docs→classTop→cands→join→levenshtein subtree
    // per consumer (18.7 s vs 1.8 s in round 3). One eager in-memory
    // materialization of the (tiny: verified pairs only) table fixes it;
    // classTop deliberately stays lazy — with levOk cut, its two
    // remaining consumers re-run only a cheap small aggregation, cheaper
    // than an extra eager materialization job per query invocation.
    val docs = docs0.select("doc_id", "n_chars", "text")
    val d = docs.select(col("doc_id"), col("n_chars"),
      preWords(col("text"), 1).as("fw"),
      sufWords(col("text"), 1).as("lw"))
    // classTop's eager materialization is ALSO load-bearing for plan
    // quality, not just reuse: as an ExistingRDD with known (tiny) size it
    // broadcasts into the cands join, where the lazy groupBy's unknown
    // stats flipped that join to shuffle and tripled the query (measured)
    val classTop = d.groupBy("fw", "lw").agg(
      count(lit(1)).as("cnt"),
      expr("slice(array_sort(collect_list(named_struct('negl', -n_chars, 'doc_id', doc_id))), 1, 3)").as("top3"))
      .localCheckpoint(true)
    // ≤3 keeper candidates per class, texts re-attached by id so the
    // wide text column stays out of the collect_list aggregation
    val cands = classTop.select(col("fw"), col("lw"), explode(col("top3")).as("c"))
      .select(col("fw"), col("lw"), col("c.doc_id").as("cand_id"), (-col("c.negl")).as("cand_len"))
      .join(docs.select(col("doc_id").as("cand_id"), col("text").as("cand_text")), "cand_id")
    // members × same-class candidates: the only levenshtein pass
    val mem = docs.select(col("doc_id"), col("n_chars"), col("text"),
      preWords(col("text"), 1).as("fw"), sufWords(col("text"), 1).as("lw"))
    // explicit repartition: the member×candidate join output is tiny in
    // BYTES but each row costs an O(len²) levenshtein — AQE coalesces by
    // bytes and would funnel every edit distance into one task
    val levOk = mem.join(cands, Seq("fw", "lw"))
      .filter(col("doc_id") =!= col("cand_id"))
      .repartition(docs0.sparkSession.sparkContext.defaultParallelism)
      .filter(editGate(col("text"), col("cand_text"), greatest(col("n_chars"), col("cand_len"))))
      .select(col("fw").as("mid_fw"), col("lw").as("mid_lw"),
        col("cand_id"), col("doc_id").as("member_id"))
      .localCheckpoint(true)
    // The output below is QUADRATIC in the corpus (every bubble (src,dst)
    // pair), so nothing may cost a per-output-row join or interpreted
    // expression: each extra broadcast-join stage re-copies every output
    // row (3 lookup joins measured ~2× the whole pipeline), and array
    // higher-order functions don't participate in whole-stage codegen.
    // Instead every lookup is pre-folded into the SMALL join inputs:
    //  - hot (≤|vocab|² classes) carries top-3 candidate ids t1..t3 AND
    //    their ok-member counts n1..n3 (cand_id identifies its class
    //    uniquely — a doc belongs to exactly one (fw,lw) class);
    //  - the src/dst sides (|corpus| rows, pre-blowup) each carry the ≤3
    //    candidate ids the doc is gate-ok with, as scalar columns.
    // The per-output-row work is then one CASE chain of long equality
    // checks inside one codegen stage — no post-join stages at all.
    val nOk = levOk.groupBy("cand_id").agg(count(lit(1)).as("n_ok"))
    val hot = broadcast(classTop.filter(col("cnt") >= 2)
      .select(col("fw").as("mid_fw"), col("lw").as("mid_lw"), col("cnt"),
        posexplode(col("top3")).as(Seq("p", "c")))
      .select(col("mid_fw"), col("mid_lw"), col("cnt"), col("p"), col("c.doc_id").as("cand_id"))
      .join(nOk, Seq("cand_id"), "left")
      .groupBy("mid_fw", "mid_lw", "cnt")
      .agg(max(when(col("p") === 0, col("cand_id"))).as("t1"),
        max(when(col("p") === 1, col("cand_id"))).as("t2"),
        max(when(col("p") === 2, col("cand_id"))).as("t3"),
        max(when(col("p") === 0, col("n_ok"))).as("n1"),
        max(when(col("p") === 1, col("n_ok"))).as("n2"),
        max(when(col("p") === 2, col("n_ok"))).as("n3")))
    // per doc: the ≤3 candidates it is within the edit gate of, as scalars
    val okOf = levOk.groupBy(col("member_id").as("doc_id"))
      .agg(sort_array(collect_list(col("cand_id"))).as("oks"))
      .select(col("doc_id"),
        expr("try_element_at(oks, 1)").as("ok1"),
        expr("try_element_at(oks, 2)").as("ok2"),
        expr("try_element_at(oks, 3)").as("ok3"))
    val as_ = d.select(col("doc_id").as("src"), col("fw").as("src_fw"), col("lw").as("mid_fw"))
      .join(okOf.select(col("doc_id").as("src"), col("ok1").as("sk1"),
        col("ok2").as("sk2"), col("ok3").as("sk3")), Seq("src"), "left")
    val bs = d.select(col("doc_id").as("dst"), col("lw").as("dst_lw"), col("fw").as("mid_lw"))
      .join(okOf.select(col("doc_id").as("dst"), col("ok1").as("dk1"),
        col("ok2").as("dk2"), col("ok3").as("dk3")), Seq("dst"), "left")
    def hit(k: String*): Column =
      k.map(c => col("kept_mid") === col(c)).reduce(_ || _)
    as_.join(hot, "mid_fw")
      .join(bs, "mid_lw")
      .filter(col("src") =!= col("dst"))
      .withColumn("n_mids",
        col("cnt")
          - when(col("src_fw") === col("mid_fw") && col("mid_fw") === col("mid_lw"), 1L).otherwise(0L)
          - when(col("dst_lw") === col("mid_lw") && col("mid_fw") === col("mid_lw"), 1L).otherwise(0L))
      .filter(col("n_mids") >= 2)
      // first of t1/t2/t3 that is neither src nor dst, in top3 order —
      // exactly try_element_at(filter(top3ids, i -> i != src AND i != dst), 1)
      // (a null tK nulls its own condition and falls through, like the
      // HOF filter skipping absent elements)
      .withColumn("kept_mid",
        when(col("t1") =!= col("src") && col("t1") =!= col("dst"), col("t1"))
          .when(col("t2") =!= col("src") && col("t2") =!= col("dst"), col("t2"))
          .when(col("t3") =!= col("src") && col("t3") =!= col("dst"), col("t3")))
      .select(col("src"), col("dst"), col("kept_mid"),
        (coalesce(
          when(col("kept_mid") === col("t1"), col("n1"))
            .when(col("kept_mid") === col("t2"), col("n2"))
            .when(col("kept_mid") === col("t3"), col("n3")), lit(0L))
          - when(hit("sk1", "sk2", "sk3"), 1L).otherwise(0L)
          - when(hit("dk1", "dk2", "dk3"), 1L).otherwise(0L)).as("n_popped"))
  }

  def q42Sql: String =
    s"""WITH e AS ($edges1Sql),
       |paths AS (SELECT x.src, y.dst, x.dst AS mid FROM e x
       |  JOIN e y ON x.dst = y.src AND x.src <> y.dst),
       |m AS (SELECT p.src, p.dst, p.mid, d.n_chars, d.text FROM paths p
       |  JOIN documents d ON d.doc_id = p.mid),
       |ranked AS MATERIALIZED (SELECT src, dst, mid, n_chars, text,
       |    count(*) OVER (PARTITION BY src, dst) AS n_mids,
       |    row_number() OVER (PARTITION BY src, dst ORDER BY n_chars DESC, mid) AS rk
       |  FROM m),
       |kept AS MATERIALIZED (SELECT src, dst, mid AS kept_mid, n_chars AS klen, text AS ktext
       |  FROM ranked WHERE rk = 1 AND n_mids >= 2),
       |pop AS (SELECT k.src, k.dst, count(*) AS n_popped
       |  FROM kept k JOIN ranked r ON r.src = k.src AND r.dst = k.dst AND r.rk > 1
       |  WHERE levenshtein(k.ktext, r.text) <= ${BubbleEditRate} * greatest(k.klen, r.n_chars)
       |  GROUP BY k.src, k.dst)
       |SELECT k.src, k.dst, k.kept_mid, coalesce(p.n_popped, 0) AS n_popped
       |FROM kept k LEFT JOIN pop p ON p.src = k.src AND p.dst = k.dst""".stripMargin

  /** One round of tip removal applied to an edge set: detect
    * [TipsRemoval.java:60-330] via the shared tip definition, then drop
    * the incident edges [EdgeRemoval]. */
  def removeTips(e: DataFrame): DataFrame = {
    // one broadcast build shared by both anti arms: identical plans
    // (no per-arm rename) canonicalize equal, so the second arm is a
    // ReusedExchange instead of a second evaluation of the detect agg
    val tips = broadcast(tipsWithNeighbor(e).select(col("node")).distinct())
    e.join(tips, e("src") === tips("node"), "left_anti")
      .join(tips, e("dst") === tips("node"), "left_anti")
      .select("src", "dst")
  }

  /** The (small) tip-node list of an edge set — the detect half of
    * [[removeTips]], shaped for [[nodeRemovalLoopFrom]]. */
  private[graft] def tipNodesFrom(e: DataFrame): DataFrame =
    tipsWithNeighbor(e).select(col("node")).distinct()

  /** Node-removal fixpoint WITHOUT per-round full-edge materialization.
    *
    * Every round materializes only the (small) NEW removal-node list;
    * the current edge set stays a LAZY constant-size plan — the entry
    * checkpoint minus two broadcast anti-joins against the accumulated
    * removal set. Node removal is monotone (a removed node's edges are
    * gone, so it can never be detected again), hence
    * e_k = e0 ∖ incident(rem_1 ∪ … ∪ rem_k) is EXACTLY the sequential
    * detect→remove iterate; rounds exit early once a round detects
    * nothing new, and bounded-round oracles unroll identically because
    * converged rounds are idempotent no-ops.
    *
    * Scale: the old shape rewrote the full edge set per round (one
    * checkpoint each); at 100 TB that is rounds × corpus of write
    * traffic. Here the corpus-sized edge list is written ONCE and each
    * round costs one aggregation pass over its lazily-filtered blocks
    * plus a tiny removal-list job; the accumulated removal set is a
    * small fraction of the corpus by the same argument as q39's
    * broadcast anti-joins. Rounds run on [[fusedStepsFrom]]. */
  private[graft] def nodeRemovalLoopFrom(spark: SparkSession, e0: DataFrame,
      maxRounds: Int, tag: String, cutEntry: Boolean = true,
      detectsPerJob: Int = 1)(
      detect: DataFrame => DataFrame): DataFrame = {
    graft.GraftSession.ensureCheckpointDir(spark)
    // cutEntry=false: the caller's input is already a materialized
    // checkpoint — re-cutting it would copy the full edge set once more.
    // Either way, right-size the partitioning before the rounds (the
    // count over materialized blocks is cheap; sizedCk no-ops when the
    // caller's entry is already sized)
    val e = {
      val base = if (cutEntry) stageCk(e0.select("src", "dst")) else e0.select("src", "dst")
      if (base.rdd.getNumPartitions <= 2) base else sizedCk(base, base.count())
    }
    // node removal is monotone, so the accumulated lists apply at once
    fusedStepsFrom(e, maxRounds, tag, detectsPerJob, ordered = false)(
      detect(_).select("node"),
      (cur, rem) =>
        cur.join(broadcast(rem.select(col("node").as("src"))), Seq("src"), "left_anti")
          .join(broadcast(rem.select(col("node").as("dst"))), Seq("dst"), "left_anti"))
  }

  /** The fused-step path shared by [[nodeRemovalLoopFrom]] and
    * [[repeatAdjustLoopFrom]]: `detect` reads an edge set and returns
    * the (small) rows that `remove` applies to it. The loop state is
    * the materialized table of every step's rows so far, each tagged
    * with its global step number; the edge set is `e` with those rows
    * applied (`ordered`: step by step in order, else all at once).
    *
    * Fuse up to `perJob` detect steps into ONE materialize+count job:
    * each fused step's rows carry their step marker, so one aggregate
    * action over the job's lazy cut ([[graft.Fixpoint.Steps]]) yields
    * both the new accumulated table and the LAST step's row count —
    * and |t_last| = 0 is exactly the old converged-round observation
    * (detect is deterministic and removal is monotone, so an empty
    * detect stays empty). The budget counts DETECT APPLICATIONS, never
    * jobs, so a bounded-round oracle still unrolls identically: a fused
    * trailing no-op step is idempotent. Trade-off (why callers choose
    * `perJob`): the intermediate step's rows are evaluated inside the
    * fused job, so fusion buys one fewer driver-synchronized barrier
    * per extra step at ~1.5× the detect compute of that step — right
    * for cheap detects on post-shrink graphs (tips, repeat keeps),
    * wrong for expensive detects (bubble popping) or loops that usually
    * converge in round 1. Each job re-cuts the carried rows with the new
    * ones, so the superseded table is released as it is replaced. */
  private def fusedStepsFrom(e: DataFrame, maxRounds: Int, tag: String, perJob: Int,
      ordered: Boolean)(detect: DataFrame => DataFrame,
      remove: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    def applied(acc: DataFrame, steps: Int): DataFrame =
      if (acc == null) e
      else if (!ordered) remove(e, acc.drop("step"))
      else (1 to steps).foldLeft(e)((cur, j) =>
        remove(cur, acc.filter(col("step") === j).drop("step")))
    var stepsDone = 0
    val acc = graft.Fixpoint.run(tag, null, -1L, maxRounds, graft.Fixpoint.Steps(perJob), cfg) { r =>
      var cur = applied(r.state, stepsDone)
      var out = r.state
      for (j <- r.steps) {
        var t = detect(cur).withColumn("step", lit(j))
        if (j < r.steps.last) {
          // referenced by both remove arms and the union inside the
          // fused job — a LAZY persist makes the first reference compute
          // and the rest read cache, all within the job's own stages
          t = r.own(t.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
          cur = remove(cur, t.drop("step"))
        }
        out = if (out == null) t else out.unionAll(t)
      }
      stepsDone = r.steps.last
      out
    }
    applied(acc, stepsDone)
  }

  val TipRounds: Int = cfg.tipRounds

  /** q43: iterated tip cleaning — $TipRounds rounds of detect+remove
    * (removing a tip can expose its neighbor as the next tip; CloudBrush
    * loops this inside BrushAssembler.java:588-614). Bounded-round
    * variant so the oracle can unroll the same three rounds; the
    * run-to-convergence form is Pipeline.cleanToConvergence.
    * Per-round reliable checkpoints: removeTips references its input
    * ~13×, so an unchecked 3-round lazy plan is 13³ copies of the edge
    * subtree and Catalyst analysis alone dominates the runtime. */
  def q43TipsIterative(spark: SparkSession, dir: String): DataFrame =
    tipsToConvergence(edges2(spark, dir), TipRounds, "q43.tips")

  /** Tip rounds until no tip remains or `maxRounds` — the kernel of q43
    * and Pipeline.cleanToConvergence. One job per round: the lazy cut
    * fuses the round's detect+remove with its materialization and
    * convergence count. The checkpointed edge set shrinks
    * monotonically, so only round 1 writes anything corpus-sized —
    * measured faster at sf0.1 than the accumulated-removal shape
    * (nodeRemovalLoopFrom), whose every round re-scans the FULL entry
    * edge set: here the big shrink happens in round 1 and later rounds
    * fly over the small materialized remainder. */
  private[graft] def tipsToConvergence(e0: DataFrame, maxRounds: Int, tag: String): DataFrame = {
    graft.GraftSession.ensureCheckpointDir(e0.sparkSession)
    val (e, n) = ckCount(e0.select("src", "dst"))
    shrinkFrom(tag, e, n, maxRounds)(r => removeTips(r.state))
  }

  /** A shrink fixpoint ([[graft.Fixpoint.Shrink]]) over a materialized
    * edge set `e` of `n` rows: right-sized once so every round inherits
    * the sized partitioning, then `round` until a round leaves the edge
    * count unchanged — the reference's own `remaining > 0` exit
    * [BrushAssembler.java:411,577,633]. Sound because every step is
    * removal-only (count unchanged ⇔ the round removed nothing ⇔
    * converged), and EXACT against fully unrolled oracles because
    * converged rounds are idempotent no-ops. */
  private[graft] def shrinkFrom(tag: String, e: DataFrame, n: Long, maxRounds: Int)(
      round: graft.Fixpoint.Round => DataFrame): DataFrame =
    graft.Fixpoint.run(tag, sizedCk(e, n), n, maxRounds, graft.Fixpoint.Shrink(), cfg)(round)

  /** MATERIALIZED: each round references its input ~4× and rounds
    * chain — inlined CTEs would fan out 4^rounds scans (the exact DuckDB
    * analogue of the lazy-DataFrame plan explosion the Spark side cuts
    * with per-round checkpoints). */
  private def tipRoundSql(eIn: String, p: String): String =
    s"""${p}_inc AS MATERIALIZED (SELECT src AS node, dst AS nbr FROM $eIn UNION ALL SELECT dst, src FROM $eIn),
       |${p}_deg AS MATERIALIZED (SELECT node, count(*) AS total FROM ${p}_inc GROUP BY node),
       |${p}_tips AS MATERIALIZED (SELECT DISTINCT i.node FROM ${p}_inc i
       |  JOIN ${p}_deg dn ON i.node = dn.node JOIN ${p}_deg dm ON i.nbr = dm.node
       |  WHERE dn.total = 1 AND dm.total >= 2),
       |${p}_out AS MATERIALIZED (SELECT src, dst FROM $eIn
       |  WHERE src NOT IN (SELECT node FROM ${p}_tips)
       |    AND dst NOT IN (SELECT node FROM ${p}_tips))""".stripMargin

  def q43Sql: String = {
    // unrolled from the SAME cfg.tipRounds the Spark side runs, so a
    // reconfigured instance keeps a matching oracle
    val rounds = (1 to TipRounds)
      .map(i => tipRoundSql(if (i == 1) "e0" else s"r${i - 1}_out", s"r$i"))
      .mkString(",\n")
    s"""WITH e0 AS (SELECT src, dst FROM ($edges2Sql)),
       |$rounds
       |SELECT src, dst FROM r${TipRounds}_out""".stripMargin
  }

  /** q44: two-orientation overlap edges — CloudBrush keys every read in
    * BOTH orientations (reverse-complement rc, Node.java:2080; MatchPrefix
    * two-orientation keying, MatchPrefix.java:121-140) and types edges
    * ff/fr/rf/rr. Text generalization: the reverse strand is the reversed
    * word sequence; an edge (a,o_a)→(b,o_b) exists when the 2-word suffix
    * of a's o_a-strand equals the 2-word prefix of b's o_b-strand. One
    * equi-join over the doubled strand table — same shuffle shape as q20,
    * 2× the rows. */
  def q44OrientedEdges(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val strands = d.select(col("doc_id"), lit("f").as("o"),
        array_join(slice(col("ws"), 1, 2), " ").as("pre2"),
        array_join(expr("slice(ws, -2, 2)"), " ").as("suf2"))
      .unionAll(d.select(col("doc_id"), lit("r").as("o"),
        array_join(slice(reverse(col("ws")), 1, 2), " ").as("pre2"),
        array_join(expr("slice(reverse(ws), -2, 2)"), " ").as("suf2")))
    // hot-key guard over the doubled strand key table [MatchPrefix skip]
    val hot = hotKeys(
      strands.select(col("suf2").as("okey")).unionAll(strands.select(col("pre2").as("okey"))), "okey")
    strands.as("a").join(hot.withColumnRenamed("okey", "suf2"), Seq("suf2"), "left_anti")
      .as("a").join(strands.as("b"), col("a.suf2") === col("b.pre2"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"),
        concat(col("a.o"), col("b.o")).as("orient"))
  }

  def q44Sql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |strands AS (
       |  SELECT doc_id, 'f' AS o,
       |    array_to_string(ws[:2], ' ') AS pre2, array_to_string(ws[-2:], ' ') AS suf2
       |  FROM d
       |  UNION ALL
       |  SELECT doc_id, 'r' AS o,
       |    array_to_string(list_reverse(ws)[:2], ' ') AS pre2,
       |    array_to_string(list_reverse(ws)[-2:], ' ') AS suf2
       |  FROM d),
       |shot AS (SELECT okey FROM (
       |    SELECT suf2 AS okey FROM strands UNION ALL SELECT pre2 FROM strands)
       |  GROUP BY okey HAVING count(*) > ${cfg.maxOverlapKeyDf})
       |SELECT a.doc_id AS src, b.doc_id AS dst, a.o || b.o AS orient
       |FROM strands a JOIN strands b ON a.suf2 = b.pre2 AND a.doc_id <> b.doc_id
       |WHERE a.suf2 NOT IN (SELECT okey FROM shot)""".stripMargin

  /** q48: CHAR-level variable-length overlap — the reference verifies
    * overlaps on raw bases, not words (VerifyOverlap.java:50-240); this
    * is the same keyed equi-join family as q17 at character granularity:
    * best overlap m ∈ {16,24,32} chars where suffix_m(a) = prefix_m(b).
    * Three skinny equi-joins + max, never an all-pairs scan. */
  def q48CharOverlap(spark: SparkSession, dir: String): DataFrame = {
    // same single-explode fusion as q17: one key table for all three
    // lengths, one (m, key) join, one hot-key aggregation [MatchPrefix
    // skip]; docs shorter than m yield null keys for that m and are
    // filtered (the per-arm formulation's length predicate)
    val keys = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array(Seq(16, 24, 32).map(m => struct(
        lit(m).as("m"),
        when(length(col("text")) >= m,
          expr(s"substring(text, length(text)-$m+1, $m)")).as("sk"),
        when(length(col("text")) >= m, expr(s"substring(text, 1, $m)")).as("pk"))): _*)).as("x"))
      .select(col("doc_id"), col("x.m").as("m"), col("x.sk").as("sk"), col("x.pk").as("pk"))
      .filter(col("sk").isNotNull)
    val occ = keys.select(col("m"), col("sk").as("k"))
      .unionAll(keys.select(col("m"), col("pk").as("k")))
    val hot = broadcast(occ.groupBy("m", "k").agg(count(lit(1)).as("kdf"))
      .filter(col("kdf") > cfg.maxOverlapKeyDf).select("m", "k"))
    keys.select(col("doc_id").as("src"), col("m"), col("sk").as("k"))
      .join(hot, Seq("m", "k"), "left_anti")
      .join(keys.select(col("doc_id").as("dst"), col("m"), col("pk").as("k")), Seq("m", "k"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(max(col("m")).as("overlap_chars"))
  }

  def q48Sql: String = {
    val unions = Seq(16, 24, 32).map { m =>
      s"""SELECT a.doc_id AS src, b.doc_id AS dst, $m AS m
         |FROM documents a JOIN documents b
         |ON substr(a.text, len(a.text)-$m+1, $m) = substr(b.text, 1, $m)
         |  AND a.doc_id <> b.doc_id
         |WHERE len(a.text) >= $m AND len(b.text) >= $m
         |  AND substr(a.text, len(a.text)-$m+1, $m) NOT IN (
         |    SELECT k FROM (
         |      SELECT substr(text, len(text)-$m+1, $m) AS k FROM documents WHERE len(text) >= $m
         |      UNION ALL SELECT substr(text, 1, $m) FROM documents WHERE len(text) >= $m)
         |    GROUP BY k HAVING count(*) > ${cfg.maxOverlapKeyDf})""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT src, dst, max(m) AS overlap_chars FROM ($unions) GROUP BY src, dst"""
  }

  /** q49: assembled-contig FASTA export — Graph2Fasta applied to the
    * chain-compressed consensus (the reference exports the cleaned,
    * merged graph, not raw reads — Graph2Fasta.java:40-130). */
  def q49ContigsFasta(spark: SparkSession, dir: String): DataFrame =
    q38Consensus(spark, dir)
      .select(col("head"),
        concat(lit(">contig_"), col("head"), lit("\n"), col("consensus")).as("fasta"))

  def q49Sql: String =
    s"""WITH cons AS (${q38Sql})
       |SELECT head, '>contig_' || head || chr(10) || consensus AS fasta FROM cons""".stripMargin

  /** q45: error-tolerant overlap verification [VerifyOverlap.java:311
    * scores overlaps by error rate instead of exact equality] — 3-word
    * overlaps allowing ≤1 mismatched word. Candidate generation is the
    * pigeonhole q-gram trick: with at most 1 mismatch among 3 positions,
    * the pair must agree exactly on one of the 3 masked keys (position p
    * wildcarded), so candidates come from 3 skinny equi-joins — never an
    * all-pairs scan — and the mismatch count is O(1) arithmetic on the
    * joined row.
    *
    * The hot-key guard (edges2/q17/q44/q48) is deliberately NOT applied
    * to the masked keys: ≤1-mismatch recall is the operator's contract,
    * and dropping a hot masked key silently loses genuine fuzzy matches.
    * A corpus where this explodes should raise maxOverlapKeyDf-style
    * capping at the CALLER by pre-filtering boilerplate docs instead. */
  def q45FuzzyOverlap(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
    val sufs = d.select(col("doc_id"), expr("slice(ws, -3, 3)").as("w3"))
    val pres = d.select(col("doc_id"), slice(col("ws"), 1, 3).as("w3"))
    val byMask = (1 to 3).map { p =>
      val keep = (1 to 3).filter(_ != p)
      def key(c: String) = concat_ws(" ", keep.map(i => element_at(col(c), i)): _*)
      sufs.select(col("doc_id").as("src"), key("w3").as("mk"), element_at(col("w3"), p).as("wa"))
        .join(pres.select(col("doc_id").as("dst"), key("w3").as("mk"), element_at(col("w3"), p).as("wb")), "mk")
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          when(col("wa") === col("wb"), 0L).otherwise(1L).as("mm"))
    }
    byMask.reduce(_ unionAll _)
      .groupBy("src", "dst").agg(min(col("mm")).as("n_mismatch"))
  }

  def q45Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |a3 AS (SELECT doc_id, ws[-3:] AS s FROM d WHERE len(ws) >= 3),
      |b3 AS (SELECT doc_id, ws[:3] AS p FROM d WHERE len(ws) >= 3)
      |SELECT a.doc_id AS src, b.doc_id AS dst,
      |  CAST((s[1] <> p[1])::int + (s[2] <> p[2])::int + (s[3] <> p[3])::int AS BIGINT) AS n_mismatch
      |FROM a3 a, b3 b
      |WHERE a.doc_id <> b.doc_id
      |  AND (s[1] <> p[1])::int + (s[2] <> p[2])::int + (s[3] <> p[3])::int <= 1""".stripMargin

  /** q144: weakly connected COMPONENTS of the overlap graph — every
    * doc labeled with its component (the min doc_id reachable over q20
    * edges, isolated docs labeling as themselves) plus the component
    * size. The contig-level "which reads belong together" query the
    * assembly phases answer implicitly, surfaced as a first-class
    * graph-analytics operator beside PageRank (q92) and triangles
    * (q93) — and the grouping key for any per-component downstream
    * (per-contig stats, per-cluster sampling, parallel sub-assembly).
    *
    * Scale: the shared [[Cc]] kernel — min-label propagation with a
    * pointer-jump hop (≈ log diameter rounds), per-round eager
    * checkpoints behind the one durability knob, plateau-checked
    * convergence. Size roll-up is one aggregate on the label table. */
  def q144WccComponents(spark: SparkSession, dir: String): DataFrame = {
    val e = edges2(spark, dir).select(col("src").as("u"), col("dst").as("v"))
    val lbl = Cc.labels(e, cfg)
    val docs = Tables.documents(spark, dir).select("doc_id")
    val comp = docs.join(lbl.select(col("node").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("component_id"))
    val sz = comp.groupBy("component_id").agg(count(lit(1)).as("component_size"))
    comp.join(sz, "component_id")
      .select(col("doc_id"), col("component_id"), col("component_size"))
  }

  /** q242: INCREMENTAL connected components — q144's labels maintained
    * under an arriving edge batch without re-propagating the graph: the
    * persisted base labels (the nightly artifact, q165/q204/q232's
    * discipline) absorb a delta by CONTRACTION — each delta edge maps
    * its endpoints through the stored labels (unseen nodes label
    * themselves), the distinct label-level edges form a QUOTIENT graph
    * bounded by |delta|, the shared [[Cc]] kernel runs on THAT (merging
    * whole components as single nodes), and the resulting old→new label
    * mapping broadcasts back over the label table. Sound because
    * min-label components compose: the merged component's label is the
    * min over the merged parts' mins, which is exactly what min-CC on
    * the quotient computes.
    *
    * At 100 TB this is the difference between a nightly
    * log-diameter propagation over 10¹² edges and: two lookup joins on
    * the delta's endpoints, a CC over a |delta|-bounded contracted
    * graph, and one broadcast remap — cost ∝ the day's batch, like
    * every other incremental operator in the suite. (Deletions need
    * per-component recompute — the standard decremental caveat,
    * documented not hidden.) Output and oracle are exactly q144's full
    * recompute: the merge must land on identical components. */
  def q242IncrementalCc(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Ck.lazyStage(
      edges2(spark, dir).select(col("src").as("u"), col("dst").as("v"))
        .withColumn("b", edgeBucket),
      cfg)
    // the nightly base labels are a PERSISTED artifact (the
    // q210/q204 lifecycle): steady-state cost is the incremental side
    // only, measured 6.3 s (build run) → ~2 s (load runs) at sf0.1.
    // The key carries the one knob that shapes the edge set
    // (maxOverlapKeyDf — the hot-key skip changes which edges exist).
    val baseLbl = Artifact.getOrBuild(spark, s"ccbase_${cfg.splitTrainUpper}", dir,
        Seq("documents.parquet"), s"maxOverlapKeyDf=${cfg.maxOverlapKeyDf}") { p =>
      Cc.labels(e.filter(col("b") < cfg.splitTrainUpper).drop("b"), cfg).write.parquet(p)
    }
    val delta = e.filter(col("b") >= cfg.splitTrainUpper).drop("b")
    val contracted = delta
      .join(baseLbl.select(col("node").as("u"), col("lbl").as("lu")), Seq("u"), "left")
      .join(baseLbl.select(col("node").as("v"), col("lbl").as("lv")), Seq("v"), "left")
      .select(coalesce(col("lu"), col("u")).as("a"), coalesce(col("lv"), col("v")).as("c"))
      .filter(col("a") =!= col("c"))
      .select(least(col("a"), col("c")).as("u"), greatest(col("a"), col("c")).as("v"))
      .distinct()
    val merge = Cc.labels(contracted, cfg)
    // label domain: base nodes keep their stored label (≤ own id by
    // min-propagation), delta endpoints enter as themselves
    val nodes = baseLbl
      .unionAll(delta.select(col("u").as("node"), col("u").as("lbl")))
      .unionAll(delta.select(col("v").as("node"), col("v").as("lbl")))
      .groupBy("node").agg(min(col("lbl")).as("lbl"))
    val lblFinal = nodes
      .join(broadcast(merge.select(col("node").as("lbl"), col("lbl").as("nl"))),
        Seq("lbl"), "left")
      .select(col("node"), coalesce(col("nl"), col("lbl")).as("lbl"))
    val docs = Tables.documents(spark, dir).select("doc_id")
    val comp = docs
      .join(lblFinal.select(col("node").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("component_id"))
    val sz = comp.groupBy("component_id").agg(count(lit(1)).as("component_size"))
    comp.join(sz, "component_id")
      .select(col("doc_id"), col("component_id"), col("component_size"))
  }

  /** Identical components to the full rebuild by construction — the
    * oracle IS q144's recursive-reachability SQL over ALL edges. */
  def q242Sql: String = q144Sql

  /** The md5 bucket every edge hashes to — the deterministic split
    * shared by q242 (insert delta) and q281 (delete batch). */
  private def edgeBucket: Column =
    substring(md5(concat(col("u").cast("string"), lit(":"),
      col("v").cast("string"))), 1, 2)

  /** q281: DECREMENTAL connected components — the delete-batch path
    * q242's scaladoc documented as the standard caveat ("deletions need
    * per-component recompute"), now implemented instead of deferred:
    * the persisted FULL-graph base labels absorb an edge DELETE batch
    * (the md5 band ≥ ${CcDeleteLower} — a deterministic stand-in
    * for a day's retractions) by TOUCHED-COMPONENT recompute. Deletion
    * can only SPLIT components, never merge them, and every edge lives
    * inside one base component — so components fall in two classes:
    * UNTOUCHED (no deleted edge; labels provably still valid, kept
    * verbatim from the artifact) and TOUCHED (≥ 1 deleted edge; the
    * shared [[Cc]] kernel re-runs on exactly their induced surviving
    * subgraph — nodes that lose every edge fall out and re-label as
    * themselves). The touched-label list is the recompute's whole
    * steering state, bounded by 2·|delete batch| — it broadcasts, as
    * q242's quotient merge map does.
    *
    * At 100 TB: two lookup joins on the delete batch's endpoints, one
    * broadcast semi-restriction of the surviving edges to the touched
    * components, and a CC whose input is Σ|touched component| edges —
    * cost ∝ the blast radius of the day's deletions, never the graph.
    * A retraction wave touching everything degrades to q144's full
    * rebuild, which is the correct worst case. Output and oracle are
    * exactly q144's full recompute ON THE POST-DELETE EDGE SET: the
    * split must land on identical components. The touched-set
    * MINIMALITY (untouched nodes keep bitwise-identical labels; every
    * relabeled node sits in a touched component) is spec-pinned. */
  def q281DecrementalCc(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Ck.lazyStage(
      edges2(spark, dir).select(col("src").as("u"), col("dst").as("v"))
        .withColumn("b", edgeBucket),
      cfg)
    // base labels over the FULL edge set (not q242's train split — the
    // decremental story starts from a complete nightly artifact),
    // keyed on the one edge-shaping knob
    val baseLbl = Artifact.getOrBuild(spark, "ccfull", dir, Seq("documents.parquet"),
      s"maxOverlapKeyDf=${cfg.maxOverlapKeyDf}")(Cc.labels(e.select("u", "v"), cfg).write.parquet(_))
    val deleted = e.filter(col("b") >= CcDeleteLower)
    val kept = e.filter(col("b") < CcDeleteLower).select("u", "v")
    // touched components: every base label adjacent to a deleted edge
    // (E-edge endpoints always carry a base label)
    val touched = deleted.select(col("u").as("node"))
      .unionAll(deleted.select(col("v").as("node")))
      .join(baseLbl, "node").select("lbl").distinct()
    // induced surviving subgraph: an edge's endpoints share one base
    // component, so src membership alone decides. Restrict via the
    // TOUCHED-NODE list (blast-radius-sized: Σ|touched component|),
    // never via a join against the corpus-sized label table — at scale
    // that join would re-shuffle every surviving edge to filter out
    // most of them; AQE broadcasts the node list while it fits
    val touchedNodes = baseLbl.join(broadcast(touched), Seq("lbl")).select("node")
    val sub = kept
      .join(touchedNodes.select(col("node").as("u")), Seq("u"))
      .select("u", "v")
    val subLbl = Cc.labels(sub, cfg)
    val finalLbl = baseLbl.join(broadcast(touched), Seq("lbl"), "left_anti")
      .select("node", "lbl")
      .unionByName(touchedNodes
        .join(subLbl.withColumnRenamed("lbl", "nl"), Seq("node"), "left")
        .select(col("node"), coalesce(col("nl"), col("node")).as("lbl")))
    val docs = Tables.documents(spark, dir).select("doc_id")
    val comp = docs
      .join(finalLbl.select(col("node").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("component_id"))
    val sz = comp.groupBy("component_id").agg(count(lit(1)).as("component_size"))
    comp.join(sz, "component_id")
      .select(col("doc_id"), col("component_id"), col("component_size"))
  }

  /** q144's recursive-reachability SQL restricted to the POST-DELETE
    * edge set — the full recompute the decremental merge must equal. */
  def q281Sql: String =
    s"""WITH RECURSIVE
       |eds AS MATERIALIZED (SELECT src, dst FROM ($edges2Sql)
       |  WHERE substr(md5(CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)), 1, 2)
       |    < '${CcDeleteLower}'),
       |und AS MATERIALIZED (SELECT src AS u, dst AS v FROM eds
       |  UNION SELECT dst, src FROM eds),
       |reach(u, v) AS (SELECT u, v FROM und
       |  UNION SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u AND e.v <> r.u),
       |lbl AS (SELECT u AS doc_id, least(u, min(v)) AS component_id FROM reach GROUP BY u),
       |comp AS (SELECT d.doc_id, coalesce(l.component_id, d.doc_id) AS component_id
       |  FROM documents d LEFT JOIN lbl l USING (doc_id)),
       |sz AS (SELECT component_id, count(*) AS component_size FROM comp GROUP BY 1)
       |SELECT comp.doc_id, comp.component_id, sz.component_size
       |FROM comp JOIN sz USING (component_id)""".stripMargin

  /** q159: K-CORE decomposition (k = ${cfg.kcoreK}) of the undirected
    * overlap graph — the maximal subgraph where every node keeps ≥ k
    * neighbors: the density-tier grouping beside WCC (q144) membership,
    * PageRank (q92) centrality, and triangles (q93) clustering; in the
    * assembly reading it isolates the deeply-connected repeat tangles
    * the tip/bubble cleaners never touch. Standard peeling as a
    * config-bounded fixpoint (the q43/q62 discipline): each round drops
    * nodes whose CURRENT degree is under k and re-restricts the edge
    * set, with per-round lineage cuts (ckCount/sizedCk) and the
    * convergence guard warning if ${cfg.kcoreRounds} rounds exhaust
    * while still peeling — converged rounds are idempotent no-ops, so
    * the oracle unrolls the same round count exactly. Output: each
    * surviving node with its within-core degree.
    *
    * Scale: one degree aggregate + two shuffled-hash semi-restrictions
    * per round on a monotonically SHRINKING edge table; nothing ever
    * revisits the corpus after the q20 edge generation. */
  def q159Kcore(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.ensureCheckpointDir(spark)
    val e = edges2(spark, dir).select(col("src").as("u"), col("dst").as("v"))
    kcoreFrom(e.unionAll(e.select(col("v").as("u"), col("u").as("v"))).distinct())
  }

  /** The peeling kernel behind q159: `und` must be the deduplicated
    * SYMMETRIC edge set (both directions present, no self loops). */
  private[graft] def kcoreFrom(und: DataFrame): DataFrame = {
    val K = cfg.kcoreK
    val (ed0, n) = ckCount(und)
    // resize: the shuffled-hash restrictions hand each round the
    // shuffle's partition count, so every round re-sizes its output
    val ed = graft.Fixpoint.run("q159.kcore", sizedCk(ed0, n), n, cfg.kcoreRounds,
        graft.Fixpoint.Shrink(resize = true), cfg) { r =>
      val keep = r.state.groupBy("u").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= K).select("u")
      r.state.join(keep.hint("shuffle_hash"), Seq("u"))
        .join(keep.select(col("u").as("v")).hint("shuffle_hash"), Seq("v"))
        .select("u", "v")
    }
    ed.groupBy("u").agg(count(lit(1)).as("degree"))
      .select(col("u").as("doc_id"), col("degree"))
  }

  /** q170: multi-source BFS hop distances — every node's minimum hop
    * count from the seed set (doc_id ≡ 0 mod ${GraftConfig.bfsSeedMod}) on the
    * undirected overlap graph, out to ${cfg.bfsRounds} hops: the
    * reachability/radius primitive under contamination spread analysis
    * ("how far does this bad batch's neighborhood extend") and seed-
    * anchored cluster growth, beside q144's full-component labels.
    * Frontier-free formulation: each round min-merges the current
    * distance table with its one-hop expansion (distances only ever
    * shrink, converged rounds are idempotent), per-round lineage cuts,
    * convergence guard on the unchanged row count+sum. Nodes beyond
    * the hop budget are ABSENT, not mislabeled — the guard says when
    * the budget clipped reachability. Oracle unrolls the identical
    * rounds. Per round: one join of the (|reached|-row) distance table
    * against the edge list + a min aggregate — the corpus is never
    * revisited. */
  def q170BfsHops(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.ensureCheckpointDir(spark)
    val e = edges2(spark, dir).select(col("src").as("u"), col("dst").as("v"))
    val seeds = Tables.documents(spark, dir)
      .filter(col("doc_id") % GraftConfig.bfsSeedMod === 0)
      .select(col("doc_id").as("u"), lit(0L).as("h"))
    bfsFrom(e.unionAll(e.select(col("v").as("u"), col("u").as("v"))).distinct(), seeds)
  }

  /** The min-merge BFS kernel behind q170: `und` must be the
    * deduplicated symmetric edge set, `seeds` the (u, h=0) table.
    * Since round 10 this DELEGATES to [[ssspFrom]] with unit weights —
    * hop distance IS min-plus over w = 1 (identical values round for
    * round), so BFS inherits the frontier-messaging rework for free
    * and the two traversal kernels are one implementation. */
  private[graft] def bfsFrom(und: DataFrame, seeds: DataFrame): DataFrame =
    ssspFrom(und.withColumn("w", lit(1L)),
        seeds.select(col("u"), col("h").as("d")), cfg.bfsRounds, "q170.bfs")
      .select(col("u").as("doc_id"), col("d").as("hops"))

  /** q208: WEIGHTED single-source (multi-seed) shortest paths — the
    * min-plus generalization of q170's BFS: edge weight = the dst
    * read's EXTENSION length (n_chars − overlap-key chars, floored at
    * 1 — the real assembly distance: how many new bases following this
    * edge adds), distance = cheapest total extension from the seed
    * set. FRONTIER-messaging min-plus kernel (the Cc/Scc round-10
    * discipline): relaxations come only from nodes whose distance
    * changed last round — and unlike BFS hops a node's distance can
    * IMPROVE after first reach through a longer-hop route, so the
    * frontier is exactly the changed-row set, not the newly-reached
    * set. Weights are BIGINT, so min-plus is engine-exact and the
    * oracle (identical unrolled min-merge rounds — the frontier
    * restriction is value-neutral) hashes bitwise. Nodes beyond the
    * ${cfg.ssspRounds}-edge path budget are ABSENT, not mislabeled;
    * the convergence guard (= empty frontier) reports a clipped
    * budget. Property-tested against a naive driver-side Dijkstra on
    * random weighted graphs. Per round: the key-partitioned edge
    * table streams against the frontier + one full-outer update of
    * the reached set — the corpus is never revisited and the edge
    * table never re-exchanges. */
  def q208Sssp(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.ensureCheckpointDir(spark)
    val docs = Tables.documents(spark, dir)
    val we = edges2(spark, dir)
      .join(docs.select(col("doc_id"), col("n_chars").cast("long").as("nc")),
        col("dst") === col("doc_id"))
      .select(col("src").as("u"), col("dst").as("v"),
        greatest(lit(1L), col("nc") - length(col("okey")).cast("long")).as("w"))
    val seeds = docs
      .filter(col("doc_id") % GraftConfig.bfsSeedMod === 0)
      .select(col("doc_id").as("u"), lit(0L).as("d"))
    ssspFrom(we, seeds, cfg.ssspRounds, "q208.sssp")
      .select(col("u").as("doc_id"), col("d").as("dist"))
  }

  /** The min-plus kernel behind q208 (and, with unit weights, q170's
    * BFS and q218's eccentricity): `wedges` = (u, v, w BIGINT), `seeds`
    * = (u, d=0), or (s, u, d=0) for PER-SOURCE distances — the state is
    * then keyed by (source, node), distances from EACH seed separately
    * instead of the min over the seed set; its size is Σ per-seed
    * reach, the price of per-source answers, so callers bound it with a
    * SAMPLED seed set and a hop budget. Returns (u, d) or (s, u, d).
    *
    * Frontier messaging (the round-10 Cc/Scc discipline): relaxations
    * come only from nodes whose distance CHANGED last round (an
    * unchanged d(v) already made its d(v)+w offers the round v last
    * changed), so each round streams the edge table against a frontier
    * that empties as the wave passes — never the whole reached set.
    * The edge table is hash-partitioned on its message key once
    * (checkpoint preserves outputPartitioning — no per-round E-row
    * exchange), the frontier broadcasts once it is small, the reached
    * set updates through a full-outer join against the aggregated
    * messages (new nodes enter with a -1 prev sentinel; distances are
    * ≥ 0 so the sentinel can never collide), and convergence IS the
    * empty frontier — exactly "no row changed", with no separate
    * count+sum probe. Each round takes an eager cut, then counts its
    * frontier. */
  private[graft] def ssspFrom(wedges: DataFrame, seeds: DataFrame,
      maxRounds: Int, tag: String): DataFrame = {
    val key = if (seeds.columns.contains("s")) Seq("s", "u") else Seq("u")
    val keyCols = key.map(col)
    val (edP, ne) = keyedCk(wedges.select("u", "v", "w"), "u")
    val dist0 = stageCk(seeds.select(keyCols ++ Seq(lit(-1L).as("prev"), col("d")): _*))
    val n0 = dist0.count()
    val dist = graft.Fixpoint.run(tag, dist0, if (ne == 0L) 0L else n0, maxRounds,
        graft.Fixpoint.Frontier(col("d") =!= col("prev"), eager = true), cfg,
        releaseInit = true) { r =>
      val delta = r.state.filter(col("d") =!= col("prev"))
        .select(keyCols :+ col("d").as("fd"): _*)
      val deltaJ =
        if (r.last <= Cc.deltaBroadcastRows) broadcast(delta)
        else delta.hint("shuffle_hash")
      val msg = edP.join(deltaJ, "u")
        .groupBy(keyCols.init :+ col("v").as("u"): _*).agg(min(col("fd") + col("w")).as("nd"))
      r.state.select(keyCols :+ col("d"): _*)
        .join(msg.hint("shuffle_hash"), key, "full_outer")
        .select(keyCols ++ Seq(coalesce(col("d"), lit(-1L)).as("prev"),
          least(coalesce(col("d"), col("nd")), coalesce(col("nd"), col("d"))).as("d")): _*)
    }
    graft.Ck.release(edP)
    dist.select(keyCols :+ col("d"): _*)
  }

  /** q218: sampled ECCENTRICITY / diameter estimate — per-seed BFS out
    * to ${cfg.bfsRounds} hops on the undirected overlap graph, one row
    * per seed with its reach count and eccentricity (max hop distance
    * among reached nodes): the classic sampled-diameter estimator
    * (max over the seed column lower-bounds the graph diameter) and
    * the per-seed radius signal q170's min-over-seeds view cannot
    * give. Runs on the per-source kernel — state is (seed, node)
    * pairs, bounded by the SAMPLED seed set times the hop-budget
    * reach, the standard price of per-source answers at scale.
    * Budget-clipped reach is visible, not silent: n_reached counts
    * exactly the nodes within the budget. Oracle unrolls the same
    * per-source min-merge rounds. */
  def q218EccSample(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.ensureCheckpointDir(spark)
    val e = edges2(spark, dir).select(col("src").as("u"), col("dst").as("v"))
    val und = e.unionAll(e.select(col("v").as("u"), col("u").as("v"))).distinct()
      .withColumn("w", lit(1L))
    val seeds = Tables.documents(spark, dir)
      .filter(col("doc_id") % GraftConfig.bfsSeedMod === 0)
      .select(col("doc_id").as("s"), col("doc_id").as("u"), lit(0L).as("d"))
    ssspFrom(und, seeds, cfg.bfsRounds, "q218.ecc")
      .groupBy(col("s").as("seed"))
      .agg(count(lit(1)).as("n_reached"), max(col("d")).as("ecc"))
  }

  def q218Sql: String = {
    val rounds = (1 to cfg.bfsRounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT s, u, CAST(min(d) AS BIGINT) AS d FROM (
         |  SELECT s, u, d FROM d${i - 1}
         |  UNION ALL
         |  SELECT x.s, e.v AS u, x.d + 1 AS d FROM d${i - 1} x JOIN und e ON x.u = e.u)
         |  GROUP BY s, u)""".stripMargin
    }.mkString(",\n")
    s"""WITH eds AS MATERIALIZED (SELECT src, dst FROM ($edges2Sql)),
       |und AS MATERIALIZED (SELECT DISTINCT u, v FROM
       |  (SELECT src AS u, dst AS v FROM eds UNION SELECT dst, src FROM eds)),
       |d0 AS (SELECT doc_id AS s, doc_id AS u, CAST(0 AS BIGINT) AS d FROM documents
       |  WHERE doc_id % ${GraftConfig.bfsSeedMod} = 0),
       |$rounds
       |SELECT s AS seed, CAST(count(*) AS BIGINT) AS n_reached,
       |  CAST(max(d) AS BIGINT) AS ecc
       |FROM d${cfg.bfsRounds} GROUP BY s""".stripMargin
  }

  def q208Sql: String = {
    val rounds = (1 to cfg.ssspRounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT u, CAST(min(d) AS BIGINT) AS d FROM (
         |  SELECT u, d FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.v AS u, x.d + e.w AS d FROM d${i - 1} x JOIN we e ON x.u = e.u)
         |  GROUP BY u)""".stripMargin
    }.mkString(",\n")
    s"""WITH we AS MATERIALIZED (SELECT e.src AS u, e.dst AS v,
       |    CAST(greatest(1, d.n_chars - len(e.okey)) AS BIGINT) AS w
       |  FROM ($edges2Sql) e JOIN documents d ON e.dst = d.doc_id),
       |d0 AS (SELECT doc_id AS u, CAST(0 AS BIGINT) AS d FROM documents
       |  WHERE doc_id % ${GraftConfig.bfsSeedMod} = 0),
       |$rounds
       |SELECT u AS doc_id, d AS dist FROM d${cfg.ssspRounds}""".stripMargin
  }

  def q170Sql: String = {
    val rounds = (1 to cfg.bfsRounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT u, CAST(min(h) AS BIGINT) AS h FROM (
         |  SELECT u, h FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.v AS u, d.h + 1 AS h FROM d${i - 1} d JOIN und e ON d.u = e.u)
         |  GROUP BY u)""".stripMargin
    }.mkString(",\n")
    s"""WITH eds AS MATERIALIZED (SELECT src, dst FROM ($edges2Sql)),
       |und AS MATERIALIZED (SELECT DISTINCT u, v FROM
       |  (SELECT src AS u, dst AS v FROM eds UNION SELECT dst, src FROM eds)),
       |d0 AS (SELECT doc_id AS u, CAST(0 AS BIGINT) AS h FROM documents
       |  WHERE doc_id % ${GraftConfig.bfsSeedMod} = 0),
       |$rounds
       |SELECT u AS doc_id, h AS hops FROM d${cfg.bfsRounds}""".stripMargin
  }

  def q159Sql: String = {
    val K = cfg.kcoreK
    val rounds = (1 to cfg.kcoreRounds).map { i =>
      s"""k$i AS (SELECT u FROM e${i - 1} GROUP BY u HAVING count(*) >= $K),
         |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
         |  JOIN k$i a ON e.u = a.u JOIN k$i b ON e.v = b.u)""".stripMargin
    }.mkString(",\n")
    s"""WITH eds AS MATERIALIZED (SELECT src, dst FROM ($edges2Sql)),
       |e0 AS MATERIALIZED (SELECT DISTINCT u, v FROM
       |  (SELECT src AS u, dst AS v FROM eds UNION SELECT dst, src FROM eds)),
       |$rounds
       |SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS degree
       |FROM e${cfg.kcoreRounds} GROUP BY u""".stripMargin
  }

  def q144Sql: String =
    s"""WITH RECURSIVE
       |eds AS MATERIALIZED (SELECT src, dst FROM ($edges2Sql)),
       |und AS MATERIALIZED (SELECT src AS u, dst AS v FROM eds
       |  UNION SELECT dst, src FROM eds),
       |reach(u, v) AS (SELECT u, v FROM und
       |  UNION SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u AND e.v <> r.u),
       |lbl AS (SELECT u AS doc_id, least(u, min(v)) AS component_id FROM reach GROUP BY u),
       |comp AS (SELECT d.doc_id, coalesce(l.component_id, d.doc_id) AS component_id
       |  FROM documents d LEFT JOIN lbl l USING (doc_id)),
       |sz AS (SELECT component_id, count(*) AS component_size FROM comp GROUP BY 1)
       |SELECT comp.doc_id, comp.component_id, sz.component_size
       |FROM comp JOIN sz USING (component_id)""".stripMargin

  /** q187: STRONGLY connected components of the DIRECTED overlap graph
    * — q144's directed twin, grouping exactly the repeat tangles
    * (directed cycles) that the reference's CutRepeatBoundary +
    * edgeAdjustment loop [BrushAssembler.java:431-460] exist to break
    * and that weak components blur away (a chain and a cycle are one
    * weak component but very different assembly structures). Every doc
    * labeled with its SCC (min doc_id in the mutual-reachability
    * class; everything off a directed cycle is its own singleton) plus
    * the SCC size. Runs on the [[Scc]] kernel: iterated concurrent
    * forward/backward min-label passes, exact f=b assignment, and
    * (f,b)-mismatch edge pruning that eliminates all DAG structure in
    * one round — never one-node-per-round peeling. Oracle = the
    * recursive-CTE mutual-reachability closure. */
  def q187Scc(spark: SparkSession, dir: String): DataFrame = {
    val e = edges2(spark, dir).select(col("src").as("u"), col("dst").as("v"))
    val lbl = Scc.labels(e, cfg)
    val docs = Tables.documents(spark, dir).select("doc_id")
    val comp = docs.join(lbl.select(col("node").as("doc_id"), col("scc_id")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("scc_id"), col("doc_id")).as("scc_id"))
    val sz = comp.groupBy("scc_id").agg(count(lit(1)).as("scc_size"))
    comp.join(sz, "scc_id")
      .select(col("doc_id"), col("scc_id"), col("scc_size"))
  }

  def q187Sql: String =
    s"""WITH RECURSIVE
       |eds AS MATERIALIZED (SELECT src AS u, dst AS v FROM ($edges2Sql)),
       |reach(u, v) AS (SELECT u, v FROM eds
       |  UNION SELECT r.u, e.v FROM reach r JOIN eds e ON r.v = e.u),
       |mutual AS (SELECT r1.u AS u, r1.v AS v
       |  FROM reach r1 JOIN reach r2 ON r1.u = r2.v AND r1.v = r2.u),
       |lbl AS (SELECT u AS doc_id, least(u, min(v)) AS scc_id FROM mutual GROUP BY u),
       |comp AS (SELECT d.doc_id, coalesce(l.scc_id, d.doc_id) AS scc_id
       |  FROM documents d LEFT JOIN lbl l USING (doc_id)),
       |sz AS (SELECT scc_id, count(*) AS scc_size FROM comp GROUP BY 1)
       |SELECT comp.doc_id, comp.scc_id, sz.scc_size
       |FROM comp JOIN sz USING (scc_id)""".stripMargin
}

/** Default-configured instance (see [[graft.GraftConfig]]). */
object GraphOps extends GraphOpsLib(GraftConfig.default)

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftConfig
import graft.sources.{Artifact, Tables}
import graft.functions.Vec

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * q40 is the exact baseline: broadcast the (small) query set against the
  * corpus — at 100 TB the corpus side streams through executors while the
  * queries ride the broadcast, so there is no shuffle at all until the
  * per-query top-k, which is a tiny partial-top-k aggregation.
  *
  * q41 is the scale path: IVF partitioning with TRAINED centroids — a
  * deterministic Lloyd k-means (fixed seed vectors, $KmeansIters
  * iterations, exact fixed-point means so both engines compute
  * bit-identical centroids), then every vector is assigned to its
  * nearest cell and queries probe only their own cell.
  *
  * Assignment is shuffle-free: the centroid table is packed into a
  * single array-of-structs row and broadcast, and each vector picks its
  * cell with the native `vec_nearest_cells` kernel over that array — a
  * pure map operation over the corpus. The previous shape (crossJoin +
  * per-vector row_number window) shuffled centroids×corpus rows; at
  * 100 TB that window shuffle alone dwarfs the actual scan.
  */
class SimilarityOps(val cfg: GraftConfig) {
  val NumQueries: Int = cfg.annQueries
  val TopK: Int = cfg.annTopK
  val NumCentroids: Int = cfg.ivfCentroids
  val IvfTopK: Int = cfg.ivfTopK
  val KmeansIters: Int = cfg.kmeansIters
  val TrainMod: Int = cfg.ivfTrainMod
  // top-principal-component projection (q150): fixed power-iteration
  // count (fixed, not convergence-tested — determinism over adaptivity)
  val PcaIters: Int = 16
  // semantic dedup (q94): within-cell cosine threshold above which
  // the higher-id vector is dropped
  val SemCos: Double = 0.42
  // IVF probe curve (q306): sweep nprobe from 1 to this bound — past
  // the serving default so the curve shows where recall saturates
  val ProbeCurveMax: Int = 4
  // per-label embedding outliers (q164): vectors reported per label
  val OutlierTopK: Int = 10
  // cluster-aware curation over the trained IVF cells (round 9):
  // q194 per-cell sample cap, q195 discriminative-term report size +
  // minimum in-cell count
  val ClusterSampleCap: Int = 5
  val ClusterTermsTopK: Int = 5
  val ClusterTermsMinCount: Int = 3
  // robust embedding scaler (q172): phase-1 bucket width over
  // 1e6-scaled elements (bounded by the VALUE DOMAIN, not n), and
  // the non-negativity shift (exact while |x| < shift/1e6)
  val RobustBucketWidth: Long = 65536L
  val RobustShift: Long = 1000000000L
  // the within-cell pair-space sizing rule (q94/q196, see
  // SimilarityOps.cellsFor): centroid count must grow ∝ corpus so
  // expected cell size stays at most this — the Σ|cell|²
  // sub-quadratic contract
  val SemTargetCellSize: Int = 256
  // q317 (hierarchical entry ladder): the coarse layer is centroids
  // with cent_id % mod == 0, and a query descends through this many
  // coarse branches before ranking their cells
  val LadderCoarseMod: Int = 4
  val LadderCoarseProbe: Int = 2
  // q325 (streaming drift monitor): retrain fires when cumulative
  // delta arrivals reach DriftTNum/DriftTDen of the base corpus
  val DriftTNum: Int = 1
  val DriftTDen: Int = 4
  // q326/q327 (attribute-filtered ANN): serve only vectors carrying
  // this label — ~10% selectivity on the test corpora, enough for
  // the pre-vs-post-filter gap to be measurable
  val AnnFilterLabel: Int = 3

  /** The CELL-COUNT SIZING RULE for the within-cell pair spaces
    * (q94 SemDeDup, q196 cohesion): their pair work is Σ|cell|², which
    * is sub-quadratic ONLY while expected cell size n/cells stays
    * bounded — i.e. the centroid count must GROW with the corpus. This
    * is the standard SemDeDup contract (Abbas et al. '23 size k ∝ n);
    * a deployment that scales the corpus 100× while keeping `ivfCells`
    * fixed silently goes quadratic inside cells. The rule:
    * cells = max(configured, ⌈n / SemTargetCellSize⌉), which caps
    * EXPECTED pair work at n·target/2; REALIZED balance (skewed cells)
    * is the thing q183's balance eval watches and q196's
    * cohesionPairCap hard-bounds. The test corpora all sit below the
    * knee (cellsFor(n) == configured), so the oracle-gated assignment
    * IS the production-sized one at spec scale — the spec pins both
    * facts. */
  def cellsFor(n: Long): Int =
    math.max(NumCentroids,
      ((n + SemTargetCellSize - 1) / SemTargetCellSize).toInt)

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))

  /** q40: exact brute-force cosine top-k for query vectors (vec_id <
    * $NumQueries), deterministic tie-break on vec_id. */
  def q40AnnBrute(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val q = broadcast(e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("n2").as("qn2")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    q.crossJoin(e)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Vec.cosineFromParts(Vec.dotN("qe", "embedding"), col("qn2"), col("n2")).as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select("query_id", "vec_id", "rk", "cosine")
  }

  def q40Sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
       |pairs AS (SELECT query_id, vec_id, qe, embedding AS ve FROM q, embeddings
       |  WHERE vec_id <> query_id),
       |ex AS (SELECT query_id, vec_id, unnest(qe) AS a, unnest(ve) AS b FROM pairs),
       |dots AS (SELECT query_id, vec_id,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM ex GROUP BY query_id, vec_id),
       |scored AS (SELECT query_id, vec_id,
       |    CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS cosine
       |  FROM dots),
       |ranked AS (SELECT query_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
       |  FROM scored)
       |SELECT query_id, vec_id, rk, cosine FROM ranked WHERE rk <= $TopK""".stripMargin

  /** The centroid table packed into ONE broadcast row, `cents` =
    * array<struct<cent_id, ce, cn2>>: the input [[assign]] and the
    * query probe hand to `vec_nearest_cells`. */
  private def packedCents(cents: DataFrame): DataFrame =
    broadcast(cents
      .select(struct(col("cent_id"), col("ce"),
        expr("CAST(vec_dot_fixed(ce, ce) AS DOUBLE)").as("cn2")).as("c"))
      .groupBy().agg(collect_list(col("c")).as("cents")))

  /** Nearest-centroid assignment as a pure map: each vector's cell is
    * the native `vec_nearest_cells` argmax (k = 1) over the broadcast
    * [[packedCents]] row, ties to the lowest cent_id; a NULL embedding
    * gets a NULL cell. Zero shuffle. */
  private[graft] def assign(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(packedCents(cents))
      .withColumn("cell", expr("get(vec_nearest_cells(embedding, n2, cents, 1), 0)"))
      .drop("cents")

  /** Exact per-dimension mean: Σ floor(x·1e7) is exact integer
    * arithmetic (order-free), the division is a fixed expression shape —
    * both engines produce bit-identical DOUBLE centroids. Map-side
    * combinable aggregate keyed by (cell, dim). */
  private def updateCentroids(assigned: DataFrame): DataFrame =
    assigned.select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(sum(expr("CAST(floor(CAST(x AS DOUBLE) * 1e7) AS BIGINT)")).as("sx"),
           count(lit(1)).as("cn"))
      .select(col("cell"), col("pos"),
        (col("sx").cast("double") / col("cn").cast("double") / lit(1e7)).as("m"))
      .groupBy("cell")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("ce"))
      .select(col("cell").as("cent_id"), col("ce"))

  /** Query-side cell ranking: each query ranks ALL centroids with
    * `vec_nearest_cells` over the broadcast [[packedCents]] row and
    * probes its $Nprobe nearest cells — reference-grade IVF recall
    * decays with centroid count when only the argmax cell is probed.
    * A map over the (tiny) query side: no window, no shuffle. */
  private def probeCells(q: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    probeCellsRanked(q, cents, nprobe).select(col("vec_id"), col("cell"))

  /** As [[probeCells]] but keeping the query's embedding and n2 and the
    * probe rank `crk` (1 = nearest) — q294's IVF-guided entry selection
    * orders entry candidates by (cell rank, member id), and
    * [[serveAssigned]] scores with the query's own vector. A
    * NULL-embedding query probes no cell. */
  private def probeCellsRanked(q: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    q.crossJoin(packedCents(cents))
      .select(col("vec_id"), col("embedding"), col("n2"),
        posexplode(expr(s"vec_nearest_cells(embedding, n2, cents, $nprobe)")).as(Seq("pos", "cell")))
      .withColumn("crk", col("pos") + 1)
      .drop("pos")

  /** q41: IVF ANN — deterministic Lloyd k-means (seeded from the first
    * $NumCentroids vectors, $KmeansIters exact-mean iterations), then
    * top-k for the queries over their $Nprobe nearest cells. Every
    * corpus vector lives in exactly one cell, so multi-probe needs no
    * dedup — the probe list fans the (tiny) query side out ≤ $Nprobe×.
    *
    * Scale: the corpus assignment and the query probe are both maps
    * over one broadcast centroid row (the native `vec_nearest_cells`
    * kernel, no shuffle, no window); the only exchange and the only
    * window are the cell join and the per-query top-k, both bounded
    * by queries × probed-cell size. */
  def q41AnnIvf(spark: SparkSession, dir: String): DataFrame =
    searchWithCentroids(spark, dir, trainIndex(spark, dir))

  /** The trained IVF index, served from the content-keyed `ivf_cents`
    * artifact (build-if-absent): deterministic Lloyd k-means (seeded
    * from the first $NumCentroids vectors, $KmeansIters exact-mean
    * iterations) runs ONCE per (corpus fingerprint, c/ki/tm knobs) and
    * every consumer — q41's search, the assignment consumers
    * (q94/q140/q183/q194/q195/q196/q250), the IVF-PQ tier
    * (q261/q271 + evals), q306's curve, the serving paths — reads the
    * persisted (cent_id, ce) table. The centroid table IS the entire
    * index state — corpus cell assignment is recomputable from it in
    * one broadcast argmax pass — so the artifact is one small parquet
    * write; parquet round-trips the DOUBLE centroids bit-exactly, so
    * artifact ≡ retrain (the oracle retrains through the CTE chain
    * every round, re-proving it). At 100 TB training-per-query is the
    * difference between an index and a re-index: before this, ~12 call
    * sites re-ran the full Lloyd chain inline per call. */
  def trainIndex(spark: SparkSession, dir: String): DataFrame =
    Artifact.getOrBuild(spark, "ivf_cents", dir, Seq("embeddings.parquet"),
        s"c=$NumCentroids,ki=$KmeansIters,tm=$TrainMod") { p =>
      graft.plans.GraftExtensions.ensureRegistered(spark)
      trainIndexOn(emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))).write.parquet(p)
    }

  /** Train over an explicit vector set (must carry n2) — the corpus
    * slice the index is allowed to see at training time; q188 trains on
    * the BASE split only, the nightly-ingest story. */
  private[graft] def trainIndexOn(e: DataFrame): DataFrame = {
    // Lloyd iterations see only the deterministic vec_id % $TrainMod
    // sample: training estimates cluster DENSITY, which a fixed sample
    // carries — at 100 TB the full corpus is assigned exactly once
    // (searchWithCentroids), never re-scanned per training round.
    val et = if (TrainMod > 1) e.filter(col("vec_id") % TrainMod === 0) else e
    val init = e.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cent_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ce"))
    (1 to KmeansIters).foldLeft(init) { (c, _) =>
      updateCentroids(assign(et, c))
    }
  }

  /** Persist / restore the trained index. Parquet round-trips the
    * DOUBLE centroid arrays bit-exactly, so a loaded index searches
    * identically to a freshly trained one (spec-pinned). */
  def saveIndex(spark: SparkSession, dir: String, path: String): Unit =
    trainIndex(spark, dir).write.mode("overwrite").parquet(path)

  def loadIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Probe-and-rank against a given centroid table (trained or loaded). */
  def searchWithCentroids(spark: SparkSession, dir: String, cents: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    servePanel(e, e.filter(col("vec_id") < NumQueries), cents, cfg.ivfNprobe)
  }

  /** Serve an arbitrary (vec_id, embedding, n2) query panel against an
    * assigned corpus + centroid table at a given nprobe — the shared
    * kernel of q41, q305's per-micro-batch serve, and q306's curve
    * points. */
  private[graft] def servePanel(e: DataFrame, qv: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame =
    serveAssigned(assign(e, cents), qv, cents, nprobe)

  private[graft] def serveAssigned(assigned: DataFrame, qv: DataFrame,
      cents: DataFrame, nprobe: Int, k: Int = IvfTopK): DataFrame = {
    val queries = probeCellsRanked(qv, cents, nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("n2").as("qn2"), col("cell"))
    val wTop = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    queries.join(assigned, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Vec.cosineFromParts(Vec.dotN("qe", "embedding"), col("qn2"), col("n2")).as("cosine"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "rk", "cosine")
  }

  /** q89: int8 scalar quantization of the embedding column — the
    * compression step before an ANN index ships to serving (4× smaller
    * than float32, dot products in integer SIMD). Per vector: qscale =
    * max|x|/127, code_i = round(x_i/qscale) ∈ [−127, 127]; all-zero
    * vectors quantize to all-zero codes with qscale 0. Codes are
    * emitted as one comma-joined string per vector so the row
    * hash-compares across engines.
    *
    * Scale: a pure scan projection — per-row arithmetic over the
    * vector array, zero shuffles, codegen'd `transform`/`aggregate`
    * HOFs. Determinism: abs/max/divide/round are all single
    * correctly-rounded IEEE ops (no transcendentals); Spark and DuckDB
    * both round halves away from zero, and the integral double→int
    * cast is exact. */
  def q89Quantize(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))").as("amax"))
      .select(col("vec_id"),
        when(col("amax") === 0.0, lit(0.0)).otherwise(col("amax") / 127.0).as("qscale"),
        expr("""CASE WHEN amax = 0.0
               |  THEN array_join(transform(embedding, x -> '0'), ',')
               |  ELSE array_join(transform(embedding, x ->
               |    CAST(CAST(round(CAST(x AS DOUBLE) / (amax / 127.0)) AS BIGINT) AS STRING)), ',')
               |END""".stripMargin).as("codes"))

  def q89Sql: String =
    """SELECT vec_id,
      |  CASE WHEN amax = 0.0 THEN 0.0 ELSE amax / 127.0 END AS qscale,
      |  CASE WHEN amax = 0.0
      |    THEN array_to_string(list_transform(embedding, x -> '0'), ',')
      |    ELSE array_to_string(list_transform(embedding, x ->
      |      CAST(CAST(round(CAST(x AS DOUBLE) / (amax / 127.0)) AS BIGINT) AS VARCHAR)), ',')
      |  END AS codes
      |FROM (SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
      |  FROM embeddings)""".stripMargin

  /** DuckDB twin of one assignment pass: nearest centroid by fixed-point
    * cosine, ties to the lowest cent_id. */
  private def duckAssign(cTbl: String, out: String, onlySample: Boolean = false,
      src: String = "e"): String = {
    val f = if (onlySample && TrainMod > 1) s" WHERE $src.vec_id % $TrainMod = 0" else ""
    s"""${out}_ex AS (SELECT $src.vec_id AS ia, $cTbl.cent_id AS ib,
       |    unnest($src.embedding) AS a, unnest($cTbl.ce) AS b
       |  FROM $src, $cTbl$f),
       |${out}_dots AS (SELECT ia, ib,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM ${out}_ex GROUP BY ia, ib),
       |$out AS (
       |  SELECT ia AS vec_id, ib AS cell FROM (
       |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
       |    FROM ${out}_dots) WHERE rk = 1)""".stripMargin
  }

  /** DuckDB twin of one exact-mean centroid update. */
  private def duckUpdate(aTbl: String, out: String): String =
    s"""${out}_j AS (SELECT $aTbl.cell, e.embedding FROM $aTbl JOIN e USING (vec_id)),
       |${out}_m AS (SELECT cell, g,
       |    CAST(SUM(CAST(floor(CAST(embedding[g] AS DOUBLE) * 1e7) AS BIGINT)) AS DOUBLE)/count(*)/1e7 AS m
       |  FROM ${out}_j, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS g) t
       |  GROUP BY cell, g),
       |$out AS (SELECT cell AS cent_id, array_agg(m ORDER BY g) AS ce FROM ${out}_m GROUP BY cell)""".stripMargin

  /** Shared oracle preamble: deterministic k-means training CTEs ending
    * at `av` (vec_id, embedding, cell) — one (assign, update) CTE pair
    * per configured Lloyd iteration, so a reconfigured instance keeps a
    * matching oracle. Used by q41 and q94. */
  private def trainedAssignCtes: String = trainedAssignCtesFor("")

  /** As [[trainedAssignCtes]] but over a restricted corpus: `where`
    * (a full "WHERE …" clause, or empty) narrows the `e` CTE, and the
    * seed/sample/assign chain inherits the restriction — q349 trains
    * its oracle on the tombstone-surviving corpus through this. */
  private def trainedAssignCtesFor(where: String): String = {
    val training = (1 to KmeansIters).map { i =>
      s"""${duckAssign(s"c${i - 1}", s"a$i", onlySample = true)},
         |${duckUpdate(s"a$i", s"c$i")}""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings $where),
       |c0 AS (SELECT vec_id AS cent_id, embedding AS ce FROM e WHERE vec_id < $NumCentroids),
       |$training,
       |${duckAssign(s"c$KmeansIters", "af")},
       |av AS (SELECT af.vec_id, e.embedding, af.cell FROM af JOIN e USING (vec_id))""".stripMargin
  }

  def q41Sql: String = ivfServeSqlOver(trainedAssignCtes)

  /** The probe→score→top-k oracle tail over any trained-assign
    * preamble ending at (e, af, af_dots, av) — q41 serves the full
    * corpus through it, q349 the surviving corpus. */
  private def ivfServeSqlOver(ctes: String): String =
    s"""$ctes,
       |qprobe AS (SELECT ia AS query_id, ib AS cell FROM (
       |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
       |    FROM af_dots WHERE ia < $NumQueries)
       |  WHERE rk <= ${cfg.ivfNprobe}),
       |qv AS (SELECT q.query_id, e.embedding AS qe, q.cell
       |  FROM qprobe q JOIN e ON e.vec_id = q.query_id),
       |cellpairs AS (SELECT qv.query_id, av.vec_id, qv.qe, av.embedding AS ve
       |  FROM qv JOIN av USING (cell) WHERE av.vec_id <> qv.query_id),
       |top_ex AS (SELECT query_id AS ia, vec_id AS ib, unnest(qe) AS a, unnest(ve) AS b FROM cellpairs),
       |top_dots AS (SELECT ia, ib,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM top_ex GROUP BY ia, ib),
       |top_cos AS (SELECT ia, ib,
       |    CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS cosine
       |  FROM top_dots)
       |SELECT ia AS query_id, ib AS vec_id, rk, cosine FROM (
       |  SELECT ia, ib, cosine, row_number() OVER (PARTITION BY ia ORDER BY cosine DESC, ib) AS rk
       |  FROM top_cos) WHERE rk <= $IvfTopK""".stripMargin

  /** q94: SemDeDup-style semantic deduplication (Abbas et al. '23):
    * cluster the corpus with the trained IVF k-means, then mark
    * near-duplicates WITHIN each cell — a vector is dropped when a
    * lower-id cell-mate sits at cosine ≥ $SemCos. Greedy-by-id keeper
    * choice is deterministic (no transitive chaining), and restricting
    * pairs to cells is exactly what makes semantic dedup tractable:
    * the pair space is Σ|cell|² instead of n², and each cell's
    * comparisons are one partition's work after the cell-key shuffle.
    * At 100 TB: the centroid count MUST follow [[cellsFor]] (grow ∝ n
    * so expected cell size stays ≤ SemTargetCellSize) — a fixed cell
    * count under a growing corpus silently re-quadratizes the pair
    * space; realized skew is q183's watch. The test corpora sit below
    * the knee, so the configured count IS cellsFor(n) here
    * (spec-pinned) and the oracle is unchanged. */
  def q94SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val assigned = assign(e, trainIndex(spark, dir))
    val x = assigned.select(col("cell"), col("vec_id").as("ida"),
      col("embedding").as("ea"), col("n2").as("na"))
    val y = assigned.select(col("cell"), col("vec_id").as("idb"),
      col("embedding").as("eb"), col("n2").as("nb"))
    val dups = x.join(y, Seq("cell"))
      .filter(col("ida") < col("idb"))
      .filter(Vec.cosineFromParts(Vec.dotN("ea", "eb"), col("na"), col("nb")) >= SemCos)
      .select(col("idb").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    assigned.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_dup"), lit(false)).as("dropped"))
  }

  def q94Sql: String =
    s"""$trainedAssignCtes,
       |pairs AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
       |    a.embedding AS ea, b.embedding AS eb
       |  FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |p_ex AS (SELECT ida, idb, unnest(ea) AS a, unnest(eb) AS b FROM pairs),
       |p_dots AS (SELECT ida, idb,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM p_ex GROUP BY ida, idb),
       |dropped AS (SELECT DISTINCT idb FROM p_dots
       |  WHERE CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) >= $SemCos)
       |SELECT av.vec_id, av.cell,
       |  av.vec_id IN (SELECT idb FROM dropped) AS dropped
       |FROM av""".stripMargin

  /** q123: ANN recall@k — the eval every approximate index ships with:
    * per query, |IVF top-$IvfTopK ∩ exact top-$IvfTopK| / $IvfTopK
    * (the brute table truncated to the same k, so numerator and
    * denominator measure the same contract). An index without a recall
    * number is a black box: this is how nprobe/centroid-count tuning
    * decisions get made.
    *
    * Scale: both inputs are per-query top-k tables — queries × k rows
    * no matter the corpus size — so the eval join is trivially small
    * and the cost is the two searches it audits. Recall is an exact
    * integer count over a fixed divisor: engine-exact. */
  def q123AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = persistedBruteTruth(spark, dir)
      .filter(col("rk") <= IvfTopK).select("query_id", "vec_id")
    val approx = q41AnnIvf(spark, dir)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("query_id"), col("hits"),
        (col("hits").cast("double") / IvfTopK).as("recall"))
  }

  def q123Sql: String =
    s"""WITH brute AS ($q40Sql),
       |ivf AS ($q41Sql)
       |SELECT b.query_id, CAST(count(i.vec_id) AS BIGINT) AS hits,
       |  CAST(count(i.vec_id) AS DOUBLE) / $IvfTopK AS recall
       |FROM (SELECT query_id, vec_id FROM brute WHERE rk <= $IvfTopK) b
       |LEFT JOIN ivf i ON b.query_id = i.query_id AND b.vec_id = i.vec_id
       |GROUP BY b.query_id""".stripMargin

  /** q246: MRR EVAL — the rank-position companion to q123's recall
    * (set overlap says WHETHER truth surfaced; reciprocal rank says
    * WHERE): per query, the brute-force #1 neighbor's position inside
    * the IVF top-$IvfTopK and its reciprocal rank (0 when absent —
    * the "how broken is a miss" convention). Per-query rows, no
    * corpus-order float mean: rr is ONE division of two exact
    * integers (engine-identical); the suite's convention of shipping
    * the distribution and leaving scalar averaging to the caller
    * (q96's estimate rule) keeps the oracle bitwise. Scale: both
    * inputs are queries × k tables — the eval join costs nothing
    * beyond the two searches it audits. */
  def q246MrrEval(spark: SparkSession, dir: String): DataFrame = {
    val truth = persistedBruteTruth(spark, dir).filter(col("rk") === 1)
      .select(col("query_id"), col("vec_id").as("true_nn"))
    val ivf = q41AnnIvf(spark, dir)
      .select(col("query_id"), col("vec_id").as("true_nn"), col("rk"))
    truth.join(ivf, Seq("query_id", "true_nn"), "left")
      .select(col("query_id"), col("true_nn"),
        col("rk").as("rank_in_ivf"),
        when(col("rk").isNotNull, lit(1.0) / col("rk")).otherwise(0.0).as("rr"),
        col("rk").isNotNull.as("found"))
  }

  def q246Sql: String =
    s"""WITH brute AS ($q40Sql),
       |ivf AS ($q41Sql)
       |SELECT t.query_id, t.vec_id AS true_nn, i.rk AS rank_in_ivf,
       |  CASE WHEN i.rk IS NOT NULL THEN CAST(1 AS DOUBLE) / i.rk
       |       ELSE CAST(0 AS DOUBLE) END AS rr,
       |  i.rk IS NOT NULL AS found
       |FROM (SELECT query_id, vec_id FROM brute WHERE rk = 1) t
       |LEFT JOIN ivf i ON i.query_id = t.query_id AND i.vec_id = t.vec_id""".stripMargin

  /** q250: HARD/EASY NEGATIVE SAMPLING — q240's contrastive-pair
    * builder upgraded with the structure retrieval training actually
    * needs: per query vector, ${GraftConfig.negSlots} EASY negatives
    * (hash-drawn corpus-wide, rejected if they land in the query's own
    * IVF cell — an easy negative must be far) and ${GraftConfig.negSlots} HARD
    * negatives (hash-drawn from INSIDE the query's cell by member
    * rank — close enough to confuse the model, the pairs that carry
    * the gradient signal). Both draws are md5-deterministic (the q240
    * rule: training pairs are a pure function of the corpus + index),
    * collisions with the query reject rather than redraw, and the
    * difficulty split rides the SAME trained IVF index q41 serves —
    * the index is the curriculum.
    *
    * Scale: the cell-member rank table is one window over cell-bounded
    * partitions; draws are per-row hash arithmetic; the only joins are
    * an equi-join on neg_id (easy) and on (cell, idx) (hard) — linear
    * in corpus × slots, never pairwise. */
  def q250HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val af = assign(e, trainIndex(spark, dir)).select("vec_id", "cell")
    val mx = af.agg(max(col("vec_id")).as("mx"))
    val wc = Window.partitionBy("cell").orderBy(col("vec_id"))
    val members = af
      .withColumn("idx", row_number().over(wc).cast("long") - 1L)
      .withColumn("csz", count(lit(1)).over(Window.partitionBy("cell")))
    val slots = (1 to GraftConfig.negSlots)
    def draw(tag: String, mod: Column): Column =
      conv(substring(md5(concat(col("vec_id").cast("string"), lit(s":$tag:"),
        col("slot").cast("string"))), 1, 8), 16, 10).cast("long") % mod
    val fanned = af.crossJoin(broadcast(mx))
      .withColumn("slot", explode(array(slots.map(s => lit(s.toLong)): _*)))
    val easy = fanned
      .withColumn("neg_id", draw("e", col("mx") + 1L))
      .join(af.select(col("vec_id").as("neg_id"), col("cell").as("ncell")), "neg_id")
      .filter(col("neg_id") =!= col("vec_id") && col("ncell") =!= col("cell"))
      .select(col("vec_id").as("query_id"), lit("easy").as("kind"),
        col("slot"), col("neg_id"))
    val hard = members.select(col("vec_id"), col("cell"), col("csz"))
      .withColumn("slot", explode(array(slots.map(s => lit(s.toLong)): _*)))
      .withColumn("idx", draw("h", col("csz")))
      .join(members.select(col("cell"), col("idx"), col("vec_id").as("neg_id")),
        Seq("cell", "idx"))
      .filter(col("neg_id") =!= col("vec_id"))
      .select(col("vec_id").as("query_id"), lit("hard").as("kind"),
        col("slot"), col("neg_id"))
    easy.unionAll(hard)
  }

  def q250Sql: String =
    s"""$trainedAssignCtes,
       |mx AS (SELECT max(vec_id) AS mx FROM af),
       |members AS (SELECT cell, vec_id,
       |    CAST(row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS BIGINT) - 1 AS idx,
       |    CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS csz
       |  FROM af),
       |slots AS (SELECT CAST(unnest(generate_series(1, ${GraftConfig.negSlots})) AS BIGINT) AS slot),
       |easy AS (SELECT q.vec_id AS query_id, q.cell, s.slot,
       |    CAST(('0x' || substr(md5(q.vec_id || ':e:' || s.slot), 1, 8)) AS BIGINT)
       |      % (mx.mx + 1) AS neg_id
       |  FROM af q, mx, slots s),
       |easyok AS (SELECT e2.query_id, 'easy' AS kind, e2.slot, e2.neg_id
       |  FROM easy e2 JOIN af n ON n.vec_id = e2.neg_id
       |  WHERE e2.neg_id <> e2.query_id AND n.cell <> e2.cell),
       |hard AS (SELECT m.vec_id AS query_id, m.cell, s.slot,
       |    CAST(('0x' || substr(md5(m.vec_id || ':h:' || s.slot), 1, 8)) AS BIGINT)
       |      % m.csz AS idx
       |  FROM members m, slots s),
       |hardok AS (SELECT h.query_id, 'hard' AS kind, h.slot, mem.vec_id AS neg_id
       |  FROM hard h JOIN members mem ON mem.cell = h.cell AND mem.idx = h.idx
       |  WHERE mem.vec_id <> h.query_id)
       |SELECT query_id, kind, slot, neg_id FROM easyok
       |UNION ALL
       |SELECT query_id, kind, slot, neg_id FROM hardok""".stripMargin

  /** q140: k-NN GRAPH construction — every vector's top-$KnnK
    * neighbors among its $Nprobe nearest IVF cells: the all-corpus
    * twin of q41 (where only designated queries search) and the input
    * artifact of graph-based ANN serving, kNN-graph clustering, and
    * label propagation. Per vector the candidate set is its probed
    * cells' members (Σ nprobe·|cell|, never n²); the per-vector top-k
    * window partitions on vec_id with cell-bounded input. Same
    * deterministic index, ranking, and tie-breaks as q41, so the graph
    * is reproducible across runs and engines. */
  def q140KnnGraph(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val cents = trainIndex(spark, dir)
    val assigned = assign(e, cents)
    val probes = probeCells(e, cents, cfg.ivfNprobe)
    val w = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("nbr_id"))
    probes
      .join(e.select(col("vec_id"), col("embedding").as("qe"), col("n2").as("qn2")), "vec_id")
      .join(assigned.select(col("cell"), col("vec_id").as("nbr_id"),
        col("embedding").as("ve"), col("n2").as("vn2")), "cell")
      .filter(col("nbr_id") =!= col("vec_id"))
      .select(col("vec_id"), col("nbr_id"),
        Vec.cosineFromParts(Vec.dotN("qe", "ve"), col("qn2"), col("vn2")).as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cfg.knnK)
      .select(col("vec_id"), col("nbr_id"), col("rk"), col("cosine"))
  }

  def q140Sql: String =
    s"""$trainedAssignCtes,
       |probe AS (SELECT ia AS vec_id, ib AS cell FROM (
       |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
       |    FROM af_dots) WHERE rk <= ${cfg.ivfNprobe}),
       |qv AS (SELECT p.vec_id, e.embedding AS qe, p.cell
       |  FROM probe p JOIN e ON e.vec_id = p.vec_id),
       |cellpairs AS (SELECT qv.vec_id, av.vec_id AS nbr_id, qv.qe, av.embedding AS ve
       |  FROM qv JOIN av USING (cell) WHERE av.vec_id <> qv.vec_id),
       |kx AS (SELECT vec_id AS ia, nbr_id AS ib, unnest(qe) AS a, unnest(ve) AS b FROM cellpairs),
       |kd AS (SELECT ia, ib,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM kx GROUP BY ia, ib),
       |kc AS (SELECT ia, ib,
       |    CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS cosine
       |  FROM kd)
       |SELECT ia AS vec_id, ib AS nbr_id, rk, cosine FROM (
       |  SELECT ia, ib, cosine, row_number() OVER (PARTITION BY ia ORDER BY cosine DESC, ib) AS rk
       |  FROM kc) WHERE rk <= ${cfg.knnK}""".stripMargin

  /** q150: top PRINCIPAL COMPONENT projection — every vector scored
    * against the corpus covariance's dominant eigenvector (plus the
    * eigenvalue): the first step of PCA whitening, the spectral "is
    * there one dominant direction" diagnostic, and the 1-D ordering
    * embeddings get sorted/sharded by. Built on q127's exact
    * covariance: the d×d matrix is corpus-independent BY CONSTRUCTION
    * (the hllEstimate argument — finishing a d²-row artifact on the
    * driver is the contract, not a scale violation), so
    * ${PcaIters} power iterations run as a driver loop in plain
    * doubles with FIXED fold order: each matvec entry sums j-ascending,
    * the norm sums i-ascending, v₀ = 1/√d. The DuckDB oracle replays
    * the identical iteration with `list_sum(list(… ORDER BY …))` —
    * verified a sequential left fold, so every intermediate double is
    * bit-identical and the final eigenvector/eigenvalue/scores
    * hash-match exactly. Scores are a pure distributed scan: one
    * j-ascending `aggregate(zip_with(…))` fold per row against the
    * broadcast-literal eigenvector. Sign convention: the returned
    * eigenvector is as-iterated from the all-positive start (power
    * iteration preserves the sign deterministically). */
  def q150PcaProject(spark: SparkSession, dir: String): DataFrame = {
    val cov = q127GramMatrix(spark, dir).select(col("i"), col("j"), col("cov")).collect()
    val d = cov.map(_.getInt(0)).max
    val c = Array.ofDim[Double](d + 1, d + 1)
    cov.foreach { r =>
      val (i, j, v) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      c(i)(j) = v; c(j)(i) = v
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    var t = 0
    while (t < PcaIters) {
      val w = new Array[Double](d)
      var i = 1
      while (i <= d) {
        var s = 0.0
        var j = 1
        while (j <= d) { s += c(i)(j) * v(j - 1); j += 1 }
        w(i - 1) = s; i += 1
      }
      var n2 = 0.0
      var k = 0
      while (k < d) { n2 += w(k) * w(k); k += 1 }
      lambda = math.sqrt(n2)
      var m = 0
      while (m < d) { v(m) = w(m) / lambda; m += 1 }
      t += 1
    }
    val u = array(v.toIndexedSeq.map(lit): _*)
    val score = org.apache.spark.sql.functions.aggregate(
      zip_with(col("embedding"), u, (x, y) => x.cast("double") * y),
      lit(0.0), (acc, p) => acc + p)
    emb(spark, dir)
      .select(col("vec_id"), score.as("score"), lit(lambda).as("eigenvalue"))
  }

  def q150Sql: String = {
    // every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and v_t
    // referencing w_t twice would double the expansion per iteration —
    // 2^iters copies of the covariance subquery
    val steps = (1 to PcaIters).map { t =>
      s"""w$t AS MATERIALIZED (SELECT cm.i, list_sum(list(cm.cov * v${t - 1}.val ORDER BY cm.j)) AS val
         |  FROM cm JOIN v${t - 1} ON cm.j = v${t - 1}.i GROUP BY cm.i),
         |n$t AS MATERIALIZED (SELECT sqrt(list_sum(list(val * val ORDER BY i))) AS nrm FROM w$t),
         |v$t AS MATERIALIZED (SELECT w$t.i, w$t.val / n$t.nrm AS val FROM w$t, n$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH c AS MATERIALIZED (SELECT i, j, cov FROM ($q127Sql)),
       |cm AS MATERIALIZED (SELECT i, j, cov FROM c
       |  UNION ALL SELECT j, i, cov FROM c WHERE i <> j),
       |dims AS MATERIALIZED (SELECT DISTINCT i FROM cm),
       |v0 AS MATERIALIZED (SELECT i, 1.0 / sqrt((SELECT CAST(count(*) AS DOUBLE) FROM dims)) AS val
       |  FROM dims),
       |$steps,
       |ex AS (SELECT vec_id, g AS j, CAST(embedding[g] AS DOUBLE) AS x
       |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS g) t)
       |SELECT ex.vec_id,
       |  list_sum(list(ex.x * u.val ORDER BY ex.j)) AS score,
       |  (SELECT nrm FROM n${PcaIters}) AS eigenvalue
       |FROM ex JOIN v${PcaIters} u ON u.i = ex.j
       |GROUP BY ex.vec_id""".stripMargin
  }

  /** q211: top-${cfg.pcaTopK} PCA + WHITENING — q150 extended from "the
    * dominant direction" to the spectral basis a whitening projection
    * actually needs (decorrelated, unit-variance coordinates: the
    * preprocessing step before embedding-space clustering, cosine
    * calibration, or ZCA): components extracted by DEFLATION on the
    * exact q127 covariance — after each converged component, subtract
    * λ·vvᵀ entrywise and re-run the same fixed power loop on the
    * deflated matrix. One long row per (vector, component): the score
    * (projection), the component's eigenvalue, and the whitened
    * coordinate score/√λ (population variance of `white` is 1 by
    * construction — spec-asserted).
    *
    * Determinism (the q150 contract, per component): the d×d matrix is
    * a driver-side artifact, every matvec entry sums j-ascending, the
    * norm i-ascending, v₀ = 1/√d for every component, and the
    * deflation entry is the one fixed chain cov − (λ·vᵢ)·vⱼ computed
    * independently per (i,j) CELL (the full matrix is deflated
    * entrywise, NOT mirrored from the upper triangle — (λ·vᵢ)·vⱼ and
    * (λ·vⱼ)·vᵢ can round differently, and the oracle computes each
    * cell from its own row). The DuckDB oracle replays the identical
    * per-component iteration with `list_sum(list(… ORDER BY …))`
    * (verified a sequential left fold) and the identical deflation
    * expression, so eigenvectors, eigenvalues, scores, and whitened
    * coordinates all hash-match bitwise through k·PcaIters float
    * iterations.
    *
    * Scale: training is O(k·iters·d²) driver flops on the d²-row
    * covariance ARTIFACT (corpus-independent — the q150 argument);
    * the corpus pass is ONE scan with k broadcast-literal fold
    * expressions exploded per row — no joins, no shuffles. */
  def q211PcaWhiten(spark: SparkSession, dir: String): DataFrame = {
    val arms = pcaComps(spark, dir).map { case (cm, v, lambda) =>
      val score = pcaScore(v)
      struct(lit(cm.toLong).as("comp"), score.as("score"),
        lit(lambda).as("eigenvalue"),
        (score / lit(math.sqrt(lambda))).as("white"))
    }
    emb(spark, dir)
      .select(col("vec_id"), explode(array(arms: _*)).as("c"))
      .select(col("vec_id"), col("c.comp").as("comp"), col("c.score").as("score"),
        col("c.eigenvalue").as("eigenvalue"), col("c.white").as("white"))
  }

  /** q211's projection fold against a literal eigenvector (j-ascending,
    * the q150 contract). */
  private def pcaScore(v: Array[Double]): Column = {
    val u = array(v.toIndexedSeq.map(lit): _*)
    org.apache.spark.sql.functions.aggregate(
      zip_with(col("embedding"), u, (x, y) => x.cast("double") * y),
      lit(0.0), (acc, p) => acc + p)
  }

  /** q211's driver-side training: the top-`pcaTopK` (component index,
    * eigenvector, eigenvalue) triples by deflation on the exact q127
    * covariance — shared by q211 (long-form output) and q215 (whitened
    * ANN). */
  private[graft] def pcaComps(spark: SparkSession, dir: String): Seq[(Int, Array[Double], Double)] = {
    val cov = q127GramMatrix(spark, dir).select(col("i"), col("j"), col("cov")).collect()
    val d = cov.map(_.getInt(0)).max
    val c = Array.ofDim[Double](d + 1, d + 1)
    cov.foreach { r =>
      val (i, j, v) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      c(i)(j) = v; c(j)(i) = v
    }
    val comps = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Double], Double)]
    var m = 1
    while (m <= cfg.pcaTopK) {
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      var lambda = 0.0
      var t = 0
      while (t < PcaIters) {
        val w = new Array[Double](d)
        var i = 1
        while (i <= d) {
          var s = 0.0
          var j = 1
          while (j <= d) { s += c(i)(j) * v(j - 1); j += 1 }
          w(i - 1) = s; i += 1
        }
        var n2 = 0.0
        var k = 0
        while (k < d) { n2 += w(k) * w(k); k += 1 }
        lambda = math.sqrt(n2)
        var p = 0
        while (p < d) { v(p) = w(p) / lambda; p += 1 }
        t += 1
      }
      comps += ((m, v, lambda))
      // entrywise deflation over the FULL matrix (see determinism note)
      var i = 1
      while (i <= d) {
        var j = 1
        while (j <= d) { c(i)(j) = c(i)(j) - lambda * v(i - 1) * v(j - 1); j += 1 }
        i += 1
      }
      m += 1
    }
    comps.toSeq
  }

  /** The q211 training chain as CTE text (covariance, per-component
    * power loops v{m}_iters / n{m}_iters, deflations, and the exploded
    * `ex` element table) — shared by the q211 and q215 oracles. */
  private def pcaSqlCtes: String = {
    val iters = PcaIters
    // per component m: the q150 power loop on cm$m, then the deflated
    // cm${m+1}; every CTE MATERIALIZED (DuckDB would otherwise inline —
    // exponential expansion across k·iters references)
    val perComp = (1 to cfg.pcaTopK).map { cm =>
      val steps = (1 to iters).map { t =>
        val prev = if (t == 1) "v0" else s"v${cm}_${t - 1}"
        s"""w${cm}_$t AS MATERIALIZED (SELECT cm$cm.i, list_sum(list(cm$cm.cov * $prev.val ORDER BY cm$cm.j)) AS val
           |  FROM cm$cm JOIN $prev ON cm$cm.j = $prev.i GROUP BY cm$cm.i),
           |n${cm}_$t AS MATERIALIZED (SELECT sqrt(list_sum(list(val * val ORDER BY i))) AS nrm FROM w${cm}_$t),
           |v${cm}_$t AS MATERIALIZED (SELECT w${cm}_$t.i, w${cm}_$t.val / n${cm}_$t.nrm AS val FROM w${cm}_$t, n${cm}_$t)""".stripMargin
      }.mkString(",\n")
      val deflate =
        if (cm == cfg.pcaTopK) ""
        else s""",
                |cm${cm + 1} AS MATERIALIZED (SELECT a.i, a.j,
                |    a.cov - (SELECT nrm FROM n${cm}_$iters) * vi.val * vj.val AS cov
                |  FROM cm$cm a JOIN v${cm}_$iters vi ON vi.i = a.i
                |  JOIN v${cm}_$iters vj ON vj.i = a.j)""".stripMargin
      steps + deflate
    }.mkString(",\n")
    s"""c AS MATERIALIZED (SELECT i, j, cov FROM ($q127Sql)),
       |cm1 AS MATERIALIZED (SELECT i, j, cov FROM c
       |  UNION ALL SELECT j, i, cov FROM c WHERE i <> j),
       |dims AS MATERIALIZED (SELECT DISTINCT i FROM cm1),
       |v0 AS MATERIALIZED (SELECT i, 1.0 / sqrt((SELECT CAST(count(*) AS DOUBLE) FROM dims)) AS val
       |  FROM dims),
       |$perComp,
       |ex AS (SELECT vec_id, g AS j, CAST(embedding[g] AS DOUBLE) AS x
       |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS g) t)""".stripMargin
  }

  def q211Sql: String = {
    val iters = PcaIters
    val arms = (1 to cfg.pcaTopK).map { cm =>
      s"""SELECT vec_id, CAST($cm AS BIGINT) AS comp, score,
         |  (SELECT nrm FROM n${cm}_$iters) AS eigenvalue,
         |  score / sqrt((SELECT nrm FROM n${cm}_$iters)) AS white
         |FROM (SELECT ex.vec_id, list_sum(list(ex.x * u.val ORDER BY ex.j)) AS score
         |  FROM ex JOIN v${cm}_$iters u ON u.i = ex.j GROUP BY ex.vec_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $pcaSqlCtes
       |$arms""".stripMargin
  }

  /** q215: WHITENED-SPACE ANN + its recall eval — q211's consuming
    * path, closed with the approximation-ships-with-its-eval rule
    * (q123/IVF, q132/LSH, q206/sketch): search in the ${cfg.pcaTopK}-d
    * WHITENED coordinates (each vector reduced to score_m/√λ_m — the
    * dimensionality-reduced index a PCA-compressed retrieval tier
    * actually serves), rank by squared Euclidean distance with a
    * vec_id tie-break, and emit per query the hits against q40's
    * exact full-space top-k and the recall fraction. At 100 TB the
    * whitened table is k doubles per vector instead of d floats —
    * the candidate scan shrinks ~d/k× and distance costs k mults —
    * and THIS eval row is the number that decides whether that
    * compression is servable. Determinism: whitened coordinates are
    * q211's bitwise-pinned folds; the distance is one fixed
    * m-ascending chain of (a−b)² terms; ties order on vec_id.
    * Truth side: exact FULL-SPACE Euclidean top-k (same metric as the
    * whitened search — cosine truth would conflate the metric change
    * with the compression loss), distances as the identical
    * j-ascending (a−b)² fold.
    * Scale: the whitened table is ONE scan (k literal folds); the
    * query side is `annQueries` rows broadcast against it (the q40
    * shape); the top-k window partitions per query.
    *
    * On THIS synthetic corpus the eval reads recall ≈ 0: the
    * embeddings are isotropic (top-3 eigenvalues ≈ trace/d — measured
    * 7.9% explained variance), so a k-d PCA tier preserves nothing —
    * the q171 chance-rate precedent: the honest number that says
    * "don't serve this compression here", which no one knows until
    * the eval exists. The spec feeds a genuinely low-rank corpus and
    * pins recall = 1 there. */
  def q215WhitenedRecall(spark: SparkSession, dir: String): DataFrame = {
    val comps = pcaComps(spark, dir)
    val wcols = comps.map { case (m, v, lambda) =>
      (pcaScore(v) / lit(math.sqrt(lambda))).as(s"w$m")
    }
    val wt = emb(spark, dir).select(col("vec_id") +: wcols: _*)
    val q = broadcast(wt.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id") +:
        comps.map { case (m, _, _) => col(s"w$m").as(s"qw$m") }: _*))
    val dist = comps.map { case (m, _, _) =>
      (col(s"qw$m") - col(s"w$m")) * (col(s"qw$m") - col(s"w$m"))
    }.reduceLeft(_ + _)
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
    val approx = q.crossJoin(wt)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), dist.as("dist"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    val e = emb(spark, dir)
    val qf = broadcast(e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe")))
    val fullDist = org.apache.spark.sql.functions.aggregate(
      zip_with(col("qe"), col("embedding"),
        (a, b) => (a.cast("double") - b.cast("double")) *
                  (a.cast("double") - b.cast("double"))),
      lit(0.0), (acc, p) => acc + p)
    val truth = qf.crossJoin(e)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), fullDist.as("dist"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select("query_id", "vec_id")
    truth.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("query_id"), col("hits"),
        (col("hits").cast("double") / TopK).as("recall"))
  }

  def q215Sql: String = {
    val iters = PcaIters
    val ks = 1 to cfg.pcaTopK
    val wctes = ks.map { m =>
      s"""s$m AS MATERIALIZED (SELECT ex.vec_id,
         |    list_sum(list(ex.x * u.val ORDER BY ex.j))
         |      / sqrt((SELECT nrm FROM n${m}_$iters)) AS w
         |  FROM ex JOIN v${m}_$iters u ON u.i = ex.j GROUP BY ex.vec_id)""".stripMargin
    }.mkString(",\n")
    val wtJoin = ks.drop(1).map(m => s"JOIN s$m USING (vec_id)").mkString(" ")
    val wtCols = ks.map(m => s"s$m.w AS w$m").mkString(", ")
    val distSql = ks.map(m => s"(q.w$m - c.w$m) * (q.w$m - c.w$m)").mkString(" + ")
    s"""WITH $pcaSqlCtes,
       |$wctes,
       |wt AS MATERIALIZED (SELECT vec_id, $wtCols FROM s1 $wtJoin),
       |ranked AS (SELECT q.vec_id AS query_id, c.vec_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY $distSql, c.vec_id) AS rk
       |  FROM (SELECT * FROM wt WHERE vec_id < $NumQueries) q, wt c
       |  WHERE c.vec_id <> q.vec_id),
       |approx AS (SELECT query_id, vec_id FROM ranked WHERE rk <= $TopK),
       |qf AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id < $NumQueries),
       |tpairs AS (SELECT query_id, vec_id, qe, embedding AS ve
       |  FROM qf, embeddings WHERE vec_id <> query_id),
       |tex AS (SELECT query_id, vec_id, g,
       |    CAST(qe[g] AS DOUBLE) AS a, CAST(ve[g] AS DOUBLE) AS b
       |  FROM tpairs, LATERAL (SELECT unnest(generate_series(1, len(ve))) AS g) t),
       |tdist AS (SELECT query_id, vec_id,
       |    list_sum(list((a - b) * (a - b) ORDER BY g)) AS dist
       |  FROM tex GROUP BY 1, 2),
       |truth AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist, vec_id) AS rk FROM tdist) WHERE rk <= $TopK)
       |SELECT b.query_id, CAST(count(a.vec_id) AS BIGINT) AS hits,
       |  CAST(count(a.vec_id) AS DOUBLE) / $TopK AS recall
       |FROM truth b
       |LEFT JOIN approx a ON b.query_id = a.query_id AND b.vec_id = a.vec_id
       |GROUP BY b.query_id""".stripMargin
  }

  /** q127: the corpus Gram / covariance matrix of the embedding column —
    * the second-moment statistics PCA whitening, dimensionality checks,
    * and feature-correlation audits start from. One row per dimension
    * pair (i ≤ j, 1-based): n, the Gram entry Σₓ xᵢ·xⱼ, and the
    * covariance (Σxᵢxⱼ − ΣxᵢΣxⱼ/n)/n.
    *
    * Exactness: per-row products fix to BIGINT at 1e13 (the Vec
    * convention) and per-dimension values at 1e7 (the centroid-mean
    * convention); sums accumulate in DECIMAL(38,0) — corpus-scale sums
    * overflow BIGINT at ~10⁷ rows — so they are order-free, then ONE
    * fixed-shape cast/divide chain produces the doubles (§6 rule 1).
    *
    * Scale: the d·(d+1)/2-pair explode is generated INSIDE the scan
    * pipeline and consumed by a partial hash aggregate whose state is
    * ≤ d² entries per task — nothing materializes n·d² rows, and the
    * shuffle carries tasks×d² partial sums, independent of corpus
    * size. The per-dimension sum table (d rows) broadcasts onto the
    * d² Gram rows for the covariance finisher. For d in the thousands
    * (d² ≥ 10⁶ aggregate state), block the pair space by dimension
    * range and union — same aggregate, bounded state per pass. */
  def q127GramMatrix(spark: SparkSession, dir: String): DataFrame = {
    val ex1 = emb(spark, dir)
      .select(col("embedding"), posexplode(col("embedding")).as(Seq("p", "xi")))
    val pairs = ex1
      .select(col("p"), col("xi"), posexplode(col("embedding")).as(Seq("q", "xj")))
      .filter(col("q") >= col("p"))
      .select((col("p") + 1).as("i"), (col("q") + 1).as("j"),
        expr("CAST(floor(CAST(xi AS DOUBLE) * CAST(xj AS DOUBLE) * 1e13) AS DECIMAL(38,0))").as("fx"))
    val gram = pairs.groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum(col("fx")).as("sfx"))
    val dims = ex1
      .select((col("p") + 1).as("d"),
        expr("CAST(floor(CAST(xi AS DOUBLE) * 1e7) AS DECIMAL(38,0))").as("fd"))
      .groupBy("d").agg(sum(col("fd")).as("sd"))
    gram
      .join(broadcast(dims.select(col("d").as("i"), col("sd").as("si"))), Seq("i"))
      .join(broadcast(dims.select(col("d").as("j"), col("sd").as("sj"))), Seq("j"))
      .select(col("i"), col("j"), col("n"),
        (col("sfx").cast("double") / lit(1e13)).as("gram"),
        ((col("sfx").cast("double") / lit(1e13)
          - (col("si").cast("double") / lit(1e7)) * (col("sj").cast("double") / lit(1e7))
            / col("n").cast("double"))
          / col("n").cast("double")).as("cov"))
  }

  def q127Sql: String =
    """WITH ex AS (SELECT vec_id, g, CAST(embedding[g] AS DOUBLE) AS x
      |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS g) t),
      |gram AS (SELECT a.g AS i, b.g AS j, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(floor(a.x * b.x * 1e13) AS BIGINT)) AS DECIMAL(38,0)) AS sfx
      |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.g >= a.g
      |  GROUP BY a.g, b.g),
      |dims AS (SELECT g AS d,
      |    CAST(SUM(CAST(floor(x * 1e7) AS BIGINT)) AS DECIMAL(38,0)) AS sd
      |  FROM ex GROUP BY g)
      |SELECT gram.i, gram.j, gram.n,
      |  CAST(sfx AS DOUBLE) / 1e13 AS gram,
      |  (CAST(sfx AS DOUBLE) / 1e13
      |    - (CAST(di.sd AS DOUBLE) / 1e7) * (CAST(dj.sd AS DOUBLE) / 1e7)
      |      / CAST(gram.n AS DOUBLE))
      |    / CAST(gram.n AS DOUBLE) AS cov
      |FROM gram JOIN dims di ON gram.i = di.d JOIN dims dj ON gram.j = dj.d""".stripMargin

  /** q164: per-label embedding OUTLIERS — each label's
    * top-${OutlierTopK} vectors by squared distance to the label
    * CENTROID: the mislabeled-example / contamination detector every
    * labeled embedding set gets audited with (and the per-cluster
    * variance primitive under it). Integer-exact throughout: elements
    * fix to BIGINT at 1e6 (q127's element discipline, narrower scale
    * so squares stay in long range: diff ≤ 2·10⁷ → square ≤ 4·10¹⁴,
    * × dims ≪ 2⁶³), the centroid is the TRUNCATED (round-toward-zero)
    * mean of scaled elements — `s div n` truncates identically on
    * both engines, for negative per-dimension sums too, so the mean
    * is exactly defined and engine-portable where a float mean would
    * drift in final ulps (it is NOT a floor mean: floor rounds a
    * negative quotient the other way; q172's histogram shifts to
    * non-negative operands for a different reason — its zero-bucket
    * width — not because the engines disagree) — and dist2 sums the
    * squared scaled deviations, so ranks and hashes agree bitwise.
    * dist2's double form is one final fixed division by 1e12.
    *
    * Scale: the centroid table is labels × dims rows from ONE
    * map-combinable aggregate; reshaped per label (in-row array,
    * bounded by dims) and BROADCAST back onto the embeddings scan,
    * where dist2 is a pure in-row zip_with/aggregate fold — the
    * corpus shuffles zero vector rows; the per-label top-k plans as
    * WindowGroupLimit (partial top-k map-side). */
  def q164LabelOutliers(spark: SparkSession, dir: String): DataFrame = {
    val K = OutlierTopK
    val emb = Tables.embeddings(spark, dir)
    val cells = emb
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xs", expr("CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)"))
    val cent = cells.groupBy("label", "dim")
      .agg(sum(col("xs")).as("s"), count(lit(1)).as("n"))
      .withColumn("m", expr("s div n"))
    val centArr = cent.groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("ms"))
      .select(col("label"), expr("transform(ms, p -> p.m)").as("ms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(col("dist2").desc, col("vec_id"))
    emb.join(broadcast(centArr), "label")
      .withColumn("dist2", expr(
        """aggregate(
          |  zip_with(embedding, ms,
          |    (x, m) -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT) - m),
          |  CAST(0 AS BIGINT), (acc, d) -> acc + d * d)""".stripMargin))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("label"), col("vec_id"), col("dist2"),
        (col("dist2").cast("double") / lit(1e12)).as("dist2_real"), col("rk"))
  }

  /** q183: IVF cell BALANCE eval — the index-health number beside
    * q123's recall: per-cell population of the trained index's full
    * corpus assignment, summarized as one row (cells, vectors,
    * max/min cell, balance_ratio = max·cells/total). An imbalanced
    * index serves nprobe queries at the HOT cell's latency (the same
    * skew economics q124 profiles for joins) — this is the number
    * that decides re-training or splitting before anyone trusts q41's
    * p99. Assignment is the one broadcast-argmax corpus pass the
    * index already defines; the summary is a two-level bounded
    * aggregate; the ratio is one fixed cast/multiply/divide chain. */
  def q183IvfBalance(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val sz = assign(e, trainIndex(spark, dir))
      .groupBy("cell").agg(count(lit(1)).as("n"))
    sz.agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_vectors"),
        max(col("n")).as("max_cell"), min(col("n")).as("min_cell"))
      .withColumn("balance_ratio",
        col("max_cell").cast("double") * col("n_cells").cast("double") /
          col("n_vectors").cast("double"))
  }

  def q183Sql: String =
    s"""$trainedAssignCtes,
       |sz AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM af GROUP BY 1)
       |SELECT count(*) AS n_cells, CAST(SUM(n) AS BIGINT) AS n_vectors,
       |  max(n) AS max_cell, min(n) AS min_cell,
       |  CAST(max(n) AS DOUBLE) * CAST(count(*) AS DOUBLE)
       |    / CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) AS balance_ratio
       |FROM sz""".stripMargin

  /** q188: INCREMENTAL IVF index maintenance — the q133/q165 nightly-
    * ingest story applied to the index artifact: the index trains on
    * the BASE split only (the vectors that existed when it was built)
    * and is SERVED from the shared content-keyed [[persistedBaseCents]]
    * artifact (the parquet save/load shape [[saveIndex]]/[[loadIndex]]
    * expose, built once and reloaded by the whole incremental tier),
    * then the arriving DELTA split (content-stable md5 bucket, the
    * q68/q133 membership rule) is assigned against the loaded
    * centroids WITHOUT retraining. Output is the one-row DRIFT
    * eval that decides retraining: base/delta sizes, occupied cells
    * before and after the delta, cells first opened by delta vectors
    * (outlier signal), hottest-cell populations, and the q183 balance
    * ratio of the base vs merged assignment — a ratio that jumps on
    * delta arrival means the new traffic concentrates in cells the
    * training never saw the likes of.
    *
    * Scale: per-vector work is the same broadcast-argmax map as q41 —
    * and the merge is count-table arithmetic: at 100 TB the base cell
    * counts are a |cells|-row artifact persisted WITH the index, so a
    * nightly delta costs |delta| assignment + |cells| merge, never a
    * base re-scan (the q165 partial-merge discipline; here the base
    * side recomputes only because the query is self-contained).
    * Delta-assignment ≡ full re-assignment restricted to the delta is
    * structural (assignment is a pure per-row map over broadcast
    * centroids) and spec-asserted. */
  def q188IvfDelta(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val all = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
      .withColumn("bk", substring(md5(col("vec_id").cast("string")), 1, 2))
    val base = all.filter(col("bk") < cfg.splitTrainUpper)
    val delta = all.filter(col("bk") >= cfg.splitTrainUpper)
    // the base-trained index is the SHARED content-keyed knnd_cents
    // artifact (train once nightly, every consumer loads — the same
    // parquet save/load shape saveIndex/loadIndex expose), not a
    // per-call retrain-and-overwrite
    val cents = persistedBaseCents(spark, dir, base)
    val bc = assign(base, cents).groupBy("cell").agg(count(lit(1)).as("n"))
    val dc = assign(delta, cents).groupBy("cell").agg(count(lit(1)).as("n"))
    val mc = bc.unionAll(dc).groupBy("cell").agg(sum(col("n")).as("n"))
    val bAgg = bc.agg(count(lit(1)).as("base_cells"), max(col("n")).as("base_max_cell"),
      sum(col("n")).as("n_base"))
    val mAgg = mc.agg(count(lit(1)).as("merged_cells"), max(col("n")).as("merged_max_cell"))
    val dAgg = delta.agg(count(lit(1)).as("n_delta"))
    bAgg.crossJoin(mAgg).crossJoin(dAgg)
      .select(col("n_base"), col("n_delta"), col("base_cells"), col("merged_cells"),
        (col("merged_cells") - col("base_cells")).as("new_cells"),
        col("base_max_cell"), col("merged_max_cell"),
        (col("base_max_cell").cast("double") * col("base_cells").cast("double")
          / col("n_base").cast("double")).as("base_balance"),
        (col("merged_max_cell").cast("double") * col("merged_cells").cast("double")
          / (col("n_base") + col("n_delta")).cast("double")).as("merged_balance"))
  }

  def q188Sql: String = {
    val training = (1 to KmeansIters).map { i =>
      s"""${duckAssign(s"c${i - 1}", s"a$i", onlySample = true)},
         |${duckUpdate(s"a$i", s"c$i")}""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '${cfg.splitTrainUpper}'),
       |ed AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) >= '${cfg.splitTrainUpper}'),
       |c0 AS (SELECT vec_id AS cent_id, embedding AS ce FROM e WHERE vec_id < $NumCentroids),
       |$training,
       |${duckAssign(s"c$KmeansIters", "ab")},
       |${duckAssign(s"c$KmeansIters", "ad", src = "ed")},
       |bc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM ab GROUP BY 1),
       |dc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM ad GROUP BY 1),
       |mc AS (SELECT cell, CAST(SUM(n) AS BIGINT) AS n
       |  FROM (SELECT * FROM bc UNION ALL SELECT * FROM dc) GROUP BY cell),
       |b AS (SELECT count(*) AS base_cells, max(n) AS base_max_cell,
       |  CAST(SUM(n) AS BIGINT) AS n_base FROM bc),
       |m AS (SELECT count(*) AS merged_cells, max(n) AS merged_max_cell FROM mc),
       |d AS (SELECT CAST(count(*) AS BIGINT) AS n_delta FROM ed)
       |SELECT n_base, n_delta, base_cells, merged_cells,
       |  merged_cells - base_cells AS new_cells,
       |  base_max_cell, merged_max_cell,
       |  CAST(base_max_cell AS DOUBLE) * CAST(base_cells AS DOUBLE)
       |    / CAST(n_base AS DOUBLE) AS base_balance,
       |  CAST(merged_max_cell AS DOUBLE) * CAST(merged_cells AS DOUBLE)
       |    / CAST(n_base + n_delta AS DOUBLE) AS merged_balance
       |FROM b, m, d""".stripMargin
  }

  /** q194: cluster-capped DIVERSITY SAMPLE — "cluster then sample", the
    * semantic-coverage selection step (SemDeDup's sampling cousin):
    * every vector assigns to its trained IVF cell and each cell keeps
    * at most ${ClusterSampleCap} vectors by content-stable md5
    * order — a sample that covers the embedding space's modes instead
    * of its density (uniform sampling over-picks the dominant cluster;
    * q81 stratifies on a LABEL, this stratifies on LEARNED structure).
    * Deterministic and re-run-stable like q75/q81: membership depends
    * only on the vector id and the trained index. Scale: assignment is
    * the broadcast-argmax scan; the rank ≤ cap filter plans as
    * WindowGroupLimit (partial top-k map-side before the cell
    * exchange, PlanSpec-pinned) so a hot cell never buffers whole. */
  def q194ClusterSample(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val assigned = assign(e, trainIndex(spark, dir))
      .select(col("vec_id"), col("cell"),
        md5(concat(lit("cs:"), col("vec_id").cast("string"))).as("h"))
    val w = Window.partitionBy("cell").orderBy(col("h"), col("vec_id"))
    assigned.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= ClusterSampleCap)
      .select("vec_id", "cell", "rk")
  }

  def q194Sql: String =
    s"""$trainedAssignCtes
       |SELECT vec_id, cell, rk FROM (
       |  SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
       |    ORDER BY md5('cs:' || CAST(vec_id AS VARCHAR)), vec_id) AS rk
       |  FROM af)
       |WHERE rk <= ${ClusterSampleCap}""".stripMargin

  /** q195: per-cluster DISCRIMINATIVE TERMS — each trained IVF cell's
    * top-${ClusterTermsTopK} tokens by lift (in-cell rate vs
    * corpus rate over the embedded docs): the "what is this cluster
    * about" naming table that turns an unsupervised index into an
    * auditable one (the q155 collocation-lift discipline applied to
    * cluster membership; embeddings align with documents on the id).
    * Lift = (c_cw · N) / (t_c · g_w) as ONE fixed cast/multiply/divide
    * chain over exact integer counts — no log, engine-exact doubles.
    * Scale: token counts are map-combinable; the per-cell totals and
    * global term counts join back on UNIQUE aggregated keys (1:1
    * fanout); the support filter shrinks the table before the joins;
    * per-cell top-k plans as WindowGroupLimit. */
  def q195ClusterTerms(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val assigned = assign(e, trainIndex(spark, dir)).select(col("vec_id"), col("cell"))
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(assigned, col("doc_id") === col("vec_id"))
      .select("cell", "w")
    val cw = toks.groupBy("cell", "w").agg(count(lit(1)).as("c_cw"))
    val ct = cw.groupBy("cell").agg(sum(col("c_cw")).as("t_c"))
    val gw = cw.groupBy("w").agg(sum(col("c_cw")).as("g_w"))
    val n = ct.agg(sum(col("t_c")).as("n_tok"))
    val scored = cw.filter(col("c_cw") >= ClusterTermsMinCount)
      .join(ct.hint("shuffle_hash"), "cell")
      .join(gw.hint("shuffle_hash"), "w")
      .crossJoin(broadcast(n))
      .withColumn("lift",
        col("c_cw").cast("double") * col("n_tok").cast("double")
          / (col("t_c").cast("double") * col("g_w").cast("double")))
    val w2 = Window.partitionBy("cell").orderBy(col("lift").desc, col("w"))
    scored.withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= ClusterTermsTopK)
      .select(col("cell"), col("w").as("term"), col("c_cw"), col("lift"), col("rk"))
  }

  def q195Sql: String =
    s"""$trainedAssignCtes,
       |toks AS (SELECT af.cell, unnest(string_split(d.text, ' ')) AS w
       |  FROM documents d JOIN af ON af.vec_id = d.doc_id),
       |cw AS (SELECT cell, w, count(*) AS c_cw FROM toks GROUP BY 1, 2),
       |ct AS (SELECT cell, CAST(SUM(c_cw) AS BIGINT) AS t_c FROM cw GROUP BY 1),
       |gw AS (SELECT w, CAST(SUM(c_cw) AS BIGINT) AS g_w FROM cw GROUP BY 1),
       |n AS (SELECT CAST(SUM(t_c) AS BIGINT) AS n_tok FROM ct),
       |scored AS (SELECT cw.cell, cw.w, cw.c_cw,
       |    CAST(cw.c_cw AS DOUBLE) * CAST(n.n_tok AS DOUBLE)
       |      / (CAST(ct.t_c AS DOUBLE) * CAST(gw.g_w AS DOUBLE)) AS lift
       |  FROM cw JOIN ct USING (cell) JOIN gw USING (w), n
       |  WHERE cw.c_cw >= ${ClusterTermsMinCount})
       |SELECT cell, w AS term, c_cw, lift, rk FROM (
       |  SELECT cell, w, c_cw, lift,
       |    row_number() OVER (PARTITION BY cell ORDER BY lift DESC, w) AS rk
       |  FROM scored)
       |WHERE rk <= ${ClusterTermsTopK}""".stripMargin

  /** q196: cluster COHESION eval — the q183/q123 eval family applied to
    * cluster QUALITY: per trained IVF cell, member count, within-cell
    * pair count, the exact fixed-point mean pairwise cosine (how tight
    * the cluster is), and the cell centroid's nearest OTHER centroid
    * cosine (how separated it is) — the silhouette-style pair of
    * numbers that decides whether q94's semantic dedup and q194's
    * per-cell sampling can trust the cell structure. Per-pair cosines
    * fix to BIGINT at 1e9 BEFORE summation (each pair's cosine is one
    * fixed dot/sqrt/divide chain over exact fixed-point dots — engine-
    * identical; double SUMS would be order-sensitive, integer sums are
    * not). Pair space: cohesion is computed over at most
    * ${cfg.cohesionPairCap} members per cell in content-stable md5
    * order (q194's rank discipline — plans as WindowGroupLimit, so a
    * hot cell keeps ≤ cap rows map-side BEFORE the cell exchange),
    * making the eval unconditionally ≤ Σ min(|cell|, cap)² pairs at
    * ANY corpus size; `exact` = 1 marks cells the cap didn't touch
    * (capped ≡ full there — spec-reconciled). The cap is the hard
    * bound; KEEPING cells mostly-exact under corpus growth is the
    * [[cellsFor]] sizing rule (cells ∝ n), without which a 100× corpus
    * caps everywhere and the eval silently measures samples only. The
    * centroid×centroid table is |cells|² and broadcast-sized. */
  def q196ClusterCohesion(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val cents = trainIndex(spark, dir)
    val av = assign(e, cents).select(col("vec_id"), col("embedding"), col("n2"), col("cell"))
    val wCap = Window.partitionBy("cell")
      .orderBy(md5(concat(lit("ch:"), col("vec_id").cast("string"))), col("vec_id"))
    val capped = av.withColumn("rk", row_number().over(wCap))
      .filter(col("rk") <= cfg.cohesionPairCap)
      .select(col("cell"), col("vec_id"), col("embedding"), col("n2"))
    val a = capped.select(col("cell"), col("vec_id").as("ia"),
      col("embedding").as("ea"), col("n2").as("na"))
    val b = capped.select(col("cell"), col("vec_id").as("ib"),
      col("embedding").as("eb"), col("n2").as("nb"))
    val pairs = a.join(b, Seq("cell")).filter(col("ia") < col("ib"))
      .select(col("cell"),
        expr("CAST(floor(CAST(vec_dot_fixed(ea, eb) AS DOUBLE) / (sqrt(na) * sqrt(nb)) * 1e9) AS BIGINT)")
          .as("cos_e9"))
    val coh = pairs.groupBy("cell")
      .agg(count(lit(1)).as("n_pairs"), sum(col("cos_e9")).as("s_cos"))
    val sizes = av.groupBy("cell").agg(count(lit(1)).as("n"))
    val c1 = cents.select(col("cent_id").as("cell"), col("ce").as("ca"))
    val c2 = cents.select(col("cent_id").as("ocell"), col("ce").as("cb"))
    val sep = c1.join(broadcast(c2), col("cell") =!= col("ocell"))
      .select(col("cell"),
        expr("""CAST(vec_dot_fixed(ca, cb) AS DOUBLE)
               | / (sqrt(CAST(vec_dot_fixed(ca, ca) AS DOUBLE))
               |    * sqrt(CAST(vec_dot_fixed(cb, cb) AS DOUBLE)))""".stripMargin).as("oc"))
      .groupBy("cell").agg(max(col("oc")).as("max_other_centroid_cos"))
    sizes.join(coh, Seq("cell"), "left").join(sep, Seq("cell"), "left")
      .select(col("cell"), col("n"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        (col("s_cos").cast("double") / col("n_pairs").cast("double") / 1e9)
          .as("within_avg_cos"),
        col("max_other_centroid_cos"),
        when(col("n") <= cfg.cohesionPairCap, lit(1L)).otherwise(lit(0L)).as("exact"))
  }

  def q196Sql: String =
    s"""$trainedAssignCtes,
       |cap AS (SELECT cell, vec_id, embedding FROM (
       |    SELECT av.*, row_number() OVER (PARTITION BY cell
       |      ORDER BY md5('ch:' || CAST(vec_id AS VARCHAR)), vec_id) AS rk
       |    FROM av)
       |  WHERE rk <= ${cfg.cohesionPairCap}),
       |pr AS (SELECT a.cell, a.vec_id AS ia, b.vec_id AS ib,
       |    unnest(a.embedding) AS xa, unnest(b.embedding) AS xb
       |  FROM cap a JOIN cap b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |pd AS (SELECT cell, ia, ib,
       |    ${Vec.dotDecSqlDuck("xa", "xb")} AS dot,
       |    ${Vec.dotDecSqlDuck("xa", "xa")} AS na,
       |    ${Vec.dotDecSqlDuck("xb", "xb")} AS nb
       |  FROM pr GROUP BY cell, ia, ib),
       |pc AS (SELECT cell, CAST(floor(CAST(dot AS DOUBLE)
       |    / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) * 1e9) AS BIGINT)
       |    AS cos_e9 FROM pd),
       |coh AS (SELECT cell, count(*) AS n_pairs, CAST(SUM(cos_e9) AS BIGINT) AS s_cos
       |  FROM pc GROUP BY 1),
       |sizes AS (SELECT cell, count(*) AS n FROM av GROUP BY 1),
       |cel AS (SELECT cent_id, ce FROM c$KmeansIters),
       |cx AS (SELECT a.cent_id AS cell, b.cent_id AS ocell,
       |    unnest(a.ce) AS xa, unnest(b.ce) AS xb
       |  FROM cel a JOIN cel b ON a.cent_id <> b.cent_id),
       |cd AS (SELECT cell, ocell,
       |    ${Vec.dotDecSqlDuck("xa", "xb")} AS dot,
       |    ${Vec.dotDecSqlDuck("xa", "xa")} AS na,
       |    ${Vec.dotDecSqlDuck("xb", "xb")} AS nb
       |  FROM cx GROUP BY cell, ocell),
       |sep AS (SELECT cell, max(CAST(dot AS DOUBLE)
       |    / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))))
       |    AS max_other_centroid_cos FROM cd GROUP BY 1)
       |SELECT sizes.cell, sizes.n, coalesce(coh.n_pairs, 0) AS n_pairs,
       |  CAST(coh.s_cos AS DOUBLE) / CAST(coh.n_pairs AS DOUBLE) / 1e9
       |    AS within_avg_cos,
       |  sep.max_other_centroid_cos,
       |  CAST(CASE WHEN sizes.n <= ${cfg.cohesionPairCap} THEN 1 ELSE 0 END AS BIGINT)
       |    AS exact
       |FROM sizes LEFT JOIN coh USING (cell) LEFT JOIN sep USING (cell)""".stripMargin

  /** q179: QUANTIZATION ERROR eval — every approximation here ships
    * with its measured eval (q123 for IVF, q132 for LSH bands, q171
    * for langid; this one for q89's int8 codes): per vector, the max
    * absolute reconstruction error and the sum of squared errors of
    * dequantize(codes)·qscale against the original embedding. The
    * eval reads the quantized ARTIFACT (codes string + qscale), not
    * the formula — it would catch a corrupted artifact, not just a
    * wrong derivation. Errors are computed as doubles through one
    * fixed chain per element, then FIXED to BIGINT (floor·1e9 /
    * floor·1e12) BEFORE any summation — double sums are order-
    * sensitive, integer sums are not (max is order-free either way).
    * Structural bound spec-pinned: max error ≤ qscale/2 + rounding.
    * Scale: one 1:1 join on the unique vec id, everything else
    * in-row. */
  def q179QuantError(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .join(q89Quantize(spark, dir), "vec_id")
      .withColumn("codes_arr",
        expr("transform(split(codes, ','), c -> CAST(c AS BIGINT))"))
      .withColumn("errs", expr(
        """zip_with(embedding, codes_arr,
          |  (x, c) -> abs(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) * qscale))""".stripMargin))
      .select(col("vec_id"),
        expr("CAST(floor(array_max(errs) * 1e9) AS BIGINT)").as("max_err_e9"),
        expr("""aggregate(errs, CAST(0 AS BIGINT),
               |  (a, e) -> a + CAST(floor(e * e * 1e12) AS BIGINT))""".stripMargin)
          .as("sse_e12"))

  def q179Sql: String =
    s"""WITH q AS ($q89Sql),
       |j AS (SELECT e.vec_id, e.embedding, q.qscale,
       |    list_transform(string_split(q.codes, ','), c -> CAST(c AS BIGINT)) AS codes
       |  FROM embeddings e JOIN q USING (vec_id)),
       |er AS (SELECT vec_id,
       |    list_transform(range(1, len(embedding) + 1),
       |      i -> abs(CAST(embedding[i] AS DOUBLE) - CAST(codes[i] AS DOUBLE) * qscale))
       |      AS errs
       |  FROM j)
       |SELECT vec_id,
       |  CAST(floor(list_max(errs) * 1e9) AS BIGINT) AS max_err_e9,
       |  CAST(list_sum(list_transform(errs,
       |    e -> CAST(floor(e * e * 1e12) AS BIGINT))) AS BIGINT) AS sse_e12
       |FROM er""".stripMargin

  /** q172: per-dimension ROBUST SCALING stats — exact nearest-rank
    * p25/median/p75 (+ IQR) of every embedding dimension: the robust
    * scaler's parameter table (median/IQR normalization shrugs off the
    * outliers that bend mean/σ — q164's outliers are exactly why), and
    * the per-dim spread audit beside q127's covariance. Elements fix
    * to BIGINT at 1e6; quantiles are EXACT two-phase (the q91 shape,
    * which is what makes this scale): a phase-1 histogram over
    * ${RobustBucketWidth}-wide buckets (bounded by the VALUE
    * DOMAIN, not n), broadcast triangular cumulative to find each
    * rank's bucket, then a ranked pass over ONLY the selected buckets
    * — never a per-dim corpus sort. Negative elements: BOTH engines
    * truncate integer division toward zero (Spark `div` and DuckDB
    * `//` agree: -7 div 2 = -3), but truncation makes the bucket
    * straddling zero DOUBLE-width — every v in (-W, W) lands in
    * bucket 0 — which would break the equal-width histogram the rank
    * search assumes; shifting by ${RobustShift} first (exact
    * while |x| < ${RobustShift / 1000000}) keeps the dividend
    * non-negative, where truncation and floor coincide and every
    * bucket is exactly W wide. Ranks break ties by value only, so
    * the quantile VALUES are tie-order-free. */
  def q172RobustScale(spark: SparkSession, dir: String): DataFrame = {
    val W = RobustBucketWidth
    val Levels = Seq(25, 50, 75)
    val cells = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"),
        expr("CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)").as("v"))
      .withColumn("bk", expr(s"(v + ${RobustShift}) div $W"))
    val bh = cells.groupBy("dim", "bk").agg(count(lit(1)).as("cnt"))
    val bcum = bh.as("a")
      .join(broadcast(bh.as("b")),
        col("a.dim") === col("b.dim") && col("b.bk") <= col("a.bk"))
      .groupBy(col("a.dim").as("dim"), col("a.bk").as("bk"), col("a.cnt").as("cnt"))
      .agg(sum(col("b.cnt")).as("cum"))
    val ranks = bh.groupBy("dim").agg(sum(col("cnt")).as("n"))
      .select(col("dim"), col("n"),
        explode(array(Levels.map(p => struct(lit(p).as("p"),
          expr(s"(n * $p + 99) div 100").as("r"))): _*)).as("pr"))
      .select(col("dim"), col("n"), col("pr.p").as("p"), col("pr.r").as("r"))
    val cut = ranks.join(bcum, "dim")
      .filter(col("cum") >= col("r"))
      .groupBy("dim", "n", "p", "r")
      .agg(min(struct(col("bk"), (col("cum") - col("cnt")).as("base"))).as("m"))
      .select(col("dim"), col("n"), col("p"),
        col("m.bk").as("bk"), (col("r") - col("m.base")).as("rr"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("dim", "bk").orderBy(col("v"))
    val picked = cells
      .join(broadcast(cut.select("dim", "bk").distinct()), Seq("dim", "bk"))
      .withColumn("rn", row_number().over(w))
      .join(broadcast(cut), Seq("dim", "bk"))
      .filter(col("rn") === col("rr"))
    val pivots = Levels.map(p => max(when(col("p") === p, col("v"))).as(s"p$p"))
    picked.groupBy(col("dim"), col("n"))
      .agg(pivots.head, pivots.tail: _*)
      .withColumn("iqr", col("p75") - col("p25"))
      .withColumn("median_real", col("p50").cast("double") / lit(1e6))
  }

  def q172Sql: String = {
    val pivots = Seq(25, 50, 75).map(p =>
      s"max(CASE WHEN rn = (n * $p + 99) // 100 THEN v END) AS p$p")
      .mkString(",\n|    ")
    s"""WITH ex AS (SELECT g - 1 AS dim,
       |    CAST(floor(CAST(embedding[g] AS DOUBLE) * 1e6) AS BIGINT) AS v
       |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS g) t),
       |ranked AS (SELECT dim, v,
       |    row_number() OVER (PARTITION BY dim ORDER BY v) AS rn,
       |    count(*) OVER (PARTITION BY dim) AS n
       |  FROM ex),
       |q AS (SELECT dim, n,
       |    $pivots
       |  FROM ranked GROUP BY 1, 2)
       |SELECT dim, n, p25, p50, p75, p75 - p25 AS iqr,
       |  CAST(p50 AS DOUBLE) / 1e6 AS median_real
       |FROM q""".stripMargin
  }

  def q164Sql: String =
    s"""WITH ex AS (SELECT label, vec_id, g - 1 AS dim,
       |    CAST(floor(CAST(embedding[g] AS DOUBLE) * 1e6) AS BIGINT) AS xs
       |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS g) t),
       |cent AS (SELECT label, dim, CAST(SUM(xs) AS BIGINT) // count(*) AS m
       |  FROM ex GROUP BY 1, 2),
       |dist AS (SELECT e.label, e.vec_id,
       |    CAST(SUM((e.xs - c.m) * (e.xs - c.m)) AS BIGINT) AS dist2
       |  FROM ex e JOIN cent c ON e.label = c.label AND e.dim = c.dim
       |  GROUP BY 1, 2)
       |SELECT label, vec_id, dist2, CAST(dist2 AS DOUBLE) / 1e12 AS dist2_real,
       |  CAST(rk AS INT) AS rk
       |FROM (SELECT label, vec_id, dist2,
       |    row_number() OVER (PARTITION BY label ORDER BY dist2 DESC, vec_id) AS rk
       |  FROM dist)
       |WHERE rk <= ${OutlierTopK}""".stripMargin

  // ---------- Product quantization (q222/q223) ----------

  // product quantization (q222/q223): subspace count (must divide the
  // embedding dim), codewords per subspace, Lloyd iterations. 4×8 on
  // 64-dim = 16 doubles/vector → 4 small ints — the compression a
  // serving index actually ships; recall is MEASURED by q223
  val PqM: Int = cfg.pqSubspaces
  val PqK: Int = 8
  val PqIters: Int = cfg.pqIters

  /** Subspace s (1-based) of a vector column: the s-th of $PqM equal
    * slices — length derived from the data (`size div PqM`), so the
    * operator needs no dimension config. */
  private def subExpr(s: Int, c: String = "embedding"): String =
    s"slice($c, 1 + ${s - 1} * (size($c) div $PqM), size($c) div $PqM)"

  private def pqSubSqlDuck(s: Int, c: String = "embedding"): String =
    s"$c[1 + ${s - 1} * (len($c) // $PqM) : $s * (len($c) // $PqM)]"

  /** Nearest-codeword assignment for one subspace, fixed-point L2:
    * d² = ⟨x,x⟩ + ⟨c,c⟩ − 2⟨x,c⟩ with every part an exact BIGINT
    * fixed-point dot (vec_dot_fixed), so d² is exact integer
    * arithmetic and both engines argmin identically; ties go to the
    * lowest cent_id (array sorted, fold replaces only on strictly
    * smaller d²). Broadcast-packed codebook, zero shuffle — the q41
    * assign() shape on the L2 metric PQ is defined over. */
  private def pqAssign(es: DataFrame, cb: DataFrame): DataFrame = {
    val packed = broadcast(cb
      .select(struct(col("cent_id"), col("ce"),
        expr("vec_dot_fixed(ce, ce)").as("cn2")).as("c"))
      .groupBy().agg(array_sort(collect_list(col("c"))).as("cents")))
    es.crossJoin(packed)
      .withColumn("n2s", expr("vec_dot_fixed(sub, sub)"))
      .withColumn("cell", expr(
        """aggregate(
          |  transform(cents, c -> named_struct(
          |    'cid', c.cent_id,
          |    'd2', n2s + c.cn2 - 2 * vec_dot_fixed(sub, c.ce))),
          |  named_struct('cid', CAST(NULL AS BIGINT), 'd2', CAST(NULL AS BIGINT)),
          |  (acc, x) -> IF(acc.d2 IS NULL OR x.d2 < acc.d2, x, acc),
          |  acc -> acc.cid)""".stripMargin))
      .select(col("vec_id"), col("sub"), col("cell"))
  }

  /** Exact per-dimension codeword mean (the q41 updateCentroids
    * discipline on a slice): Σ floor(x·1e7) is order-free integer
    * arithmetic, the division a fixed expression shape — bit-identical
    * DOUBLE codewords on both engines. */
  private def pqUpdate(assigned: DataFrame): DataFrame =
    assigned.select(col("cell"), posexplode(col("sub")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(sum(expr("CAST(floor(CAST(x AS DOUBLE) * 1e7) AS BIGINT)")).as("sx"),
           count(lit(1)).as("cn"))
      .select(col("cell"), col("pos"),
        (col("sx").cast("double") / col("cn").cast("double") / lit(1e7)).as("m"))
      .groupBy("cell")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("ce"))
      .select(col("cell").as("cent_id"), col("ce"))

  /** Train all $PqM per-subspace codebooks: deterministic Lloyd
    * (seeded from the first $PqK vectors' slices, $PqIters exact-mean
    * iterations) independently per subspace — the product structure IS
    * the compression: m codebooks of k codewords quantize k^m cells'
    * worth of space with m·k codewords. Returns (sub_id, cent_id, ce). */
  private[graft] def pqTrain(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    pqTrainOn(emb(spark, dir))
  }

  /** The PQ training loop over ANY (vec_id, embedding) table — the
    * corpus itself (q222) or its IVF residuals (q271). */
  private def pqTrainOn(e: DataFrame): DataFrame =
    (1 to PqM).map { s =>
      val es = e.select(col("vec_id"), expr(subExpr(s)).as("sub"))
      val init = es.filter(col("vec_id") < PqK)
        .select(col("vec_id").as("cent_id"),
          expr("transform(sub, x -> CAST(x AS DOUBLE))").as("ce"))
      (1 to PqIters).foldLeft(init) { (cb, _) => pqUpdate(pqAssign(es, cb)) }
        .withColumn("sub_id", lit(s))
    }.reduce(_ unionAll _)

  /** The persisted PQ codebook for a dataset (the q210/q188 artifact
    * lifecycle: training runs once, every consumer loads). Parquet
    * round-trips the DOUBLE codeword arrays bit-exactly. */
  private[graft] def persistedPqCodebook(spark: SparkSession, dir: String): DataFrame =
    Artifact.getOrBuild(spark, "pq_cb", dir, Seq("embeddings.parquet"),
      s"m=$PqM,k=$PqK,i=$PqIters")(pqTrain(spark, dir).write.parquet(_))

  /** Corpus codes under a codebook, ONE scan: all m codebooks pack
    * into a single broadcast row and every subspace's argmin runs as a
    * codegen'd HOF over its slice — zero shuffle, the encode path a
    * 100 TB corpus pays exactly once. */
  private def pqEncodeWith(e: DataFrame, cb: DataFrame): DataFrame = {
    val packed = broadcast(cb
      .select(struct(col("sub_id"), col("cent_id"), col("ce"),
        expr("vec_dot_fixed(ce, ce)").as("cn2")).as("c"))
      .groupBy().agg(array_sort(collect_list(col("c"))).as("cbs")))
    val subs = e.crossJoin(packed)
      .select(Seq(col("vec_id"), col("cbs")) ++
        (1 to PqM).map(s => expr(subExpr(s)).as(s"sub$s")): _*)
    subs.select(Seq(col("vec_id")) ++ (1 to PqM).map { s =>
      expr(
        s"""aggregate(
           |  transform(filter(cbs, c -> c.sub_id = $s), c -> named_struct(
           |    'cid', c.cent_id,
           |    'd2', vec_dot_fixed(sub$s, sub$s) + c.cn2 - 2 * vec_dot_fixed(sub$s, c.ce))),
           |  named_struct('cid', CAST(NULL AS BIGINT), 'd2', CAST(NULL AS BIGINT)),
           |  (acc, x) -> IF(acc.d2 IS NULL OR x.d2 < acc.d2, x, acc),
           |  acc -> acc.cid)""".stripMargin).as(s"c$s")
    }: _*)
  }

  /** q222: PRODUCT QUANTIZATION encode — the vector-compression step a
    * serving-scale ANN index actually ships (q89's scalar quantization
    * keeps d values/vector; PQ keeps $PqM small ints): each of $PqM
    * subspaces gets its own $PqK-codeword codebook (deterministic
    * Lloyd, fixed-point L2, exact-mean updates — the q41 discipline on
    * slices), a vector's code is its per-subspace nearest codewords.
    * The codebook is the PERSISTED artifact (trained once, loaded —
    * q210's lifecycle); the oracle retrains from scratch through the
    * full CTE chain, so the artifact path is re-proven equal to
    * training end-to-end every round. Codes emit as one comma-joined
    * string so the row hash-compares.
    *
    * Scale: training sees m·iters scans of the slice table; encode is
    * ONE zero-shuffle corpus scan against a broadcast m·k-row
    * codebook. Reconstruction quality is not asserted — it is MEASURED
    * by q223 (the approximation-ships-with-its-eval rule). */
  def q222PqEncode(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    pqEncodeWith(emb(spark, dir), persistedPqCodebook(spark, dir))
      .select(col("vec_id"),
        concat_ws(",", (1 to PqM).map(s => col(s"c$s").cast("string")): _*).as("codes"))
  }

  /** One subspace's DuckDB L2 assignment: same exact-integer
    * d² = Σfloor(a²·1e13) + Σfloor(b²·1e13) − 2·Σfloor(ab·1e13),
    * argmin by (d², cent_id). */
  private def pqDuckAssign(s: Int, cTbl: String, out: String,
      src: String = ""): String = {
    val st = if (src.isEmpty) s"e$s" else src
    s"""${out}_ex AS (SELECT e.vec_id AS ia, c.cent_id AS ib,
       |    unnest(e.sub) AS a, unnest(c.ce) AS b
       |  FROM $st e, $cTbl c),
       |${out}_d AS (SELECT ia, ib,
       |    SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(a AS DOUBLE)*1e13) AS BIGINT))
       |      + SUM(CAST(floor(CAST(b AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT))
       |      - 2*SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT)) AS d2
       |  FROM ${out}_ex GROUP BY ia, ib),
       |$out AS (SELECT ia AS vec_id, ib AS cell FROM (
       |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY d2, ib) AS rk
       |    FROM ${out}_d) WHERE rk = 1)""".stripMargin
  }

  private def pqDuckUpdate(s: Int, aTbl: String, out: String,
      src: String = ""): String = {
    val st = if (src.isEmpty) s"e$s" else src
    s"""${out}_j AS (SELECT $aTbl.cell, e.sub FROM $aTbl JOIN $st e USING (vec_id)),
       |${out}_m AS (SELECT cell, g,
       |    CAST(SUM(CAST(floor(CAST(sub[g] AS DOUBLE) * 1e7) AS BIGINT)) AS DOUBLE)/count(*)/1e7 AS m
       |  FROM ${out}_j, LATERAL (SELECT unnest(generate_series(1, len(sub))) AS g) t
       |  GROUP BY cell, g),
       |$out AS (SELECT cell AS cent_id, array_agg(m ORDER BY g) AS ce FROM ${out}_m GROUP BY cell)""".stripMargin
  }

  /** Shared PQ oracle preamble: per subspace s, slice table e{s},
    * training chain c{s}_0..c{s}_$PqIters, final assignment f{s}.
    * `where` filters the training corpus (q299 trains on the base
    * split only; every other consumer trains on the full table). */
  private def pqTrainCtesFor(where: String): String =
    (1 to PqM).map { s =>
      val iters = (1 to PqIters).map { i =>
        s"""${pqDuckAssign(s, s"c${s}_${i - 1}", s"a${s}_$i")},
           |${pqDuckUpdate(s, s"a${s}_$i", s"c${s}_$i")}""".stripMargin
      }.mkString(",\n")
      s"""e$s AS (SELECT vec_id, ${pqSubSqlDuck(s)} AS sub FROM embeddings$where),
         |c${s}_0 AS (SELECT vec_id AS cent_id,
         |    list_transform(sub, x -> CAST(x AS DOUBLE)) AS ce
         |  FROM e$s WHERE vec_id < $PqK),
         |$iters,
         |${pqDuckAssign(s, s"c${s}_$PqIters", s"f$s")}""".stripMargin
    }.mkString(",\n")

  private def pqTrainCtes: String = pqTrainCtesFor("")

  def q222Sql: String = {
    val joins = (2 to PqM).map(s => s"JOIN f$s USING (vec_id)").mkString(" ")
    val codes = (1 to PqM).map(s => s"CAST(f$s.cell AS VARCHAR)")
      .mkString(" || ',' || ")
    s"""WITH $pqTrainCtes
       |SELECT f1.vec_id, $codes AS codes
       |FROM f1 $joins""".stripMargin
  }

  /** q223: PQ RECALL eval — q222's measured answer (the
    * approximation-ships-with-its-eval rule, q123/q179/q215's
    * precedent): for the $NumQueries query vectors, exact full-space
    * fixed-point-L2 top-$TopK truth vs ASYMMETRIC DISTANCE (ADC)
    * top-$TopK — the query stays unquantized, each corpus vector
    * scores as Σ over subspaces of d²(query slice, its codeword), the
    * standard serving-time PQ search. Same metric on both sides (L2
    * truth for an L2 code — a cosine truth would conflate metric
    * change with compression loss, the q215 lesson). Output one row
    * per query: hits and recall (one fixed division).
    *
    * Scale: the ADC lookup table is queries × m·k rows (tiny,
    * broadcast); corpus codes join it per subspace map-side, and the
    * per-(query, vector) sum is bounded by the query-panel size — the
    * corpus is never paired with itself (that is the truth side's
    * cost, and the truth panel is the $NumQueries eval slice). */
  def q223PqRecall(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val cb = persistedPqCodebook(spark, dir)
    val e = emb(spark, dir).withColumn("n2", expr("vec_dot_fixed(embedding, embedding)"))
    val qv = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    // exact truth: the persisted full-space fixed-point L2 artifact
    val truth = persistedL2Truth(spark, dir)
      .filter(col("rk") <= TopK).select("query_id", "vec_id")
    // ADC: per-subspace lookup (query × codeword, tiny) joined to codes
    val codes = pqEncodeWith(e.select("vec_id", "embedding"), cb)
    val luts = (1 to PqM).map { s =>
      broadcast(qv.select(col("query_id"), expr(subExpr(s, "qe")).as("qs"))
        .withColumn("qn2s", expr("vec_dot_fixed(qs, qs)"))
        .crossJoin(broadcast(cb.filter(col("sub_id") === s)))
        .select(col("query_id"), col("cent_id").as(s"c$s"),
          (col("qn2s") + expr("vec_dot_fixed(ce, ce)")
            - lit(2L) * expr("vec_dot_fixed(qs, ce)")).as(s"d$s")))
    }
    val ad = luts.zipWithIndex.foldLeft(codes) { case (acc, (lut, i)) =>
      acc.join(lut, if (i == 0) Seq(s"c${i + 1}") else Seq("query_id", s"c${i + 1}"))
    }
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (1 to PqM).map(s => col(s"d$s")).reduce(_ + _).as("ad2"))
    val wa = Window.partitionBy("query_id").orderBy(col("ad2"), col("vec_id"))
    val adcTop = ad.withColumn("rk", row_number().over(wa)).filter(col("rk") <= TopK)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    truth.join(adcTop, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        (col("n_hit").cast("double") / lit(TopK.toDouble)).as("recall"))
  }

  /** Per-subspace ADC lookup-table CTEs (lut1..lut$PqM): each query's
    * slice against every trained codeword of that subspace, exact
    * fixed-point L2. Shared by q223 (full-corpus ADC) and q261/q262
    * (cell-restricted ADC). */
  private def pqLutCtes: String =
    (1 to PqM).map { s =>
      s"""qs$s AS (SELECT vec_id AS query_id, ${pqSubSqlDuck(s, "embedding")} AS qs
         |  FROM embeddings WHERE vec_id < $NumQueries),
         |lut${s}_ex AS (SELECT q.query_id, c.cent_id,
         |    unnest(q.qs) AS a, unnest(c.ce) AS b
         |  FROM qs$s q, c${s}_$PqIters c),
         |lut$s AS (SELECT query_id, cent_id,
         |    SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(a AS DOUBLE)*1e13) AS BIGINT))
         |      + SUM(CAST(floor(CAST(b AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT))
         |      - 2*SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT)) AS d2
         |  FROM lut${s}_ex GROUP BY query_id, cent_id)""".stripMargin
    }.mkString(",\n")

  def q223Sql: String = {
    val codeJoins = (2 to PqM).map(s => s"JOIN f$s USING (vec_id)").mkString(" ")
    val codeCols = (1 to PqM).map(s => s"f$s.cell AS c$s").mkString(", ")
    val lutCtes = pqLutCtes
    val lutJoins = (1 to PqM).map(s =>
      s"JOIN lut$s l$s ON l$s.query_id = q.query_id AND l$s.cent_id = x.c$s")
      .mkString("\n|  ")
    val adSum = (1 to PqM).map(s => s"l$s.d2").mkString(" + ")
    s"""WITH $pqTrainCtes,
       |codesj AS (SELECT f1.vec_id, $codeCols FROM f1 $codeJoins),
       |q AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < $NumQueries),
       |$lutCtes,
       |tr_ex AS (SELECT q.vec_id AS qid, e.vec_id AS xid,
       |    unnest(q.embedding) AS a, unnest(e.embedding) AS b
       |  FROM (SELECT * FROM embeddings WHERE vec_id < $NumQueries) q, embeddings e
       |  WHERE e.vec_id <> q.vec_id),
       |tr_d AS (SELECT qid, xid,
       |    SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(a AS DOUBLE)*1e13) AS BIGINT))
       |      + SUM(CAST(floor(CAST(b AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT))
       |      - 2*SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT)) AS d2
       |  FROM tr_ex GROUP BY qid, xid),
       |truth AS (SELECT qid AS query_id, xid AS vec_id FROM (
       |    SELECT qid, xid, row_number() OVER (PARTITION BY qid ORDER BY d2, xid) AS rk
       |    FROM tr_d) WHERE rk <= $TopK),
       |ad AS (SELECT q.query_id, x.vec_id, $adSum AS ad2
       |  FROM q JOIN codesj x ON x.vec_id <> q.query_id
       |  $lutJoins),
       |adctop AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY ad2, vec_id) AS rk
       |    FROM ad) WHERE rk <= $TopK)
       |SELECT t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($TopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN adctop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id""".stripMargin
  }

  // ---------- IVF-PQ serving path (q261/q262) ----------

  /** Shared IVF-PQ candidate scorer: queries probe their $ivfNprobe
    * nearest IVF cells (the q41 trained index) and every corpus vector
    * in a probed cell is scored by ASYMMETRIC DISTANCE (ADC) over the
    * persisted PQ codebook — the query stays unquantized, the corpus
    * contributes only its $PqM-byte code. This is the composition q41
    * and q222 each half-provide: IVF bounds WHICH vectors get scored,
    * PQ bounds WHAT scoring a candidate costs.
    *
    * Scale: the two index artifacts (centroids, codebook) broadcast;
    * cell assignment and PQ encode are zero-shuffle corpus scans; the
    * candidate join fans the tiny probed-query side across cells, so
    * per-query work is Σ|probed cell| code lookups — never a full-space
    * float dot. At serving scale the codes table is the only corpus
    * state in memory (m small ints + a cell id per vector). */
  private def ivfPqScored(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val cb = persistedPqCodebook(spark, dir)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val cents = trainIndex(spark, dir)
    val assigned = assign(e, cents).select(col("vec_id"), col("cell"))
    val qv = e.filter(col("vec_id") < NumQueries)
    val probes = probeCells(qv, cents, cfg.ivfNprobe)
      .select(col("vec_id").as("query_id"), col("cell"))
    // every corpus vector lives in exactly one cell → no dedup needed
    val cand = broadcast(probes).join(assigned, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val codes = pqEncodeWith(e.select("vec_id", "embedding"), cb)
    val luts = (1 to PqM).map { s =>
      broadcast(qv.select(col("vec_id").as("query_id"), expr(subExpr(s)).as("qs"))
        .withColumn("qn2s", expr("vec_dot_fixed(qs, qs)"))
        .crossJoin(broadcast(cb.filter(col("sub_id") === s)))
        .select(col("query_id"), col("cent_id").as(s"c$s"),
          (col("qn2s") + expr("vec_dot_fixed(ce, ce)")
            - lit(2L) * expr("vec_dot_fixed(qs, ce)")).as(s"d$s")))
    }
    val withCodes = cand.join(codes, "vec_id")
    luts.zipWithIndex.foldLeft(withCodes) { case (acc, (lut, i)) =>
      acc.join(lut, Seq("query_id", s"c${i + 1}"))
    }.select(col("query_id"), col("vec_id"),
      (1 to PqM).map(s => col(s"d$s")).reduce(_ + _).as("ad2"))
  }

  /** q261: IVF-PQ SEARCH — the production ANN serving shape (the
    * round-11 verdict's #2): per query, top-$IvfTopK candidates from
    * its $ivfNprobe probed cells ranked by exact-integer ADC distance
    * (ties to vec_id). ad2 is BIGINT fixed-point arithmetic end to end,
    * so both engines rank bitwise-identically. Recall loss (cell
    * restriction × code compression) is MEASURED by q262 — the
    * approximation-ships-with-its-eval rule. */
  def q261IvfPqSearch(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("ad2"), col("vec_id"))
    ivfPqScored(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= IvfTopK)
      .select("query_id", "vec_id", "rk", "ad2")
  }

  /** Shared oracle preamble for q261/q262: IVF training (→ av, af_dots)
    * + PQ training (→ f1..fM, c{s}_$PqIters) + cosine cell probing +
    * ADC scoring of the probed cells, ending at `adtop`. */
  private def ivfPqCtes: String = {
    val codeJoins = (2 to PqM).map(s => s"JOIN f$s USING (vec_id)").mkString(" ")
    val codeCols = (1 to PqM).map(s => s"f$s.cell AS c$s").mkString(", ")
    val lutJoins = (1 to PqM).map(s =>
      s"JOIN lut$s l$s ON l$s.query_id = c.query_id AND l$s.cent_id = x.c$s")
      .mkString("\n|  ")
    val adSum = (1 to PqM).map(s => s"l$s.d2").mkString(" + ")
    s"""$trainedAssignCtes,
       |$pqTrainCtes,
       |codesj AS (SELECT f1.vec_id, $codeCols FROM f1 $codeJoins),
       |qprobe AS (SELECT ia AS query_id, ib AS cell FROM (
       |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
       |    FROM af_dots WHERE ia < $NumQueries)
       |  WHERE rk <= ${cfg.ivfNprobe}),
       |cand AS (SELECT q.query_id, av.vec_id FROM qprobe q
       |  JOIN av ON av.cell = q.cell AND av.vec_id <> q.query_id),
       |$pqLutCtes,
       |adx AS (SELECT c.query_id, c.vec_id, CAST($adSum AS BIGINT) AS ad2
       |  FROM cand c JOIN codesj x USING (vec_id)
       |  $lutJoins),
       |adtop AS (SELECT query_id, vec_id, rk, ad2 FROM (
       |    SELECT query_id, vec_id, ad2,
       |      row_number() OVER (PARTITION BY query_id ORDER BY ad2, vec_id) AS rk
       |    FROM adx) WHERE rk <= $IvfTopK)""".stripMargin
  }

  def q261Sql: String =
    s"""$ivfPqCtes
       |SELECT query_id, vec_id, rk, ad2 FROM adtop""".stripMargin

  /** q262: IVF-PQ RECALL — q261's measured answer: per query,
    * |ADC-in-probed-cells top-$IvfTopK ∩ exact full-space L2
    * top-$IvfTopK| / $IvfTopK. Unlike q223 (PQ loss alone, full-corpus
    * ADC), this number carries BOTH loss terms of the serving stack —
    * cells the probe never visited and codewords that re-rank inside a
    * cell — which is the only recall that matters to a caller of q261.
    * Same L2 metric on both sides (the q215 lesson). Scale: the eval
    * join is queries × k rows; the cost is the two searches it audits. */
  def q262IvfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val truth = persistedL2Truth(spark, dir)
      .filter(col("rk") <= IvfTopK).select("query_id", "vec_id")
    val approx = q261IvfPqSearch(spark, dir)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        (col("n_hit").cast("double") / lit(IvfTopK.toDouble)).as("recall"))
  }

  def q262Sql: String =
    s"""$ivfPqCtes,
       |tr_ex AS (SELECT q.vec_id AS qid, e2.vec_id AS xid,
       |    unnest(q.embedding) AS a, unnest(e2.embedding) AS b
       |  FROM (SELECT * FROM embeddings WHERE vec_id < $NumQueries) q, embeddings e2
       |  WHERE e2.vec_id <> q.vec_id),
       |tr_d AS (SELECT qid, xid,
       |    SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(a AS DOUBLE)*1e13) AS BIGINT))
       |      + SUM(CAST(floor(CAST(b AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT))
       |      - 2*SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT)) AS d2
       |  FROM tr_ex GROUP BY qid, xid),
       |truth AS (SELECT qid AS query_id, xid AS vec_id FROM (
       |    SELECT qid, xid, row_number() OVER (PARTITION BY qid ORDER BY d2, xid) AS rk
       |    FROM tr_d) WHERE rk <= $IvfTopK)
       |SELECT t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($IvfTopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN adtop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id""".stripMargin

  // ---------- Residual IVF-PQ (q271/q272) ----------

  /** Per-vector IVF RESIDUAL r = x − c(cell): the quantity PQ encodes
    * in the production IVF-PQ composition — residual norms are far
    * smaller than vector norms, so the same m·k codewords spend their
    * resolution on the part IVF did not already explain. Broadcast
    * centroid join on the assigned cell; elementwise subtraction is a
    * codegen'd zip_with (one exact IEEE op per dim). Output keeps the
    * residual under the `embedding` name so the PQ kernels apply
    * unchanged. */
  private def residualsOf(e: DataFrame, cents: DataFrame): DataFrame =
    assign(e, cents)
      .join(broadcast(cents.select(col("cent_id").as("cell"), col("ce"))), "cell")
      .select(col("vec_id"), col("cell"),
        expr("zip_with(embedding, ce, (x, c) -> CAST(x AS DOUBLE) - c)")
          .as("embedding"))

  /** Persisted RESIDUAL codebook — trained on the IVF residuals, so the
    * artifact depends on BOTH index configurations (every shaping knob
    * in the cfgKey) AND on the corpus bytes (embeddings metadata
    * fingerprint — the q242/q263 content-keying discipline): a knob
    * change or an in-place regeneration makes the stale artifact
    * unreachable instead of silently trusted. */
  private[graft] def persistedResCodebook(spark: SparkSession, dir: String): DataFrame =
    Artifact.getOrBuild(spark, "pqres_cb", dir, Seq("embeddings.parquet"),
        s"m=$PqM,k=$PqK,i=$PqIters,c=$NumCentroids,ki=$KmeansIters,tm=$TrainMod") { p =>
      val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
      pqTrainOn(residualsOf(e, trainIndex(spark, dir))).write.parquet(p)
    }

  /** q271: RESIDUAL IVF-PQ SEARCH — the full Faiss-style IVFPQ serving
    * shape, one refinement past q261: the PQ codebook is trained on and
    * encodes the IVF RESIDUALS (x − centroid), and ADC lookup tables
    * are built per (query, probed cell) from the query's own residual
    * against that cell — so distance resolution concentrates where the
    * coarse quantizer left error. All-BIGINT fixed-point distances end
    * to end (ties to vec_id), both engines rank bitwise. q272 measures
    * what the refinement buys (its recall vs q262's, same truth).
    *
    * Scale: centroids and codebook broadcast; residual computation and
    * encode are zero-shuffle corpus scans; LUTs are
    * queries × nprobe × m·k rows (tiny, broadcast); per-query cost is
    * Σ|probed cell| code lookups — identical shape to q261 with one
    * extra broadcast join on the corpus scan. */
  def q271IvfPqResidualSearch(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val cents = trainIndex(spark, dir)
    val cb = persistedResCodebook(spark, dir)
    val res = residualsOf(e, cents)
    val codes = pqEncodeWith(res.select("vec_id", "embedding"), cb)
      .join(res.select("vec_id", "cell"), "vec_id")
    val qv = e.filter(col("vec_id") < NumQueries)
    val probes = probeCells(qv, cents, cfg.ivfNprobe)
      .select(col("vec_id").as("query_id"), col("cell"))
    // query residual PER PROBED CELL: qr = qe − c(cell)
    val qres = broadcast(probes
      .join(qv.select(col("vec_id").as("query_id"), col("embedding").as("qe")), "query_id")
      .join(broadcast(cents.select(col("cent_id").as("cell"), col("ce"))), "cell")
      .select(col("query_id"), col("cell"),
        expr("zip_with(qe, ce, (x, c) -> CAST(x AS DOUBLE) - c)").as("qr")))
    val luts = (1 to PqM).map { s =>
      broadcast(qres.select(col("query_id"), col("cell"),
          expr(subExpr(s, "qr")).as("qs"))
        .withColumn("qn2s", expr("vec_dot_fixed(qs, qs)"))
        .crossJoin(broadcast(cb.filter(col("sub_id") === s)))
        .select(col("query_id"), col("cell"), col("cent_id").as(s"c$s"),
          (col("qn2s") + expr("vec_dot_fixed(ce, ce)")
            - lit(2L) * expr("vec_dot_fixed(qs, ce)")).as(s"d$s")))
    }
    val cand = broadcast(probes).join(codes, "cell")
      .filter(col("vec_id") =!= col("query_id"))
    val ad = luts.zipWithIndex.foldLeft(cand) { case (acc, (lut, i)) =>
      acc.join(lut, Seq("query_id", "cell", s"c${i + 1}"))
    }.select(col("query_id"), col("vec_id"),
      (1 to PqM).map(s => col(s"d$s")).reduce(_ + _).as("ad2"))
    val w = Window.partitionBy("query_id").orderBy(col("ad2"), col("vec_id"))
    ad.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= IvfTopK)
      .select("query_id", "vec_id", "rk", "ad2")
  }

  /** Shared oracle preamble for q271/q272: IVF training → residuals →
    * residual-PQ training → per-(query, cell) residual LUTs → ADC over
    * probed cells, ending at `adtop`. */
  private def resIvfPqCtes: String = {
    val resSlices = (1 to PqM).map { s =>
      s"rs$s AS (SELECT vec_id, ${pqSubSqlDuck(s, "rvec")} AS sub FROM rv)"
    }.mkString(",\n")
    val training = (1 to PqM).map { s =>
      val iters = (1 to PqIters).map { i =>
        s"""${pqDuckAssign(s, s"c${s}_${i - 1}", s"a${s}_$i", src = s"rs$s")},
           |${pqDuckUpdate(s, s"a${s}_$i", s"c${s}_$i", src = s"rs$s")}""".stripMargin
      }.mkString(",\n")
      s"""c${s}_0 AS (SELECT vec_id AS cent_id,
         |    list_transform(sub, x -> CAST(x AS DOUBLE)) AS ce
         |  FROM rs$s WHERE vec_id < $PqK),
         |$iters,
         |${pqDuckAssign(s, s"c${s}_$PqIters", s"f$s", src = s"rs$s")}""".stripMargin
    }.mkString(",\n")
    val codeJoins = (2 to PqM).map(s => s"JOIN f$s USING (vec_id)").mkString(" ")
    val codeCols = (1 to PqM).map(s => s"f$s.cell AS c$s").mkString(", ")
    val lutCtes = (1 to PqM).map { s =>
      s"""ql$s AS (SELECT query_id, cell, ${pqSubSqlDuck(s, "qr")} AS qs FROM qres),
         |lut${s}_ex AS (SELECT q.query_id, q.cell, c.cent_id,
         |    unnest(q.qs) AS a, unnest(c.ce) AS b
         |  FROM ql$s q, c${s}_$PqIters c),
         |lut$s AS (SELECT query_id, cell, cent_id,
         |    SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(a AS DOUBLE)*1e13) AS BIGINT))
         |      + SUM(CAST(floor(CAST(b AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT))
         |      - 2*SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT)) AS d2
         |  FROM lut${s}_ex GROUP BY query_id, cell, cent_id)""".stripMargin
    }.mkString(",\n")
    val lutJoins = (1 to PqM).map(s =>
      s"JOIN lut$s l$s ON l$s.query_id = cd.query_id AND l$s.cell = cd.cell AND l$s.cent_id = cd.c$s")
      .mkString("\n|  ")
    val adSum = (1 to PqM).map(s => s"l$s.d2").mkString(" + ")
    s"""$trainedAssignCtes,
       |rv AS (SELECT av.vec_id, av.cell,
       |    list_transform(range(1, 1 + len(av.embedding)),
       |      i -> CAST(av.embedding[i] AS DOUBLE) - c.ce[i]) AS rvec
       |  FROM av JOIN c$KmeansIters c ON c.cent_id = av.cell),
       |$resSlices,
       |$training,
       |codesj AS (SELECT f1.vec_id, rv.cell, $codeCols
       |  FROM f1 $codeJoins JOIN rv USING (vec_id)),
       |qprobe AS (SELECT ia AS query_id, ib AS cell FROM (
       |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
       |    FROM af_dots WHERE ia < $NumQueries)
       |  WHERE rk <= ${cfg.ivfNprobe}),
       |qres AS (SELECT p.query_id, p.cell,
       |    list_transform(range(1, 1 + len(e.embedding)),
       |      i -> CAST(e.embedding[i] AS DOUBLE) - c.ce[i]) AS qr
       |  FROM qprobe p JOIN e ON e.vec_id = p.query_id
       |  JOIN c$KmeansIters c ON c.cent_id = p.cell),
       |$lutCtes,
       |cd AS (SELECT p.query_id, x.cell, x.vec_id${(1 to PqM).map(s => s", x.c$s").mkString}
       |  FROM qprobe p JOIN codesj x ON x.cell = p.cell AND x.vec_id <> p.query_id),
       |adx AS (SELECT cd.query_id, cd.vec_id, CAST($adSum AS BIGINT) AS ad2
       |  FROM cd
       |  $lutJoins),
       |adtop AS (SELECT query_id, vec_id, rk, ad2 FROM (
       |    SELECT query_id, vec_id, ad2,
       |      row_number() OVER (PARTITION BY query_id ORDER BY ad2, vec_id) AS rk
       |    FROM adx) WHERE rk <= $IvfTopK)""".stripMargin
  }

  def q271Sql: String =
    s"""$resIvfPqCtes
       |SELECT query_id, vec_id, rk, ad2 FROM adtop""".stripMargin

  /** q272: RESIDUAL IVF-PQ RECALL — q271's measured answer against the
    * same exact full-space L2 truth q262 uses, so the two serving
    * shapes (global-codebook q261 vs residual q271) are directly
    * comparable recall-for-recall: the refinement's value is a NUMBER,
    * not an assumption (on an isotropic synthetic corpus it may well
    * be ~zero — that is a finding, the q223 honesty discipline). */
  def q272IvfPqResidualRecall(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val truth = persistedL2Truth(spark, dir)
      .filter(col("rk") <= IvfTopK).select("query_id", "vec_id")
    val approx = q271IvfPqResidualSearch(spark, dir)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        (col("n_hit").cast("double") / lit(IvfTopK.toDouble)).as("recall"))
  }

  def q272Sql: String =
    s"""$resIvfPqCtes,
       |tr_ex AS (SELECT q.vec_id AS qid, e2.vec_id AS xid,
       |    unnest(q.embedding) AS a, unnest(e2.embedding) AS b
       |  FROM (SELECT * FROM embeddings WHERE vec_id < $NumQueries) q, embeddings e2
       |  WHERE e2.vec_id <> q.vec_id),
       |tr_d AS (SELECT qid, xid,
       |    SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(a AS DOUBLE)*1e13) AS BIGINT))
       |      + SUM(CAST(floor(CAST(b AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT))
       |      - 2*SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT)) AS d2
       |  FROM tr_ex GROUP BY qid, xid),
       |truth AS (SELECT qid AS query_id, xid AS vec_id FROM (
       |    SELECT qid, xid, row_number() OVER (PARTITION BY qid ORDER BY d2, xid) AS rk
       |    FROM tr_d) WHERE rk <= $IvfTopK)
       |SELECT t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($IvfTopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN adtop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id""".stripMargin

  // ---------- Matryoshka dimension-truncation recall (q268) ----------

  /** The standard prefix-dimension tiers a matryoshka (MRL) embedding
    * ships: recall at each answers "how many dims can serving afford
    * to drop". */
  private val MrlTiers = Seq(8, 16, 32)

  /** q268: MATRYOSHKA RECALL CURVE — for each prefix-dimension tier
    * (${MrlTiers.mkString("/")} of the full vector), the top-$TopK
    * recall of TRUNCATED search against full-dimension truth: the
    * measured answer to the dimension-truncation question
    * (MRL-style embeddings are served at prefix dims; an un-evaluated
    * truncation is q89/q222's unshipped-eval sin applied to dims
    * instead of bits). Same exact-integer L2 metric on both sides and
    * at every tier (the q215 same-metric lesson — a cosine-vs-L2 mix
    * would conflate metric change with truncation loss); ties to
    * vec_id. Output one row per (dims, query): the curve, row-hashed.
    *
    * Scale: this is an EVAL — the pair space is the $NumQueries-query
    * panel × corpus (the q40 broadcast shape, no corpus self-join),
    * once per tier; serving at a chosen tier costs a fraction of the
    * full-dim scan, which is the trade this curve prices. */
  def q268MatryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir)
    val qv = broadcast(e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe")))
    def topkAt(d: Option[Int]): DataFrame = {
      val (qs, vs) = d match {
        case Some(dd) => (s"slice(qe, 1, $dd)", s"slice(embedding, 1, $dd)")
        case None     => ("qe", "embedding")
      }
      val w = Window.partitionBy("query_id").orderBy(col("d2"), col("vec_id"))
      e.join(qv, col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          (expr(s"vec_dot_fixed($qs, $qs)") + expr(s"vec_dot_fixed($vs, $vs)")
            - lit(2L) * expr(s"vec_dot_fixed($qs, $vs)")).as("d2"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= TopK)
        .select("query_id", "vec_id")
    }
    val truth = topkAt(None)
    MrlTiers.map { dd =>
      truth.join(topkAt(Some(dd)).withColumn("hit", lit(1L)),
          Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit(dd.toLong).as("dims"), col("query_id"), col("n_hit"),
          (col("n_hit").cast("double") / lit(TopK.toDouble)).as("recall"))
    }.reduce(_ unionAll _)
  }

  def q268Sql: String = {
    def d2Sum: String =
      """SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(a AS DOUBLE)*1e13) AS BIGINT))
        |      + SUM(CAST(floor(CAST(b AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT))
        |      - 2*SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT))""".stripMargin
    def tier(dd: Int): String =
      s"""ex$dd AS (SELECT query_id, vec_id,
         |    unnest(qe[1:$dd]) AS a, unnest(ve[1:$dd]) AS b FROM pairs),
         |d$dd AS (SELECT query_id, vec_id, $d2Sum AS d2
         |  FROM ex$dd GROUP BY query_id, vec_id),
         |top$dd AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rk
         |    FROM d$dd) WHERE rk <= $TopK)""".stripMargin
    val sel = MrlTiers.map(dd =>
      s"""SELECT CAST($dd AS BIGINT) AS dims, t.query_id,
         |  CAST(count(x.vec_id) AS BIGINT) AS n_hit,
         |  CAST(count(x.vec_id) AS DOUBLE) / CAST($TopK AS DOUBLE) AS recall
         |FROM truth t LEFT JOIN top$dd x
         |  ON x.query_id = t.query_id AND x.vec_id = t.vec_id
         |GROUP BY t.query_id""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
       |  FROM embeddings WHERE vec_id < $NumQueries),
       |pairs AS (SELECT q.query_id, e.vec_id, q.qe, e.embedding AS ve
       |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
       |exf AS (SELECT query_id, vec_id, unnest(qe) AS a, unnest(ve) AS b FROM pairs),
       |df AS (SELECT query_id, vec_id, $d2Sum AS d2 FROM exf GROUP BY query_id, vec_id),
       |truth AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rk
       |    FROM df) WHERE rk <= $TopK),
       |${MrlTiers.map(tier).mkString(",\n")}
       |$sel""".stripMargin
  }

  // ---------- Per-source centroid drift (q229) ----------

  /** q229: per-source embedding CENTROID DRIFT — the domain-shift
    * monitor for a mixed corpus (q103's mixture weights say how MUCH
    * of each source; this says how DIFFERENT each source's embedding
    * mass is): per source, the Chebyshev distance between its
    * per-dimension mean vector and the corpus mean, plus WHICH
    * dimension carries the drift. Chebyshev (max per-dim |Δmean|)
    * instead of L2 deliberately: max is ORDER-FREE over doubles where
    * a 64-term float L2 sum is not — the same reasoning that puts
    * every mean on the exact Σfloor(x·1e7) integer base (the q41
    * centroid discipline) with the division as one fixed chain.
    * A source whose drift spikes is the retrain/re-weight signal.
    *
    * Scale: one (source, dim) map-combinable aggregate over the
    * corpus scan; the global mean is a dims-row broadcast; state =
    * sources × dims. */
  def q229SourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val ed = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("source")), "vec_id")
    val dim = ed.select(col("source"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("source"), col("pos"),
        expr("CAST(floor(CAST(x AS DOUBLE) * 1e7) AS BIGINT)").as("fx"))
    val bySrc = dim.groupBy("source", "pos")
      .agg(sum("fx").as("sx"), count(lit(1)).as("n"))
    val glob = dim.groupBy("pos").agg(sum("fx").as("gx"), count(lit(1)).as("gn"))
    bySrc.join(broadcast(glob), "pos")
      .select(col("source"), col("pos"), col("n"),
        abs(col("sx").cast("double") / col("n").cast("double") / lit(1e7)
          - col("gx").cast("double") / col("gn").cast("double") / lit(1e7)).as("ad"))
      .groupBy("source")
      .agg(max(col("n")).as("n_vecs"),
        min(struct((-col("ad")).as("nad"), col("pos").as("p"))).as("m"))
      .select(col("source"), col("n_vecs"),
        (-col("m.nad")).as("max_dim_drift"), col("m.p").cast("long").as("drift_dim"))
  }

  def q229Sql: String =
    """WITH ed AS (SELECT e.embedding, d.source FROM embeddings e
      |    JOIN documents d ON d.doc_id = e.vec_id),
      |dim AS (SELECT source, g - 1 AS pos,
      |    CAST(floor(CAST(embedding[g] AS DOUBLE) * 1e7) AS BIGINT) AS fx
      |  FROM ed, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS g) t),
      |bysrc AS (SELECT source, pos, SUM(fx) AS sx, count(*) AS n FROM dim GROUP BY 1, 2),
      |gm AS (SELECT pos, SUM(fx) AS gx, count(*) AS gn FROM dim GROUP BY 1),
      |j AS (SELECT b.source, b.pos, b.n,
      |    abs(CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE) / 1e7
      |      - CAST(g.gx AS DOUBLE) / CAST(g.gn AS DOUBLE) / 1e7) AS ad
      |  FROM bysrc b JOIN gm g USING (pos)),
      |rk AS (SELECT source, n, ad, pos,
      |    row_number() OVER (PARTITION BY source ORDER BY ad DESC, pos) AS rk
      |  FROM j)
      |SELECT source, CAST(n AS BIGINT) AS n_vecs, ad AS max_dim_drift,
      |  CAST(pos AS BIGINT) AS drift_dim
      |FROM rk WHERE rk = 1""".stripMargin

  // ---------- Graph-ANN serving (q279/q280) ----------

  /** The persisted kNN-graph artifact — q140's output, built once and
    * loaded by every consumer (the q188/q210 discipline). Keyed on
    * every knob that shapes the graph (k, probe width, the IVF index's
    * own config), so a reconfigured instance never serves a stale
    * graph. */
  private[graft] def persistedKnnGraph(spark: SparkSession, dir: String): DataFrame =
    Artifact.getOrBuild(spark, "knn_graph", dir, Seq("embeddings.parquet"),
      knnArtifactKey)(q140KnnGraph(spark, dir).write.parquet(_))

  private def knnArtifactKey: String =
    s"k=${cfg.knnK},np=${cfg.ivfNprobe},c=$NumCentroids,ki=$KmeansIters,tm=$TrainMod"

  /** The serving tier's QUANTIZER artifacts, persisted beside the graph
    * under the same content key: the trained centroid table and the
    * corpus cell assignment (the posting lists a production tier keeps
    * on disk). Entry guidance LOADS them — retraining the Lloyd chain
    * per query was the dominant cost of the guided-entry switch
    * (measured: q279 8.2 → 2.6 s at sf0.1 once both load). */
  private def persistedKnnQuantizer(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cents = Artifact.getOrBuild(spark, "knn_cents", dir, Seq("embeddings.parquet"),
      knnArtifactKey)(trainIndex(spark, dir).write.parquet(_))
    val cells = Artifact.getOrBuild(spark, "knn_cells", dir, Seq("embeddings.parquet"),
        knnArtifactKey) { p =>
      assign(emb(spark, dir).withColumn("n2", Vec.norm2N("embedding")), cents)
        .select(col("vec_id"), col("cell")).write.parquet(p)
    }
    (cents, cells)
  }

  /** q279: GRAPH-ANN SEARCH — the third serving tier beside IVF (q41)
    * and IVF-PQ (q261): NSW-style beam search over the PERSISTED q140
    * kNN graph. Entry points are IVF-GUIDED (since round 14 — the
    * q294 A/B measured the old fixed first-ids prior at mean recall
    * 0.24 vs 0.74 for guided entries at the identical budget): each
    * query's $beamEntries entries are drawn from its $ivfNprobe
    * nearest IVF cells' members ordered (cell rank, member id) — the
    * coarse quantizer the graph was built with steers the walk into
    * the query's region, the HNSW entry-layer idea served from state
    * the tier already owns. Each of $beamHops rounds then expands the
    * current $beamWidth-wide beam one graph hop, scores only the NEWLY
    * reached nodes by exact cosine against the unquantized query, and
    * re-beams; the answer is the top-$TopK of everything visited. Hop
    * count is FIXED, not convergence-tested (determinism over
    * adaptivity — the PcaIters discipline), and every ranking ties to
    * vec_id, so both engines walk the identical frontier.
    *
    * Scale: the candidate set is entries + hops·beam·k per query —
    * the NSW cost model, bounded by config, never by corpus size. Per
    * hop: one join of the (queries×beam)-row frontier against the
    * degree-bounded edge artifact, one anti-join against the visited
    * set, one embedding fetch for the fresh nodes (a point-lookup join
    * a production serving tier answers from its vector store; here a
    * broadcast of the tiny candidate list against the corpus scan) —
    * no full-space scoring anywhere. Recall loss vs exhaustive search
    * is MEASURED by q280 (the approximation-ships-with-its-eval
    * rule). */
  def q279GraphAnnSearch(spark: SparkSession, dir: String): DataFrame =
    beamSearchOver(spark, dir,
      persistedKnnGraph(spark, dir)
        .select(col("vec_id").as("src"), col("nbr_id").as("dst")),
      Some(ivfGuidedEntries(spark, dir)))

  /** The beam walk itself, over an arbitrary (src, dst) edge table —
    * q279 serves the full persisted graph; q286 serves the STALE mixed
    * state (base graph + delta out-edges); q294's B arm passes its own
    * per-query IVF-guided `entries(query_id, vec_id)` (None = the
    * default fixed first-ids entry set). The vector store is always
    * the full corpus: exact scoring of whatever the walk reaches. */
  private[graft] def beamSearchOver(spark: SparkSession, dir: String,
      edges: DataFrame, entriesPerQuery: Option[DataFrame] = None,
      k: Int = TopK, hopCuts: Boolean = true): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val qv = broadcast(e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("qe"), col("n2").as("qn2")))
    // the candidate list (bounded by queries × beam × k) BROADCASTS
    // against the corpus scan — the point-lookup shape that holds at
    // 100 TB; without the hint, local-mode stats broadcast the CORPUS
    // instead (right answer at sf0.001, wrong shape at scale)
    def score(cand: DataFrame): DataFrame =
      broadcast(cand.join(qv, "query_id"))
        .join(e, "vec_id")
        .select(col("query_id"), col("vec_id"),
          Vec.cosineFromParts(Vec.dotN("qe", "embedding"),
            col("qn2"), col("n2")).as("cosine"))
    val wB = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    def beamOf(vis: DataFrame): DataFrame =
      vis.withColumn("brk", row_number().over(wB))
        .filter(col("brk") <= cfg.beamWidth).select("query_id", "vec_id")
    val ent0 = entriesPerQuery.getOrElse {
      val entries = e.filter(col("vec_id") >= NumQueries
          && col("vec_id") < NumQueries + cfg.beamEntries)
        .select("vec_id")
      qv.select("query_id").crossJoin(broadcast(entries))
    }
    // Per-hop lineage cut (lazy localCheckpoint, compute-once): hop h
    // references `visited` THREE times (the re-beam window, the
    // broadcast anti-join, the union), so an uncut loop re-derives the
    // whole prior walk — entry scoring included — once per reference
    // per hop (~3^hops plan copies; guide §5's cache-the-reused-subtree
    // rule). The cut makes each hop's scoring job run exactly once;
    // the walk's state is entries + hops·beam·k rows per query, so the
    // checkpointed blocks are tiny. Values are unchanged — the cut is
    // at union boundaries, and the final ranking reads the same rows.
    // Measured at sf0.1 (isolated warm): q279 6.2→2.7, q317 13.2→4.8,
    // q291 8.9→2.2, q294 9.3→5.0; executed plan 10,388 lines / 742
    // Exchanges → 238 / 4 (plans/r17). hopCuts=false is the spec's
    // plan-pinning view: the SAME operator composition left uncut so
    // PlanSpec can grep the hop-join shapes the checkpoints hide.
    def cut(df: DataFrame): DataFrame =
      if (hopCuts) graft.Ck.lazyStage(df, cfg) else df
    var visited = cut(score(ent0))
    for (_ <- 1 to cfg.beamHops) {
      val frontier = beamOf(visited).withColumnRenamed("vec_id", "src")
        .join(edges, "src")
        .filter(col("dst") =!= col("query_id"))
        .select(col("query_id"), col("dst").as("vec_id"))
        .distinct()
        // the visited list is the walk's steering state — bounded by
        // entries + hops·beam·k per query, so it broadcasts; a plain
        // anti-join plans as SMJ statically (derived sides, no stats)
        .join(broadcast(visited.select("query_id", "vec_id")),
          Seq("query_id", "vec_id"), "left_anti")
      visited = cut(visited.unionByName(score(frontier)))
    }
    visited.withColumn("rk", row_number().over(wB))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "rk", "cosine")
  }

  /** Oracle CTE chain rebuilding the q140 graph from scratch (so the
    * persisted artifact is re-proven ≡ rebuild every round), ending at
    * `knn(src, dst)`. Names are g-prefixed to stay disjoint from the
    * trainedAssignCtes names they compose with. */
  private def knnGraphCtes: String =
    s"""$trainedAssignCtes,
       |gprobe AS (SELECT ia AS vec_id, ib AS cell FROM (
       |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
       |    FROM af_dots) WHERE rk <= ${cfg.ivfNprobe}),
       |gqv AS (SELECT p.vec_id, e.embedding AS qe, p.cell
       |  FROM gprobe p JOIN e ON e.vec_id = p.vec_id),
       |gpairs AS (SELECT gqv.vec_id, av.vec_id AS nbr_id, gqv.qe, av.embedding AS ve
       |  FROM gqv JOIN av USING (cell) WHERE av.vec_id <> gqv.vec_id),
       |gx AS (SELECT vec_id AS ia, nbr_id AS ib, unnest(qe) AS a, unnest(ve) AS b FROM gpairs),
       |gd AS (SELECT ia, ib,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM gx GROUP BY ia, ib),
       |gc AS (SELECT ia, ib,
       |    CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS cosine
       |  FROM gd),
       |knn AS (SELECT ia AS src, ib AS dst FROM (
       |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY cosine DESC, ib) AS rk
       |    FROM gc) WHERE rk <= ${cfg.knnK})""".stripMargin

  /** One beam-search scoring block: exact cosine of every candidate in
    * `cand`(query_id, vec_id) against its query, same fixed-point
    * arithmetic as the Spark side. */
  private def beamScoreCtes(cand: String, out: String, vecTbl: String = "e",
      bqTbl: String = "bq"): String =
    s"""${out}_ex AS (SELECT c.query_id, c.vec_id,
       |    unnest(q.qe) AS a, unnest(v.embedding) AS b
       |  FROM $cand c JOIN $bqTbl q USING (query_id) JOIN $vecTbl v ON v.vec_id = c.vec_id),
       |${out}_d AS (SELECT query_id, vec_id,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM ${out}_ex GROUP BY query_id, vec_id),
       |$out AS (SELECT query_id, vec_id,
       |    CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS cosine
       |  FROM ${out}_d)""".stripMargin

  /** The fixed first-ids entry CTE — the pre-round-14 prior, kept as
    * q294's ablation arm. */
  private def fixedEntSql(vecTbl: String, name: String = "ent"): String =
    s"""$name AS (SELECT q.query_id, n.vec_id FROM bq q,
       |  (SELECT vec_id FROM $vecTbl WHERE vec_id >= $NumQueries
       |     AND vec_id < ${NumQueries + cfg.beamEntries}) n)""".stripMargin

  /** The IVF-guided entry CTE over the FULL trained index — requires
    * trainedAssignCtes (af_dots, av) in scope; each query's entries
    * are its nprobe nearest cells' members ordered (cell rank,
    * member id), capped at beamEntries, never the query itself. */
  private def guidedFullEntSql(name: String = "ent",
      nprobe: Int = cfg.ivfNprobe): String =
    s"""$name AS (SELECT query_id, vec_id FROM (
       |    SELECT qp.ia AS query_id, av.vec_id,
       |      row_number() OVER (PARTITION BY qp.ia ORDER BY qp.crk, av.vec_id) AS erk
       |    FROM (SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
       |        CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS crk
       |      FROM af_dots WHERE ia < $NumQueries) qp
       |    JOIN av ON av.cell = qp.ib AND av.vec_id <> qp.ia
       |    WHERE qp.crk <= $nprobe)
       |  WHERE erk <= ${cfg.beamEntries})""".stripMargin

  /** The two-layer ladder entry chain ([[ladderEntries]]'s oracle) —
    * requires c$KmeansIters, af_dots, av, bq in scope. Claims
    * l{coarse,cc_x,cc_d,br,qg,cand,rank} and `$name`. */
  private def ladderEntSql(name: String): String =
    s"""lcoarse AS (SELECT cent_id, ce FROM c$KmeansIters
       |  WHERE cent_id % ${LadderCoarseMod} = 0),
       |lcc_x AS (SELECT c.cent_id, g.cent_id AS gid, unnest(c.ce) AS a, unnest(g.ce) AS b
       |  FROM c$KmeansIters c, lcoarse g),
       |lcc_d AS (SELECT cent_id, gid,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM lcc_x GROUP BY cent_id, gid),
       |lbr AS (SELECT cent_id, gid FROM (
       |    SELECT cent_id, gid, row_number() OVER (PARTITION BY cent_id ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, gid) AS rk
       |    FROM lcc_d) WHERE rk = 1),
       |lqg AS (SELECT ia AS query_id, ib AS gid FROM (
       |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
       |    FROM af_dots WHERE ia < $NumQueries AND ib % ${LadderCoarseMod} = 0)
       |  WHERE rk <= ${LadderCoarseProbe}),
       |lcand AS (SELECT DISTINCT q.query_id, b.cent_id
       |  FROM lqg q JOIN lbr b ON b.gid = q.gid),
       |lrank AS (SELECT query_id, cent_id, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, cent_id) AS crk FROM (
       |    SELECT c.query_id, c.cent_id,
       |      CAST(d.dot AS DOUBLE)/(sqrt(CAST(d.na AS DOUBLE))*sqrt(CAST(d.nb AS DOUBLE))) AS cos
       |    FROM lcand c JOIN af_dots d ON d.ia = c.query_id AND d.ib = c.cent_id)),
       |$name AS (SELECT query_id, vec_id FROM (
       |    SELECT l.query_id, av.vec_id,
       |      row_number() OVER (PARTITION BY l.query_id ORDER BY l.crk, av.vec_id) AS erk
       |    FROM lrank l JOIN av ON av.cell = l.cent_id AND av.vec_id <> l.query_id
       |    WHERE l.crk <= ${cfg.ivfNprobe})
       |  WHERE erk <= ${cfg.beamEntries})""".stripMargin

  /** The IVF-guided entry chain over the BASE-TRAINED split state —
    * requires knnDeltaCtes (c$KmeansIters, ab, ad) and `ea` in scope;
    * query probe dots come from a panel assignment pass against the
    * base-trained centroids, members from the base ∪ delta
    * assignments. Claims eq, the qa chain, am, and `ent`. */
  private def guidedSplitEntSql: String =
    s"""eq AS (SELECT vec_id, embedding FROM ea WHERE vec_id < $NumQueries),
       |${duckAssign(s"c$KmeansIters", "qa", src = "eq")},
       |am AS (SELECT vec_id, cell FROM ab UNION ALL SELECT vec_id, cell FROM ad),
       |ent AS (SELECT query_id, vec_id FROM (
       |    SELECT qp.ia AS query_id, am.vec_id,
       |      row_number() OVER (PARTITION BY qp.ia ORDER BY qp.crk, am.vec_id) AS erk
       |    FROM (SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
       |        CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS crk
       |      FROM qa_dots) qp
       |    JOIN am ON am.cell = qp.ib AND am.vec_id <> qp.ia
       |    WHERE qp.crk <= ${cfg.ivfNprobe})
       |  WHERE erk <= ${cfg.beamEntries})""".stripMargin

  /** The hop chain over a named edge table and vector store (one
    * beam/frontier/score block per hop), ending at `vis${beamHops}` —
    * the visited set with scores. Parameterized so q279 (full graph,
    * corpus `e`, guided entries) and q286/q291 (mixed/recompacted
    * edges, corpus `ea`, split-state guided entries) share it; None
    * entries = the fixed first-ids prior (q294's ablation arm). */
  private def beamHopCtes(knnTbl: String, vecTbl: String,
      entSql: Option[String] = None): String = {
    val hops = (1 to cfg.beamHops).map { h =>
      s"""bm${h - 1} AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id) AS rk
         |    FROM vis${h - 1}) WHERE rk <= ${cfg.beamWidth}),
         |cf$h AS (SELECT b.query_id, k.dst AS vec_id
         |    FROM bm${h - 1} b JOIN $knnTbl k ON k.src = b.vec_id
         |    WHERE k.dst <> b.query_id
         |  EXCEPT SELECT query_id, vec_id FROM vis${h - 1}),
         |${beamScoreCtes(s"cf$h", s"sc$h", vecTbl)},
         |vis$h AS (SELECT * FROM vis${h - 1} UNION ALL SELECT * FROM sc$h)""".stripMargin
    }.mkString(",\n")
    s"""bq AS (SELECT vec_id AS query_id, embedding AS qe FROM $vecTbl
       |  WHERE vec_id < $NumQueries),
       |${entSql.getOrElse(fixedEntSql(vecTbl))},
       |${beamScoreCtes("ent", "vis0", vecTbl)},
       |$hops""".stripMargin
  }

  /** A SECOND hop chain under a name prefix, reusing an existing `bq`
    * and a caller-supplied entry CTE (named `${pfx}ent`) — q294 runs
    * two walks over the same graph in one oracle query, and the
    * default-named chain's CTEs must stay untouched. Claims
    * ${pfx}{ent,vis*,bm*,cf*,sc*}. */
  private def beamHopCtesNamed(knnTbl: String, vecTbl: String, pfx: String,
      entCte: String): String = {
    val hops = (1 to cfg.beamHops).map { h =>
      s"""${pfx}bm${h - 1} AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id) AS rk
         |    FROM ${pfx}vis${h - 1}) WHERE rk <= ${cfg.beamWidth}),
         |${pfx}cf$h AS (SELECT b.query_id, k.dst AS vec_id
         |    FROM ${pfx}bm${h - 1} b JOIN $knnTbl k ON k.src = b.vec_id
         |    WHERE k.dst <> b.query_id
         |  EXCEPT SELECT query_id, vec_id FROM ${pfx}vis${h - 1}),
         |${beamScoreCtes(s"${pfx}cf$h", s"${pfx}sc$h", vecTbl)},
         |${pfx}vis$h AS (SELECT * FROM ${pfx}vis${h - 1} UNION ALL SELECT * FROM ${pfx}sc$h)""".stripMargin
    }.mkString(",\n")
    s"""$entCte,
       |${beamScoreCtes(s"${pfx}ent", s"${pfx}vis0", vecTbl)},
       |$hops""".stripMargin
  }

  /** The full-graph beam walk: rebuild-from-scratch graph CTEs + the
    * hop chain with the serving default's IVF-guided entries. */
  private def beamWalkCtes: String =
    s"""$knnGraphCtes,
       |${beamHopCtes("knn", "e", Some(guidedFullEntSql()))}""".stripMargin

  def q279Sql: String =
    s"""$beamWalkCtes
       |SELECT query_id, vec_id, rk, cosine FROM (
       |  SELECT query_id, vec_id, cosine, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, vec_id) AS rk
       |  FROM vis${cfg.beamHops}) WHERE rk <= $TopK""".stripMargin

  /** q280: GRAPH-ANN RECALL — q279's measured answer against q40's
    * exhaustive cosine truth at the same k (the q262 discipline): per
    * query, |beam top-$TopK ∩ exact top-$TopK| / $TopK. This number
    * carries the walk's whole loss — entry points that start in the
    * wrong region, beams that prune the true branch, hop budgets that
    * stop short — which is the only recall a caller of q279 feels.
    * The eval join is queries × k rows; its cost is the two searches
    * it audits. */
  def q280GraphAnnRecall(spark: SparkSession, dir: String): DataFrame =
    recallVsBrute(spark, dir, q279GraphAnnSearch(spark, dir))

  /** q40's exhaustive cosine truth as a content-keyed persisted
    * artifact (queries×k rows — tiny, full q40 output incl. rank and
    * cosine, which parquet round-trips bit-exactly): eight evals share
    * it (q123/q246/q280/q286/q291/q294×2/q298), and before this each
    * re-paid the full corpus scan q40 does. Same lifecycle as every
    * other derived artifact: keyed on the corpus fingerprint + the
    * panel knobs, so a corpus regeneration or a knob change reroutes
    * instead of serving stale truth. At 100 TB the truth table is
    * exactly what an eval pipeline snapshots once per corpus
    * version. */
  private[graft] def persistedBruteTruth(spark: SparkSession, dir: String): DataFrame =
    Artifact.getOrBuild(spark, "ann_truth", dir, Seq("embeddings.parquet"),
      s"nq=$NumQueries,k=$TopK")(q40AnnBrute(spark, dir).write.parquet(_))

  /** The exact full-space fixed-point-L2 truth as a content-keyed
    * persisted artifact — [[persistedBruteTruth]]'s lifecycle applied
    * to the L2 metric (the PQ tier's truth: an L2 code is audited
    * against an L2 truth, the q215 same-metric lesson). Persisted once
    * at k = max($TopK, $IvfTopK) with the rank kept, so every consumer
    * (q223 at $TopK, q262/q272 at $IvfTopK) filters the SAME table —
    * before this each eval re-paid the corpus × query-panel scan
    * inline per call. d2/rk are exact integers: parquet round-trips
    * them bit-identically, artifact ≡ recompute (the oracle recomputes
    * through its CTE chain every round, re-proving it). */
  private[graft] def persistedL2Truth(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val kMax = math.max(TopK, IvfTopK)
    Artifact.getOrBuild(spark, "l2_truth", dir, Seq("embeddings.parquet"),
        s"nq=$NumQueries,k=$kMax") { p =>
      val e = emb(spark, dir)
        .withColumn("n2", expr("vec_dot_fixed(embedding, embedding)"))
      val qv = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("n2").as("qn2"))
      val wq = Window.partitionBy("query_id").orderBy(col("d2"), col("vec_id"))
      e.join(broadcast(qv), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          (col("qn2") + col("n2")
            - lit(2L) * expr("vec_dot_fixed(qe, embedding)")).as("d2"))
        .withColumn("rk", row_number().over(wq)).filter(col("rk") <= kMax)
        .write.parquet(p)
    }
  }

  /** Per-query |approx ∩ exact-top-k| / k against q40's exhaustive
    * cosine truth — the shared eval tail of q280 and q286. */
  private[graft] def recallVsBrute(spark: SparkSession, dir: String,
      approxDf: DataFrame): DataFrame = {
    val truth = persistedBruteTruth(spark, dir).select("query_id", "vec_id")
    val approx = approxDf
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        (col("n_hit").cast("double") / lit(TopK.toDouble)).as("recall"))
  }

  def q280Sql: String =
    s"""$beamWalkCtes,
       |beamtop AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS rk
       |    FROM vis${cfg.beamHops}) WHERE rk <= $TopK),
       |tr_ex AS (SELECT q.query_id, v.vec_id,
       |    unnest(q.qe) AS a, unnest(v.embedding) AS b
       |  FROM bq q, e v WHERE v.vec_id <> q.query_id),
       |tr_d AS (SELECT query_id, vec_id,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM tr_ex GROUP BY query_id, vec_id),
       |truth AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, vec_id) AS rk
       |    FROM tr_d) WHERE rk <= $TopK)
       |SELECT t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($TopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN beamtop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id""".stripMargin

  // ---------- Incremental kNN-graph maintenance (q285) ----------

  /** q285: INCREMENTAL kNN-GRAPH maintenance — q188's nightly-ingest
    * story applied to the GRAPH serving tier (q279's artifact), closing
    * the tier's incremental asymmetry: the base-split kNN graph AND the
    * base probe lists persist as content-keyed nightly artifacts; an
    * arriving delta split is absorbed WITHOUT re-propagating the base:
    * (1) each delta vector gets its OUT-edges by the q140 rule against
    * the base members of its probed cells (delta-sized work), and
    * (2) the base side is NOT rewritten — instead the query computes
    * the GRAPH-DEBT eval that decides recompaction (the q188
    * drift-row discipline): a base node u is STALE when some delta
    * vector lands in a cell u probes and would enter u's stored top-k
    * (beats the k-th entry under the (cosine desc, id asc) order, or
    * u's list still has room). Output is the one-row decision table:
    * base/delta sizes, delta out-edges added, base nodes TOUCHED by
    * any (probe-cell, delta) candidacy, base nodes STALE, and the
    * stale fraction — when stale_frac crosses the operator's budget,
    * the nightly job pays the q140 rebuild; until then serving runs on
    * base graph + delta out-edges.
    *
    * Scale: the delta pass costs |delta| probe-ranks + Σ|probed cell ∩
    * base| scoring (the q140 per-vector bound) and the reverse-candidate
    * join is probes⋈delta on the cell key — work ∝ the night's batch ×
    * cell occupancy, never the base corpus; the stored k-th entries are
    * an artifact-sized window. The deliberate trade — in-edges of base
    * nodes go stale until recompaction, but the DEBT IS MEASURED — is
    * the same one q188 ships for cell occupancy. */
  /** The incremental graph state q285 measures, q286 serves, and q290
    * recompacts: the base graph and base probe artifacts are persisted
    * content-keyed; everything delta-side (out-edges, assignment,
    * probes) is computed fresh per night; the base assignment rides
    * along for consumers that need the full member table. */
  private[graft] case class KnnDeltaState(
      g: DataFrame, pr: DataFrame, dEdges: DataFrame, dAssigned: DataFrame,
      base: DataFrame, delta: DataFrame, bAssigned: DataFrame, dProbes: DataFrame,
      cents: DataFrame)

  /** The BASE-SPLIT-trained centroid table as a content-keyed nightly
    * artifact (centroid-count rows) — shared by the whole incremental
    * tier (q285/q286/q290/q291 via [[knnDeltaParts]]) and the
    * streaming drift monitor (q325): the state has many consumers
    * (base/delta assignment, probes, entry guidance, q290's member
    * union) and an unpersisted centroid table re-runs the full Lloyd
    * chain per consumer — measured 19.6 → 13.6 s on q291 at sf0.1
    * from a lineage cut alone, further once loaded. `base` must be
    * the cfg.splitTrainUpper md5-band split the key encodes. */
  private[graft] def persistedBaseCents(spark: SparkSession, dir: String,
      base: DataFrame): DataFrame =
    Artifact.getOrBuild(spark, "knnd_cents", dir, Seq("embeddings.parquet"),
      s"c=$NumCentroids,ki=$KmeansIters,tm=$TrainMod,u=${cfg.splitTrainUpper}")(
      trainIndexOn(base).write.parquet(_))

  private[graft] def knnDeltaParts(spark: SparkSession, dir: String): KnnDeltaState = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val all = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
      .withColumn("bk", substring(md5(col("vec_id").cast("string")), 1, 2))
    val base = all.filter(col("bk") < cfg.splitTrainUpper).drop("bk")
    val delta = all.filter(col("bk") >= cfg.splitTrainUpper).drop("bk")
    val cents = persistedBaseCents(spark, dir, base)
    val bAssigned = assign(base, cents)
    val ckey = s"k=${cfg.knnK},np=${cfg.ivfNprobe},c=$NumCentroids," +
      s"ki=$KmeansIters,tm=$TrainMod,u=${cfg.splitTrainUpper}"
    val wK = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("nbr_id"))
    def knnOver(probes: DataFrame, q: DataFrame): DataFrame = probes
      .join(q.select(col("vec_id"), col("embedding").as("qe"), col("n2").as("qn2")), "vec_id")
      .join(bAssigned.select(col("cell"), col("vec_id").as("nbr_id"),
        col("embedding").as("ve"), col("n2").as("vn2")), "cell")
      .filter(col("nbr_id") =!= col("vec_id"))
      .select(col("vec_id"), col("nbr_id"),
        Vec.cosineFromParts(Vec.dotN("qe", "ve"), col("qn2"), col("vn2")).as("cosine"))
      .withColumn("rk", row_number().over(wK))
      .filter(col("rk") <= cfg.knnK)
    val pr = Artifact.getOrBuild(spark, "knnd_probes", dir, Seq("embeddings.parquet"),
      ckey)(probeCells(base, cents, cfg.ivfNprobe).write.parquet(_))
    val g = Artifact.getOrBuild(spark, "knnd_graph", dir, Seq("embeddings.parquet"),
      ckey)(knnOver(pr, base).write.parquet(_))
    // nightly delta pass — delta-proportional
    val dAssigned = assign(delta, cents).select(col("vec_id"), col("cell"))
    val dProbes = probeCells(delta, cents, cfg.ivfNprobe)
    val dEdges = knnOver(dProbes, delta)
    KnnDeltaState(g, pr, dEdges, dAssigned, base, delta,
      bAssigned.select(col("vec_id"), col("cell"), col("embedding"), col("n2")),
      dProbes, cents)
  }

  def q285KnnDelta(spark: SparkSession, dir: String): DataFrame = {
    val st = knnDeltaParts(spark, dir)
    val (g, pr, dEdges, dAssigned, base, delta) =
      (st.g, st.pr, st.dEdges, st.dAssigned, st.base, st.delta)
    val wLast = Window.partitionBy("vec_id").orderBy(col("rk").desc)
    val kth = g.withColumn("lrk", row_number().over(wLast)).filter(col("lrk") === 1)
      .select(col("vec_id").as("u"), col("rk").as("deg"),
        col("cosine").as("kth_cos"), col("nbr_id").as("kth_nbr"))
    val scored = pr.select(col("vec_id").as("u"), col("cell"))
      .join(dAssigned.select(col("cell"), col("vec_id").as("v")), "cell")
      .join(base.select(col("vec_id").as("u"), col("embedding").as("ue"),
        col("n2").as("un2")), "u")
      .join(delta.select(col("vec_id").as("v"), col("embedding").as("ve"),
        col("n2").as("vn2")), "v")
      .select(col("u"), col("v"),
        Vec.cosineFromParts(Vec.dotN("ue", "ve"), col("un2"), col("vn2")).as("cos"))
      .join(kth, Seq("u"), "left")
    val stale = scored.filter(
      coalesce(col("deg"), lit(0)) < cfg.knnK ||
        col("cos") > col("kth_cos") ||
        (col("cos") === col("kth_cos") && col("v") < col("kth_nbr")))
    base.agg(count(lit(1)).as("n_base"))
      .crossJoin(delta.agg(count(lit(1)).as("n_delta")))
      .crossJoin(dEdges.agg(count(lit(1)).as("delta_edges")))
      .crossJoin(scored.agg(countDistinct(col("u")).as("touched_base")))
      .crossJoin(stale.agg(countDistinct(col("u")).as("stale_base")))
      .select(col("n_base"), col("n_delta"), col("delta_edges"),
        col("touched_base"), col("stale_base"),
        (col("stale_base").cast("double") / col("n_base").cast("double"))
          .as("stale_frac"))
  }

  /** Full replay in SQL: base-trained index, base probes/graph, delta
    * assignment, the delta out-edge build, and the stale test — every
    * cosine the same fixed-point chain, every rank the same
    * (cosine desc, id asc) order. */
  /** Shared q285/q286 oracle preamble: base/delta split, base-trained
    * index, base probes `bp` / delta probes `dp`, base graph `bg`,
    * delta out-edges `dg` (starts with WITH; composes by appending). */
  private def knnDeltaCtes: String = {
    val training = (1 to KmeansIters).map { i =>
      s"""${duckAssign(s"c${i - 1}", s"a$i", onlySample = true)},
         |${duckUpdate(s"a$i", s"c$i")}""".stripMargin
    }.mkString(",\n")
    def probesOf(dots: String, out: String): String =
      s"""$out AS (SELECT ia AS vec_id, ib AS cell FROM (
         |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
         |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
         |    FROM $dots) WHERE rk <= ${cfg.ivfNprobe})""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '${cfg.splitTrainUpper}'),
       |ed AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) >= '${cfg.splitTrainUpper}'),
       |c0 AS (SELECT vec_id AS cent_id, embedding AS ce FROM e WHERE vec_id < $NumCentroids),
       |$training,
       |${duckAssign(s"c$KmeansIters", "ab")},
       |${duckAssign(s"c$KmeansIters", "ad", src = "ed")},
       |${probesOf("ab_dots", "bp")},
       |${probesOf("ad_dots", "dp")},
       |${duckKnnOf("bp", "e", "bg")},
       |${duckKnnOf("dp", "ed", "dg")}""".stripMargin
  }

  /** One q140-rule kNN build in DuckDB over named probe/member/vector
    * tables, ending at `$out(vec_id, nbr_id, rk, cosine)` — shared by
    * the incremental-family oracles (bg/dg over the split tables) and
    * the q290 rebuild (union probes over the union member table). */
  private def duckKnnOf(probes: String, qsrc: String, out: String,
      members: String = "ab", vecs: String = "e"): String =
    s"""${out}_p AS (SELECT p.vec_id, q.embedding AS qe, $members.vec_id AS nbr_id, be.embedding AS ve
       |  FROM $probes p
       |  JOIN $qsrc q ON q.vec_id = p.vec_id
       |  JOIN $members ON $members.cell = p.cell AND $members.vec_id <> p.vec_id
       |  JOIN $vecs be ON be.vec_id = $members.vec_id),
       |${out}_x AS (SELECT vec_id AS ia, nbr_id AS ib,
       |    unnest(qe) AS a, unnest(ve) AS b FROM ${out}_p),
       |${out}_d AS (SELECT ia, ib,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM ${out}_x GROUP BY ia, ib),
       |$out AS (SELECT ia AS vec_id, ib AS nbr_id, rk, cosine FROM (
       |    SELECT ia, ib,
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS cosine,
       |      row_number() OVER (PARTITION BY ia ORDER BY
       |        CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
       |    FROM ${out}_d) WHERE rk <= ${cfg.knnK})""".stripMargin

  def q285Sql: String =
    s"""$knnDeltaCtes,
       |kth AS (SELECT vec_id AS u, rk AS deg, cosine AS kth_cos, nbr_id AS kth_nbr FROM (
       |    SELECT vec_id, rk, cosine, nbr_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY rk DESC) AS lrk
       |    FROM bg) WHERE lrk = 1),
       |cnd AS (SELECT bp.vec_id AS u, ad.vec_id AS v
       |  FROM bp JOIN ad ON ad.cell = bp.cell),
       |sx AS (SELECT c.u, c.v, unnest(ue.embedding) AS a, unnest(ve.embedding) AS b
       |  FROM cnd c JOIN e ue ON ue.vec_id = c.u JOIN ed ve ON ve.vec_id = c.v),
       |sd AS (SELECT u, v,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM sx GROUP BY u, v),
       |sc AS (SELECT sd.u, sd.v,
       |    CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS cos,
       |    kth.deg, kth.kth_cos, kth.kth_nbr
       |  FROM sd LEFT JOIN kth ON kth.u = sd.u),
       |st AS (SELECT u FROM sc
       |  WHERE coalesce(deg, 0) < ${cfg.knnK} OR cos > kth_cos
       |    OR (cos = kth_cos AND v < kth_nbr)),
       |agg AS (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_base,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ed) AS n_delta,
       |  (SELECT CAST(count(*) AS BIGINT) FROM dg) AS delta_edges,
       |  (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM sc) AS touched_base,
       |  (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM st) AS stale_base)
       |SELECT n_base, n_delta, delta_edges, touched_base, stale_base,
       |  CAST(stale_base AS DOUBLE) / CAST(n_base AS DOUBLE) AS stale_frac
       |FROM agg""".stripMargin

  /** q286: STALE-STATE SERVING RECALL — the measured answer to "what
    * does q285's graph debt COST a caller" (the approximation-ships-
    * with-its-eval rule applied to the INCREMENTAL STATE itself, not
    * just the index): the q279 beam walk runs over the MIXED edge set
    * q285 leaves behind — the persisted base graph plus the delta
    * out-edges, with NO base→delta in-edges (exactly the staleness
    * q285 counts) — and recall is scored against q40's exhaustive
    * truth over the FULL corpus. Entries are the split state's own
    * guided set ([[splitGuidedEntries]] — base-trained quantizer over
    * base ∪ delta assignments, so fresh delta content IS reachable as
    * an entry; what remains missing is the base→delta in-edge graph
    * structure, which is precisely the debt). Queries whose true
    * neighbors arrived in the delta can reach them only as entries,
    * never through the graph — this row turns that loss into a number
    * a caller compares directly with q280 (the fresh-graph recall at
    * the same beam budget) and q291 (after recompaction pays the
    * debt): the gap IS the serving cost of deferred recompaction,
    * measured per query.
    *
    * Scale: one beam walk (q279's bounded cost model) + the queries×k
    * eval join; the mixed edge table is the base artifact unioned with
    * the delta-sized out-edge batch — no rebuild anywhere. */
  def q286StaleServeRecall(spark: SparkSession, dir: String): DataFrame = {
    val st = knnDeltaParts(spark, dir)
    val (g, dEdges) = (st.g, st.dEdges)
    // lineage-cut the mixed edge table ONCE: the beam loop consumes it
    // every hop, and an uncut union would re-derive the whole delta
    // out-edge pipeline (train + assign + probe) per hop — measured
    // 11.0 s → 4.6 s at sf0.1
    val mixed = graft.Ck.lazyStage(
      g.select(col("vec_id").as("src"), col("nbr_id").as("dst"))
        .unionByName(dEdges.select(col("vec_id").as("src"), col("nbr_id").as("dst"))),
      cfg)
    recallVsBrute(spark, dir,
      beamSearchOver(spark, dir, mixed, Some(splitGuidedEntries(spark, dir, st))))
  }

  def q286Sql: String =
    s"""$knnDeltaCtes,
       |ea AS (SELECT vec_id, embedding FROM embeddings),
       |knnm AS (SELECT vec_id AS src, nbr_id AS dst FROM bg
       |  UNION ALL SELECT vec_id, nbr_id FROM dg),
       |${beamHopCtes("knnm", "ea", Some(guidedSplitEntSql))},
       |beamtop AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS rk
       |    FROM vis${cfg.beamHops}) WHERE rk <= $TopK),
       |tr_ex AS (SELECT q.query_id, v.vec_id,
       |    unnest(q.qe) AS a, unnest(v.embedding) AS b
       |  FROM bq q, ea v WHERE v.vec_id <> q.query_id),
       |tr_d AS (SELECT query_id, vec_id,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM tr_ex GROUP BY query_id, vec_id),
       |truth AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, vec_id) AS rk
       |    FROM tr_d) WHERE rk <= $TopK)
       |SELECT t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($TopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN beamtop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id""".stripMargin

  // ---------- Graph recompaction (q290/q291) ----------

  /** q290: kNN-GRAPH RECOMPACTION — the operator that PAYS the debt
    * q285 measures and q286 prices: refresh exactly the STALE base
    * rows by TOP-K-OF-UNION, give the delta split its full
    * union-aware out-edges, and leave every untouched base row
    * byte-identical to the stored artifact. Soundness is the q263
    * argument: a base node's stored list is the exact top-k of its
    * probed cells' BASE members, so the top-k over base ∪ delta
    * members is exactly the top-k of (stored list ∪ the node's delta
    * candidates) — any base candidate outside the stored list is
    * dominated by k stored entries that are all still in the pool.
    * Nodes that are touched but not stale need no refresh (their
    * delta candidates all rank below the stored k-th entry), so the
    * rewrite set is the MINIMAL one — exactly q285's stale_base rows
    * plus the delta-sized new split.
    *
    * Output is the full post-recompaction graph under the q140
    * contract (vec_id, nbr_id, rk, cosine) over base ∪ delta with the
    * BASE-trained index — the artifact the nightly job would persist
    * in place of (base graph + delta out-edges), after which q286's
    * measured recall gap closes (q291 re-prices serving on it).
    *
    * Scale: the stale set is blast-radius-bounded (⊆ q285's
    * touched_base — it broadcasts), the union re-rank touches
    * stale·(k + delta-candidates) rows, the delta side is the q285
    * nightly pass against the union member table, and the untouched
    * rows move as a pure anti-join passthrough of the stored
    * artifact — nothing re-propagates the base corpus. */
  def q290KnnRecompact(spark: SparkSession, dir: String): DataFrame =
    persistedRecompactedGraph(spark, dir, knnDeltaParts(spark, dir))

  /** The recompacted graph AS the persisted nightly artifact — the
    * knn_cents/truth-artifact lifecycle applied a third time (the
    * round-14 verdict's one efficiency finding): q290 IS the nightly
    * job that pays the debt, so its output persists (the key carries
    * every index knob plus the split boundary), and q291 re-prices
    * serving by READING it instead of
    * re-deriving knnDeltaParts + the recompaction merge inline on
    * every call — previously the suite's slowest query (12.7 s quiet /
    * 24 s hot at sf0.1) for work q290 had already done. */
  private[graft] def persistedRecompactedGraph(spark: SparkSession, dir: String,
      st: => KnnDeltaState): DataFrame =
    Artifact.getOrBuild(spark, "knnd_recompact", dir, Seq("embeddings.parquet"),
      s"k=${cfg.knnK},np=${cfg.ivfNprobe},c=$NumCentroids," +
        s"ki=$KmeansIters,tm=$TrainMod,u=${cfg.splitTrainUpper}")(
      recompactFrom(st).write.parquet(_))

  /** The recompaction body over an already-derived incremental state —
    * the build side of [[persistedRecompactedGraph]] (evaluated only
    * when the artifact is absent). */
  private def recompactFrom(st: KnnDeltaState): DataFrame = {
    val wLast = Window.partitionBy("vec_id").orderBy(col("rk").desc)
    val kth = st.g.withColumn("lrk", row_number().over(wLast)).filter(col("lrk") === 1)
      .select(col("vec_id").as("u"), col("rk").as("deg"),
        col("cosine").as("kth_cos"), col("nbr_id").as("kth_nbr"))
    // every (base node, delta vector) candidacy through a shared probed
    // cell, scored exactly — q285's reverse-candidate table
    val scored = st.pr.select(col("vec_id").as("u"), col("cell"))
      .join(st.dAssigned.select(col("cell"), col("vec_id").as("v")), "cell")
      .join(st.base.select(col("vec_id").as("u"), col("embedding").as("ue"),
        col("n2").as("un2")), "u")
      .join(st.delta.select(col("vec_id").as("v"), col("embedding").as("ve"),
        col("n2").as("vn2")), "v")
      .select(col("u"), col("v"),
        Vec.cosineFromParts(Vec.dotN("ue", "ve"), col("un2"), col("vn2")).as("cos"))
    val staleU = scored.join(kth, Seq("u"), "left")
      .filter(coalesce(col("deg"), lit(0)) < cfg.knnK ||
        col("cos") > col("kth_cos") ||
        (col("cos") === col("kth_cos") && col("v") < col("kth_nbr")))
      .select("u").distinct()
    val wK = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("nbr_id"))
    // stale rows: re-rank stored list ∪ delta candidates (exact by the
    // top-k-of-union argument); the stale list is blast-radius-sized —
    // broadcast so the passthrough anti-join and the two restrictions
    // stay map-side at scale
    val refreshed = st.g.join(broadcast(staleU.withColumnRenamed("u", "vec_id")), Seq("vec_id"))
      .select(col("vec_id"), col("nbr_id"), col("cosine"))
      .unionByName(scored.join(broadcast(staleU), Seq("u"))
        .select(col("u").as("vec_id"), col("v").as("nbr_id"), col("cos").as("cosine")))
      .withColumn("rk", row_number().over(wK))
      .filter(col("rk") <= cfg.knnK)
    val kept = st.g.join(broadcast(staleU.withColumnRenamed("u", "vec_id")),
      Seq("vec_id"), "left_anti")
    // delta rows: the q140 rule against the UNION member table (base ∪
    // delta members of each probed cell) — q285's dEdges saw base
    // members only; recompaction closes that gap too
    val members = st.bAssigned
      .select(col("cell"), col("vec_id").as("nbr_id"),
        col("embedding").as("ve"), col("n2").as("vn2"))
      .unionByName(st.dAssigned.join(st.delta, "vec_id")
        .select(col("cell"), col("vec_id").as("nbr_id"),
          col("embedding").as("ve"), col("n2").as("vn2")))
    val dRows = st.dProbes
      .join(st.delta.select(col("vec_id"), col("embedding").as("qe"),
        col("n2").as("qn2")), "vec_id")
      .join(members, "cell")
      .filter(col("nbr_id") =!= col("vec_id"))
      .select(col("vec_id"), col("nbr_id"),
        Vec.cosineFromParts(Vec.dotN("qe", "ve"), col("qn2"), col("vn2")).as("cosine"))
      .withColumn("rk", row_number().over(wK))
      .filter(col("rk") <= cfg.knnK)
    kept.select("vec_id", "nbr_id", "rk", "cosine")
      .unionByName(refreshed.select("vec_id", "nbr_id", "rk", "cosine"))
      .unionByName(dRows.select("vec_id", "nbr_id", "rk", "cosine"))
  }

  /** Shared q290/q291 oracle tail: the FULL q140-rule rebuild over
    * base ∪ delta with the base-trained index — union probes, union
    * member table, full vector store — ending at `krg`. The
    * incremental merge must equal this rebuild exactly (the q242/q281
    * discipline applied to the kNN graph). */
  private def recompactCtes: String =
    s"""ea AS (SELECT vec_id, embedding FROM embeddings),
       |abu AS (SELECT vec_id, cell FROM ab UNION ALL SELECT vec_id, cell FROM ad),
       |pu AS (SELECT vec_id, cell FROM bp UNION ALL SELECT vec_id, cell FROM dp),
       |${duckKnnOf("pu", "ea", "krg", members = "abu", vecs = "ea")}""".stripMargin

  def q290Sql: String =
    s"""$knnDeltaCtes,
       |$recompactCtes
       |SELECT vec_id, nbr_id, rk, cosine FROM krg""".stripMargin

  /** q291: POST-RECOMPACTION SERVING RECALL — the closing number of
    * the q285/q286/q290 arc: the q279 beam walk re-runs over the
    * RECOMPACTED graph at the identical beam budget, recall scored
    * against q40's full-corpus exhaustive truth — directly comparable
    * with q286 (the stale mixed state this recompaction replaced) and
    * with q280 (the fresh full-trained graph). The verdict the
    * decision table needs: q285 says HOW MUCH debt, q286 what it
    * COSTS, this row what paying it BUYS. Cost: one bounded beam walk
    * + the queries×k eval join over the PERSISTED recompacted-graph
    * artifact ([[persistedRecompactedGraph]] — built by whichever of
    * q290/q291 runs first, read thereafter; the parquet scan replaces
    * both the old inline re-derivation and its lineage cut). The
    * incremental state still derives the guided ENTRY set, but that
    * side is artifact-backed centroids + two broadcast-argmax assigns
    * — map work, not the rebuild. */
  def q291RecompactRecall(spark: SparkSession, dir: String): DataFrame = {
    val st = knnDeltaParts(spark, dir)
    val edges = persistedRecompactedGraph(spark, dir, st)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    recallVsBrute(spark, dir,
      beamSearchOver(spark, dir, edges, Some(splitGuidedEntries(spark, dir, st))))
  }

  def q291Sql: String =
    s"""$knnDeltaCtes,
       |$recompactCtes,
       |knnr AS (SELECT vec_id AS src, nbr_id AS dst FROM krg),
       |${beamHopCtes("knnr", "ea", Some(guidedSplitEntSql))},
       |beamtop AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS rk
       |    FROM vis${cfg.beamHops}) WHERE rk <= $TopK),
       |tr_ex AS (SELECT q.query_id, v.vec_id,
       |    unnest(q.qe) AS a, unnest(v.embedding) AS b
       |  FROM bq q, ea v WHERE v.vec_id <> q.query_id),
       |tr_d AS (SELECT query_id, vec_id,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM tr_ex GROUP BY query_id, vec_id),
       |truth AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, vec_id) AS rk
       |    FROM tr_d) WHERE rk <= $TopK)
       |SELECT t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($TopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN beamtop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id""".stripMargin

  /** q309: INDEX RETRAIN-AND-SWAP — the operator that EXECUTES the
    * decision the maintenance arc only priced: q188/q285/q299 emit
    * drift rows, q290 pays graph debt incrementally, and the
    * 0.48/0.56/0.74 decision table (q286 stale / q291 recompacted /
    * q280 fresh at sf0.01) says what a full retrain buys — this
    * operator buys it. The serving index becomes a VERSIONED artifact
    * under the optimistic-commit chain ([[graft.sources.VersionChain]]
    * — the q300 CoW version discipline applied to the index): v1 is
    * the state the incremental tier serves today (persisted base graph
    * + delta out-edges, q285's mixed state), the FULL RETRAIN on
    * base ∪ delta (the q140 graph under the full-trained quantizer —
    * exactly q279's serving artifact) stages and commits as v2, and
    * the commit marker IS the atomic swap: a reader resolving the head
    * before the marker serves v1, after it v2 — no torn index, v1
    * stays readable for rollback/time travel until vacuumed. Output is
    * the post-swap recall row set, spec-pinned ≡ q280 bitwise — the
    * fresh-trained number the whole arc exists to reach.
    *
    * Scale: the retrain is the q140 build (cell-bounded, the nightly
    * job's cost — paid on the operator's schedule, not per query); the
    * swap itself is one namenode marker create + one rename; serving
    * cost is q279's bounded beam walk. */
  def q309RetrainSwap(spark: SparkSession, dir: String): DataFrame = {
    // run-unique chain root (the q325/q335 rule) + eager cut so the
    // finally can drop the chain; the spec drives [[q309RetrainSwapAt]]
    // with its own root to inspect the committed versions post-run
    val root = graft.sources.Scratch.dir(
      s"knn_vchain_${java.util.UUID.randomUUID.toString.take(8)}", dir)
    val conf = spark.sparkContext.hadoopConfiguration
    try q309RetrainSwapAt(spark, dir, root).localCheckpoint(true)
    finally {
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  private[graft] def q309RetrainSwapAt(spark: SparkSession, dir: String,
      root: String): DataFrame = {
    import graft.sources.VersionChain
    val conf = spark.sparkContext.hadoopConfiguration
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(conf)
    if (fs.exists(rootP)) fs.delete(rootP, true) // deterministic rerun
    // v1: today's serving state — the mixed edge set the incremental
    // tier is on (the 0.48 row of the decision table)
    val st = knnDeltaParts(spark, dir)
    val a1 = s"$root/_attempt_v1"
    st.g.select("vec_id", "nbr_id", "rk", "cosine")
      .unionByName(st.dEdges.select("vec_id", "nbr_id", "rk", "cosine"))
      .write.parquet(a1)
    require(VersionChain.commit(fs, root, 1, a1), "empty chain: v1 must commit")
    // the retrain: full q140 rebuild on base ∪ delta under the
    // full-trained quantizer — q279/q280's fresh serving artifact
    val a2 = s"$root/_attempt_v2"
    persistedKnnGraph(spark, dir).write.parquet(a2)
    // the atomic swap: head flips v1 → v2 at the marker create
    require(VersionChain.commit(fs, root, 2, a2), "single writer: v2 must commit")
    val head = VersionChain.latest(fs, root).get
    val edges = spark.read.parquet(VersionChain.dataPath(root, head))
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    recallVsBrute(spark, dir,
      beamSearchOver(spark, dir, edges, Some(ivfGuidedEntries(spark, dir))))
  }

  /** Post-swap serving is exactly the fresh-graph walk: the oracle is
    * q280's full retrain, and the spec pins q309 ≡ q280 bitwise. */
  def q309Sql: String = q280Sql

  // ---------- Beam entry-point selection A/B (q294) ----------

  /** The IVF-guided entry set over an arbitrary quantizer state: each
    * query's ${cfg.beamEntries} beam entry points are drawn from its
    * ${cfg.ivfNprobe} nearest cells' members, ordered (cell rank,
    * member id) — the coarse quantizer steers the walk into the
    * query's region instead of a fixed corner of the id space.
    * Deterministic: probe ranks tie to cent_id, members to vec_id; the
    * query itself is excluded. q279 passes the full-trained index and
    * full assignment; q286/q291 pass their base-trained index and the
    * base ∪ delta assignments (the state the incremental tier already
    * owns — which is also what makes fresh DELTA content reachable as
    * entries, closing the old fixed-entry blind spot). */
  private def guidedEntriesOver(spark: SparkSession, dir: String,
      cents: DataFrame, members: DataFrame,
      nprobe: Int = cfg.ivfNprobe): DataFrame = {
    // registration FIRST: withColumn analyzes eagerly, so the native
    // functions must exist before the first Vec expression resolves
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val qv = e.filter(col("vec_id") < NumQueries)
    val wE = Window.partitionBy("query_id").orderBy(col("crk"), col("cand"))
    probeCellsRanked(qv, cents, nprobe)
      .select(col("vec_id").as("query_id"), col("cell"), col("crk"))
      .join(members, "cell")
      .filter(col("cand") =!= col("query_id"))
      .withColumn("erk", row_number().over(wE))
      .filter(col("erk") <= cfg.beamEntries)
      .select(col("query_id"), col("cand").as("vec_id"))
  }

  /** TWO-LAYER (HNSW-style) entry descent — q317's ladder arm: the
    * coarse layer is a deterministic SUBSET of the trained centroids
    * (cent_id % LadderCoarseMod — HNSW's upper layer is literally a
    * node subset), each centroid hangs off its nearest coarse node,
    * and a query descends: rank the coarse layer (|coarse| dots), take
    * ${LadderCoarseProbe} branches, rank ONLY those branches'
    * centroids, probe ${cfg.ivfNprobe} cells, draw the same
    * ${cfg.beamEntries} entries. At 1M cells the flat guided ranking
    * pays |cells| dots per query; the ladder pays |coarse| + the
    * branch sizes — the log-ish descent every hierarchical index
    * buys. Whether the RESTRICTED view costs recall is exactly what
    * q317 measures at matched budget. */
  private[graft] def ladderEntries(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val (cents, cells) = persistedKnnQuantizer(spark, dir)
    val coarse = cents.filter(col("cent_id") % LadderCoarseMod === 0)
    // each centroid → its nearest coarse node (|cents| × |coarse|
    // broadcast-tiny dots; ties to the lower coarse id)
    val wB = Window.partitionBy("cent_id").orderBy(col("gcos").desc, col("gid"))
    val branch = cents.select(col("cent_id"), col("ce"))
      .crossJoin(broadcast(coarse.select(col("cent_id").as("gid"), col("ce").as("ge"))))
      .select(col("cent_id"), col("gid"),
        (expr("CAST(vec_dot_fixed(ce, ge) AS DOUBLE)")
          / (sqrt(expr("CAST(vec_dot_fixed(ce, ce) AS DOUBLE)"))
            * sqrt(expr("CAST(vec_dot_fixed(ge, ge) AS DOUBLE)")))).as("gcos"))
      .withColumn("brk", row_number().over(wB)).filter(col("brk") === 1)
      .select("cent_id", "gid")
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val qv = e.filter(col("vec_id") < NumQueries)
    // layer 1: query → its nearest coarse nodes
    val qCoarse = probeCellsRanked(qv, coarse, LadderCoarseProbe)
      .select(col("vec_id").as("query_id"), col("cell").as("gid"))
    // layer 0: rank only the chosen branches' centroids
    val wC = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("cent_id"))
    val qCells = qCoarse.join(branch, Seq("gid"))
      .join(qv.select(col("vec_id").as("query_id"),
        col("embedding").as("qe"), col("n2").as("qn2")), "query_id")
      .join(broadcast(cents.select(col("cent_id"), col("ce"),
        expr("CAST(vec_dot_fixed(ce, ce) AS DOUBLE)").as("cn2"))), "cent_id")
      .select(col("query_id"), col("cent_id"),
        (expr("CAST(vec_dot_fixed(qe, ce) AS DOUBLE)")
          / (sqrt(col("qn2")) * sqrt(col("cn2")))).as("ccos"))
      .withColumn("crk", row_number().over(wC))
      .filter(col("crk") <= cfg.ivfNprobe)
      .select(col("query_id"), col("cent_id").as("cell"), col("crk"))
    val wE = Window.partitionBy("query_id").orderBy(col("crk"), col("cand"))
    qCells.join(cells.select(col("cell"), col("vec_id").as("cand")), "cell")
      .filter(col("cand") =!= col("query_id"))
      .withColumn("erk", row_number().over(wE))
      .filter(col("erk") <= cfg.beamEntries)
      .select(col("query_id"), col("cand").as("vec_id"))
  }

  /** Full-index guided entries — q279's (and q294's B arm's) entry
    * set, served from the persisted quantizer artifacts. */
  private[graft] def ivfGuidedEntries(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val (cents, cells) = persistedKnnQuantizer(spark, dir)
    guidedEntriesOver(spark, dir, cents,
      cells.select(col("cell"), col("vec_id").as("cand")))
  }

  /** Base-trained-state guided entries — what the incremental tier
    * (q286 stale serving, q291 post-recompaction serving) can steer
    * with before any full retrain: its own centroids and the base ∪
    * delta cell assignments. */
  private[graft] def splitGuidedEntries(spark: SparkSession, dir: String,
      st: KnnDeltaState): DataFrame =
    guidedEntriesOver(spark, dir, st.cents,
      st.bAssigned.select(col("cell"), col("vec_id").as("cand"))
        .unionByName(st.dAssigned.select(col("cell"), col("vec_id").as("cand"))))

  /** q294: BEAM ENTRY-POINT SELECTION A/B — NSW recall is
    * entry-dominated; this row MEASURED the IVF-guided entry set
    * against the fixed first-ids prior at the IDENTICAL configured
    * candidate budget (same ${cfg.beamEntries} entries,
    * ${cfg.beamHops} hops, ${cfg.beamWidth} beam, same graph — the
    * q262 matched-budget discipline) and the measurement DECIDED the
    * default: mean recall 0.24 fixed vs 0.74 guided at sf0.01, so
    * q279 now serves with [[ivfGuidedEntries]] and this row remains
    * the standing ablation — arm `ivf` is exactly q279/q280's walk
    * (spec-pinned ≡ q280), arm `fixed` the retired prior, so a future
    * corpus where the guide stops paying shows up as one subtraction.
    *
    * Scale: two bounded beam walks + two queries×k eval joins; the
    * entry selection itself is the IVF probe rank (a
    * `vec_nearest_cells` map over the broadcast centroids) joined
    * against the cell members of nprobe cells per query —
    * serving-tier point-lookup work, no full-space scoring. */
  def q294BeamEntryEval(spark: SparkSession, dir: String): DataFrame = {
    val edges = persistedKnnGraph(spark, dir)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    val fixed = recallVsBrute(spark, dir, beamSearchOver(spark, dir, edges))
      .select(lit("fixed").as("entry_mode"), col("query_id"), col("n_hit"), col("recall"))
    val guided = recallVsBrute(spark, dir,
        beamSearchOver(spark, dir, edges, Some(ivfGuidedEntries(spark, dir))))
      .select(lit("ivf").as("entry_mode"), col("query_id"), col("n_hit"), col("recall"))
    fixed.unionByName(guided)
  }

  def q294Sql: String = {
    def topOf(vis: String, out: String): String =
      s"""$out AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id) AS rk
         |    FROM $vis) WHERE rk <= $TopK)""".stripMargin
    // default chain = the guided serving walk (arm 'ivf'); the
    // x-prefixed chain re-runs it with the retired fixed-entries prior
    s"""$beamWalkCtes,
       |${beamHopCtesNamed("knn", "e", "x", fixedEntSql("e", "xent"))},
       |${topOf(s"vis${cfg.beamHops}", "itop")},
       |${topOf(s"xvis${cfg.beamHops}", "ftop")},
       |tr_ex AS (SELECT q.query_id, v.vec_id,
       |    unnest(q.qe) AS a, unnest(v.embedding) AS b
       |  FROM bq q, e v WHERE v.vec_id <> q.query_id),
       |tr_d AS (SELECT query_id, vec_id,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM tr_ex GROUP BY query_id, vec_id),
       |truth AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, vec_id) AS rk
       |    FROM tr_d) WHERE rk <= $TopK)
       |SELECT 'fixed' AS entry_mode, t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($TopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN ftop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id
       |UNION ALL
       |SELECT 'ivf' AS entry_mode, t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($TopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN itop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id""".stripMargin
  }

  /** q317: HIERARCHICAL ENTRY LADDER A/B — the round-14 verdict's
    * headroom probe: q294 settled guided-vs-fixed; this row measures
    * whether a SECOND entry layer (HNSW-style coarse descent,
    * [[ladderEntries]]) buys recall that simply probing wider
    * (2×nprobe flat guided entries) does not, at the IDENTICAL
    * candidate budget (same ${cfg.beamEntries} entries,
    * ${cfg.beamHops} hops, ${cfg.beamWidth} beam, same graph — the
    * q294/q262 matched-budget discipline). The serving-cost asymmetry
    * is what makes the question real at scale: the flat arm ranks ALL
    * cells per query (|cells| dots — fine at 16, a scan at 1M), the
    * ladder ranks |coarse| + its branches — so if recall TIES, the
    * ladder wins the 100 TB deployment, and if the restricted descent
    * LOSES recall, the row prices exactly what the flat scan buys.
    * DECISION (measured at sf0.01, recorded per the q294 rule): both
    * arms tie at mean recall 0.74 = the q280 serving default — the
    * descent costs nothing here, so the ladder is the scale path and
    * q279's flat guided entries stand only because 16 cells make the
    * flat ranking free; the standing ablation re-prices that call
    * every round.
    *
    * Scale: two bounded beam walks + two queries×k eval joins; both
    * entry selections are broadcast-tiny centroid work. */
  def q317EntryLadder(spark: SparkSession, dir: String): DataFrame = {
    val (cents, cells) = persistedKnnQuantizer(spark, dir)
    val edges = persistedKnnGraph(spark, dir)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    val wide = recallVsBrute(spark, dir,
        beamSearchOver(spark, dir, edges, Some(guidedEntriesOver(spark, dir,
          cents, cells.select(col("cell"), col("vec_id").as("cand")),
          nprobe = 2 * cfg.ivfNprobe))))
      .select(lit("nprobe2x").as("entry_mode"), col("query_id"), col("n_hit"), col("recall"))
    val ladder = recallVsBrute(spark, dir,
        beamSearchOver(spark, dir, edges, Some(ladderEntries(spark, dir))))
      .select(lit("ladder").as("entry_mode"), col("query_id"), col("n_hit"), col("recall"))
    wide.unionByName(ladder)
  }

  def q317Sql: String = {
    def topOf(vis: String, out: String): String =
      s"""$out AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id) AS rk
         |    FROM $vis) WHERE rk <= $TopK)""".stripMargin
    s"""$knnGraphCtes,
       |bq AS (SELECT vec_id AS query_id, embedding AS qe FROM e
       |  WHERE vec_id < $NumQueries),
       |${beamHopCtesNamed("knn", "e", "w",
            guidedFullEntSql("went", nprobe = 2 * cfg.ivfNprobe))},
       |${beamHopCtesNamed("knn", "e", "l", ladderEntSql("lent"))},
       |${topOf(s"wvis${cfg.beamHops}", "wtop")},
       |${topOf(s"lvis${cfg.beamHops}", "ltop")},
       |tr_ex AS (SELECT q.query_id, v.vec_id,
       |    unnest(q.qe) AS a, unnest(v.embedding) AS b
       |  FROM bq q, e v WHERE v.vec_id <> q.query_id),
       |tr_d AS (SELECT query_id, vec_id,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM tr_ex GROUP BY query_id, vec_id),
       |truth AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, vec_id) AS rk
       |    FROM tr_d) WHERE rk <= $TopK)
       |SELECT 'nprobe2x' AS entry_mode, t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($TopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN wtop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id
       |UNION ALL
       |SELECT 'ladder' AS entry_mode, t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($TopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN ltop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // Scalar-quantized (int8) serving tier: q297 search, q298 recall
  // ---------------------------------------------------------------

  /** The corpus as q89's int8 codes, as `array<bigint>` plus the exact
    * integer squared norm — the form the SQ dot consumes. One pure
    * scan projection (zero shuffle); at serving scale the codes are
    * the persisted artifact and this projection is what writes it. */
  private def sqCodes(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))").as("amax"))
      .select(col("vec_id"),
        expr("""CASE WHEN amax = 0.0
               |  THEN transform(embedding, x -> CAST(0 AS BIGINT))
               |  ELSE transform(embedding, x ->
               |    CAST(round(CAST(x AS DOUBLE) / (amax / 127.0)) AS BIGINT))
               |END""".stripMargin).as("codes"))
      .withColumn("cn2", expr("vec_dot_long(codes, codes)"))

  /** Shared DuckDB CTEs for the SQ tier: per-vector int8 codes (q89's
    * exact construction) and their integer squared norms. */
  private def sqDuckCtes: String =
    s"""sqa AS (SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
       |  FROM embeddings),
       |sqc AS (SELECT vec_id,
       |    CASE WHEN amax = 0.0
       |      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
       |      ELSE list_transform(embedding, x ->
       |        CAST(round(CAST(x AS DOUBLE) / (amax / 127.0)) AS BIGINT))
       |    END AS codes
       |  FROM sqa),
       |sqq AS (SELECT vec_id AS query_id, codes AS qc FROM sqc
       |  WHERE vec_id < $NumQueries),
       |sqex AS (SELECT q.query_id, c.vec_id, unnest(q.qc) AS a, unnest(c.codes) AS b
       |  FROM sqq q, sqc c WHERE c.vec_id <> q.query_id),
       |sqd AS (SELECT query_id, vec_id,
       |    SUM(a*b) AS dot, SUM(a*a) AS na, SUM(b*b) AS nb
       |  FROM sqex GROUP BY query_id, vec_id),
       |sqr AS (SELECT query_id, vec_id,
       |    CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS ccos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC,
       |      vec_id) AS rk
       |  FROM sqd),
       |sqtop AS (SELECT query_id, vec_id, rk, ccos FROM sqr WHERE rk <= $TopK)""".stripMargin

  /** q297: SCALAR-QUANTIZED (int8) SEARCH — the fourth serving tier:
    * q89 compresses the corpus 4× (one int8 per coordinate, per-vector
    * max-abs scale) and this query SERVES from the codes. Symmetric
    * SQ: queries quantize with the same rule, scores are code-space
    * cosine — the per-vector scale cancels in the cosine, so the code
    * cosine approximates the float cosine up to rounding (the loss
    * q298 measures; the q123/q223 approximation-ships-with-its-eval
    * rule). The code dot is an exact BIGINT sum (`vec_dot_long` —
    * int8·int8 over any realistic d can't overflow a long), the code
    * norms likewise; the cosine is one double division of exact
    * integers, so both engines rank identical values.
    *
    * Scale: the plan is EXACTLY q40's — broadcast query panel, one
    * corpus scan, partial top-k — but the scanned bytes are the 4×-
    * smaller code table and the inner loop is integer multiply-add
    * (SIMD-friendly) instead of float: this is what a "brute force"
    * tier actually ships at 100 TB, and it composes with IVF (probe
    * then SQ-score) without changing either side. Codes are computed
    * inline here (a zero-shuffle projection); at scale they are the
    * persisted index artifact and the scan reads them directly. */
  def q297SqSearch(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val c = sqCodes(emb(spark, dir))
    val q = broadcast(c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"), col("cn2").as("qn2")))
    val w = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("vec_id"))
    q.crossJoin(c)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (expr("CAST(vec_dot_long(qc, codes) AS DOUBLE)")
          / (sqrt(col("qn2").cast("double")) * sqrt(col("cn2").cast("double")))).as("ccos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select("query_id", "vec_id", "rk", "ccos")
  }

  def q297Sql: String =
    s"""WITH $sqDuckCtes
       |SELECT query_id, vec_id, rk, ccos FROM sqtop""".stripMargin

  /** q298: SQ RECALL — q297's measured answer: exact float-cosine
    * top-$TopK truth (q40's construction) vs the int8 code-cosine
    * top-$TopK, one row per query with hits and recall. Same metric
    * on both sides (cosine truth for a cosine-serving code — the q215
    * metric-match lesson). The published number is what the 4×
    * compression costs on THIS corpus; the decision it feeds is
    * whether the brute tier can ship codes instead of floats.
    *
    * Scale: two broadcast-panel scans (one over floats for truth, one
    * over codes) plus a queries×k join — eval-sized, like q123. */
  def q298SqRecall(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val truth = persistedBruteTruth(spark, dir)
    val sq = q297SqSearch(spark, dir)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    truth.join(sq, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        (col("n_hit").cast("double") / lit(TopK.toDouble)).as("recall"))
  }

  def q298Sql: String =
    s"""WITH $sqDuckCtes,
       |tq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id < $NumQueries),
       |tex AS (SELECT q.query_id, e.vec_id, unnest(q.qe) AS a, unnest(e.embedding) AS b
       |  FROM tq q, embeddings e WHERE e.vec_id <> q.query_id),
       |td AS (SELECT query_id, vec_id,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM tex GROUP BY query_id, vec_id),
       |truth AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, vec_id) AS rk
       |    FROM td) WHERE rk <= $TopK)
       |SELECT t.query_id, CAST(count(s.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(s.vec_id) AS DOUBLE) / CAST($TopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN sqtop s
       |  ON s.query_id = t.query_id AND s.vec_id = t.vec_id
       |GROUP BY t.query_id""".stripMargin

  // ---------------------------------------------------------------
  // q299: incremental PQ maintenance (codebook drift under a delta)
  // ---------------------------------------------------------------

  /** The PQ codebook trained on the BASE split only (the vectors that
    * existed when the index shipped) — q188's frozen-artifact
    * lifecycle applied to the PQ tier: trained once (keyed on the PQ
    * knobs AND the split boundary), loaded by every consumer. */
  private[graft] def persistedBasePqCodebook(spark: SparkSession, dir: String): DataFrame =
    Artifact.getOrBuild(spark, "pq_cb_base", dir, Seq("embeddings.parquet"),
        s"m=$PqM,k=$PqK,i=$PqIters,split=${cfg.splitTrainUpper}") { p =>
      graft.plans.GraftExtensions.ensureRegistered(spark)
      val base = emb(spark, dir)
        .withColumn("bk", substring(md5(col("vec_id").cast("string")), 1, 2))
        .filter(col("bk") < cfg.splitTrainUpper)
        .select("vec_id", "embedding")
      pqTrainOn(base).write.parquet(p)
    }

  /** Per-vector, per-subspace MINIMUM quantization error under a
    * frozen codebook — pqEncodeWith's fold keeping the min d² instead
    * of its argmin. Exact BIGINT fixed-point, zero shuffle (broadcast
    * codebook, codegen'd HOF over the scan). Returns
    * (vec_id, e1..e$PqM). */
  private def pqErrWith(e: DataFrame, cb: DataFrame): DataFrame = {
    val packed = broadcast(cb
      .select(struct(col("sub_id"), col("cent_id"), col("ce"),
        expr("vec_dot_fixed(ce, ce)").as("cn2")).as("c"))
      .groupBy().agg(array_sort(collect_list(col("c"))).as("cbs")))
    val subs = e.crossJoin(packed)
      .select(Seq(col("vec_id"), col("cbs")) ++
        (1 to PqM).map(s => expr(subExpr(s)).as(s"sub$s")): _*)
    subs.select(Seq(col("vec_id")) ++ (1 to PqM).map { s =>
      expr(
        s"""aggregate(
           |  transform(filter(cbs, c -> c.sub_id = $s), c ->
           |    vec_dot_fixed(sub$s, sub$s) + c.cn2 - 2 * vec_dot_fixed(sub$s, c.ce)),
           |  CAST(NULL AS BIGINT),
           |  (acc, x) -> IF(acc IS NULL OR x < acc, x, acc),
           |  acc -> acc)""".stripMargin).as(s"e$s")
    }: _*)
  }

  /** q299: INCREMENTAL PQ MAINTENANCE — the q188 nightly-ingest story
    * for the PQ tier, closing the last serving tier without a delta
    * path (IVF has q188, the kNN graph has q285/q290): the codebook
    * trains on the BASE split only and FREEZES as the persisted
    * artifact; the arriving DELTA split (the q68/q188 content-stable
    * md5 membership rule) encodes against the frozen codewords WITHOUT
    * retraining — PQ codes are a pure per-row map, so delta absorption
    * is free by construction. What is NOT free is fidelity: codewords
    * fitted to yesterday's distribution quantize tomorrow's tail
    * worse, so the output is the per-subspace DRIFT eval that decides
    * retraining — base vs delta mean reconstruction error (exact
    * BIGINT fixed-point d² under the frozen codebook, the mean ONE
    * division) and their ratio; a subspace whose ratio jumps is where
    * the new traffic left the trained cells.
    *
    * Scale: the codebook is an m·k-row broadcast; both error passes
    * are zero-shuffle scans (codegen'd HOF argmin per subspace) into a
    * map-combinable $PqM-group aggregate — a nightly delta costs
    * |delta| map work, never a retrain, and the base side is a
    * |cells|-row artifact persisted with the index at scale (it
    * recomputes here only to keep the query self-contained, the q188
    * note). */
  def q299PqDelta(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val all = emb(spark, dir)
      .withColumn("bk", substring(md5(col("vec_id").cast("string")), 1, 2))
    val base = all.filter(col("bk") < cfg.splitTrainUpper).select("vec_id", "embedding")
    val delta = all.filter(col("bk") >= cfg.splitTrainUpper).select("vec_id", "embedding")
    val cb = persistedBasePqCodebook(spark, dir)
    def sideAgg(e: DataFrame, pre: String): DataFrame =
      pqErrWith(e, cb)
        .select(expr(s"stack($PqM, ${(1 to PqM).map(s => s"$s, e$s").mkString(", ")}) AS (sub_id, d2)"))
        .groupBy("sub_id")
        .agg(count(lit(1)).as(s"n_$pre"), sum(col("d2")).as(s"sd_$pre"))
    // anchor on a static sub_id spine, not an inner join of the two
    // aggregates: the oracle cross-joins per-subspace SCALAR aggregates,
    // so it emits PqM rows even when the md5 split leaves a side empty
    // (n=0, err NULL) — an inner join would emit 0 rows and diverge on
    // degenerate corpora
    val spine = spark.range(1, PqM + 1).select(col("id").cast("int").as("sub_id"))
    spine.join(sideAgg(base, "base"), Seq("sub_id"), "left")
      .join(sideAgg(delta, "delta"), Seq("sub_id"), "left")
      .select(col("sub_id"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        (col("sd_base").cast("double") / col("n_base").cast("double") / lit(1e13)).as("base_err"),
        (col("sd_delta").cast("double") / col("n_delta").cast("double") / lit(1e13)).as("delta_err"))
      .withColumn("err_ratio", col("delta_err") / col("base_err"))
  }

  def q299Sql: String = {
    // min-d² per vector of `src` against the final base-trained
    // codebook of subspace s
    def minErr(s: Int, src: String, out: String): String =
      s"""${out}_ex AS (SELECT e.vec_id AS ia, c.cent_id AS ib,
         |    unnest(e.sub) AS a, unnest(c.ce) AS b
         |  FROM $src e, c${s}_$PqIters c),
         |${out}_d AS (SELECT ia, ib,
         |    SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(a AS DOUBLE)*1e13) AS BIGINT))
         |      + SUM(CAST(floor(CAST(b AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT))
         |      - 2*SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT)) AS d2
         |  FROM ${out}_ex GROUP BY ia, ib),
         |$out AS (SELECT ia AS vec_id, MIN(d2) AS d2 FROM ${out}_d GROUP BY ia)""".stripMargin
    val where =
      s" WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '${cfg.splitTrainUpper}'"
    val deltas = (1 to PqM).map { s =>
      s"""ed$s AS (SELECT vec_id, ${pqSubSqlDuck(s)} AS sub FROM embeddings
         |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) >= '${cfg.splitTrainUpper}'),
         |${minErr(s, s"e$s", s"berr$s")},
         |${minErr(s, s"ed$s", s"derr$s")},
         |bagg$s AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(d2) AS sd FROM berr$s),
         |dagg$s AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(d2) AS sd FROM derr$s)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to PqM).map { s =>
      s"""SELECT $s AS sub_id, b.n AS n_base, d.n AS n_delta,
         |  CAST(b.sd AS DOUBLE)/CAST(b.n AS DOUBLE)/1e13 AS base_err,
         |  CAST(d.sd AS DOUBLE)/CAST(d.n AS DOUBLE)/1e13 AS delta_err,
         |  (CAST(d.sd AS DOUBLE)/CAST(d.n AS DOUBLE)/1e13)
         |    / (CAST(b.sd AS DOUBLE)/CAST(b.n AS DOUBLE)/1e13) AS err_ratio
         |FROM bagg$s b, dagg$s d""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${pqTrainCtesFor(where)},
       |$deltas
       |$rows""".stripMargin
  }

  // ---------------------------------------------------------------
  // q305: streaming ANN serve; q306: the recall-vs-nprobe curve
  // ---------------------------------------------------------------

  // (the persisted `ivf_cents` lifecycle lives in [[trainIndex]]
  // itself — every consumer, batch and streaming, reads the artifact)

  /** q305: STREAMING ANN SERVE — queries as a LIVE STREAM against the
    * persisted IVF index (the online half of the serving story every
    * batch tier assumes: an index trains nightly, queries arrive all
    * day): the query panel lands as files in two waves, `foreachBatch`
    * serves each micro-batch through the SAME probe→score→top-k kernel
    * as batch q41 (`servePanel`) against the loaded centroid artifact,
    * appending per-query results to the sink. Per-query top-k is
    * batch-local by construction (a query lives in exactly one
    * micro-batch), so the drain equals batch q41 row for row and the
    * SAME oracle gates both (the q288 twin discipline).
    *
    * Scale: serving is stateless — nothing enters the state store; the
    * centroids are a broadcast-sized artifact whose read starts no
    * Spark job, and the corpus side is the static stream-static join
    * leg (the q70 shape). Per batch, the assignment and the probe are
    * native `vec_nearest_cells` maps over the broadcast centroid row
    * and the per-query top-k is the one window. Latency is one
    * micro-batch; throughput is q41's per-query cost. */
  def q305StreamAnnServe(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    // run-unique scratch (the q325/q335 rule) + eager cut before the
    // finally drops the sink this result reads
    val run = java.util.UUID.randomUUID.toString.take(8)
    val landing = graft.sources.Scratch.dir(s"annq_${run}_landing", dir)
    val ckpt = graft.sources.Scratch.dir(s"annq_${run}_ckpt", dir)
    val out = graft.sources.Scratch.dir(s"annq_${run}_out", dir)
    val conf = spark.sparkContext.hadoopConfiguration
    try {
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val cents = trainIndex(spark, dir)
    val panel = e.filter(col("vec_id") < NumQueries)
    val fs = new org.apache.hadoop.fs.Path(landing).getFileSystem(conf)
    Seq(panel.filter(col("vec_id") % 2 === 0), panel.filter(col("vec_id") % 2 === 1))
      .zipWithIndex.foreach { case (w, i) =>
        val before =
          if (fs.exists(new org.apache.hadoop.fs.Path(landing)))
            fs.listStatus(new org.apache.hadoop.fs.Path(landing)).map(_.getPath).toSet
          else Set.empty[org.apache.hadoop.fs.Path]
        w.repartition(1).write.mode("append").parquet(landing)
        fs.listStatus(new org.apache.hadoop.fs.Path(landing))
          .map(_.getPath).filterNot(before)
          .filter(_.getName.startsWith("part-"))
          .foreach(f => fs.setTimes(f, 1000L * (i + 1), -1))
      }
    val raw = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, n2 DOUBLE")
      .option("pathGlobFilter", "part-*")
      .option("maxFilesPerTrigger", 1)
      .parquet(landing)
    val q = raw.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty)
          servePanel(e, b, cents, cfg.ivfNprobe)
            .write.mode("append").parquet(out)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(out).localCheckpoint(true)
    } finally Seq(landing, ckpt, out).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val dfs = p.getFileSystem(conf)
      if (dfs.exists(p)) dfs.delete(p, true)
    }
  }

  /** q306: the RECALL-vs-NPROBE CURVE — the tuning table every IVF
    * deployment reads before picking its serving knob (the q200
    * measured-curve discipline applied to the index): nprobe sweeps
    * 1..${ProbeCurveMax} (past the serving default, so the curve
    * shows where recall saturates against the probed-cells cost),
    * each point serving the full query panel through the shared
    * kernel at that nprobe and scoring per query against the
    * persisted exhaustive truth at top-$IvfTopK. Per-(nprobe, query)
    * rows — the distribution ships, scalar averaging stays with the
    * caller (the q96/q246 convention).
    *
    * Scale: ONE corpus assignment (a zero-shuffle `vec_nearest_cells`
    * map over the broadcast centroid artifact), stage-cut and shared by
    * every curve point; per point, a query-side probe map, cell-bounded
    * candidate scoring and one per-query top-k window — the sweep costs
    * curve-points × q41's serve, and the eval join is queries×k. */
  def q306IvfProbeCurve(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val cents = trainIndex(spark, dir)
    val panel = e.filter(col("vec_id") < NumQueries)
    val truth = persistedBruteTruth(spark, dir)
      .filter(col("rk") <= IvfTopK).select("query_id", "vec_id")
    // the corpus cell assignment is independent of nprobe, so it is
    // computed ONCE and stage-cut, and every curve point serves from it
    // (serveAssigned was factored out for exactly this) — re-running
    // assign per point cost ProbeCurveMax full-corpus map passes
    val assigned = graft.Ck.lazyStage(assign(e, cents), cfg)
    (1 to ProbeCurveMax).map { np =>
      val top = serveAssigned(assigned, panel, cents, np)
        .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
      truth.join(top, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit(np).as("nprobe"), col("query_id"), col("n_hit"),
          (col("n_hit").cast("double") / IvfTopK).as("recall"))
    }.reduce(_ unionAll _)
  }

  def q305Sql: String = q41Sql

  /** q325: STREAMING DRIFT MONITOR — the maintenance loop's missing
    * streaming half: the batch tier measures drift nightly (q188),
    * prices graph debt (q285), recompacts (q290), and retrains+swaps
    * (q309); THIS watches the delta ARRIVE and raises the retrain
    * flag live. The delta split (q188's md5 band) lands as files in
    * two waves; `foreachBatch` assigns each micro-batch against the
    * base-trained centroid index (the same zero-shuffle broadcast
    * argmax as batch q188) and appends per-(wave, cell) arrival
    * counts to the sink. The drain then reads the sink once and emits
    * the drift ledger: per (wave, cell) the in-wave arrivals, the
    * cell's CUMULATIVE delta through that wave, the base occupancy,
    * and the wave's retrain decision — true when cumulative arrivals
    * reach ${DriftTNum}/${DriftTDen}
    * of the base corpus (integer cross-multiply, no float at the
    * trigger) — the live dial whose batch consumers are q309's swap
    * and q290's recompaction. Wave identity is the vec_id parity that
    * DEFINES the landing waves, so the ledger is drain-order
    * independent and the static replay is the oracle (the q305/q288
    * drain ≡ batch discipline).
    *
    * Scale: serving is stateless (nothing enters the state store) —
    * per batch one broadcast-argmax map over the batch + a
    * batch-sized aggregate append; the ledger read is sink-sized
    * (waves × cells), never corpus-sized. The ledger itself persists
    * as an artifact (the drift dial is a nightly artifact its batch
    * consumers poll), the base-trained index is
    * the SHARED `knnd_cents` artifact (no inline retrain), and the
    * landing/checkpoint/sink scratch is RUN-UNIQUE (a UUID namespace,
    * deleted after the drain) so two drivers sharing the scratch
    * filesystem can never clobber each other's in-flight stream. */
  def q325StreamDrift(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val conf = spark.sparkContext.hadoopConfiguration
    Artifact.getOrBuild(spark, "sdrift_ledger", dir, Seq("embeddings.parquet"),
        s"c=$NumCentroids,ki=$KmeansIters,tm=$TrainMod,u=${cfg.splitTrainUpper}," +
          s"tn=${DriftTNum},td=${DriftTDen}") { ledgerPath =>
      val run = java.util.UUID.randomUUID.toString.take(8)
      val landing = graft.sources.Scratch.dir(s"sdrift_${run}_landing", dir)
      val ckpt = graft.sources.Scratch.dir(s"sdrift_${run}_ckpt", dir)
      val out = graft.sources.Scratch.dir(s"sdrift_${run}_out", dir)
      val all = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
        .withColumn("bk", substring(md5(col("vec_id").cast("string")), 1, 2))
      val base = all.filter(col("bk") < cfg.splitTrainUpper).drop("bk")
      val delta = all.filter(col("bk") >= cfg.splitTrainUpper).drop("bk")
      val cents = persistedBaseCents(spark, dir, base)
      val fs = new org.apache.hadoop.fs.Path(landing).getFileSystem(conf)
      try {
        Seq(delta.filter(col("vec_id") % 2 === 0), delta.filter(col("vec_id") % 2 === 1))
          .zipWithIndex.foreach { case (w, i) =>
            val before =
              if (fs.exists(new org.apache.hadoop.fs.Path(landing)))
                fs.listStatus(new org.apache.hadoop.fs.Path(landing)).map(_.getPath).toSet
              else Set.empty[org.apache.hadoop.fs.Path]
            w.repartition(1).write.mode("append").parquet(landing)
            fs.listStatus(new org.apache.hadoop.fs.Path(landing))
              .map(_.getPath).filterNot(before)
              .filter(_.getName.startsWith("part-"))
              .foreach(f => fs.setTimes(f, 1000L * (i + 1), -1))
          }
        val raw = spark.readStream
          .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, n2 DOUBLE")
          .option("pathGlobFilter", "part-*")
          .option("maxFilesPerTrigger", 1)
          .parquet(landing)
        val q = raw.writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, _: Long) =>
            if (!b.isEmpty)
              assign(b, cents)
                .groupBy(pmod(col("vec_id"), lit(2L)).as("wave"), col("cell"))
                .agg(count(lit(1)).as("n"))
                .write.mode("append").parquet(out)
          }
          .start()
        try q.processAllAvailable() finally q.stop()
        import org.apache.spark.sql.expressions.Window
        // an EMPTY delta split lands no files → foreachBatch never
        // writes the sink: the ledger is then the empty frame, not a
        // schema-inference error on a missing directory
        val osp = new org.apache.hadoop.fs.Path(out, "_SUCCESS")
        val dn0 =
          if (osp.getFileSystem(conf).exists(osp)) spark.read.parquet(out)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL(
              "wave BIGINT, cell BIGINT, n BIGINT"))
        val dn = dn0.groupBy("wave", "cell").agg(sum("n").as("delta_n"))
        val cum = dn.withColumn("delta_cum",
          sum("delta_n").over(Window.partitionBy("cell").orderBy("wave")))
        val wc = dn.groupBy("wave").agg(sum("delta_n").as("wn"))
          .withColumn("d_cum_total", sum("wn").over(Window.orderBy("wave")))
          .select("wave", "d_cum_total")
        val bc = assign(base, cents).groupBy("cell").agg(count(lit(1)).as("base_n"))
        val nb = broadcast(base.agg(count(lit(1)).as("n_base")))
        cum.join(wc, "wave")
          .join(bc, Seq("cell"), "left")
          .crossJoin(nb)
          .select(col("wave"), col("cell"), col("delta_n"), col("delta_cum"),
            coalesce(col("base_n"), lit(0L)).as("base_n"),
            (lit(DriftTDen.toLong) * col("d_cum_total")
              >= lit(DriftTNum.toLong) * col("n_base")).as("retrain"))
          .write.parquet(ledgerPath)
      } finally Seq(landing, ckpt, out).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val dfs = p.getFileSystem(conf)
        if (dfs.exists(p)) dfs.delete(p, true)
      }
    }
  }

  /** q326: ATTRIBUTE-FILTERED ANN SEARCH — top-k restricted to
    * vectors carrying label = ${AnnFilterLabel},
    * the filtered-vector-search feature every serving stack ends up
    * needing (tenant isolation, language routing, freshness windows):
    * the PRE-FILTER strategy — the label predicate lands at CANDIDATE
    * GENERATION (probed cell members filter on label BEFORE scoring),
    * so every one of the k result slots is spent on an eligible
    * vector. q41's plan otherwise exactly: persisted index, one
    * corpus assignment, nprobe probed cells per query, exact cosine,
    * ties to the lowest id. The alternative (post-filter: search
    * unfiltered, discard ineligible results) is NOT this query — it
    * is q327's measured ablation arm, where its recall cost is priced
    * rather than assumed.
    *
    * Scale: identical to q41 plus one pushed-down predicate on the
    * assignment scan — at 10% selectivity the candidate set shrinks
    * 10×; the label could equally be a partition/bucket key of the
    * assignment artifact, making the filter a pruning, not a scan. */
  def q326FilteredSearch(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
      .withColumn("n2", Vec.norm2N("embedding"))
    val cents = trainIndex(spark, dir)
    val qv = e.filter(col("vec_id") < NumQueries)
    serveAssigned(assign(e, cents).filter(col("label") === AnnFilterLabel),
      qv, cents, cfg.ivfNprobe)
  }

  def q326Sql: String =
    s"""$trainedAssignCtes,
       |qprobe AS (SELECT ia AS query_id, ib AS cell FROM (
       |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
       |    FROM af_dots WHERE ia < $NumQueries)
       |  WHERE rk <= ${cfg.ivfNprobe}),
       |qv AS (SELECT q.query_id, e.embedding AS qe, q.cell
       |  FROM qprobe q JOIN e ON e.vec_id = q.query_id),
       |cellpairs AS (SELECT qv.query_id, av.vec_id, qv.qe, av.embedding AS ve
       |  FROM qv JOIN av USING (cell)
       |  JOIN embeddings lb ON lb.vec_id = av.vec_id
       |  WHERE av.vec_id <> qv.query_id AND lb.label = ${AnnFilterLabel}),
       |top_ex AS (SELECT query_id AS ia, vec_id AS ib, unnest(qe) AS a, unnest(ve) AS b FROM cellpairs),
       |top_dots AS (SELECT ia, ib,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM top_ex GROUP BY ia, ib),
       |top_cos AS (SELECT ia, ib,
       |    CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS cosine
       |  FROM top_dots)
       |SELECT ia AS query_id, ib AS vec_id, rk, cosine FROM (
       |  SELECT ia, ib, cosine, row_number() OVER (PARTITION BY ia ORDER BY cosine DESC, ib) AS rk
       |  FROM top_cos) WHERE rk <= $IvfTopK""".stripMargin

  /** q327: PRE- vs POST-FILTER RECALL — the measured A/B behind
    * q326's strategy choice (the q294/q317 discipline: never adopt a
    * serving policy without pricing the alternative at matched
    * budget): both arms probe the SAME ${cfg.ivfNprobe} cells per
    * query and keep $IvfTopK result slots; arm `pre` filters at
    * candidate generation (q326's walk exactly), arm `post` runs the
    * unfiltered q41 serve and discards ineligible results AFTER the
    * top-k is spent — the naive strategy every filtered-search
    * deployment starts with. Each arm scores per-query recall against
    * the exact filtered brute truth. At ~10% label selectivity the
    * post arm's expected surviving slots are k/10 — the gap this row
    * measures is the pre-filter's entire value proposition, and a
    * future corpus where the label correlates with the query
    * neighborhood (post-filter loses nothing) shows up as one
    * subtraction. MEASURED at sf0.01 (the q294 rule — the decision is
    * recorded): mean recall 0.567 pre vs 0.133 post — a 4.3× gap at
    * identical probe budget, so q326 serves pre-filtered.
    *
    * Scale: two cell-bounded serves off ONE shared corpus assignment
    * + a queries×k eval join; the truth side scans only the
    * label-eligible slice (selectivity × corpus). */
  def q327FilteredRecall(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val L = AnnFilterLabel
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
      .withColumn("n2", Vec.norm2N("embedding"))
    val cents = trainIndex(spark, dir)
    val qv = e.filter(col("vec_id") < NumQueries)
    val assigned = graft.Ck.lazyStage(assign(e, cents), cfg)
    val pre = serveAssigned(assigned.filter(col("label") === L), qv, cents, cfg.ivfNprobe)
      .select(col("query_id"), col("vec_id"))
    val post = serveAssigned(assigned, qv, cents, cfg.ivfNprobe)
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .filter(col("label") === L)
      .select(col("query_id"), col("vec_id"))
    // exact filtered truth: brute cosine over the eligible slice only
    val lblSide = e.filter(col("label") === L)
    val panel = broadcast(qv.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("n2").as("qn2")))
    val wT = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    val truth = panel.crossJoin(lblSide)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Vec.cosineFromParts(Vec.dotN("qe", "embedding"), col("qn2"), col("n2")).as("cosine"))
      .withColumn("rk", row_number().over(wT))
      .filter(col("rk") <= IvfTopK)
      .select("query_id", "vec_id")
    def scored(arm: String, hits: DataFrame): DataFrame =
      truth.join(hits.withColumn("hit", lit(1L)), Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit(arm).as("arm"), col("query_id"), col("n_hit"),
          (col("n_hit").cast("double") / IvfTopK).as("recall"))
    scored("pre", pre).unionByName(scored("post", post))
  }

  def q327Sql: String = {
    val L = AnnFilterLabel
    def topOf(pairs: String, out: String, filtered: Boolean): String = {
      val f = if (filtered) s"AND lb.label = $L" else ""
      s"""${out}_cp AS (SELECT qv.query_id, av.vec_id, qv.qe, av.embedding AS ve
         |  FROM qv JOIN av USING (cell)
         |  JOIN embeddings lb ON lb.vec_id = av.vec_id
         |  WHERE av.vec_id <> qv.query_id $f),
         |${out}_ex AS (SELECT query_id AS ia, vec_id AS ib, unnest(qe) AS a, unnest(ve) AS b FROM ${out}_cp),
         |${out}_d AS (SELECT ia, ib,
         |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
         |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
         |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
         |  FROM ${out}_ex GROUP BY ia, ib),
         |$out AS (SELECT ia AS query_id, ib AS vec_id FROM (
         |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
         |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
         |    FROM ${out}_d) WHERE rk <= $IvfTopK)""".stripMargin
    }
    s"""$trainedAssignCtes,
       |qprobe AS (SELECT ia AS query_id, ib AS cell FROM (
       |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
       |    FROM af_dots WHERE ia < $NumQueries)
       |  WHERE rk <= ${cfg.ivfNprobe}),
       |qv AS (SELECT q.query_id, e.embedding AS qe, q.cell
       |  FROM qprobe q JOIN e ON e.vec_id = q.query_id),
       |${topOf("prepairs", "pretop", filtered = true)},
       |${topOf("postpairs", "postraw", filtered = false)},
       |posttop AS (SELECT p.query_id, p.vec_id FROM postraw p
       |  JOIN embeddings lb ON lb.vec_id = p.vec_id WHERE lb.label = $L),
       |bq AS (SELECT vec_id AS query_id, embedding AS qe FROM e WHERE vec_id < $NumQueries),
       |tr_ex AS (SELECT q.query_id, v.vec_id, unnest(q.qe) AS a, unnest(v.embedding) AS b
       |  FROM bq q JOIN (SELECT e.vec_id, e.embedding FROM e
       |    JOIN embeddings lb USING (vec_id) WHERE lb.label = $L) v
       |    ON v.vec_id <> q.query_id),
       |tr_d AS (SELECT query_id, vec_id,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM tr_ex GROUP BY query_id, vec_id),
       |truth AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, vec_id) AS rk
       |    FROM tr_d) WHERE rk <= $IvfTopK)
       |SELECT 'pre' AS arm, t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($IvfTopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN pretop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id
       |UNION ALL
       |SELECT 'post' AS arm, t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($IvfTopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN posttop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id""".stripMargin
  }

  /** q328: MMR DIVERSIFIED RERANK — Maximal Marginal Relevance
    * (Carbonell-Goldstein '98), the result-diversification pass every
    * retrieval surface eventually adds (a near-dup-heavy corpus fills
    * all k slots with copies of the same answer — q94's problem
    * surfacing at SERVE time): from each query's top-${GraftConfig
    * .default.mmrPool} relevance pool, select ${GraftConfig.default
    * .mmrK} results greedily, each pick maximizing λ·sim(q,d) −
    * (1−λ)·max_{s∈selected} sim(d,s) with λ = 1/2 — exact halves, so
    * the score is two IEEE multiplies and a subtract of
    * already-identical cosines and both engines rank bit-identically
    * (ties to the lowest vec_id; the first pick is the plain argmax).
    * Output one row per (query, rank): the selection order and the
    * MMR score that won the slot.
    *
    * Scale: the pool is a per-query partial top-k off ONE corpus scan
    * (q40's shape); the greedy then runs PER QUERY inside a single
    * exchange (groupByKey on query_id + flatMapGroups) — a query's
    * whole state is pool rows + pool² sims, knob-bounded and
    * corpus-independent, so at millions of queries the operator is
    * one shuffle + row-local work, never a k-round join cascade
    * (measured: the join-cascade formulation paid ~30 tiny shuffle
    * stages, 8.6 s at sf0.1, for arithmetic worth well under a
    * second). */
  def q328MmrRerank(spark: SparkSession, dir: String): DataFrame =
    mmrGreedyOn(spark, exactMmrPool(spark, dir))

  /** The EXACT relevance pool q328 diversifies: per query the
    * top-${GraftConfig.default.mmrPool} corpus vectors by cosine off
    * one broadcast-panel corpus scan (q40's shape). */
  private[graft] def exactMmrPool(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val q = broadcast(e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("n2").as("qn2")))
    val wPool = Window.partitionBy("query_id").orderBy(col("simq").desc, col("vec_id"))
    // one corpus scan builds the relevance pool (partial top-k)
    q.crossJoin(e)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Vec.cosineFromParts(Vec.dotN("qe", "embedding"), col("qn2"), col("n2")).as("simq"),
        col("embedding"))
      .withColumn("prk", row_number().over(wPool))
      .filter(col("prk") <= cfg.mmrPool)
      .select("query_id", "vec_id", "simq", "embedding")
  }

  /** The MMR greedy over an arbitrary (query_id, vec_id, simq,
    * embedding) relevance pool — q328 feeds it the exact pool, q331
    * the graph-ANN serving pool. */
  private[graft] def mmrGreedyOn(spark: SparkSession, poolDf: DataFrame): DataFrame = {
    import spark.implicits._
    val k = cfg.mmrK
    val pool = poolDf.select("query_id", "vec_id", "simq", "embedding")
      .as[(Long, Long, Double, Array[Float])]
    // the greedy runs PER QUERY inside one shuffle: a query's state is
    // pool rows + pool² sims — knob-bounded, so it is row-local work,
    // not a k-round join cascade (the first cut paid ~30 tiny shuffle
    // stages for the same arithmetic; at millions of queries this
    // shape is one exchange + map partitions). The in-group arithmetic
    // replicates the engine ops EXACTLY: the same fixed-point dot
    // (floor(x·y·1e13) summed as BIGINT), the same sqrt/division, the
    // same 0.5·a − 0.5·b — bit-for-bit what the oracle's CTE chain
    // computes (the FixedPointDotSpec replication discipline).
    pool.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cand = it.toArray.sortBy(c => (-c._3, c._2))
      val n = cand.length
      def dotFx(a: Array[Float], b: Array[Float]): Long = {
        var s = 0L; var i = 0
        while (i < a.length) {
          s += math.floor(a(i).toDouble * b(i).toDouble * 1e13).toLong; i += 1
        }
        s
      }
      val norm = cand.map(c => dotFx(c._4, c._4).toDouble)
      val sim = Array.ofDim[Double](n, n)
      var i = 0
      while (i < n) {
        var j = 0
        while (j < n) {
          if (i != j)
            sim(i)(j) = dotFx(cand(i)._4, cand(j)._4).toDouble /
              (math.sqrt(norm(i)) * math.sqrt(norm(j)))
          j += 1
        }
        i += 1
      }
      // O(pool·k) greedy: boolean membership + a running max-sim-to-
      // selected per candidate, folded in as each pick lands (the
      // round-16 nit: `selected.contains` + re-scanning the selected
      // set was a factor of k slower if mmrK is ever raised)
      val inSel = new Array[Boolean](n)
      val maxToSel = Array.fill(n)(Double.NegativeInfinity)
      inSel(0) = true
      var t = 0
      while (t < n) { if (t != 0) maxToSel(t) = sim(t)(0); t += 1 }
      var nSel = 1
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Double)](
        (qid, cand(0)._2, 1, cand(0)._3))
      var r = 2
      while (r <= k && nSel < n) {
        var best = -1
        var bestScore = 0.0
        var bestId = 0L
        var c = 0
        while (c < n) {
          if (!inSel(c)) {
            val sc = 0.5 * cand(c)._3 - 0.5 * maxToSel(c)
            if (best < 0 || sc > bestScore ||
                (sc == bestScore && cand(c)._2 < bestId)) {
              best = c; bestScore = sc; bestId = cand(c)._2
            }
          }
          c += 1
        }
        inSel(best) = true
        nSel += 1
        var u = 0
        while (u < n) {
          if (!inSel(u) && sim(u)(best) > maxToSel(u)) maxToSel(u) = sim(u)(best)
          u += 1
        }
        out += ((qid, cand(best)._2, r, bestScore))
        r += 1
      }
      out.iterator
    }.toDF("query_id", "vec_id", "rk", "mmr_score")
  }

  /** Oracle: the identical greedy, unrolled — one (maxsim, argmax)
    * CTE pair per rank, selected-set unions accumulated, every reused
    * table MATERIALIZED (the q150 inlining lesson). */
  def q328Sql: String = {
    val steps = (2 to cfg.mmrK).map { i =>
      s"""m$i AS MATERIALIZED (SELECT s.query_id, s.ida AS vec_id, max(s.sim) AS maxsim
         |  FROM sims s JOIN u${i - 1} u ON u.query_id = s.query_id AND u.vec_id = s.idb
         |  WHERE NOT EXISTS (SELECT 1 FROM u${i - 1} x
         |    WHERE x.query_id = s.query_id AND x.vec_id = s.ida)
         |  GROUP BY s.query_id, s.ida),
         |s$i AS MATERIALIZED (SELECT query_id, vec_id, $i AS rk, mmr AS mmr_score FROM (
         |  SELECT query_id, vec_id, mmr,
         |    row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, vec_id) AS r
         |  FROM (SELECT m.query_id, m.vec_id, 0.5 * p.simq - 0.5 * m.maxsim AS mmr
         |        FROM m$i m JOIN pool p ON p.query_id = m.query_id AND p.vec_id = m.vec_id))
         |  WHERE r = 1),
         |u$i AS MATERIALIZED (SELECT query_id, vec_id FROM u${i - 1}
         |  UNION ALL SELECT query_id, vec_id FROM s$i)""".stripMargin
    }.mkString(",\n")
    val out = (1 to cfg.mmrK).map(i => s"SELECT * FROM s$i").mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
       |pairs AS (SELECT query_id, vec_id, qe, embedding AS ve FROM q, embeddings
       |  WHERE vec_id <> query_id),
       |ex AS (SELECT query_id, vec_id, unnest(qe) AS a, unnest(ve) AS b FROM pairs),
       |dots AS (SELECT query_id, vec_id,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM ex GROUP BY query_id, vec_id),
       |pool AS MATERIALIZED (SELECT query_id, vec_id, simq FROM (
       |  SELECT query_id, vec_id,
       |    CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS simq,
       |    row_number() OVER (PARTITION BY query_id ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, vec_id) AS prk
       |  FROM dots) WHERE prk <= ${cfg.mmrPool}),
       |sp_ex AS (SELECT p1.query_id, p1.vec_id AS ida, p2.vec_id AS idb,
       |    unnest(e1.embedding) AS a, unnest(e2.embedding) AS b
       |  FROM pool p1 JOIN pool p2 USING (query_id)
       |  JOIN embeddings e1 ON e1.vec_id = p1.vec_id
       |  JOIN embeddings e2 ON e2.vec_id = p2.vec_id
       |  WHERE p1.vec_id <> p2.vec_id),
       |sp_d AS (SELECT query_id, ida, idb,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM sp_ex GROUP BY query_id, ida, idb),
       |sims AS MATERIALIZED (SELECT query_id, ida, idb,
       |    CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS sim
       |  FROM sp_d),
       |s1 AS MATERIALIZED (SELECT query_id, vec_id, 1 AS rk, simq AS mmr_score FROM (
       |  SELECT query_id, vec_id, simq,
       |    row_number() OVER (PARTITION BY query_id ORDER BY simq DESC, vec_id) AS r
       |  FROM pool) WHERE r = 1),
       |u1 AS MATERIALIZED (SELECT query_id, vec_id FROM s1),
       |$steps
       |$out""".stripMargin
  }

  /** Static replay: the q188 training chain on the base split, both
    * assignments, waves from the parity that DEFINES the landing. */
  def q325Sql: String = {
    val training = (1 to KmeansIters).map { i =>
      s"""${duckAssign(s"c${i - 1}", s"a$i", onlySample = true)},
         |${duckUpdate(s"a$i", s"c$i")}""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '${cfg.splitTrainUpper}'),
       |ed AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) >= '${cfg.splitTrainUpper}'),
       |c0 AS (SELECT vec_id AS cent_id, embedding AS ce FROM e WHERE vec_id < $NumCentroids),
       |$training,
       |${duckAssign(s"c$KmeansIters", "ab")},
       |${duckAssign(s"c$KmeansIters", "ad", src = "ed")},
       |bc AS (SELECT cell, CAST(count(*) AS BIGINT) AS base_n FROM ab GROUP BY 1),
       |dn AS (SELECT vec_id % 2 AS wave, cell, CAST(count(*) AS BIGINT) AS delta_n
       |  FROM ad GROUP BY 1, 2),
       |cum AS (SELECT wave, cell, delta_n,
       |    CAST(SUM(delta_n) OVER (PARTITION BY cell ORDER BY wave) AS BIGINT) AS delta_cum
       |  FROM dn),
       |wc AS (SELECT wave, CAST(SUM(SUM(delta_n)) OVER (ORDER BY wave) AS BIGINT) AS d_cum_total
       |  FROM dn GROUP BY wave),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_base FROM e)
       |SELECT c.wave, c.cell, c.delta_n, c.delta_cum,
       |  coalesce(bc.base_n, 0) AS base_n,
       |  ${DriftTDen} * w.d_cum_total >= ${DriftTNum} * nb.n_base AS retrain
       |FROM cum c JOIN wc w USING (wave) LEFT JOIN bc USING (cell) CROSS JOIN nb""".stripMargin
  }

  def q306Sql: String = {
    val points = (1 to ProbeCurveMax).map { np =>
      s"""qprobe$np AS (SELECT ia AS query_id, ib AS cell FROM (
         |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
         |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
         |    FROM af_dots WHERE ia < $NumQueries)
         |  WHERE rk <= $np),
         |qv$np AS (SELECT q.query_id, e.embedding AS qe, q.cell
         |  FROM qprobe$np q JOIN e ON e.vec_id = q.query_id),
         |cp$np AS (SELECT qv.query_id, av.vec_id, qv.qe, av.embedding AS ve
         |  FROM qv$np qv JOIN av USING (cell) WHERE av.vec_id <> qv.query_id),
         |tex$np AS (SELECT query_id AS ia, vec_id AS ib, unnest(qe) AS a, unnest(ve) AS b FROM cp$np),
         |tdots$np AS (SELECT ia, ib,
         |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
         |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
         |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
         |  FROM tex$np GROUP BY ia, ib),
         |top$np AS (SELECT ia, ib FROM (
         |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
         |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
         |    FROM tdots$np) WHERE rk <= $IvfTopK)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to ProbeCurveMax).map { np =>
      s"""SELECT $np AS nprobe, t.query_id, CAST(count(a.ib) AS BIGINT) AS n_hit,
         |  CAST(count(a.ib) AS DOUBLE) / $IvfTopK AS recall
         |FROM truth t LEFT JOIN top$np a
         |  ON a.ia = t.query_id AND a.ib = t.vec_id
         |GROUP BY t.query_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$trainedAssignCtes,
       |brute AS ($q40Sql),
       |truth AS (SELECT query_id, vec_id FROM brute WHERE rk <= $IvfTopK),
       |$points
       |$rows""".stripMargin
  }

  // ---------- OPQ-style layout ablation (q330) ----------

  /** The balanced-energy DIMENSION PERMUTATION — the transcendental-free
    * member of the OPQ family (Ge et al. '13 learn a full rotation by
    * alternating SVD; its standard cheap surrogate reorders dimensions
    * so each PQ subspace carries comparable variance — a permutation IS
    * an orthogonal rotation, just one expressible in exact integer
    * arithmetic, which the cross-engine hash gate requires where an SVD
    * is not). Per dimension the corpus energy Σ floor(x²·1e13) is an
    * exact order-free BIGINT; dims rank by (energy desc, dim asc) and
    * deal SNAKE-wise across the $PqM subspaces (block 0 deals 1..m,
    * block 1 deals m..1, …) so each subspace receives one dim per
    * energy block — the greedy balance. Requires PqM | dims (the same
    * equal-slice contract [[subExpr]] assumes). Output: the packed
    * one-row 1-based permutation (newpos order → old position). */
  private[graft] def opqPerm(e: DataFrame): DataFrame = {
    val en = e.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(sum(expr("CAST(floor(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)*1e13) AS BIGINT)")).as("en"))
    val wE = Window.orderBy(col("en").desc, col("pos"))
    val d = broadcast(en.agg((max(col("pos")) + 1).cast("long").as("d")))
    en.withColumn("rnk", row_number().over(wE).cast("long") - 1L)
      .crossJoin(d)
      .select(col("pos"),
        expr(s"IF((rnk div $PqM) % 2 = 0, rnk % $PqM + 1, $PqM - rnk % $PqM)").as("sub"),
        expr(s"rnk div $PqM").as("blk"), col("d"))
      .select(expr(s"(sub - 1) * (d div $PqM) + blk + 1").as("newpos"),
        (col("pos") + 1L).as("oldpos"))
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(newpos, oldpos))), s -> s.oldpos)")
        .as("perm"))
  }

  /** The corpus re-laid-out under [[opqPerm]] — a zero-shuffle map
    * (the one-row permutation broadcasts; element_at is codegen'd).
    * Keeps the `embedding` name so every PQ kernel applies unchanged. */
  private[graft] def opqPermuted(e: DataFrame): DataFrame =
    e.crossJoin(broadcast(opqPerm(e)))
      .select(col("vec_id"),
        expr("transform(perm, p -> CAST(element_at(embedding, CAST(p AS INT)) AS DOUBLE))")
          .as("embedding"))

  /** The PQ codebook trained on the PERMUTED corpus, persisted
    * content-keyed (the pq_cb lifecycle — the permutation itself is
    * recomputed on build, one tiny d-row aggregate). */
  private[graft] def persistedOpqCodebook(spark: SparkSession, dir: String,
      pe: => DataFrame): DataFrame =
    Artifact.getOrBuild(spark, "opq_cb", dir, Seq("embeddings.parquet"),
      s"m=$PqM,k=$PqK,i=$PqIters")(pqTrainOn(pe).write.parquet(_))

  /** q330: OPQ LAYOUT ABLATION — does an energy-balanced dimension
    * permutation before sub-quantization buy the IVF-PQ tier recall at
    * matched budget? (The q294/q317/q327 discipline: a serving-layout
    * policy ships only with its measured A/B.) Both arms share the
    * SAME IVF index, probe list, candidate set, code budget
    * ($PqM×$PqK, $PqIters iters) and the SAME persisted l2_truth; arm
    * `id` is exactly q261's ADC search (identity layout), arm `opq`
    * trains and encodes over [[opqPermuted]] — a permutation is
    * orthogonal, so full-space L2 (the truth) is untouched and ONLY
    * the subspace decomposition differs, which is the entire OPQ
    * question. MEASURED at sf0.01: mean recall@$IvfTopK 0.267 id vs
    * 0.167 opq (n_hit 8 vs 5 of 30) — on this near-isotropic
    * synthetic corpus the energy profile is flat, the balanced layout
    * buys nothing, and breaking the natural dimension adjacency
    * actually COSTS recall, so the identity layout stays q261's
    * default (the q223 honesty rule: the refinement's value is a
    * NUMBER, and here the number says don't adopt — the expected
    * outcome the round-15 verdict predicted for isotropic data). A
    * corpus with skewed per-dimension energy re-runs this row before
    * flipping the default; the serve-time cost of either layout is
    * identical (the permutation is fixed at encode time).
    *
    * Scale: one extra d-row aggregate + a zero-shuffle relayout scan
    * at ENCODE time only; serving cost is bit-identical to q261 (same
    * LUT sizes, same candidate joins). */
  def q330OpqAblation(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val cents = trainIndex(spark, dir)
    // NOT lineage-cut deliberately (measured 3.8 → 4.4 s with a lazy
    // cut at sf0.1): the per-subspace LUT arms filter pe to the
    // NumQueries query rows, and that predicate reaches the parquet
    // scan only while pe stays a plain plan — materializing the full
    // permuted corpus costs more than the pruned recomputes save
    val pe = opqPermuted(e)
    val cb = persistedOpqCodebook(spark, dir, pe)
    val assigned = assign(e, cents).select(col("vec_id"), col("cell"))
    val qv = e.filter(col("vec_id") < NumQueries)
    val probes = probeCells(qv, cents, cfg.ivfNprobe)
      .select(col("vec_id").as("query_id"), col("cell"))
    val cand = broadcast(probes).join(assigned, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val codes = pqEncodeWith(pe, cb)
    val pq = pe.filter(col("vec_id") < NumQueries)
    val luts = (1 to PqM).map { s =>
      broadcast(pq.select(col("vec_id").as("query_id"), expr(subExpr(s)).as("qs"))
        .withColumn("qn2s", expr("vec_dot_fixed(qs, qs)"))
        .crossJoin(broadcast(cb.filter(col("sub_id") === s)))
        .select(col("query_id"), col("cent_id").as(s"c$s"),
          (col("qn2s") + expr("vec_dot_fixed(ce, ce)")
            - lit(2L) * expr("vec_dot_fixed(qs, ce)")).as(s"d$s")))
    }
    val withCodes = cand.join(codes, "vec_id")
    val oad = luts.zipWithIndex.foldLeft(withCodes) { case (acc, (lut, i)) =>
      acc.join(lut, Seq("query_id", s"c${i + 1}"))
    }.select(col("query_id"), col("vec_id"),
      (1 to PqM).map(s => col(s"d$s")).reduce(_ + _).as("ad2"))
    val w = Window.partitionBy("query_id").orderBy(col("ad2"), col("vec_id"))
    val opqTop = oad.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= IvfTopK).select("query_id", "vec_id")
    val idTop = q261IvfPqSearch(spark, dir).select("query_id", "vec_id")
    val truth = persistedL2Truth(spark, dir)
      .filter(col("rk") <= IvfTopK).select("query_id", "vec_id")
    def scored(arm: String, hits: DataFrame): DataFrame =
      truth.join(hits.withColumn("hit", lit(1L)), Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit(arm).as("arm"), col("query_id"), col("n_hit"),
          (col("n_hit").cast("double") / IvfTopK).as("recall"))
    scored("id", idTop).unionByName(scored("opq", opqTop))
  }

  def q330Sql: String = {
    // the permuted-arm PQ chain mirrors pqTrainCtes over pv (the
    // permuted corpus) with o-prefixed names so it coexists with the
    // id arm's chain inside one statement
    val oTraining = (1 to PqM).map { s =>
      val iters = (1 to PqIters).map { i =>
        s"""${pqDuckAssign(s, s"oc${s}_${i - 1}", s"oa${s}_$i", src = s"os$s")},
           |${pqDuckUpdate(s, s"oa${s}_$i", s"oc${s}_$i", src = s"os$s")}""".stripMargin
      }.mkString(",\n")
      s"""os$s AS (SELECT vec_id, ${pqSubSqlDuck(s)} AS sub FROM pv),
         |oc${s}_0 AS (SELECT vec_id AS cent_id,
         |    list_transform(sub, x -> CAST(x AS DOUBLE)) AS ce
         |  FROM os$s WHERE vec_id < $PqK),
         |$iters,
         |${pqDuckAssign(s, s"oc${s}_$PqIters", s"of$s", src = s"os$s")}""".stripMargin
    }.mkString(",\n")
    val oCodeJoins = (2 to PqM).map(s => s"JOIN of$s USING (vec_id)").mkString(" ")
    val oCodeCols = (1 to PqM).map(s => s"of$s.cell AS c$s").mkString(", ")
    val oLutCtes = (1 to PqM).map { s =>
      s"""oqs$s AS (SELECT vec_id AS query_id, ${pqSubSqlDuck(s)} AS qs
         |  FROM pv WHERE vec_id < $NumQueries),
         |olut${s}_ex AS (SELECT q.query_id, c.cent_id,
         |    unnest(q.qs) AS a, unnest(c.ce) AS b
         |  FROM oqs$s q, oc${s}_$PqIters c),
         |olut$s AS (SELECT query_id, cent_id,
         |    SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(a AS DOUBLE)*1e13) AS BIGINT))
         |      + SUM(CAST(floor(CAST(b AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT))
         |      - 2*SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT)) AS d2
         |  FROM olut${s}_ex GROUP BY query_id, cent_id)""".stripMargin
    }.mkString(",\n")
    val oLutJoins = (1 to PqM).map(s =>
      s"JOIN olut$s l$s ON l$s.query_id = c.query_id AND l$s.cent_id = x.c$s")
      .mkString("\n|  ")
    val oAdSum = (1 to PqM).map(s => s"l$s.d2").mkString(" + ")
    s"""$ivfPqCtes,
       |dim AS (SELECT g AS pos,
       |    SUM(CAST(floor(CAST(embedding[g] AS DOUBLE)*CAST(embedding[g] AS DOUBLE)*1e13) AS BIGINT)) AS en
       |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS g) t
       |  GROUP BY g),
       |dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM dim),
       |prm AS (SELECT pos AS oldpos,
       |    CASE WHEN (rnk // $PqM) % 2 = 0 THEN (rnk % $PqM) + 1
       |         ELSE $PqM - (rnk % $PqM) END AS sub,
       |    rnk // $PqM AS blk
       |  FROM (SELECT pos, CAST(row_number() OVER (ORDER BY en DESC, pos) AS BIGINT) - 1 AS rnk
       |        FROM dim)),
       |perm AS (SELECT (sub - 1) * (d // $PqM) + blk + 1 AS newpos, oldpos FROM prm, dd),
       |pv AS (SELECT e.vec_id,
       |    array_agg(CAST(e.embedding[p.oldpos] AS DOUBLE) ORDER BY p.newpos) AS embedding
       |  FROM e CROSS JOIN perm p GROUP BY e.vec_id),
       |$oTraining,
       |ocodesj AS (SELECT of1.vec_id, $oCodeCols FROM of1 $oCodeJoins),
       |$oLutCtes,
       |oadx AS (SELECT c.query_id, c.vec_id, CAST($oAdSum AS BIGINT) AS ad2
       |  FROM cand c JOIN ocodesj x USING (vec_id)
       |  $oLutJoins),
       |oadtop AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY ad2, vec_id) AS rk
       |    FROM oadx) WHERE rk <= $IvfTopK),
       |tr_ex AS (SELECT q.vec_id AS qid, e2.vec_id AS xid,
       |    unnest(q.embedding) AS a, unnest(e2.embedding) AS b
       |  FROM (SELECT * FROM embeddings WHERE vec_id < $NumQueries) q, embeddings e2
       |  WHERE e2.vec_id <> q.vec_id),
       |tr_d AS (SELECT qid, xid,
       |    SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(a AS DOUBLE)*1e13) AS BIGINT))
       |      + SUM(CAST(floor(CAST(b AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT))
       |      - 2*SUM(CAST(floor(CAST(a AS DOUBLE)*CAST(b AS DOUBLE)*1e13) AS BIGINT)) AS d2
       |  FROM tr_ex GROUP BY qid, xid),
       |truth AS (SELECT qid AS query_id, xid AS vec_id FROM (
       |    SELECT qid, xid, row_number() OVER (PARTITION BY qid ORDER BY d2, xid) AS rk
       |    FROM tr_d) WHERE rk <= $IvfTopK)
       |SELECT 'id' AS arm, t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($IvfTopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN adtop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id
       |UNION ALL
       |SELECT 'opq' AS arm, t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($IvfTopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN oadtop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id""".stripMargin
  }

  // ---------- MMR over the serving tier (q331) ----------

  /** Prefixed MMR greedy CTE chain over `$poolTbl(query_id, vec_id,
    * simq)`: pairwise pool sims from the embeddings table, then one
    * (maxsim, argmax) CTE pair per rank with every reused table
    * MATERIALIZED (the q150 inlining lesson) — ends at
    * `${"$"}{p}sel(query_id, vec_id, rk, mmr_score)`. The prefix lets
    * two pools' greedies coexist in one statement (q331 unrolls the
    * exact arm AND the serving arm). */
  private def mmrGreedySqlCtes(p: String, poolTbl: String): String = {
    val steps = (2 to cfg.mmrK).map { i =>
      s"""${p}m$i AS MATERIALIZED (SELECT s.query_id, s.ida AS vec_id, max(s.sim) AS maxsim
         |  FROM ${p}sims s JOIN ${p}u${i - 1} u ON u.query_id = s.query_id AND u.vec_id = s.idb
         |  WHERE NOT EXISTS (SELECT 1 FROM ${p}u${i - 1} x
         |    WHERE x.query_id = s.query_id AND x.vec_id = s.ida)
         |  GROUP BY s.query_id, s.ida),
         |${p}s$i AS MATERIALIZED (SELECT query_id, vec_id, $i AS rk, mmr AS mmr_score FROM (
         |  SELECT query_id, vec_id, mmr,
         |    row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, vec_id) AS r
         |  FROM (SELECT m.query_id, m.vec_id, 0.5 * p.simq - 0.5 * m.maxsim AS mmr
         |        FROM ${p}m$i m JOIN $poolTbl p ON p.query_id = m.query_id AND p.vec_id = m.vec_id))
         |  WHERE r = 1),
         |${p}u$i AS MATERIALIZED (SELECT query_id, vec_id FROM ${p}u${i - 1}
         |  UNION ALL SELECT query_id, vec_id FROM ${p}s$i)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to cfg.mmrK).map(i => s"SELECT * FROM ${p}s$i").mkString("\n  UNION ALL ")
    s"""${p}sp_ex AS (SELECT p1.query_id, p1.vec_id AS ida, p2.vec_id AS idb,
       |    unnest(e1.embedding) AS a, unnest(e2.embedding) AS b
       |  FROM $poolTbl p1 JOIN $poolTbl p2 USING (query_id)
       |  JOIN embeddings e1 ON e1.vec_id = p1.vec_id
       |  JOIN embeddings e2 ON e2.vec_id = p2.vec_id
       |  WHERE p1.vec_id <> p2.vec_id),
       |${p}sp_d AS (SELECT query_id, ida, idb,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM ${p}sp_ex GROUP BY query_id, ida, idb),
       |${p}sims AS MATERIALIZED (SELECT query_id, ida, idb,
       |    CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS sim
       |  FROM ${p}sp_d),
       |${p}s1 AS MATERIALIZED (SELECT query_id, vec_id, 1 AS rk, simq AS mmr_score FROM (
       |  SELECT query_id, vec_id, simq,
       |    row_number() OVER (PARTITION BY query_id ORDER BY simq DESC, vec_id) AS r
       |  FROM $poolTbl) WHERE r = 1),
       |${p}u1 AS MATERIALIZED (SELECT query_id, vec_id FROM ${p}s1),
       |$steps,
       |${p}sel AS MATERIALIZED ($sel)""".stripMargin
  }

  /** q339: THE FULL SERVING PAGE — filter + ANN + diversify composed
    * end to end, the result surface a production retrieval head
    * actually returns: q326's PRE-FILTERED candidate walk (label
    * predicate at candidate generation, persisted IVF index, nprobe
    * probed cells) ranks a top-${GraftConfig.default.mmrPool}
    * eligible pool per query, and q328's λ=1/2 fixed-point MMR greedy
    * diversifies it down to ${GraftConfig.default.mmrK} slots — the
    * composition answer to "give me k DIVERSE results matching this
    * tenant/language/freshness filter". Pool sizes are
    * selectivity-bounded (≈10% of probed-cell members here), so some
    * queries legitimately fill fewer than k slots — the greedy stops
    * at the pool, identically in both engines.
    *
    * Scale: q326's cell-bounded filtered serve (one pushed predicate
    * past q41's plan) + q328's one-exchange per-query greedy; nothing
    * new shuffles — composition is plan reuse, not new machinery. */
  def q339FilteredMmrPage(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
      .withColumn("n2", Vec.norm2N("embedding"))
    val cents = trainIndex(spark, dir)
    val qv = e.filter(col("vec_id") < NumQueries)
    val pool = serveAssigned(
        assign(e, cents).filter(col("label") === AnnFilterLabel),
        qv, cents, cfg.ivfNprobe, k = cfg.mmrPool)
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("query_id"), col("vec_id"), col("cosine").as("simq"), col("embedding"))
    mmrGreedyOn(spark, pool)
  }

  def q339Sql: String =
    s"""$trainedAssignCtes,
       |qprobe AS (SELECT ia AS query_id, ib AS cell FROM (
       |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
       |    FROM af_dots WHERE ia < $NumQueries)
       |  WHERE rk <= ${cfg.ivfNprobe}),
       |qv AS (SELECT q.query_id, e.embedding AS qe, q.cell
       |  FROM qprobe q JOIN e ON e.vec_id = q.query_id),
       |cellpairs AS (SELECT qv.query_id, av.vec_id, qv.qe, av.embedding AS ve
       |  FROM qv JOIN av USING (cell)
       |  JOIN embeddings lb ON lb.vec_id = av.vec_id
       |  WHERE av.vec_id <> qv.query_id AND lb.label = ${AnnFilterLabel}),
       |top_ex AS (SELECT query_id AS ia, vec_id AS ib, unnest(qe) AS a, unnest(ve) AS b FROM cellpairs),
       |top_dots AS (SELECT ia, ib,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM top_ex GROUP BY ia, ib),
       |fpool AS MATERIALIZED (SELECT query_id, vec_id, simq FROM (
       |  SELECT ia AS query_id, ib AS vec_id,
       |    CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS simq,
       |    row_number() OVER (PARTITION BY ia ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS prk
       |  FROM top_dots) WHERE prk <= ${cfg.mmrPool}),
       |${mmrGreedySqlCtes("f", "fpool")}
       |SELECT query_id, vec_id, rk, mmr_score FROM fsel""".stripMargin

  /** q344: DIVERSIFIED HYBRID PAGE — q110's sparse+dense RRF fusion
    * fed through q328's MMR greedy, the last composition of the
    * serving stack (q339 diversified the FILTERED dense page; this
    * diversifies the HYBRID one — the page a RAG retrieval head
    * actually returns): the fused top-${GraftConfig.rrfTopK}
    * pool's RRF scores MIN-MAX NORMALIZE within the pool (q277's
    * order-free-extremes normalization — raw RRF lives on a 1/(k+r)
    * scale that λ=1/2 would drown against cosine redundancy; a
    * constant pool normalizes to 1) and the same fixed-point greedy
    * picks ${GraftConfig.default.mmrK} slots balancing fused
    * relevance against embedding-space redundancy. Text/vector ids
    * align by construction (the corpus's embedding table is keyed by
    * doc id — the q34/q282 convention), so the pairwise-sim machinery
    * applies unchanged.
    *
    * Scale: q110's pool-then-fuse bones (corpus work = one token scan
    * + one broadcast-query embedding scan) + a pool²-bounded greedy —
    * the composition adds nothing corpus-sized. */
  def q344HybridMmr(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val fused = Ranking.q110HybridRrf(spark, dir)
    val ex = broadcast(fused.agg(min(col("rrf")).as("lo"), max(col("rrf")).as("hi")))
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val pool = fused.crossJoin(ex)
      .select(lit(GraftConfig.hybridQueryVec.toLong).as("query_id"),
        col("doc_id").as("vec_id"),
        when(col("hi") === col("lo"), lit(1.0))
          .otherwise((col("rrf") - col("lo")) / (col("hi") - col("lo"))).as("simq"))
      .join(e, "vec_id")
      .select("query_id", "vec_id", "simq", "embedding")
    mmrGreedyOn(spark, pool)
  }

  def q344Sql: String =
    s"""WITH hf AS (${Ranking.q110Sql}),
       |hext AS (SELECT min(rrf) AS lo, max(rrf) AS hi FROM hf),
       |hpool AS MATERIALIZED (SELECT CAST(${GraftConfig.hybridQueryVec} AS BIGINT) AS query_id,
       |    doc_id AS vec_id,
       |    CASE WHEN hi = lo THEN 1.0 ELSE (rrf - lo) / (hi - lo) END AS simq
       |  FROM hf, hext),
       |${mmrGreedySqlCtes("h", "hpool")}
       |SELECT query_id, vec_id, rk, mmr_score FROM hsel""".stripMargin

  /** q351: CROSS-MODAL HYBRID PAGE — the remaining cell of the
    * hybrid×modality matrix (q110/q344 fuse sparse+dense TEXT; this
    * fuses ACROSS modality indexes): one query doc retrieves from the
    * dense text-embedding index (q110's vector arm — cosine top-pool
    * for the broadcast query embedding) AND from the image-descriptor
    * index (q303's exact integer squared-L2 kernel over the decoded
    * thumbnails, the same doc's image as the visual query — ids align
    * by the corpus's embedding-keyed-by-doc_id convention), the two
    * ranked pools fuse by RRF (rank-only — the right combiner across
    * modalities, where cosine and squared-L2 share no scale), and the
    * fused page diversifies through the q344 tail: pool-local min-max
    * normalization, then the λ=1/2 fixed-point MMR greedy with
    * redundancy measured in the shared dense space. A text-only and
    * an image-only hit can now share one page, ranked comparably —
    * what "search the corpus, not the modality" means operationally.
    *
    * Scale: each arm is one broadcast-query scan + a PoolK-bounded
    * partial top-k (never a corpus sort); the fuse is a PoolK-row
    * full-outer; the greedy is q328's knob-bounded groupByKey. The
    * oracle unrolls BOTH pools (embedding dots + descriptor elements
    * recomputed from character codes) and the prefixed greedy in one
    * statement. */
  def q351CrossModalMmr(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    import graft.functions.Vec
    val PoolK = cfg.rrfPoolK
    val RrfC = GraftConfig.rrfK
    val qid = GraftConfig.hybridQueryVec
    // dense text arm: q110's vector pool
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("n2", Vec.norm2N("embedding"))
    val tq = broadcast(e.filter(col("vec_id") === qid)
      .select(col("embedding").as("qe"), col("n2").as("qn2")))
    val textPool = e.filter(col("vec_id") =!= qid).crossJoin(tq)
      .select(col("vec_id").as("doc_id"),
        Vec.cosineFromParts(Vec.dotN("qe", "embedding"), col("qn2"), col("n2")).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id")).limit(PoolK)
      .withColumn("trank",
        row_number().over(Window.orderBy(col("cosine").desc, col("doc_id"))).cast("long"))
    // image arm: q303's exact integer squared-L2 kernel, same query doc
    val d = Multimodal.keyedDescriptors(spark, dir)
      .select(col("doc_id"), col("desc"), col("n2"))
    val iq = broadcast(d.filter(col("doc_id") === qid)
      .select(col("desc").as("qd"), col("n2").as("iqn2")))
    val imgPool = d.filter(col("doc_id") =!= qid).crossJoin(iq)
      .select(col("doc_id"),
        (col("iqn2") + col("n2") - lit(2L) * expr("vec_dot_long(qd, desc)")).as("d2"))
      .orderBy(col("d2"), col("doc_id")).limit(PoolK)
      .withColumn("irank",
        row_number().over(Window.orderBy(col("d2"), col("doc_id"))).cast("long"))
    // RRF across modalities (rank-only — no shared score scale)
    val rrf =
      when(col("trank").isNotNull, lit(1.0) / (lit(RrfC) + col("trank"))).otherwise(lit(0.0)) +
      when(col("irank").isNotNull, lit(1.0) / (lit(RrfC) + col("irank"))).otherwise(lit(0.0))
    val fused = textPool.select("doc_id", "trank")
      .join(imgPool.select("doc_id", "irank"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), rrf.as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(GraftConfig.rrfTopK)
    // the q344 tail: pool-local min-max, then the fixed-point greedy
    val ex = broadcast(fused.agg(min(col("rrf")).as("lo"), max(col("rrf")).as("hi")))
    val pool = fused.crossJoin(ex)
      .select(lit(qid.toLong).as("query_id"),
        col("doc_id").as("vec_id"),
        when(col("hi") === col("lo"), lit(1.0))
          .otherwise((col("rrf") - col("lo")) / (col("hi") - col("lo"))).as("simq"))
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")), "vec_id")
      .select("query_id", "vec_id", "simq", "embedding")
    mmrGreedyOn(spark, pool)
  }

  def q351Sql: String = {
    val PoolK = cfg.rrfPoolK
    val RrfC = GraftConfig.rrfK
    val qid = GraftConfig.hybridQueryVec
    s"""WITH ${Multimodal.imgElemsCtes},
       |tq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $qid),
       |tpairs AS (SELECT vec_id AS doc_id, qe, embedding AS ve FROM embeddings, tq
       |  WHERE vec_id <> $qid),
       |tex AS (SELECT doc_id, unnest(qe) AS a, unnest(ve) AS b FROM tpairs),
       |tdots AS (SELECT doc_id,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM tex GROUP BY doc_id),
       |tpool AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY cosine DESC, doc_id) AS trank
       |  FROM (SELECT doc_id,
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS cosine
       |    FROM tdots
       |    ORDER BY cosine DESC, doc_id LIMIT $PoolK)),
       |iq AS (SELECT idx, v FROM elems WHERE doc_id = $qid),
       |idd AS (SELECT e.doc_id, CAST(SUM((q.v - e.v) * (q.v - e.v)) AS BIGINT) AS d2
       |  FROM iq q JOIN elems e ON e.idx = q.idx AND e.doc_id <> $qid
       |  GROUP BY e.doc_id),
       |ipool AS (SELECT doc_id, row_number() OVER (ORDER BY d2, doc_id) AS irank
       |  FROM (SELECT doc_id, d2 FROM idd ORDER BY d2, doc_id LIMIT $PoolK)),
       |xf AS (SELECT coalesce(t.doc_id, i.doc_id) AS doc_id,
       |    (CASE WHEN t.trank IS NOT NULL THEN 1.0/($RrfC + t.trank) ELSE 0.0 END)
       |  + (CASE WHEN i.irank IS NOT NULL THEN 1.0/($RrfC + i.irank) ELSE 0.0 END) AS rrf
       |  FROM tpool t FULL OUTER JOIN ipool i ON i.doc_id = t.doc_id),
       |xtop AS (SELECT doc_id, rrf FROM xf ORDER BY rrf DESC, doc_id LIMIT ${GraftConfig.rrfTopK}),
       |xext AS (SELECT min(rrf) AS lo, max(rrf) AS hi FROM xtop),
       |xpool AS MATERIALIZED (SELECT CAST($qid AS BIGINT) AS query_id, doc_id AS vec_id,
       |    CASE WHEN hi = lo THEN 1.0 ELSE (rrf - lo) / (hi - lo) END AS simq
       |  FROM xtop, xext),
       |${mmrGreedySqlCtes("x", "xpool")}
       |SELECT query_id, vec_id, rk, mmr_score FROM xsel""".stripMargin
  }

  /** The tombstoned (deleted) vector band: the q296/q340 md5
    * retraction rule applied to vec_ids — deletes arrive AFTER the
    * index trained, the realistic serving state. */
  private def vecTombstoned: Column =
    substring(md5(col("vec_id").cast("string")), 1, 2) >= GraftConfig.docRetractLower

  /** q341: TOMBSTONE-AWARE ANN SERVE — vector DELETION without
    * retraining (every production vector index's takedown path: the
    * index trained on the full corpus, a delete wave arrives, serving
    * must stop returning the deleted vectors NOW — retraining waits
    * for the nightly q309 swap): q41's plan with the tombstone
    * predicate at CANDIDATE GENERATION (the q326 pre-filter
    * discipline applied to deletes — every one of the k result slots
    * is spent on a LIVE vector), queries restricted to surviving
    * panel members, the SAME persisted centroid artifact (training
    * is NOT invalidated by deletes — centroids drift, recall decays,
    * and q342 prices exactly that decay plus the naive
    * post-filter alternative).
    *
    * Scale: q41's cost with one pushed predicate on the assignment
    * scan; the tombstone set itself is a filter/anti-join on the
    * delete ledger at 100 TB (the q249 logical-delete shape), never
    * a rewrite of the index. */
  def q341TombstoneServe(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val cents = trainIndex(spark, dir)
    val qv = e.filter(col("vec_id") < NumQueries && !vecTombstoned)
    serveAssigned(assign(e, cents).filter(!vecTombstoned), qv, cents, cfg.ivfNprobe)
  }

  private def tombSql: String =
    s"substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) >= '${GraftConfig.docRetractLower}'"

  def q341Sql: String =
    s"""$trainedAssignCtes,
       |qprobe AS (SELECT ia AS query_id, ib AS cell FROM (
       |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
       |    FROM af_dots WHERE ia < $NumQueries
       |      AND NOT (substr(md5(CAST(ia AS VARCHAR)), 1, 2) >= '${GraftConfig.docRetractLower}'))
       |  WHERE rk <= ${cfg.ivfNprobe}),
       |qv AS (SELECT q.query_id, e.embedding AS qe, q.cell
       |  FROM qprobe q JOIN e ON e.vec_id = q.query_id),
       |cellpairs AS (SELECT qv.query_id, av.vec_id, qv.qe, av.embedding AS ve
       |  FROM qv JOIN av USING (cell)
       |  WHERE av.vec_id <> qv.query_id AND NOT ($tombSql)),
       |top_ex AS (SELECT query_id AS ia, vec_id AS ib, unnest(qe) AS a, unnest(ve) AS b FROM cellpairs),
       |top_dots AS (SELECT ia, ib,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM top_ex GROUP BY ia, ib),
       |top_cos AS (SELECT ia, ib,
       |    CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS cosine
       |  FROM top_dots)
       |SELECT ia AS query_id, ib AS vec_id, rk, cosine FROM (
       |  SELECT ia, ib, cosine, row_number() OVER (PARTITION BY ia ORDER BY cosine DESC, ib) AS rk
       |  FROM top_cos) WHERE rk <= $IvfTopK""".stripMargin

  /** q343: STREAMING TOMBSTONE INGEST — the delete feed as a LIVE
    * STREAM (the q325/q335 pattern completing the delete axis:
    * takedown requests arrive all day, the index retrains nightly):
    * delete requests (the q341 band) land as files in two waves;
    * `foreachBatch` appends each micro-batch to the TOMBSTONE LEDGER
    * (the q249 logical-delete shape — an append-only id set, never an
    * index rewrite); the drain then serves q41's walk with the ledger
    * anti-joined at candidate generation. The final ledger equals the
    * full delete set regardless of batching, so the drain equals
    * batch q341 row for row and the SAME oracle gates both (the
    * q305/q288 twin discipline).
    *
    * Scale: per batch the work is one batch-sized parquet append —
    * ledger ingestion is O(requests), serving pays one anti-join of
    * the assignment scan against the ledger (broadcast at any
    * plausible takedown volume); the ledger is exactly what q309's
    * nightly retrain folds in before swapping. Run-unique scratch
    * (the q325 rule), dropped after the drain. */
  def q343StreamTombstones(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val conf = spark.sparkContext.hadoopConfiguration
    val run = java.util.UUID.randomUUID.toString.take(8)
    val landing = graft.sources.Scratch.dir(s"stomb_${run}_landing", dir)
    val ckpt = graft.sources.Scratch.dir(s"stomb_${run}_ckpt", dir)
    val ledger = graft.sources.Scratch.dir(s"stomb_${run}_ledger", dir)
    try {
      val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
      val cents = trainIndex(spark, dir)
      val deletes = e.filter(vecTombstoned).select("vec_id")
      val fs = new org.apache.hadoop.fs.Path(landing).getFileSystem(conf)
      Seq(deletes.filter(col("vec_id") % 2 === 0), deletes.filter(col("vec_id") % 2 === 1))
        .zipWithIndex.foreach { case (w, i) =>
          val before =
            if (fs.exists(new org.apache.hadoop.fs.Path(landing)))
              fs.listStatus(new org.apache.hadoop.fs.Path(landing)).map(_.getPath).toSet
            else Set.empty[org.apache.hadoop.fs.Path]
          w.repartition(1).write.mode("append").parquet(landing)
          fs.listStatus(new org.apache.hadoop.fs.Path(landing))
            .map(_.getPath).filterNot(before)
            .filter(_.getName.startsWith("part-"))
            .foreach(f => fs.setTimes(f, 1000L * (i + 1), -1))
        }
      val raw = spark.readStream
        .schema("vec_id BIGINT")
        .option("pathGlobFilter", "part-*")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
      val q = raw.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) b.write.mode("append").parquet(ledger)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val lsp = new org.apache.hadoop.fs.Path(ledger, "_SUCCESS")
      val tomb =
        if (lsp.getFileSystem(conf).exists(lsp)) spark.read.parquet(ledger)
        else deletes.limit(0)
      val qv = e.filter(col("vec_id") < NumQueries)
        .join(tomb, Seq("vec_id"), "left_anti")
      serveAssigned(
          assign(e, cents).join(broadcast(tomb), Seq("vec_id"), "left_anti"),
          qv, cents, cfg.ivfNprobe)
        .localCheckpoint(true)
    } finally Seq(landing, ckpt, ledger).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val dfs = p.getFileSystem(conf)
      if (dfs.exists(p)) dfs.delete(p, true)
    }
  }

  /** Drain ≡ batch: the same tombstone-aware serve oracle as q341. */
  def q343Sql: String = q341Sql

  /** Ledger compaction at a commit marker: every ledgered id is absent
    * from the index version that just committed, so the ledger resets
    * to EMPTY — data files drop, and one zero-byte `_folded_v<v>`
    * marker records WHICH version folded it (the crash-recovery rule:
    * a ledger whose fold marker is ≥ the serving head is already
    * folded; one without must still be anti-joined at serve). Pure
    * namenode metadata ops, |ledger files|-sized. */
  private[graft] def resetLedgerAt(fs: org.apache.hadoop.fs.FileSystem,
      ledger: String, v: Int): Unit = {
    val dir = new org.apache.hadoop.fs.Path(ledger)
    if (fs.exists(dir))
      fs.listStatus(dir).foreach(st => fs.delete(st.getPath, true))
    fs.mkdirs(dir)
    fs.create(new org.apache.hadoop.fs.Path(dir, s"_folded_v$v"), true).close()
  }

  /** q349: TOMBSTONE-FOLDING RETRAIN-AND-SWAP — the composition that
    * closes the nightly delete loop q341/q342/q343 opened (and q309's
    * scaladoc promised): all day, takedowns append to the q343 ledger
    * and serving anti-joins it (v1 below IS that state — the full-
    * corpus-trained centroids the anti-join tier reads); at night the
    * retrain trains on the SURVIVING corpus (ledger anti-joined out
    * BEFORE the Lloyd chain ever sees a vector — the corpus the index
    * SHOULD model, exactly as the reference re-runs its removal
    * preprocess per ingest so the assembler never sees removed reads:
    * GenNonContainedReads.java / RedundantRemoval.java), stages the
    * survivor-trained centroids AND the survivor assignment as v2 on
    * the CAS chain ([[graft.sources.VersionChain]] — q309's swap
    * discipline), and AT the commit marker the ledger COMPACTS TO
    * EMPTY ([[resetLedgerAt]] — its ids are now structurally absent
    * from the index). Post-swap serving reads the committed head and
    * DROPS THE ANTI-JOIN: candidate generation walks the persisted
    * survivor assignment, so deleted vectors cannot surface — not
    * because a filter caught them but because the index no longer
    * contains them. Output is the post-swap serve, and the oracle is
    * THE LEDGER-FREE PLAN: q41's serve trained on the surviving
    * corpus — proving the fold left zero ledger residue in the plan.
    *
    * Scale: the retrain is the nightly q41 train (ledger anti-join is
    * broadcast-sized at any plausible takedown volume); the swap is
    * one marker create + rename; the reset is |ledger files| metadata
    * ops; post-swap serve cost is q41's with the anti-join GONE — the
    * whole point of paying the fold. */
  def q349RetrainFold(spark: SparkSession, dir: String): DataFrame = {
    val run = java.util.UUID.randomUUID.toString.take(8)
    val root = graft.sources.Scratch.dir(s"foldchain_$run", dir)
    val ledger = graft.sources.Scratch.dir(s"fold_${run}_ledger", dir)
    val conf = spark.sparkContext.hadoopConfiguration
    try q349RetrainFoldAt(spark, dir, root, ledger).localCheckpoint(true)
    finally Seq(root, ledger).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val dfs = p.getFileSystem(conf)
      if (dfs.exists(p)) dfs.delete(p, true)
    }
  }

  private[graft] def q349RetrainFoldAt(spark: SparkSession, dir: String,
      root: String, ledger: String): DataFrame = {
    import graft.sources.VersionChain
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    if (fs.exists(new org.apache.hadoop.fs.Path(root)))
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    // the day's accumulated ledger — two takedown waves, the q343
    // arrival shape (append-only id set, never an index rewrite)
    val deletes = e.filter(vecTombstoned).select("vec_id")
    deletes.filter(col("vec_id") % 2 === 0).write.mode("append").parquet(ledger)
    deletes.filter(col("vec_id") % 2 === 1).write.mode("append").parquet(ledger)
    // v1: today's serving state — the full-corpus-trained centroids
    // the anti-join tier (q341/q343) reads
    val a1 = s"$root/_attempt_v1"
    trainIndex(spark, dir).write.parquet(s"$a1/cents")
    require(VersionChain.commit(fs, root, 1, a1), "empty chain: v1 must commit")
    // the fold: the retrain's corpus is base MINUS the ledger
    val led = spark.read.parquet(ledger)
    val survivors = graft.Ck.lazyStage(
      e.join(broadcast(led), Seq("vec_id"), "left_anti"), cfg)
    val a2 = s"$root/_attempt_v2"
    val cents2 = graft.Ck.lazyStage(trainIndexOn(survivors), cfg)
    cents2.write.parquet(s"$a2/cents")
    assign(survivors, cents2).select("vec_id", "cell").write.parquet(s"$a2/assign")
    // the atomic swap, and the ledger reset AT the commit marker
    require(VersionChain.commit(fs, root, 2, a2), "single writer: v2 must commit")
    resetLedgerAt(fs, ledger, 2)
    // post-swap serve: committed head only — no ledger read, no
    // anti-join; deleted ids are absent from the persisted assignment
    val head = VersionChain.latest(fs, root).get
    val hd = VersionChain.dataPath(root, head)
    val cents = spark.read.parquet(s"$hd/cents")
    val asg = spark.read.parquet(s"$hd/assign")
      .join(e, "vec_id")
      .select(col("cell"), col("vec_id"), col("embedding"), col("n2"))
    val qv = e.filter(col("vec_id") < NumQueries)
      .join(spark.read.parquet(s"$hd/assign").select("vec_id"), Seq("vec_id"), "left_semi")
    serveAssigned(asg, qv, cents, cfg.ivfNprobe)
  }

  /** The ledger-free plan: q41's serve over the surviving corpus —
    * training, seeding, sampling, assignment, panel all restricted to
    * survivors, zero ledger references anywhere in the statement. */
  def q349Sql: String =
    ivfServeSqlOver(trainedAssignCtesFor(s"WHERE NOT ($tombSql)"))

  /** q342: TOMBSTONE RECALL A/B — q341's measured answer (the q327
    * discipline on the delete axis): both arms probe the same
    * ${cfg.ivfNprobe} cells and keep $IvfTopK slots; arm `pre`
    * filters tombstones at candidate generation (q341 exactly), arm
    * `post` serves the unfiltered q41 walk and drops deleted results
    * AFTER the top-k is spent — the naive path whose surviving slots
    * shrink with the delete fraction. Both score against the exact
    * cosine truth over SURVIVORS for surviving queries, so the rows
    * also price the training-staleness decay q341 accepts (centroids
    * still reflect deleted mass). Exact integer counts; one fixed
    * division per row. MEASURED at sf0.01 (~12% delete band): pre 20
    * vs post 19 truth hits of 40 — pre-filter ahead as predicted and
    * adopted (q341 serves pre-filtered); the gap scales with the
    * delete fraction, which is the dial this row watches as takedown
    * waves accumulate between q309 retrains.
    *
    * Scale: two cell-bounded serves off ONE shared corpus assignment
    * + a queries×k eval join; the truth side scans the surviving
    * slice (the q327 truth shape). */
  def q342TombstoneRecall(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir).withColumn("n2", Vec.norm2N("embedding"))
    val cents = trainIndex(spark, dir)
    val qv = e.filter(col("vec_id") < NumQueries && !vecTombstoned)
    val assigned = graft.Ck.lazyStage(assign(e, cents), cfg)
    val pre = serveAssigned(assigned.filter(!vecTombstoned), qv, cents, cfg.ivfNprobe)
      .select(col("query_id"), col("vec_id"))
    val post = serveAssigned(assigned, qv, cents, cfg.ivfNprobe)
      .filter(!vecTombstoned)
      .select(col("query_id"), col("vec_id"))
    val live = e.filter(!vecTombstoned)
    val panel = broadcast(qv.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("n2").as("qn2")))
    val wT = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    val truth = panel.crossJoin(live)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Vec.cosineFromParts(Vec.dotN("qe", "embedding"), col("qn2"), col("n2")).as("cosine"))
      .withColumn("rk", row_number().over(wT))
      .filter(col("rk") <= IvfTopK)
      .select("query_id", "vec_id")
    def scored(arm: String, hits: DataFrame): DataFrame =
      truth.join(hits.withColumn("hit", lit(1L)), Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit(arm).as("arm"), col("query_id"), col("n_hit"),
          (col("n_hit").cast("double") / IvfTopK).as("recall"))
    scored("pre", pre).unionByName(scored("post", post))
  }

  def q342Sql: String = {
    def topOf(out: String, filtered: Boolean): String = {
      val f = if (filtered) s"AND NOT (${tombSql.replace("vec_id", "av.vec_id")})" else ""
      s"""${out}_cp AS (SELECT qv.query_id, av.vec_id, qv.qe, av.embedding AS ve
         |  FROM qv JOIN av USING (cell)
         |  WHERE av.vec_id <> qv.query_id $f),
         |${out}_ex AS (SELECT query_id AS ia, vec_id AS ib, unnest(qe) AS a, unnest(ve) AS b FROM ${out}_cp),
         |${out}_d AS (SELECT ia, ib,
         |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
         |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
         |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
         |  FROM ${out}_ex GROUP BY ia, ib),
         |$out AS (SELECT ia AS query_id, ib AS vec_id FROM (
         |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
         |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
         |    FROM ${out}_d) WHERE rk <= $IvfTopK)""".stripMargin
    }
    s"""$trainedAssignCtes,
       |qprobe AS (SELECT ia AS query_id, ib AS cell FROM (
       |    SELECT ia, ib, row_number() OVER (PARTITION BY ia ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, ib) AS rk
       |    FROM af_dots WHERE ia < $NumQueries
       |      AND NOT (substr(md5(CAST(ia AS VARCHAR)), 1, 2) >= '${GraftConfig.docRetractLower}'))
       |  WHERE rk <= ${cfg.ivfNprobe}),
       |qv AS (SELECT q.query_id, e.embedding AS qe, q.cell
       |  FROM qprobe q JOIN e ON e.vec_id = q.query_id),
       |${topOf("pretop", filtered = true)},
       |${topOf("postraw", filtered = false)},
       |posttop AS (SELECT query_id, vec_id FROM postraw
       |  WHERE NOT ($tombSql)),
       |bq AS (SELECT vec_id AS query_id, embedding AS qe FROM e
       |  WHERE vec_id < $NumQueries AND NOT ($tombSql)),
       |tr_ex AS (SELECT q.query_id, v.vec_id, unnest(q.qe) AS a, unnest(v.embedding) AS b
       |  FROM bq q JOIN (SELECT vec_id, embedding FROM e
       |    WHERE NOT ($tombSql)) v ON v.vec_id <> q.query_id),
       |tr_d AS (SELECT query_id, vec_id,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM tr_ex GROUP BY query_id, vec_id),
       |truth AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, vec_id) AS rk
       |    FROM tr_d) WHERE rk <= $IvfTopK)
       |SELECT 'pre' AS arm, t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($IvfTopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN pretop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id
       |UNION ALL
       |SELECT 'post' AS arm, t.query_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       |  CAST(count(a.vec_id) AS DOUBLE) / CAST($IvfTopK AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN posttop a
       |  ON a.query_id = t.query_id AND a.vec_id = t.vec_id
       |GROUP BY t.query_id""".stripMargin
  }

  /** q331: MMR OVER THE SERVING TIER — q328's scaladoc promises the
    * diversifier slots behind ANY retrieval head; this is the arm
    * that proves it on the PRODUCTION pool: the graph-ANN serve
    * (q279's persisted-graph beam walk, IVF-guided entries) ranks a
    * top-${GraftConfig.default.mmrPool} pool per query and the SAME
    * greedy (same λ=1/2 fixed-point arithmetic) diversifies it, A/B'd
    * against the exact-pool arm at matched pool size and k (the
    * q294/q317/q327 matched-budget discipline). Per (arm, query):
    * selection size, overlap with the exact arm's diversified page,
    * and relevance retention (selected ∩ exact cosine top-$TopK) —
    * all exact integer counts, no float aggregation. MEASURED at
    * sf0.01: both arms fill all 50 slots (10 queries × 5); the
    * serving arm keeps 20/26 of the exact arm's truth hits (77% of
    * the relevance the exact pool retains, at beam-walk cost instead
    * of a corpus scan) while agreeing with the exact DIVERSIFIED page
    * on 22/50 picks — the divergence lives almost entirely in the
    * diversity slots, where the approximate pool offers different
    * but equally-far alternatives; the truth-hit retention is the
    * dial that gates serving MMR, and the page-agreement number is
    * the honest record of how much the page changes.
    *
    * Scale: the serving arm never scans the corpus — pool cost is the
    * beam walk's (bounded frontier × hops), the greedy is the same
    * one-exchange groupByKey as q328, and the eval joins are
    * queries × k. The exact arm exists only as the eval's yardstick. */
  def q331MmrServing(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val e = emb(spark, dir)
    val edges = persistedKnnGraph(spark, dir)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    val spool = beamSearchOver(spark, dir, edges,
        Some(ivfGuidedEntries(spark, dir)), k = cfg.mmrPool)
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("query_id"), col("vec_id"), col("cosine").as("simq"), col("embedding"))
    val selX = graft.Ck.lazyStage(
      mmrGreedyOn(spark, exactMmrPool(spark, dir)), cfg)
    val selS = mmrGreedyOn(spark, spool)
    val truth = persistedBruteTruth(spark, dir).filter(col("rk") <= TopK)
      .select(col("query_id"), col("vec_id"), lit(1L).as("ct"))
    val xref = selX.select(col("query_id"), col("vec_id"), lit(1L).as("cx"))
    def armRow(name: String, sel: DataFrame): DataFrame =
      sel.select("query_id", "vec_id")
        .join(xref, Seq("query_id", "vec_id"), "left")
        .join(truth, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_sel"),
          sum(coalesce(col("cx"), lit(0L))).as("n_common_exact"),
          sum(coalesce(col("ct"), lit(0L))).as("n_hit_truth"))
        .select(lit(name).as("arm"), col("query_id"), col("n_sel"),
          col("n_common_exact"), col("n_hit_truth"))
    armRow("exact", selX).unionByName(armRow("serve", selS))
  }

  def q331Sql: String =
    s"""$beamWalkCtes,
       |spool AS MATERIALIZED (SELECT query_id, vec_id, simq FROM (
       |    SELECT query_id, vec_id, cosine AS simq,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS prk
       |    FROM vis${cfg.beamHops}) WHERE prk <= ${cfg.mmrPool}),
       |xpairs AS (SELECT q.vec_id AS query_id, v.vec_id, q.embedding AS qe, v.embedding AS ve
       |  FROM (SELECT * FROM embeddings WHERE vec_id < $NumQueries) q, embeddings v
       |  WHERE v.vec_id <> q.vec_id),
       |xex AS (SELECT query_id, vec_id, unnest(qe) AS a, unnest(ve) AS b FROM xpairs),
       |xdots AS (SELECT query_id, vec_id,
       |    ${Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM xex GROUP BY query_id, vec_id),
       |xranked AS (SELECT query_id, vec_id,
       |    CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) AS simq,
       |    row_number() OVER (PARTITION BY query_id ORDER BY
       |      CAST(dot AS DOUBLE)/(sqrt(CAST(na AS DOUBLE))*sqrt(CAST(nb AS DOUBLE))) DESC, vec_id) AS prk
       |  FROM xdots),
       |xpool AS MATERIALIZED (SELECT query_id, vec_id, simq FROM xranked WHERE prk <= ${cfg.mmrPool}),
       |mtruth AS (SELECT query_id, vec_id FROM xranked WHERE prk <= $TopK),
       |${mmrGreedySqlCtes("x", "xpool")},
       |${mmrGreedySqlCtes("s", "spool")}
       |SELECT 'exact' AS arm, s.query_id, CAST(count(*) AS BIGINT) AS n_sel,
       |  CAST(count(x.vec_id) AS BIGINT) AS n_common_exact,
       |  CAST(count(t.vec_id) AS BIGINT) AS n_hit_truth
       |FROM xsel s
       |LEFT JOIN xsel x ON x.query_id = s.query_id AND x.vec_id = s.vec_id
       |LEFT JOIN mtruth t ON t.query_id = s.query_id AND t.vec_id = s.vec_id
       |GROUP BY s.query_id
       |UNION ALL
       |SELECT 'serve' AS arm, s.query_id, CAST(count(*) AS BIGINT) AS n_sel,
       |  CAST(count(x.vec_id) AS BIGINT) AS n_common_exact,
       |  CAST(count(t.vec_id) AS BIGINT) AS n_hit_truth
       |FROM ssel s
       |LEFT JOIN xsel x ON x.query_id = s.query_id AND x.vec_id = s.vec_id
       |LEFT JOIN mtruth t ON t.query_id = s.query_id AND t.vec_id = s.vec_id
       |GROUP BY s.query_id""".stripMargin
}

/** Default-configured instance (see [[graft.GraftConfig]]). */
object Similarity extends SimilarityOps(GraftConfig.default)

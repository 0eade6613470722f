package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftConfig
import graft.sources.Tables

/** Term-weighting retrieval scores over the corpus: per-doc top-k TF-IDF
  * terms and BM25 scores for a fixed query-term list.
  *
  * Cross-engine determinism: no logarithms (libm `log` and JVM
  * `Math.log` differ in the last ulp, which a hash gate would catch), so
  * both scores use the division-form variants — every floating op is a
  * single IEEE multiply/divide over exact integers, bit-identical on any
  * conforming engine. The average document length feeding BM25 is
  * Σdl/N with the sum carried in exact integer arithmetic.
  */
class RankingOps(val cfg: GraftConfig) {
  // term ranking: per-doc top-k tf-idf terms and the BM25 parameters
  val TfidfTopK: Int = 3
  val K1: Double = 1.2
  val B: Double = 0.75
  val Terms: Seq[String] = cfg.bm25Terms
  private val termList = Terms.map(t => s"'$t'").mkString("(", ", ", ")")

  private def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")

  /** q87: top-$TfidfTopK TF-IDF terms per doc, division-form idf
    * weight (N+1)/(df+1), ties broken by term. Scale: tf and df are
    * both map-side-combinable aggregates off one token scan; the
    * tf⋈df join shuffles on token (df is per-token unique — no
    * fanout); the per-doc rank filter plans as a window group limit,
    * so no doc's terms ever leave its partition unranked. */
  def q87Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(spark, dir)
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = toks.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
    tf.join(df, "token").crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        (col("tf").cast("double") * (col("n") + lit(1.0)) / (col("df") + lit(1.0)))
          .as("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TfidfTopK)
      .select("doc_id", "token", "tf", "df", "score", "rk")
  }

  def q87Sql: String =
    s"""WITH toks AS (SELECT doc_id, t AS token FROM
       |    (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM documents),
       |s AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
       |    CAST(tf.tf AS DOUBLE) * (n.n + 1.0) / (df.df + 1.0) AS score
       |  FROM tf JOIN df USING (token) CROSS JOIN n)
       |SELECT doc_id, token, tf, df, score, rk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, token) AS rk FROM s)
       |WHERE rk <= $TfidfTopK""".stripMargin

  /** q90: BM25 term scores for the query terms $Terms — the classic
    * tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) saturation, idf-free so the
    * score stays transcendental-free. One row per (doc, present query
    * term). Scale: the query-term tf aggregate filters BEFORE
    * aggregating (the predicate reaches the token scan); dl is a
    * second map-side aggregate off the same scan; avgdl is a broadcast
    * scalar; the tf⋈dl join shuffles on doc_id only for docs holding a
    * query term. */
  def q90Bm25(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(spark, dir)
    // ONE per-doc aggregate carries dl and every query term's tf as
    // conditional sums — no tf⋈dl shuffle join; the stack() unpivot is
    // a free row-local generate afterwards
    val tfCols = Terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("token") === t, 1L).otherwise(0L)).as(s"tf$i")
    }
    val byDoc = toks.groupBy("doc_id")
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val stats = byDoc.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val stackArgs = Terms.zipWithIndex
      .map { case (t, i) => s"'$t', tf$i" }.mkString(", ")
    val k1 = lit(K1)
    val b = lit(B)
    byDoc.crossJoin(broadcast(stats))
      .selectExpr("doc_id", "dl", "avgdl",
        s"stack(${Terms.length}, $stackArgs) AS (token, tf)")
      .filter(col("tf") > 0)
      .select(col("doc_id"), col("token"), col("tf"), col("dl"),
        (col("tf").cast("double") * (k1 + lit(1.0)) /
          (col("tf") + k1 * (lit(1.0) - b + b * col("dl") / col("avgdl"))))
          .as("score"))
  }

  def q90Sql: String =
    s"""WITH toks AS (SELECT doc_id, t AS token FROM
       |    (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
       |  WHERE token IN $termList GROUP BY 1, 2)
       |SELECT tf.doc_id, tf.token, tf.tf, dl.dl,
       |  CAST(tf.tf AS DOUBLE) * (CAST($K1 AS DOUBLE) + 1.0) /
       |    (tf.tf + CAST($K1 AS DOUBLE) *
       |      (1.0 - CAST($B AS DOUBLE) + CAST($B AS DOUBLE) * dl.dl / stats.avgdl)) AS score
       |FROM tf JOIN dl USING (doc_id) CROSS JOIN stats""".stripMargin

  /** The two score-carrying retrieval pools (text: doc_id, bm25, brank;
    * vector: doc_id, cosine, vrank) — q110 fuses their RANKS (RRF),
    * q277 fuses their min-max-NORMALIZED scores; one pool builder
    * serves both fusions. */
  private def hybridPools(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    import graft.functions.Vec
    val PoolK = cfg.rrfPoolK
    // text side: q90's one-aggregate BM25, totalled per doc in fixed term order
    val tfCols = Terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("token") === t, 1L).otherwise(0L)).as(s"tf$i")
    }
    val byDoc = tokens(spark, dir).groupBy("doc_id")
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val stats = byDoc.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val k1 = lit(K1)
    val b = lit(B)
    def termScore(i: Int) = {
      val tf = col(s"tf$i")
      when(tf > 0,
        tf.cast("double") * (k1 + lit(1.0)) /
          (tf + k1 * (lit(1.0) - b + b * col("dl") / col("avgdl"))))
        .otherwise(lit(0.0))
    }
    val bmTot = Terms.indices.map(termScore).reduceLeft(_ + _)
    val bmPool = byDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), bmTot.as("bm25"))
      .filter(col("bm25") > 0.0)
      .orderBy(col("bm25").desc, col("doc_id")).limit(PoolK)
      .withColumn("brank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
    // vector side: one broadcast query embedding against the corpus scan
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .withColumn("n2", Vec.norm2N("embedding"))
    val q = broadcast(e.filter(col("vec_id") === GraftConfig.hybridQueryVec)
      .select(col("embedding").as("qe"), col("n2").as("qn2")))
    val vecPool = e.filter(col("vec_id") =!= GraftConfig.hybridQueryVec).crossJoin(q)
      .select(col("vec_id").as("doc_id"),
        Vec.cosineFromParts(Vec.dotN("qe", "embedding"), col("qn2"), col("n2")).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id")).limit(PoolK)
      .withColumn("vrank",
        row_number().over(Window.orderBy(col("cosine").desc, col("doc_id"))).cast("long"))
    (bmPool, vecPool)
  }

  /** q110: HYBRID retrieval — reciprocal-rank fusion of the BM25 text
    * ranking (query = $Terms) and the cosine vector ranking (query =
    * the embedding of vec_id ${GraftConfig.hybridQueryVec}), the standard
    * sparse+dense fusion of a modern retrieval stack. RRF works on
    * RANKS, not scores — 1/(k+r) terms from integer ranks, so the fused
    * score is deterministic across engines by construction.
    *
    * Scale shape — pool-then-fuse, never rank the corpus: each side
    * reduces to its top-$PoolK candidates via orderBy+limit
    * (TakeOrderedAndProject: per-partition top-k, one bounded merge);
    * ranks are assigned INSIDE the ≤$PoolK-row pools (the only
    * unpartitioned windows run on pool-sized data); the fusion is a
    * full outer join of two pool tables. The corpus-sized work is one
    * token scan (BM25 side, map-combinable conditional sums) and one
    * embedding scan against a single broadcast query vector. The BM25
    * total is a FIXED-ORDER chain of per-term IEEE terms, not a
    * float SUM, so both engines compute bit-identical pool orderings. */
  def q110HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val RrfC = GraftConfig.rrfK
    val (bmPool, vecPool) = hybridPools(spark, dir)
    // fuse: RRF over the union of the two pools; a missing side adds 0
    val rrf =
      when(col("brank").isNotNull, lit(1.0) / (lit(RrfC) + col("brank"))).otherwise(lit(0.0)) +
      when(col("vrank").isNotNull, lit(1.0) / (lit(RrfC) + col("vrank"))).otherwise(lit(0.0))
    bmPool.select("doc_id", "brank")
      .join(vecPool.select("doc_id", "vrank"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("brank"), col("vrank"), rrf.as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(GraftConfig.rrfTopK)
  }

  /** q277: MIN-MAX SCORE FUSION — the OTHER standard hybrid-retrieval
    * combiner beside q110's RRF: each pool's scores rescale to [0, 1]
    * by the pool's own min/max ((s − min)/(max − min); a constant pool
    * rescales to 1 — it is its own maximum) and the fused score is the
    * sum, with a missing side contributing 0 (q110's convention). RRF
    * uses only ranks and is scale-free but position-quantized; min-max
    * keeps score GAPS (two near-tied BM25 docs stay near-tied after
    * fusion) at the price of outlier sensitivity — shipping both lets
    * the eval pick per corpus. Determinism: every normalization is one
    * fixed IEEE chain over the pool's min/max (order-free extremes), so
    * both engines fuse bitwise-identically.
    *
    * Scale: identical to q110 — two partial-top-k pools (never a
    * corpus sort), one-row min/max broadcasts, a PoolK-row fuse. */
  def q277MinmaxFusion(spark: SparkSession, dir: String): DataFrame = {
    val (bmPool, vecPool) = hybridPools(spark, dir)
    val bs = bmPool.agg(min(col("bm25")).as("bmin"), max(col("bm25")).as("bmax"))
    val vs = vecPool.agg(min(col("cosine")).as("vmin"), max(col("cosine")).as("vmax"))
    def norm(s: Column, lo: Column, hi: Column): Column =
      when(s.isNull, lit(0.0))
        .when(hi === lo, lit(1.0))
        .otherwise((s - lo) / (hi - lo))
    bmPool.select("doc_id", "bm25")
      .join(vecPool.select("doc_id", "cosine"), Seq("doc_id"), "full_outer")
      .crossJoin(broadcast(bs)).crossJoin(broadcast(vs))
      .select(col("doc_id"), col("bm25"), col("cosine"),
        (norm(col("bm25"), col("bmin"), col("bmax"))
          + norm(col("cosine"), col("vmin"), col("vmax"))).as("fused"))
      .orderBy(col("fused").desc, col("doc_id")).limit(GraftConfig.rrfTopK)
  }

  def q277Sql: String = {
    val PoolK = cfg.rrfPoolK
    val tfConds = Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS tf$i"
    }.mkString(",\n|    ")
    val termScores = Terms.indices.map { i =>
      s"""(CASE WHEN tf$i > 0 THEN CAST(tf$i AS DOUBLE) * (CAST($K1 AS DOUBLE) + 1.0) /
         |      (tf$i + CAST($K1 AS DOUBLE) * (1.0 - CAST($B AS DOUBLE)
         |        + CAST($B AS DOUBLE) * dl / avgdl)) ELSE 0.0 END)""".stripMargin
    }.mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, t AS token FROM
       |    (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |bydoc AS (SELECT doc_id, count(*) AS dl,
       |    $tfConds
       |  FROM toks GROUP BY 1),
       |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl FROM bydoc),
       |bmtot AS (SELECT doc_id, $termScores AS bm25 FROM bydoc CROSS JOIN stats),
       |bmpool AS (SELECT doc_id, bm25
       |  FROM (SELECT * FROM bmtot WHERE bm25 > 0.0
       |        ORDER BY bm25 DESC, doc_id LIMIT $PoolK)),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = ${GraftConfig.hybridQueryVec}),
       |pairs AS (SELECT vec_id AS doc_id, qe, embedding AS ve FROM embeddings, q
       |  WHERE vec_id <> ${GraftConfig.hybridQueryVec}),
       |ex AS (SELECT doc_id, unnest(qe) AS a, unnest(ve) AS b FROM pairs),
       |dots AS (SELECT doc_id,
       |    ${graft.functions.Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${graft.functions.Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${graft.functions.Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM ex GROUP BY doc_id),
       |vecpool AS (SELECT doc_id,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
       |  FROM (SELECT * FROM dots
       |        ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC, doc_id
       |        LIMIT $PoolK)),
       |bstats AS (SELECT min(bm25) AS bmin, max(bm25) AS bmax FROM bmpool),
       |vstats AS (SELECT min(cosine) AS vmin, max(cosine) AS vmax FROM vecpool)
       |SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id, b.bm25, v.cosine,
       |  (CASE WHEN b.bm25 IS NULL THEN 0.0
       |        WHEN bmax = bmin THEN 1.0
       |        ELSE (b.bm25 - bmin) / (bmax - bmin) END)
       |  + (CASE WHEN v.cosine IS NULL THEN 0.0
       |          WHEN vmax = vmin THEN 1.0
       |          ELSE (v.cosine - vmin) / (vmax - vmin) END) AS fused
       |FROM bmpool b FULL OUTER JOIN vecpool v ON b.doc_id = v.doc_id
       |CROSS JOIN bstats CROSS JOIN vstats
       |ORDER BY fused DESC, doc_id LIMIT ${GraftConfig.rrfTopK}""".stripMargin
  }

  def q110Sql: String = {
    val PoolK = cfg.rrfPoolK
    val RrfC = GraftConfig.rrfK
    val tfConds = Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS tf$i"
    }.mkString(",\n|    ")
    val termScores = Terms.indices.map { i =>
      s"""(CASE WHEN tf$i > 0 THEN CAST(tf$i AS DOUBLE) * (CAST($K1 AS DOUBLE) + 1.0) /
         |      (tf$i + CAST($K1 AS DOUBLE) * (1.0 - CAST($B AS DOUBLE)
         |        + CAST($B AS DOUBLE) * dl / avgdl)) ELSE 0.0 END)""".stripMargin
    }.mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, t AS token FROM
       |    (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |bydoc AS (SELECT doc_id, count(*) AS dl,
       |    $tfConds
       |  FROM toks GROUP BY 1),
       |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl FROM bydoc),
       |bmtot AS (SELECT doc_id, $termScores AS bm25 FROM bydoc CROSS JOIN stats),
       |bmpool AS (SELECT doc_id, bm25,
       |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS brank
       |  FROM (SELECT * FROM bmtot WHERE bm25 > 0.0
       |        ORDER BY bm25 DESC, doc_id LIMIT $PoolK)),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = ${GraftConfig.hybridQueryVec}),
       |pairs AS (SELECT vec_id AS doc_id, qe, embedding AS ve FROM embeddings, q
       |  WHERE vec_id <> ${GraftConfig.hybridQueryVec}),
       |ex AS (SELECT doc_id, unnest(qe) AS a, unnest(ve) AS b FROM pairs),
       |dots AS (SELECT doc_id,
       |    ${graft.functions.Vec.dotDecSqlDuck("a", "b")} AS dot,
       |    ${graft.functions.Vec.dotDecSqlDuck("a", "a")} AS na,
       |    ${graft.functions.Vec.dotDecSqlDuck("b", "b")} AS nb
       |  FROM ex GROUP BY doc_id),
       |vecpool AS (SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, doc_id) AS BIGINT) AS vrank
       |  FROM (SELECT * FROM dots
       |        ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, doc_id LIMIT $PoolK))
       |SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id, b.brank, v.vrank,
       |  (CASE WHEN b.brank IS NOT NULL THEN 1.0 / ($RrfC + b.brank) ELSE 0.0 END)
       |  + (CASE WHEN v.vrank IS NOT NULL THEN 1.0 / ($RrfC + v.vrank) ELSE 0.0 END) AS rrf
       |FROM bmpool b FULL OUTER JOIN vecpool v ON b.doc_id = v.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT ${GraftConfig.rrfTopK}""".stripMargin
  }

  /** The micro-quantized per-(doc, term) BM25 score for a given term
    * set — shared by q256's two rounds. Each term's saturation is ONE
    * fixed IEEE chain over exact integers, then FLOORED to micro-units
    * (q154's lm_score_micro idiom): integer micro-scores SUM
    * order-free, which is what lets round 2 total over a
    * DATA-DEPENDENT term set without a float-summation order problem
    * (q110's fixed-order chain trick only works for literal term
    * lists). */
  private def bm25Micro(toks: DataFrame, dl: DataFrame, stats: DataFrame,
      termSet: DataFrame): DataFrame =
    toks.join(broadcast(termSet), "token")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .join(dl, "doc_id").crossJoin(broadcast(stats))
      .select(col("doc_id"), col("token"),
        expr(s"""CAST(floor(CAST(tf AS DOUBLE) * ($K1 + 1.0)
                |  / (tf + $K1 * (1.0 - $B + $B * dl / avgdl)) * 1000000)
                |  AS BIGINT)""".stripMargin).as("m"))

  /** q256: PSEUDO-RELEVANCE FEEDBACK expansion — the classic two-round
    * retrieval loop (Rocchio/RM-style): round 1 ranks with the base
    * query ($Terms), the top-${cfg.prfFeedbackDocs} docs are ASSUMED
    * relevant, their ${cfg.prfExpandTerms} most frequent non-query
    * terms join the query, and round 2 re-ranks with the expanded term
    * set — recall through vocabulary the user never typed, the
    * expansion half every serious retrieval stack runs beside q110's
    * fusion half. Both rounds are full-corpus BM25 scans; the driver
    * state between them is F doc ids + E terms (the BPE-trainer
    * bounded-round-trip discipline).
    *
    * Determinism under a DATA-DEPENDENT term set: per-term scores
    * quantize to integer micro-units BEFORE the per-doc total (floor
    * of one fixed IEEE chain — q154's idiom), so the round-2 sum is
    * order-free where q110's literal-chain trick cannot apply;
    * feedback and expansion picks carry total tie orders. Output: the
    * final top-${cfg.rrfPoolK} with expanded and base micro-scores
    * side by side — rank movement IS the measured effect of the
    * expansion (the eval rides in the result). */
  def q256PrfExpansion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val F = cfg.prfFeedbackDocs
    val E = cfg.prfExpandTerms
    val toks = tokens(spark, dir)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg((sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val baseTerms = Terms.toDF("token")
    val s1 = bm25Micro(toks, dl, stats, baseTerms)
      .groupBy("doc_id").agg(sum(col("m")).as("base_micro"))
    val fb = s1.orderBy(col("base_micro").desc, col("doc_id")).limit(F)
      .select("doc_id")
    val exp = toks.join(broadcast(fb), "doc_id")
      .filter(!col("token").isin(Terms: _*))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token")).limit(E)
      .select("token")
    val s2 = bm25Micro(toks, dl, stats, baseTerms.unionAll(exp).distinct())
      .groupBy("doc_id").agg(sum(col("m")).as("expanded_micro"))
    val pool = s2.orderBy(col("expanded_micro").desc, col("doc_id"))
      .limit(cfg.rrfPoolK)
    pool
      .withColumn("rank", row_number().over(
        Window.orderBy(col("expanded_micro").desc, col("doc_id"))))
      .join(s1, Seq("doc_id"), "left")
      .select(col("rank"), col("doc_id"), col("expanded_micro"),
        coalesce(col("base_micro"), lit(0L)).as("base_micro"))
  }

  def q256Sql: String = {
    val score =
      s"""CAST(floor(CAST(tf AS DOUBLE) * (CAST($K1 AS DOUBLE) + 1.0)
         |    / (tf + CAST($K1 AS DOUBLE) * (1.0 - CAST($B AS DOUBLE)
         |      + CAST($B AS DOUBLE) * dl / avgdl)) * 1000000) AS BIGINT)""".stripMargin
    s"""WITH toks AS (SELECT doc_id, t AS token FROM
       |    (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |tf1 AS (SELECT doc_id, token, count(*) AS tf FROM toks
       |  WHERE token IN $termList GROUP BY 1, 2),
       |s1 AS (SELECT tf1.doc_id, CAST(SUM($score) AS BIGINT) AS base_micro
       |  FROM tf1 JOIN dl USING (doc_id) CROSS JOIN stats GROUP BY 1),
       |fb AS (SELECT doc_id FROM s1 ORDER BY base_micro DESC, doc_id
       |  LIMIT ${cfg.prfFeedbackDocs}),
       |exp AS (SELECT token FROM toks JOIN fb USING (doc_id)
       |  WHERE token NOT IN $termList
       |  GROUP BY token ORDER BY count(*) DESC, token
       |  LIMIT ${cfg.prfExpandTerms}),
       |terms2 AS (SELECT DISTINCT token FROM
       |  (SELECT unnest([${Terms.map(t => s"'$t'").mkString(", ")}]) AS token
       |   UNION ALL SELECT token FROM exp)),
       |tf2 AS (SELECT t.doc_id, t.token, count(*) AS tf
       |  FROM toks t JOIN terms2 USING (token) GROUP BY 1, 2),
       |s2 AS (SELECT tf2.doc_id, CAST(SUM($score) AS BIGINT) AS expanded_micro
       |  FROM tf2 JOIN dl ON dl.doc_id = tf2.doc_id CROSS JOIN stats GROUP BY 1),
       |pool AS (SELECT doc_id, expanded_micro FROM s2
       |  ORDER BY expanded_micro DESC, doc_id LIMIT ${cfg.rrfPoolK})
       |SELECT CAST(row_number() OVER (ORDER BY p.expanded_micro DESC, p.doc_id)
       |    AS INTEGER) AS rank,
       |  p.doc_id, p.expanded_micro, coalesce(s1.base_micro, 0) AS base_micro
       |FROM pool p LEFT JOIN s1 USING (doc_id)""".stripMargin
  }
}

/** Default-configured instance (see [[graft.GraftConfig]]). */
object Ranking extends RankingOps(GraftConfig.default)

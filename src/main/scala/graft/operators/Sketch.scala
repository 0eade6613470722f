package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftConfig
import graft.sources.{Artifact, Tables}

/** Count-Min sketch (Cormode & Muthukrishnan '05) — the sublinear-space
  * frequency summary: $CmRows salted hash rows × 16^$CmHexChars buckets
  * of integer counters. Every token occurrence increments one bucket
  * per row; a token's estimate is the MIN over its row buckets, an
  * upper bound on the true count (collisions only inflate).
  *
  * The scale story is the whole point: the sketch is a fixed-size
  * (rows × buckets) aggregate no matter the corpus — at 100 TB the
  * token stream folds map-side into per-partition sketch fragments and
  * one tiny shuffle merges them, while the exact per-token aggregate
  * it replaces shuffles the full vocabulary. q88 builds BOTH (the
  * sketch and the exact counts for the top-$CmHeavyK heavy hitters) so
  * the oracle hash-verifies estimate ≥ truth bucket-for-bucket.
  *
  * Buckets are md5-hex prefixes (salt r ":" token) — the same
  * cross-engine hash idiom as the q68/q75 md5 splits, integer counters
  * only, so both engines agree bit-for-bit. */
class SketchOps(val cfg: GraftConfig) {
  val CmRows: Int = cfg.cmRows
  val CmHexChars: Int = cfg.cmHexChars
  val CmHeavyK: Int = cfg.cmHeavyK

  /** The (row, bucket) struct array for one token column. */
  private def bucketStructs(token: Column): Column =
    array((0 until CmRows).map(r => struct(lit(r).as("r"),
      substring(md5(concat(lit(s"$r:"), token)), 1, CmHexChars).as("b"))): _*)

  /** q88: Count-Min heavy-hitter verification — the top-$CmHeavyK
    * tokens by true count (ties → token asc) with their sketch
    * estimates alongside. cm_est ≥ true_cnt always; equality means no
    * collision in some row. */
  def q88Countmin(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val truth = toks.groupBy("token").agg(count(lit(1)).as("true_cnt"))
    val top = truth.orderBy(col("true_cnt").desc, col("token")).limit(CmHeavyK)
    val sketch = toks
      .select(explode(bucketStructs(col("token"))).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val qb = top
      .select(col("token"), col("true_cnt"), explode(bucketStructs(col("token"))).as("rb"))
      .select(col("token"), col("true_cnt"), col("rb.r").as("r"), col("rb.b").as("b"))
    qb.join(broadcast(sketch), Seq("r", "b"))
      .groupBy("token", "true_cnt")
      .agg(min(col("c")).as("cm_est"))
  }

  /** Upper-bound estimate of the HOTTEST key's multiplicity from a CMS
    * of a key column (input: one string column `k`): per hash row the
    * max bucket count bounds every key's count from above (collisions
    * only add mass), so min-over-rows of max-bucket ≥ true max
    * frequency — the standard CMS max-freq upper bound. One
    * map-combinable aggregate into $CmRows × 16^$CmHexChars counters;
    * the result is ONE row (the bounded collect the q265 consumer
    * makes). Feeds sketch-tuned salting: q124 profiles skew exactly by
    * re-scanning; this answers the one number a salt choice needs from
    * fixed-size state. */
  private[operators] def cmsMaxFreq(keys: DataFrame): DataFrame =
    keys.select(explode(bucketStructs(col("k"))).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
      .groupBy("r").agg(max(col("c")).as("mx"))
      .agg(min(col("mx")).as("max_freq_est"))

  /** q95: the STREAMING Count-Min — the same sketch maintained
    * incrementally over a documents stream (file source here; Kafka in
    * production). This is the sketch's real habitat: the streaming
    * aggregation state is the sketch itself — $CmRows × 16^$CmHexChars
    * counters, BOUNDED BY CONSTRUCTION no matter how much stream
    * passes — where an exact streaming vocabulary count's state grows
    * with every distinct token. Complete-mode drain of the bounded
    * replay equals the batch sketch bit-for-bit (spec-pinned). */
  def q95StreamCountmin(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val sketch = raw
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .select(explode(bucketStructs(col("token"))).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    graft.streaming.EventStream.withStreamParts(spark) {
      val q = sketch.writeStream.format("memory").queryName("graft_q95")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("graft_q95")
    }
  }

  def q95Sql: String = {
    val rowList = (0 until CmRows).mkString("[", ", ", "]")
    s"""WITH toks AS (SELECT t AS token FROM
       |    (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |rows AS (SELECT unnest($rowList) AS r),
       |bucketed AS (SELECT r.r,
       |    substr(md5(CAST(r.r AS VARCHAR) || ':' || toks.token), 1, $CmHexChars) AS b
       |  FROM toks CROSS JOIN rows r)
       |SELECT r, b, count(*) AS c FROM bucketed GROUP BY 1, 2""".stripMargin
  }

  /** q96: HyperLogLog register state (Flajolet et al. '07) — the
    * mergeable distinct-count sketch: bucket = md5-hex prefix
    * (16^$CmHexChars registers), register value = max over the
    * bucket's tokens of ρ = 1 + leading-zero-bits of the remaining
    * 120-bit hash suffix. The registers ARE the artifact: distinct
    * counts over any shard union merge by element-wise register max
    * (spec-pinned), which is what lets 1000 executors sketch 100 TB
    * independently and combine in 16^k longs. The estimate itself
    * (α·m²/Σ2^-M_j) needs an order-sensitive float harmonic sum, so
    * Graft emits the exact integer registers and leaves the final
    * scalar to the caller — integer state keeps the oracle bitwise.
    * Absent buckets are empty registers (0) under merge. */
  def q96HllRegisters(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    hllRegisterAgg(toks, Seq.empty)
  }

  /** The q96 register pipeline over any (keys..., token) table:
    * md5-bucket + max leading-zero-rank per (keys, bucket). Shared by
    * the corpus sketch (q96, no keys) and the grouped sketches
    * (q139). */
  private def hllRegisterAgg(toks: DataFrame, keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    toks
      .select(keyCols :+ md5(col("token")).as("h"): _*)
      .select(keyCols ++ Seq(substring(col("h"), 1, CmHexChars).as("bucket"),
        substring(col("h"), CmHexChars + 1, 32 - CmHexChars).as("sfx")): _*)
      .select(keyCols ++ Seq(col("bucket"),
        length(regexp_extract(col("sfx"), "^0*", 0)).as("z"), col("sfx")): _*)
      .select(keyCols ++ Seq(col("bucket"), col("z"),
        expr(s"substring(sfx, z + 1, 1)").as("nib")): _*)
      .select(keyCols ++ Seq(col("bucket"),
        when(col("nib") === "",
          lit(4 * (32 - CmHexChars) + 1))
          .otherwise(col("z") * 4 + lit(1) +
            when(col("nib") === "1", 3)
              .when(col("nib").isin("2", "3"), 2)
              .when(col("nib").isin("4", "5", "6", "7"), 1)
              .otherwise(0))
          .as("rho")): _*)
      .groupBy(keyCols :+ col("bucket"): _*)
      .agg(max(col("rho")).cast("long").as("max_rho"))
  }

  /** q139: GROUPED HLL sketches — one register set per source: the
    * "distinct tokens per key" question at fixed state per key, where
    * exact per-key countDistinct shuffles every distinct (key, token)
    * pair (state ∝ vocabulary × keys, the aggregation q102's verdict
    * flagged writ large). Each key's sketch is 16^$CmHexChars longs no
    * matter how much text the key holds, partial sketches merge by
    * register max (q96's spec-pinned property), and two runs' outputs
    * merge the same way — the incremental-ingest form of distinct
    * counting. Registers stay the bitwise artifact (hash-gated); the
    * float estimate is [[hllEstimateByKey]], spec'd against per-key
    * brute distinct. */
  def q139GroupHll(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    hllRegisterAgg(toks, Seq("source"))
  }

  def q139Sql: String = {
    val sfxLen = 32 - CmHexChars
    s"""WITH toks AS (SELECT source, t AS token FROM
       |    (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |hashed AS (SELECT source, md5(token) AS h FROM toks),
       |parts AS (SELECT source, substr(h, 1, $CmHexChars) AS bucket,
       |    substr(h, ${CmHexChars + 1}, $sfxLen) AS sfx
       |  FROM hashed),
       |zs AS (SELECT source, bucket, len(regexp_extract(sfx, '^0*')) AS z, sfx FROM parts),
       |nibs AS (SELECT source, bucket, z, substr(sfx, z + 1, 1) AS nib FROM zs),
       |rhos AS (SELECT source, bucket,
       |    CASE WHEN nib = '' THEN ${4 * sfxLen + 1}
       |    ELSE z * 4 + 1 + (CASE WHEN nib = '1' THEN 3
       |      WHEN nib IN ('2', '3') THEN 2
       |      WHEN nib IN ('4', '5', '6', '7') THEN 1
       |      ELSE 0 END) END AS rho
       |  FROM nibs)
       |SELECT source, bucket, max(rho) AS max_rho FROM rhos GROUP BY 1, 2""".stripMargin
  }

  /** q147: STREAMING HLL — q95's lesson applied to distinct counting:
    * the aggregation state IS the register set (16^$CmHexChars longs,
    * bounded by construction no matter how much stream passes), where
    * an exact streaming distinct-count's dropDuplicates state grows
    * with every distinct token ever seen. The register max is an
    * order-insensitive streaming aggregate, so the bounded-replay
    * drain equals batch q96 bit-for-bit — the same oracle gates both,
    * and a live stream's registers merge with any batch shard's by
    * element max (q96's pinned property). */
  def q147StreamHll(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val toks = raw
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val regs = hllRegisterAgg(toks, Seq.empty)
    graft.streaming.EventStream.withStreamParts(spark) {
      val q = regs.writeStream.format("memory").queryName("graft_q147")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("graft_q147")
    }
  }

  def q147Sql: String = q96Sql

  /** q278: STREAMING per-day HLL registers — the live producer of the
    * exact artifact q273's ledger persists and q252/q266 consume: a
    * running events stream maintains one register set PER DAY as its
    * aggregation state (days × 16^$CmHexChars longs — bounded by the
    * calendar, not the traffic), so "today's registers" exist the
    * moment the day does and the nightly ledger write is a state dump,
    * not a batch re-scan. Register max is order-insensitive, so the
    * bounded-replay drain equals the batch per-day sketch bit for bit
    * (the q147 contract, keyed), and a live stream's registers merge
    * with any batch shard's by element max.
    *
    * Scale: Complete-mode state is days × m rows; at production scale
    * the same query runs in update mode with the sink upserting
    * per-(day, bucket) rows. */
  def q278StreamDayHll(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val ev = graft.sources.Tables.normalizeEventTs(raw)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        col("user_id").cast("string").as("token"))
    val regs = hllRegisterAgg(ev, Seq("day"))
    graft.streaming.EventStream.withStreamParts(spark) {
      val q = regs.writeStream.format("memory").queryName("graft_q278")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("graft_q278")
    }
  }

  /** The batch per-day register pipeline, verbatim (q252's preamble). */
  def q278Sql: String = {
    val sfxLen = 32 - CmHexChars
    s"""WITH ev AS (SELECT epoch_ms(ts) // 86400000 AS day,
       |    CAST(user_id AS VARCHAR) AS token FROM events),
       |hashed AS (SELECT day, md5(token) AS h FROM ev),
       |parts AS (SELECT day, substr(h, 1, $CmHexChars) AS bucket,
       |    substr(h, ${CmHexChars + 1}, $sfxLen) AS sfx FROM hashed),
       |zs AS (SELECT day, bucket, len(regexp_extract(sfx, '^0*')) AS z, sfx FROM parts),
       |nibs AS (SELECT day, bucket, z, substr(sfx, z + 1, 1) AS nib FROM zs),
       |rhos AS (SELECT day, bucket,
       |    CASE WHEN nib = '' THEN ${4 * sfxLen + 1}
       |    ELSE z * 4 + 1 + (CASE WHEN nib = '1' THEN 3
       |      WHEN nib IN ('2', '3') THEN 2
       |      WHEN nib IN ('4', '5', '6', '7') THEN 1
       |      ELSE 0 END) END AS rho
       |  FROM nibs)
       |SELECT day, bucket, max(rho) AS max_rho FROM rhos GROUP BY 1, 2""".stripMargin
  }

  /** Distributed per-key HLL estimate over a q139-shaped register
    * table: α·m²/Σ2^-ρ with linear-counting small-range correction,
    * computed per key with a FIXED bucket-ascending in-row fold
    * (array_sort + aggregate HOF) — the same determinism contract as
    * the driver-side [[hllEstimate]], but the keys stay distributed:
    * per-key state is one ≤m-element array, never a collect. Exact
    * powers of two are IEEE-exact, so the fold is reproducible
    * run-to-run given equal registers. */
  def hllEstimateByKey(registers: DataFrame, keyCol: String): DataFrame = {
    val m = math.pow(16.0, CmHexChars).toLong
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    registers.groupBy(keyCol)
      .agg(count(lit(1)).as("present"),
        expr("""aggregate(
          |  array_sort(collect_list(struct(bucket, max_rho))),
          |  CAST(0.0 AS DOUBLE),
          |  (acc, x) -> acc + power(2.0, -CAST(x.max_rho AS DOUBLE)))""".stripMargin)
          .as("zpart"))
      .withColumn("z", col("zpart") + (lit(m) - col("present")).cast("double"))
      .withColumn("raw", lit(alpha * m.toDouble * m.toDouble) / col("z"))
      .withColumn("estimate",
        when(col("raw") <= 2.5 * m && col("present") < m,
          lit(m.toDouble) * log(lit(m.toDouble) / (lit(m) - col("present")).cast("double")))
          .otherwise(col("raw")))
      .select(col(keyCol), col("present"), col("estimate"))
  }

  def q96Sql: String = {
    val sfxLen = 32 - CmHexChars
    s"""WITH toks AS (SELECT t AS token FROM
       |    (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |hashed AS (SELECT md5(token) AS h FROM toks),
       |parts AS (SELECT substr(h, 1, $CmHexChars) AS bucket,
       |    substr(h, ${CmHexChars + 1}, $sfxLen) AS sfx
       |  FROM hashed),
       |zs AS (SELECT bucket, len(regexp_extract(sfx, '^0*')) AS z, sfx FROM parts),
       |nibs AS (SELECT bucket, z, substr(sfx, z + 1, 1) AS nib FROM zs),
       |rhos AS (SELECT bucket,
       |    CASE WHEN nib = '' THEN ${4 * sfxLen + 1}
       |    ELSE z * 4 + 1 + (CASE WHEN nib = '1' THEN 3
       |      WHEN nib IN ('2', '3') THEN 2
       |      WHEN nib IN ('4', '5', '6', '7') THEN 1
       |      ELSE 0 END) END AS rho
       |  FROM nibs)
       |SELECT bucket, max(rho) AS max_rho FROM rhos GROUP BY 1""".stripMargin
  }

  /** The HLL estimate finisher over a q96-shaped register table
    * (bucket, max_rho): E = α_m · m² / Σ_j 2^-M_j with Flajolet et
    * al.'s small-range (linear counting) correction when E ≤ 5m/2 and
    * empty registers remain. This is the caller-side scalar q96
    * deliberately does not emit (its integer registers stay the
    * bitwise, mergeable artifact; the estimate is float).
    *
    * Float caveat: a harmonic sum's value depends on summation order,
    * so the fold is FIXED — registers sorted by bucket ascending,
    * summed left-to-right in one driver loop — making the scalar
    * reproducible run-to-run and engine-to-engine given equal
    * registers. The collect here is not a distributed-compute
    * violation: the register table is the sketch, m = 16^$CmHexChars
    * rows by construction, corpus-independent — finishing a sketch on
    * the driver is the sketch contract working as intended. */
  def hllEstimate(registers: DataFrame): Double = {
    val m = math.pow(16.0, CmHexChars).toLong
    val regs = registers.select(col("bucket"), col("max_rho").cast("long"))
      .orderBy(col("bucket")).collect()
    require(regs.length <= m, s"register table has ${regs.length} rows > m=$m")
    var z = 0.0
    regs.foreach(r => z += math.pow(2.0, -r.getLong(1).toDouble))
    val empty = m - regs.length // absent buckets are 0-registers: 2^-0 = 1 each
    z += empty.toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val e = alpha * m.toDouble * m.toDouble / z
    if (e <= 2.5 * m && empty > 0) m.toDouble * math.log(m.toDouble / empty)
    else e
  }

  /** The ${cfg.bloomHashes} Bloom bit positions of one text key: the
    * md5 digest sliced into disjoint 32-bit words (hash count ≤ 4 by
    * construction — four slices per digest), reduced mod
    * ${cfg.bloomBits}. Power-of-two width, so the reduction is a mask
    * — no modulo bias; 32-BIT words (pos div 32 / pos mod 32) because
    * bit 63 of a signed shift is unrepresentable on one of the two
    * engines (DuckDB range-errors on 1::BIGINT << 63). */
  private def bloomPositions(text: Column): Seq[Column] =
    (0 until cfg.bloomHashes).map { j =>
      conv(substring(md5(text), j * 8 + 1, 8), 16, 10).cast("long") % cfg.bloomBits
    }

  /** q156: BLOOM FILTER build — one ${cfg.bloomBits}-bit membership
    * filter per source over exact-content keys (the doc text digest):
    * the third mergeable sketch beside CMS (frequency) and HLL
    * (cardinality), answering "might this content already be in source
    * X" with zero false negatives. Output is the SPARSE word table
    * (word_idx, bits, n_set) — absent words are zero; two filters (two
    * ingests, two sources) merge by OR of aligned words, exactly like
    * q96's register max.
    *
    * Scale: the filter is FIXED SIZE (${cfg.bloomBits / 32} words max
    * per source) regardless of corpus — inserts fold map-side into
    * per-partition partial words and the shuffle carries only
    * sources × words partials, while the exact distinct-content set it
    * stands in for shuffles the corpus. At 100 TB this is the pre-join
    * guard that turns "anti-join the daily delta against 10¹¹ seen
    * keys" into a broadcast bitmap probe (q157). */
  def q156BloomBuild(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        explode(array(bloomPositions(col("text")): _*)).as("pos"))
      .select(col("source"), expr("pos div 32").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("w"))
      .groupBy("source", "word_idx")
      .agg(expr("bit_or(w)").as("bits"))
      .withColumn("n_set", expr("CAST(bit_count(bits) AS INT)"))

  def q156Sql: String = {
    val k = cfg.bloomHashes
    s"""WITH pos AS (
       |  SELECT source,
       |    CAST('0x' || substr(md5(text), j*8 + 1, 8) AS BIGINT) % ${cfg.bloomBits} AS pos
       |  FROM documents, (SELECT unnest(generate_series(0, ${k - 1})) AS j) t)
       |SELECT source, pos // 32 AS word_idx,
       |  bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits,
       |  CAST(bit_count(bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))) AS INT) AS n_set
       |FROM pos GROUP BY 1, 2""".stripMargin
  }

  /** q157: BLOOM PROBE — the filter in use: train-split docs (q68's
    * content-stable md5 split) build ONE global filter; every non-train
    * doc probes its ${cfg.bloomHashes} positions and hits iff ALL are
    * set. One summary row: probes, hits, true duplicates (exact text
    * match into train — the ground truth), false positives, and the
    * measured FP rate over the true negatives. The no-false-negative
    * guarantee is structural (a true duplicate's positions were all
    * inserted by its train twin) and spec-asserted; the FP rate is the
    * number that sizes m and k before anyone trusts the filter as a
    * join guard.
    *
    * Scale: the filter table is ≤ ${cfg.bloomBits / 32} rows —
    * broadcast onto the probe explode (a pure scan side); the truth
    * check joins 16-byte digests, not texts, and the final aggregate
    * is one row. */
  def q157BloomProbe(spark: SparkSession, dir: String): DataFrame = {
    val k = cfg.bloomHashes
    val d = Tables.documents(spark, dir)
      .withColumn("b", substring(md5(col("doc_id").cast("string")), 1, 2))
    val train = d.filter(col("b") < cfg.splitTrainUpper)
    val filter = train
      .select(explode(array(bloomPositions(col("text")): _*)).as("pos"))
      .select(expr("pos div 32").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("w"))
      .groupBy("word_idx").agg(expr("bit_or(w)").as("bits"))
    val trainKeys = train.select(md5(col("text")).as("key")).distinct()
    val probes = d.filter(col("b") >= cfg.splitTrainUpper)
      .select(col("doc_id"), col("text"), md5(col("text")).as("key"))
    val probeBits = bloomProbeHits(probes, filter)
    val withTruth = probeBits
      .join(broadcast(trainKeys.withColumn("in_train", lit(true))), Seq("key"), "left")
      .withColumn("is_dup", coalesce(col("in_train"), lit(false)))
    withTruth.agg(
        count(lit(1)).as("n_probes"),
        sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_hits"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_true"),
        sum(when(col("bloom_hit") && !col("is_dup"), 1L).otherwise(0L)).as("n_false_pos"))
      .withColumn("fp_rate",
        when(col("n_probes") === col("n_true"), lit(null).cast("double"))
          .otherwise(col("n_false_pos").cast("double") /
            (col("n_probes") - col("n_true")).cast("double")))
  }

  /** Probe each (doc_id, text, key) row's ${cfg.bloomHashes} positions
    * against a broadcast (word_idx, bits) filter table: one row per
    * probe with bloom_hit = all positions set. */
  private def bloomProbeHits(probes: DataFrame, filter: DataFrame): DataFrame =
    probes
      .withColumn("pos", explode(array(bloomPositions(col("text")): _*)))
      .select(col("doc_id"), col("key"), expr("pos div 32").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("w"))
      .join(broadcast(filter), Seq("word_idx"), "left")
      .withColumn("present",
        coalesce(expr("(bits & w) <> CAST(0 AS BIGINT)"), lit(false)))
      .groupBy("doc_id", "key")
      .agg(min(col("present")).as("bloom_hit"))

  /** q173: STREAMING Bloom filter — the q95/q147 lesson applied to
    * membership: the aggregation state IS the filter (≤ m/32 words of
    * OR-ed bits per source, bounded by construction no matter how much
    * stream passes), where an exact streaming seen-set grows with
    * every distinct key. bit_or is order-insensitive, so the
    * bounded-replay drain equals batch q156 BIT-FOR-BIT — the same
    * oracle gates both (spec pins stream ≡ batch), and live filter
    * words merge with batch shards by OR, the incremental-ingest
    * property q156 advertises. */
  def q173StreamBloom(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val words = raw
      .select(col("source"),
        explode(array(bloomPositions(col("text")): _*)).as("pos"))
      .select(col("source"), expr("pos div 32").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("w"))
      .groupBy("source", "word_idx")
      .agg(expr("bit_or(w)").as("bits"))
      .withColumn("n_set", expr("CAST(bit_count(bits) AS INT)"))
    graft.streaming.EventStream.withStreamParts(spark) {
      val q = words.writeStream.format("memory").queryName("graft_q173")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("graft_q173")
    }
  }

  def q173Sql: String = q156Sql

  /** q174: BLOOM-GUARDED incremental dedup — the q156 scale claim made
    * concrete: classifying each delta doc as new-vs-duplicate against
    * the base WITHOUT anti-joining the full delta into the base key
    * set. The base's filter words broadcast onto the delta scan; only
    * BLOOM-HIT docs (true dups + the measured ~${cfg.bloomBits}-bit FP
    * tail) proceed to the exact digest semi-join — at 100 TB the
    * expensive join's probe side shrinks from |delta| to
    * |dups| + FP·|delta|, and the filter itself is ≤ m/32 rows however
    * large the base. Zero false negatives is structural, so the
    * verdict is IDENTICAL to the plain anti-join (spec-proven; the
    * oracle computes the plain form). Output: every delta doc with its
    * bloom_hit and final is_new. */
  def q174BloomGuardedDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("b", substring(md5(col("doc_id").cast("string")), 1, 2))
    val base = d.filter(col("b") < cfg.splitTrainUpper)
    val filter = base
      .select(explode(array(bloomPositions(col("text")): _*)).as("pos"))
      .select(expr("pos div 32").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("w"))
      .groupBy("word_idx").agg(expr("bit_or(w)").as("bits"))
    val baseKeys = base.select(md5(col("text")).as("key")).distinct()
    val probes = d.filter(col("b") >= cfg.splitTrainUpper)
      .select(col("doc_id"), col("text"), md5(col("text")).as("key"))
    val hits = bloomProbeHits(probes, filter)
    val confirmed = hits.filter(col("bloom_hit"))
      .join(baseKeys.hint("shuffle_hash"), Seq("key"), "left_semi")
      .select(col("doc_id"), lit(true).as("confirmed_dup"))
    hits.join(confirmed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bloom_hit"),
        coalesce(col("confirmed_dup"), lit(false)).as("is_dup"))
      .withColumn("is_new", !col("is_dup"))
      .select("doc_id", "bloom_hit", "is_new")
  }

  def q174Sql: String =
    s"""WITH d AS (SELECT doc_id, text, substr(md5(doc_id::VARCHAR), 1, 2) AS b
       |  FROM documents),
       |base AS (SELECT * FROM d WHERE b < '${cfg.splitTrainUpper}'),
       |fpos AS (SELECT CAST('0x' || substr(md5(text), j*8 + 1, 8) AS BIGINT)
       |      % ${cfg.bloomBits} AS pos
       |  FROM base, (SELECT unnest(generate_series(0, ${cfg.bloomHashes - 1})) AS j) t),
       |filter AS (SELECT pos // 32 AS word_idx,
       |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
       |  FROM fpos GROUP BY 1),
       |bkeys AS (SELECT DISTINCT md5(text) AS key FROM base),
       |probes AS (SELECT doc_id, text, md5(text) AS key FROM d
       |  WHERE b >= '${cfg.splitTrainUpper}'),
       |pbits AS (SELECT doc_id, key,
       |    CAST('0x' || substr(md5(text), j*8 + 1, 8) AS BIGINT) % ${cfg.bloomBits} AS pos
       |  FROM probes, (SELECT unnest(generate_series(0, ${cfg.bloomHashes - 1})) AS j) t),
       |hits AS (SELECT p.doc_id, p.key,
       |    min(coalesce((f.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INT)))
       |      <> 0, false)) AS bloom_hit
       |  FROM pbits p LEFT JOIN filter f ON f.word_idx = p.pos // 32
       |  GROUP BY 1, 2)
       |SELECT doc_id, bloom_hit,
       |  NOT (bloom_hit AND key IN (SELECT key FROM bkeys)) AS is_new
       |FROM hits""".stripMargin

  def q157Sql: String = {
    val k = cfg.bloomHashes
    s"""WITH d AS (SELECT doc_id, text, substr(md5(doc_id::VARCHAR), 1, 2) AS b
       |  FROM documents),
       |train AS (SELECT * FROM d WHERE b < '${cfg.splitTrainUpper}'),
       |fpos AS (SELECT CAST('0x' || substr(md5(text), j*8 + 1, 8) AS BIGINT)
       |      % ${cfg.bloomBits} AS pos
       |  FROM train, (SELECT unnest(generate_series(0, ${k - 1})) AS j) t),
       |filter AS (SELECT pos // 32 AS word_idx,
       |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
       |  FROM fpos GROUP BY 1),
       |tkeys AS (SELECT DISTINCT md5(text) AS key FROM train),
       |probes AS (SELECT doc_id, text, md5(text) AS key FROM d
       |  WHERE b >= '${cfg.splitTrainUpper}'),
       |pbits AS (SELECT doc_id, key,
       |    CAST('0x' || substr(md5(text), j*8 + 1, 8) AS BIGINT) % ${cfg.bloomBits} AS pos
       |  FROM probes, (SELECT unnest(generate_series(0, ${k - 1})) AS j) t),
       |hits AS (SELECT p.doc_id, p.key,
       |    min(coalesce((f.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INT)))
       |      <> 0, false)) AS bloom_hit
       |  FROM pbits p LEFT JOIN filter f ON f.word_idx = p.pos // 32
       |  GROUP BY 1, 2),
       |truth AS (SELECT h.doc_id, h.bloom_hit,
       |    (h.key IN (SELECT key FROM tkeys)) AS is_dup
       |  FROM hits h)
       |SELECT n_probes, n_hits, n_true, n_false_pos,
       |  CASE WHEN n_probes = n_true THEN NULL
       |    ELSE CAST(n_false_pos AS DOUBLE) / CAST(n_probes - n_true AS DOUBLE)
       |  END AS fp_rate
       |FROM (SELECT CAST(count(*) AS BIGINT) AS n_probes,
       |    CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |    CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |    CAST(SUM(CASE WHEN bloom_hit AND NOT is_dup THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_false_pos
       |  FROM truth)""".stripMargin
  }

  def q88Sql: String = {
    val rowList = (0 until CmRows).mkString("[", ", ", "]")
    s"""WITH toks AS (SELECT t AS token FROM
       |    (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |truth AS (SELECT token, count(*) AS true_cnt FROM toks GROUP BY 1),
       |top AS (SELECT token, true_cnt FROM truth
       |  ORDER BY true_cnt DESC, token LIMIT $CmHeavyK),
       |rows AS (SELECT unnest($rowList) AS r),
       |bucketed AS (SELECT r.r,
       |    substr(md5(CAST(r.r AS VARCHAR) || ':' || toks.token), 1, $CmHexChars) AS b
       |  FROM toks CROSS JOIN rows r),
       |sketch AS (SELECT r, b, count(*) AS c FROM bucketed GROUP BY 1, 2),
       |qb AS (SELECT t.token, t.true_cnt, r.r,
       |    substr(md5(CAST(r.r AS VARCHAR) || ':' || t.token), 1, $CmHexChars) AS b
       |  FROM top t CROSS JOIN rows r)
       |SELECT qb.token, qb.true_cnt, CAST(min(s.c) AS BIGINT) AS cm_est
       |FROM qb JOIN sketch s ON s.r = qb.r AND s.b = qb.b
       |GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q205/q206/q207: MERGEABLE QUANTILE SKETCH — the q96 register role
  // for order statistics: a log-linear (HDR-histogram-style) bucket
  // table with sum-mergeable integer counts and a bounded relative
  // error, plus its exact-eval and streaming twins.
  // ---------------------------------------------------------------------

  private val QsK: Int = cfg.quantileSketchBits

  /** The log-linear bucket projection over (cls, v100): e = the value's
    * binary length (computed via base-2 STRING length — conv/bin on
    * both engines — so the exponent is integer-exact, never a float
    * log at a boundary), d = 2^max(e−1−$QsK, 0) (exact IEEE power cast
    * back to BIGINT), m = v100 div d. Per octave e there are at most
    * 2^${QsK + 1} sub-buckets, values below 2^$QsK get exact singleton
    * buckets, and [m·d, (m+1)·d − 1] brackets every member with
    * relative width ≤ 2^−$QsK. */
  private[operators] def qsBuckets(vals: DataFrame): DataFrame =
    vals
      .withColumn("e", length(conv(col("v"), 10, 2)).cast("long"))
      .withColumn("d", expr(s"CAST(power(2.0, greatest(e - 1 - $QsK, 0)) AS BIGINT)"))
      .withColumn("m", expr("v div d"))
      .groupBy("cls", "e", "m", "d")
      .agg(count(lit(1)).as("cnt"))
      .select(col("cls"), col("e"), col("m"),
        (col("m") * col("d")).as("lo100"),
        ((col("m") + lit(1L)) * col("d") - lit(1L)).as("hi100"),
        col("cnt"))

  private def qsBucketsSqlDuck: String =
    s"""vals AS (SELECT o_orderpriority AS cls,
       |    CAST(floor(o_totalprice * 100) AS BIGINT) AS v FROM orders),
       |ebl AS (SELECT cls, v, CAST(length(bin(v)) AS BIGINT) AS e FROM vals),
       |dd AS (SELECT cls, v, e,
       |    CAST(power(2.0, greatest(e - 1 - $QsK, 0)) AS BIGINT) AS d FROM ebl),
       |sk AS (SELECT cls, e, v // d AS m, d, count(*) AS cnt
       |  FROM dd GROUP BY 1, 2, 3, 4),
       |sketch AS (SELECT cls, e, m, m * d AS lo100, (m + 1) * d - 1 AS hi100, cnt
       |  FROM sk)""".stripMargin

  /** q205: MERGEABLE QUANTILE SKETCH — per order-priority class, the
    * log-linear bucket table over o_totalprice cents: the quantile
    * twin of q96's HLL registers. The artifact is (octave, sub-bucket,
    * bounds, count) with ≤ 64·2^${QsK + 1} rows per class no matter
    * the corpus size; shard sketches MERGE by per-bucket count SUM
    * (spec-pinned, the q96 register-max role played by addition), so
    * 1000 executors sketch their shards independently and any
    * historical sketch merges with today's — the artifact a
    * percentile dashboard keeps when re-scanning 100 TB per query is
    * off the table. All bucket math is integer-exact on both engines
    * (binary-string length + exact power-of-two division — no float
    * log at any boundary); q206 ships the guaranteed-bounds eval
    * against exact q91. Scale: one map-side-combinable aggregate on a
    * bounded key space — the q1 shape. */
  def q205QuantileSketch(spark: SparkSession, dir: String): DataFrame =
    qsBuckets(Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("cls"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("v")))
      .withColumnRenamed("cls", "o_orderpriority")

  def q205Sql: String =
    s"""WITH $qsBucketsSqlDuck
       |SELECT cls AS o_orderpriority, e, m, lo100, hi100, CAST(cnt AS BIGINT) AS cnt
       |FROM sketch""".stripMargin

  /** q206: the sketch's ERROR EVAL against exact q91 — every
    * approximation ships with its measured eval (q123/q132/q179's
    * rule): reconstruct each percentile level's bucket from the q205
    * sketch (nearest-rank cut over cumulative counts — same rank rule
    * as q91), join the exact q91 value, and emit the bucket bounds,
    * the exact value, and the containment flag. `in_bounds` is TRUE by
    * construction (monotone cents mapping: the r-th price maps to the
    * r-th v100, which lies in the cut bucket) — the eval would catch a
    * corrupted sketch or a broken reconstruction, not just a wrong
    * derivation. Cumulative counts use q91's broadcast triangular join
    * on the BOUNDED bucket table (never a corpus window); lo100 is
    * strictly increasing across (e, m), so it is the complete sort
    * key. */
  def q206QuantileEval(spark: SparkSession, dir: String): DataFrame = {
    val sk = q205QuantileSketch(spark, dir)
      .withColumnRenamed("o_orderpriority", "cls")
    val levels = cfg.percentileLevels
    val ranks = sk.groupBy("cls").agg(sum(col("cnt")).as("n"))
      .select(col("cls"), col("n"),
        explode(array(levels.map(p => struct(lit(p).as("p"),
          expr(s"(n * $p + 99) div 100").as("r"))): _*)).as("pr"))
      .select(col("cls"), col("n"), col("pr.p").as("p"), col("pr.r").as("r"))
    val cum = sk.as("a")
      .join(broadcast(sk.as("b")),
        col("a.cls") === col("b.cls") && col("b.lo100") <= col("a.lo100"))
      .groupBy(col("a.cls").as("cls"), col("a.lo100").as("lo100"),
        col("a.hi100").as("hi100"))
      .agg(sum(col("b.cnt")).as("cum"))
    val cut = ranks.join(cum, "cls")
      .filter(col("cum") >= col("r"))
      .groupBy("cls", "n", "p")
      .agg(min(struct(col("lo100"), col("hi100"))).as("mm"))
      .select(col("cls"), col("n"), col("p"),
        col("mm.lo100").as("lo100"), col("mm.hi100").as("hi100"))
    val exact = new AnalyticsOps(cfg).q91Percentiles(spark, dir)
      .select(col("o_orderpriority").as("cls"),
        explode(array(levels.map(p => struct(lit(p).as("p"),
          col(s"p$p").as("v"))): _*)).as("pv"))
      .select(col("cls"), col("pv.p").as("p"), col("pv.v").as("exact_v"))
    cut.join(exact, Seq("cls", "p"))
      .select(col("cls").as("o_orderpriority"), col("p"), col("n"),
        col("exact_v"), col("lo100"), col("hi100"),
        expr("CAST(floor(exact_v * 100) AS BIGINT) BETWEEN lo100 AND hi100")
          .as("in_bounds"))
  }

  def q206Sql: String = {
    val levels = cfg.percentileLevels
    val lvlRows = levels.map(p => s"($p)").mkString(", ")
    val q91 = new AnalyticsOps(cfg).q91Sql
    val unpiv = levels.map(p =>
      s"SELECT o_orderpriority AS cls, $p AS p, p$p AS exact_v FROM q91")
      .mkString(" UNION ALL ")
    s"""WITH $qsBucketsSqlDuck,
       |q91 AS ($q91),
       |exact AS ($unpiv),
       |ns AS (SELECT cls, CAST(SUM(cnt) AS BIGINT) AS n FROM sketch GROUP BY 1),
       |ranks AS (SELECT ns.cls, ns.n, l.p, (ns.n * l.p + 99) // 100 AS r
       |  FROM ns CROSS JOIN (VALUES $lvlRows) AS l(p)),
       |cum AS (SELECT a.cls, a.lo100, a.hi100, CAST(SUM(b.cnt) AS BIGINT) AS cum
       |  FROM sketch a JOIN sketch b ON a.cls = b.cls AND b.lo100 <= a.lo100
       |  GROUP BY 1, 2, 3),
       |cut AS (SELECT cls, n, p, min(lo100) AS lo100
       |  FROM ranks JOIN cum USING (cls) WHERE cum >= r
       |  GROUP BY 1, 2, 3),
       |cutb AS (SELECT c.cls, c.n, c.p, c.lo100, s.hi100
       |  FROM cut c JOIN sketch s ON s.cls = c.cls AND s.lo100 = c.lo100)
       |SELECT c.cls AS o_orderpriority, CAST(c.p AS INTEGER) AS p, c.n,
       |  e.exact_v, c.lo100, c.hi100,
       |  CAST(floor(e.exact_v * 100) AS BIGINT) BETWEEN c.lo100 AND c.hi100
       |    AS in_bounds
       |FROM cutb c JOIN exact e ON e.cls = c.cls AND e.p = c.p""".stripMargin
  }

  /** q207: STREAMING quantile sketch — the q147 lesson for order
    * statistics: the aggregation state IS the bounded bucket table
    * (counts are order-insensitive sums), so the bounded-replay drain
    * equals batch q205 bit-for-bit and the same oracle gates both; a
    * live stream's sketch merges with any batch shard's by bucket
    * count sum (q205's pinned property). An exact streaming quantile
    * would need every value in state. */
  def q207StreamQuantile(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/orders.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "orders.parquet").parquet(dir)
    val sk = qsBuckets(raw.select(col("o_orderpriority").as("cls"),
      expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("v")))
      .withColumnRenamed("cls", "o_orderpriority")
    graft.streaming.EventStream.withStreamParts(spark) {
      val q = sk.writeStream.format("memory").queryName("graft_q207")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("graft_q207")
    }
  }

  def q207Sql: String = q205Sql

  // ---------- HLL set algebra: cross-source overlap (q224) ----------

  private def hllM: Long = math.pow(16.0, CmHexChars).toLong

  /** alpha·m² as a Scala double, embedded as the SAME literal on both
    * engines (shortest-repr round-trips bit-exactly through both
    * parsers). */
  private def hllAlphaM2: Double = {
    val m = hllM.toDouble
    0.7213 / (1.0 + 1.079 / m) * m * m
  }

  /** The HLL harmonic sum Σ 2^{−rho} carried as TWO exact integer
    * sums — rho ≤ 60 scaled by 2^60, rho > 60 scaled by 2^121, each
    * term one BIGINT shift, each sum exact in DECIMAL(38,0) — so no
    * float is ever ACCUMULATED (float sums are order-sensitive; these
    * are not). The estimate then reads the sums through one fixed
    * cast/divide/add chain, bit-identical on both engines. */
  private def hllZAgg: Seq[Column] = Seq(
    count(lit(1)).as("present"),
    sum(when(col("max_rho") <= 60,
      expr("shiftleft(CAST(1 AS BIGINT), CAST(60 - max_rho AS INT))"))
      .otherwise(lit(0L)).cast("decimal(38,0)")).as("zhi"),
    sum(when(col("max_rho") > 60,
      expr("shiftleft(CAST(1 AS BIGINT), CAST(121 - max_rho AS INT))"))
      .otherwise(lit(0L)).cast("decimal(38,0)")).as("zlo"))

  /** Raw HLL estimate from the split sums (no small-range correction:
    * q224's contract is the LARGE-cardinality regime sketches exist
    * for — `present` columns travel with every sketch so a consumer
    * can see when it is outside it). */
  private def hllEstCol: Column =
    lit(hllAlphaM2) / (col("zhi").cast("double") / pow(lit(2.0), lit(60))
      + col("zlo").cast("double") / pow(lit(2.0), lit(121))
      + (lit(hllM) - col("present")).cast("double"))

  private def hllZSqlDuck: String =
    s"""count(*) AS present,
       |    SUM(CASE WHEN max_rho <= 60 THEN (CAST(1 AS BIGINT) << (60 - max_rho)) ELSE 0 END) AS zhi,
       |    SUM(CASE WHEN max_rho > 60 THEN (CAST(1 AS BIGINT) << (121 - max_rho)) ELSE 0 END) AS zlo""".stripMargin

  private def hllEstSqlDuck: String =
    s"""$hllAlphaM2 / (CAST(zhi AS DOUBLE) / pow(2.0, 60)
       |      + CAST(zlo AS DOUBLE) / pow(2.0, 121)
       |      + CAST($hllM - present AS DOUBLE))""".stripMargin

  /** q224: cross-source OVERLAP estimation by HLL set algebra — the
    * question q168's exact cross-source dup matrix answers with a
    * join, answered from SKETCHES: registers merge by max (union is
    * native to HLL), |A∩B| falls out of inclusion–exclusion
    * est(A)+est(B)−est(A∪B), and the whole pair table is computed
    * from per-source register sets of fixed size — at 100 TB the
    * sources never join; only their 16^$CmHexChars-row sketches do.
    * Ships with its exact eval (the rule): exact distinct-token
    * overlap per pair and the relative error of the estimate.
    * Estimates are ENGINE-EXACT by construction: the harmonic sum is
    * two exact integer register sums (see [[hllZAgg]]) read through
    * one fixed float chain — no float accumulation, no libm calls
    * (the small-range log correction is deliberately out of contract;
    * `present_*` columns expose the regime).
    *
    * Scale: per-source registers are one map-combinable aggregate
    * over the token scan; everything downstream operates on
    * sources × m rows. The exact eval is the expensive side
    * (vocabulary-bounded distinct join) — that is the point: the
    * sketch path replaces it. */
  def q224HllOverlap(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val regs = hllRegisterAgg(toks, Seq("source"))
    val srcs = regs.select("source").distinct()
    val pairs = broadcast(srcs.select(col("source").as("src_a"))
      .crossJoin(srcs.select(col("source").as("src_b")))
      .filter(col("src_a") < col("src_b")))
    val per = regs.groupBy("source").agg(hllZAgg.head, hllZAgg.tail: _*)
      .select(col("source"), col("present"), hllEstCol.as("est"))
    val uni = pairs.join(regs,
        col("source") === col("src_a") || col("source") === col("src_b"))
      .groupBy("src_a", "src_b", "bucket").agg(max("max_rho").as("max_rho"))
      .groupBy("src_a", "src_b").agg(hllZAgg.head, hllZAgg.tail: _*)
      .select(col("src_a"), col("src_b"), hllEstCol.as("est_union"))
    val dt = toks.select("source", "token").distinct()
    val exact = dt.select(col("source").as("src_a"), col("token"))
      .join(dt.select(col("source").as("src_b"), col("token")), "token")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("exact_overlap"))
    uni
      .join(broadcast(per.select(col("source").as("src_a"),
        col("present").as("present_a"), col("est").as("est_a"))), "src_a")
      .join(broadcast(per.select(col("source").as("src_b"),
        col("present").as("present_b"), col("est").as("est_b"))), "src_b")
      .join(exact, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        col("present_a"), col("present_b"), col("est_a"), col("est_b"),
        col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_overlap"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
      .withColumn("rel_err",
        when(col("exact_overlap") > 0,
          (col("est_overlap") - col("exact_overlap").cast("double"))
            / col("exact_overlap").cast("double")))
  }

  def q224Sql: String =
    s"""WITH regs AS (SELECT * FROM ($q139Sql)),
       |toks2 AS (SELECT source, t AS token FROM
       |    (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |srcs AS (SELECT DISTINCT source FROM regs),
       |pairs AS (SELECT a.source AS src_a, b.source AS src_b
       |  FROM srcs a, srcs b WHERE a.source < b.source),
       |perz AS (SELECT source, $hllZSqlDuck
       |  FROM regs GROUP BY source),
       |per AS (SELECT source, present, $hllEstSqlDuck AS est FROM perz),
       |unireg AS (SELECT p.src_a, p.src_b, r.bucket, max(r.max_rho) AS max_rho
       |  FROM pairs p JOIN regs r ON r.source = p.src_a OR r.source = p.src_b
       |  GROUP BY 1, 2, 3),
       |uniz AS (SELECT src_a, src_b, $hllZSqlDuck
       |  FROM unireg GROUP BY src_a, src_b),
       |uni AS (SELECT src_a, src_b, $hllEstSqlDuck AS est_union FROM uniz),
       |dt AS (SELECT DISTINCT source, token FROM toks2),
       |exact AS (SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(count(*) AS BIGINT) AS exact_overlap
       |  FROM dt a JOIN dt b ON a.token = b.token AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT u.src_a, u.src_b,
       |  pa.present AS present_a, pb.present AS present_b,
       |  pa.est AS est_a, pb.est AS est_b, u.est_union,
       |  pa.est + pb.est - u.est_union AS est_overlap,
       |  COALESCE(e.exact_overlap, 0) AS exact_overlap,
       |  CASE WHEN COALESCE(e.exact_overlap, 0) > 0
       |    THEN (pa.est + pb.est - u.est_union - CAST(e.exact_overlap AS DOUBLE))
       |      / CAST(e.exact_overlap AS DOUBLE) END AS rel_err
       |FROM uni u
       |JOIN per pa ON pa.source = u.src_a
       |JOIN per pb ON pb.source = u.src_b
       |LEFT JOIN exact e ON e.src_a = u.src_a AND e.src_b = u.src_b""".stripMargin

  // ---------- Three-way HLL set algebra (q264) ----------

  /** q264: THREE-WAY overlap by HLL set algebra — q224's
    * inclusion–exclusion extended one rank (the round-11 verdict's #4):
    * |train ∩ val ∩ test| of distinct tokens estimated as
    * ΣE(g) − ΣE(g∪h) + E(train∪val∪test), every union one more
    * register-max merge over the SAME three fixed-size sketches. This
    * is the real contamination-triage question (which eval tokens leak
    * through train AND the held-out crawl), answered without any split
    * ever joining another. Ships with the exact eval and rel_err
    * (the rule), and the per-split `present` columns expose the
    * below-regime case exactly like q224.
    *
    * Scale: one corpus token scan into three 16^$CmHexChars-register
    * sketches; all seven estimates read from those registers — the
    * exact side (vocabulary-bounded distinct aggregate) is the cost
    * the sketch path replaces. Estimates are engine-exact: integer
    * register sums read through one fixed float chain ([[hllZAgg]]). */
  def q264HllTriple(spark: SparkSession, dir: String): DataFrame = {
    val b = substring(md5(col("doc_id").cast("string")), 1, 2)
    val toks = Tables.documents(spark, dir)
      .select(when(b < cfg.splitTrainUpper, "train")
          .when(b < cfg.splitValUpper, "val").otherwise("test").as("grp"),
        explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val regs = hllRegisterAgg(toks, Seq("grp"))
    // one-row pivot of the three per-split estimates + regime exposure
    val per = regs.groupBy("grp").agg(hllZAgg.head, hllZAgg.tail: _*)
      .select(col("grp"), col("present"), hllEstCol.as("est"))
      .groupBy()
      .agg(
        max(when(col("grp") === "train", col("present"))).as("present_train"),
        max(when(col("grp") === "val", col("present"))).as("present_val"),
        max(when(col("grp") === "test", col("present"))).as("present_test"),
        max(when(col("grp") === "train", col("est"))).as("est_train"),
        max(when(col("grp") === "val", col("est"))).as("est_val"),
        max(when(col("grp") === "test", col("est"))).as("est_test"))
    def uniEst(gs: Seq[String], name: String): DataFrame =
      regs.filter(col("grp").isin(gs: _*))
        .groupBy("bucket").agg(max("max_rho").as("max_rho"))
        .agg(hllZAgg.head, hllZAgg.tail: _*)
        .select(hllEstCol.as(name))
    val dt = toks.distinct()
    val exact = dt.groupBy("token")
      .agg(countDistinct(col("grp")).as("ng"))
      .agg(sum(when(col("ng") === 3, 1L).otherwise(0L)).as("exact_overlap3"))
    per
      .crossJoin(uniEst(Seq("train", "val"), "est_union_trainval"))
      .crossJoin(uniEst(Seq("train", "test"), "est_union_traintest"))
      .crossJoin(uniEst(Seq("val", "test"), "est_union_valtest"))
      .crossJoin(uniEst(Seq("train", "val", "test"), "est_union_all"))
      .crossJoin(exact)
      .withColumn("est_overlap3",
        col("est_train") + col("est_val") + col("est_test")
          - col("est_union_trainval") - col("est_union_traintest")
          - col("est_union_valtest") + col("est_union_all"))
      .withColumn("rel_err",
        when(col("exact_overlap3") > 0,
          (col("est_overlap3") - col("exact_overlap3").cast("double"))
            / col("exact_overlap3").cast("double")))
  }

  def q264Sql: String = {
    val sfxLen = 32 - CmHexChars
    def uni(grps: String, out: String): String =
      s"""${out}_r AS (SELECT bucket, max(max_rho) AS max_rho FROM regs
         |  WHERE grp IN ($grps) GROUP BY bucket),
         |${out}_z AS (SELECT $hllZSqlDuck FROM ${out}_r),
         |$out AS (SELECT $hllEstSqlDuck AS est FROM ${out}_z)""".stripMargin
    s"""WITH toks AS (SELECT
       |    CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '${cfg.splitTrainUpper}' THEN 'train'
       |      WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '${cfg.splitValUpper}' THEN 'val'
       |      ELSE 'test' END AS grp, t AS token
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |hashed AS (SELECT grp, md5(token) AS h FROM toks),
       |parts AS (SELECT grp, substr(h, 1, $CmHexChars) AS bucket,
       |    substr(h, ${CmHexChars + 1}, $sfxLen) AS sfx FROM hashed),
       |zs AS (SELECT grp, bucket, len(regexp_extract(sfx, '^0*')) AS z, sfx FROM parts),
       |nibs AS (SELECT grp, bucket, z, substr(sfx, z + 1, 1) AS nib FROM zs),
       |rhos AS (SELECT grp, bucket,
       |    CASE WHEN nib = '' THEN ${4 * sfxLen + 1}
       |    ELSE z * 4 + 1 + (CASE WHEN nib = '1' THEN 3
       |      WHEN nib IN ('2', '3') THEN 2
       |      WHEN nib IN ('4', '5', '6', '7') THEN 1
       |      ELSE 0 END) END AS rho
       |  FROM nibs),
       |regs AS (SELECT grp, bucket, max(rho) AS max_rho FROM rhos GROUP BY 1, 2),
       |perz AS (SELECT grp, $hllZSqlDuck FROM regs GROUP BY grp),
       |per AS (SELECT grp, present, $hllEstSqlDuck AS est FROM perz),
       |pv AS (SELECT
       |    max(CASE WHEN grp = 'train' THEN present END) AS present_train,
       |    max(CASE WHEN grp = 'val' THEN present END) AS present_val,
       |    max(CASE WHEN grp = 'test' THEN present END) AS present_test,
       |    max(CASE WHEN grp = 'train' THEN est END) AS est_train,
       |    max(CASE WHEN grp = 'val' THEN est END) AS est_val,
       |    max(CASE WHEN grp = 'test' THEN est END) AS est_test
       |  FROM per),
       |${uni("'train', 'val'", "utv")},
       |${uni("'train', 'test'", "utt")},
       |${uni("'val', 'test'", "uvt")},
       |${uni("'train', 'val', 'test'", "uall")},
       |dt AS (SELECT DISTINCT grp, token FROM toks),
       |ex AS (SELECT CAST(SUM(CASE WHEN ng = 3 THEN 1 ELSE 0 END) AS BIGINT) AS exact_overlap3
       |  FROM (SELECT token, count(DISTINCT grp) AS ng FROM dt GROUP BY token))
       |SELECT pv.present_train, pv.present_val, pv.present_test,
       |  pv.est_train, pv.est_val, pv.est_test,
       |  utv.est AS est_union_trainval, utt.est AS est_union_traintest,
       |  uvt.est AS est_union_valtest, uall.est AS est_union_all,
       |  pv.est_train + pv.est_val + pv.est_test
       |    - utv.est - utt.est - uvt.est + uall.est AS est_overlap3,
       |  ex.exact_overlap3,
       |  CASE WHEN ex.exact_overlap3 > 0
       |    THEN (pv.est_train + pv.est_val + pv.est_test
       |      - utv.est - utt.est - uvt.est + uall.est
       |      - CAST(ex.exact_overlap3 AS DOUBLE)) / CAST(ex.exact_overlap3 AS DOUBLE)
       |  END AS rel_err
       |FROM pv, utv, utt, uvt, uall, ex""".stripMargin
  }

  // ---------- CMS inner product: join-size estimation (q225) ----------

  /** q225: JOIN CARDINALITY estimation by Count-Min INNER PRODUCT —
    * the pre-flight planner number beside q124's skew profile: for a
    * prospective equi-join, |A ⋈ B| = Σ_k f_A(k)·f_B(k), and the CMS
    * inner product Σ_b cA[r][b]·cB[r][b] (min over hash rows) is the
    * classic upper-bound estimator of exactly that sum — computable
    * from two FIXED-SIZE sketches without touching the join. Two
    * prospective joins are sized: the events.user_id SELF-join (the
    * Σf² quadratic-blowup check a fan-out analysis needs) and
    * events ⋈ customer. Ships with its exact eval (the rule): the
    * true join sizes and the relative over-estimate. cm_est ≥ exact
    * ALWAYS (every term's collisions only add mass — spec-pinned);
    * equality means some hash row is collision-free.
    *
    * Scale: each sketch is one map-combinable aggregate over its key
    * scan into $CmRows × 16^$CmHexChars counters; the inner product
    * joins two SKETCHES (fixed size), never the tables. Products
    * accumulate in DECIMAL(38,0) (two ~1e12-count keys multiply past
    * BIGINT); the output casts to BIGINT for the corpus at hand. The
    * exact side is the real join — that is the eval's cost, and the
    * point: the estimate replaces it in planning. */
  def q225JoinCardinality(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id").cast("string").as("k"))
    val cu = Tables.customer(spark, dir).select(col("c_custkey").cast("string").as("k"))
    def sk(df: DataFrame) = df
      .select(explode(bucketStructs(col("k"))).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val se = sk(ev)
    val sc = sk(cu)
    def ip(a: DataFrame, b: DataFrame) = a
      .join(b.select(col("r"), col("b"), col("c").as("c2")), Seq("r", "b"))
      .groupBy("r")
      .agg(sum(col("c").cast("decimal(19,0)") * col("c2").cast("decimal(19,0)")).as("ipr"))
      .agg(min(col("ipr")).cast("long").as("cm_est"))
    val exactSelf = ev.groupBy("k").agg(count(lit(1)).as("f"))
      .agg(sum(col("f").cast("decimal(19,0)") * col("f").cast("decimal(19,0)"))
        .cast("long").as("exact"))
    val exactEc = ev.join(cu, "k").agg(count(lit(1)).as("exact"))
    val self = ip(se, se).crossJoin(exactSelf)
      .select(lit("events_self").as("join_name"), col("cm_est"), col("exact"))
    val ec = ip(se, sc).crossJoin(exactEc)
      .select(lit("events_customer").as("join_name"), col("cm_est"), col("exact"))
    self.unionAll(ec)
      .withColumn("rel_err",
        when(col("exact") > 0,
          (col("cm_est") - col("exact")).cast("double") / col("exact").cast("double")))
  }

  def q225Sql: String = {
    val rowList = (0 until CmRows).mkString("[", ", ", "]")
    def skCte(src: String, out: String) =
      s"""$out AS (SELECT r.r,
         |    substr(md5(CAST(r.r AS VARCHAR) || ':' || $src.k), 1, $CmHexChars) AS b,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM $src CROSS JOIN rows r GROUP BY 1, 2)""".stripMargin
    s"""WITH rows AS (SELECT unnest($rowList) AS r),
       |ek AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
       |ck AS (SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer),
       |${skCte("ek", "se")},
       |${skCte("ck", "sc")},
       |ipself AS (SELECT a.r, SUM(CAST(a.c AS HUGEINT) * b.c) AS ipr
       |  FROM se a JOIN se b ON a.r = b.r AND a.b = b.b GROUP BY 1),
       |ipec AS (SELECT a.r, SUM(CAST(a.c AS HUGEINT) * b.c) AS ipr
       |  FROM se a JOIN sc b ON a.r = b.r AND a.b = b.b GROUP BY 1),
       |exself AS (SELECT CAST(SUM(CAST(f AS HUGEINT) * f) AS BIGINT) AS exact
       |  FROM (SELECT count(*) AS f FROM ek GROUP BY k)),
       |exec1 AS (SELECT CAST(count(*) AS BIGINT) AS exact FROM ek JOIN ck USING (k)),
       |u AS (
       |  SELECT 'events_self' AS join_name,
       |    (SELECT CAST(min(ipr) AS BIGINT) FROM ipself) AS cm_est,
       |    (SELECT exact FROM exself) AS exact
       |  UNION ALL
       |  SELECT 'events_customer',
       |    (SELECT CAST(min(ipr) AS BIGINT) FROM ipec),
       |    (SELECT exact FROM exec1))
       |SELECT join_name, cm_est, exact,
       |  CASE WHEN exact > 0
       |    THEN CAST(cm_est - exact AS DOUBLE) / CAST(exact AS DOUBLE) END AS rel_err
       |FROM u""".stripMargin
  }

  /** q252: ROLLING DISTINCT USERS from TIME-MERGED HLL REGISTERS — the
    * cardinality twin of q245's rolling quantile: each day sketches its
    * active users ONCE (16^$CmHexChars registers), and any trailing
    * ${cfg.rollingQuantileDays}-day distinct-user count is answered by
    * element-MAX merging the window's register sets — max-merge is
    * union, and union across TIME is exactly what a DAU/WAU/MAU
    * dashboard needs (the same artifact serves every window length;
    * distinct counts do NOT sum across days, which is why naive daily
    * rollups cannot answer this). Engine-exact estimates via the q224
    * split-integer-sum chain, exact trailing distinct beside them with
    * rel_err, `present` exposing the regime (q248's discipline).
    *
    * Scale: per-day registers are one map-combinable pass; the
    * time-merge operates on days × m rows of metadata; the exact side
    * (the eval) re-expands the corpus per window — the cost the
    * register artifact eliminates. */
  def q252RollingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = rollingEv(spark, dir)
    rollingDistinctOf(ev, hllRegisterAgg(ev, Seq("day")))
  }

  private def rollingEv(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        col("user_id").cast("string").as("token"))

  /** The q252 consumer over ANY per-day register table — freshly
    * sketched (q252) or artifact-plus-delta merged (q273). */
  private def rollingDistinctOf(ev: DataFrame, daily: DataFrame): DataFrame = {
    val W = cfg.rollingQuantileDays
    val days = ev.select("day").distinct()
    val merged = daily
      .withColumn("target_day", explode(sequence(col("day"), col("day") + (W - 1))))
      .join(days.select(col("day").as("target_day")), Seq("target_day"))
      .groupBy("target_day", "bucket").agg(max(col("max_rho")).as("max_rho"))
    val est = merged.groupBy("target_day").agg(hllZAgg.head, hllZAgg.tail: _*)
      .select(col("target_day"), col("present"), hllEstCol.as("est_users"))
    val exact = ev
      .withColumn("target_day", explode(sequence(col("day"), col("day") + (W - 1))))
      .join(days.select(col("day").as("target_day")), Seq("target_day"))
      .select("target_day", "token").distinct()
      .groupBy("target_day").agg(count(lit(1)).as("exact_users"))
    est.join(exact, "target_day")
      .select(col("target_day").as("day"), col("present"), col("est_users"),
        col("exact_users"),
        ((col("est_users") - col("exact_users").cast("double"))
          / col("exact_users").cast("double")).as("rel_err"))
  }

  /** q273: the DAILY-REGISTER LEDGER — the incremental lifecycle q252's
    * scaladoc promises ("yesterday's registers are simply reloaded"),
    * made real code: all days BEFORE the feed's max day live in a
    * persisted, content-keyed register artifact (the q242/q263
    * build-if-absent discipline); only the newest day is sketched
    * fresh; the per-day tables union (days are disjoint) and the q252
    * consumer runs unchanged on the merge. Nightly cost = one delta-day
    * sketch + the metadata-sized window merge — the base corpus is
    * never re-sketched (with a date-partitioned landing the delta
    * filter would also prune directories, q146's mode). The oracle is
    * q252's FULL recompute, so artifact-plus-delta ≡ resketch is
    * re-proven end to end every round; the exact_users column remains
    * the eval side and deliberately re-scans (it is the cost the
    * registers replace). */
  def q273RegisterLedger(spark: SparkSession, dir: String): DataFrame = {
    val ev = rollingEv(spark, dir)
    // max over an empty feed is NULL — return the (empty) full shape
    // rather than NPE on getLong (the round-12 advice).
    val maxDayOpt = Option(ev.agg(max(col("day"))).head().getAs[java.lang.Long](0))
    if (maxDayOpt.isEmpty) return rollingDistinctOf(ev, hllRegisterAgg(ev, Seq("day")))
    val maxDay = maxDayOpt.get.longValue
    val base = Artifact.getOrBuild(spark, "hllday_base", dir, Seq("events.parquet"),
      s"hex=$CmHexChars")(hllRegisterAgg(ev.filter(col("day") < maxDay), Seq("day")).write.parquet(_))
    val delta = hllRegisterAgg(ev.filter(col("day") === maxDay), Seq("day"))
    rollingDistinctOf(ev, base.unionByName(delta))
  }

  /** Merged ≡ resketched by construction — the oracle IS q252's. */
  def q273Sql: String = q252Sql

  def q252Sql: String = {
    val sfxLen = 32 - CmHexChars
    val W = cfg.rollingQuantileDays
    s"""WITH ev AS (SELECT epoch_ms(ts) // 86400000 AS day,
       |    CAST(user_id AS VARCHAR) AS token FROM events),
       |days AS (SELECT DISTINCT day FROM ev),
       |hashed AS (SELECT day, md5(token) AS h FROM ev),
       |parts AS (SELECT day, substr(h, 1, $CmHexChars) AS bucket,
       |    substr(h, ${CmHexChars + 1}, $sfxLen) AS sfx FROM hashed),
       |zs AS (SELECT day, bucket, len(regexp_extract(sfx, '^0*')) AS z, sfx FROM parts),
       |nibs AS (SELECT day, bucket, z, substr(sfx, z + 1, 1) AS nib FROM zs),
       |rhos AS (SELECT day, bucket,
       |    CASE WHEN nib = '' THEN ${4 * sfxLen + 1}
       |    ELSE z * 4 + 1 + (CASE WHEN nib = '1' THEN 3
       |      WHEN nib IN ('2', '3') THEN 2
       |      WHEN nib IN ('4', '5', '6', '7') THEN 1
       |      ELSE 0 END) END AS rho
       |  FROM nibs),
       |regs AS (SELECT day, bucket, max(rho) AS max_rho FROM rhos GROUP BY 1, 2),
       |mg AS (SELECT t.day AS target_day, r.bucket, max(r.max_rho) AS max_rho
       |  FROM regs r JOIN days t ON t.day BETWEEN r.day AND r.day + ${W - 1}
       |  GROUP BY 1, 2),
       |perz AS (SELECT target_day, $hllZSqlDuck
       |  FROM mg GROUP BY target_day),
       |est AS (SELECT target_day, present, $hllEstSqlDuck AS est_users FROM perz),
       |exact AS (SELECT t.day AS target_day,
       |    CAST(count(DISTINCT e.token) AS BIGINT) AS exact_users
       |  FROM ev e JOIN days t ON t.day BETWEEN e.day AND e.day + ${W - 1}
       |  GROUP BY 1)
       |SELECT e2.target_day AS day, e2.present, e2.est_users, x.exact_users,
       |  (e2.est_users - CAST(x.exact_users AS DOUBLE)) / CAST(x.exact_users AS DOUBLE)
       |    AS rel_err
       |FROM est e2 JOIN exact x USING (target_day)""".stripMargin
  }

  /** q266: the ACTIVE-USERS TRIPLET (DAU / WAU / MAU) from ONE daily
    * register artifact — q252's time-merge parameterized by the three
    * calendar windows every engagement dashboard ships (1 / 7 / 28
    * trailing days, the round-11 verdict's #8): each day's users are
    * sketched ONCE, and all three columns are register-max merges of
    * different spans of the same sketch table — distinct counts do NOT
    * sum across days (union-not-sum), so no daily rollup can answer
    * this, but the union IS native to the registers. Exact triplet +
    * regime (`present_*`) travel alongside (the rule).
    *
    * Scale: one corpus scan into days × m registers; the three merges
    * are metadata-sized (days × m × window). The exact side re-scans
    * the corpus per window — that cost is the point: the artifact path
    * replaces it, and at 100 TB yesterday's registers are simply
    * reloaded (q252's incremental-ingest argument). */
  def q266ActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        col("user_id").cast("string").as("token"))
    val days = ev.select("day").distinct()
    val daily = hllRegisterAgg(ev, Seq("day"))
    def winEst(w: Int, name: String): DataFrame = daily
      .withColumn("target_day", explode(sequence(col("day"), col("day") + (w - 1))))
      .join(days.select(col("day").as("target_day")), Seq("target_day"))
      .groupBy("target_day", "bucket").agg(max(col("max_rho")).as("max_rho"))
      .groupBy("target_day").agg(hllZAgg.head, hllZAgg.tail: _*)
      .select(col("target_day"), col("present").as(s"present_$name"),
        hllEstCol.as(s"${name}_est"))
    def winExact(w: Int, name: String): DataFrame = ev
      .withColumn("target_day", explode(sequence(col("day"), col("day") + (w - 1))))
      .join(days.select(col("day").as("target_day")), Seq("target_day"))
      .select("target_day", "token").distinct()
      .groupBy("target_day").agg(count(lit(1)).as(s"${name}_exact"))
    winEst(1, "dau").join(winEst(7, "wau"), "target_day")
      .join(winEst(28, "mau"), "target_day")
      .join(winExact(1, "dau"), "target_day")
      .join(winExact(7, "wau"), "target_day")
      .join(winExact(28, "mau"), "target_day")
      .select(col("target_day").as("day"),
        col("present_dau"), col("present_wau"), col("present_mau"),
        col("dau_est"), col("wau_est"), col("mau_est"),
        col("dau_exact"), col("wau_exact"), col("mau_exact"))
  }

  def q266Sql: String = {
    val sfxLen = 32 - CmHexChars
    def win(w: Int, n: String): String =
      s"""mg_$n AS (SELECT t.day AS target_day, r.bucket, max(r.max_rho) AS max_rho
         |  FROM regs r JOIN days t ON t.day BETWEEN r.day AND r.day + ${w - 1}
         |  GROUP BY 1, 2),
         |z_$n AS (SELECT target_day, $hllZSqlDuck FROM mg_$n GROUP BY target_day),
         |e_$n AS (SELECT target_day, present AS present_$n,
         |  $hllEstSqlDuck AS ${n}_est FROM z_$n),
         |x_$n AS (SELECT t.day AS target_day,
         |    CAST(count(DISTINCT e.token) AS BIGINT) AS ${n}_exact
         |  FROM ev e JOIN days t ON t.day BETWEEN e.day AND e.day + ${w - 1}
         |  GROUP BY 1)""".stripMargin
    s"""WITH ev AS (SELECT epoch_ms(ts) // 86400000 AS day,
       |    CAST(user_id AS VARCHAR) AS token FROM events),
       |days AS (SELECT DISTINCT day FROM ev),
       |hashed AS (SELECT day, md5(token) AS h FROM ev),
       |parts AS (SELECT day, substr(h, 1, $CmHexChars) AS bucket,
       |    substr(h, ${CmHexChars + 1}, $sfxLen) AS sfx FROM hashed),
       |zs AS (SELECT day, bucket, len(regexp_extract(sfx, '^0*')) AS z, sfx FROM parts),
       |nibs AS (SELECT day, bucket, z, substr(sfx, z + 1, 1) AS nib FROM zs),
       |rhos AS (SELECT day, bucket,
       |    CASE WHEN nib = '' THEN ${4 * sfxLen + 1}
       |    ELSE z * 4 + 1 + (CASE WHEN nib = '1' THEN 3
       |      WHEN nib IN ('2', '3') THEN 2
       |      WHEN nib IN ('4', '5', '6', '7') THEN 1
       |      ELSE 0 END) END AS rho
       |  FROM nibs),
       |regs AS (SELECT day, bucket, max(rho) AS max_rho FROM rhos GROUP BY 1, 2),
       |${win(1, "dau")},
       |${win(7, "wau")},
       |${win(28, "mau")}
       |SELECT e_dau.target_day AS day,
       |  e_dau.present_dau, e_wau.present_wau, e_mau.present_mau,
       |  e_dau.dau_est, e_wau.wau_est, e_mau.mau_est,
       |  x_dau.dau_exact, x_wau.wau_exact, x_mau.mau_exact
       |FROM e_dau
       |JOIN e_wau USING (target_day) JOIN e_mau USING (target_day)
       |JOIN x_dau USING (target_day) JOIN x_wau USING (target_day)
       |JOIN x_mau USING (target_day)""".stripMargin
  }

  /** q284: LEDGER COMPACTION — the merge-tree rollup the register
    * family needed (the round-12 verdict's #6): q273/q278 persist
    * per-day registers forever, so the ledger artifact grows one
    * m-register row-set per day without bound; register-max is
    * ASSOCIATIVE, so aged days compact losslessly into
    * ${cfg.ledgerPeriodDays}-day SUPER-REGISTERS (daily→period merge ≡
    * sketching the period directly — the oracle re-proves this bitwise
    * every round by recomputing from raw events). Periods strictly
    * before the one containing the feed's max day are aged: their
    * daily rows collapse to one register set per period in a
    * content-keyed build-if-absent artifact; the CURRENT period stays
    * daily (rolling consumers like q252 still need day granularity
    * inside their window — compaction only ages out days no rolling
    * window can reach). The consumer here reads the MIXED ledger
    * transparently: per-period distinct users where aged periods read
    * one super-register set and the current period merges its daily
    * rows — the same register-max, keyed differently. Output tags each
    * period with its serving granularity (`src`), and the exact side
    * ships as the eval (the rule).
    *
    * Scale: the ledger stays CALENDAR-BOUNDED — aged periods cost
    * m registers per ${cfg.ledgerPeriodDays} days instead of per day
    * (a 28× artifact shrink at steady state), the compaction pass is a
    * metadata-sized grouped max over register rows (never a corpus
    * re-scan), and long-horizon distinct queries merge
    * periods-not-days. Distinct counts do NOT sum across periods
    * (union-not-sum) — but the union IS native to the registers, which
    * is why the rollup is lossless where a count rollup would be
    * wrong; the spec extends the union-not-sum pin to the mixed
    * ledger. */
  def q284LedgerCompact(spark: SparkSession, dir: String): DataFrame = {
    val P = cfg.ledgerPeriodDays
    val ev = rollingEv(spark, dir)
    val maxDayOpt = Option(ev.agg(max(col("day"))).head().getAs[java.lang.Long](0))
    if (maxDayOpt.isEmpty)
      return ev.select(lit(0L).as("period"), lit(0L).as("n_days"), lit("").as("src"),
        lit(0L).as("present"), lit(0.0).as("est_users"), lit(0L).as("exact_users"),
        lit(0.0).as("rel_err")).limit(0)
    val curStart = (maxDayOpt.get.longValue / P) * P
    val compacted = Artifact.getOrBuild(spark, "hllperiod_base", dir, Seq("events.parquet"),
        s"hex=$CmHexChars,p=$P,cs=$curStart") { p =>
      hllRegisterAgg(ev.filter(col("day") < curStart), Seq("day"))
        .select(expr(s"day div $P").as("period"), col("bucket"), col("max_rho"))
        .groupBy("period", "bucket").agg(max(col("max_rho")).as("max_rho"))
        .write.parquet(p)
    }
    val daily = hllRegisterAgg(ev.filter(col("day") >= curStart), Seq("day"))
      .select(expr(s"day div $P").as("period"), col("bucket"), col("max_rho"))
    val mixed = compacted.unionByName(daily)
      .groupBy("period", "bucket").agg(max(col("max_rho")).as("max_rho"))
    val est = mixed.groupBy("period").agg(hllZAgg.head, hllZAgg.tail: _*)
      .select(col("period"), col("present"), hllEstCol.as("est_users"))
    val evp = ev.select(expr(s"day div $P").as("period"), col("day"), col("token"))
    val nd = evp.select("period", "day").distinct()
      .groupBy("period").agg(count(lit(1)).as("n_days"))
    val exact = evp.select("period", "token").distinct()
      .groupBy("period").agg(count(lit(1)).as("exact_users"))
    est.join(nd, "period").join(exact, "period")
      .select(col("period"), col("n_days"),
        when(col("period") < lit(curStart / P), lit("compact"))
          .otherwise(lit("daily")).as("src"),
        col("present"), col("est_users"), col("exact_users"),
        ((col("est_users") - col("exact_users").cast("double"))
          / col("exact_users").cast("double")).as("rel_err"))
  }

  /** Full recompute from raw events, grouped straight by period — the
    * compacted-mixed ledger must equal it bitwise (register-max
    * associativity is the claim under test). */
  def q284Sql: String = {
    val P = cfg.ledgerPeriodDays
    val sfxLen = 32 - CmHexChars
    s"""WITH ev AS (SELECT epoch_ms(ts) // 86400000 AS day,
       |    CAST(user_id AS VARCHAR) AS token FROM events),
       |hashed AS (SELECT day, md5(token) AS h FROM ev),
       |parts AS (SELECT day, substr(h, 1, $CmHexChars) AS bucket,
       |    substr(h, ${CmHexChars + 1}, $sfxLen) AS sfx FROM hashed),
       |zs AS (SELECT day, bucket, len(regexp_extract(sfx, '^0*')) AS z, sfx FROM parts),
       |nibs AS (SELECT day, bucket, z, substr(sfx, z + 1, 1) AS nib FROM zs),
       |rhos AS (SELECT day, bucket,
       |    CASE WHEN nib = '' THEN ${4 * sfxLen + 1}
       |    ELSE z * 4 + 1 + (CASE WHEN nib = '1' THEN 3
       |      WHEN nib IN ('2', '3') THEN 2
       |      WHEN nib IN ('4', '5', '6', '7') THEN 1
       |      ELSE 0 END) END AS rho
       |  FROM nibs),
       |per AS (SELECT day // $P AS period, bucket, max(rho) AS max_rho
       |  FROM rhos GROUP BY 1, 2),
       |cp AS (SELECT max(day) // $P AS cp FROM ev),
       |z AS (SELECT period, $hllZSqlDuck FROM per GROUP BY period),
       |est AS (SELECT period, present, $hllEstSqlDuck AS est_users FROM z),
       |nd AS (SELECT day // $P AS period,
       |    CAST(count(DISTINCT day) AS BIGINT) AS n_days FROM ev GROUP BY 1),
       |exact AS (SELECT day // $P AS period,
       |    CAST(count(DISTINCT token) AS BIGINT) AS exact_users FROM ev GROUP BY 1)
       |SELECT e.period, nd.n_days,
       |  CASE WHEN e.period < (SELECT cp FROM cp) THEN 'compact' ELSE 'daily' END AS src,
       |  e.present, e.est_users, x.exact_users,
       |  (e.est_users - CAST(x.exact_users AS DOUBLE)) / CAST(x.exact_users AS DOUBLE)
       |    AS rel_err
       |FROM est e JOIN nd USING (period) JOIN exact x USING (period)""".stripMargin
  }

  /** q248: ONE-PASS NDV COLUMN PROFILE — the statistics collector
    * behind ANALYZE TABLE / CBO cardinalities, as a single scan: every
    * profiled lineitem column unpivots to (column, value) pairs
    * in-row, the shared HLL register kernel sketches all columns at
    * once (state = columns × 16^$CmHexChars registers, mergeable by
    * element max across shards — the property that lets 1000 executors
    * profile a 100 TB table and combine metadata-sized results), and
    * the engine-exact estimate (q224's split integer register sums
    * read through one fixed float chain) ships NEXT TO the exact
    * distinct count and its relative error — the approximation-ships-
    * with-its-eval rule applied to the profiler itself. Values hash on
    * CANONICAL renderings (integers as decimal strings, timestamps as
    * epoch ms) so both engines sketch identical token streams; double
    * columns are excluded by design — their string forms are not a
    * cross-engine canon (the q89/q205 cents idiom is, when needed).
    * `present` travels per column: a consumer can see when a column
    * sits below the raw estimator's regime (q224's contract) instead
    * of trusting a biased number. */
  def q248NdvProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val rendered = Seq(
      ("l_orderkey", col("l_orderkey").cast("string")),
      ("l_partkey", col("l_partkey").cast("string")),
      ("l_suppkey", col("l_suppkey").cast("string")),
      ("l_returnflag", col("l_returnflag")),
      ("l_shipdate",
        expr("CAST(unix_millis(CAST(l_shipdate AS TIMESTAMP)) AS STRING)")))
    val stacked = li.select(explode(array(rendered.map { case (n, c) =>
        struct(lit(n).as("col_name"), c.as("token")) }: _*)).as("kv"))
      .select(col("kv.col_name").as("col_name"), col("kv.token"))
      .filter(col("token").isNotNull)
    val regs = hllRegisterAgg(stacked, Seq("col_name"))
    val est = regs.groupBy("col_name").agg(hllZAgg.head, hllZAgg.tail: _*)
      .select(col("col_name"), col("present"), hllEstCol.as("est_ndv"))
    val exact = stacked.distinct().groupBy("col_name")
      .agg(count(lit(1)).as("exact_ndv"))
    est.join(exact, "col_name")
      .select(col("col_name"), col("present"), col("est_ndv"), col("exact_ndv"),
        ((col("est_ndv") - col("exact_ndv").cast("double"))
          / col("exact_ndv").cast("double")).as("rel_err"))
  }

  def q248Sql: String = {
    val sfxLen = 32 - CmHexChars
    s"""WITH stacked AS (
       |  SELECT 'l_orderkey' AS col_name, CAST(l_orderkey AS VARCHAR) AS token FROM lineitem
       |  UNION ALL
       |  SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
       |  UNION ALL
       |  SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem
       |  UNION ALL
       |  SELECT 'l_returnflag', l_returnflag FROM lineitem
       |  UNION ALL
       |  SELECT 'l_shipdate', CAST(epoch_ms(l_shipdate) AS VARCHAR) FROM lineitem),
       |toks AS (SELECT col_name, token FROM stacked WHERE token IS NOT NULL),
       |hashed AS (SELECT col_name, md5(token) AS h FROM toks),
       |parts AS (SELECT col_name, substr(h, 1, $CmHexChars) AS bucket,
       |    substr(h, ${CmHexChars + 1}, $sfxLen) AS sfx FROM hashed),
       |zs AS (SELECT col_name, bucket, len(regexp_extract(sfx, '^0*')) AS z, sfx FROM parts),
       |nibs AS (SELECT col_name, bucket, z, substr(sfx, z + 1, 1) AS nib FROM zs),
       |rhos AS (SELECT col_name, bucket,
       |    CASE WHEN nib = '' THEN ${4 * sfxLen + 1}
       |    ELSE z * 4 + 1 + (CASE WHEN nib = '1' THEN 3
       |      WHEN nib IN ('2', '3') THEN 2
       |      WHEN nib IN ('4', '5', '6', '7') THEN 1
       |      ELSE 0 END) END AS rho
       |  FROM nibs),
       |regs AS (SELECT col_name, bucket, max(rho) AS max_rho FROM rhos GROUP BY 1, 2),
       |perz AS (SELECT col_name, $hllZSqlDuck
       |  FROM regs GROUP BY col_name),
       |est AS (SELECT col_name, present, $hllEstSqlDuck AS est_ndv FROM perz),
       |exact AS (SELECT col_name, CAST(count(DISTINCT token) AS BIGINT) AS exact_ndv
       |  FROM toks GROUP BY 1)
       |SELECT e.col_name, e.present, e.est_ndv, x.exact_ndv,
       |  (e.est_ndv - CAST(x.exact_ndv AS DOUBLE)) / CAST(x.exact_ndv AS DOUBLE) AS rel_err
       |FROM est e JOIN exact x USING (col_name)""".stripMargin
  }

  /** q245: ROLLING QUANTILE from MERGED DAILY SKETCHES — the production
    * percentile dashboard: each day folds its order values into its own
    * q205 log-linear sketch ONCE, and any trailing
    * ${cfg.rollingQuantileDays}-day p${cfg.rollingQuantileP} is then
    * answered by summing the window's daily bucket tables and cutting
    * the nearest rank — the range-merge consumption the mergeable
    * sketch exists for (q214 merged across SHARDS; this merges across
    * TIME). At 100 TB the dashboard keeps ≤ 64·2^(k+1) rows per day and
    * answers ANY date range without re-scanning a byte of history; the
    * window here is trailing days, but the same sum serves
    * month-to-date or arbitrary ranges. Ships with the q206-style
    * guaranteed-bounds eval: the exact trailing percentile (computed
    * the expensive way — the cost the sketch path eliminates) must land
    * inside the cut bucket, in_bounds hash-gated. All bucket math is
    * the q205 integer-exact construction; day keys are epoch days. */
  def q245RollingQuantile(spark: SparkSession, dir: String): DataFrame = {
    val W = cfg.rollingQuantileDays
    val P = cfg.rollingQuantileP
    val vals = Tables.orders(spark, dir)
      .select(expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000").as("day"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("v"))
    val days = vals.select("day").distinct()
    val daily = qsBuckets(vals.select(col("day").as("cls"), col("v")))
    val merged = daily
      .withColumn("target_day", explode(sequence(col("cls"), col("cls") + (W - 1))))
      .join(days.select(col("day").as("target_day")), Seq("target_day"))
      .groupBy("target_day", "e", "m", "lo100", "hi100")
      .agg(sum(col("cnt")).as("cnt"))
    val ranks = merged.groupBy("target_day").agg(sum(col("cnt")).as("n"))
      .select(col("target_day"), col("n"), expr(s"(n * $P + 99) div 100").as("r"))
    // cumulative counts as a per-day window (partition = one day's ≤
    // 64·2^(k+1) buckets — bounded, never a corpus sort; cheaper than
    // q206's triangular join once the class count is thousands of days)
    val wCum = org.apache.spark.sql.expressions.Window.partitionBy("target_day")
      .orderBy(col("lo100"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = merged.withColumn("cum", sum(col("cnt")).over(wCum))
      .select("target_day", "lo100", "hi100", "cum")
    val cut = ranks.join(cum, "target_day")
      .filter(col("cum") >= col("r"))
      .groupBy("target_day", "n")
      .agg(min(struct(col("lo100"), col("hi100"))).as("mm"))
      .select(col("target_day"), col("n"),
        col("mm.lo100").as("lo100"), col("mm.hi100").as("hi100"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("target_day")
    val exact = vals
      .withColumn("target_day", explode(sequence(col("day"), col("day") + (W - 1))))
      .join(days.select(col("day").as("target_day")), Seq("target_day"))
      .withColumn("rn", row_number().over(w.orderBy(col("v"))))
      .withColumn("nn", count(lit(1)).over(w))
      .filter(col("rn") === expr(s"(nn * $P + 99) div 100"))
      .select(col("target_day"), col("v").as("exact_v100"))
    cut.join(exact, "target_day")
      .select(col("target_day").as("day"), col("n"), col("lo100"), col("hi100"),
        col("exact_v100"),
        col("exact_v100").between(col("lo100"), col("hi100")).as("in_bounds"))
  }

  def q245Sql: String = {
    val W = cfg.rollingQuantileDays
    val P = cfg.rollingQuantileP
    s"""WITH vals AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
       |    CAST(floor(o_totalprice * 100) AS BIGINT) AS v FROM orders),
       |days AS (SELECT DISTINCT day FROM vals),
       |ebl AS (SELECT day, v, CAST(length(bin(v)) AS BIGINT) AS e FROM vals),
       |dd AS (SELECT day, v, e,
       |    CAST(power(2.0, greatest(e - 1 - $QsK, 0)) AS BIGINT) AS d FROM ebl),
       |skd AS (SELECT day, e, v // d AS m, d, count(*) AS cnt
       |  FROM dd GROUP BY 1, 2, 3, 4),
       |daily AS (SELECT day, e, m, m * d AS lo100, (m + 1) * d - 1 AS hi100, cnt
       |  FROM skd),
       |mg AS (SELECT t.day AS target_day, s.e, s.m, s.lo100, s.hi100,
       |    CAST(SUM(s.cnt) AS BIGINT) AS cnt
       |  FROM daily s JOIN days t ON t.day BETWEEN s.day AND s.day + ${W - 1}
       |  GROUP BY 1, 2, 3, 4, 5),
       |ns AS (SELECT target_day, CAST(SUM(cnt) AS BIGINT) AS n FROM mg GROUP BY 1),
       |cum AS (SELECT a.target_day, a.lo100, a.hi100, CAST(SUM(b.cnt) AS BIGINT) AS cum
       |  FROM mg a JOIN mg b ON a.target_day = b.target_day AND b.lo100 <= a.lo100
       |  GROUP BY 1, 2, 3),
       |cut AS (SELECT c.target_day, ns.n, min(c.lo100) AS lo100
       |  FROM cum c JOIN ns USING (target_day)
       |  WHERE c.cum >= (ns.n * $P + 99) // 100
       |  GROUP BY 1, 2),
       |cutb AS (SELECT c.target_day, c.n, c.lo100, m.hi100
       |  FROM cut c JOIN mg m ON m.target_day = c.target_day AND m.lo100 = c.lo100),
       |ex AS (SELECT t.day AS target_day, s.v,
       |    row_number() OVER (PARTITION BY t.day ORDER BY s.v) AS rn,
       |    count(*) OVER (PARTITION BY t.day) AS nn
       |  FROM vals s JOIN days t ON t.day BETWEEN s.day AND s.day + ${W - 1}),
       |exact AS (SELECT target_day, v AS exact_v100 FROM ex
       |  WHERE rn = (nn * $P + 99) // 100)
       |SELECT c.target_day AS day, c.n, c.lo100, c.hi100, e2.exact_v100,
       |  e2.exact_v100 BETWEEN c.lo100 AND c.hi100 AS in_bounds
       |FROM cutb c JOIN exact e2 USING (target_day)""".stripMargin
  }

  /** q295: QUANTILE-LEDGER COMPACTION — q284's merge-tree rollup
    * applied to the DAILY QUANTILE ledger (q245 otherwise persists one
    * bucket table per day forever): bucket counts are SUM-mergeable
    * (q205's pinned property — addition plays the role register-max
    * plays for HLL), so days strictly before the current
    * ${cfg.ledgerPeriodDays}-day period compact LOSSLESSLY into
    * per-period super-buckets (content-keyed build-if-absent artifact;
    * daily→period merge ≡ sketching the period directly, which is
    * exactly what the straight-by-period oracle re-proves bitwise).
    * The current period stays daily — q245's rolling window needs day
    * granularity only inside its trailing reach; compaction ages out
    * days no window reaches. The consumer answers each period's
    * p${cfg.rollingQuantileP} from the MIXED ledger transparently
    * (aged = one super-bucket set, current = its daily rows summed —
    * the same merge, keyed differently), tags the serving granularity
    * (`src`), and ships the q206-style guaranteed-bounds eval: the
    * exact per-period percentile must land inside the cut bucket.
    *
    * Scale: the ledger stays CALENDAR-BOUNDED — ≤ 64·2^${QsK + 1}
    * bucket rows per ${cfg.ledgerPeriodDays} days instead of per day
    * (a 28× artifact shrink at steady state); compaction is a
    * metadata-sized grouped SUM over bucket rows, never a re-scan of
    * order history; the per-period cut is a window over one period's
    * bounded bucket set. */
  def q295QuantileCompact(spark: SparkSession, dir: String): DataFrame = {
    val P = cfg.ledgerPeriodDays
    val Pc = cfg.rollingQuantileP
    val vals = Tables.orders(spark, dir)
      .select(expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000").as("day"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("v"))
    val maxDayOpt = Option(vals.agg(max(col("day"))).head().getAs[java.lang.Long](0))
    if (maxDayOpt.isEmpty)
      return vals.select(lit(0L).as("period"), lit(0L).as("n_days"), lit("").as("src"),
        lit(0L).as("n"), lit(0L).as("lo100"), lit(0L).as("hi100"),
        lit(0L).as("exact_v100"), lit(false).as("in_bounds")).limit(0)
    val curStart = (maxDayOpt.get.longValue / P) * P
    def periodBuckets(slice: DataFrame): DataFrame =
      qsBuckets(slice.select(col("day").as("cls"), col("v")))
        .select(expr(s"cls div $P").as("period"), col("e"), col("m"),
          col("lo100"), col("hi100"), col("cnt"))
        .groupBy("period", "e", "m", "lo100", "hi100")
        .agg(sum(col("cnt")).as("cnt"))
    val compacted = Artifact.getOrBuild(spark, "qsperiod_base", dir, Seq("orders.parquet"),
      s"qsk=$QsK,p=$P,cs=$curStart")(periodBuckets(vals.filter(col("day") < curStart)).write.parquet(_))
    val daily = periodBuckets(vals.filter(col("day") >= curStart))
    val mixed = compacted.unionByName(daily)
      .groupBy("period", "e", "m", "lo100", "hi100").agg(sum(col("cnt")).as("cnt"))
    val ranks = mixed.groupBy("period").agg(sum(col("cnt")).as("n"))
      .select(col("period"), col("n"), expr(s"(n * $Pc + 99) div 100").as("r"))
    val wCum = org.apache.spark.sql.expressions.Window.partitionBy("period")
      .orderBy(col("lo100"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = mixed.withColumn("cum", sum(col("cnt")).over(wCum))
      .select("period", "lo100", "hi100", "cum")
    val cut = ranks.join(cum, "period")
      .filter(col("cum") >= col("r"))
      .groupBy("period", "n")
      .agg(min(struct(col("lo100"), col("hi100"))).as("mm"))
      .select(col("period"), col("n"),
        col("mm.lo100").as("lo100"), col("mm.hi100").as("hi100"))
    val evp = vals.select(expr(s"day div $P").as("period"), col("day"), col("v"))
    val nd = evp.select("period", "day").distinct()
      .groupBy("period").agg(count(lit(1)).as("n_days"))
    val wP = org.apache.spark.sql.expressions.Window.partitionBy("period")
    val exact = evp
      .withColumn("rn", row_number().over(wP.orderBy(col("v"))))
      .withColumn("nn", count(lit(1)).over(wP))
      .filter(col("rn") === expr(s"(nn * $Pc + 99) div 100"))
      .select(col("period"), col("v").as("exact_v100"))
    cut.join(nd, "period").join(exact, "period")
      .select(col("period"), col("n_days"),
        when(col("period") < lit(curStart / P), lit("compact"))
          .otherwise(lit("daily")).as("src"),
        col("n"), col("lo100"), col("hi100"), col("exact_v100"),
        col("exact_v100").between(col("lo100"), col("hi100")).as("in_bounds"))
  }

  /** Full recompute from raw orders, sketched straight by period — the
    * compacted-mixed ledger must equal it bitwise (bucket-count SUM
    * associativity is the claim under test). */
  def q295Sql: String = {
    val P = cfg.ledgerPeriodDays
    val Pc = cfg.rollingQuantileP
    s"""WITH vals AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
       |    CAST(floor(o_totalprice * 100) AS BIGINT) AS v FROM orders),
       |ebl AS (SELECT day // $P AS period, v, CAST(length(bin(v)) AS BIGINT) AS e FROM vals),
       |dd AS (SELECT period, v, e,
       |    CAST(power(2.0, greatest(e - 1 - $QsK, 0)) AS BIGINT) AS d FROM ebl),
       |skd AS (SELECT period, e, v // d AS m, d, count(*) AS cnt
       |  FROM dd GROUP BY 1, 2, 3, 4),
       |mg AS (SELECT period, e, m, m * d AS lo100, (m + 1) * d - 1 AS hi100,
       |    CAST(cnt AS BIGINT) AS cnt FROM skd),
       |ns AS (SELECT period, CAST(sum(cnt) AS BIGINT) AS n FROM mg GROUP BY 1),
       |cum AS (SELECT a.period, a.lo100, a.hi100, CAST(sum(b.cnt) AS BIGINT) AS cum
       |  FROM mg a JOIN mg b ON b.period = a.period AND b.lo100 <= a.lo100
       |  GROUP BY 1, 2, 3),
       |cut AS (SELECT c.period, ns.n, min(c.lo100) AS lo100
       |  FROM cum c JOIN ns USING (period)
       |  WHERE c.cum >= (ns.n * $Pc + 99) // 100
       |  GROUP BY 1, 2),
       |cutb AS (SELECT c.period, c.n, c.lo100, m.hi100
       |  FROM cut c JOIN mg m ON m.period = c.period AND m.lo100 = c.lo100),
       |nd AS (SELECT day // $P AS period,
       |    CAST(count(DISTINCT day) AS BIGINT) AS n_days FROM vals GROUP BY 1),
       |ex AS (SELECT day // $P AS period, v,
       |    row_number() OVER (PARTITION BY day // $P ORDER BY v) AS rn,
       |    count(*) OVER (PARTITION BY day // $P) AS nn
       |  FROM vals),
       |exact AS (SELECT period, v AS exact_v100 FROM ex
       |  WHERE rn = (nn * $Pc + 99) // 100),
       |cp AS (SELECT max(day) // $P AS cp FROM vals)
       |SELECT c.period, nd.n_days,
       |  CASE WHEN c.period < (SELECT cp FROM cp) THEN 'compact' ELSE 'daily' END AS src,
       |  c.n, c.lo100, c.hi100, e2.exact_v100,
       |  e2.exact_v100 BETWEEN c.lo100 AND c.hi100 AS in_bounds
       |FROM cutb c JOIN nd USING (period) JOIN exact e2 USING (period)""".stripMargin
  }

  /** q234: EXACT heavy hitters over an unbounded key domain in two
    * bounded-memory passes — every word bigram with true count ≥
    * $CmHeavyMin, exactly (count and all), WITHOUT ever running the
    * full-vocabulary exact aggregate. Pass 1 folds the corpus into the
    * fixed-size Count-Min sketch (map-side combinable, one tiny merge
    * shuffle). Pass 2 re-scans occurrences and probes each against the
    * BROADCAST sketch ($CmRows chained broadcast joins, one per salt
    * row — no shuffle); an occurrence survives only when its estimate
    * min reaches the threshold. CMS never undercounts, so the survivor
    * set is a SUPERSET of the true heavy hitters (no false negatives —
    * the guarantee that makes the two-pass scheme exact); the final
    * per-key aggregate then counts ONLY survivors and keeps true_cnt ≥
    * threshold, discarding collision-inflated impostors.
    *
    * The scale contract: the only bigram-keyed shuffle carries
    * candidate occurrences, and candidate keys are bounded by
    * corpus_pairs/threshold + collision spill — never the vocabulary.
    * At 100 TB the vocabulary of n-grams is the thing you CANNOT
    * groupBy (q88 verifies sketch quality on a known top-k; this query
    * is the consuming pattern that replaces the exact aggregate).
    * cm_est rides along per emitted key: est ≥ true always, equality ⇔
    * some salt row is collision-free for the key. */
  def q234HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val HeavyMin = cfg.cmHeavyMin
    val occ = Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .withColumn("g", explode(sequence(lit(1), size(col("ws")) - 1)))
      .select(concat(element_at(col("ws"), col("g")), lit(" "),
        element_at(col("ws"), col("g") + 1)).as("bigram"))
    val sketch = occ
      .select(explode(bucketStructs(col("bigram"))).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val probed = (0 until CmRows).foldLeft(occ) { (df, r) =>
      val sr = sketch.filter(col("r") === r)
        .select(col("b").as(s"b$r"), col("c").as(s"c$r"))
      df.withColumn(s"b$r",
          substring(md5(concat(lit(s"$r:"), col("bigram"))), 1, CmHexChars))
        .join(broadcast(sr), s"b$r")
    }
    probed
      .withColumn("est", least((0 until CmRows).map(r => col(s"c$r")): _*))
      .filter(col("est") >= HeavyMin)
      .groupBy("bigram")
      .agg(count(lit(1)).as("true_cnt"), min(col("est")).as("cm_est"))
      .filter(col("true_cnt") >= HeavyMin)
  }

  def q234Sql: String = {
    val rowList = (0 until CmRows).mkString("[", ", ", "]")
    s"""WITH pairs AS (
       |  SELECT ws[g] || ' ' || ws[g+1] AS bigram
       |  FROM (SELECT string_split(text, ' ') AS ws FROM documents),
       |    LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS g) t
       |  WHERE len(ws) >= 2),
       |sk AS (SELECT r.r,
       |    substr(md5(CAST(r.r AS VARCHAR) || ':' || bigram), 1, $CmHexChars) AS b,
       |    count(*) AS c
       |  FROM pairs CROSS JOIN (SELECT unnest($rowList) AS r) r
       |  GROUP BY 1, 2),
       |truth AS (SELECT bigram, count(*) AS true_cnt FROM pairs
       |  GROUP BY 1 HAVING count(*) >= ${cfg.cmHeavyMin})
       |SELECT t.bigram, t.true_cnt, min(sk.c) AS cm_est
       |FROM truth t JOIN sk
       |  ON sk.b = substr(md5(CAST(sk.r AS VARCHAR) || ':' || t.bigram), 1, $CmHexChars)
       |GROUP BY 1, 2""".stripMargin
  }
}

/** Default-configured instance (see [[graft.GraftConfig]]). */
object Sketch extends SketchOps(GraftConfig.default)

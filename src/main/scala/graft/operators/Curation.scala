package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftConfig
import graft.sources.Tables

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between ingestion and training: train/eval contamination detection,
  * deterministic hash splits, vocabulary building, n-gram LM tables.
  * CloudBrush has no counterpart — these extend the engine the same way
  * the dedup/similarity families do (first-class `SparkEntry` keys with
  * DuckDB oracles).
  *
  * Scale shape: everything here is either a single-pass scan aggregate
  * (q68), a partial-top-k (q69, TakeOrderedAndProject — per-partition
  * top-k before a single bounded merge), or an inverted-index equi-join
  * whose per-key fanout is capped by config (q67) — no all-pairs work,
  * no driver-side data.
  */
class CurationOps(val cfg: GraftConfig) {
  private val N = cfg.contamNgramWords
  private val MaxTrainDf = cfg.contamMaxTrainDf
  private val TopK = cfg.vocabTopK
  private val MinPair = cfg.bigramMinCount
  // train/eval contamination: the deterministic split modulus
  // (doc_id % mod ≥ mod-2 → eval)
  val EvalMod: Int = 10
  // deterministic sampling: first-4-hex-chars md5 bucket upper bound
  // ('3333' ≈ 0x3333/0x10000 = 20%), hash keyed by (source, doc_id)
  val SampleHexUpper: String = "3333"
  // stratified sampling (q81): per-language doc cap, md5-ordered
  val StratifiedCap: Int = 50
  // sequence packing (q83): context-window token budget per packed
  // bin, and the md5-hex prefix length that defines packing shards
  // (16^len shards; each shard's window sorts on one task, so the
  // shard count must scale with the corpus — 2 hex = 256 shards for
  // local testing, 4 hex = 65k shards ≈ 1.5 GB/shard at 100 TB)
  val PackCtxTokens: Long = 2048L
  val PackShardHexLen: Int = 2
  // global length binning (q105): nearest-rank percentile cut levels
  // computed from a value histogram (no global sort)
  val LengthBinPcts: Seq[Int] = 10 to 90 by 10
  // doc LM score (q154): fixed-point scale for the add-1-smoothed
  // bigram probability (SCALE ≙ 1.0); per-bigram scores are < SCALE,
  // so per-doc sums stay far under long range
  val LmScoreScale: Long = 1000000L
  // sketch-backed split-drift gate (q214): per-bucket chi-square above
  // which a bucket counts as drifted (6.635 = the 1-df p<0.01 cut)
  val Chi2DriftThreshold: Double = 6.635
  // greedy coverage selection (q237): target vocabulary size (top
  // bigrams by corpus count) and selection rounds — both bound the
  // driver loop and the per-round broadcast state
  val CoverageVocab: Int = 300
  val CoverageRounds: Int = 3
  // q320/q321 (DSIR importance weights + resample): the target
  // distribution is docs in this language, and features are word
  // unigrams hashed into this many buckets
  val DsirTargetLang: String = "en"
  val DsirBuckets: Int = 256

  /** Distinct word `N`-grams per doc (1-based start offsets, so the
    * Spark `slice` and DuckDB's 1-based list slicing line up). */
  private def wordNgrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= N)
      .withColumn("g", explode(sequence(lit(1), size(col("ws")) - (N - 1))))
      .select(col("doc_id"), concat_ws(" ", slice(col("ws"), col("g"), lit(N))).as("s"))
      .distinct()

  private val wordNgramsSql: String =
    s"""SELECT DISTINCT doc_id, array_to_string(ws[g:g+${N - 1}], ' ') AS s
       |FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |  LATERAL (SELECT unnest(generate_series(1, len(ws)-${N - 1})) AS g) t
       |WHERE len(ws) >= $N""".stripMargin

  /** q67: train/eval contamination — for every eval-split doc
    * (doc_id % $EvalMod ≥ ${EvalMod - 2}), the distinct word-$N-grams it
    * shares with the train split and the distinct train docs it shares
    * them with. The df cap drops boilerplate n-grams appearing in more
    * than $MaxTrainDf train docs: they signal template text, not
    * leakage, and (the scale point) they bound the inverted-index join
    * to ≤ $MaxTrainDf train rows per n-gram key — the same hot-key
    * discipline as the overlap-edge guard [MatchPrefix.java:155-156].
    * Only contaminated eval docs appear (inner join). */
  def q67Contamination(spark: SparkSession, dir: String): DataFrame = {
    val ng = wordNgrams(spark, dir)
    val isEval = (col("doc_id") % EvalMod) >= (EvalMod - 2)
    val train = ng.filter(!isEval).select(col("s"), col("doc_id").as("train_id"))
    // train ngrams are distinct per (doc, s), so count(*) per s IS the
    // train-doc df; the kept-key list is df-bounded, not corpus-bounded
    val keep = train.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxTrainDf).select("s")
    ng.filter(isEval)
      .join(keep, "s")
      .join(train, "s")
      .groupBy("doc_id")
      .agg(countDistinct(col("s")).as("n_shared"),
        countDistinct(col("train_id")).as("n_train_docs"))
  }

  def q67Sql: String =
    s"""WITH ng AS ($wordNgramsSql),
       |tr AS (SELECT s, doc_id AS train_id FROM ng WHERE doc_id % $EvalMod < ${EvalMod - 2}),
       |keep AS (SELECT s FROM (SELECT s, count(*) AS df FROM tr GROUP BY s)
       |  WHERE df <= $MaxTrainDf),
       |ev AS (SELECT s, doc_id FROM ng WHERE doc_id % $EvalMod >= ${EvalMod - 2})
       |SELECT ev.doc_id, count(DISTINCT ev.s) AS n_shared,
       |  count(DISTINCT tr.train_id) AS n_train_docs
       |FROM ev JOIN keep USING (s) JOIN tr USING (s)
       |GROUP BY ev.doc_id""".stripMargin

  /** Deterministic md5 split bucket: the first two hex chars of
    * md5(doc_id). Comparing the HEX STRING against fixed-width bounds
    * ('${cfg.splitTrainUpper}'/'${GraftConfig.splitValUpper}') is numeric
    * comparison (fixed width, lowercase both engines), so no hex→int
    * conversion is needed and the bucketing runs identically in Spark
    * and DuckDB. ~80/10/10. Content-stable: the split of a doc never
    * depends on corpus size or row order, the property that keeps
    * train/val membership fixed across pipeline re-runs. */
  private def splitCol: Column = {
    val b = substring(md5(col("doc_id").cast("string")), 1, 2)
    when(b < cfg.splitTrainUpper, "train")
      .when(b < GraftConfig.splitValUpper, "val").otherwise("test")
  }

  /** q68: per-split corpus stats — one scan, one 3-group aggregate.
    * Decimal-accumulate-then-double for the char sum (hash-order-proof,
    * see Relational.dsum). */
  def q68SplitStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(splitCol.as("split"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("n_chars").cast("decimal(25,6)")).cast("double").as("total_chars"))
      .withColumn("avg_chars", col("total_chars") / col("n_docs"))

  def q68Sql: String =
    s"""SELECT split, count(*) AS n_docs,
       |  CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CAST(n_chars AS DECIMAL(25,6))) AS DOUBLE) AS total_chars,
       |  CAST(SUM(CAST(n_chars AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS avg_chars
       |FROM (SELECT *, CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '${cfg.splitTrainUpper}' THEN 'train'
       |  WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '${GraftConfig.splitValUpper}' THEN 'val'
       |  ELSE 'test' END AS split FROM documents)
       |GROUP BY split""".stripMargin

  /** q69: corpus vocabulary — the $TopK most frequent whitespace tokens
    * with a total tie order (count desc, token asc). The plan is
    * TakeOrderedAndProject over the token aggregate: each partition
    * keeps its own top-$TopK and only those K·partitions rows reach the
    * driver-side merge — never a global sort of the vocabulary. */
  def q69Vocab(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(TopK)

  def q69Sql: String =
    s"""SELECT token, count(*) AS cnt
       |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       |GROUP BY token ORDER BY cnt DESC, token LIMIT $TopK""".stripMargin

  /** q71: bigram LM table — P(w2|w1) over adjacent word pairs with
    * count ≥ $MinPair. The conditional denominator is a second
    * re-aggregation of the bigram counts (map-combinable — partials add)
    * joined back on w1: the aggregated side is UNIQUE per w1, so the
    * join fans out 1:1 and, unlike the former Window.partitionBy(w1),
    * a stopword's ~10⁷-successor row set at web scale spreads over an
    * AQE-skew-splittable shuffle join instead of buffering in one
    * window partition (SURVEY §4 hot-key-window rule). Double division
    * with identical expression shape on both engines. */
  def q71BigramLm(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = docBigrams(spark, dir)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val denom = bigrams.groupBy("w1").agg(sum(col("cnt")).as("tot"))
    bigrams.join(denom.hint("shuffle_hash"), "w1")
      .withColumn("p", col("cnt").cast("double") / col("tot"))
      .filter(col("cnt") >= MinPair)
      .select("w1", "w2", "cnt", "p")
  }

  /** q73: repetition quality filter (the Gopher/MassiveText-style
    * duplicated-n-gram signal): per-doc char ${cfg.repShingleK}-gram
    * window count, distinct count, max single-gram frequency, and the
    * repetition fraction max_freq/n_windows, flagged above
    * ${cfg.repMaxFrac}. Computed entirely IN-ROW by the native
    * shingle_stats expression (graft.plans.ShingleStats): a doc's
    * repetition depends only on its own text, so the filter is a pure
    * scan at 100 TB — the declarative explode → groupBy(doc, gram) →
    * max(doc) formulation shuffles every corpus k-gram twice. */
  def q73Repetition(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val K = cfg.repShingleK
    Tables.documents(spark, dir)
      .filter(length(col("text")) >= K)
      .select(col("doc_id"), expr(s"shingle_stats(text, $K)").as("st"))
      .select(col("doc_id"), col("st.n_windows").as("n_windows"),
        col("st.n_distinct").as("n_distinct"), col("st.max_freq").as("max_freq"))
      .withColumn("rep_frac", col("max_freq").cast("double") / col("n_windows"))
      .withColumn("is_repetitive", col("rep_frac") > cfg.repMaxFrac)
  }

  def q73Sql: String = {
    val K = cfg.repShingleK
    s"""WITH w AS (
       |  SELECT doc_id, substr(text, g, $K) AS s
       |  FROM documents, LATERAL (SELECT unnest(generate_series(1, len(text)-${K - 1})) AS g) t
       |  WHERE len(text) >= $K),
       |f AS (SELECT doc_id, s, count(*) AS c FROM w GROUP BY doc_id, s),
       |st AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_windows,
       |  count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS max_freq
       |  FROM f GROUP BY doc_id)
       |SELECT doc_id, n_windows, n_distinct, max_freq,
       |  CAST(max_freq AS DOUBLE) / n_windows AS rep_frac,
       |  CAST(max_freq AS DOUBLE) / n_windows > ${cfg.repMaxFrac} AS is_repetitive
       |FROM st""".stripMargin
  }

  /** q74: cross-split leakage on the q13 dedup key — eval docs whose
    * normalized content key (first ${cfg.dedupKeyWords} words, the same
    * key RedundantRemoval collapses on) matches a train doc, with the
    * number of colliding train docs. The exact-key companion to q67's
    * near-duplicate contamination: one content-key join, train side
    * pre-aggregated to (key, count) so the join fanout is one row per
    * key no matter how often boilerplate repeats in train. */
  def q74CrossLeakage(spark: SparkSession, dir: String): DataFrame = {
    val isEval = (col("doc_id") % EvalMod) >= (EvalMod - 2)
    // preWords ≡ array_join(slice(split(text), 1, m)) (BoundaryKeySpec)
    // without allocating the doc's full word array on the scan
    val key = GraphOps.preWords(col("text"), cfg.dedupKeyWords)
    val docs = Tables.documents(spark, dir)
    val train = docs.filter(!isEval).select(key.as("ckey"))
      .groupBy("ckey").agg(count(lit(1)).as("n_train_dups"))
    docs.filter(isEval).select(col("doc_id"), key.as("ckey"))
      .join(train, "ckey")
      .select("doc_id", "n_train_dups")
  }

  def q74Sql: String =
    s"""WITH keyed AS (SELECT doc_id,
       |    array_to_string(string_split(text, ' ')[:${cfg.dedupKeyWords}], ' ') AS ckey
       |  FROM documents),
       |train AS (SELECT ckey, count(*) AS n_train_dups FROM keyed
       |  WHERE doc_id % $EvalMod < ${EvalMod - 2} GROUP BY ckey)
       |SELECT doc_id, n_train_dups FROM keyed JOIN train USING (ckey)
       |WHERE doc_id % $EvalMod >= ${EvalMod - 2}""".stripMargin

  /** q78: single-scan corpus featurization — every per-doc quality
    * feature a filtering model consumes (token counts, stopword ratio,
    * average token length, repetition fraction, content fingerprint,
    * split bucket) computed in ONE pass over the scan with zero joins
    * and zero shuffles. At 100 TB this is the difference between one
    * streaming read of the corpus and five feature queries joined on
    * doc_id afterwards; every feature is row-local (the repetition
    * stats via the native shingle_stats expression), so Catalyst keeps
    * the whole plan inside a single WholeStageCodegen over the scan.
    * rep_frac is null for docs shorter than the k-gram window, not
    * dropped — featurization must keep every row. */
  def q78Features(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val stopList = GraftConfig.stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("long").as("re_tokens"),
        size(expr(s"filter(split(text, ' '), w -> w IN $stopList)")).cast("long").as("n_stop"),
        expr(s"shingle_stats(text, ${cfg.repShingleK})").as("st"),
        md5(trim(regexp_replace(col("text"), " +", " "))).as("fp"),
        splitCol.as("split"))
      .select(col("doc_id"), col("n_chars"), col("ws_tokens"), col("re_tokens"),
        (col("n_stop").cast("double") / col("ws_tokens")).as("stopword_ratio"),
        ((col("n_chars") - col("ws_tokens") + 1).cast("double") / col("ws_tokens")).as("avg_token_len"),
        when(col("st.n_windows") > 0,
          col("st.max_freq").cast("double") / col("st.n_windows")).as("rep_frac"),
        col("fp"), col("split"))
  }

  def q78Sql: String = {
    val K = cfg.repShingleK
    val stopList = GraftConfig.stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
    s"""WITH w AS (
       |  SELECT doc_id, substr(text, g, $K) AS s
       |  FROM documents, LATERAL (SELECT unnest(generate_series(1, len(text)-${K - 1})) AS g) t
       |  WHERE len(text) >= $K),
       |st AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_windows, CAST(max(c) AS BIGINT) AS max_freq
       |  FROM (SELECT doc_id, s, count(*) AS c FROM w GROUP BY doc_id, s) GROUP BY doc_id)
       |SELECT d.doc_id, d.n_chars,
       |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(d.text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
       |  CAST(len(list_filter(string_split(d.text, ' '), x -> x IN $stopList)) AS DOUBLE)
       |    / len(string_split(d.text, ' ')) AS stopword_ratio,
       |  CAST(d.n_chars - len(string_split(d.text, ' ')) + 1 AS DOUBLE)
       |    / len(string_split(d.text, ' ')) AS avg_token_len,
       |  CAST(st.max_freq AS DOUBLE) / st.n_windows AS rep_frac,
       |  md5(trim(regexp_replace(d.text, ' +', ' ', 'g'))) AS fp,
       |  CASE WHEN substr(md5(d.doc_id::VARCHAR), 1, 2) < '${cfg.splitTrainUpper}' THEN 'train'
       |    WHEN substr(md5(d.doc_id::VARCHAR), 1, 2) < '${GraftConfig.splitValUpper}' THEN 'val'
       |    ELSE 'test' END AS split
       |FROM documents d LEFT JOIN st ON st.doc_id = d.doc_id""".stripMargin
  }

  /** q75: deterministic sampling — keep a doc iff the first 4 hex chars
    * of md5(source:doc_id) fall under '${SampleHexUpper}' (≈20%).
    * Content-stable like the q68 split: membership never depends on
    * corpus size, row order, or partitioning, so re-running the
    * pipeline (or running it shard-by-shard at 100 TB) reproduces the
    * exact sample — the property `df.sample()` cannot give. Keying the
    * hash by (source, doc_id) decorrelates the sample across sources;
    * a pure scan filter, no shuffle. */
  def q75Sample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(substring(md5(concat(col("source"), lit(":"), col("doc_id").cast("string"))), 1, 4)
        < SampleHexUpper)
      .select("doc_id", "lang", "source", "n_chars")

  def q75Sql: String =
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE substr(md5(source || ':' || doc_id::VARCHAR), 1, 4) < '${SampleHexUpper}'""".stripMargin

  def q71Sql: String =
    s"""WITH pairs AS (
       |  SELECT ws[g] AS w1, ws[g+1] AS w2
       |  FROM (SELECT string_split(text, ' ') AS ws FROM documents),
       |    LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS g) t
       |  WHERE len(ws) >= 2),
       |agg AS (SELECT w1, w2, count(*) AS cnt FROM pairs GROUP BY w1, w2)
       |SELECT w1, w2, cnt,
       |  CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY w1) AS p
       |FROM agg QUALIFY cnt >= $MinPair""".stripMargin

  /** Per-doc adjacent word pairs — shared by the q71 LM aggregate and
    * the q80 coverage scorer. */
  private def docBigrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .withColumn("g", explode(sequence(lit(1), size(col("ws")) - 1)))
      .select(col("doc_id"), element_at(col("ws"), col("g")).as("w1"),
        element_at(col("ws"), col("g") + 1).as("w2"))

  /** q80: LM-coverage quality score — the fluency-filter primitive a
    * perplexity gate reduces to when scores must be engine-portable:
    * per doc, how many of its adjacent word pairs are covered by the
    * corpus bigram LM (q71's cnt ≥ $MinPair table). Integer counts +
    * one exact double ratio keep the oracle hash bitwise (log-based
    * perplexity would diverge between libm and the JVM in final ulps).
    *
    * Scale: the LM side is the count-thresholded bigram table (≪
    * corpus); the join is keyed by (w1, w2) where the LM side is
    * UNIQUE, so even "of the"-grade hot bigrams fan out 1:1 — no
    * skew amplification; the per-doc aggregate is map-side partial. */
  def q80LmCoverage(spark: SparkSession, dir: String): DataFrame = {
    val lm = q71BigramLm(spark, dir).select(col("w1"), col("w2"), lit(1).as("kw"))
    docBigrams(spark, dir)
      .join(lm, Seq("w1", "w2"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), count(col("kw")).as("n_known"))
      .withColumn("known_frac",
        col("n_known").cast("double") / col("n_bigrams").cast("double"))
  }

  def q80Sql: String =
    s"""WITH dp AS (
       |  SELECT doc_id, ws[g] AS w1, ws[g+1] AS w2
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |    LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS g) t
       |  WHERE len(ws) >= 2),
       |lm AS (SELECT w1, w2 FROM dp GROUP BY w1, w2 HAVING count(*) >= $MinPair)
       |SELECT doc_id, count(*) AS n_bigrams, count(l.w1) AS n_known,
       |  CAST(count(l.w1) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS known_frac
       |FROM dp LEFT JOIN lm l USING (w1, w2) GROUP BY doc_id""".stripMargin

  /** q81: deterministic STRATIFIED sampling — at most
    * ${StratifiedCap} docs per language, chosen by md5 order (the
    * per-stratum twin of q75's global md5-bucket sample; every engine
    * ranks the same docs the same way, no RNG). The rank≤k filter over
    * a per-stratum window is Spark 4's WindowGroupLimit shape: the
    * limit pushes into each map task as a partial top-k, so no stratum
    * is ever globally sorted — the 100 TB plan is partial top-k per
    * partition, one shuffle of the survivors per stratum. */
  def q81StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= StratifiedCap)
      .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
  }

  def q81Sql: String =
    s"""SELECT doc_id, lang,
       |  CAST(row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
       |FROM documents
       |QUALIFY rk <= ${StratifiedCap}""".stripMargin

  /** q83: deterministic sequence PACKING — assign every doc to a packed
    * training bin of ≤ ~${PackCtxTokens} tokens: docs are sharded by
    * an md5-hex prefix of the q75 content key, ordered within the shard
    * by the full hash, and a running token cumsum divides into
    * fixed-budget bins (the batch-construction step of an LM data
    * pipeline, where documents are concatenated into context windows).
    *
    * Scale shape: ONE window per shard (never a global window — an
    * unsharded cumsum funnels the corpus into a single task), shard
    * count from PackShardHexLen so it grows with the corpus, and
    * membership is content-stable: like q75/q68, re-runs and
    * shard-by-shard runs reproduce identical bins — no RNG, no
    * row-order dependence. */
  def q83Pack(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("h"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(concat(col("source"), lit(":"), col("doc_id").cast("string"))).as("h"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("shard", substring(col("h"), 1, PackShardHexLen))
      .withColumn("cum_before", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_toks"),
        expr(s"cum_before div ${PackCtxTokens}").as("bin_id"))
  }

  def q83Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, md5(source || ':' || CAST(doc_id AS VARCHAR)) AS h,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents)
       |SELECT doc_id, substr(h, 1, ${PackShardHexLen}) AS shard, n_toks,
       |  CAST(COALESCE(SUM(n_toks) OVER (
       |    PARTITION BY substr(h, 1, ${PackShardHexLen})
       |    ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // ${PackCtxTokens} AS BIGINT) AS bin_id
       |FROM t""".stripMargin

  /** q84: stopword SCRUB — the normalization pass a dedup/fingerprint
    * stage runs before hashing: drop the configured stopwords, collapse
    * the gaps, and fingerprint the scrubbed text. Row-local end to end
    * (regex + md5 inside one codegen'd scan projection — no shuffle, no
    * join; the 100 TB cost is exactly one corpus read). n_stop counts
    * the removed words via the same filter-on-split the q78 featurizer
    * uses, so the count and the regex agree on what a stopword is. */
  def q84StopwordScrub(spark: SparkSession, dir: String): DataFrame = {
    val stopList = GraftConfig.stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
    val pat = GraftConfig.stopwords.mkString("\\b(?:", "|", ")\\b")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(expr(s"filter(split(text, ' '), w -> w IN $stopList)")).cast("long").as("n_stop"),
        trim(regexp_replace(regexp_replace(col("text"), pat, ""), " +", " ")).as("scrubbed"))
      .select(col("doc_id"), col("n_stop"),
        length(col("scrubbed")).cast("long").as("scrub_chars"),
        md5(col("scrubbed")).as("scrub_fp"))
  }

  def q84Sql: String = {
    val stopList = GraftConfig.stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
    val pat = GraftConfig.stopwords.mkString("\\b(?:", "|", ")\\b")
    s"""SELECT doc_id,
       |  CAST(len(list_filter(string_split(text, ' '), w -> w IN $stopList)) AS BIGINT) AS n_stop,
       |  CAST(len(trim(regexp_replace(regexp_replace(text, '$pat', '', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS scrub_chars,
       |  md5(trim(regexp_replace(regexp_replace(text, '$pat', '', 'g'), ' +', ' ', 'g'))) AS scrub_fp
       |FROM documents""".stripMargin
  }

  // ---- mixture resampling / per-source top-k / global length bins ----

  /** 4-hex md5 threshold for a keep-fraction f (q75's bucket trick:
    * keep iff the first 4 hash hex chars compare below round(f·2¹⁶)).
    * Callers must treat an overflowing threshold (round(f·2¹⁶) ≥ 2¹⁶,
    * i.e. f ≳ 0.999992) as keep-all via [[hex4KeepsAll]]: formatting
    * 65536 would yield the 5-char '10000', which compares BELOW every
    * 4-char hex string and silently kept only the '0…' sixteenth. */
  private def hex4(f: Double): String = f"${math.round(f * 65536.0)}%04x"

  /** True when the 4-hex threshold can't express f (f rounds to 2¹⁶) —
    * the keep-all branch, same as f >= 1.0. */
  private def hex4KeepsAll(f: Double): Boolean =
    f >= 1.0 || math.round(f * 65536.0) >= 65536L

  private def mixtureEntries: Seq[(String, Double)] =
    cfg.mixtureFracs.toSeq.sortBy(_._1) // stable plan/SQL across runs

  /** q103: data-mixture resampling — rebalance the corpus toward the
    * configured per-language mixture by DETERMINISTIC downsampling
    * (md5-bucket threshold per language, the q75 mechanism applied
    * per-stratum). This is the mixture-weights step of a training-data
    * pipeline (downsample the over-represented language instead of
    * upweighting the rest). Unlisted languages keep everything. Pure
    * scan: thresholds are literals baked into one codegen'd predicate —
    * zero shuffles, zero joins, rerunnable with identical output. */
  /** The q103 mixture keep predicate as a column (content-stable
    * md5-hex thresholds per language) — shared with q176. */
  private def mixtureKeepCol: Column = {
    val keyHex = substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 4)
    mixtureEntries.foldLeft(when(lit(false), lit(false))) {
      case (acc, (l, f)) =>
        acc.when(col("lang") === l,
          if (hex4KeepsAll(f)) lit(true) else keyHex < lit(hex4(f)))
    }.otherwise(lit(true))
  }

  def q103Mixture(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(mixtureKeepCol)
      .select("doc_id", "lang", "source", "n_chars")

  def q103Sql: String = {
    val branches = mixtureEntries.map { case (l, f) =>
      val cond =
        if (hex4KeepsAll(f)) "TRUE"
        else s"substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4) < '${hex4(f)}'"
      s"WHEN lang = '$l' THEN $cond"
    }.mkString("\n|    ")
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE CASE
       |    $branches
       |    ELSE TRUE END""".stripMargin
  }

  /** q104: exact per-source top-$sourceTopK by quality score — the
    * "keep the best documents per domain" curation pass, composed from
    * the q51 scorer. Scale shape: a single window partitioned by source
    * funnels EVERY doc of a source through one task (q81's shape — fine
    * for per-language caps, a bottleneck for popular sources), so this
    * runs the exact two-stage form instead: stage 1 ranks within
    * (source, doc_id mod $sourceTopKSalt) so each source spreads over
    * $sourceTopKSalt tasks and keeps at most K per salt — a superset of
    * the global per-source top-K, since dropping a doc requires K
    * better docs IN ITS OWN salt class — and stage 2 ranks the
    * ≤ salt·K survivors per source, a bounded set however large the
    * source is. Both stages are Spark 4 WindowGroupLimit plans (rank
    * filter pushed into the shuffle). */
  def q104SourceTopk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val K = cfg.sourceTopK
    val B = cfg.sourceTopKSalt
    val scored = new TextAnalysisOps(cfg).q51Quality(spark, dir)
      .select(col("doc_id"), col("quality_score"))
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
    val w1 = Window.partitionBy(col("source"), pmod(col("doc_id"), lit(B)))
      .orderBy(col("quality_score").desc, col("doc_id"))
    val w2 = Window.partitionBy("source")
      .orderBy(col("quality_score").desc, col("doc_id"))
    scored.withColumn("lrk", row_number().over(w1)).filter(col("lrk") <= K)
      .drop("lrk")
      .withColumn("rk", row_number().over(w2).cast("long")).filter(col("rk") <= K)
      .select("source", "rk", "doc_id", "quality_score")
  }

  def q104Sql: String =
    s"""WITH q AS (${new TextAnalysisOps(cfg).q51Sql})
       |SELECT source, rk, doc_id, quality_score FROM (
       |  SELECT d.source, q.doc_id, q.quality_score,
       |    CAST(row_number() OVER (PARTITION BY d.source
       |      ORDER BY q.quality_score DESC, q.doc_id) AS BIGINT) AS rk
       |  FROM q JOIN documents d USING (doc_id))
       |WHERE rk <= ${cfg.sourceTopK}""".stripMargin

  /** q105: global nearest-rank length-percentile binning WITHOUT a
    * global sort — the length-bucket assignment a curation pipeline
    * uses for per-bin policies (truncate/flag/route). The cutpoints
    * come from a VALUE HISTOGRAM (one groupBy over n_chars, |distinct
    * lengths| rows) whose cumulative counts are computed by the q28/N50
    * broadcast triangular join; the nearest-rank value at rank r is
    * exactly min{v : cum(v) ≥ r}, so the histogram cutpoints equal the
    * oracle's row_number definition with NO corpus-wide ordered window
    * (an unpartitioned rank funnels 100 TB through one task). Docs then
    * take bin = #cutpoints strictly below their length via one
    * broadcast array — a pure scan. */
  def q105LengthBins(spark: SparkSession, dir: String): DataFrame = {
    val pcts = LengthBinPcts
    val docs = Tables.documents(spark, dir)
    val hist = docs.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
    val csum = hist.as("a").join(broadcast(hist.as("b")),
        col("b.n_chars") <= col("a.n_chars"))
      .groupBy(col("a.n_chars").as("v")).agg(sum(col("b.cnt")).as("cum"))
    val cutAggs = pcts.map(p =>
      min(when(col("cum") >= expr(s"(n * $p + 99) div 100"), col("v"))).as(s"c$p"))
    val cuts = csum.crossJoin(docs.agg(count(lit(1)).as("n")))
      .agg(cutAggs.head, cutAggs.tail: _*)
      .select(array(pcts.map(p => col(s"c$p")): _*).as("cuts"))
    docs.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_chars"),
        size(expr("filter(cuts, c -> c < n_chars)")).cast("long").as("bin"))
  }

  def q105Sql: String = {
    val pcts = LengthBinPcts
    val cutCols = pcts.map(p =>
      s"max(CASE WHEN rn = (n * $p + 99) // 100 THEN n_chars END) AS c$p")
      .mkString(",\n|    ")
    val binSum = pcts.map(p => s"(CASE WHEN d.n_chars > c$p THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH ranked AS (SELECT n_chars,
       |    row_number() OVER (ORDER BY n_chars) AS rn,
       |    count(*) OVER () AS n
       |  FROM documents),
       |cuts AS (SELECT
       |    $cutCols
       |  FROM ranked)
       |SELECT d.doc_id, d.n_chars, CAST($binSum AS BIGINT) AS bin
       |FROM documents d, cuts""".stripMargin
  }

  /** q121: the keep/drop FILTER PIPELINE — the composite quality gate a
    * Dolma/CCNet-style curation run applies per doc, as one declarative
    * query: rules evaluate in a FIXED order (too_short → wrong_lang →
    * repetitious, thresholds from config) and the verdict is the first
    * failing rule, or keep. Emitting the verdict WITH its reason is the
    * operational point — a pipeline that can't explain drops can't be
    * audited, and reason-bucket counts are the curation dashboard.
    * Metrics are integer counts and one fixed-shape double division
    * (type-token ratio), so verdicts are engine-exact. Pure scan
    * expressions: zero shuffles at any scale. */
  def q121KeepDrop(spark: SparkSession, dir: String): DataFrame = {
    val langList = cfg.keepAllowedLangs.map(l => lit(l))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_types"))
      .withColumn("ttr", col("n_types").cast("double") / col("n_tokens"))
      .withColumn("fail_rule",
        when(col("n_tokens") < cfg.keepMinTokens, "too_short")
          .when(!col("lang").isInCollection(cfg.keepAllowedLangs), "wrong_lang")
          .when(col("ttr") < cfg.keepMinTtr, "repetitious"))
      .select(col("doc_id"), col("n_tokens"), col("ttr"),
        col("fail_rule").isNull.as("keep"), col("fail_rule"))
  }

  def q121Sql: String = {
    val langs = cfg.keepAllowedLangs.map(l => s"'$l'").mkString("(", ", ", ")")
    s"""WITH m AS (SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types
       |  FROM documents),
       |v AS (SELECT doc_id, lang, n_tokens,
       |    CAST(n_types AS DOUBLE) / n_tokens AS ttr FROM m)
       |SELECT doc_id, n_tokens, ttr,
       |  fail_rule IS NULL AS keep, fail_rule
       |FROM (SELECT doc_id, n_tokens, ttr,
       |  CASE WHEN n_tokens < ${cfg.keepMinTokens} THEN 'too_short'
       |       WHEN lang NOT IN $langs THEN 'wrong_lang'
       |       WHEN ttr < ${cfg.keepMinTtr} THEN 'repetitious'
       |  END AS fail_rule FROM v)""".stripMargin
  }

  /** q125: the curation DASHBOARD over q121's verdicts — per source:
    * doc count, kept count, keep rate, and the per-reason drop
    * buckets as fixed columns. This is the aggregation the keep/drop
    * reasons exist FOR: the table a data owner reads after a filter
    * run ("source X lost 40% to repetition — investigate upstream").
    * One map-combinable conditional-count aggregate over the q121
    * scan: the verdict pipeline plus its rollup still never shuffles
    * anything but |sources| partial-agg rows. */
  def q125CurationDashboard(spark: SparkSession, dir: String): DataFrame = {
    val verdicts = Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_types"))
      .withColumn("ttr", col("n_types").cast("double") / col("n_tokens"))
      .withColumn("fail_rule",
        when(col("n_tokens") < cfg.keepMinTokens, "too_short")
          .when(!col("lang").isInCollection(cfg.keepAllowedLangs), "wrong_lang")
          .when(col("ttr") < cfg.keepMinTtr, "repetitious"))
    verdicts.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("fail_rule").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("fail_rule") === "too_short", 1L).otherwise(0L)).as("n_too_short"),
        sum(when(col("fail_rule") === "wrong_lang", 1L).otherwise(0L)).as("n_wrong_lang"),
        sum(when(col("fail_rule") === "repetitious", 1L).otherwise(0L)).as("n_repetitious"))
      .withColumn("keep_rate",
        col("n_kept").cast("double") / col("n_docs"))
  }

  def q125Sql: String = {
    val langs = cfg.keepAllowedLangs.map(l => s"'$l'").mkString("(", ", ", ")")
    s"""WITH v AS (SELECT source,
       |    CASE WHEN len(string_split(text, ' ')) < ${cfg.keepMinTokens} THEN 'too_short'
       |         WHEN lang NOT IN $langs THEN 'wrong_lang'
       |         WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |              / len(string_split(text, ' ')) < ${cfg.keepMinTtr} THEN 'repetitious'
       |    END AS fail_rule
       |  FROM documents)
       |SELECT source, count(*) AS n_docs,
       |  CAST(SUM(CASE WHEN fail_rule IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN fail_rule = 'too_short' THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
       |  CAST(SUM(CASE WHEN fail_rule = 'wrong_lang' THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_lang,
       |  CAST(SUM(CASE WHEN fail_rule = 'repetitious' THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitious,
       |  CAST(SUM(CASE WHEN fail_rule IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS keep_rate
       |FROM v GROUP BY source""".stripMargin
  }

  /** q128: per-doc n-gram NOVELTY — the fraction of a doc's distinct
    * word-$N-grams first introduced by it, "first" meaning no lower
    * doc_id contains the gram (ingestion order = id order). This is the
    * marginal-contribution curve of corpus growth: a shard whose docs
    * score near 0 is re-crawling text the corpus already has, the
    * number that decides whether to keep ingesting a source — dedup
    * (q13/q30) answers "is this DOC a copy", novelty answers "how much
    * NEW text does it add" even when no single doc is a near-dup.
    *
    * Docs with fewer than $N words carry no n-gram and emit no row
    * (the q67 convention).
    *
    * Scale: first-introducer is min(doc_id) per gram — a map-side-
    * combinable aggregate, then a join back to the distinct (doc, gram)
    * table. The aggregated side is keyed UNIQUE per gram, so the join
    * fans out 1:1 no matter how viral the gram (the q15/q80 discipline:
    * never Window.partitionBy(gram), whose sort funnels every holder of
    * a hot gram through one task). Both sides hash-partition on the
    * gram, so the aggregate's exchange is reused for the probe side. */
  def q128Novelty(spark: SparkSession, dir: String): DataFrame = {
    val ng = wordNgrams(spark, dir)
    val first = ng.groupBy("s").agg(min(col("doc_id")).as("first_doc"))
    ng.join(first, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novel_frac",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  def q128Sql: String =
    s"""WITH ng AS ($wordNgramsSql),
       |fst AS (SELECT s, min(doc_id) AS first_doc FROM ng GROUP BY s)
       |SELECT ng.doc_id, count(*) AS n_grams,
       |  CAST(SUM(CASE WHEN first_doc = ng.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  CAST(SUM(CASE WHEN first_doc = ng.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS novel_frac
       |FROM ng JOIN fst USING (s) GROUP BY ng.doc_id""".stripMargin

  /** q129: deterministic WEIGHTED (probability-proportional-to-size)
    * sampling with Horvitz–Thompson weights — q75 samples uniformly;
    * real curation samples bigger/better docs more: inclusion
    * probability π = min(1, n_chars/$PpsTarget), and each kept doc
    * carries 1/π so any downstream sum reweighted by it is unbiased
    * for the full corpus.
    *
    * Determinism (the q75/q68 membership contract): the coin is the
    * first 8 md5 hex chars of (source:doc_id) as a 32-bit integer
    * u ∈ [0,2³²); keep iff u·$PpsTarget < min(w,$PpsTarget)·2³² — pure
    * BIGINT arithmetic, so membership is content-stable across re-runs,
    * shard orders, and engines (no float thresholds; clamping w at
    * $PpsTarget keeps the product under 2⁶³ for any doc size).
    *
    * Scale: one codegen'd scan predicate, zero shuffles or joins. */
  def q129WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val t = cfg.ppsTargetChars
    Tables.documents(spark, dir)
      .withColumn("u32",
        conv(substring(md5(concat(col("source"), lit(":"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast("long"))
      .withColumn("wcap", least(col("n_chars"), lit(t)))
      .filter(col("u32") * t < col("wcap") * lit(4294967296L))
      .select(col("doc_id"), col("source"), col("n_chars"),
        (col("wcap").cast("double") / lit(t.toDouble)).as("pi"),
        (lit(t.toDouble) / col("wcap").cast("double")).as("ht_weight"))
  }

  def q129Sql: String = {
    val t = cfg.ppsTargetChars
    s"""SELECT doc_id, source, n_chars,
       |  CAST(wcap AS DOUBLE) / ${t.toDouble} AS pi,
       |  ${t.toDouble} / CAST(wcap AS DOUBLE) AS ht_weight
       |FROM (SELECT *,
       |    CAST('0x' || substr(md5(source || ':' || doc_id::VARCHAR), 1, 8) AS BIGINT) AS u32,
       |    least(n_chars, $t) AS wcap
       |  FROM documents)
       |WHERE u32 * $t < wcap * 4294967296""".stripMargin
  }

  /** q149: the DATASET CARD — the one-row corpus identity card every
    * release ships with: doc/token/char totals, language and source
    * cardinalities, and the exact-duplicate rate under q13's
    * normalized content key (docs − distinct keys) / docs — the
    * headline numbers of a datasheet/data-statement, computed in one
    * pass. The three exact distincts ride a single aggregation via
    * Spark's Expand (the q138 mechanism); everything else is a
    * map-combinable sum. All integers + two fixed-shape ratios. */
  def q149DatasetCard(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        array_join(slice(split(col("text"), " "), 1, cfg.dedupKeyWords), " ").as("ckey"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("ckey")).as("n_content_keys"))
      .select(col("n_docs"), col("n_tokens"), col("total_chars"),
        col("n_langs"), col("n_sources"), col("n_content_keys"),
        ((col("n_docs") - col("n_content_keys")).cast("double") / col("n_docs"))
          .as("dup_rate"),
        (col("n_tokens").cast("double") / col("n_docs")).as("avg_toks"))

  def q149Sql: String =
    s"""WITH d AS (SELECT lang, source, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
       |    array_to_string(string_split(text, ' ')[:${cfg.dedupKeyWords}], ' ') AS ckey
       |  FROM documents)
       |SELECT count(*) AS n_docs,
       |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |  CAST(count(DISTINCT ckey) AS BIGINT) AS n_content_keys,
       |  CAST(count(*) - count(DISTINCT ckey) AS DOUBLE) / count(*) AS dup_rate,
       |  CAST(SUM(toks) AS DOUBLE) / count(*) AS avg_toks
       |FROM d""".stripMargin

  /** q137: k-anonymity audit over the quasi-identifier tuple
    * (lang, source, length bin of ${cfg.kAnonLenBin} chars) — the
    * pre-release privacy check: any combination of publishable
    * attributes shared by fewer than k=${cfg.kAnonK} docs can single
    * out a contributor, so every group is reported with its size and
    * an at_risk flag (the release gate is "no at_risk groups", and the
    * flagged rows ARE the remediation worklist — which cells to
    * generalize or suppress). Pure map-combinable aggregate: the
    * shuffle carries |groups| partial rows at any corpus size. */
  def q137KAnonymity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"),
        expr(s"n_chars div ${cfg.kAnonLenBin}").as("len_bin"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("at_risk", col("n_docs") < cfg.kAnonK)

  def q137Sql: String =
    s"""SELECT lang, source, n_chars // ${cfg.kAnonLenBin} AS len_bin,
       |  count(*) AS n_docs, count(*) < ${cfg.kAnonK} AS at_risk
       |FROM documents GROUP BY 1, 2, 3""".stripMargin

  /** q274: L-DIVERSITY audit — the attack k-anonymity does not stop:
    * a quasi-identifier group can hold ≥ k docs yet draw them all from
    * ONE source, so membership in the group REVEALS the sensitive
    * attribute even though no individual doc is singled out. Per QI
    * group (lang, ${cfg.kAnonLenBin}-char length bin): size, distinct
    * sensitive values (source), and the diverse flag (distinct ≥
    * l=${cfg.lDiversityL}). Read beside q137: a release gate needs BOTH
    * flags green, and the failing rows are q241's generalization
    * worklist. Pure map-combinable aggregate — |groups| partial rows at
    * any corpus size (countDistinct over the low-cardinality source set
    * is a two-phase exact aggregate, never a corpus-wide state). */
  def q274LDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), expr(s"n_chars div ${cfg.kAnonLenBin}").as("len_bin"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .withColumn("l_diverse", col("n_sources") >= cfg.lDiversityL)

  def q274Sql: String =
    s"""SELECT lang, n_chars // ${cfg.kAnonLenBin} AS len_bin,
       |  count(*) AS n_docs,
       |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |  count(DISTINCT source) >= ${cfg.lDiversityL} AS l_diverse
       |FROM documents GROUP BY 1, 2""".stripMargin

  /** The q241 generalization ladder: level → (lang kept?, source kept?,
    * length-bin width multiplier; 0 = length suppressed). Monotone by
    * construction — each level coarsens the previous one, so group
    * sizes never shrink as the level climbs. */
  private val KanonLadder: Seq[(Int, Boolean, Boolean, Long)] = Seq(
    (0, true, true, 1L), (1, true, true, 4L), (2, true, true, 16L),
    (3, true, false, 16L), (4, true, false, 0L), (5, false, false, 0L))

  /** q241: K-ANONYMITY GENERALIZATION — q137 audits; this operator
    * ACTS: walk a fixed generalization ladder over the quasi-identifier
    * triple (lang, source, length bin) — widen the length bin 4×/16×,
    * then suppress source, length, finally language — and report, per
    * level, the group count, the smallest group, whether the level is
    * k-anonymous, and which level is the CHOSEN (minimal) release
    * policy. The standard privacy-engineering tradeoff table: each rung
    * buys anonymity by destroying utility (fewer, coarser groups), and
    * the chosen rung is the least destruction that meets k — the whole
    * curve ships so the owner sees what k costs. The ladder is monotone
    * (each rung coarsens the last), so the chosen level is a true
    * threshold.
    *
    * Scale: six map-combinable aggregates (one per rung) over the QI
    * projection, each collapsing to a ONE-row (groups, min) summary
    * before the union — the corpus is scanned per rung but nothing
    * corpus-sized ever shuffles; the chosen-level mark is a one-row
    * broadcast. */
  def q241KanonGeneralize(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val B = cfg.kAnonLenBin
    val levels = KanonLadder.map { case (lv, keepLang, keepSrc, mult) =>
      val langC = if (keepLang) col("lang") else lit("ANY")
      val srcC = if (keepSrc) col("source") else lit("ANY")
      val binC = if (mult > 0) expr(s"n_chars div ${B * mult}") else lit(0L)
      d.groupBy(langC.as("l"), srcC.as("s"), binC.as("b"))
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"), min(col("n")).as("min_group"))
        .select(lit(lv.toLong).as("level"), col("n_groups"), col("min_group"))
    }.reduce(_ unionAll _)
    val flagged = levels.withColumn("k_anonymous", col("min_group") >= cfg.kAnonK)
    val chosen = flagged.filter(col("k_anonymous")).agg(min(col("level")).as("cl"))
    flagged.crossJoin(broadcast(chosen))
      .select(col("level"), col("n_groups"), col("min_group"), col("k_anonymous"),
        coalesce(col("level") === col("cl"), lit(false)).as("chosen"))
  }

  def q241Sql: String = {
    val B = cfg.kAnonLenBin
    val aggs = KanonLadder.map { case (lv, keepLang, keepSrc, mult) =>
      val langE = if (keepLang) "lang" else "'ANY'"
      val srcE = if (keepSrc) "source" else "'ANY'"
      val binE = if (mult > 0) s"n_chars // ${B * mult}" else "0"
      s"""SELECT CAST($lv AS BIGINT) AS level,
         |  CAST(count(*) AS BIGINT) AS n_groups, CAST(min(n) AS BIGINT) AS min_group
         |FROM (SELECT $langE AS l, $srcE AS s, $binE AS b, count(*) AS n
         |      FROM documents GROUP BY 1, 2, 3)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH u AS ($aggs),
       |f AS (SELECT *, min_group >= ${cfg.kAnonK} AS k_anonymous FROM u),
       |c AS (SELECT min(level) AS cl FROM f WHERE k_anonymous)
       |SELECT level, n_groups, min_group, k_anonymous,
       |  coalesce(level = c.cl, FALSE) AS chosen
       |FROM f, c""".stripMargin
  }

  /** q180: PACKING EFFICIENCY eval — q83's companion number (the
    * approximation-ships-with-its-eval rule): per (shard, bin), the
    * doc count, token total, and fill fraction against the
    * ${PackCtxTokens}-token context budget. Prefix-sum packing
    * assigns a doc to the bin its RUNNING total starts in, so interior
    * bins fill to ≈ 1 (straddling docs push the excess forward) and
    * each shard's LAST bin holds the remainder — the fill histogram is
    * the measured answer to "how much context window does this packing
    * waste". One rollup over q83's own (already gated) output; fill is
    * a single fixed division. */
  def q180PackEval(spark: SparkSession, dir: String): DataFrame =
    q83Pack(spark, dir)
      .groupBy("shard", "bin_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tok_sum"))
      .withColumn("fill",
        col("tok_sum").cast("double") / lit(PackCtxTokens.toDouble))

  def q180Sql: String =
    s"""WITH p AS ($q83Sql)
       |SELECT shard, bin_id, count(*) AS n_docs,
       |  CAST(SUM(n_toks) AS BIGINT) AS tok_sum,
       |  CAST(CAST(SUM(n_toks) AS BIGINT) AS DOUBLE) / ${PackCtxTokens}.0 AS fill
       |FROM p GROUP BY 1, 2""".stripMargin

  /** q176: the CURATION PIPELINE end-to-end — the LLM-side composition
    * flagship (q62's role for the corpus path): quality filter (q121's
    * rules) → exact dedup (q13's content key, lowest-id keeper, applied
    * AFTER filtering — dropped docs must not claim keeperships) →
    * mixture resampling (q103's content-stable thresholds), reported
    * as the per-(lang, source) ATTRITION table: raw → post-filter →
    * post-dedup → final doc counts + final token budget. This is the
    * table a dataset build publishes, and the composition is exact
    * because every stage is deterministic and content-stable (each
    * stage's standalone oracle already gates its semantics; the
    * composed oracle re-derives all three inline).
    *
    * Scale: one corpus scan computes every per-doc flag (filter rules
    * and mixture hash are row-local); the only extra work is the
    * keeper aggregate on the content digest and its 1:1 shuffled-hash
    * join back (aggregated side unique per key — q15 discipline); the
    * attrition rollup is map-combinable conditional sums. */
  def q176CuratePipeline(spark: SparkSession, dir: String): DataFrame = {
    val m = cfg.dedupKeyWords
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_types"),
        md5(expr(s"array_join(slice(split(text, ' '), 1, $m), ' ')")).as("ckey"))
      .withColumn("ttr", col("n_types").cast("double") / col("n_tokens"))
      .withColumn("fail_rule",
        when(col("n_tokens") < cfg.keepMinTokens, "too_short")
          .when(!col("lang").isInCollection(cfg.keepAllowedLangs), "wrong_lang")
          .when(col("ttr") < cfg.keepMinTtr, "repetitious"))
      .withColumn("s1", col("fail_rule").isNull)
      .withColumn("s3", mixtureKeepCol)
    val keepers = base.filter(col("s1"))
      .groupBy("ckey").agg(min(col("doc_id")).as("keeper_id"))
    base.join(keepers.hint("shuffle_hash"), Seq("ckey"), "left")
      .withColumn("s2", col("s1") && col("doc_id") === col("keeper_id"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("s1"), 1L).otherwise(0L)).as("n_kept_filter"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("n_kept_dedup"),
        sum(when(col("s2") && col("s3"), 1L).otherwise(0L)).as("n_kept_final"),
        sum(when(col("s2") && col("s3"), col("n_tokens")).otherwise(0L)).as("tok_final"))
  }

  def q176Sql: String = {
    val langs = cfg.keepAllowedLangs.map(l => s"'$l'").mkString("(", ", ", ")")
    val mixBranches = mixtureEntries.map { case (l, f) =>
      val cond =
        if (hex4KeepsAll(f)) "TRUE"
        else s"substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4) < '${hex4(f)}'"
      s"WHEN lang = '$l' THEN $cond"
    }.mkString("\n|      ")
    s"""WITH f AS (SELECT doc_id, lang, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
       |    md5(array_to_string(string_split(text, ' ')[:${cfg.dedupKeyWords}], ' ')) AS ckey
       |  FROM documents),
       |s AS (SELECT *,
       |    (CASE WHEN n_tokens < ${cfg.keepMinTokens} THEN 'too_short'
       |          WHEN lang NOT IN $langs THEN 'wrong_lang'
       |          WHEN CAST(n_types AS DOUBLE) / n_tokens < ${cfg.keepMinTtr} THEN 'repetitious'
       |     END) IS NULL AS s1,
       |    (CASE
       |      $mixBranches
       |      ELSE TRUE END) AS s3
       |  FROM f),
       |k AS (SELECT ckey, min(doc_id) AS keeper_id FROM s WHERE s1 GROUP BY 1)
       |SELECT lang, source, count(*) AS n_raw,
       |  CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_filter,
       |  CAST(SUM(CASE WHEN s1 AND doc_id = keeper_id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept_dedup,
       |  CAST(SUM(CASE WHEN s1 AND doc_id = keeper_id AND s3 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept_final,
       |  CAST(SUM(CASE WHEN s1 AND doc_id = keeper_id AND s3 THEN n_tokens ELSE 0 END)
       |    AS BIGINT) AS tok_final
       |FROM s LEFT JOIN k USING (ckey)
       |GROUP BY 1, 2""".stripMargin
  }

  /** q168: cross-source DUPLICATION MATRIX — for every source pair,
    * how many distinct content keys (md5 of exact text) both carry:
    * the data-governance table behind "which feeds copy which" and the
    * per-pair input to dedup blame policies (q133 blames docs; this
    * aggregates the blame to SOURCE granularity). The content key is
    * the q13/q74 family's ${cfg.dedupKeyWords}-word prefix digest —
    * the SAME identity the exact-dedup operators act on, so this
    * matrix explains exactly what q13 would remove. One distinct
    * (key, source) pre-aggregate, then a self-join on the 16-byte
    * digest with the canonical source_a < source_b ordering — per-key
    * fanout is |sources carrying that key| choose 2, bounded by the
    * SOURCE COUNT (never corpus-sized; a key in all S sources makes
    * S²/2 pairs, and S is hundreds at worst). Texts never join — only
    * digests move. */
  def q168DupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val m = cfg.dedupKeyWords
    val keys = Tables.documents(spark, dir)
      .select(md5(expr(s"array_join(slice(split(text, ' '), 1, $m), ' ')")).as("key"),
        col("source")).distinct()
    keys.join(keys.select(col("key"), col("source").as("source_b")), "key")
      .filter(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  def q168Sql: String =
    s"""WITH ks AS (SELECT DISTINCT
       |    md5(array_to_string(string_split(text, ' ')[:${cfg.dedupKeyWords}], ' ')) AS key,
       |    source
       |  FROM documents)
       |SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
       |FROM ks a JOIN ks b ON a.key = b.key AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin

  /** q169: two-sample KOLMOGOROV–SMIRNOV statistic between
    * ${cfg.ksSourceA} and ${cfg.ksSourceB}'s doc-length distributions
    * — the distribution-shape drift test beside q163's binned χ²
    * (KS sees shape shifts χ²'s fixed bins blur). Integer-exact to
    * the decision point: the CDF gap at value v compares as
    * |cumA·nB − cumB·nA| (cross-multiplied, no float CDFs), the max
    * and its earliest witness value ride ONE struct-max aggregate,
    * and the only double is the final fixed division. Histogram
    * discipline throughout (q105/q124/q160): cumulatives come from a
    * triangular join over the DISTINCT-VALUE grid — bounded by the
    * length domain, never a corpus sort (for wide/continuous domains
    * the q172 two-phase bucket shape is the escape hatch — the KS
    * max then runs over bucket boundaries at bounded resolution). */
  def q169KsTest(spark: SparkSession, dir: String): DataFrame = {
    val (sa, sb) = (cfg.ksSourceA, cfg.ksSourceB)
    val h = Tables.documents(spark, dir)
      .filter(col("source").isin(sa, sb))
      .groupBy(col("n_chars").cast("long").as("v"))
      .agg(sum(when(col("source") === sa, 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === sb, 1L).otherwise(0L)).as("cb"))
    val cum = h.select(col("v"))
      .join(h.select(col("v").as("vb"), col("ca"), col("cb")), col("vb") <= col("v"))
      .groupBy("v")
      .agg(sum(col("ca")).as("cum_a"), sum(col("cb")).as("cum_b"))
    val tot = h.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    cum.crossJoin(broadcast(tot))
      .withColumn("num", abs(col("cum_a") * col("nb") - col("cum_b") * col("na")))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(struct(col("num"), (-col("v")).as("nv"))).as("mx"))
      .select(lit(sa).as("source_a"), lit(sb).as("source_b"),
        col("n_a"), col("n_b"), col("mx.num").as("ks_num"),
        (-col("mx.nv")).as("ks_at"),
        (col("mx.num").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("ks"))
  }

  def q169Sql: String = {
    val (sa, sb) = (cfg.ksSourceA, cfg.ksSourceB)
    s"""WITH h AS (SELECT CAST(n_chars AS BIGINT) AS v,
       |    CAST(SUM(CASE WHEN source = '$sa' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(SUM(CASE WHEN source = '$sb' THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM documents WHERE source IN ('$sa', '$sb') GROUP BY 1),
       |cum AS (SELECT a.v, CAST(SUM(b.ca) AS BIGINT) AS cum_a,
       |    CAST(SUM(b.cb) AS BIGINT) AS cum_b
       |  FROM (SELECT v FROM h) a JOIN h b ON b.v <= a.v GROUP BY 1),
       |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
       |    CAST(SUM(cb) AS BIGINT) AS nb FROM h),
       |d AS (SELECT v, abs(cum_a * nb - cum_b * na) AS num, na, nb
       |  FROM cum, tot),
       |mx AS (SELECT max(num) AS ks_num FROM d)
       |SELECT '$sa' AS source_a, '$sb' AS source_b,
       |  max(na) AS n_a, max(nb) AS n_b, max(num) AS ks_num,
       |  CAST(min(CASE WHEN num = (SELECT ks_num FROM mx) THEN v END) AS BIGINT) AS ks_at,
       |  CAST(max(num) AS DOUBLE) / CAST(max(na) * max(nb) AS DOUBLE) AS ks
       |FROM d""".stripMargin
  }

  /** q163: SPLIT DRIFT — the χ² homogeneity table between the train
    * split and the rest (val+test) over doc-length bins: the "is my
    * held-out set distributed like training" gate run before any eval
    * is trusted, and the shape-level complement of q68's per-split
    * totals. Counts are exact integers; each bin's expected counts and
    * χ² contribution are ONE fixed cast/multiply/divide chain per
    * term (the q148 discipline — every double op correctly rounded
    * from exact operands, identical on both engines). A healthy md5
    * split drifts nowhere: Σ chi2_bin should sit near the bin-count
    * degrees of freedom, and any single fat bin is the anomaly to
    * investigate. Pure map-combinable aggregate + one-row broadcast
    * of the totals — the corpus is scanned once. */
  def q163SplitDrift(spark: SparkSession, dir: String): DataFrame = {
    val bin = cfg.kAnonLenBin
    val h = Tables.documents(spark, dir)
      .select(splitCol.as("split"), expr(s"n_chars div $bin").as("len_bin"))
      .groupBy("len_bin")
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") =!= "train", 1L).otherwise(0L)).as("n_other"))
    val tot = h.agg(sum(col("n_train")).as("nt"), sum(col("n_other")).as("no"))
    h.crossJoin(broadcast(tot))
      .withColumn("et", col("n_train").cast("double") + col("n_other").cast("double"))
      .withColumn("e_train",
        col("et") * col("nt").cast("double") / (col("nt") + col("no")).cast("double"))
      .withColumn("e_other",
        col("et") * col("no").cast("double") / (col("nt") + col("no")).cast("double"))
      .withColumn("chi2_bin",
        (col("n_train").cast("double") - col("e_train")) *
          (col("n_train").cast("double") - col("e_train")) / col("e_train") +
        (col("n_other").cast("double") - col("e_other")) *
          (col("n_other").cast("double") - col("e_other")) / col("e_other"))
      .select(col("len_bin"), col("n_train"), col("n_other"),
        col("e_train"), col("chi2_bin"))
  }

  def q163Sql: String =
    s"""WITH h AS (
       |  SELECT n_chars // ${cfg.kAnonLenBin} AS len_bin,
       |    CAST(SUM(CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '${cfg.splitTrainUpper}'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |    CAST(SUM(CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '${cfg.splitTrainUpper}'
       |      THEN 0 ELSE 1 END) AS BIGINT) AS n_other
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_train) AS BIGINT) AS nt,
       |    CAST(SUM(n_other) AS BIGINT) AS no FROM h)
       |SELECT len_bin, n_train, n_other, e_train,
       |  (CAST(n_train AS DOUBLE) - e_train) * (CAST(n_train AS DOUBLE) - e_train)
       |    / e_train +
       |  (CAST(n_other AS DOUBLE) - e_other) * (CAST(n_other AS DOUBLE) - e_other)
       |    / e_other AS chi2_bin
       |FROM (SELECT len_bin, n_train, n_other,
       |    (CAST(n_train AS DOUBLE) + CAST(n_other AS DOUBLE)) * CAST(nt AS DOUBLE)
       |      / CAST(nt + no AS DOUBLE) AS e_train,
       |    (CAST(n_train AS DOUBLE) + CAST(n_other AS DOUBLE)) * CAST(no AS DOUBLE)
       |      / CAST(nt + no AS DOUBLE) AS e_other
       |  FROM h, tot)""".stripMargin

  /** q214: SKETCH-BACKED split-drift gate — q163's χ² computed from
    * the q205 mergeable log-linear sketch instead of a corpus
    * re-scan: the sketch CONSUMING path, end-to-end. Two parity
    * shards of the corpus sketch their (split-class, n_chars) values
    * independently and MERGE by per-bucket count sum (the q205
    * mergeability contract exercised inside the query, not just the
    * spec); the χ² drift test then runs entirely on the merged
    * ≤64·2^(k+1)-row artifact. At 100 TB this is the point of the
    * sketch: the nightly drift gate reads yesterday's sketch plus
    * today's shard sketches — bounded rows — and never re-bins the
    * corpus. Per-bucket χ² uses q163's exact fixed double chain over
    * integer counts; `drifted` flags buckets past
    * ${Chi2DriftThreshold} (1-df p<0.01), and the spec pins that
    * the sketch path and q163's exact linear-bin path agree on the
    * corpus-level verdict (no drift under the unbiased md5 split). */
  def q214SketchSplitDrift(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(splitCol === "train", "train").otherwise(lit("other")).as("cls"),
        col("n_chars").cast("long").as("v"))
    val sk = new SketchOps(cfg)
    val shardA = sk.qsBuckets(base.filter(col("doc_id") % 2 === 0).select("cls", "v"))
    val shardB = sk.qsBuckets(base.filter(col("doc_id") % 2 =!= 0).select("cls", "v"))
    val merged = shardA.unionAll(shardB)
      .groupBy("cls", "e", "m", "lo100", "hi100").agg(sum(col("cnt")).as("cnt"))
    val h = merged.groupBy("e", "m", "lo100", "hi100")
      .agg(sum(when(col("cls") === "train", col("cnt")).otherwise(0L)).as("n_train"),
        sum(when(col("cls") =!= "train", col("cnt")).otherwise(0L)).as("n_other"))
    val tot = h.agg(sum(col("n_train")).as("nt"), sum(col("n_other")).as("no"))
    h.crossJoin(broadcast(tot))
      .withColumn("et", col("n_train").cast("double") + col("n_other").cast("double"))
      .withColumn("e_train",
        col("et") * col("nt").cast("double") / (col("nt") + col("no")).cast("double"))
      .withColumn("e_other",
        col("et") * col("no").cast("double") / (col("nt") + col("no")).cast("double"))
      .withColumn("chi2_bin",
        (col("n_train").cast("double") - col("e_train")) *
          (col("n_train").cast("double") - col("e_train")) / col("e_train") +
        (col("n_other").cast("double") - col("e_other")) *
          (col("n_other").cast("double") - col("e_other")) / col("e_other"))
      .select(col("lo100").as("lo"), col("hi100").as("hi"),
        col("n_train"), col("n_other"), col("e_train"), col("chi2_bin"),
        // the classic chi-square validity rule: a bucket votes "drifted"
        // only when BOTH expected counts reach 5 — the 1-df cut is
        // meaningless on a 3-count bucket (log-linear buckets are much
        // finer than q163's linear bins, so sparse tails are routine)
        (col("chi2_bin") > lit(Chi2DriftThreshold) &&
          col("e_train") >= lit(5.0) && col("e_other") >= lit(5.0)).as("drifted"))
  }

  def q214Sql: String = {
    val k = GraftConfig.quantileSketchBits
    s"""WITH vals AS (SELECT doc_id,
       |    CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '${cfg.splitTrainUpper}'
       |      THEN 'train' ELSE 'other' END AS cls,
       |    CAST(n_chars AS BIGINT) AS v FROM documents),
       |dd AS (SELECT doc_id, cls, v, CAST(length(bin(v)) AS BIGINT) AS e,
       |    CAST(power(2.0, greatest(CAST(length(bin(v)) AS BIGINT) - 1 - $k, 0)) AS BIGINT) AS d
       |  FROM vals),
       |ska AS (SELECT cls, e, v // d AS m, d, count(*) AS cnt FROM dd
       |  WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3, 4),
       |skb AS (SELECT cls, e, v // d AS m, d, count(*) AS cnt FROM dd
       |  WHERE doc_id % 2 <> 0 GROUP BY 1, 2, 3, 4),
       |merged AS (SELECT cls, e, m, d, CAST(SUM(cnt) AS BIGINT) AS cnt
       |  FROM (SELECT * FROM ska UNION ALL SELECT * FROM skb) GROUP BY 1, 2, 3, 4),
       |h AS (SELECT e, m, m * d AS lo, (m + 1) * d - 1 AS hi,
       |    CAST(SUM(CASE WHEN cls = 'train' THEN cnt ELSE 0 END) AS BIGINT) AS n_train,
       |    CAST(SUM(CASE WHEN cls <> 'train' THEN cnt ELSE 0 END) AS BIGINT) AS n_other
       |  FROM merged GROUP BY 1, 2, 3, 4),
       |tot AS (SELECT CAST(SUM(n_train) AS BIGINT) AS nt,
       |    CAST(SUM(n_other) AS BIGINT) AS no FROM h)
       |SELECT lo, hi, n_train, n_other, e_train,
       |  (CAST(n_train AS DOUBLE) - e_train) * (CAST(n_train AS DOUBLE) - e_train)
       |    / e_train +
       |  (CAST(n_other AS DOUBLE) - e_other) * (CAST(n_other AS DOUBLE) - e_other)
       |    / e_other AS chi2_bin,
       |  ((CAST(n_train AS DOUBLE) - e_train) * (CAST(n_train AS DOUBLE) - e_train)
       |    / e_train +
       |  (CAST(n_other AS DOUBLE) - e_other) * (CAST(n_other AS DOUBLE) - e_other)
       |    / e_other > ${Chi2DriftThreshold}
       |   AND e_train >= 5.0 AND e_other >= 5.0) AS drifted
       |FROM (SELECT lo, hi, n_train, n_other,
       |    (CAST(n_train AS DOUBLE) + CAST(n_other AS DOUBLE)) * CAST(nt AS DOUBLE)
       |      / CAST(nt + no AS DOUBLE) AS e_train,
       |    (CAST(n_train AS DOUBLE) + CAST(n_other AS DOUBLE)) * CAST(no AS DOUBLE)
       |      / CAST(nt + no AS DOUBLE) AS e_other
       |  FROM h, tot)""".stripMargin
  }

  /** q154: per-doc LANGUAGE-MODEL fluency score, integer-exact — the
    * probability-valued sibling of q80's coverage fraction and the
    * engine-portable reduction of a CCNet-style perplexity gate: each
    * adjacent word pair scores its add-1-smoothed corpus bigram
    * probability p = (c(w1,w2)+1)/(c(w1)+V) in fixed point
    * (floor((c12+1)·SCALE / (c1+V)) with SCALE = ${LmScoreScale}),
    * and a doc's score is the floor-mean over its pairs. All BIGINT —
    * a log-based perplexity would diverge between libm and the JVM in
    * final ulps; the fixed-point mean ranks docs identically for the
    * quality gate's purposes and hashes bitwise on both engines.
    * Overflow bound: exact while (c12+1)·SCALE < 2⁶³, i.e. the hottest
    * bigram under ~9·10¹² occurrences; beyond that cast the numerator
    * to DECIMAL(38,0) (the q127 discipline).
    *
    * Scale: both model sides are aggregates UNIQUE on their join key
    * (bigram table on (w1,w2), unigram table on w1), so the joins fan
    * out 1:1 even on "of the"-grade keys (q15/q80 discipline); V rides
    * a one-row broadcast; the per-doc aggregate is map-combinable.
    * Docs with fewer than two tokens have no pairs and are absent —
    * a fluency score over zero evidence is undefined, not zero. */
  def q154LmScore(spark: SparkSession, dir: String): DataFrame = {
    val S = LmScoreScale
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
    val uni = toks.groupBy("w").agg(count(lit(1)).as("c1"))
      .withColumnRenamed("w", "w1")
    val vocab = toks.agg(countDistinct(col("w")).as("v"))
    val bi = docBigrams(spark, dir)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    docBigrams(spark, dir)
      .join(bi, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("p_scaled", expr(s"((c12 + 1) * $S) div (c1 + v)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_scaled")).as("sum_p"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_p div n_bigrams").as("lm_score_micro"))
  }

  def q154Sql: String =
    s"""WITH dp AS (
       |  SELECT doc_id, ws[g] AS w1, ws[g+1] AS w2
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |    LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS g) t
       |  WHERE len(ws) >= 2),
       |toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |uni AS (SELECT w AS w1, CAST(count(*) AS BIGINT) AS c1 FROM toks GROUP BY 1),
       |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM toks),
       |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM dp GROUP BY 1, 2)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM((c12 + 1) * ${LmScoreScale} // (c1 + v)) // count(*) AS BIGINT)
       |    AS lm_score_micro
       |FROM dp JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
       |GROUP BY doc_id""".stripMargin
  /** q237: GREEDY COVERAGE SELECTION — pick ${CoverageRounds}
    * documents that together maximize coverage of the top-
    * ${CoverageVocab} bigram vocabulary, the classic (1−1/e)-
    * approximate set-cover greedy: each round selects the document with
    * the most not-yet-covered vocabulary bigrams (ties → doc_id asc;
    * already-selected docs excluded; rounds stop when no positive gain
    * remains). The budget-constrained corpus-selection primitive behind
    * "which K documents teach the model the most vocabulary" — the
    * selection-side complement of q128's novelty ranking (novelty
    * scores docs against a FIXED reference; greedy coverage re-scores
    * against the growing selection).
    *
    * Scale is the BPE-trainer discipline (q201) applied to selection:
    * the (doc, bigram) distinct table materializes ONCE (Ck-cut, reused
    * every round); each round is one broadcast join against the
    * ≤-vocab-size uncovered list + one map-combinable count + one
    * ONE-row argmax collect; driver state (vocabulary, covered set,
    * chosen docs) is bounded by the vocab + round constants, never the
    * corpus. Output: one row per selection with its marginal gain and
    * the running covered total — the diminishing-returns curve that
    * tells the owner where to stop. */
  def q237CoverageSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dv = graft.Ck.lazyStage(
      docBigrams(spark, dir)
        .select(col("doc_id"), concat(col("w1"), lit(" "), col("w2")).as("bg"))
        .distinct(), cfg)
    val vocab = docBigrams(spark, dir)
      .select(concat(col("w1"), lit(" "), col("w2")).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bg")).limit(CoverageVocab)
      .select("bg").collect().map(_.getString(0)).toSet
    var covered = Set.empty[String]
    var chosen = Set.empty[Long]
    val out = Vector.newBuilder[(Long, Long, Long, Long)]
    var done = false
    for (r <- 1 to CoverageRounds if !done) {
      val unc = broadcast((vocab -- covered).toSeq.toDF("bg"))
      val cand0 = dv.join(unc, "bg")
      val cand = if (chosen.isEmpty) cand0
        else cand0.filter(!col("doc_id").isInCollection(chosen))
      val pick = cand.groupBy("doc_id").agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("doc_id")).limit(1).collect()
      if (pick.isEmpty) done = true
      else {
        val (docId, gain) = (pick(0).getLong(0), pick(0).getLong(1))
        val newBgs = dv.filter(col("doc_id") === docId).join(unc, "bg")
          .select("bg").collect().map(_.getString(0))
        covered ++= newBgs
        chosen += docId
        out += ((r.toLong, docId, gain, covered.size.toLong))
      }
    }
    out.result().toDF("round", "doc_id", "gain", "covered_total")
  }

  def q237Sql: String = {
    val head =
      s"""WITH dp AS (
         |  SELECT doc_id, ws[g] || ' ' || ws[g+1] AS bg
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |    LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS g) t
         |  WHERE len(ws) >= 2),
         |dv AS (SELECT DISTINCT doc_id, bg FROM dp),
         |vocab AS (SELECT bg FROM (SELECT bg, count(*) AS n FROM dp
         |  GROUP BY 1 ORDER BY n DESC, bg LIMIT ${CoverageVocab}))""".stripMargin
    val rounds = (1 to CoverageRounds).map { r =>
      val notCovered = if (r == 1) ""
        else s"WHERE dv.bg NOT IN (SELECT bg FROM c${r - 1})"
      val notChosen = (1 until r)
        .map(i => s"dv.doc_id NOT IN (SELECT doc_id FROM s$i)")
        .mkString(if (r == 1) "" else " AND ", " AND ", "")
      val cPrev = if (r == 1) "" else s"SELECT bg FROM c${r - 1} UNION "
      s""",
         |g$r AS (SELECT dv.doc_id, count(*) AS gain FROM dv JOIN vocab USING (bg)
         |  $notCovered$notChosen GROUP BY 1),
         |s$r AS (SELECT doc_id, gain FROM g$r ORDER BY gain DESC, doc_id LIMIT 1),
         |c$r AS ($cPrev
         |  SELECT DISTINCT dv.bg FROM dv JOIN s$r USING (doc_id) JOIN vocab USING (bg))""".stripMargin
    }.mkString
    val sel = (1 to CoverageRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, doc_id, gain,
         |  (SELECT CAST(count(*) AS BIGINT) FROM c$r) AS covered_total FROM s$r""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "")
    head + rounds + sel
  }

  /** q253: SHARD MANIFEST with RANDOM-ACCESS proof — the
    * webdataset-style export artifact a training loader needs: docs
    * pack into shards (q83's content-stable md5 sharding, same
    * deterministic (h, doc_id) order) and the manifest records each
    * doc's (shard, byte offset, byte length) inside the shard's
    * newline-joined UTF-8 blob, so a loader can seek any single
    * document without parsing the shard. The reconstruction gate rides
    * IN the output: `ok` = the blob's bytes at [offset, offset+length)
    * equal the document's UTF-8 bytes, recomputed independently by
    * BOTH engines (via hex renderings — byte-exact on any encoding) — a
    * manifest that can't reconstruct its corpus is a corrupt export,
    * and an off-by-one in offset arithmetic fails every row after the
    * first.
    *
    * Scale: the offset column is ONE per-shard window prefix-sum
    * (q83's rule: never a global cumsum) and blobs assemble per shard
    * with shard count growing with the corpus (PackShardHexLen) —
    * shard blob size is the bounded unit a loader maps anyway. */
  /** q267: TOKEN-BUDGET RECIPE SELECTION — build a training mixture to
    * a budget specified in TOKENS (how data recipes are actually
    * written), not in document counts or sampling rates: per source,
    * documents rank by a content-stable hash (the q75/q81 re-run-stable
    * idiom) and the greedy prefix is kept while the running token total
    * BEFORE the doc is under ${cfg.recipeTokensPerSource} — so every
    * source lands within one document of its budget, deterministically,
    * and reruns select the identical set. The complement of q129 (PPS
    * by size) and q103 (rate mixture): those control probability and
    * proportion; this hits an absolute per-source token target, the
    * form a "recipe" table of per-domain token counts takes.
    *
    * Scale: one (source)-keyed window cumsum (the q83 rule — never a
    * global cumsum; sources partition the corpus) over a token-count
    * scan; output ∝ the budget, not the corpus. */
  def q267TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val b = cfg.recipeTokensPerSource
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        md5(concat(lit("rcp:"), col("doc_id").cast("string"))).as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    t.withColumn("cum_before", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .filter(col("cum_before") < b)
      .select(col("doc_id"), col("source"), col("n_toks"),
        (col("cum_before") + col("n_toks")).as("cum_toks"))
  }

  def q267Sql: String =
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
       |    md5('rcp:' || CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents),
       |c AS (SELECT doc_id, source, n_toks,
       |    CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
       |  FROM t)
       |SELECT doc_id, source, n_toks, cb + n_toks AS cum_toks
       |FROM c WHERE cb < ${cfg.recipeTokensPerSource}""".stripMargin

  def q253ShardManifest(spark: SparkSession, dir: String): DataFrame = {
    // offsets/lengths are OCTET (UTF-8 byte) counts — what a loader
    // seeking into the shard FILE actually needs (round-11 advice: the
    // previous character counts mis-seek on any non-ASCII corpus);
    // LONG columns, so a manifest entry is valid at any shard size.
    // The in-query gate byte-compares through hex renderings (2 chars
    // per byte — both engines slice VARCHAR identically; DuckDB cannot
    // slice BLOBs), which is exact for any encoding; the gate itself
    // operates on the materialized blob, which the JVM bounds at
    // test-scale sizes anyway — the MANIFEST is what scales.
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        md5(concat(col("source"), lit(":"), col("doc_id").cast("string"))).as("h"),
        expr("CAST(octet_length(text) AS BIGINT)").as("len"))
      .withColumn("shard", substring(col("h"), 1, PackShardHexLen))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("h"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val man = t.withColumn("offset", coalesce(sum(col("len") + 1L).over(w), lit(0L)))
    val blobs = t.groupBy("shard")
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(h, doc_id, text))), x -> x.text)"),
        "\n").as("blob"))
    man.join(blobs, "shard")
      .select(col("doc_id"), col("shard"), col("offset"), col("len").as("length"),
        (expr("""substring(hex(encode(blob, 'UTF-8')),
                |  CAST(offset * 2 + 1 AS INT), CAST(len * 2 AS INT))""".stripMargin)
          === expr("hex(encode(text, 'UTF-8'))")).as("ok"))
  }

  def q253Sql: String =
    s"""WITH t AS (SELECT doc_id, text,
       |    md5(source || ':' || CAST(doc_id AS VARCHAR)) AS h,
       |    CAST(strlen(text) AS BIGINT) AS l
       |  FROM documents),
       |s AS (SELECT *, substr(h, 1, ${PackShardHexLen}) AS shard FROM t),
       |man AS (SELECT doc_id, shard, text, l, h,
       |    CAST(COALESCE(SUM(l + 1) OVER (PARTITION BY shard ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
       |  FROM s),
       |blobs AS (SELECT shard, string_agg(text, chr(10) ORDER BY h, doc_id) AS blob
       |  FROM s GROUP BY 1)
       |SELECT m.doc_id, m.shard, m."offset", m.l AS length,
       |  substring(hex(encode(b.blob)), m."offset" * 2 + 1, m.l * 2)
       |    = hex(encode(m.text)) AS ok
       |FROM man m JOIN blobs b USING (shard)""".stripMargin

  /** q240: DETERMINISTIC NEGATIVE SAMPLING — ${GraftConfig.negSlots} hash-drawn
    * negative documents per query document, the contrastive-pair
    * builder behind retrieval/embedding training data: negatives must
    * be (a) reproducible run to run (a random() sample re-labels the
    * training set every rebuild), (b) uniform-ish over the corpus, and
    * (c) NOT accidental positives. Candidate = md5(query_id ":" slot)
    * mod (max id + 1) — the q75/q129 hash-sampling idiom applied to
    * PAIR construction; slots whose draw collides with the query
    * itself or with an exact-content duplicate (q13's ${
    * cfg.dedupKeyWords}-word content key) are DROPPED, not redrawn —
    * rejection keeps the pipeline one scan deep and the pair set a
    * pure function of the corpus (a redraw chain would need unbounded
    * driver rounds for pathological corpora; at real duplicate rates
    * the loss is ~the dup rate × slots). Near-dup exclusion composes:
    * anti-join the emitted pairs against q31/q131's pair tables.
    *
    * Scale: one corpus scan fans out slots (explode of a constant
    * range), the max-id anchor is a one-row broadcast, and the only
    * shuffle is the equi-join of candidates to the keyed corpus on
    * neg_id — candidate volume is slots × docs, linear. */
  def q240NegativeSampling(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, cfg.dedupKeyWords), " ").as("ckey"))
    val maxId = docs.agg(max(col("doc_id")).as("mx"))
    val cand = docs.crossJoin(broadcast(maxId))
      .withColumn("slot", explode(sequence(lit(1L), lit(GraftConfig.negSlots.toLong))))
      .withColumn("neg_id",
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          col("slot").cast("string"))), 1, 8), 16, 10).cast("long") % (col("mx") + 1L))
      .select(col("doc_id").as("query_id"), col("slot"), col("neg_id"),
        col("ckey").as("qkey"))
    cand
      .join(docs.select(col("doc_id").as("neg_id"), col("ckey").as("nkey")), Seq("neg_id"))
      .filter(col("neg_id") =!= col("query_id") && col("qkey") =!= col("nkey"))
      .select("query_id", "slot", "neg_id")
  }

  def q240Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, array_to_string(string_split(text, ' ')[:${cfg.dedupKeyWords}], ' ') AS ckey
       |  FROM documents),
       |mx AS (SELECT max(doc_id) AS mx FROM d),
       |cand AS (SELECT d.doc_id AS query_id, s.slot,
       |    CAST(('0x' || substr(md5(d.doc_id || ':' || s.slot), 1, 8)) AS BIGINT)
       |      % (mx.mx + 1) AS neg_id,
       |    d.ckey AS qkey
       |  FROM d, mx,
       |    LATERAL (SELECT unnest(generate_series(1, ${GraftConfig.negSlots})) AS slot) s)
       |SELECT c.query_id, c.slot, c.neg_id
       |FROM cand c JOIN d n ON n.doc_id = c.neg_id
       |WHERE c.neg_id <> c.query_id AND c.qkey <> n.ckey""".stripMargin

  // ---------------------------------------------------------------
  // q320/q321: DSIR importance weights + priority resample
  // ---------------------------------------------------------------

  /** Per-doc token stream with the hashed feature bucket — the DSIR
    * feature map: word unigrams hashed by md5 into ${DsirBuckets}
    * buckets (md5 hex is identical cross-engine, the q129/q240
    * uniform discipline). */
  private def dsirTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
      .withColumn("b",
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % DsirBuckets)

  private def dsirTokensSql: String =
    s"""tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
       |tb AS (SELECT doc_id, lang,
       |    CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % ${DsirBuckets} AS b
       |  FROM tok)""".stripMargin

  /** The q320 weight chain as shared oracle CTEs, ending at
    * `ds(doc_id, n_toks, dsir_sum_micro, dsir_avg_micro)`. */
  private def dsirWeightCtes: String = {
    val S = GraftConfig.dsirScale
    s"""$dsirTokensSql,
       |braw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tb GROUP BY b),
       |btgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tb
       |  WHERE lang = '${DsirTargetLang}' GROUP BY b),
       |br AS (SELECT braw.b, ($S * (coalesce(ct, 0) + 1)) // (cr + 1) AS rm
       |  FROM braw LEFT JOIN btgt USING (b)),
       |ds AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       |    CAST(SUM(rm) AS BIGINT) AS dsir_sum_micro,
       |    CAST(SUM(rm) // count(*) AS BIGINT) AS dsir_avg_micro
       |  FROM tb JOIN br USING (b) GROUP BY doc_id)""".stripMargin
  }

  /** q320: DSIR IMPORTANCE WEIGHTS — Data Selection via Importance
    * Resampling's scoring pass (hashed n-gram importance weights,
    * Xie et al. 2023) re-expressed Spark-first: word unigrams hash
    * into ${DsirBuckets} buckets, the TARGET distribution is the
    * '${DsirTargetLang}'-language slice (the "high-quality
    * domain" stand-in), the RAW distribution is the whole corpus, and
    * each doc scores the frequency-weighted sum of per-bucket
    * add-1-smoothed likelihood RATIOS in ${GraftConfig.dsirScale}-scale
    * integer fixed point. Deliberate divergence from the paper: the
    * paper sums per-feature LOG ratios; this sums the ratios
    * themselves, because `ln` is not correctly-rounded IEEE and the
    * cross-engine hash gate would catch last-ulp drift (the
    * Ranking.scala PMI rationale). The ratio sum is a deliberate
    * monotone-PER-TOKEN approximation, not an order-preserving
    * transform of the paper's score: summing ratios is an arithmetic
    * mean where the log-sum is a geometric one, so two docs CAN swap
    * rank when one mixes extreme ratios and the other sits uniformly
    * in the middle — the trade accepted for integer-exact cross-engine
    * determinism. The global normalizer (Cr+B)/(Ct+B), shared by every
    * doc, is dropped for the same reason overflow headroom matters
    * more than an affine constant.
    *
    * Scale: one explode→groupBy for the ${DsirBuckets}-row bucket
    * table (map-combinable), broadcast back onto the token stream,
    * per-doc sum — a two-scan pipeline with a broadcast-tiny join, no
    * corpus shuffle beyond the doc_id aggregate. */
  def q320DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val S = GraftConfig.dsirScale
    val tok = dsirTokens(spark, dir)
    // raw and target counts in ONE map-combinable pass (a conditional
    // sum, not a second corpus scan); target ⊆ raw per bucket, so
    // rm ≤ S: the per-token ratio is bounded by the scale and the
    // per-doc sum by S · n_toks — no overflow path at any corpus size
    val ratio = tok.groupBy("b")
      .agg(count(lit(1)).as("cr"),
        sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("ct0"))
      .select(col("b"), expr(s"($S * (ct0 + 1)) div (cr + 1)").as("rm"))
    tok.join(broadcast(ratio), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("rm").as("dsir_sum_micro"))
      .select(col("doc_id"), col("n_toks"), col("dsir_sum_micro"),
        expr("dsir_sum_micro div n_toks").as("dsir_avg_micro"))
  }

  def q320Sql: String =
    s"""WITH $dsirWeightCtes
       |SELECT doc_id, n_toks, dsir_sum_micro, dsir_avg_micro FROM ds""".stripMargin

  /** q321: IMPORTANCE RESAMPLE — the selection pass that consumes
    * q320's weights: PRIORITY SAMPLING (Duffield-Lund-Thorup), the
    * weighted-without-replacement scheme whose priority w/u needs no
    * transcendental function (Gumbel-top-k needs log — the ulp
    * discipline again): each doc draws the deterministic md5 uniform
    * u32 (the q129 pattern), its priority is dsir_avg_micro · 2³² div
    * (u32+1) in exact integer space, and the top-${cfg.dsirSampleK}
    * priorities are kept (ties break to the lower doc_id; priorities
    * are near-unique by construction). Length-debiased by using the
    * per-token average weight, so verbose docs don't buy selection
    * mass.
    *
    * Scale: q320's pipeline + one global TakeOrderedAndProject —
    * per-partition top-k before a single bounded merge, never a full
    * sort. */
  def q321ImportanceResample(spark: SparkSession, dir: String): DataFrame = {
    val K = cfg.dsirSampleK
    q320DsirWeights(spark, dir)
      .withColumn("u32",
        conv(substring(md5(concat(lit("dsir:"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast("long"))
      .withColumn("priority", expr("(dsir_avg_micro * 4294967296) div (u32 + 1)"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(K)
      .select("doc_id", "n_toks", "dsir_avg_micro", "priority")
  }

  def q321Sql: String =
    s"""WITH $dsirWeightCtes,
       |pr AS (SELECT doc_id, n_toks, dsir_avg_micro,
       |    (dsir_avg_micro * 4294967296) //
       |      (CAST('0x' || substr(md5('dsir:' || doc_id), 1, 8) AS BIGINT) + 1) AS priority
       |  FROM ds)
       |SELECT doc_id, n_toks, dsir_avg_micro, priority FROM pr
       |ORDER BY priority DESC, doc_id LIMIT ${cfg.dsirSampleK}""".stripMargin

  // ---------------------------------------------------------------
  // q323: Kneser-Ney bigram LM quality scoring
  // ---------------------------------------------------------------

  /** q323: KNESER-NEY LM SCORE — the CCNet-style perplexity filter's
    * LM, upgraded from q154's add-1 smoothing to interpolated
    * Kneser-Ney with absolute discount D = 3/4 (the standard corpus-LM
    * smoother: mass freed by discounting observed bigrams backs off to
    * the CONTINUATION unigram — "how many contexts does w2 complete" —
    * not raw frequency, so boilerplate tokens that always follow the
    * same word stop inflating fluency). Per seen bigram, in exact
    * ${GraftConfig.dsirScale}-scale integer fixed point (D = 3/4 is exact in
    * quarters — ×4 scaling, zero floats, the q154/PMI ulp discipline):
    *
    *   p_kn = (4·c12 − 3)·S div (4·c1)  +  3·n1p·cont(w2)·S div (4·c1·N··)
    *
    * where c1 = Σ_w2 c12(w1,·), n1p = |{w2: c12(w1,w2)>0}|, cont(w2) =
    * |{w1: c12(w1,w2)>0}|, N·· = distinct bigram types. Per doc: bigram
    * count, summed p_kn, and the mean — the doc's fluency score under
    * the corpus's own statistics.
    *
    * Scale: the count tables are vocab/vocab²-bounded aggregates; the
    * per-occurrence join re-streams the doc bigrams once; the per-doc
    * aggregate is map-combinable. Integer headroom: 3·n1p·cont·S needs
    * n1p·cont < 3·10¹² — safe through multi-million-word vocabularies. */
  def q323KnBigram(spark: SparkSession, dir: String): DataFrame = {
    val S = GraftConfig.dsirScale
    val dp = docBigrams(spark, dir)
    val bi = dp.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ctx = bi.groupBy("w1").agg(sum("c12").as("c1"), count(lit(1)).as("n1p"))
    val cont = bi.groupBy("w2").agg(count(lit(1)).as("contw"))
    val nbb = bi.agg(count(lit(1)).as("nbb"))
    dp.join(bi, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(nbb))
      .withColumn("p_micro",
        expr(s"((4*c12 - 3) * $S) div (4*c1) + (3 * n1p * contw * $S) div (4 * c1 * nbb)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("p_micro").as("kn_sum_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("kn_sum_micro"),
        expr("kn_sum_micro div n_bigrams").as("kn_micro"))
  }

  def q323Sql: String = {
    val S = GraftConfig.dsirScale
    s"""WITH dp AS (
       |  SELECT doc_id, ws[g] AS w1, ws[g+1] AS w2
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |    LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS g) t
       |  WHERE len(ws) >= 2),
       |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM dp GROUP BY 1, 2),
       |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
       |    CAST(count(*) AS BIGINT) AS n1p FROM bi GROUP BY w1),
       |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS contw FROM bi GROUP BY w2),
       |nbb AS (SELECT CAST(count(*) AS BIGINT) AS nbb FROM bi),
       |p AS (SELECT doc_id,
       |    ((4*c12 - 3) * $S) // (4*c1) + (3 * n1p * contw * $S) // (4 * c1 * nbb) AS p_micro
       |  FROM dp JOIN bi USING (w1, w2) JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN nbb)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(p_micro) AS BIGINT) AS kn_sum_micro,
       |  CAST(SUM(p_micro) // count(*) AS BIGINT) AS kn_micro
       |FROM p GROUP BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q334: the end-to-end selection recipe
  // ---------------------------------------------------------------

  /** The dedup instance q334's stages run under: cfg-matched to this
    * CurationOps, shared by impl and oracle so both arms see the same
    * knobs (a default-`Dedup`-companion call here would silently run
    * a tuned recipe's scrub/soft-dedup stages under default config). */
  private lazy val recipeDedup = new DedupOps(cfg)

  /** q334: SELECTION RECIPE — the round's selection arc composed into
    * the ONE auditable pipeline row a 100 TB curation run ships with
    * ("what did the recipe do"): stage 1 scrubs quotes (q329's
    * containment verdict — docs near-contained in a larger container
    * drop), stage 2 applies soft-dedup down-weighting to the
    * survivors (q322's 1/family_size micro weights — nothing drops,
    * tokens deflate), stage 3 resamples the top-${GraftConfig.default
    * .dsirSampleK} by DSIR priority with the quality weight DAMPED BY
    * the duplication weight (effw = dsir_avg·w div S — a doc that is
    * one of five copies carries a fifth of its quality mass into the
    * draw, so the recipe cannot fill the budget with a viral family).
    * Per stage: docs in, kept, dropped, and the EFFECTIVE token mass
    * (Σ n_toks·w in ${GraftConfig.dsirScale}-scale micro) —
    * every number an exact integer, the audit a data recipe needs to
    * be reproducible and reviewable before a token is spent on
    * training.
    *
    * Scale: three already-scaled operators (each documented at its
    * def) + per-stage map-combinable aggregates; the only new state
    * is the 3-row audit itself. The composition reads the SAME
    * persisted artifacts (contain_pairs, famlbl) its stages serve
    * individually — the recipe is a plan over artifacts, not a
    * re-derivation. */
  def q334SelectionRecipe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val S = GraftConfig.dsirScale
    val K = cfg.dsirSampleK
    // the scrub and soft-dedup stages run under THIS instance's cfg
    // (not the default companion's) so a knob-tuned CurationOps
    // composes knob-matched stages — impl and oracle share recipeDedup
    val dedup = recipeDedup
    // stage-cut: four audit aggregates read this table — without the
    // cut each would re-run the whole three-operator lineage
    val base = graft.Ck.lazyStage(
      q320DsirWeights(spark, dir)
        .select("doc_id", "n_toks", "dsir_avg_micro")
        .join(dedup.q329QuoteScrub(spark, dir)
          .select("doc_id", "is_quote"), "doc_id")
        .join(dedup.q322SoftDedup(spark, dir)
          .select("doc_id", "w_micro"), "doc_id"), cfg)
    val kept = base.filter(!col("is_quote"))
    val sel = kept
      .withColumn("u32",
        conv(substring(md5(concat(lit("recipe:"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast("long"))
      .withColumn("effw", expr(s"(dsir_avg_micro * w_micro) div $S"))
      .withColumn("priority", expr("(effw * 4294967296) div (u32 + 1)"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(K)
    def stat(df: DataFrame, wMicro: Boolean): (Long, Long) = {
      val r = df.agg(count(lit(1)).as("n"),
        coalesce(sum(if (wMicro) col("n_toks") * col("w_micro")
                     else col("n_toks") * lit(S)), lit(0L)).as("eff")).first()
      (r.getLong(0), r.getLong(1))
    }
    val (nAll, _) = stat(base, wMicro = false)
    val (nKept, effKept) = stat(kept, wMicro = false)
    val (_, effSoft) = stat(kept, wMicro = true)
    val (nSel, effSel) = stat(sel, wMicro = true)
    Seq(
      ("1_quote_scrub", nAll, nKept, nAll - nKept, effKept),
      ("2_soft_dedup", nKept, nKept, 0L, effSoft),
      ("3_dsir_select", nKept, nSel, nKept - nSel, effSel))
      .toDF("stage", "n_in", "n_kept", "n_dropped", "eff_toks_micro")
  }

  /** Oracle: the three stages' CTE chains composed into one statement
    * (quote verdicts, soft-dedup weights via the recursive family
    * closure, DSIR weights) — the same audit arithmetic end to end. */
  def q334Sql: String = {
    val S = GraftConfig.dsirScale
    s"""WITH RECURSIVE
       |${recipeDedup.quoteFlagCtes},
       |${recipeDedup.softDedupWeightCtes},
       |$dsirWeightCtes,
       |rbase AS (SELECT ds.doc_id, ds.n_toks, ds.dsir_avg_micro,
       |    gq.doc_id IS NOT NULL AS is_quote, w.w_micro
       |  FROM ds LEFT JOIN gquotes gq USING (doc_id)
       |  JOIN sdw w USING (doc_id)),
       |rkept AS (SELECT * FROM rbase WHERE NOT is_quote),
       |rsel AS (SELECT doc_id, n_toks, w_micro FROM (
       |    SELECT doc_id, n_toks, w_micro,
       |      (((dsir_avg_micro * w_micro) // $S) * 4294967296) //
       |        (CAST('0x' || substr(md5('recipe:' || doc_id), 1, 8) AS BIGINT) + 1) AS priority
       |    FROM rkept)
       |  ORDER BY priority DESC, doc_id LIMIT ${cfg.dsirSampleK})
       |SELECT '1_quote_scrub' AS stage,
       |  (SELECT CAST(count(*) AS BIGINT) FROM rbase) AS n_in,
       |  (SELECT CAST(count(*) AS BIGINT) FROM rkept) AS n_kept,
       |  (SELECT CAST(count(*) AS BIGINT) FROM rbase)
       |    - (SELECT CAST(count(*) AS BIGINT) FROM rkept) AS n_dropped,
       |  (SELECT CAST(coalesce(sum(n_toks * $S), 0) AS BIGINT) FROM rkept) AS eff_toks_micro
       |UNION ALL
       |SELECT '2_soft_dedup',
       |  (SELECT CAST(count(*) AS BIGINT) FROM rkept),
       |  (SELECT CAST(count(*) AS BIGINT) FROM rkept),
       |  CAST(0 AS BIGINT),
       |  (SELECT CAST(coalesce(sum(n_toks * w_micro), 0) AS BIGINT) FROM rkept)
       |UNION ALL
       |SELECT '3_dsir_select',
       |  (SELECT CAST(count(*) AS BIGINT) FROM rkept),
       |  (SELECT CAST(count(*) AS BIGINT) FROM rsel),
       |  (SELECT CAST(count(*) AS BIGINT) FROM rkept)
       |    - (SELECT CAST(count(*) AS BIGINT) FROM rsel),
       |  (SELECT CAST(coalesce(sum(n_toks * w_micro), 0) AS BIGINT) FROM rsel)""".stripMargin
  }
}

/** Default-configured instance (see [[graft.GraftConfig]]). */
object Curation extends CurationOps(GraftConfig.default)

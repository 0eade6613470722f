package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftConfig
import graft.sources.{Artifact, Tables}

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language ID, fingerprinting. All single-pass,
  * codegen-friendly column expressions (no UDFs) so they stay inside
  * WholeStageCodegen on the scan — the shape that streams 100 TB through
  * executors with zero shuffle (except langid's tiny profile broadcast).
  */
class TextAnalysisOps(val cfg: GraftConfig) {
  val Stopwords: Seq[String] = GraftConfig.stopwords
  // language id (training sample mod, profile size) and winnowing
  // fingerprints (k-gram width, window)
  val LangIdTrainMod: Int = 5
  val LangIdProfileSize: Int = 30
  val WinnowK: Int = 5
  val WinnowWindow: Int = 4
  private val stopList = Stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** q50: whitespace tokens + regex token count (BPE-ish pre-tokenizer:
    * letter runs, digit runs, single punctuation). */
  def q50TokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("long").as("re_tokens"))

  def q50Sql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens
      |FROM documents""".stripMargin

  /** q51: quality features + a weighted score. Integer counts feed double
    * arithmetic with identical expression shape on both engines, so the
    * doubles are bit-identical. */
  def q51Quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(expr(s"filter(split(text, ' '), w -> w IN $stopList)")).cast("long").as("n_stop"))
      .select(col("doc_id"), col("n_chars"), col("n_tokens"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
        ((col("n_chars") - col("n_tokens") + 1).cast("double") / col("n_tokens")).as("avg_token_len"))
      .withColumn("quality_score",
        col("stopword_ratio") * 2.0 + col("avg_token_len") * 0.1
          + least(col("n_tokens").cast("double") / 100.0, lit(1.0)))

  def q51Sql: String =
    s"""SELECT doc_id, n_chars, n_tokens, stopword_ratio, avg_token_len,
       |  stopword_ratio * 2.0 + avg_token_len * 0.1
       |    + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS quality_score
       |FROM (
       |  SELECT doc_id, n_chars, n_tokens,
       |    CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
       |    CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS avg_token_len
       |  FROM (
       |    SELECT doc_id, n_chars,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |      CAST(len(list_filter(string_split(text, ' '), w -> w IN $stopList)) AS BIGINT) AS n_stop
       |    FROM documents))""".stripMargin

  /** q52: n-gram language ID (Cavnar–Trenkle flavor). Profiles are the
    * top-$LangIdProfileSize char bigrams of each language learned from
    * the deterministic training slice (doc_id % $LangIdTrainMod = 0,
    * labels taken from `lang`); the tiny profile table is broadcast and
    * every doc scores by matched-bigram count (ties → lexicographically
    * smaller lang). */
  def q52LangId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bigrams = docs
      .filter(length(col("text")) >= 2) // sequence() guard for 1-char docs
      .withColumn("g", explode(sequence(lit(1), length(col("text")) - 1)))
      .select(col("doc_id"), col("lang"), expr("substring(text, g, 2)").as("bg"))
    val train = bigrams.filter(col("doc_id") % LangIdTrainMod === 0)
    val wRank = Window.partitionBy("lang").orderBy(col("cnt").desc, col("bg"))
    val profiles = broadcast(
      train.groupBy("lang", "bg").agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(wRank)).filter(col("rk") <= LangIdProfileSize)
        .select(col("lang").as("plang"), col("bg")))
    val wBest = Window.partitionBy("doc_id").orderBy(col("hits").desc, col("plang"))
    bigrams.select("doc_id", "bg").distinct()
      .join(profiles, "bg")
      .groupBy("doc_id", "plang").agg(count(lit(1)).as("hits"))
      .withColumn("rk", row_number().over(wBest)).filter(col("rk") === 1)
      .select(col("doc_id"), col("plang").as("pred_lang"))
  }

  def q52Sql: String =
    s"""WITH bigrams AS (
       |  SELECT doc_id, lang, substr(text, g, 2) AS bg
       |  FROM documents, LATERAL (SELECT unnest(generate_series(1, len(text)-1)) AS g) t
       |  WHERE len(text) >= 2),
       |train AS (SELECT lang, bg FROM bigrams WHERE doc_id % $LangIdTrainMod = 0),
       |counts AS (SELECT lang, bg, count(*) AS cnt FROM train GROUP BY lang, bg),
       |profiles AS (SELECT lang AS plang, bg FROM (
       |  SELECT lang, bg, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bg) AS rk
       |  FROM counts) WHERE rk <= $LangIdProfileSize),
       |db AS (SELECT DISTINCT doc_id, bg FROM bigrams),
       |hits AS (SELECT doc_id, plang, count(*) AS h FROM db JOIN profiles USING (bg)
       |  GROUP BY doc_id, plang)
       |SELECT doc_id, plang AS pred_lang FROM (
       |  SELECT doc_id, plang, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, plang) AS rk
       |  FROM hits) WHERE rk = 1""".stripMargin

  /** q53: document fingerprint — md5 over whitespace-normalized text. */
  def q53Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"),
      md5(trim(regexp_replace(col("text"), " +", " "))).as("fp"))

  def q53Sql: String =
    """SELECT doc_id, md5(trim(regexp_replace(text, ' +', ' ', 'g'))) AS fp
      |FROM documents""".stripMargin

  /** q55: winnowing fingerprints (Schleimer et al., SIGMOD'03 — the
    * rolling-hash document fingerprinting used by MOSS): hash every char
    * k-gram, slide a w-position window, keep the minimum hash per
    * window, emit the distinct selected hashes. Guarantees any shared
    * run of ≥ w+k−1 chars shares a fingerprint — the local-similarity
    * complement to q53's whole-doc hash. The window partitions by
    * doc_id (bounded by doc length, no hot-key risk). */
  def q55Winnow(spark: SparkSession, dir: String): DataFrame = {
    val k = WinnowK
    val w = WinnowWindow
    val kg = Tables.documents(spark, dir)
      .filter(length(col("text")) >= k)
      .withColumn("pos", explode(sequence(lit(1), length(col("text")) - (k - 1))))
      .select(col("doc_id"), col("pos"),
        substring(md5(expr(s"substring(text, pos, $k)")), 1, 8).as("h"))
    val win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    kg.withColumn("mh", min(col("h")).over(win))
      .filter(col("pos") >= w) // only full windows select fingerprints
      .select(col("doc_id"), col("mh").as("fingerprint"))
      .distinct()
  }

  def q55Sql: String =
    s"""WITH kg AS (
       |  SELECT doc_id, g AS pos, substr(md5(substr(text, g, $WinnowK)), 1, 8) AS h
       |  FROM documents, LATERAL (SELECT unnest(generate_series(1, len(text)-${WinnowK - 1})) AS g) t
       |  WHERE len(text) >= $WinnowK),
       |w AS (SELECT doc_id, pos,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN ${WinnowWindow - 1} PRECEDING AND CURRENT ROW) AS mh
       |  FROM kg)
       |SELECT DISTINCT doc_id, mh AS fingerprint FROM w WHERE pos >= $WinnowWindow""".stripMargin

  /** q54: char-bigram Simpson diversity (1 − Σp²) per doc — a
    * repetitiveness/quality signal like n-gram entropy but free of
    * transcendentals, so both engines compute bit-identical doubles
    * (Σc² and Σc are exact integers, the division shape is fixed).
    * Single map-side-combinable aggregation keyed by doc. */
  def q54Diversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(col("text")) >= 2)
      .withColumn("g", explode(sequence(lit(1), length(col("text")) - 1)))
      .select(col("doc_id"), expr("substring(text, g, 2)").as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c") * col("c")).as("s2"), sum(col("c")).as("n"))
      .select(col("doc_id"), col("n").as("n_bigrams"),
        (lit(1.0) - col("s2").cast("double") / (col("n").cast("double") * col("n").cast("double")))
          .as("bigram_simpson"))

  def q54Sql: String =
    """WITH bg AS (
      |  SELECT doc_id, substr(text, g, 2) AS bg
      |  FROM documents, LATERAL (SELECT unnest(generate_series(1, len(text)-1)) AS g) t
      |  WHERE len(text) >= 2),
      |cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |  1.0 - CAST(SUM(c*c) AS DOUBLE) / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)) AS bigram_simpson
      |FROM cnt GROUP BY doc_id""".stripMargin

  // q120 redaction classes: (name, regex, replacement token). The email
  // and phone shapes are the production PII patterns (kept simple enough
  // that Java regex and RE2 agree); the term class is the
  // dictionary-driven scrub (API keys, codenames, blocklisted terms) and
  // is what actually fires on the synthetic corpus. Patterns are applied
  // in this order; replacement tokens contain no pattern-matchable chars,
  // so sequential application can't cascade.
  private val RedactClasses: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "[EMAIL]"),
    ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}", "[PHONE]"),
    ("term", "\\b(key|token|secret)\\b", "[TERM]"))

  /** q120: PII / sensitive-term redaction — the scrub step every
    * training-data pipeline runs before packing. Per doc: a match count
    * per redaction class (counted on the ORIGINAL text) and the
    * redacted text with each match replaced by its class token.
    * Pure codegen'd scan expressions (regexp_extract_all +
    * regexp_replace), zero shuffles at any scale; the class list is
    * config — swapping in stricter PII regexes changes no plumbing. */
  def q120Redact(spark: SparkSession, dir: String): DataFrame = {
    val counts = RedactClasses.map { case (name, pat, _) =>
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as(s"n_$name")
    }
    val redacted = RedactClasses.foldLeft(col("text")) {
      case (c, (_, pat, tok)) => regexp_replace(c, lit(pat), lit(tok))
    }
    Tables.documents(spark, dir)
      .select(col("doc_id") +: counts :+ redacted.as("redacted"): _*)
  }

  def q120Sql: String = {
    val counts = RedactClasses.map { case (name, pat, _) =>
      s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_$name"
    }.mkString(",\n      |  ")
    val redacted = RedactClasses.foldLeft("text") {
      case (e, (_, pat, tok)) => s"regexp_replace($e, '$pat', '$tok', 'g')"
    }
    s"""SELECT doc_id,
       |  $counts,
       |  $redacted AS redacted
       |FROM documents""".stripMargin
  }

  /** q122: exact duplicated-span coverage (the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" substring-level
    * diagnostic): per doc, how many of its char positions sit inside a
    * char ${cfg.dupSpanK}-gram that also occurs in ≥ 1 OTHER doc, as a
    * fraction of doc length. Finds verbatim cross-doc spans that
    * whole-doc (q53) and even segment-level (q99) granularity miss.
    *
    * Scale shape: grams explode from the scan into a distinct
    * (doc, gram) pre-aggregate (map-side combinable — repetition inside
    * a doc never crosses the network twice); cross-doc df is a second
    * aggregate over it; dup-gram positions re-join on the gram key with
    * the aggregated side as the SHUFFLE_HASH build (the q9_tag lesson).
    * The interval union is a per-doc window (bounded by doc length, no
    * hot keys): equal-length intervals sorted by start make covered
    * chars Σ min(k, pos − prev_pos) — exact integers, no sweep state. */
  def q122DupSpanCoverage(spark: SparkSession, dir: String): DataFrame = {
    val k = cfg.dupSpanK
    val docs = Tables.documents(spark, dir)
    val grams = docs
      .filter(length(col("text")) >= k)
      .withColumn("pos", explode(sequence(lit(1), length(col("text")) - (k - 1))))
      .select(col("doc_id"), col("pos"), expr(s"substring(text, pos, $k)").as("g"))
    val dupGrams = grams.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select("g")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val covered = grams.join(dupGrams.hint("shuffle_hash"), "g")
      .withColumn("delta",
        least(lit(k), col("pos") - lag(col("pos"), 1).over(w)))
      .withColumn("delta", coalesce(col("delta"), lit(k)))
      .groupBy("doc_id").agg(sum(col("delta")).as("covered_chars"))
    docs.select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("covered_chars"), lit(0L)).as("covered_chars"))
      .withColumn("dup_ratio",
        col("covered_chars").cast("double") / col("n_chars"))
  }

  def q122Sql: String = {
    val k = cfg.dupSpanK
    s"""WITH grams AS (
       |  SELECT doc_id, g AS pos, substr(text, g, $k) AS s
       |  FROM documents, LATERAL (SELECT unnest(generate_series(1, len(text)-${k - 1})) AS g) t
       |  WHERE len(text) >= $k),
       |dup AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df
       |  FROM grams GROUP BY s) WHERE df >= 2),
       |hits AS (SELECT doc_id, pos,
       |    coalesce(least($k, pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)), $k) AS delta
       |  FROM grams JOIN dup USING (s)),
       |cov AS (SELECT doc_id, CAST(SUM(delta) AS BIGINT) AS covered_chars
       |  FROM hits GROUP BY doc_id)
       |SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars,
       |  coalesce(cov.covered_chars, 0) AS covered_chars,
       |  CAST(coalesce(cov.covered_chars, 0) AS DOUBLE) / d.n_chars AS dup_ratio
       |FROM documents d LEFT JOIN cov USING (doc_id)""".stripMargin
  }

  /** q158: exact duplicated-span SCRUB — q122's diagnostic turned into
    * the transform (Lee et al.'s exact substring dedup as an operator):
    * every char inside a cross-doc duplicated char-${cfg.dupSpanK}-gram
    * is REMOVED and the doc is reconstructed from the surviving gaps in
    * original order. Candidate generation is identical to q122
    * (distinct (doc, gram) pre-aggregate → df ≥ 2 filter →
    * SHUFFLE_HASH re-join — never an all-pairs comparison); the
    * reconstruction collects each doc's hit positions into ONE in-row
    * array (state bounded by the doc's own length — the q100 in-row
    * bound, NOT a corpus-sized buffer) and folds them with a single
    * `aggregate` HOF: cursor starts at 1, each hit appends the
    * uncovered gap before it and advances the cursor past its span,
    * the finisher appends the tail. Fully-duplicated docs survive with
    * empty text — a scrubber accounts for every input (q100 rule).
    * Positions in the sorted array make p + k monotone, so the plain
    * cursor replace (no max) is exact. */
  def q158SpanScrub(spark: SparkSession, dir: String): DataFrame = {
    val k = cfg.dupSpanK
    val docs = Tables.documents(spark, dir)
    val grams = docs
      .filter(length(col("text")) >= k)
      .withColumn("pos", explode(sequence(lit(1), length(col("text")) - (k - 1))))
      .select(col("doc_id"), col("pos"), expr(s"substring(text, pos, $k)").as("g"))
    val dupGrams = grams.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select("g")
    val ps = grams.join(dupGrams.hint("shuffle_hash"), "g")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
    docs.join(ps, Seq("doc_id"), "left")
      .withColumn("scrubbed_text",
        when(col("ps").isNull, col("text")).otherwise(expr(
          s"""aggregate(ps, named_struct('cur', 1, 'acc', ''),
             |  (st, p) -> named_struct('cur', p + $k,
             |    'acc', concat(st.acc,
             |      CASE WHEN p > st.cur THEN substring(text, st.cur, p - st.cur)
             |           ELSE '' END)),
             |  st -> concat(st.acc,
             |    substring(text, st.cur, greatest(0, length(text) - st.cur + 1))))"""
            .stripMargin)))
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        length(col("scrubbed_text")).cast("long").as("kept_chars"),
        col("scrubbed_text"))
  }

  def q158Sql: String = {
    val k = cfg.dupSpanK
    s"""WITH grams AS (
       |  SELECT doc_id, g AS pos, substr(text, g, $k) AS s
       |  FROM documents, LATERAL (SELECT unnest(generate_series(1, len(text)-${k - 1})) AS g) t
       |  WHERE len(text) >= $k),
       |dup AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df
       |  FROM grams GROUP BY s) WHERE df >= 2),
       |hits AS (SELECT doc_id, pos FROM grams JOIN dup USING (s)),
       |segs AS (SELECT doc_id, pos,
       |    coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + $k, 1) AS cur
       |  FROM hits),
       |recon AS (SELECT s.doc_id,
       |    string_agg(CASE WHEN s.pos > s.cur
       |      THEN substr(d.text, s.cur, s.pos - s.cur) ELSE '' END, '' ORDER BY s.pos)
       |      AS head,
       |    max(s.pos) + $k AS tail_cur
       |  FROM segs s JOIN documents d USING (doc_id) GROUP BY s.doc_id),
       |scrub AS (SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars,
       |    CASE WHEN r.doc_id IS NULL THEN d.text
       |      ELSE coalesce(r.head, '') ||
       |        substr(d.text, r.tail_cur, greatest(0, len(d.text) - r.tail_cur + 1))
       |    END AS scrubbed_text
       |  FROM documents d LEFT JOIN recon r USING (doc_id))
       |SELECT doc_id, n_chars, CAST(len(scrubbed_text) AS BIGINT) AS kept_chars,
       |  scrubbed_text
       |FROM scrub""".stripMargin
  }

  /** q171: language-ID CONFUSION MATRIX — q52's predictions rolled up
    * against ground truth: one row per (true_lang, pred_lang) with doc
    * counts — the eval artifact that turns the classifier from "we
    * have language ID" into a measured component (q123's role, for
    * langid; diagonal mass = accuracy, off-diagonal cells = the
    * specific confusions worth new profile bigrams). Docs q52 leaves
    * unpredicted (no profile-bigram hits, sub-2-char texts) are
    * absent — scored coverage is q52's own contract. The matrix
    * aggregate touches only the (docs × 1) prediction table joined
    * 1:1 to the docs scan — everything heavy is q52's own
    * already-audited plan. */
  def q171LangidConfusion(spark: SparkSession, dir: String): DataFrame =
    q52LangId(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang").as("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  def q171Sql: String =
    s"""SELECT d.lang AS true_lang, p.pred_lang, count(*) AS n_docs
       |FROM ($q52Sql) p JOIN documents d USING (doc_id)
       |GROUP BY 1, 2""".stripMargin

  /** q167: BPE-merge tokenizer APPLY — per doc, the unit count after
    * applying a FIXED merge list (${cfg.bpeMerges.size} merges, config)
    * to each whitespace token: q50 counts proxy tokens; this runs the
    * actual subword algorithm's apply step, the number a training-cost
    * estimate or a packing plan (q83) actually needs. Each token is
    * exploded to spaced characters IN-ROW, the merge list folds over
    * it as a literal replace() chain (merges are config constants, so
    * the whole thing is ONE codegen'd scan expression — zero shuffles,
    * zero joins at any corpus size), and units = surviving
    * space-separated symbols. Each merge's replace is applied TWICE —
    * exactly the fixpoint FOR DISTINCT-OPERAND MERGES (left != right,
    * asserted below): consecutive occurrences share their delimiter
    * space, so a single leftmost-non-overlapping pass merges only
    * alternating occurrences of a run ('hahaha' → 4 units, where
    * BPE's one-at-a-time apply gives 3); the pass-1 leftovers are
    * always separated by a just-merged symbol, hence isolated, and
    * pass 2 takes every one of them. No third pass can ever match:
    * a replacement's output symbol is strictly longer than either of
    * its own operands, so replacing cannot create a fresh occurrence
    * of the same pair. A SAME-symbol merge ('x x' → 'xx') breaks the
    * pass-2 argument — in a run of ≥5 the leftovers neighbor each
    * other and apply-twice over-merges relative to one-at-a-time BPE
    * (6×'a' → aa·a·aa·a where sequential BPE gives aa·aa·aa), so such
    * merges are rejected up front (engine PARITY would still hold —
    * both engines run the identical chain — but the "≡ sequential
    * BPE" semantics would not). Replace semantics (leftmost,
    * non-overlapping, all occurrences) agree across engines;
    * restricted to BMP text (see GraftConfig.bpeMerges). Empty tokens
    * count one unit on both engines. */
  /** Guard for the apply-twice fixpoint argument above: every merge
    * must have distinct operands. Both the Spark and the oracle chain
    * builders go through this. */
  private def bpeMergesChecked(ms: Seq[String]): Seq[String] = {
    ms.foreach { m =>
      val parts = m.split(' ')
      require(parts.length == 2 && parts(0) != parts(1),
        s"BPE merge '$m' must be two DISTINCT space-separated symbols " +
          "(same-symbol merges break the apply-twice ≡ sequential-BPE equivalence)")
    }
    ms
  }

  def q167BpeUnits(spark: SparkSession, dir: String): DataFrame = {
    val chain = bpeMergesChecked(cfg.bpeMerges).foldLeft("concat(' ', regexp_replace(t, '(.)', '$1 '))") {
      (acc, m) =>
        val merged = m.replace(" ", "")
        s"replace(replace($acc, ' $m ', ' $merged '), ' $m ', ' $merged ')"
    }
    val unitExpr = s"size(split(trim($chain), ' '))"
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        expr(s"""aggregate(transform(split(text, ' '),
                |  t -> CAST($unitExpr AS BIGINT)),
                |  CAST(0 AS BIGINT), (acc, u) -> acc + u)""".stripMargin)
          .as("n_units"))
  }

  def q167Sql: String = {
    val chain = bpeMergesChecked(cfg.bpeMerges).foldLeft("' ' || regexp_replace(t, '(.)', '\\1 ', 'g')") {
      (acc, m) =>
        val merged = m.replace(" ", "")
        s"replace(replace($acc, ' $m ', ' $merged '), ' $m ', ' $merged ')"
    }
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       |  CAST(list_sum(list_transform(string_split(text, ' '),
       |    t -> len(string_split(trim($chain), ' ')))) AS BIGINT) AS n_units
       |FROM documents""".stripMargin
  }

  /** q155: COLLOCATIONS — the top-${cfg.collocTopK} adjacent word pairs
    * by lift c(w1,w2)·N / (c(w1)·c(w2)) with support ≥
    * ${cfg.collocMinCount}: the statistical phrase detector (PMI's
    * monotone argument) behind tokenizer merges, phrase mining, and
    * stop-phrase lists. Lift is computed as ONE fixed cast/multiply/
    * divide chain over exact integer counts (each double op is
    * correctly rounded from exact operands, so both engines agree
    * bitwise — the q148 discipline; the log() that makes this "PMI"
    * would not), and ties order on the pair itself.
    *
    * Scale: counts are map-combinable aggregates; the unigram joins hit
    * keys where the aggregated side is UNIQUE (1:1 fanout, no hot-key
    * amplification); the support filter shrinks the pair table before
    * any join; N rides a one-row broadcast; the final top-k plans as
    * TakeOrderedAndProject — the pair table is never globally sorted. */
  def q155Collocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val flat = toks.select(explode(col("ws")).as("w"))
    val uni = flat.groupBy("w").agg(count(lit(1)).as("c"))
    val n = flat.agg(count(lit(1)).as("n"))
    val pairs = toks
      .filter(size(col("ws")) >= 2)
      .withColumn("g", explode(sequence(lit(1), size(col("ws")) - 1)))
      .select(element_at(col("ws"), col("g")).as("w1"),
        element_at(col("ws"), col("g") + 1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= cfg.collocMinCount)
    pairs
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("lift",
        col("pair_count").cast("double") * col("n").cast("double") /
          (col("c1").cast("double") * col("c2").cast("double")))
      .select(col("w1"), col("w2"), col("pair_count"), col("c1"), col("c2"), col("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(cfg.collocTopK)
  }

  def q155Sql: String =
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
       |pairs AS (
       |  SELECT ws[g] AS w1, ws[g+1] AS w2, CAST(count(*) AS BIGINT) AS pair_count
       |  FROM (SELECT string_split(text, ' ') AS ws FROM documents),
       |    LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS g) t
       |  WHERE len(ws) >= 2
       |  GROUP BY 1, 2 HAVING count(*) >= ${cfg.collocMinCount})
       |SELECT w1, w2, pair_count, u1.c AS c1, u2.c AS c2,
       |  CAST(pair_count AS DOUBLE) * CAST(n AS DOUBLE) /
       |    (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS lift
       |FROM pairs
       |JOIN uni u1 ON u1.w = w1
       |JOIN uni u2 ON u2.w = w2
       |CROSS JOIN n
       |ORDER BY lift DESC, w1, w2
       |LIMIT ${cfg.collocTopK}""".stripMargin

  // ---------------------------------------------------------------------
  // q201: BPE-merge LEARNING — the tokenizer TRAINER whose output q167's
  // apply step consumes (before this, the merge list was a config
  // constant nothing could produce).
  // ---------------------------------------------------------------------

  /** The q167 apply chain over a list of learned (left, right) merges:
    * space the token's characters in-row, then fold each merge as the
    * literal double-replace (apply-twice = the exact sequential-BPE
    * fixpoint for distinct-operand merges — the q167 proof; the trainer
    * only ever LEARNS distinct-operand merges, see the candidate filter
    * in [[q201BpeTrain]]). Merged symbols are concatenations of corpus
    * characters restricted to [A-Za-z0-9], so embedding them as SQL
    * string literals is injection-safe by construction. */
  private def bpeSpacedExpr(merges: Seq[(String, String)]): String =
    merges.foldLeft("concat(' ', regexp_replace(t, '(.)', '$1 '))") {
      case (acc, (l, r)) =>
        s"replace(replace($acc, ' $l $r ', ' $l$r '), ' $l $r ', ' $l$r ')"
    }

  /** q201: BPE-merge TRAINING — the iterative pair-count/argmax loop
    * that PRODUCES a merge list (GPT-2/SentencePiece's BPE trainer in
    * DataFrame form): per iteration, count adjacent symbol pairs over
    * the whole corpus AFTER applying the merges learned so far (q155's
    * adjacent-pair aggregate shape, on subword symbols instead of
    * words), take the argmax pair with a deterministic tie-break
    * (count DESC, then left, right — binary string order, identical
    * across engines), append it to the merge list, repeat. Output: one
    * row per learned merge — (iter, l_sym, r_sym, merged, pair_count).
    *
    * Candidate filter (both engines, identically): operands must be
    * [A-Za-z0-9]+ runs (word-internal subwords only — the pre-tokenizer
    * boundary real BPE trainers draw at category changes) and DISTINCT
    * (l ≠ r): the apply step's apply-twice fixpoint contract holds only
    * for distinct-operand merges (q167's round-10 scoping), so the
    * trainer only learns merges its own apply step can replay exactly.
    *
    * Scale (the q150 discipline the round-9 verdict named): the driver
    * loop is bounded by ${cfg.bpeNumMerges}; per iteration the corpus
    * is scanned ONCE with the learned chain as a single codegen'd
    * expression (no joins — merges are driver-side literals), pairs
    * aggregate with map-side combine on a vocab²-bounded key space, and
    * only ONE row is collected. Per-iteration driver state is the merge
    * list itself — vocab-bounded, corpus-independent. Early-stops when
    * no candidate pair remains. */
  def q201BpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainDf(spark, Tables.documents(spark, dir), incremental = true)

  /** The trainer loop behind q201/q209, parameterized for the
    * incremental≡recompute equivalence test.
    *
    * incremental=true (r18, guide §5 — cache the reused subtree): the
    * SPACED corpus state s_i materializes ONCE (lazy stage cut, stored
    * during the iteration's own argmax job) and iteration i+1 applies
    * only the NEWEST merge to it — exactly the oracle's s_0 → s_1 → …
    * CTE chain. The old shape re-derived s_i from RAW text every
    * iteration: re-explode, re-space every character (the regexp), and
    * re-apply all i learned merges — O(merges²) replace passes over the
    * corpus against the incremental O(merges), with identical values
    * because the fold IS sequential composition (the q167 apply-twice ≡
    * sequential-BPE proof unchanged). Two state generations rotate:
    * s_{i-1}'s blocks release once s_i is materialized. Under
    * cfg.reliableStageCheckpoints each state lands as a reliable
    * checkpoint — the per-iteration corpus handoff a cluster wants
    * anyway (executor loss mid-training cannot drop the state).
    *
    * incremental=false keeps the historical recompute-from-raw shape
    * (the equivalence test's reference arm). */
  /** The filtered adjacent-pair count of a spaced-corpus state (column
    * `s`): the trainer's candidate aggregate, shared by the full count
    * and the per-iteration delta counts. */
  private def bpePairCounts(state: DataFrame): DataFrame =
    state.select(split(trim(col("s")), " ").as("sy"))
      .select(explode(expr(
        """zip_with(slice(sy, 1, greatest(size(sy) - 1, 0)),
          |         slice(sy, 2, greatest(size(sy) - 1, 0)),
          |         (a, b) -> named_struct('l', a, 'r', b))""".stripMargin)).as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"))
      .filter(col("l").rlike("^[A-Za-z0-9]+$") && col("r").rlike("^[A-Za-z0-9]+$") &&
        col("l") =!= col("r"))
      .groupBy("l", "r").agg(count(lit(1)).as("c"))

  private[graft] def bpeTrainDf(spark: SparkSession, docs: DataFrame,
      incremental: Boolean): DataFrame = {
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val spaced = docs
      .select(explode(split(col("text"), " ")).as("t"))
      .select(expr("concat(' ', regexp_replace(t, '(.)', '$1 '))").as("s"))
    var state: DataFrame = if (incremental) graft.Ck.lazyStage(spaced, cfg) else null
    // DELTA pair counts (r18, verdict item 8 + guide §2.3 "aggregate
    // less"): iteration 1 counts pairs over the full s_0 once; from
    // then on the count table advances by exact integer deltas over
    // ONLY the rows the newest merge touched. A row changes under the
    // double-replace iff it contains ' l r ', so
    //   count_{s_i} = count_{s_{i-1}}
    //               + Σ_{affected rows} (pairs(new row) − pairs(old row))
    // — the full-corpus explode + regexp filter + aggregate that
    // dominated every iteration now runs over the affected fraction.
    // Counts are integers, the argmax ordering (c DESC, l, r) is a
    // total order, and a zero row can never win, so the learned merge
    // sequence is IDENTICAL to the full recount (pinned by the
    // delta-arm ≡ recompute-arm equivalence test).
    var cnt: DataFrame =
      if (incremental) graft.Ck.lazyStage(bpePairCounts(spaced), cfg) else null
    var olderCnt: DataFrame = null
    // states materialize one iteration late under delta counting (the
    // delta that reads s_{i-1} is the first action over it), so keep a
    // 2-generation window alive and free everything older
    var pendingStates: List[DataFrame] = if (incremental) List(state) else Nil
    var done = false
    var i = 1
    while (!done && i <= cfg.bpeNumMerges) {
      val top = (
        if (incremental) cnt
        else {
          val chain = bpeSpacedExpr(learned.toSeq.map(m => (m._2, m._3)))
          bpePairCounts(docs.select(explode(split(col("text"), " ")).as("t"))
            .select(trim(expr(chain)).as("s")))
        })
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      // the argmax job materialized cnt_i (and, through its delta, the
      // state generation the delta read): free the superseded count
      // table and all but the two newest states
      if (olderCnt != null) { olderCnt.unpersist(false); olderCnt = null }
      if (pendingStates.length > 2) {
        pendingStates.drop(2).foreach(_.unpersist(false))
        pendingStates = pendingStates.take(2)
      }
      if (top.isEmpty) done = true
      else {
        val row = top.head
        learned += ((i.toLong, row.getString(0), row.getString(1), row.getLong(2)))
        i += 1
        if (incremental && !done && i <= cfg.bpeNumMerges) {
          val (l, r) = (row.getString(0), row.getString(1))
          val aff = state.filter(col("s").contains(s" $l $r "))
          val affNew = aff.select(
            expr(s"replace(replace(s, ' $l $r ', ' $l$r '), ' $l $r ', ' $l$r ')").as("s"))
          val delta = bpePairCounts(affNew)
            .unionAll(bpePairCounts(aff).select(col("l"), col("r"), (-col("c")).as("c")))
          olderCnt = cnt
          cnt = graft.Ck.lazyStage(cnt.unionAll(delta)
            .groupBy("l", "r").agg(sum(col("c")).as("c"))
            .filter(col("c") > 0), cfg)
          state = graft.Ck.lazyStage(state.select(
            expr(s"replace(replace(s, ' $l $r ', ' $l$r '), ' $l $r ', ' $l$r ')").as("s")), cfg)
          pendingStates = state :: pendingStates
        }
      }
    }
    pendingStates.foreach(_.unpersist(false))
    if (cnt != null) cnt.unpersist(false)
    if (olderCnt != null) olderCnt.unpersist(false)
    import spark.implicits._
    learned.toSeq.toDF("iter", "l_sym", "r_sym", "pair_count")
      .select(col("iter"), col("l_sym"), col("r_sym"),
        concat(col("l_sym"), col("r_sym")).as("merged"), col("pair_count"))
  }

  /** The oracle unrolls the SAME ${cfg.bpeNumMerges} iterations as
    * materialized CTEs: p_i counts pairs of s_{i-1}, m_i is its argmax
    * row, s_i applies m_i to s_{i-1} via the identical double-replace
    * with the merge read back through scalar subqueries (replace() is
    * literal on both engines, so no escaping concerns). If training
    * dries up early, m_i is empty, its scalar subqueries go NULL, the
    * NULL corpus yields no pairs, and every later m_j is empty too —
    * both engines emit the same short list. */
  /** The trainer's CTE chain (toks/s0, then p_i → m_i → s_i per
    * iteration), shared by the q201 oracle and q209's train-then-apply
    * oracle. */
  private def bpeTrainCtes: String = {
    val k = cfg.bpeNumMerges
    val sb = new StringBuilder
    sb ++= s"""toks AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
              |s0 AS MATERIALIZED (SELECT ' ' || regexp_replace(t, '(.)', '\\1 ', 'g') AS s FROM toks)""".stripMargin
    for (i <- 1 to k) {
      sb ++= s""",
                |p$i AS MATERIALIZED (SELECT l, r, count(*) AS c FROM (
                |    SELECT unnest(sy[1:len(sy)-1]) AS l, unnest(sy[2:len(sy)]) AS r
                |    FROM (SELECT string_split(trim(s), ' ') AS sy FROM s${i - 1}))
                |  WHERE regexp_matches(l, '^[A-Za-z0-9]+$$') AND regexp_matches(r, '^[A-Za-z0-9]+$$')
                |    AND l <> r
                |  GROUP BY 1, 2),
                |m$i AS MATERIALIZED (SELECT $i AS iter, l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
                |s$i AS MATERIALIZED (SELECT replace(replace(s,
                |    (SELECT ' '||l||' '||r||' ' FROM m$i), (SELECT ' '||l||r||' ' FROM m$i)),
                |    (SELECT ' '||l||' '||r||' ' FROM m$i), (SELECT ' '||l||r||' ' FROM m$i)) AS s
                |  FROM s${i - 1})""".stripMargin
    }
    sb.toString
  }

  def q201Sql: String = {
    val k = cfg.bpeNumMerges
    val unions = (1 to k).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
    s"""WITH $bpeTrainCtes
       |SELECT CAST(iter AS BIGINT) AS iter, l AS l_sym, r AS r_sym,
       |  l || r AS merged, CAST(c AS BIGINT) AS pair_count
       |FROM ($unions)""".stripMargin
  }

  /** q209: per-doc unit counts under the LEARNED tokenizer — q201's
    * training composed with q167's apply in ONE query: train the merge
    * list on the corpus, then count each document's subword units
    * under exactly those merges. This is the end-to-end artifact a
    * packing plan (q83) or training-cost estimate actually consumes —
    * token counts under the tokenizer you would really ship, not under
    * a hand-configured merge list. Spark side: the learned merges are
    * driver-side strings after the bounded training loop, so the apply
    * is the SAME single codegen'd scan expression as q167 (zero joins,
    * zero shuffles beyond training's own aggregates). Oracle: the
    * trainer's unrolled CTEs feed a ONE-ROW pattern table (each
    * iteration's pattern/replacement read back through scalar
    * subqueries — DuckDB lambdas cannot hold subqueries, so the row
    * cross-joins in and the lambda references its columns); a
    * dried-up iteration's NULL pattern coalesces to ' ~ ' (tilde
    * never occurs in a spaced token, so the replace is a no-op —
    * mirroring the Spark side's shorter literal chain). */
  def q209LearnedUnits(spark: SparkSession, dir: String): DataFrame = {
    val merges = q201BpeTrain(spark, dir).collect().sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    learnedUnitsApply(spark, dir, merges)
  }

  /** The apply half of q209/q210: per-doc unit counts under a given
    * merge list — q167's single codegen'd scan expression with the
    * merges as driver-side literals. */
  private def learnedUnitsApply(spark: SparkSession, dir: String,
      merges: Seq[(String, String)]): DataFrame = {
    val chain = bpeSpacedExpr(merges)
    val unitExpr = s"size(split(trim($chain), ' '))"
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        expr(s"""aggregate(transform(split(text, ' '),
                |  t -> CAST($unitExpr AS BIGINT)),
                |  CAST(0 AS BIGINT), (acc, u) -> acc + u)""".stripMargin)
          .as("n_units"))
  }

  /** Persist a trained tokenizer (q201's output schema — iter, l_sym,
    * r_sym, merged, pair_count) as a one-file parquet artifact: the
    * tokenizer analog of [[graft.operators.Similarity]]'s
    * saveIndex/loadIndex. The artifact is ≤ `bpeNumMerges` rows —
    * repartition(1) keeps it a single file whatever the session's
    * shuffle parallelism. */
  def saveTokenizer(spark: SparkSession, dir: String, path: String): Unit =
    q201BpeTrain(spark, dir).repartition(1)
      .write.mode("overwrite").parquet(path)

  /** Load a persisted tokenizer back to the (l, r) merge list in
    * training order — the driver-verified load path q210 exercises. */
  def loadTokenizer(spark: SparkSession, path: String): Seq[(String, String)] =
    mergeList(spark.read.parquet(path))

  private def mergeList(tok: DataFrame): Seq[(String, String)] =
    tok.orderBy(col("iter")).collect()
      .map(r => (r.getAs[String]("l_sym"), r.getAs[String]("r_sym"))).toSeq

  /** q210: per-doc unit counts under the PERSISTED learned tokenizer —
    * q209's composition split along the q188/q204 artifact discipline:
    * training is a build step that runs ONCE and saves its merge list
    * ([[saveTokenizer]]); the query LOADS the ≤ `bpeNumMerges`-row
    * artifact ([[loadTokenizer]]) and runs ONLY q167's apply scan. At
    * 100 TB the tokenizer trains on whatever schedule the pipeline
    * owner picks, and every downstream count/packing query pays
    * apply-only cost — one codegen'd corpus scan, zero joins, zero
    * shuffles — instead of q209's inline retrain (the suite's
    * heaviest query, ~9.5 s of training per call at sf0.1).
    *
    * The artifact is keyed by (dataset path, merge count) under the
    * shared scratch root and built HERE if absent (first-ever call
    * pays one training run; every later call — any session — loads).
    * The trainer is deterministic and the test corpora immutable, so
    * load-or-train can never diverge from retraining (spec pins
    * loaded ≡ retrained merge-for-merge, and q210's oracle is
    * q209's — the full train+apply SQL — so the driver re-verifies
    * that equivalence end-to-end every round). */
  def q210LearnedUnitsPersisted(spark: SparkSession, dir: String): DataFrame =
    learnedUnitsApply(spark, dir, persistedMerges(spark, dir))

  /** The persisted tokenizer's merge list for a dataset (the q210
    * lifecycle; q217 consumes the same artifact), keyed on the merge
    * count. */
  private[graft] def persistedMerges(spark: SparkSession, dir: String): Seq[(String, String)] =
    mergeList(Artifact.getOrBuild(spark, "bpe_tok", dir, Seq("documents.parquet"),
      s"k=${cfg.bpeNumMerges}")(saveTokenizer(spark, dir, _)))

  /** Same result as q209 by construction (loaded ≡ retrained), so the
    * oracle IS q209's train+apply SQL — the strongest available gate:
    * DuckDB retrains from scratch and must land on the identical
    * per-doc counts the persisted artifact produces. */
  def q210Sql: String = q209Sql

  /** q217: TOKENIZER COMPRESSION eval — per language, whitespace
    * tokens vs learned subword units under the persisted tokenizer
    * (the q210 artifact): the "is BPE earning its keep, and where"
    * number — a language whose units_per_ws_token stays near its
    * char count is one the learned merges never fire on (this
    * corpus's non-Latin text, since the trainer's candidates are
    * [A-Za-z0-9] runs), and that is exactly what a tokenizer owner
    * needs to SEE before shipping one tokenizer corpus-wide. Ratio =
    * one fixed double division of two exact BIGINT sums (engine-
    * agreeing); everything else is q167's single codegen'd scan plus
    * one map-combinable per-lang aggregate. Oracle retrains from
    * scratch (q209's CTE chain) and aggregates the same way. */
  def q217TokenizerEval(spark: SparkSession, dir: String): DataFrame = {
    val chain = bpeSpacedExpr(persistedMerges(spark, dir))
    val unitExpr = s"size(split(trim($chain), ' '))"
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        expr(s"""aggregate(transform(split(text, ' '),
                |  t -> CAST($unitExpr AS BIGINT)),
                |  CAST(0 AS BIGINT), (acc, u) -> acc + u)""".stripMargin).as("u"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("u")).as("units"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("units"),
        (col("units").cast("double") / col("ws_tokens").cast("double"))
          .as("units_per_ws_token"))
  }

  def q217Sql: String = {
    val k = cfg.bpeNumMerges
    val mmCols = (1 to k).map(i =>
      s"""coalesce((SELECT ' '||l||' '||r||' ' FROM m$i), ' ~ ') AS p$i,
         |    coalesce((SELECT ' '||l||r||' ' FROM m$i), ' ~ ') AS q$i""".stripMargin)
      .mkString(",\n    ")
    val chain = (1 to k).foldLeft("' ' || regexp_replace(t, '(.)', '\\1 ', 'g')") {
      (acc, i) => s"replace(replace($acc, mm.p$i, mm.q$i), mm.p$i, mm.q$i)"
    }
    s"""WITH $bpeTrainCtes,
       |mm AS (SELECT $mmCols),
       |perdoc AS (SELECT d.lang,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS ws,
       |    CAST(list_sum(list_transform(string_split(d.text, ' '),
       |      t -> len(string_split(trim($chain), ' ')))) AS BIGINT) AS u
       |  FROM documents d CROSS JOIN mm)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       |  CAST(SUM(u) AS BIGINT) AS units,
       |  CAST(CAST(SUM(u) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(ws) AS BIGINT) AS DOUBLE) AS units_per_ws_token
       |FROM perdoc GROUP BY lang""".stripMargin
  }

  def q209Sql: String = {
    val k = cfg.bpeNumMerges
    val mmCols = (1 to k).map(i =>
      s"""coalesce((SELECT ' '||l||' '||r||' ' FROM m$i), ' ~ ') AS p$i,
         |    coalesce((SELECT ' '||l||r||' ' FROM m$i), ' ~ ') AS q$i""".stripMargin)
      .mkString(",\n    ")
    val chain = (1 to k).foldLeft("' ' || regexp_replace(t, '(.)', '\\1 ', 'g')") {
      (acc, i) => s"replace(replace($acc, mm.p$i, mm.q$i), mm.p$i, mm.q$i)"
    }
    s"""WITH $bpeTrainCtes,
       |mm AS (SELECT $mmCols)
       |SELECT d.doc_id,
       |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_ws_tokens,
       |  CAST(list_sum(list_transform(string_split(d.text, ' '),
       |    t -> len(string_split(trim($chain), ' ')))) AS BIGINT) AS n_units
       |FROM documents d CROSS JOIN mm""".stripMargin
  }

  /** q221: TEXTRANK keyword extraction — corpus-level salient terms by
    * PageRank over the word CO-OCCURRENCE graph (adjacent candidate
    * tokens), the graph-centrality complement to q87's TF-IDF and
    * q155's lift: a word ranks high when it neighbors other
    * high-ranking words, which frequency and lift cannot see.
    * Candidates are ASCII letter runs (filtered BEFORE lowercasing, so
    * both engines lowercase only [A-Za-z] — locale-proof) minus the
    * stopword list; edges are DISTINCT undirected adjacencies between
    * consecutive candidates (stopwords removed first, the standard
    * TextRank windowing); ranks run on the q92/q213 shared `prLoop`
    * kernel — same fixed-point integer discipline (all-long
    * arithmetic, order-free sums, engine-exact), same
    * edge⋈rank + dst-aggregate iteration shape, same ReusedExchange /
    * checkpoint-cadence plan. Report = top ${cfg.textrankTopK} by
    * (pr, word) — a TakeOrderedAndProject over the vocab-bounded rank
    * table, never a global sort of the corpus.
    *
    * Scale: nodes/edges are VOCABULARY-bounded (distinct words /
    * distinct adjacent pairs), not corpus-bounded — the corpus is
    * scanned once to build them; each PR round is one join + one
    * map-combinable aggregate on the word graph. */
  def q221Textrank(spark: SparkSession, dir: String): DataFrame = {
    val an = new AnalyticsOps(cfg)
    val cand = Tables.documents(spark, dir)
      .select(expr(
        s"""filter(transform(filter(split(text, ' '),
           |    w -> w rlike '^[A-Za-z]+$$'), w -> lower(w)),
           |  w -> NOT w IN $stopList)""".stripMargin).as("ws"))
    val pairs = cand.filter(size(col("ws")) >= 2)
      .withColumn("g", explode(sequence(lit(1), size(col("ws")) - 1)))
      .select(element_at(col("ws"), col("g")).as("w1"),
        element_at(col("ws"), col("g") + 1).as("w2"))
      .filter(col("w1") =!= col("w2"))
    val und = pairs.select(least(col("w1"), col("w2")).as("a"),
      greatest(col("w1"), col("w2")).as("b")).distinct()
    val e = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    val words = cand.select(explode(col("ws")).as("node")).distinct()
    val base = lit(15L * an.PrScale / 100)
    an.prLoop(words, e, _ => base, _ => lit(an.PrScale))
      .orderBy(col("pr").desc, col("node"))
      .limit(cfg.textrankTopK)
      .select(col("node").as("word"), col("pr"))
  }

  def q221Sql: String = {
    val an = new AnalyticsOps(cfg)
    val iters = (1 to an.PrIters).map { i =>
      s"""c$i AS (SELECT eo.dst AS node, CAST(SUM(r${i - 1}.pr // eo.od) AS BIGINT) AS s
         |  FROM eo JOIN r${i - 1} ON r${i - 1}.node = eo.src GROUP BY 1),
         |r$i AS (SELECT w.node,
         |    (15 * ${an.PrScale}) // 100 + (85 * COALESCE(c$i.s, 0)) // 100 AS pr
         |  FROM words w LEFT JOIN c$i USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH cand AS (SELECT list_filter(list_transform(
       |    list_filter(string_split(text, ' '),
       |      w -> regexp_full_match(w, '[A-Za-z]+')), w -> lower(w)),
       |    w -> w NOT IN $stopList) AS ws FROM documents),
       |pairs AS (SELECT ws[g] AS w1, ws[g+1] AS w2 FROM cand,
       |    LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS g) t
       |  WHERE len(ws) >= 2 AND ws[g] <> ws[g+1]),
       |und AS (SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b FROM pairs),
       |edges AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
       |od AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
       |eo AS (SELECT e.src, e.dst, od.od FROM edges e JOIN od USING (src)),
       |words AS (SELECT DISTINCT node FROM (SELECT unnest(ws) AS node FROM cand)),
       |r0 AS (SELECT node, CAST(${an.PrScale} AS BIGINT) AS pr FROM words),
       |$iters
       |SELECT node AS word, pr FROM r${an.PrIters}
       |ORDER BY pr DESC, node LIMIT ${cfg.textrankTopK}""".stripMargin
  }
}

/** Default-configured instance (see [[graft.GraftConfig]]). */
object TextAnalysis extends TextAnalysisOps(GraftConfig.default)

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftConfig
import graft.sources.Tables

/** Sequence / k-mer operators — CloudBrush's preprocess + error-correction
  * phases generalized from genomic reads to any text corpus.
  *
  * Reference semantics: CountKmer (CountKmer.java:40-120) shards reads into
  * fixed-length k-mers and counts them; BuildHighKmerList
  * (BuildHighKmerList.java:44-150) keeps k-mers above a frequency cutoff;
  * KmerStatus (KmerStatus.java) histograms frequencies; RedundantRemoval
  * (RedundantRemoval.java:47-150) collapses identical reads to one node
  * with summed coverage; GenNonContainedReads
  * (GenNonContainedReads.java:43-210) drops reads that are substrings of
  * longer reads; KmerFrequencyOfReads / IdentifyTrustedReads
  * (IdentifyTrustedReads.java) classify a read by the frequencies of its
  * k-mers.
  *
  * Spark shape: k-mer extraction is `explode(sequence(...))` +
  * codegen'd `substring` feeding a hash aggregate — partial (map-side)
  * aggregation shrinks the shuffle to distinct-kmers-per-partition, so the
  * explode's ×(len−k+1) row blow-up never crosses the network unaggregated.
  * That is exactly the scalable shape at 100 TB: no driver state, no
  * all-pairs work, shuffle keyed by kmer/doc_id only.
  */
class SequenceOps(val cfg: GraftConfig) {
  val K: Int = cfg.k
  val HighFreq: Int = cfg.highFreq
  val TrustMinFreq: Int = 2
  val ContainPrefixLen: Int = 16
  // correction votes [PreCorrect]: a substitution is voted only when
  // the corrected k-mer reaches this global frequency
  val VoteStrongFreq: Int = 3
  val DedupKeyWords: Int = cfg.dedupKeyWords

  /** (doc_id, kmer) — one row per k-mer occurrence. Docs shorter than k
    * are filtered BEFORE the explode: sequence(1, stop) flips to step -1
    * when stop < 1 and would emit phantom descending positions, where the
    * oracle's generate_series is simply empty. */
  def kmers(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= k)
      .withColumn("g", explode(sequence(lit(1), length(col("text")) - (k - 1))))
      .select(col("doc_id"), expr(s"substring(text, g, $k)").as("kmer"))

  /** (doc_id, kmer, c, f): per-doc k-mer occurrence count c + global
    * frequency f. The 100 TB shape for every per-doc frequency statistic:
    * one explode feeds a (doc_id,kmer) hash aggregate (map-side
    * combinable, so the ×(len−k+1) blow-up never crosses the network
    * unaggregated), the global freq table derives from it with a second
    * map-side-combinable agg, and the two meet in a shuffle join on kmer
    * that AQE skew-splitting can cut — unlike the former
    * Window.partitionBy(kmer), which pinned every occurrence of a hot
    * k-mer into a single unsplittable window partition. */
  private def docKmerFreq(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = kmers(spark, dir).groupBy("doc_id", "kmer").agg(count(lit(1)).as("c"))
    val freq = perDoc.groupBy("kmer").agg(sum(col("c")).as("f"))
    // SHUFFLE_HASH with freq as build side: both sides are already
    // kmer-partitioned by their aggregates, each task hashes only its
    // slice of the (smaller, aggregated) freq table and streams perDoc
    // through it — no sort, no broadcast. Left free, AQE broadcast-built
    // the 1.35M-row perDoc side (its shuffle bytes sat under the 64 MB
    // threshold) and doubled the query; forcing the aggregated side as
    // build is also the right call at 100 TB, where per-partition freq
    // slices stay bounded by distinct-kmer count and AQE skew-split
    // still applies to SHJ. (Round-6 verdict item 4: q9_tag 2× chase.)
    perDoc.join(freq.hint("shuffle_hash"), "kmer")
  }

  /** q10: k-mer frequency table (freq ≥ 2 to keep the result compact). */
  def q10KmerCount(spark: SparkSession, dir: String): DataFrame =
    kmers(spark, dir).groupBy("kmer").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= 2)

  private def kmerExplodeSql: String =
    s"""SELECT d.doc_id, substr(d.text, g, $K) AS kmer
       |FROM documents d, LATERAL (SELECT unnest(generate_series(1, len(d.text)-${K - 1})) AS g) t""".stripMargin

  def q10Sql: String =
    s"""SELECT kmer, count(*) AS freq FROM ($kmerExplodeSql)
       |GROUP BY kmer HAVING count(*) >= 2""".stripMargin

  /** q11: high-frequency k-mer list [BuildHighKmerList]. At scale this
    * output is small and gets broadcast to downstream stages. */
  def q11HighKmers(spark: SparkSession, dir: String): DataFrame =
    kmers(spark, dir).groupBy("kmer").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= HighFreq)

  def q11Sql: String =
    s"""SELECT kmer, count(*) AS freq FROM ($kmerExplodeSql)
       |GROUP BY kmer HAVING count(*) >= $HighFreq""".stripMargin

  /** q12: k-mer frequency histogram [KmerStatus] — two-level aggregation,
    * both levels map-side combinable. */
  def q12KmerStats(spark: SparkSession, dir: String): DataFrame =
    kmers(spark, dir).groupBy("kmer").agg(count(lit(1)).as("freq"))
      .groupBy("freq").agg(count(lit(1)).as("n_kmers"))

  def q12Sql: String =
    s"""SELECT freq, count(*) AS n_kmers FROM (
       |  SELECT kmer, count(*) AS freq FROM ($kmerExplodeSql) GROUP BY kmer)
       |GROUP BY freq""".stripMargin

  /** q13: duplicate collapse on a normalized content key (first
    * $DedupKeyWords words) [RedundantRemoval — identical reads collapse to
    * a canonical node; the key generalizes "identical" to "same normalized
    * prefix"]. Output: every doc mapped to its canonical doc and the
    * group's coverage, CloudBrush's read-multiplicity analogue. */
  def q13DedupExact(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, DedupKeyWords), " ").as("ckey"))
    keyed.groupBy("ckey")
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("coverage"))
      .join(keyed, "ckey")
      .select(col("doc_id"), col("canonical_id"), col("coverage"),
              (col("doc_id") =!= col("canonical_id")).as("is_dup"))
  }

  def q13Sql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id, array_to_string(string_split(text, ' ')[:$DedupKeyWords], ' ') AS ckey
       |  FROM documents),
       |groups AS (
       |  SELECT ckey, min(doc_id) AS canonical_id, count(*) AS coverage
       |  FROM keyed GROUP BY ckey)
       |SELECT doc_id, canonical_id, coverage, doc_id <> canonical_id AS is_dup
       |FROM keyed JOIN groups USING (ckey)""".stripMargin

  /** q14: containment dedup [GenNonContainedReads] — keep docs that are
    * NOT substrings of any other doc.
    *
    * Scale shape: instead of the O(n²) contains() cross join, key each
    * candidate containee by its first-16-char prefix and equi-join against
    * the container k-mer set (a contained string's prefix must appear as
    * some k-mer of its container — CloudBrush's MatchPrefix trick,
    * MatchPrefix.java:60-200). Only the few kmer-colliding pairs reach the
    * contains() verify. */
  def q14NonContained(spark: SparkSession, dir: String): DataFrame = {
    val pk = ContainPrefixLen
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("n_chars"))
    // candidate generation stays skinny: only (id, key) pairs flow through
    // the explode and the join; texts are re-attached for the few
    // candidates that survive, so no 300-char strings ride the wide shuffle
    val containerKmers = docs
      .filter(length(col("text")) >= pk)
      .withColumn("g", explode(sequence(lit(1), length(col("text")) - (pk - 1))))
      .select(col("doc_id").as("b_id"), expr(s"substring(text, g, $pk)").as("key"))
    val containees = docs.filter(col("n_chars") >= pk)
      .select(col("doc_id").as("a_id"), expr(s"substring(text, 1, $pk)").as("key"))
    // docs shorter than pk can't be keyed by a pk-char prefix — their full
    // text is the key, matched against container windows of exactly their
    // length. The distinct short-length set is broadcast and STRUCTURALLY
    // bounded: every slen is in [1, pk-1], so even an adversarial corpus
    // yields at most pk-1 = ${pk - 1} distinct lengths and the window
    // explode is ≤ (pk-1)·Σ|text| rows — a fixed linear factor, never
    // corpus-size × unbounded-lengths. With no short docs both sides are
    // empty and this path is free.
    val shortDocs = docs.filter(col("n_chars") < pk && col("n_chars") >= 1)
    val shortLens = shortDocs.select(col("n_chars").as("slen")).distinct()
    val shortWindows = docs.crossJoin(broadcast(shortLens))
      .filter(length(col("text")) >= col("slen"))
      .withColumn("g", explode(sequence(lit(1), length(col("text")) - col("slen") + 1)))
      .select(col("doc_id").as("b_id"), expr("substring(text, g, slen)").as("key"))
    val shortContainees = shortDocs.select(col("doc_id").as("a_id"), col("text").as("key"))
    val cand = containees.join(containerKmers, "key")
      .unionAll(shortContainees.join(shortWindows, "key"))
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id").distinct()
    val containedIds = cand
      .join(docs.select(col("doc_id").as("a_id"), col("text").as("a_text")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("text").as("b_text")), "b_id")
      .filter(col("b_text").contains(col("a_text")))
      .filter(length(col("b_text")) > length(col("a_text")) ||
              (length(col("b_text")) === length(col("a_text")) && col("b_id") < col("a_id")))
      .select(col("a_id")).distinct()
    docs.join(containedIds, docs("doc_id") === containedIds("a_id"), "left_anti")
      .select("doc_id", "n_chars")
  }

  def q14Sql: String =
    """SELECT doc_id, n_chars FROM documents a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM documents b
      |  WHERE b.doc_id <> a.doc_id AND contains(b.text, a.text)
      |    AND (len(b.text) > len(a.text)
      |         OR (len(b.text) = len(a.text) AND b.doc_id < a.doc_id)))""".stripMargin

  /** q15: per-doc k-mer frequency profile [KmerFrequencyOfReads]. The
    * global freq table is re-joined to the per-doc k-mers; at 100 TB the
    * high-freq end of that table is tiny relative to the corpus and the
    * join shuffles on kmer, never materializing pairs. */
  def q15KmerReadFreq(spark: SparkSession, dir: String): DataFrame =
    // occurrence-level stats recovered exactly from the (doc,kmer,c,f)
    // profile: Σ_occurrences f = Σ_kmers f·c, n_occurrences = Σ c — all
    // exact integer arithmetic, so hashes match the occurrence-level oracle
    docKmerFreq(spark, dir)
      .groupBy("doc_id")
      .agg(min(col("f")).as("min_freq"), max(col("f")).as("max_freq"),
           sum(col("c")).as("n_kmers"),
           (sum(col("f") * col("c")).cast("double") / sum(col("c"))).as("avg_freq"))

  def q15Sql: String =
    s"""WITH km AS ($kmerExplodeSql),
       |freq AS (SELECT kmer, count(*) AS f FROM km GROUP BY kmer)
       |SELECT km.doc_id, min(f) AS min_freq, max(f) AS max_freq,
       |  count(*) AS n_kmers, CAST(SUM(f) AS DOUBLE)/count(*) AS avg_freq
       |FROM km JOIN freq USING (kmer) GROUP BY km.doc_id""".stripMargin

  /** q9_tag: every doc tagged with its trust status
    * [TagTrustedReads.java — joins the trusted-read list back onto the
    * full read set]. */
  def q9TagTrusted(spark: SparkSession, dir: String): DataFrame = {
    val trusted = q16Trusted(spark, dir).select(col("doc_id"), lit(true).as("t"))
    Tables.documents(spark, dir).select("doc_id", "lang", "source")
      .join(trusted, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("t"), lit(false)).as("trusted"))
  }

  def q9TagSql: String =
    s"""WITH km AS ($kmerExplodeSql),
       |freq AS (SELECT kmer, count(*) AS f FROM km GROUP BY kmer),
       |tr AS (SELECT km.doc_id FROM km JOIN freq USING (kmer)
       |  GROUP BY km.doc_id HAVING min(f) >= $TrustMinFreq)
       |SELECT d.doc_id, d.lang, d.source,
       |  EXISTS (SELECT 1 FROM tr WHERE tr.doc_id = d.doc_id) AS trusted
       |FROM documents d""".stripMargin

  /** q9_precorrect: correction candidates [PreCorrect.java — votes on
    * positions covered only by weak k-mers]: per doc, how many of its
    * k-mers are singletons (freq 1) and the weak ratio. */
  def q9PreCorrect(spark: SparkSession, dir: String): DataFrame =
    docKmerFreq(spark, dir)
      .groupBy("doc_id")
      .agg(sum(when(col("f") === 1, col("c")).otherwise(0L)).as("n_weak"),
           sum(col("c")).as("n_kmers"))
      .select(col("doc_id"), col("n_weak"),
        (col("n_weak").cast("double") / col("n_kmers")).as("weak_ratio"))

  def q9PreCorrectSql: String =
    s"""WITH km AS ($kmerExplodeSql),
       |freq AS (SELECT kmer, count(*) AS f FROM km GROUP BY kmer)
       |SELECT km.doc_id,
       |  CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_weak,
       |  CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS weak_ratio
       |FROM km JOIN freq USING (kmer) GROUP BY km.doc_id""".stripMargin

  /** q59: per-position correction VOTES [PreCorrect.java:93-230 — the
    * reducer accumulates per-position base votes from the k-mers covering
    * each read position and emits corrections where the evidence is
    * unambiguous]. A weak (frequency-1) k-mer occurrence votes to replace
    * the char at window offset i when substituting exactly that char
    * yields a k-mer with global frequency ≥ $VoteStrongFreq; a position
    * is emitted only when ALL its votes agree on one replacement char.
    * Votes are a table, never an in-place text mutation — exactly the
    * reference's message shape.
    *
    * Scale shape: candidate substitutions come from the pigeonhole mask
    * join (the q45 trick at char granularity): wildcard each of the k
    * offsets once, equi-join weak-occurrence masks against strong-k-mer
    * masks on (offset, mask) — k skinny equi-joins' worth of work in one
    * shuffle, never |alphabet|×k probe lookups nor any all-pairs scan.
    * Frequencies follow the q9_tag discipline (SURVEY §4: never
    * Window.partitionBy(kmer) — an unordered unbounded window buffers a
    * viral gram's every occurrence on ONE task and AQE cannot split a
    * window partition): a map-combinable groupBy(kmer) count, the strong
    * list read straight off that aggregate (no join at all), and the
    * weak occurrences recovered by re-joining the corpus table against
    * only the f=1 keys — an AQE-skew-splittable SHUFFLE_HASH join whose
    * build side holds one row per singleton kmer. */
  def q59CorrectionVotes(spark: SparkSession, dir: String): DataFrame = {
    val k = K
    val km = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= k)
      .withColumn("g", explode(sequence(lit(1), length(col("text")) - (k - 1))))
      .select(col("doc_id"), col("g"), expr(s"substring(text, g, $k)").as("kmer"))
    val freq = km.groupBy("kmer").agg(count(lit(1)).as("f"))
    val weak = km.join(freq.filter(col("f") === 1).hint("shuffle_hash"), "kmer")
    val strong = freq.filter(col("f") >= VoteStrongFreq).select("kmer")
    val wa = weak
      .withColumn("mi", explode(sequence(lit(1), lit(k))))
      .select(col("doc_id"), (col("g") + col("mi") - 1).cast("long").as("pos"), col("mi"),
        expr(s"concat(substring(kmer, 1, mi - 1), substring(kmer, mi + 1, $k - mi))").as("mk"),
        expr("substring(kmer, mi, 1)").as("from_char"))
    val sa = strong
      .withColumn("mi", explode(sequence(lit(1), lit(k))))
      .select(col("mi"),
        expr(s"concat(substring(kmer, 1, mi - 1), substring(kmer, mi + 1, $k - mi))").as("mk"),
        expr("substring(kmer, mi, 1)").as("to_char"))
    wa.join(sa, Seq("mi", "mk"))
      .filter(col("from_char") =!= col("to_char"))
      .groupBy("doc_id", "pos", "from_char")
      .agg(countDistinct(col("to_char")).as("n_alts"),
           min(col("to_char")).as("to_char"),
           count(lit(1)).as("n_votes"))
      .filter(col("n_alts") === 1)
      .select("doc_id", "pos", "from_char", "to_char", "n_votes")
  }

  /** Shared q59/q310 oracle preamble ending at `v(doc_id, pos,
    * from_char, to_char)` — every per-position correction vote. */
  private def voteCtes: String =
    s"""km AS MATERIALIZED ($kmerExplodeSqlPos),
       |freq AS (SELECT kmer, count(*) AS f FROM km GROUP BY kmer),
       |weak AS (SELECT km.doc_id, km.g, km.kmer FROM km
       |  JOIN freq USING (kmer) WHERE f = 1),
       |strong AS (SELECT kmer FROM freq WHERE f >= ${VoteStrongFreq}),
       |wa AS (SELECT doc_id, CAST(g + i - 1 AS BIGINT) AS pos, i AS mi,
       |    substr(kmer, 1, i - 1) || substr(kmer, i + 1, $K - i) AS mk,
       |    substr(kmer, i, 1) AS from_char
       |  FROM weak, LATERAL (SELECT unnest(generate_series(1, $K)) AS i) t),
       |sa AS (SELECT i AS mi,
       |    substr(kmer, 1, i - 1) || substr(kmer, i + 1, $K - i) AS mk,
       |    substr(kmer, i, 1) AS to_char
       |  FROM strong, LATERAL (SELECT unnest(generate_series(1, $K)) AS i) t),
       |v AS (SELECT wa.doc_id, wa.pos, wa.from_char, sa.to_char
       |  FROM wa JOIN sa ON wa.mi = sa.mi AND wa.mk = sa.mk
       |  WHERE wa.from_char <> sa.to_char)""".stripMargin

  def q59Sql: String =
    s"""WITH $voteCtes
       |SELECT doc_id, pos, from_char, min(to_char) AS to_char, count(*) AS n_votes
       |FROM v GROUP BY doc_id, pos, from_char
       |HAVING count(DISTINCT to_char) = 1""".stripMargin

  /** q310: CORRECTION APPLY — the transform consumer of the correction
    * family: q59's agreeing votes FOLD INTO rewritten document text,
    * producing the corrected corpus a curation pipeline actually wants
    * (the reference stops at PreCorrect's message-shaped votes —
    * PreCorrect.java:189-215 emits (id, pos, base) messages and
    * BrushAssembler never chains an applier; Graft ships the apply).
    * Divergence, documented: the reference guards application with a
    * minority-dissent threshold on the vote tally; q59's vote table is
    * STRICTER — a position is emitted only when ALL its votes agree on
    * one replacement char (n_alts = 1) — so every emitted vote is
    * unanimous and the guard is subsumed. Corrections are
    * length-preserving single-char substitutions at distinct
    * positions, so the fold is order-independent; it still applies in
    * sorted position order for determinism.
    *
    * Scale: the vote table is weak-position-sparse (≪ corpus chars);
    * one groupBy(doc_id) packs each doc's votes into a bounded array,
    * the corpus join is a plain equi-join on doc_id (AQE broadcasts
    * the vote side when small), and the apply itself is a row-local
    * codegen'd `aggregate` HOF over the packed votes — no per-char
    * explode of the corpus, no shuffle beyond the one join. */
  def q310CorrectionApply(spark: SparkSession, dir: String): DataFrame = {
    val votes = q59CorrectionVotes(spark, dir)
      .groupBy("doc_id")
      .agg(expr("array_sort(collect_list(struct(pos, to_char)))").as("vs"))
    Tables.documents(spark, dir).select("doc_id", "text")
      .join(votes, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("vs").isNull, lit(0L))
          .otherwise(size(col("vs")).cast("long")).as("n_corrections"),
        when(col("vs").isNull, col("text")).otherwise(expr(
          """aggregate(vs, text, (acc, vt) ->
            |  concat(substring(acc, 1, CAST(vt.pos AS INT) - 1), vt.to_char,
            |    substring(acc, CAST(vt.pos AS INT) + 1, length(acc))))""".stripMargin))
          .as("corrected"))
  }

  def q310Sql: String =
    s"""WITH $voteCtes,
       |votes AS (SELECT doc_id, pos, min(to_char) AS to_char
       |  FROM v GROUP BY doc_id, pos, from_char
       |  HAVING count(DISTINCT to_char) = 1),
       |chars AS (SELECT d.doc_id, i, substr(d.text, i, 1) AS ch
       |  FROM documents d,
       |    LATERAL (SELECT unnest(generate_series(1, len(d.text))) AS i) t),
       |corr AS (SELECT c.doc_id,
       |    string_agg(coalesce(vt.to_char, c.ch), '' ORDER BY c.i) AS corrected,
       |    CAST(count(vt.to_char) AS BIGINT) AS n_corrections
       |  FROM chars c LEFT JOIN votes vt
       |    ON vt.doc_id = c.doc_id AND vt.pos = c.i
       |  GROUP BY c.doc_id)
       |SELECT d.doc_id, coalesce(co.n_corrections, 0) AS n_corrections,
       |  coalesce(co.corrected, d.text) AS corrected
       |FROM documents d LEFT JOIN corr co ON co.doc_id = d.doc_id""".stripMargin

  private def kmerExplodeSqlPos: String =
    s"""SELECT d.doc_id, g, substr(d.text, g, $K) AS kmer
       |FROM documents d, LATERAL (SELECT unnest(generate_series(1, len(d.text)-${K - 1})) AS g) t""".stripMargin

  /** q16: trusted docs — all k-mers at or above the trust threshold
    * [IdentifyTrustedReads]. */
  def q16Trusted(spark: SparkSession, dir: String): DataFrame =
    docKmerFreq(spark, dir)
      .groupBy("doc_id").agg(min(col("f")).as("min_freq"))
      .filter(col("min_freq") >= TrustMinFreq)
      .select("doc_id", "min_freq")

  def q16Sql: String =
    s"""WITH km AS ($kmerExplodeSql),
       |freq AS (SELECT kmer, count(*) AS f FROM km GROUP BY kmer)
       |SELECT km.doc_id, min(f) AS min_freq
       |FROM km JOIN freq USING (kmer) GROUP BY km.doc_id
       |HAVING min(f) >= $TrustMinFreq""".stripMargin
}

/** Default-configured instance (see [[graft.GraftConfig]]). */
object Sequence extends SequenceOps(GraftConfig.default)

package graft

import graft.operators.{Curation, CurationOps}
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

/** Curation operators (q67-q71): semantics on hand-built corpora plus
  * plan-shape checks for the scale-critical pieces. */
class CurationSpec extends GraftSpec {
  import spark.implicits._

  private val ops = new CurationOps(GraftConfig(
    contamNgramWords = 2, contamMaxTrainDf = 2,
    vocabTopK = 3, bigramMinCount = 1))

  private def docs(rows: (Long, String)*) = {
    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q67: eval docs report shared-ngram and train-doc counts; boilerplate df-capped") {
    // docs 8, 9 are eval (mod 10 ≥ 8). "a b" appears in train docs 0,1
    // (df=2, kept → doc 8 reports it); "x y" appears in train docs
    // 2,3,4 (df=3 > cap 2 → dropped as boilerplate, so eval doc 9,
    // whose only shared n-gram it is, reports nothing).
    val dir = docs(
      0L -> "a b c", 1L -> "a b d", 2L -> "x y",
      3L -> "x y", 4L -> "x y",
      8L -> "a b e", 9L -> "x y")
    val got = ops.q67Contamination(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((8L, 1L, 2L))) // doc 8 shares "a b" with train docs 0 and 1
  }

  test("q68: md5 split is deterministic and covers every doc exactly once") {
    val dir = docs((0L until 40L).map(i => i -> s"tok$i words here"): _*)
    val rows = ops.q68SplitStats(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum == 40L) // n_docs partitions the corpus
    val again = ops.q68SplitStats(spark, dir).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet ==
      again.map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("q69: top-k vocabulary with total tie order, partial-top-k plan") {
    val dir = docs(0L -> "b a a c b a", 1L -> "c d")
    val got = ops.q69Vocab(spark, dir).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a", 3L), ("b", 2L), ("c", 2L))) // ties: token asc
    // scale shape: global top-k must be TakeOrderedAndProject (per-
    // partition top-k), never a full Sort + GlobalLimit of the vocab
    val plan = ops.q69Vocab(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q71: bigram conditional probabilities sum to 1 per w1 (pre-threshold)") {
    val noMin = new CurationOps(GraftConfig(bigramMinCount = 1))
    val dir = docs(0L -> "a b", 1L -> "a c", 2L -> "a b")
    val got = noMin.q71BigramLm(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(got(("a", "b")) == ((2L, 2.0 / 3.0)))
    assert(got(("a", "c")) == ((1L, 1.0 / 3.0)))
  }

  test("q73: shingle_stats repetition fractions match hand counts") {
    val rep = new CurationOps(GraftConfig(repShingleK = 2, repMaxFrac = 0.5))
    // "aaaa": 2-grams aa,aa,aa → windows=3, distinct=1, max=3, frac=1.0
    // "abcd": ab,bc,cd → windows=3, distinct=3, max=1, frac=1/3
    val dir = docs(0L -> "aaaa", 1L -> "abcd")
    val got = rep.q73Repetition(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))).toMap
    assert(got(0L) == ((3L, 1L, 3L, 1.0, true)))
    assert(got(1L) == ((3L, 3L, 1L, 1.0 / 3.0, false)))
  }

  test("q74: eval docs sharing the q13 content key with train are reported") {
    val leak = new CurationOps(GraftConfig(dedupKeyWords = 2))
    // key = first 2 words. eval doc 9 shares "a b" with train docs 0,1;
    // eval doc 8's key "z z" has no train match.
    val dir = docs(0L -> "a b c", 1L -> "a b d", 2L -> "q r",
      8L -> "z z", 9L -> "a b x")
    val got = leak.q74CrossLeakage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((9L, 2L)))
  }

  test("q75: deterministic sample is content-stable and subset-consistent") {
    val dir = docs((0L until 60L).map(i => i -> s"text number $i"): _*)
    val s1 = Curation.q75Sample(spark, dir).collect().map(_.getLong(0)).toSet
    val s2 = Curation.q75Sample(spark, dir).collect().map(_.getLong(0)).toSet
    assert(s1 == s2 && s1.nonEmpty && s1.size < 60)
    // shard-stability: sampling half the corpus yields exactly the
    // sample's intersection with that half (membership is per-row)
    val halfDir = docs((0L until 30L).map(i => i -> s"text number $i"): _*)
    val sHalf = Curation.q75Sample(spark, halfDir).collect().map(_.getLong(0)).toSet
    assert(sHalf == s1.filter(_ < 30L))
  }

  test("q67/q73/q74 agree with naive references on random corpora") {
    val rnd = new scala.util.Random(37)
    val vocab = Vector("a", "b", "c", "d", "e")
    def randDoc(): String =
      Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val repOps = new CurationOps(GraftConfig(repShingleK = 3))
    for (_ <- 1 to 3) {
      val corpus = (0L until 30L).map(i => i -> randDoc())
      val dir = docs(corpus: _*)
      // q67 naive (2-word ngrams, df cap 2, eval = id%10>=8)
      def ngrams(t: String) = t.split(" ").sliding(2).map(_.mkString(" ")).toSet
      val byDoc = corpus.toMap.map { case (id, t) => id -> ngrams(t) }
      val (ev, tr) = byDoc.partition { case (id, _) => id % 10 >= 8 }
      val df = tr.toSeq.flatMap(_._2.toSeq).groupBy(identity).map { case (s, o) => s -> o.size }
      val kept = df.filter(_._2 <= 2).keySet
      val want67 = ev.map { case (id, ss) =>
        val shared = ss intersect kept
        val trainDocs = tr.filter(_._2.exists(shared)).keySet
        (id, shared.size.toLong, trainDocs.size.toLong)
      }.filter(_._2 > 0).toSet
      val got67 = ops.q67Contamination(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got67 == want67, s"q67 corpus=$corpus")
      // q73 naive (char 3-grams)
      val got73 = repOps.q73Repetition(spark, dir).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      corpus.filter(_._2.length >= 3).foreach { case (id, t) =>
        val ws = t.sliding(3).toSeq
        val freq = ws.groupBy(identity).map(_._2.size)
        assert(got73(id) == ((ws.size.toLong, freq.size.toLong, freq.max.toLong)),
          s"q73 doc=$id text=$t")
      }
      // q74 naive (key = first 4 words by default cfg)
      val key = (t: String) => t.split(" ").take(4).mkString(" ")
      val trKeys = tr.keys.map(id => key(corpus.toMap.apply(id))).toSeq
        .groupBy(identity).map { case (k, o) => k -> o.size.toLong }
      val want74 = ev.keys.flatMap(id => trKeys.get(key(corpus.toMap.apply(id))).map(id -> _)).toSet
      val got74 = Curation.q74CrossLeakage(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got74 == want74, s"q74 corpus=$corpus")
    }
  }

  test("curation family is total on an empty corpus (no crashes, empty results)") {
    val dir = java.nio.file.Files.createTempDirectory("curation-empty").toString
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Curation.q67Contamination(spark, dir).count() == 0)
    assert(Curation.q68SplitStats(spark, dir).count() == 0)
    assert(Curation.q69Vocab(spark, dir).count() == 0)
    assert(Curation.q71BigramLm(spark, dir).count() == 0)
    assert(Curation.q73Repetition(spark, dir).count() == 0)
    assert(Curation.q74CrossLeakage(spark, dir).count() == 0)
    assert(Curation.q75Sample(spark, dir).count() == 0)
    assert(Curation.q78Features(spark, dir).count() == 0)
  }

  test("round-8 text/curation/graph additions are total on an empty corpus") {
    val dir = java.nio.file.Files.createTempDirectory("r8-empty").toString
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Curation.q154LmScore(spark, dir).count() == 0)
    assert(Curation.q163SplitDrift(spark, dir).count() == 0)
    assert(Curation.q168DupMatrix(spark, dir).count() == 0)
    assert(Curation.q176CuratePipeline(spark, dir).count() == 0)
    assert(Curation.q180PackEval(spark, dir).count() == 0)
    assert(graft.operators.TextAnalysis.q155Collocations(spark, dir).count() == 0)
    assert(graft.operators.TextAnalysis.q158SpanScrub(spark, dir).count() == 0)
    assert(graft.operators.TextAnalysis.q167BpeUnits(spark, dir).count() == 0)
    assert(graft.operators.TextAnalysis.q171LangidConfusion(spark, dir).count() == 0)
    assert(graft.operators.Analytics.q160GroupedMad(spark, dir).count() == 0)
    assert(graft.operators.GraphOps.q159Kcore(spark, dir).count() == 0)
    assert(graft.operators.GraphOps.q170BfsHops(spark, dir).count() == 0)
    // q169 emits its one summary row with null stats on an absent pair
    val ks = Curation.q169KsTest(spark, dir).collect()
    assert(ks.length == 1 && ks.head.isNullAt(2))
  }

  test("q80 LM coverage: fractions bounded, known never exceeds total") {
    val df = Curation.q80LmCoverage(spark, sf)
    assert(df.count() > 0)
    assert(df.filter(col("n_known") > col("n_bigrams")).count() == 0)
    assert(df.filter(col("known_frac") < 0 || col("known_frac") > 1).count() == 0)
  }

  test("q81 stratified sample: per-language cap respected, ranks dense, deterministic") {
    val df = Curation.q81StratifiedSample(spark, sf)
    val cap = Curation.StratifiedCap
    val perLang = df.groupBy("lang").agg(count(lit(1)).as("n"), max(col("rk")).as("mx"))
    assert(perLang.filter(col("n") > cap).count() == 0)
    // ranks are exactly 1..n within each language (dense, no gaps)
    assert(perLang.filter(col("mx") =!= col("n")).count() == 0)
    val again = Curation.q81StratifiedSample(spark, sf)
    assert(df.exceptAll(again).isEmpty && again.exceptAll(df).isEmpty)
  }

  test("q70: stream-static enrichment equals the batch join on sf0.001") {
    val streamed = EventStream.q70StreamEnrich(spark, sf)
      .select("nation", "event_type", "n_events", "total_value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val events = graft.sources.Tables.events(spark, sf)
    val dim = graft.sources.Tables.customer(spark, sf)
      .join(graft.sources.Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
    val expect = events.join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("n_name").as("nation"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(25,6)")).cast("double").as("total_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == expect && streamed.nonEmpty)
  }

  // ---- q103-q105: mixture / per-source top-k / length bins ----

  private def docsLangSource(rows: (Long, String, String, String)*) = {
    val dir = java.nio.file.Files.createTempDirectory("curation2").toString
    rows.toSeq.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q103: fraction 0 drops the whole language, 1 keeps it, unlisted defaults to keep") {
    val mops = new CurationOps(GraftConfig(
      mixtureFracs = Map("aa" -> 0.0, "bb" -> 1.0)))
    val dir = docsLangSource(
      (0L, "x", "aa", "s"), (1L, "y", "aa", "s"),
      (2L, "z", "bb", "s"), (3L, "w", "cc", "s"))
    val kept = mops.q103Mixture(spark, dir).collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("q103: sampling is deterministic and a subset of the stratum") {
    val mops = new CurationOps(GraftConfig(mixtureFracs = Map("en" -> 0.4)))
    val dir = docsLangSource((0L until 60L).map(i => (i, s"t$i", "en", "s")): _*)
    val a = mops.q103Mixture(spark, dir).collect().map(_.getLong(0)).toSet
    val b = mops.q103Mixture(spark, dir).collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty && a.size < 60)
  }

  test("q104: salted two-stage top-k equals the single-window form") {
    // exactness of the salt decomposition: stage 1 can only drop a doc
    // if K better docs exist in its OWN salt class, which implies K
    // better docs in its source — so salt=4 must equal salt=1 (whose
    // stage 1 is the plain per-source window).
    val rows = (0L until 50L).map(i =>
      (i, ("tok " * (1 + (i * 7 % 13).toInt)).trim, "en", s"src${i % 3}"))
    val dir = docsLangSource(rows: _*)
    def run(salt: Int) = new CurationOps(GraftConfig(
        sourceTopK = 4, sourceTopKSalt = salt))
      .q104SourceTopk(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(4) == run(1) && run(4).size == 12)
  }

  test("q121: first failing rule wins in fixed order; keep iff no rule fires") {
    val kd = new CurationOps(GraftConfig(
      keepMinTokens = 3, keepAllowedLangs = Seq("en"), keepMinTtr = 0.5))
    val dir = docsLangSource(
      (0L, "a b", "en", "s"),       // too_short
      (1L, "a b", "de", "s"),       // too_short AND wrong_lang → too_short
      (2L, "x y z w", "de", "s"),   // wrong_lang
      (3L, "a a a b", "en", "s"),   // ttr 0.5, not < 0.5 → keep
      (4L, "a a a a", "en", "s"))   // ttr 0.25 → repetitious
    val out = kd.q121KeepDrop(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(3), Option(r.getString(4)))).toMap
    assert(out(0L) == ((false, Some("too_short"))))
    assert(out(1L) == ((false, Some("too_short"))))
    assert(out(2L) == ((false, Some("wrong_lang"))))
    assert(out(3L) == ((true, None)))
    assert(out(4L) == ((false, Some("repetitious"))))
  }

  test("q125: per-source buckets partition the docs and keep_rate is kept/total") {
    val kd = new CurationOps(GraftConfig(
      keepMinTokens = 3, keepAllowedLangs = Seq("en"), keepMinTtr = 0.5))
    val dir = docsLangSource(
      (0L, "a b", "en", "sA"),        // sA too_short
      (1L, "a a a a", "en", "sA"),    // sA repetitious
      (2L, "x y z w", "en", "sA"),    // sA keep
      (3L, "x y z w", "de", "sB"))    // sB wrong_lang
    val out = kd.q125CurationDashboard(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = out("sA")
    assert(a.getLong(1) == 3L && a.getLong(2) == 1L)
    assert((a.getLong(3), a.getLong(4), a.getLong(5)) == ((1L, 0L, 1L)))
    assert(math.abs(a.getDouble(6) - 1.0 / 3) < 1e-12)
    val b = out("sB")
    assert(b.getLong(1) == 1L && b.getLong(2) == 0L && b.getLong(4) == 1L)
    assert(b.getDouble(6) == 0.0)
    // buckets partition: kept + all reasons == total for every source
    out.values.foreach(r =>
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5) == r.getLong(1)))
  }

  test("q105: bins follow the nearest-rank decile cutpoints") {
    // lengths 1..10, deciles cut at ranks 1..9 → values 1..9; bin =
    // #cuts strictly below the length = length - 1 (capped at 9).
    val dir = docsLangSource((1L to 10L).map(i =>
      (i, "x" * i.toInt, "en", "s")): _*)
    val got = Curation.q105LengthBins(spark, dir).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSet
    assert(got == (1 to 10).map(l => (l, (l - 1).toLong)).toSet)
  }

  test("q128: novelty credits a gram to its lowest doc_id; short docs emit no row") {
    // bigram config (ops: contamNgramWords = 2)
    // doc 0: "a b","b c" — both first here → frac 1.0
    // doc 1: "a b" (seen in 0), "b d" (new) → frac 0.5
    // doc 2: "x y" — new → frac 1.0; doc 3: one word → no row
    val dir = docs(0L -> "a b c", 1L -> "a b d", 2L -> "x y", 3L -> "solo")
    val got = ops.q128Novelty(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      0L -> ((2L, 2L, 1.0)),
      1L -> ((2L, 1L, 0.5)),
      2L -> ((1L, 1L, 1.0))))
  }

  test("q149: dataset card counts and dup rate match a hand corpus") {
    // ops: dedupKeyWords default via Curation object? use a 2-word key instance
    val card = new CurationOps(GraftConfig(dedupKeyWords = 2))
    val dir = docsLangSource(
      (0L, "a b c", "en", "sA"),   // key "a b"
      (1L, "a b d", "en", "sB"),   // key "a b" → exact-key dup of 0
      (2L, "x y", "de", "sA"))     // key "x y"
    val r = card.q149DatasetCard(spark, dir).collect()(0)
    assert(r.getLong(0) == 3L)                    // n_docs
    assert(r.getLong(1) == 3L + 3L + 2L)          // n_tokens
    assert(r.getLong(3) == 2L && r.getLong(4) == 2L) // langs, sources
    assert(r.getLong(5) == 2L)                    // content keys
    assert(r.getDouble(6) == 1.0 / 3)             // dup rate
    assert(r.getDouble(7) == 8.0 / 3)             // avg tokens
  }

  test("q137: groups below k flag at_risk; bins come from integer char division") {
    val ka = new CurationOps(GraftConfig(kAnonK = 3L, kAnonLenBin = 10L))
    val dir = docsLangSource(
      (0L, "aaaaaaaaaaaa", "en", "sA"), // 12 chars → bin 1
      (1L, "bbbbbbbbbbbb", "en", "sA"),
      (2L, "cccccccccccc", "en", "sA"),
      (3L, "dddddddddddd", "de", "sB"), // lone group → at risk
      (4L, "ee", "en", "sA"))           // 2 chars → bin 0, lone → at risk
    val got = ka.q137KAnonymity(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(("en", "sA", 1L)) == ((3L, false)))
    assert(got(("de", "sB", 1L)) == ((1L, true)))
    assert(got(("en", "sA", 0L)) == ((1L, true)))
    // groups partition the corpus
    assert(got.values.map(_._1).sum == 5L)
  }

  test("q180: fills reconcile with q83's assignment — shard totals conserved, fill = tok/ctx") {
    import org.apache.spark.sql.functions._
    val ctx = Curation.PackCtxTokens.toDouble
    val bins = graft.operators.Curation.q180PackEval(spark, sf).collect()
    bins.foreach { r =>
      assert(r.getDouble(4) == r.getLong(3).toDouble / ctx)
      assert(r.getLong(2) > 0)
    }
    val byShard = bins.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(3)).sum)
    val expected = graft.operators.Curation.q83Pack(spark, sf)
      .groupBy("shard").agg(sum("n_toks")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byShard.toMap == expected, "every shard's tokens must land in some bin")
  }

  test("q176: attrition is monotone per row and each stage reconciles with its standalone operator") {
    import org.apache.spark.sql.functions._
    val ops = graft.operators.Curation
    val rows = ops.q176CuratePipeline(spark, sf).collect()
    rows.foreach { r =>
      val (raw, f, d, fin) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(raw >= f && f >= d && d >= fin, s"attrition must be monotone: $r")
    }
    // stage 1 totals = q121's keeps; stage totals never exceed the raw corpus
    val keeps = ops.q121KeepDrop(spark, sf).filter(col("keep")).count()
    assert(rows.map(_.getLong(3)).sum == keeps)
    assert(rows.map(_.getLong(2)).sum ==
      spark.read.parquet(s"$sf/documents.parquet").count())
  }

  test("q168: matrix counts shared content keys once per pair, ordered source_a < source_b") {
    // docs 1 (A) and 2 (B) share the 4-word prefix; doc 3 (C) is unique;
    // doc 4 (B) repeats the shared prefix — distinct keys count it once
    val dir = docsLangSource(
      (1L, "k1 k2 k3 k4 tail-a", "en", "A"),
      (2L, "k1 k2 k3 k4 tail-b", "en", "B"),
      (4L, "k1 k2 k3 k4 tail-b2", "en", "B"),
      (3L, "x1 x2 x3 x4 other", "en", "C"))
    val got = graft.operators.Curation.q168DupMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("A", "B", 1L)))
  }

  test("q169: KS statistic matches hand arithmetic with the earliest witness value") {
    val ops = new graft.operators.CurationOps(GraftConfig(ksSourceA = "sa", ksSourceB = "sb"))
    // sa lengths {1,1,3}, sb {3}: at v=1 |2·1 − 0·3| = 2 (max), at v=3 |3·1 − 1·3| = 0
    val dir = docsLangSource(
      (1L, "x", "en", "sa"), (2L, "y", "en", "sa"), (3L, "zzz", "en", "sa"),
      (4L, "www", "en", "sb"), (5L, "ignored", "en", "other"))
    val r = ops.q169KsTest(spark, dir).collect().head
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) == ((3L, 1L, 2L, 1L)))
    assert(r.getDouble(6) == 2.0 / 3.0)
  }

  test("q163: a single bin can show no drift — chi2 is exactly zero") {
    // every doc identical length → one bin → expected == observed identically
    val dir = docs((1L to 200L).map(i => i -> "xxxxx"): _*)
    val rows = graft.operators.Curation.q163SplitDrift(spark, dir).collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(1) > 0 && rows.head.getLong(2) > 0,
      "precondition: both splits populated")
    assert(rows.head.getDouble(4) == 0.0)
  }

  test("q214: sketch-path drift verdict matches the exact path; counts conserve through the merge") {
    val q214 = graft.operators.Curation.q214SketchSplitDrift(spark, sf).collect()
    assert(q214.nonEmpty)
    // the shard-merged sketch loses no document: totals equal the corpus
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(q214.map(r => r.getLong(2) + r.getLong(3)).sum == nDocs,
      "merged sketch bucket counts must conserve the corpus")
    // corpus-level VERDICT agrees with q163's exact linear-bin path
    // under the same 1-df threshold + the same expected≥5 validity rule
    // (unbiased md5 split → no drift on either binning)
    val thr = Curation.Chi2DriftThreshold
    val sketchVerdict = q214.exists(_.getAs[Boolean]("drifted"))
    val exact = graft.operators.Curation.q163SplitDrift(spark, sf).collect()
    val nt = exact.map(_.getLong(1)).sum.toDouble
    val no = exact.map(_.getLong(2)).sum.toDouble
    val exactVerdict = exact.exists { r =>
      val et = r.getLong(1) + r.getLong(2)
      val eTrain = et * nt / (nt + no)
      val eOther = et * no / (nt + no)
      r.getAs[Double]("chi2_bin") > thr && eTrain >= 5.0 && eOther >= 5.0
    }
    assert(sketchVerdict == exactVerdict,
      s"sketch-path verdict $sketchVerdict must agree with exact-path $exactVerdict")
    // log-linear bounds really bracket: lo ≤ hi, buckets disjoint per octave
    q214.foreach(r => assert(r.getLong(0) <= r.getLong(1)))
  }

  test("q154: fixed-point LM score matches hand arithmetic; pairless docs are absent") {
    // tokens a,b,a,b,a,b,c → c1(a)=c1(b)=3, c1(c)=1, V=3
    // c12(a,b)=3, c12(b,a)=1 → p(a,b)=4e6 div 6=666666, p(b,a)=333333
    val dir = docs(1L -> "a b a b", 2L -> "a b", 3L -> "c")
    val got = graft.operators.Curation.q154LmScore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 3L, (666666L + 333333L + 666666L) / 3),  // = 555555
      (2L, 1L, 666666L)))
  }

  test("q129: weighted sample keeps every saturated doc, is reproducible, and ht = 1/pi") {
    val w = new CurationOps(GraftConfig(ppsTargetChars = 10L))
    // 30 docs of length 5 (π = 0.5) + 5 docs of length ≥ 10 (π = 1)
    val dir = docs(
      ((0L until 30L).map(i => i -> "abcde") ++
       (100L until 105L).map(i => i -> ("z" * 12))): _*)
    val rows = w.q129WeightedSample(spark, dir).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    // π = 1 docs are ALWAYS kept, with ht_weight exactly 1
    (100L until 105L).foreach { i =>
      assert(byId.contains(i), s"saturated doc $i must be kept")
      assert(byId(i).getDouble(3) == 1.0 && byId(i).getDouble(4) == 1.0)
    }
    // π = 0.5 docs: some but not all survive the coin, each with ht 2
    val half = rows.filter(_.getLong(0) < 30L)
    assert(half.nonEmpty && half.length < 30)
    half.foreach(r => assert(r.getDouble(3) == 0.5 && r.getDouble(4) == 2.0))
    // membership is content-stable across re-runs
    val again = w.q129WeightedSample(spark, dir).collect().map(_.getLong(0)).toSet
    assert(again == rows.map(_.getLong(0)).toSet)
  }

  test("q237: greedy picks max marginal gain, breaks ties by doc_id, never re-picks") {
    val dir = docs(
      1L -> "a b c d",  // {a b, b c, c d}
      2L -> "a b a b",  // {a b, b a}
      3L -> "x y z w")  // {x y, y z, z w}
    val got = graft.operators.Curation.q237CoverageSelect(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // round 1: docs 1 and 3 tie at gain 3 → doc 1; round 2: doc 3 adds its
    // 3; round 3: only "b a" remains, doc 2 adds 1
    assert(got.toSeq == Seq((1L, 1L, 3L, 3L), (2L, 3L, 3L, 6L), (3L, 2L, 1L, 7L)))
  }

  test("q237: stops early when no positive gain remains") {
    val dir = docs(1L -> "a b c d", 2L -> "a b a b")
    val got = graft.operators.Curation.q237CoverageSelect(spark, dir).collect()
    // doc 1 covers 3, doc 2 adds only "b a"; a third round has nothing
    assert(got.length == 2)
    assert(got.map(_.getLong(3)).toSeq == Seq(3L, 4L))
  }

  test("q240: negatives are in-range, never self, never exact-content duplicates, reproducible") {
    // docs 0 and 1 share the 4-word content key; doc 2 is its own class —
    // every emitted pair must cross the class boundary
    val dir = docs(
      0L -> "p q r s extra one",
      1L -> "p q r s extra two",
      2L -> "x y z w body")
    def run() = graft.operators.Curation.q240NegativeSampling(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = run()
    got.foreach { case (q, _, n) =>
      assert(n >= 0L && n <= 2L, "draw lands inside the id range")
      assert(n != q, "never the query itself")
      val crossClass = (Set(0L, 1L).contains(q) && n == 2L) ||
        (q == 2L && Set(0L, 1L).contains(n))
      assert(crossClass, s"($q,$n) stays inside an exact-dup class")
    }
    assert(run() == got, "hash-drawn pairs are a pure function of the corpus")
  }

  test("q274: a k-anonymous group from one source still fails l-diversity") {
    import spark.implicits._
    val o = new CurationOps(GraftConfig(kAnonLenBin = 10, lDiversityL = 2))
    val dir = java.nio.file.Files.createTempDirectory("ldiv").toString
    // bin 0: 3 docs, all source A (k-anonymous at k=3, NOT 2-diverse);
    // bin 1: 2 docs from A and B (2-diverse)
    Seq((1L, "aaaa", "A"), (2L, "bbbb", "A"), (3L, "cccc", "A"),
      (4L, "d" * 15, "A"), (5L, "e" * 15, "B"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = o.q274LDiversity(spark, dir).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(0L) == ((3L, 1L, false)), "size alone must not satisfy diversity")
    assert(got(1L) == ((2L, 2L, true)))
  }

  test("q267: every source lands within one document of its token budget, deterministically") {
    val b = GraftConfig.default.recipeTokensPerSource
    val rows = graft.operators.Curation.q267TokenBudget(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, docs) =>
      val total = docs.map(_._2).sum
      val maxCum = docs.map(_._3).max
      assert(total == maxCum, s"$src: cum_toks must be the running total")
      val beforeLast = total - docs.maxBy(_._3)._2
      assert(beforeLast < b, s"$src: the last doc must have been admitted under budget")
    }
    val again = graft.operators.Curation.q267TokenBudget(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.sortBy(r => (r._1, r._3)).toSeq == again.sortBy(r => (r._1, r._3)).toSeq,
      "recipe selection is a pure function of the corpus")
  }

  test("q267: the greedy prefix admits exactly the docs that start under budget") {
    val ops = new graft.operators.CurationOps(GraftConfig(recipeTokensPerSource = 5L))
    // source via docs() is constant 's': 4 docs of 3 tokens each = 12
    // tokens against budget 5 → greedy prefix keeps exactly 2 docs
    // (0 < 5 admits #1; 3 < 5 admits #2; 6 ≥ 5 stops)
    val dir = docs(1L -> "a b c", 2L -> "d e f", 3L -> "g h i", 4L -> "j k l")
    val kept = ops.q267TokenBudget(spark, dir).collect()
    assert(kept.length == 2, s"budget 5 over 3-token docs keeps exactly 2, got ${kept.length}")
    assert(kept.map(_.getLong(3)).sorted.toSeq == Seq(3L, 6L))
  }

  test("q253: offsets tile each shard exactly; reconstruction survives embedded newlines") {
    val dir = docs(
      1L -> "alpha beta",
      2L -> "gamma",
      3L -> "line one\nline two", // offsets are arithmetic, not parsing
      4L -> "delta epsilon zeta")
    val rows = graft.operators.Curation.q253ShardManifest(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.length == 4 && rows.forall(_._4), "every doc must reconstruct")
    rows.groupBy(_._1).values.foreach { shard =>
      val sorted = shard.sortBy(_._2)
      assert(sorted.head._2 == 0L, "first doc sits at offset 0")
      sorted.sliding(2).foreach {
        case Array((_, o1, l1, _), (_, o2, _, _)) =>
          assert(o2 == o1 + l1 + 1, "docs tile the blob with one separator byte")
        case _ =>
      }
    }
  }

  test("q253: offsets and lengths are OCTETS — non-ASCII corpora seek correctly") {
    // 'é' is 1 char / 2 UTF-8 bytes; a char-counting manifest would
    // mis-seek every doc after the first in its shard (round-11 advice)
    val dir = docs(
      1L -> "café crème",
      2L -> "naïve über",
      3L -> "plain ascii",
      4L -> "日本語 text") // 3-byte CJK
    val rows = graft.operators.Curation.q253ShardManifest(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(rows.values.forall(_._2), "every non-ASCII doc must byte-reconstruct")
    assert(rows(1L)._1 == "café crème".getBytes("UTF-8").length.toLong)
    assert(rows(4L)._1 == "日本語 text".getBytes("UTF-8").length.toLong)
    assert(rows(1L)._1 > "café crème".length,
      "length must count bytes, not characters")
  }

  test("q241: the ladder is monotone and the chosen level is the minimal k-anonymous rung") {
    val ops = new graft.operators.CurationOps(GraftConfig(kAnonK = 2, kAnonLenBin = 10))
    // lengths 5, 5, 35: level 0 bins {0,0,3} → min group 1; level 1 (bin
    // width 40) merges everything → one group of 3
    val dir = docs(
      1L -> "abcde",
      2L -> "fghij",
      3L -> ("x" * 35))
    val got = ops.q241KanonGeneralize(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4))))
      .toMap
    assert(got(0L) == ((2L, 1L, false, false)))
    assert(got(1L) == ((1L, 3L, true, true)), s"level 1 is the minimal rung; got ${got(1L)}")
    (2L to 5L).foreach(l => assert(got(l) == ((1L, 3L, true, false))))
    val mins = (0L to 5L).map(got(_)._2)
    assert(mins == mins.sorted, "generalization can only grow groups")
  }

  test("q320 DSIR weights: target-language mass scores high, mixed doc in between, ratios ≤ the scale") {
    // alpha (bucket 163) carries all the en mass; beta (bucket 176)
    // none: rm_alpha = 1e6·9 div 11 = 818181, rm_beta = 1e6·1 div 7 =
    // 142857 — hand-checked against the md5 bucket hash
    val dir = docsLangSource(
      (0L, "alpha alpha alpha alpha", "en", "s"),
      (1L, "alpha alpha alpha alpha", "en", "s"),
      (2L, "beta beta beta beta", "de", "s"),
      (3L, "alpha beta alpha beta", "de", "s"))
    val got = graft.operators.Curation.q320DsirWeights(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == ((4L, 3272724L, 818181L)))
    assert(got(2L) == ((4L, 571428L, 142857L)))
    assert(got(3L) == ((4L, 1922076L, 480519L)),
      "the mixed doc must land between the pure target and pure raw docs")
    // per-bucket target counts are a subset of raw counts, so no
    // ratio — and no average — can exceed the fixed-point scale
    got.values.foreach { case (_, _, avg) => assert(avg > 0 && avg <= 1000000L) }
  }

  test("q321 priority resample: keeps exactly the top-K priorities under the deterministic md5 uniform") {
    val dir = docsLangSource(
      (0L, "alpha alpha alpha alpha", "en", "s"),
      (1L, "alpha alpha alpha alpha", "en", "s"),
      (2L, "beta beta beta beta", "de", "s"),
      (3L, "alpha beta alpha beta", "de", "s"))
    val ops2 = new CurationOps(GraftConfig(dsirSampleK = 2))
    val sel = ops2.q321ImportanceResample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    // recompute every priority in plain Scala: w·2³² div (u32+1)
    val md = java.security.MessageDigest.getInstance("MD5")
    def u32(id: Long): Long = {
      val hex = md.digest(s"dsir:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val avg = Map(0L -> 818181L, 1L -> 818181L, 2L -> 142857L, 3L -> 480519L)
    val prio = avg.map { case (id, w) => id -> (w * 4294967296L) / (u32(id) + 1) }
    val expTop = prio.toSeq.sortBy { case (id, p) => (-p, id) }.take(2).toMap
    assert(sel == expTop,
      s"selected set must be the exact top-2 priorities; got $sel expected $expTop")
    // full-corpus invariant: every kept priority ≥ every dropped one
    assert(sel.values.min >= (prio -- sel.keys).values.max)
  }

  test("q323 Kneser-Ney: exact quarters fixed point — a single bigram carries full mass") {
    // one doc "a b": disc = S div 4, backoff = 3S div 4 — p_kn sums to
    // exactly the scale (the KN normalization, visible bit-exactly)
    val dir1 = docs(0L -> "a b")
    val one = graft.operators.Curation.q323KnBigram(spark, dir1).collect()
    assert(one.length == 1)
    assert(one(0).getLong(1) == 1L && one(0).getLong(3) == 1000000L)
    // "a b a b": p(a,b) = 5S/8 + 3S/16 = 812500, p(b,a) = S/4 + 3S/8 =
    // 625000; doc mean = (2·812500 + 625000) div 3 = 750000
    val dir2 = docs(0L -> "a b a b")
    val two = graft.operators.Curation.q323KnBigram(spark, dir2).collect()
    assert(two(0).getLong(1) == 3L && two(0).getLong(2) == 2250000L
      && two(0).getLong(3) == 750000L)
  }

  test("q323 on real data: every doc mean stays within the probability scale") {
    val rows = graft.operators.Curation.q323KnBigram(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) > 0L && r.getLong(3) <= 1000000L,
        s"doc ${r.getLong(0)}: mean p_kn ${r.getLong(3)} outside (0, S]")
    }
  }
}

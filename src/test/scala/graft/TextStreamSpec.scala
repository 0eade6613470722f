package graft

import graft.operators.{Multimodal, TextAnalysis}
import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class TextStreamSpec extends GraftSpec {

  test("q50 token counts: regex tokens >= whitespace tokens on space-joined words") {
    val df = TextAnalysis.q50TokenCount(spark, sf)
    assert(df.filter(col("re_tokens") < col("ws_tokens")).count() == 0)
  }

  test("q51 quality: ratios are within [0,1] bounds where expected") {
    val df = TextAnalysis.q51Quality(spark, sf)
    assert(df.filter(col("stopword_ratio") < 0 || col("stopword_ratio") > 1).count() == 0)
    assert(df.filter(col("avg_token_len") <= 0).count() == 0)
  }

  test("q52 langid: predicts a known language for every doc") {
    val langs = spark.read.parquet(s"$sf/documents.parquet")
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    val preds = TextAnalysis.q52LangId(spark, sf)
    assert(preds.count() == spark.read.parquet(s"$sf/documents.parquet").count())
    val predLangs = preds.select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(predLangs.subsetOf(langs))
  }

  test("q53 fingerprint: identical normalized text -> identical fp, and fp is md5-shaped") {
    val df = TextAnalysis.q53Fingerprint(spark, sf)
    assert(df.filter(length(col("fp")) =!= 32).count() == 0)
  }

  private def textDocs(rows: (Long, String)*): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textspec").toString
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q120 redact: counts per class on original text, replacements applied in order") {
    val dir = textDocs(
      0L -> "contact bob@example.com or 555-123-4567 about the key",
      1L -> "token secret token",
      2L -> "monkey tokens are not pii") // \b guards: no substring hits
    val out = TextAnalysis.q120Redact(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert((out(0L).getLong(1), out(0L).getLong(2), out(0L).getLong(3)) == ((1L, 1L, 1L)))
    assert(out(0L).getString(4) == "contact [EMAIL] or [PHONE] about the [TERM]")
    assert((out(1L).getLong(1), out(1L).getLong(2), out(1L).getLong(3)) == ((0L, 0L, 3L)))
    assert(out(1L).getString(4) == "[TERM] [TERM] [TERM]")
    assert(out(2L).getLong(3) == 0L && out(2L).getString(4) == "monkey tokens are not pii")
  }

  test("q122 dup spans: interval union of cross-doc duplicated grams, zero when unique") {
    val ops = new graft.operators.TextAnalysisOps(GraftConfig(dupSpanK = 4))
    // docs 0 and 1 share "abcdef" (positions 1-3 of 4-grams: abcd bcde
    // cdef → union covers chars 1-6 = 6); doc 2 is all-unique text.
    val dir = textDocs(0L -> "abcdefxx", 1L -> "yyabcdef", 2L -> "qrstuvwz")
    val out = ops.q122DupSpanCoverage(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L)._1 == 6L && math.abs(out(0L)._2 - 0.75) < 1e-12)
    assert(out(1L)._1 == 6L)
    assert(out(2L)._1 == 0L && out(2L)._2 == 0.0)
  }

  test("q155 collocations: lift matches hand arithmetic, support filter prunes rare pairs") {
    val ops = new graft.operators.TextAnalysisOps(GraftConfig(collocMinCount = 2, collocTopK = 3))
    // tokens x,y,x,y,x,y,z,z → c(x)=c(y)=3, c(z)=2, N=8
    // pairs: (x,y)=3 survives; (y,x)=1,(y,z)=1,(z,z)=1 pruned
    val dir = textDocs(1L -> "x y x y", 2L -> "x y z z")
    val got = ops.q155Collocations(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == Seq(("x", "y", 3L, 3L, 3L, 3.0 * 8.0 / (3.0 * 3.0))))
  }

  test("q171: confusion matrix totals exactly the prediction table; diagonal dominates") {
    val preds = graft.operators.TextAnalysis.q52LangId(spark, sf).count()
    val m = graft.operators.TextAnalysis.q171LangidConfusion(spark, sf).collect()
    assert(m.map(_.getLong(2)).sum == preds, "every predicted doc lands in one cell")
    // the matrix is the MEASUREMENT, not a quality promise: on this
    // synthetic corpus char-bigram langid scores ≈ the 5-language
    // chance rate (~19% at sf0.001) — exactly the fact q171 exists to
    // surface. Assert the cells are well-formed, not a pass grade.
    assert(m.forall(_.getLong(2) > 0))
    assert(m.map(r => (r.getString(0), r.getString(1))).distinct.length == m.length)
  }

  test("q167: merge list folds left-to-right; hand-traced unit counts") {
    // "the": t h e → th e → the (1 unit); "thin": th i n → th in (2);
    // "and": a n d → an d → and (1); empty text counts one unit
    val dir = textDocs(1L -> "the thin and", 2L -> "")
    val rows = graft.operators.TextAnalysis.q167BpeUnits(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(rows(1L) == ((3L, 4L)))
    assert(rows(2L) == ((1L, 1L)))
  }

  test("q167: repeated-pair runs merge to the true BPE fixpoint (double-replace)") {
    // 'ananan' under merge "a n": a single leftmost-non-overlapping
    // pass merges only the alternating occurrences (shared delimiter
    // space) → 4 units; the second pass takes the isolated leftovers →
    // 3 units = what BPE's one-at-a-time apply produces
    val dir = textDocs(1L -> "ananan", 2L -> "anan")
    val rows = graft.operators.TextAnalysis.q167BpeUnits(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(rows(1L) == 3L, s"'ananan' must reach the an·an·an fixpoint, got ${rows(1L)}")
    assert(rows(2L) == 2L)
  }

  test("q201 BPE trainer: hand-traced 3-merge run learns (t,h) → (th,e) → (a,n)") {
    // corpus "the the thin and": pair counts (t,h)=3, (h,e)=2, rest 1
    //   → m1 = (t,h,3); after 't h'→'th': (th,e)=2 beats the 1s
    //   → m2 = (th,e,2); after that, all remaining pairs tie at c=1 —
    //     (a,n) < (i,n) < (n,d) < (th,i) by (l,r) order → m3 = (a,n,1)
    val ops = new graft.operators.TextAnalysisOps(GraftConfig(bpeNumMerges = 3))
    val dir = textDocs(1L -> "the the thin and")
    val got = ops.q201BpeTrain(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "t", "h", "th", 3L),
      (2L, "th", "e", "the", 2L),
      (3L, "a", "n", "an", 1L)), s"got ${got.toSeq}")
  }

  test("q201 BPE trainer: early-stops when the pair space dries up; merges are distinct-operand") {
    // one 2-char token: exactly one learnable merge, then nothing left
    val ops = new graft.operators.TextAnalysisOps(GraftConfig(bpeNumMerges = 5))
    val dir = textDocs(1L -> "ab")
    val got = ops.q201BpeTrain(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, "a", "b")), s"got ${got.toSeq}")
    // same-symbol runs alone are never learnable (candidate filter l != r)
    val dir2 = textDocs(1L -> "aaaa aaaa")
    assert(ops.q201BpeTrain(spark, dir2).count() == 0)
  }

  test("q201 incremental corpus state ≡ recompute-from-raw: identical merge trajectory (r18)") {
    // the r18 optimization materializes the spaced corpus once and
    // advances it one merge per iteration; this pins it to the
    // historical recompute-the-full-chain-from-raw-text arm over the
    // real corpus — same merges, same counts, same order
    val ops = new graft.operators.TextAnalysisOps(GraftConfig(bpeNumMerges = 6))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val inc = ops.bpeTrainDf(spark, docs, incremental = true)
      .collect().map(_.toSeq).toSeq
    val ref = ops.bpeTrainDf(spark, docs, incremental = false)
      .collect().map(_.toSeq).toSeq
    assert(inc == ref, s"incremental=$inc\nrecompute=$ref")
  }

  test("q201 trains what q167 applies: learned merges feed the apply step round-trip") {
    val trainCfg = GraftConfig(bpeNumMerges = 3)
    val ops = new graft.operators.TextAnalysisOps(trainCfg)
    val dir = textDocs(1L -> "the the thin and")
    val merges = ops.q201BpeTrain(spark, dir).collect().sortBy(_.getLong(0))
      .map(r => s"${r.getString(1)} ${r.getString(2)}").toSeq
    val applyOps = new graft.operators.TextAnalysisOps(GraftConfig(bpeMerges = merges))
    val units = applyOps.q167BpeUnits(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    // "the the thin and" under merges [t h, th e, a n]:
    //   the→the (1), the→the (1), thin→th i n→3? 'th i n' has no learned
    //   pair merged beyond 'th' → 3 units; and→an d→2 units; total 1+1+3+2=7
    assert(units(1L) == 7L, s"got ${units(1L)}")
  }

  test("q209: units under the learned tokenizer equal q167 configured with those merges") {
    val ops = new graft.operators.TextAnalysisOps(GraftConfig(bpeNumMerges = 3))
    val dir = textDocs(1L -> "the the thin and", 2L -> "that other band")
    val merges = ops.q201BpeTrain(spark, dir).collect().sortBy(_.getLong(0))
      .map(r => s"${r.getString(1)} ${r.getString(2)}").toSeq
    val viaConfig = new graft.operators.TextAnalysisOps(GraftConfig(bpeMerges = merges))
      .q167BpeUnits(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val learned = ops.q209LearnedUnits(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(learned == viaConfig,
      "q209 must be exactly q167 under the merges q201 just learned")
  }

  test("q210: persisted tokenizer — save/load round-trips merges; query truly LOADS the artifact") {
    val ops = new graft.operators.TextAnalysisOps(GraftConfig(bpeNumMerges = 3))
    val dir = textDocs(1L -> "the the thin and", 2L -> "that other band")
    // loaded ≡ retrained, merge for merge (order included)
    val artifact = java.nio.file.Files.createTempDirectory("bpe-artifact").toString
    ops.saveTokenizer(spark, dir, artifact)
    val loaded = ops.loadTokenizer(spark, artifact)
    val retrained = ops.q201BpeTrain(spark, dir).collect().sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(loaded == retrained, s"loaded $loaded vs retrained $retrained")
    // q210 ≡ q209 on the same corpus (first call trains + persists)
    val viaPersisted = ops.q210LearnedUnitsPersisted(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaInline = ops.q209LearnedUnits(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaPersisted == viaInline)
    // the second call must READ the artifact, not retrain: doctor the
    // persisted merge list down to merge #1 only and observe the apply
    // step follow the doctored artifact
    val scratch = graft.sources.Scratch.keyedDir("bpe_tok", dir, spark,
      Seq("documents.parquet"), "k=3")
    spark.read.parquet(scratch).filter(col("iter") === 1L)
      .repartition(1).write.mode("overwrite").parquet(scratch + "_cut")
    spark.read.parquet(scratch + "_cut").repartition(1)
      .write.mode("overwrite").parquet(scratch)
    val doctored = ops.q210LearnedUnitsPersisted(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    val oneMerge = new graft.operators.TextAnalysisOps(
      GraftConfig(bpeMerges = Seq("t h"))).q167BpeUnits(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(doctored == oneMerge,
      "q210 must apply the PERSISTED merge list, not retrain")
  }

  test("q217: per-lang rollup is exactly q210's per-doc counts aggregated by language") {
    import spark.implicits._
    val perDoc = graft.operators.TextAnalysis
      .q210LearnedUnitsPersisted(spark, sf)
    val docsLang = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "lang")
    val expected = perDoc.join(docsLang, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_ws_tokens").as("ws_tokens"),
        sum("n_units").as("units"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val got = graft.operators.TextAnalysis.q217TokenizerEval(spark, sf).collect()
      .map { r =>
        assert(r.getDouble(4) ==
          r.getLong(3).toDouble / r.getLong(2).toDouble, "ratio = units/ws exactly")
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))
      }.toMap
    assert(got == expected, "q217 must be q210's counts grouped by lang")
  }

  test("q167: same-symbol merges are rejected (apply-twice ≢ sequential BPE on runs ≥5)") {
    // 6×'a' under 'a a': apply-twice gives aa·a·aa·a (4 units) where
    // one-at-a-time BPE gives aa·aa·aa (3) — the equivalence proof
    // needs distinct operands, so the builder must refuse up front
    val ops = new graft.operators.TextAnalysisOps(GraftConfig(bpeMerges = Seq("a a")))
    val dir = textDocs(1L -> "aaaaaa")
    intercept[IllegalArgumentException] { ops.q167BpeUnits(spark, dir) }
    intercept[IllegalArgumentException] { ops.q167Sql }
  }

  test("q158 span scrub: gaps survive, overlaps merge, full dups empty out, short docs pass through") {
    val ops = new graft.operators.TextAnalysisOps(GraftConfig(dupSpanK = 4))
    val dir = textDocs(
      1L -> "0123abcd4567",  // "abcd" shared with doc 2 → cut [5,8]
      2L -> "zzabcdzz",
      3L -> "qqqqqqqq", 4L -> "qqqqqqqq",  // fully duplicated → empty
      5L -> "ab")                          // shorter than k → untouched
    val got = ops.q158SpanScrub(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(3))).toMap
    assert(got(1L) == "01234567")
    assert(got(2L) == "zzzz")
    assert(got(3L) == "" && got(4L) == "")
    assert(got(5L) == "ab")
  }

  test("q158/q122 reconcile on real data: kept_chars = n_chars - covered_chars, every doc") {
    val scrub = graft.operators.TextAnalysis.q158SpanScrub(spark, sf)
      .select("doc_id", "n_chars", "kept_chars")
    val cov = graft.operators.TextAnalysis.q122DupSpanCoverage(spark, sf)
      .select("doc_id", "covered_chars")
    val joined = scrub.join(cov, "doc_id")
      .filter(col("kept_chars") =!= col("n_chars") - col("covered_chars"))
    assert(joined.count() == 0, "scrub and coverage must agree char-for-char")
  }

  test("q60 multimodal: features computed per doc with stable schema") {
    val df = Multimodal.q60Multimodal(spark, sf)
    assert(df.count() == spark.read.parquet(s"$sf/documents.parquet").count())
    assert(df.filter(col("n_bytes") =!= 16).count() == 0)
    assert(df.filter(col("byte_mean") < 0 || col("byte_mean") > 255).count() == 0)
  }

  test("q226 VAD: segmentation equals a driver-side islands replica of the frame table") {
    val th = 2800000000L // VadEnergyMin — pinned in the oracle too
    val frames = Multimodal.q134PcmEnergy(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(3))) // doc, frame, energy
    val expected = frames.groupBy(_._1).map { case (doc, fs) =>
      val voiced = fs.sortBy(_._2).filter(_._3 >= th)
      // islands over consecutive frame numbers, independent re-derivation
      val segLens = voiced.foldLeft(List.empty[(Int, Long)]) {
        case ((last, len) :: tail, f) if f._2 == last + 1 => (f._2, len + 1) :: tail
        case (acc, f) => (f._2, 1L) :: acc
      }.map(_._2)
      doc -> ((fs.length.toLong, voiced.length.toLong, segLens.length.toLong,
        if (segLens.isEmpty) 0L else segLens.max,
        voiced.map(_._3).sum))
    }
    val got = SparkEntry.queries("q226_vad_segments")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got == expected)
    assert(got.values.exists(_._3 > 0) && got.values.exists(v => v._2 < v._1),
      "both voiced segments and unvoiced frames must occur — threshold is non-vacuous")
  }

  test("q76 PPM decoder: decodes a hand-built image and rejects malformed payloads") {
    import spark.implicits._
    // 2x1 image, pixels (1,2,3) and (250,0,255) — header with the same
    // single-whitespace shape the writer emits
    val good = "P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 250.toByte, 0, 255.toByte)
    val decoded = Multimodal.decodeForTest(Seq((7L, good)).toDS()).collect().head
    assert((decoded.getLong(0), decoded.getInt(1), decoded.getInt(2), decoded.getInt(3)) ==
      ((7L, 2, 1, 255)))
    assert((decoded.getLong(4), decoded.getLong(5), decoded.getLong(6)) == ((251L, 2L, 258L)))
    val one = Multimodal.q76PpmDecode(spark, sf).filter(col("doc_id") === 0).collect().head
    assert(one.getInt(1) == 4 && one.getInt(2) == 4 && one.getInt(3) == 255)
    // channel sums of 16 pixels of bytes are within [0, 16*255]
    Seq(4, 5, 6).foreach(i => assert(one.getLong(i) >= 0 && one.getLong(i) <= 16L * 255))
    // malformed payloads must throw, not decode garbage
    val bad = Seq((1L, "P5\n2 1\n255\nxxxxxx".getBytes("US-ASCII"))).toDS()
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeForTest(bad).collect()
    }
    val short = Seq((2L, "P6\n4 4\n255\nxx".getBytes("US-ASCII"))).toDS()
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeForTest(short).collect()
    }
  }

  test("q119 avgpool: floor block means on a hand-built image, odd edges pool remainders") {
    import spark.implicits._
    // 3x3 image: odd dims force a 2x2 full block, two 2-pixel edge
    // blocks, and a 1-pixel corner. R channel = pixel index (0..8),
    // G = 10*index, B = 255 - index.
    val px = (0 until 9).flatMap(i => Seq(i.toByte, (10 * i).toByte, (255 - i).toByte))
    val img = "P6\n3 3\n255\n".getBytes("US-ASCII") ++ px.toArray
    val out = Multimodal.avgpool(Seq((3L, img)).toDS()).collect()
      .map(r => (r.getInt(1), r.getInt(2)) -> (r.getInt(3), r.getInt(4), r.getInt(5))).toMap
    // block (0,0): pixels {0,1,3,4} → r=(0+1+3+4)/4=2, g=20, b=(255*4-8)/4=253
    assert(out((0, 0)) == ((2, 20, 253)))
    // block (0,1): pixels {2,5} → r=3 (floor 3.5), g=35, b=(253+250)/2=251
    assert(out((0, 1)) == ((3, 35, 251)))
    // block (1,0): pixels {6,7} → r=6 (floor 6.5), g=65, b=248 (floor 248.5)
    assert(out((1, 0)) == ((6, 65, 248)))
    // block (1,1): pixel {8} → r=8, g=80, b=247
    assert(out((1, 1)) == ((8, 80, 247)))
    // real data: 4x4 rasters pool to exactly 4 output pixels per doc
    val real = Multimodal.q119AvgpoolDownsample(spark, sf)
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(real.count() == 4 * nDocs)
  }

  test("q77 stream-stream join matches only errors within 30min after a click") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[EventStream.Event]
    val errors = MemoryStream[EventStream.Event]
    val q = EventStream.clickErrorJoin(clicks.toDF(), errors.toDF())
      .writeStream.format("memory").queryName("ss_join_test")
      .outputMode("append").start()
    def ev(id: Long, min: Int, typ: String) =
      EventStream.Event(id, java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"), 1L, typ, 1.0)
    clicks.addData(ev(1, 0, "click"))
    errors.addData(
      ev(10, 10, "error"),  // within 30min → match
      ev(11, 45, "error"),  // outside window → no match
      ev(12, 5, "click"))   // wrong type on the error stream → filtered
    q.processAllAvailable()
    val rows = spark.table("ss_join_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(rows == Set((1L, 1L, 10L)))
  }

  test("q135 left-outer stream join: null emits only after the watermark proves no match") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[EventStream.Event]
    val errors = MemoryStream[EventStream.Event]
    val q = EventStream.clickErrorJoin(clicks.toDF(), errors.toDF(), "left_outer")
      .writeStream.format("memory").queryName("ss_outer_test")
      .outputMode("append").start()
    def ev(id: Long, hm: String, typ: String) =
      EventStream.Event(id, java.sql.Timestamp.valueOf(s"2024-01-01 $hm:00"), 1L, typ, 1.0)
    clicks.addData(ev(1, "10:00", "click"), ev(2, "09:30", "click"))
    errors.addData(ev(10, "10:10", "error")) // matches click 1 only (click 2's window ends 10:00)
    q.processAllAvailable()
    val early = spark.table("ss_outer_test").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // watermark still hours back: click 2 is unmatched but NOT yet provably so
    assert(early == Set((1L, 10L)))
    // advance both watermarks past 10:00 (09:30 + 30 min): 13:00 − 2 h = 11:00;
    // click 3 matches error 11 instantly, click 4 (12:00, window ends 12:30)
    // is unmatched but newer than the watermark — still pending
    clicks.addData(ev(3, "13:00", "click"), ev(4, "12:00", "click"))
    errors.addData(ev(11, "13:00", "error"))
    q.processAllAvailable()
    val late = spark.table("ss_outer_test").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    q.stop()
    // click 2's null arrived; click 4's did not
    assert(late == Set((1L, 10L), (3L, 11L), (2L, -1L)))
  }

  test("dedupWithinWatermark drops redelivered events, emits first arrivals once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.dedupWithinWatermark(mem.toDF())
      .writeStream.format("memory").queryName("dedup_wm_test")
      .outputMode("append").start()
    def ev(id: Long, min: Int) =
      EventStream.Event(id, java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"), 1L, "click", 1.0)
    mem.addData(ev(1, 0), ev(1, 0), ev(2, 5)) // same-batch redelivery
    q.processAllAvailable()
    mem.addData(ev(1, 1), ev(3, 6)) // cross-batch redelivery within the watermark
    q.processAllAvailable()
    val ids = spark.table("dedup_wm_test").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("streaming windowedAgg aggregates MemoryStream events into hourly windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.windowedAgg(mem.toDF())
      .writeStream.format("memory").queryName("win_test")
      .outputMode("append").start()
    def ev(id: Long, hour: Int, min: Int, typ: String, v: Double) =
      EventStream.Event(id, java.sql.Timestamp.valueOf(f"2024-01-01 $hour%02d:$min%02d:00"), 1L, typ, v)
    mem.addData(ev(1, 0, 10, "click", 1.0), ev(2, 0, 20, "click", 2.0), ev(3, 1, 5, "view", 3.0))
    q.processAllAvailable()
    // advance watermark far enough to finalize hours 0 and 1
    mem.addData(ev(4, 10, 0, "click", 1.0))
    q.processAllAvailable()
    val rows = spark.table("win_test").collect()
    q.stop()
    val clicks = rows.find(r => r.getAs[String]("event_type") == "click")
    assert(clicks.isDefined && clicks.get.getAs[Long]("n_events") == 2L)
    assert(rows.exists(r => r.getAs[String]("event_type") == "view"))
  }

  test("streaming sessionize closes sessions across batches, keeps the open one in state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.SEvent]
    val q = EventStream.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    def ev(id: Long, hhmm: String, v: Double) =
      EventStream.SEvent(id, java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00"), 7L,
        java.math.BigDecimal.valueOf(v))
    // session 1: two events 10 min apart (gap 30 min)
    mem.addData(ev(1, "00:00", 1.0), ev(2, "00:10", 2.0))
    q.processAllAvailable()
    // batch 2 opens session 2 → session 1 must close with state carried
    // over from batch 1
    mem.addData(ev(3, "02:00", 4.0), ev(4, "02:05", 8.0))
    q.processAllAvailable()
    // batch 3 opens session 3 → session 2 closes; session 3 stays open
    mem.addData(ev(5, "05:00", 16.0))
    q.processAllAvailable()
    val rows = spark.table("sess_test").orderBy("session_start_ms").collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("n_events") == 2L
      && rows(0).getAs[java.math.BigDecimal]("total_value").doubleValue() == 3.0)
    assert(rows(1).getAs[Long]("n_events") == 2L
      && rows(1).getAs[java.math.BigDecimal]("total_value").doubleValue() == 12.0)
    val startHours = rows.map(r => new java.sql.Timestamp(r.getAs[Long]("session_start_ms")))
    assert(startHours(0).toString.startsWith("2024-01-01 00:00") &&
      startHours(1).toString.startsWith("2024-01-01 02:00"))
  }

  test("streaming stateful user totals accumulate across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.userRunningTotals(mem.toDS())
      .writeStream.format("memory").queryName("state_test")
      .outputMode("update").start()
    def ev(id: Long, uid: Long, v: Double) =
      EventStream.Event(id, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), uid, "click", v)
    mem.addData(ev(1, 7, 1.5), ev(2, 7, 2.5))
    q.processAllAvailable()
    mem.addData(ev(3, 7, 6.0))
    q.processAllAvailable()
    val last = spark.table("state_test").filter(col("user_id") === 7)
      .orderBy(col("n_events").desc).head()
    q.stop()
    assert(last.getAs[Long]("n_events") == 3L)
    assert(math.abs(last.getAs[Double]("total_value") - 10.0) < 1e-9)
  }

  test("q276: boxcar decimation sums match hand arithmetic; tail block partial; means exact") {
    import spark.implicits._
    import graft.operators.Multimodal
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def wav(samples: Seq[Int]): Array[Byte] = {
      val data = samples.flatMap(s => le16(s & 0xffff)).toArray
      val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(1) ++
        le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)
      val body = "WAVE".getBytes("US-ASCII") ++ fmt ++
        "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
      "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    }
    val samples = Seq(100, -300, 7, 9, -32768, 32767, 1, 2, 5, 6)
    val out = Multimodal.decodePcmDecimate(Seq((1L, wav(samples))).toDS(), 4)
      .collect().map(r => r.getInt(1) ->
        ((r.getInt(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(0) == ((4, -184L, -46.0)))
    assert(out(1) == ((4, 2L, 0.5)))
    assert(out(2) == ((2, 11L, 5.5)), "tail block averages over its own count")
    // real table: 32 samples / 4 → 8 blocks per doc; block sums must
    // reconcile with the frame table's samples (shared decode path)
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(Multimodal.q276PcmDecimate(spark, sf).count() == 8 * nDocs)
  }

  test("q134: PCM frame features match hand arithmetic; chunk walk skips junk; strict on malformed") {
    import spark.implicits._
    import graft.operators.Multimodal
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def wav(samples: Seq[Int], junkChunk: Boolean = false, channels: Int = 1): Array[Byte] = {
      val data = samples.flatMap(s => le16(s & 0xffff)).toArray
      val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(channels) ++
        le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)
      // odd-sized junk chunk: exercises the RIFF word-alignment skip
      val junk = if (junkChunk)
        "LIST".getBytes("US-ASCII") ++ le32(3) ++ Array[Byte](9, 9, 9, 0)
      else Array.empty[Byte]
      val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ junk ++
        "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
      "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    }
    val samples = Seq(1000, -1000, 0, 3, -3, 32767, -32768, 5, 7, -7, 7, -7)
    val out = Multimodal.decodePcmFrames(Seq((1L, wav(samples, junkChunk = true))).toDS())
      .collect().map(r => r.getInt(1) ->
        ((r.getInt(2), r.getLong(3), r.getInt(4), r.getLong(5)))).toMap
    // frame 0: energy = 2·10⁶ + 9 + 9 + 32767² + 32768² + 25; zc counts
    // only strict sign products < 0 (the 0-sample crossing pair doesn't)
    assert(out(0) == ((8, 2149418156L, 32768, 5L)))
    // frame 1 is a 4-sample tail: alternating ±7
    assert(out(1) == ((4, 196L, 7, 3L)))
    // real table: 32 samples → 4 full frames per doc
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(Multimodal.q134PcmEnergy(spark, sf).count() == 4 * nDocs)
    // malformed inputs throw: bad magic, stereo, truncated data
    def boom(bytes: Array[Byte]): Unit =
      intercept[org.apache.spark.SparkException] {
        Multimodal.decodePcmFrames(Seq((9L, bytes)).toDS()).collect()
      }
    boom("RIFX".getBytes("US-ASCII") ++ wav(samples).drop(4))
    boom(wav(samples, channels = 2))
    boom(wav(samples).dropRight(3))
  }

  test("q243: the watermark drops exactly the late backfill; on-time windows reconcile to zero loss") {
    val DayMs = 86400000L
    val rows = EventStream.q243StreamLateAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    val cut = rows.map(_.getLong(0)).min + DayMs // day-0 windows sit below this
    rows.foreach { r =>
      val (w, ns, nb, dropped) = (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))
      if (w < cut) {
        assert(ns == 0 && dropped == nb && nb > 0 || nb == 0,
          s"day-0 window $w must be fully dropped: ns=$ns nb=$nb")
      } else {
        assert(ns == nb && dropped == 0, s"on-time window $w lost rows: ns=$ns nb=$nb")
      }
    }
    assert(rows.exists(r => r.getLong(4) > 0), "the late slice must be visible in the audit")
  }

  test("q258: the resumed query picks up only the new file; no duplicate, no hole across lives") {
    val rows = EventStream.q258StreamResume(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(3),
      "the second life must process exactly the file the first life never saw"))
    val total = graft.sources.Tables.events(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total,
      "file-sink manifest + checkpoint must give exactly-once across restarts")
  }

  test("q301/q302: planted image dups pair at d2=0, a 1-byte nudge reads d2=1, far images never pair") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("imgdup").toString
    // rasters ARE the padded text bytes: 'a'*48 → all-97 pixels
    Seq((1L, "a" * 48), (2L, "a" * 48), (3L, "a" * 47 + "e"), (4L, "z" * 48))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val desc = Multimodal.q301ImageDescriptor(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(desc(1L)._2 == Seq.fill(12)("97").mkString(","))
    assert(desc(1L) == desc(2L))
    // doc 3's one changed byte lands in one pooled block: (97*3+101)//4 = 98
    assert(desc(3L)._2.split(",").count(_ == "98") == 1)
    assert(desc(3L)._1 == desc(1L)._1, "a 1-bin-safe nudge must keep the blocking key")
    assert(desc(4L)._1 != desc(1L)._1)
    val pairs = Multimodal.q302ImageNeardup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 0L, "identical images must pair at exact d2 0")
    assert(pairs((1L, 3L)) == 1L && pairs((2L, 3L)) == 1L)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "a far image must not pair")
    // hot-key guard: with cap 1 the shared bucket (3 docs) is dropped
    val capped = Multimodal.imageNeardupWith(spark, dir, 1, 768L).collect()
    assert(capped.isEmpty, "df cap must drop the hot bucket from candidates")
  }

  test("q302 on real data: every pair is under the d2 bound, keys match, doc_a < doc_b") {
    val d = Multimodal.q302ImageNeardup(spark, sf).collect()
    assert(d.nonEmpty, "the corpus's prefix-identical docs must surface as image dups")
    d.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 768L)
    }
    val keys = Multimodal.q301ImageDescriptor(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    d.foreach(r => assert(keys(r.getLong(0)) == keys(r.getLong(1)),
      "every emitted pair must share the blocking key"))
  }

  test("q307/q308: planted audio dups pair at l1=0; a 1-char nudge reads the exact sample delta") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("auddup").toString
    // samples ARE LE int16 over the padded text bytes: 'a'*64 → every
    // sample (97<<8)|97 = 24929, frame energy 8·24929² = 4_971_640_328
    Seq((1L, "a" * 64), (2L, "a" * 64), (3L, "a" * 63 + "e"), (4L, "z" * 64))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fp = Multimodal.q307AudioFingerprint(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(fp(1L)._2 == Seq.fill(4)("4971640328").mkString(","))
    assert(fp(1L) == fp(2L))
    assert(fp(3L)._1 == fp(1L)._1, "an in-bin nudge must keep the blocking key")
    assert(fp(4L)._1 != fp(1L)._1)
    val pairs = Multimodal.q308AudioNeardup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 0L)
    // doc 3's last char 'e' lands in sample 31 (high byte unchanged):
    // s 24929 → (101<<8)|97? no — LE: low byte is char 63 ('a'), high
    // byte char 64 ('e'→101): s' = 101·256 + 97 = 25953; the energy
    // delta is 25953² − 24929² = 52_103_168 — the exact l1
    assert(pairs((1L, 3L)) == 52103168L && pairs((2L, 3L)) == 52103168L)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    val capped = Multimodal.audioNeardupWith(spark, dir, 1, 100000000L).collect()
    assert(capped.isEmpty, "df cap must drop the hot bucket from candidates")
  }

  test("q308 on real data: pairs under the l1 bound, keys agree") {
    val d = Multimodal.q308AudioNeardup(spark, sf).collect()
    assert(d.nonEmpty, "prefix-identical docs must surface as audio dups")
    val keys = Multimodal.q307AudioFingerprint(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    d.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 100000000L)
      assert(keys(r.getLong(0)) == keys(r.getLong(1)))
    }
  }

  test("q314/q315: planted video dups pair at d2=0; a frame PERMUTATION breaks the temporal key") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("viddup").toString
    // frames ARE consecutive 16-char slices of the padded text
    // 5/6's frame chars land in DIFFERENT 16-bins ('0'→3, 'A'→4,
    // 'a'→6, 'q'→7) so the permutation is visible to the key
    Seq((1L, "a" * 64), (2L, "a" * 64), (3L, "a" * 63 + "e"), (4L, "z" * 64),
        (5L, "0" * 16 + "A" * 16 + "a" * 16 + "q" * 16),
        (6L, "q" * 16 + "a" * 16 + "A" * 16 + "0" * 16))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fp = Multimodal.q314VideoFingerprint(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(fp(1L)._2 == Seq.fill(16)("97").mkString(","))
    assert(fp(1L) == fp(2L))
    // doc 3's one changed byte pools into exactly one slot: (97*3+101)//4 = 98
    assert(fp(3L)._2.split(",").count(_ == "98") == 1)
    assert(fp(3L)._1 == fp(1L)._1, "an in-bin nudge must keep the temporal key")
    assert(fp(4L)._1 != fp(1L)._1)
    // the TEMPORAL property: same frame multiset, different order —
    // different key (a montage re-cut is not the same video)
    assert(fp(5L)._2.split(",").sorted.sameElements(fp(6L)._2.split(",").sorted),
      "docs 5/6 carry the same frames (as multisets)")
    assert(fp(5L)._1 != fp(6L)._1, "frame order must be part of the blocking key")
    val pairs = Multimodal.q315VideoNeardup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 0L, "identical videos must pair at exact d2 0")
    assert(pairs((1L, 3L)) == 1L && pairs((2L, 3L)) == 1L)
    assert(!pairs.keySet.exists(p => Seq(4L, 5L, 6L).contains(p._1) || Seq(4L, 5L, 6L).contains(p._2)),
      "far videos and re-cuts must not pair")
    val capped = Multimodal.videoNeardupWith(spark, dir, 1, 256L).collect()
    assert(capped.isEmpty, "df cap must drop the hot bucket from candidates")
  }

  test("q315 on real data: pairs under the d2 bound, temporal keys agree, verify genuinely prunes") {
    val d = Multimodal.q315VideoNeardup(spark, sf).collect()
    assert(d.nonEmpty, "prefix-identical docs must surface as video dups")
    val keys = Multimodal.q314VideoFingerprint(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    d.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 0L && r.getLong(2) <= Multimodal.VideoNeardupMaxD2)
      assert(keys(r.getLong(0)) == keys(r.getLong(1)),
        "every emitted pair must share the temporal blocking key")
    }
    // the verify bound is TIGHTER than the key bins: some candidates drop
    val loose = Multimodal.videoNeardupWith(spark, sf,
      Multimodal.VideoDupKeyMaxDf, Long.MaxValue).count()
    assert(loose > d.length,
      "the exact-verify bound must prune real candidates, not rubber-stamp the key")
  }

  test("q318 audio search: exact L1 ranking — dup first at 0, nudge second at the sample delta, far last") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("audsearch").toString
    Seq((1L, "a" * 64), (2L, "a" * 64), (3L, "a" * 63 + "e"), (4L, "z" * 64))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Multimodal.q318AudioSearch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> ((r.getLong(1), r.getLong(3)))).toMap
    // query 1: its exact copy at l1=0, the 1-char nudge at the exact
    // energy delta (25953² − 24929², the q308 arithmetic), 'z'*64 last
    assert(rows((1L, 1)) == ((2L, 0L)))
    assert(rows((1L, 2)) == ((3L, 52103168L)))
    assert(rows((1L, 3))._1 == 4L)
    // search ranking and the q308 dedup boundary agree: everything
    // inside the near-dup bound out-ranks everything outside it
    assert(rows((1L, 2))._2 <= 100000000L && rows((1L, 3))._2 > 100000000L)
    // ties break to the lower doc_id: query 3 sees 1 and 2 at equal l1
    assert(rows((3L, 1)) == ((1L, 52103168L)) && rows((3L, 2)) == ((2L, 52103168L)))
  }

  test("q319 video search: temporal order is part of the DISTANCE — a re-cut of the same frames ranks last") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vidsearch").toString
    Seq((1L, "a" * 64), (2L, "a" * 64), (3L, "a" * 63 + "e"), (4L, "z" * 64),
        (5L, "0" * 16 + "A" * 16 + "a" * 16 + "q" * 16),
        (6L, "q" * 16 + "a" * 16 + "A" * 16 + "0" * 16))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val byQ = Multimodal.q319VideoSearch(spark, dir).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(2)).map(r => (r.getLong(1), r.getLong(3))) }
    // query 1: copy at 0, nudge at 1 (one pooled slot moved one step)
    assert(byQ(1L).take(2).toSeq == Seq((2L, 0L), (3L, 1L)))
    // query 5 vs its re-cut 6: SAME frames as a multiset, but the
    // frame-ordered fingerprint reads d2 = 4·((48−113)² + (65−97)² +
    // (97−65)² + (113−48)²) = 41992 — strictly the FARTHEST result,
    // behind even the unrelated 'a'/'z' clips
    val q5 = byQ(5L)
    assert(q5.last == ((6L, 41992L)),
      s"the re-cut must rank last for its own source; got ${q5.toSeq}")
    // the 'a' clips sit at the exact pooled distances (doc 3's nudged
    // slot 15 reads 98, one step CLOSER to fp5's 113 than 97 is)
    assert(q5.take(3).toSeq == Seq((3L, 14693L), (1L, 14724L), (2L, 14724L)))
  }

  test("q303: exact image top-k ranks the planted neighborhood in d2 order with low-id ties") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("imgknn").toString
    Seq((1L, "a" * 48), (2L, "a" * 48), (3L, "a" * 47 + "e"), (4L, "z" * 48))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Multimodal.q303ImageSearch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(got((1L, 1)) == ((2L, 0L)), "identical image first")
    assert(got((1L, 2)) == ((3L, 1L)), "1-byte nudge second")
    assert(got((1L, 3))._1 == 4L, "far image last")
    // ties: query 3 is equidistant from 1 and 2 (d2 = 1 each) — low id first
    assert(got((3L, 1)) == ((1L, 1L)) && got((3L, 2)) == ((2L, 1L)))
  }
}

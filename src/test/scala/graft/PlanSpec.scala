package graft

/** Plan-shape regression tests: the scale properties Graft is designed
  * around, asserted against the executed physical plans so a future
  * rewrite can't silently reintroduce a known scale-killer. */
class PlanSpec extends GraftSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  // layout queries whose public form eagerly cuts (run-unique scratch +
  // cleanup): pin the INNER plan via the At-variant on a spec-owned dir
  private def layoutPlan(f: String => org.apache.spark.sql.DataFrame): String =
    f(java.nio.file.Files.createTempDirectory("planspec").toString + "/d")
      .queryExecution.executedPlan.toString

  private def windows(p: String): Int = "\\bWindow\\b".r.findAllIn(p).length

  test("per-doc kmer statistics never window over the kmer key (hot-key skew)") {
    Seq("q9_tag_trusted", "q9_precorrect", "q15_kmer_read_freq", "q16_trusted", "q26_low_coverage")
      .foreach(n => assert(windows(plan(n)) == 0, s"$n plan contains a Window"))
  }

  test("q28 N50 uses the histogram, not an unpartitioned running-sum window") {
    assert(windows(plan("q28_graph_stats")) == 0)
  }

  test("q18 reciprocal-best never windows over src/dst (hub-node skew)") {
    assert(windows(plan("q18_chimeric_cut")) == 0)
  }

  test("q41 IVF: one window, the final top-k on the tiny query side (probe rank is a map)") {
    assert(windows(plan("q41_ann_ivf")) == 1)
  }

  test("dimension joins broadcast (q2 star joins)") {
    assert(plan("q2_join_filter").contains("BroadcastHashJoin"))
  }

  test("column pruning reaches the scan (q50 reads only doc_id,text)") {
    assert(plan("q50_token_count").contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("filter pushdown reaches the orders scan (q6 semi-join)") {
    val scanLines = plan("q6_semijoin").linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(scanLines.contains("o_totalprice") && scanLines.contains("> 200000.0"),
      "high-value filter must reach the orders scan")
  }

  test("minhash signature aggregation stays in HashAggregate (long mins, not string SortAggregate)") {
    Seq("q30_minhash_sig", "q31_minhash_pairs").foreach { n =>
      assert(!plan(n).contains("SortAggregate"),
        s"$n fell back to SortAggregate — signature mins must aggregate as longs")
    }
  }

  test("hot-key guard: overlap candidate generation anti-joins the over-frequent key list") {
    Seq("q20_overlap_edges", "q44_oriented_edges", "q48_char_overlap").foreach { n =>
      assert(plan(n).contains("LeftAnti"), s"$n is missing the hot-key anti-join")
    }
  }

  test("q85 as-of: exactly one Window pass, no join at all") {
    val p = plan("q85_asof_join")
    assert(windows(p) == 1, "as-of must carry both columns in one Window pass")
    assert(!p.contains("Join"), "union-tag as-of must not plan a join")
  }

  test("q86 range join: bucketed equi-join, never a nested-loop/cartesian product") {
    val p = plan("q86_interval_errors")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "point-in-interval must stay an equi-join on the time bucket")
  }

  test("q87 tf-idf: per-doc rank filter plans as a window group limit") {
    assert(plan("q87_tfidf").contains("WindowGroupLimit"))
  }

  test("q89 quantize is a pure scan projection: zero semantic exchanges") {
    assert(semanticExchanges(plan("q89_quantize")) == 0,
      "q89 must not shuffle — quantization is row-local")
  }

  test("q90 bm25: one per-doc aggregate — no tf-to-dl join on doc_id") {
    // the only joins are the scalar avgdl broadcast (nested-loop on a
    // 1-row side); a per-doc tf⋈dl equi-join would add a HashJoin
    val p = plan("q90_bm25")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("BroadcastHashJoin"),
      "q90 must fuse tf and dl into one aggregate (stack unpivot), not join them")
  }

  test("q42 pop-bubbles: no per-output-row lookup joins after the quadratic blowup") {
    // exactly 5 joins: the two quadratic candidate joins (as_ × hot × bs)
    // plus three PRE-blowup small-side joins (n_ok folded into hot, ok
    // candidates folded onto each of as_/bs). Every n_ok / ok-membership
    // lookup is pre-folded into those inputs; a 6th join means a lookup
    // leaked back onto the quadratic output stream (the round-3 row-copy
    // regression: each post-blowup join re-copies every output row)
    val joins = "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r
      .findAllIn(plan("q42_pop_bubbles")).length
    assert(joins <= 5, s"q42 has $joins joins — a lookup leaked onto the quadratic stream")
  }

  // semantic shuffles only: the loader's under-split parallelism restore
  // (RoundRobin REPARTITION_BY_NUM on the single-row-group test files)
  // is not a data-dependent exchange and disappears on real multi-file
  // datasets
  private def semanticExchanges(p: String): Int =
    p.linesIterator.count(l => l.contains("Exchange") && !l.contains("RoundRobinPartitioning"))

  test("q73 repetition filter is a pure scan: zero semantic exchanges, native shingle_stats") {
    val p = plan("q73_repetition")
    assert(semanticExchanges(p) == 0,
      "q73 must not shuffle — repetition stats are row-local (shingle_stats)")
    assert(p.contains("shingle_stats"))
  }

  test("q78 featurization is one scan: zero semantic exchanges, every feature row-local") {
    val p = plan("q78_features")
    assert(semanticExchanges(p) == 0,
      "q78 must not shuffle — single-scan featurization is its whole point")
    assert(p.contains("shingle_stats"))
  }

  test("q68 split stats is one scan + one 3-group aggregate (single semantic exchange)") {
    val n = semanticExchanges(plan("q68_split_stats"))
    assert(n <= 1, s"q68 has $n semantic exchanges — the split bucket must fold into one agg")
  }

  test("dedup shingle sets come from the native scan expression, not explode+distinct") {
    Seq("q30_minhash_sig", "q31_minhash_pairs", "q33_jaccard_pairs").foreach { n =>
      assert(plan(n).contains("shingle_set"),
        s"$n lost the shuffle-free shingle_set scan expression")
    }
  }

  test("q91 percentiles: never a corpus sort over the 5-value class key") {
    val p = plan("q91_percentiles")
    assert(windows(p) == 1, s"q91 should have exactly the phase-2 refine window:\n$p")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty && specs.forall(_.contains("bk#")),
      "q91's only window must partition by (class, bucket) — a window keyed on the " +
        "priority class alone funnels the corpus into 5 sort tasks")
  }

  test("q102 inverted index: posting head via WindowGroupLimit, no unbounded collect buffer") {
    val p = plan("q102_inverted_index")
    assert(p.contains("WindowGroupLimit"),
      "q102's rank<=cap filter must plan as WindowGroupLimit (map-side partial top-k)")
    assert(!p.contains("collect_set"),
      "q102 must not hold a full posting set in one aggregation buffer")
  }

  test("q103 mixture resampling is a pure scan: zero semantic exchanges") {
    assert(semanticExchanges(plan("q103_mixture")) == 0,
      "q103 must not shuffle — thresholds are literals in one scan predicate")
  }

  test("q104 per-source top-k: both window stages are WindowGroupLimit (rank pushed down)") {
    val n = "WindowGroupLimit".r.findAllIn(plan("q104_source_topk")).length
    assert(n >= 2, s"q104 has $n WindowGroupLimit nodes — the salted two-stage top-k lost its pushed rank filters")
  }

  test("q105 length bins never sort the corpus (histogram cutpoints, broadcast assign)") {
    val p = plan("q105_length_bins")
    assert(windows(p) == 0, "q105 must not use an ordered window — that's the single-task rank shape")
    assert(!p.linesIterator.exists(l => l.trim.startsWith("Sort ") || l.contains("+- Sort ")),
      "q105 must not globally sort")
  }

  test("q106 ship priority: top-k is TakeOrderedAndProject, customer dim broadcasts") {
    val p = plan("q106_ship_priority")
    assert(p.contains("TakeOrderedAndProject"), "q106 top-k must be partial top-k, not Sort+Limit")
    assert(p.contains("BroadcastHashJoin"), "q106 customer dim must broadcast")
  }

  test("q110 hybrid RRF: both candidate pools are partial top-k, never a corpus sort") {
    val p = plan("q110_hybrid_rrf")
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      "q110 must reduce each side to its pool via TakeOrderedAndProject")
  }

  test("q107 local volume: date filter pushes to the orders scan") {
    val scanLines = plan("q107_local_volume").linesIterator
      .filter(_.contains("FileScan")).mkString("\n")
    assert(scanLines.contains("o_orderdate"),
      "q107's year predicate must reach the orders scan as a pushed filter")
  }

  test("q119/q120/q121 are map-only: zero semantic exchanges, no window, no join") {
    Seq("q119_avgpool", "q120_redact", "q121_keep_drop").foreach { n =>
      val p = plan(n)
      assert(semanticExchanges(p) == 0, s"$n must not shuffle — it is row-local")
      assert(windows(p) == 0 && !p.contains("Join"), s"$n grew a window or join")
    }
  }

  test("round-8 aggregate operators: no windows, no joins beyond their contract") {
    // pure grouped aggregates — a Window or Join appearing here means a rewrite
    // reintroduced a per-key sort or a second corpus pass
    Seq("q130_burst_hours", "q137_kanon", "q143_mean_ci", "q148_correlation",
        "q149_dataset_card").foreach { n =>
      val p = plan(n)
      assert(windows(p) == 0, s"$n grew a Window")
    }
    // q149/q138 multi-distinct rides ONE Expand aggregation, not N scans
    Seq("q138_profile", "q149_dataset_card").foreach { n =>
      val p = plan(n)
      assert(p.contains("Expand"), s"$n must plan multi-distinct via Expand")
      assert("FileScan".r.findAllIn(p).length == 1, s"$n must scan its table once")
    }
  }

  test("q136 rolling window: ONE user_id exchange serves the RANGE frame") {
    val p = plan("q136_rolling_window")
    assert(windows(p) == 1)
    assert(semanticExchanges(p) == 1, "rolling aggregates need exactly one keyed shuffle")
  }

  test("q134 PCM decode is map-only; q150 scores are a pure scan fold") {
    Seq("q134_pcm_energy", "q150_pca_project").foreach { n =>
      val p = plan(n)
      assert(semanticExchanges(p) == 0 && !p.contains("Join"),
        s"$n must be a shuffle-free map stage")
    }
  }

  test("q211 whitening corpus pass is one scan with k literal folds — no joins, no shuffles") {
    // training already happened driver-side on the covariance artifact;
    // the returned plan must be the pure broadcast-literal scan
    val p = plan("q211_pca_whiten")
    assert(semanticExchanges(p) == 0 && !p.contains("Join"),
      s"q211's projection must be a shuffle-free map stage:\n$p")
  }

  test("q210 persisted-tokenizer apply is join-free — merges are literals, not a join table") {
    val p = plan("q210_learned_units_persisted")
    assert(!p.contains("Join"),
      "q210 must fold the loaded merges as literal expressions, never a join")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      "q210's apply must be ONE corpus scan")
  }

  test("q275 interval union: the global sweep rides the range-partitioned kernel") {
    // the island computation must never appear as one unpartitioned
    // global window over all bounds — the Scan kernel's per-pid local
    // windows plus a broadcast pid-prefix are the only windows allowed,
    // and every one of them is pid-partitioned
    val p = plan("q275_interval_union")
    val unpartitioned = p.linesIterator.count(l =>
      l.trim.startsWith("Window ") && !l.contains("windowspecdefinition(pid"))
    assert(unpartitioned <= 1, // the pid-prefix window (ORDER BY pid) is pid-count-sized
      s"q275 must not sort corpus-sized bounds in one partition\n$p")
    assert(!p.contains("CartesianProduct"), "sweep, never an inequality self-join")
  }

  test("q269 CDC chunking: boundary hashing stays inside whole-stage codegen") {
    val p = plan("q269_cdc_chunks")
    assert(!p.contains("Join"), "text rides the cut rows — no join back to the corpus")
    // the md5 boundary test must sit under a codegen'd Filter, not in a
    // higher-order-function lambda (interpreted per element — the 7×
    // regression this pin guards)
    assert(!p.contains("ArrayFilter"),
      "boundary test must be a top-level Filter column, not a HOF lambda")
  }

  test("q263 incremental index: one documents scan (delta) once the artifact exists") {
    // warm the artifact, then pin the delta-only cost shape on the
    // FINALIZED adaptive plan (the stats/head branches share the delta
    // pair exchange only via runtime ReusedExchange): exactly ONE scan
    // of documents.parquet (the delta split) may execute, and the base
    // side must come from the persisted artifact.
    SparkEntry.queries("q263_index_delta")(spark, sf).write
      .format("noop").mode("overwrite").save()
    val df = SparkEntry.queries("q263_index_delta")(spark, sf)
    df.queryExecution.executedPlan.execute().foreach(_ => ())
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents")) == 1,
      s"q263 must scan documents once (delta only) — base must load from the artifact\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("Scan parquet") && l.contains("inv_idx")),
      s"q263's base side must be the persisted index artifact\n$p")
  }

  test("q213 PPR plans exactly like q92 — seed personalization adds no join") {
    // the restart vector is a CASE expression over the node id, never a
    // seed-table join: the personalized variant must cost what global
    // PR costs, join for join
    def joins(p: String): Int = p.linesIterator.count(_.contains("Join"))
    assert(joins(plan("q213_ppr")) == joins(plan("q92_pagerank")),
      "q213 must not plan more joins than q92 (shared prLoop kernel)")
  }

  test("q146 partitioned layout: the lang filter prunes DIRECTORIES, not rows") {
    val p = layoutPlan(graft.sources.Layout.q146At(spark, sf, _))
    assert(p.contains("PartitionFilters: [isnotnull(lang") && p.contains("= en)"),
      "lang predicate must be a partition filter")
    val scan = p.linesIterator.find(_.contains("FileScan parquet")).get
    assert(scan.contains("DataFilters: []"),
      "no row-level filtering should remain — pruning is directory-level")
    assert(!scan.replaceAll(".*ReadSchema", "").contains("lang:"),
      "lang must come from the directory name, not the file bytes")
  }

  test("q145 trending ranks via WindowGroupLimit (partial top-k map-side)") {
    val p = plan("q145_trending")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      "per-day top-k must push a partial group limit before the exchange")
  }

  test("q129 weighted sample is map-only: zero exchanges, no window, no join") {
    val p = plan("q129_weighted_sample")
    assert(semanticExchanges(p) == 0, "q129 must be a pure scan predicate")
    assert(windows(p) == 0 && !p.contains("Join"))
  }

  test("q128 novelty joins the aggregated first-introducer table, never windows the gram key") {
    val p = plan("q128_novelty")
    assert(windows(p) == 0, "q128 must not Window.partitionBy the gram (hot-key skew)")
  }

  test("q127 gram matrix: covariance finisher broadcasts the d-row dim sums, no window") {
    val p = plan("q127_gram_matrix")
    assert(windows(p) == 0)
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2,
      "both dim-sum joins must broadcast onto the d² gram rows")
  }

  test("q122 dup spans: aggregated gram side builds the shuffled hash join, doc window only") {
    val p = plan("q122_dup_spans")
    assert(p.contains("ShuffledHashJoin"),
      "q122's position re-join must be a shuffled hash join (no sort, no fact-side broadcast)")
    assert(!p.contains("SortMergeJoin"))
  }

  test("kmer freq join never broadcast-builds the per-doc fact side") {
    Seq("q9_tag_trusted", "q15_kmer_read_freq", "q16_trusted").foreach { n =>
      val p = plan(n)
      assert(p.contains("ShuffledHashJoin"),
        s"$n's perDoc-freq join must stay a shuffled hash join")
    }
  }

  test("q151 big orders: the survivor set broadcasts into both join-backs — no sort-merge") {
    val p = plan("q151_big_orders")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "q151's orders and customer joins must build on the broadcast survivor side")
    assert(!p.contains("SortMergeJoin"), "q151 must not sort-merge a scan")
  }

  test("round-9 histogram/aggregate operators never window (q154/q160/q163/q168/q169)") {
    Seq("q154_lm_score", "q160_grouped_mad", "q163_split_drift",
        "q168_dup_matrix", "q169_ks_test").foreach { n =>
      assert(windows(plan(n)) == 0, s"$n grew a Window — a per-key sort snuck in")
    }
  }

  test("q167 BPE apply is map-only: zero semantic exchanges, no window, no join") {
    val p = plan("q167_bpe_units")
    assert(semanticExchanges(p) == 0 && windows(p) == 0 && !p.contains("Join"))
  }

  test("q155 collocations: top-k plans as TakeOrderedAndProject — pairs never globally sorted") {
    assert(plan("q155_collocations").contains("TakeOrderedAndProject"))
  }

  test("q166 supplier diversity: the exclusion is a broadcast ANTI join, distinct via Expand") {
    val p = plan("q166_supplier_diversity")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "q166's bad-supplier exclusion must be a broadcast anti join")
    // one distinct agg plans as the re-aggregation chain (distinct rows
    // first, count second) — per-group state never holds a supplier set
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "q166's distinct count must keep the two-phase re-aggregation chain")
  }

  test("q162 sole blame: top-k plans as TakeOrderedAndProject, supplier dim broadcasts") {
    val p = plan("q162_sole_blame")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q164 label outliers: centroids broadcast onto the scan, top-k via WindowGroupLimit") {
    val p = plan("q164_label_outliers")
    assert(p.contains("BroadcastHashJoin"),
      "q164's centroid table must broadcast — the corpus must not shuffle")
    assert(p.contains("WindowGroupLimit"),
      "q164's per-label rank filter must push a partial top-k map-side")
  }

  test("q158 span scrub: dup-gram join stays shuffled-hash, reconstruction is in-row (no window)") {
    val p = plan("q158_span_scrub")
    assert(p.contains("ShuffledHashJoin"),
      "q158's aggregated dup-gram side must build a shuffled hash join")
    assert(windows(p) == 0, "q158 reconstructs in-row — a Window means a per-doc sort snuck in")
  }

  test("q153 salted join: the salt reaches the join key and the build stays a shuffled hash") {
    val p = plan("q153_salted_join")
    assert(p.contains("__salt"), "q153 must join on the salt ordinal")
    assert(p.contains("ShuffledHashJoin"),
      "q153's salted dim must build a shuffled hash join, not broadcast (salting would be moot)")
  }

  test("q152 late orders: EXISTS plans as a semi join with the year filter pushed") {
    val p = plan("q152_late_orders")
    assert(p.contains("LeftSemi"), "q152's EXISTS must plan as a LEFT SEMI join")
    val scanLines = p.linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(scanLines.contains("o_orderdate"),
      "q152's year predicate must reach the orders scan")
  }

  test("q186 bucketed CDC: merge join with NO exchange on the bucketed snapshot side") {
    val p = plan("q186_bucketed_cdc")
    assert(p.contains("SortMergeJoin"),
      "q186's merge must be a sort-merge join (the at-scale shape the merge hint pins)")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"q186 must shuffle ONLY the change feed — found $exchanges hash exchanges:\n$p")
    assert(p.contains("Bucketed: true"),
      "q186's snapshot side must scan the bucketed table")
  }

  test("q204 persisted family split: bucketed family side reaches the merge join exchange-free") {
    // scoped to the family-join SUBTREE (not a whole-plan exchange count,
    // which is brittle against benign planner changes elsewhere): the
    // merge join's bucketed-scan child must contain no shuffle exchange
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val exec = SparkEntry.queries("q204_family_split_persisted")(spark, sf)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
    def hasBucketedScan(p: SparkPlan): Boolean =
      p.collect { case s: FileSourceScanExec if s.bucketedScan => s }.nonEmpty
    val smjs = exec.collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty,
      "q204's lookup must be a sort-merge join against the bucketed family table")
    val familySides = smjs.flatMap(_.children.filter(hasBucketedScan))
    assert(familySides.nonEmpty, "q204's family side must scan the bucketed table")
    familySides.foreach { side =>
      assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"q204's bucketed family side must reach the merge join exchange-free:\n$side")
    }
  }

  test("q192 disjunctive bands: factored predicates reach both scans, part dim broadcasts") {
    val p = plan("q192_band_revenue")
    assert(p.contains("BroadcastHashJoin"), "the brand-pruned part dim must broadcast")
    val scans = p.linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(scans.contains("p_brand"),
      "the factored brand IN-list must push into the part scan")
    assert(scans.contains("l_quantity"),
      "the factored quantity envelope must push into the lineitem scan")
  }

  test("q189 custdist: orders pre-aggregate before the outer join (no raw-order fanout)") {
    val p = plan("q189_custdist")
    // the join's right side must be the aggregated (custkey, count)
    // table: two aggregates total (per-cust + distribution), and the
    // join itself appears above a HashAggregate subtree
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q198 DPP: the partitioned scan carries a runtime dynamicpruning partition filter") {
    val p = layoutPlan(graft.sources.Layout.q198At(spark, sf, _))
    assert(p.contains("dynamicpruning"),
      "q198's day-partitioned scan must be pruned by the runtime incident-day set:\n" +
        p.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
  }

  test("q194 cluster sample: the cap filter plans as WindowGroupLimit (partial top-k)") {
    val p = plan("q194_cluster_sample")
    assert(p.contains("WindowGroupLimit"),
      "q194's rank<=cap must push a partial top-k map-side — a hot cell must not buffer whole")
  }

  test("q202 min-cost: dims broadcast into the fact scan; the min join-back is shuffled-hash") {
    val p = plan("q202_min_cost_supplier")
    assert(p.contains("BroadcastHashJoin"),
      "region suppliers + type-filtered parts must broadcast — the fact scan is pruned pre-shuffle")
    assert(p.contains("ShuffledHashJoin"),
      "the per-part min join-back joins two aggregated tables keyed by part — " +
        "|part|-sized, never broadcast at scale")
    assert(windows(p) == 0, "Q2's min must be aggregate + join-back, not a part-key window")
  }

  test("q311 profit roll-up: dims broadcast, the only big-big join is lineitem⋈orders, no window") {
    val p = plan("q311_profit_rollup")
    assert(p.contains("BroadcastHashJoin"),
      "the LIKE-filtered part dim and the supplier→nation map must broadcast into the fact scan")
    assert(windows(p) == 0, "Q9 is a pure roll-up — no window anywhere")
  }

  test("q312 top supplier: shipdate pushed to the scan; the max rides a broadcast; no window") {
    val p = plan("q312_top_supplier")
    val scanLines = p.linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(scanLines.contains("l_shipdate"),
      "the 90-day window filter must reach the lineitem scan")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the one-row max must broadcast into the equality join-back (the q203 discipline)")
    assert(windows(p) == 0, "Q15's max-of-aggregate must be aggregate + join-back, not a window")
  }

  test("q313 capacity semijoin: both hops LEFT SEMI, part dim broadcasts, no row multiplication") {
    val p = plan("q313_capacity_semijoin")
    assert(p.contains("LeftSemi"), "the supplier hop must be existence-only")
    assert(p.contains("BroadcastHashJoin"), "the prefix-filtered part dim must broadcast")
    assert(windows(p) == 0)
  }

  test("q203 value concentration: one fact aggregate, total rides a broadcast, no window") {
    val p = plan("q203_value_concentration")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the one-row total must broadcast into the HAVING filter")
    assert(windows(p) == 0,
      "the global-scalar threshold must never be a window over all parts")
  }

  test("q196 cohesion: the pair-cap rank plans as WindowGroupLimit BEFORE the pair join") {
    val p = plan("q196_cluster_cohesion")
    assert(p.contains("WindowGroupLimit"),
      "q196's rank<=cohesionPairCap must push a partial top-k map-side so a hot cell " +
        "never reaches the Σ|cell|² pair join uncapped")
  }

  test("q59 correction votes: frequencies via aggregate+join, never a kmer window (hot-key skew)") {
    val p = plan("q59_correction_votes")
    assert(windows(p) == 0,
      "q59 plan contains a Window — a viral kmer would funnel into one unsplittable partition")
    assert(p.contains("ShuffledHashJoin"),
      "q59's weak-kmer recovery must join the aggregated f=1 key set shuffled-hash")
  }

  test("q71 bigram LM: denominator via re-aggregation+join, never a w1 window (stopword skew)") {
    val p = plan("q71_bigram_lm")
    assert(windows(p) == 0,
      "q71 plan contains a Window — a stopword's successor set would buffer on one task")
    assert(p.contains("ShuffledHashJoin"),
      "q71's unique-per-w1 denominator must build a shuffled hash join")
  }

  test("q234 heavy hitters: the probe pass is broadcast-only — no vocabulary shuffle") {
    val p = plan("q234_heavy_hitters")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= graft.operators.Sketch.CmRows,
      s"every salt row must probe via a broadcast join (found $bhj)")
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join means occurrences shuffled on a sketch key")
  }

  test("q249 logical delete: the tombstone anti-join broadcasts (reads never shuffle)") {
    val base = java.nio.file.Files.createTempDirectory("planspec").toString
    val p = graft.sources.Layout.q249At(spark, sf, s"$base/seg", s"$base/phys")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "the deletion-vector read must be scan + broadcast anti-join")
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge anti-join would shuffle the full segment set per read")
  }

  test("q253 shard manifest: offsets from exactly one per-shard window, never a global cumsum") {
    assert(windows(plan("q253_shard_manifest")) == 1)
  }

  test("q279 beam search: bounded probe — every hop join broadcasts, corpus never sort-merge-shuffles") {
    // pin the UNCUT composition (hopCuts=false): the production walk
    // lineage-cuts each hop (r17 — the final plan is a window over the
    // last checkpoint), but the per-hop join shapes it executes are
    // exactly this composition's — the layoutPlan/At-variant idiom
    import org.apache.spark.sql.functions.col
    val Sim = graft.operators.Similarity
    val p = Sim.beamSearchOver(spark, sf,
      Sim.persistedKnnGraph(spark, sf)
        .select(col("vec_id").as("src"), col("nbr_id").as("dst")),
      Some(Sim.ivfGuidedEntries(spark, sf)),
      hopCuts = false)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      "a hop join fell back to SMJ — the bounded candidate list must broadcast " +
        "against the corpus scan (the point-lookup shape)")
    // the one nested-loop cross is the queries × beamEntries seed —
    // config-bounded by construction; anything else would be a
    // corpus-sized cartesian
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the entry-panel seed cross is expected (queries × beamEntries)")
  }

  test("q279 production plan: the cut walk's final segment never sort-merge-shuffles (r17 advice)") {
    // the hopCuts=false pin above asserts the hop-join SHAPES; this one
    // keeps the REGISTERED production query itself asserted, so the
    // spec and production composition cannot silently drift apart —
    // post-cuts the final segment is the rank window + vec attach over
    // the last checkpoint, and nothing in it may fall back to SMJ
    val p = plan("q279_graph_ann")
    assert(!p.contains("SortMergeJoin"),
      "q279's final segment (post-checkpoint ranking) fell back to a sort-merge join")
  }

  test("q282 embedder is a pure scan: zero semantic exchanges, native feat_hash_vec") {
    val p = plan("q282_text_embed")
    assert(semanticExchanges(p) == 0,
      "q282 must not shuffle — the native expression embeds in-scan")
    assert(p.contains("feat_hash_vec"), p)
  }

  test("q283 derived near-dup: equi-join blocking only — no cartesian, no nested-loop pair generation") {
    val p = plan("q283_derived_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate pairs must come from the capped (band, key) equi-join")
    // the native sign_bands_long scan sits behind the candidate table's
    // lineage cut, so it is pinned by EmbedSpec's JVM-replication parity
    // test rather than by this final-plan grep
  }

  test("q292/q293 derived IVF tier: zero reads of the embeddings table, native integer dots") {
    Seq("q292_derived_ivf", "q293_derived_ivf_recall").foreach { n =>
      val p = plan(n)
      assert(!p.contains("embeddings"),
        s"$n must serve entirely from text-derived vectors — found an embeddings scan")
      assert(p.contains("vec_dot_long"), s"$n must score with the native integer dot")
    }
  }

  test("q297 SQ search: broadcast panel over one code scan, native integer dots, no extra shuffle join") {
    val p = plan("q297_sq_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the query panel must broadcast against the corpus scan")
    assert(p.contains("vec_dot_long"), "code dots must be the native integer expression")
    assert(!p.contains("SortMergeJoin"), "nothing in the SQ scan path may sort-merge-shuffle")
  }

  test("q302/q308 modality near-dups: equi-join blocking with the broadcast hot-key anti-join, no cartesian") {
    Seq("q302_image_neardup", "q308_audio_neardup", "q315_video_neardup").foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$n candidate pairs must come from the capped key equi-join")
      assert(p.contains("LeftAnti"), s"$n is missing the hot-bucket anti-join")
    }
  }

  test("q306 probe curve: every curve point assigns via broadcast centroids — the corpus never shuffles for the join") {
    val p = plan("q306_probe_curve")
    assert(!p.contains("CartesianProduct"), "no unbounded pair generation in the sweep")
    // per-point work: windows only on the query side (the final top-k
    // per point; the probe rank is a map) — corpus-keyed windows would
    // be the skew-killer
    assert(windows(p) <= graft.operators.Similarity.ProbeCurveMax,
      "windows must stay on the panel side of every curve point")
  }

  test("q326 filtered search: the label predicate reaches the scan side, corpus never sort-merge-shuffles for it") {
    val p = plan("q326_filtered_search")
    // pre-filter means the predicate lands on the assignment scan —
    // it must appear as a Filter, not be applied after the top-k
    assert(p.contains(s"= ${graft.operators.Similarity.AnnFilterLabel}"),
      "the label predicate must be in the plan (candidate generation), not post-applied")
    assert(!p.contains("CartesianProduct"), "no unbounded pair generation")
    // one window, on the query side: the final top-k (the probe rank
    // is the vec_nearest_cells map, not a window)
    assert(windows(p) == 1, "corpus-keyed windows would be the skew-killer")
  }

  test("q328 MMR: one exchange to group by query — the greedy is in-group, not a join cascade") {
    val p = plan("q328_mmr_rerank")
    assert(p.contains("MapGroups") || p.contains("mapGroups") || p.contains("FlatMapGroups"),
      "the per-query greedy must run inside flatMapGroups")
    assert(!p.contains("SortMergeJoin"),
      "the greedy must not re-join the pool per rank (the retired 30-stage cascade)")
    // exactly one window: the pool's per-query partial top-k
    assert(windows(p) == 1, "only the relevance-pool top-k may window")
  }

  test("q324 serves the pair artifact: a parquet read, not an inline prefix-filter join") {
    val p = plan("q324_containment_join")
    assert(!p.contains("SortMergeJoin") && windows(p) == 0,
      "the serve path must read the persisted pair table, not recompute the join")
  }

  test("q336/q338: the part dim broadcasts and the fact-side predicates reach the scan") {
    val p336 = plan("q336_promo_share")
    assert(p336.contains("BroadcastHashJoin"), "q336's part dim must broadcast")
    val scan336 = p336.linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(scan336.contains("l_shipdate"),
      "the ship-date window must push to the lineitem scan")
    val p338 = plan("q338_bracket_revenue")
    assert(p338.contains("BroadcastHashJoin"), "q338's part dim must broadcast")
    val scan338 = p338.linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(scan338.contains("p_brand"),
      "the bracket disjunction's part-side conjuncts must push to the part scan")
  }

  test("q337: exclusions push to the part scan; the distinct never SortAggregates") {
    val p = plan("q337_part_classes")
    assert(p.contains("BroadcastHashJoin"), "q337's pruned part dim must broadcast")
    val scans = p.linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(scans.contains("p_size"), "the size IN-list must reach the part scan")
    assert(!p.contains("SortAggregate"),
      "the distinct-supplier count must stay in hash aggregation")
  }

  test("q345/q346: single-table aggregates — the scans never join, filters reach them") {
    Seq("q345_pricing_summary", "q346_forecast_revenue").foreach { n =>
      val p = plan(n)
      assert(!p.contains("Join"), s"$n is a one-table aggregate — no join belongs in its plan")
      assert(windows(p) == 0, s"$n must not window")
      val scans = p.linesIterator.filter(_.contains("FileScan")).mkString("\n")
      assert(scans.contains("l_shipdate"),
        s"$n's ship-date predicate must push to the lineitem scan")
    }
  }

  test("q347: the customer top-k plans as TakeOrderedAndProject; dims join back onto k rows") {
    val p = plan("q347_returned_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "the ordered limit must plan as TakeOrderedAndProject — never a full sort")
    assert(p.contains("BroadcastHashJoin"),
      "customer/nation must broadcast onto the k survivors")
    val scans = p.linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(scans.contains("o_orderdate"),
      "the quarter window must push to the orders scan")
    assert(scans.contains("l_returnflag"),
      "the returnflag filter must push to the lineitem scan")
  }

  test("q348: both priority counts ride ONE aggregate pass — one scan of each table, no pivot") {
    val p = plan("q348_shipband_priority")
    // exactly one lineitem scan and one orders scan: the conditional
    // sums share a single pass (two scans of either = the two-query trap)
    val scans = p.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.count(_.contains("lineitem")) == 1, "exactly one lineitem scan")
    assert(scans.count(_.contains("orders")) == 1, "exactly one orders scan")
    assert(windows(p) == 0 && !p.contains("Expand"),
      "two conditional sums need neither windows nor a pivot expand")
    assert(scans.filter(_.contains("lineitem")).mkString.contains("l_shipdate"),
      "the ship-year window must push to the lineitem scan")
  }
}

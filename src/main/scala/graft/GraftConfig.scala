package graft

/** Tunable thresholds for every Graft operator family — the analogue of
  * the reference's BrushConfig (BrushConfig.java: 408 lines of CLI/job
  * parameters), as a plain case class.
  *
  * The rule for what lives here: a field stays only while some caller
  * (an operator, a tool, a test or the benchmark) sets it to a value
  * other than its default, plus the two deployment settings
  * `reliableStageCheckpoints` and `scratchDir`. Every other threshold
  * is a named constant beside the queries that read it — in its
  * family's operator class (e.g. `Dedup.MinhashJ`,
  * `Sequence.TrustMinFreq`) or, when several families read it, in
  * `object GraftConfig` below. A query's Spark side and its oracle SQL
  * builder read the same name either way.
  *
  * Each operator object (Sequence, GraphOps, Dedup, Similarity,
  * Relational) is the default-configured instance of a class
  * parameterized by this config; custom thresholds are one constructor
  * call away:
  *
  * {{{
  * val ops = new graft.operators.SequenceOps(GraftConfig(k = 12))
  * ops.q10KmerCount(spark, dir)
  * }}}
  *
  * The oracle SQL builders read the same fields, so a reconfigured
  * instance still carries a matching DuckDB oracle.
  */
case class GraftConfig(
    // k-mer / sequence family [CloudBrush: K, HighFreq thresholds]
    k: Int = 8,
    highFreq: Int = 100,
    dedupKeyWords: Int = 4,
    // graph cleaning [CloudBrush: tip params]
    tipRounds: Int = 3,
    // hot-key guard on overlap candidate generation [MatchPrefix.java:
    // 155-156 skips keys on the BuildHighKmerList list]: a boundary key
    // occurring more than this many times (suffix+prefix occurrences) is
    // excluded from edge candidate generation — one viral phrase would
    // otherwise create an O(n²) join bucket no AQE skew-split can cap
    maxOverlapKeyDf: Int = 1000,
    // full-assembly repeat-adjust round bound (the other phase bounds
    // are Pipeline's constants): bounded so the oracle can unroll the
    // same count; any bound ≥ the data's convergence round count is exact
    asmRepeatRounds: Int = 2,
    // stage handoffs in the assembly composition: false = eager
    // localCheckpoint (in-memory, right for single-JVM/local). On a
    // multi-executor cluster set true — stage cuts become reliable
    // checkpoints (the checkpoint dir must point at HDFS/object storage
    // via SparkContext.setCheckpointDir), surviving executor loss exactly
    // like the reference's HDFS handoffs between MapReduce jobs.
    reliableStageCheckpoints: Boolean = false,
    // dedup family: embedding near-dup cosine threshold
    nearDupCos: Double = 0.42,
    // ANN
    annQueries: Int = 10,
    annTopK: Int = 5,
    ivfCentroids: Int = 16,
    ivfTopK: Int = 3,
    kmeansIters: Int = 2,
    ivfNprobe: Int = 2,
    // IVF k-means trains on the deterministic vec_id % mod = 0 sample
    // (mod 1 = full corpus). At 100 TB nobody Lloyd-iterates the full
    // corpus — set mod so the sample still gives ≥ ~1000 points per
    // centroid and assign the full corpus once. The small-sf default
    // stays 1: at 60k vectors a 25% sample measurably degrades
    // centroid geometry (q123 mean recall 0.93 → 0.43), i.e. the
    // sample floor binds long before the training cost does.
    ivfTrainMod: Int = 1,
    // kNN graph (q140): neighbors kept per vector
    knnK: Int = 5,
    // graph-ANN beam search over the q140 graph (q279/q280): fixed
    // deterministic entry-point count, beam width, and hop count. Per
    // query the candidate set is bounded by
    // entries + hops·beam·knnK — the HNSW/NSW cost model — never the
    // corpus. Hops are a FIXED count, not convergence-tested
    // (determinism over adaptivity, the PcaIters discipline).
    beamEntries: Int = 8,
    beamWidth: Int = 8,
    beamHops: Int = 3,
    // product quantization (q222/q223): subspace count (must divide the
    // embedding dim) and Lloyd iterations; codewords per subspace is
    // Similarity.PqK. recall is MEASURED by q223
    pqSubspaces: Int = 4,
    pqIters: Int = 2,
    // top-k PCA / whitening (q211): number of components extracted by
    // deflation (each pays PcaIters driver iterations on the d×d
    // covariance artifact — corpus-independent cost)
    pcaTopK: Int = 3,
    // relational: session gap
    sessionGapMs: Long = 1800000L,
    // q121 keep/drop filter pipeline: rule thresholds (first failing
    // rule in fixed order wins; defaults drop ~30% of the synthetic
    // corpus so the operator's branches are all exercised)
    keepMinTokens: Int = 25,
    keepAllowedLangs: Seq[String] = Seq("en", "de", "es", "fr"),
    keepMinTtr: Double = 0.35,
    // q122 duplicated-span coverage: char n-gram width for the exact
    // cross-doc duplicate-substring diagnostic
    dupSpanK: Int = 16,
    // corpus curation (Curation.scala)
    // train/eval contamination: word-n-gram size and boilerplate df cap
    // (also the inverted-index join's per-key fanout bound)
    contamNgramWords: Int = 8,
    contamMaxTrainDf: Int = 50,
    // md5-bucket split bound: first-2-hex-chars upper bound of the
    // train bucket (0x00-0xcc train ≈80%; the val bound is
    // GraftConfig.splitValUpper); compared as fixed-width hex strings
    // on both engines
    splitTrainUpper: String = "cd",
    // feature-hashing text embedder (q282) dimension count and the
    // derived-vector near-dup (q283) cosine threshold
    featHashDim: Int = 32,
    // 0.95 measured selective-but-nonempty at sf0.01 (47 of 124,750
    // possible pairs; 0.6 passed 41% of all pairs — bag-of-words
    // vectors of same-vocabulary docs are globally correlated)
    derivedNeardupMin: Double = 0.95,
    // q283 candidate generation: the hot-bucket df cap of the banded
    // sign LSH (Embed.DerivedBands × DerivedBandBits) — a (band, key)
    // bucket with more docs than this is dropped from candidate
    // generation (the maxOverlapKeyDf discipline), which bounds
    // candidates at ≤ bands·cap·n/2 = O(n)
    derivedBandMaxDf: Int = 512,
    // vocabulary report size and bigram minimum count
    vocabTopK: Int = 100,
    bigramMinCount: Int = 5,
    // repetition quality filter (Gopher/MassiveText-style): char k-gram
    // size and the max-frequency fraction above which a doc is flagged
    repShingleK: Int = 10,
    repMaxFrac: Double = 0.05,
    // weighted PPS sampling (q129): chars at which inclusion probability
    // saturates at 1 — π = min(1, n_chars/target); must stay ≤ ~2^20 so
    // the integer keep test min(w,target)·2^32 can't overflow BIGINT
    ppsTargetChars: Long = 500L,
    // l-diversity audit (q274): minimum distinct sensitive-attribute
    // values (source) a quasi-identifier group must contain
    lDiversityL: Int = 3,
    // token-budget recipe selection (q267): per-source token budget —
    // the greedy hash-ordered prefix keeps docs while the running total
    // is under it (data recipes are specified in TOKENS, not doc counts)
    recipeTokensPerSource: Long = 1000L,
    // content-defined chunking (q269/q270): rolling-window width and
    // boundary modulus — a boundary lands where the window ending at a
    // position hashes to 0 mod the modulus, so mean chunk length ≈ the
    // modulus and boundaries are CONTENT-anchored (insertion-stable)
    cdcWindow: Int = 8,
    cdcModulus: Int = 16,
    // last-touch attribution (q141): horizon
    attributionHorizonMs: Long = 7L * 86400000L,
    // term ranking (Ranking.scala): the scored BM25 query-term list
    bm25Terms: Seq[String] = Seq("spark", "join", "window"),
    // two-pass exact heavy hitters (q234): emit items with true count
    // >= this threshold; the CMS candidate pass guarantees no false
    // negatives, so the exact aggregate touches only candidates
    cmHeavyMin: Int = 40,
    // PageRank's iteration count (keep iters × log10(n × scale × 85)
    // under long range; the scale is Analytics.PrScale)
    pagerankIters: Int = 3,
    // label propagation (q227): synchronous rounds. Fixed, not
    // convergence-tested: neighbor-mode is not a semilattice (labels
    // move non-monotonically), so unlike the min-propagation kernels
    // every round is a full neighbor aggregate and the round count is
    // the budget
    lpaRounds: Int = 3,
    // segment family (Segments.scala): word-window width for exact
    // segment-level dedup/scrub (the paragraph unit of Lee et al.'s
    // exact-substring dedup, adapted to newline-free corpora), the
    // distinct-doc frequency at which a segment counts as boilerplate,
    // RAG chunking char window/stride, and the inverted-index posting
    // cap (full lists shard by term at 100 TB; the capped head is the
    // portable exact slice)
    segWords: Int = 12,
    boilerplateMinDf: Int = 3,
    chunkChars: Int = 200,
    chunkStride: Int = 150,
    postingsCap: Int = 50,
    // mixture resampling (q103): per-language keep fraction — the data-
    // mixture rebalance step before training (downsample over-
    // represented languages). Fractions become 4-hex md5 thresholds;
    // >= 1.0 keeps everything. Unlisted languages default to 1.0.
    mixtureFracs: Map[String, Double] =
      Map("en" -> 0.35, "es" -> 0.8, "de" -> 0.8, "fr" -> 1.0, "zh" -> 1.0),
    // per-source top-k (q104): keep count per source and the salt width
    // B of the two-stage exact top-k (stage 1 keeps K per (source,
    // doc_id mod B) so each source spreads over B tasks; stage 2 ranks
    // the <= B*K survivors)
    sourceTopK: Int = 5,
    sourceTopKSalt: Int = 4,
    // hybrid retrieval (q110): per-side candidate pool size
    rrfPoolK: Int = 50,
    // burst hours (q130): minimum active hours for a stable per-user
    // baseline
    burstMinHours: Int = 24,
    // k-anonymity audit (q137): minimum group size and the char width
    // of the length-bin quasi-identifier
    kAnonK: Long = 5L,
    kAnonLenBin: Long = 100L,
    // session path mining (q175): 3-step sequences reported
    pathTopK: Int = 25,
    // RFM segmentation (q185): a user is Recent within this of the
    // corpus's last purchase, Frequent at ≥ this many purchases,
    // Monetary at ≥ this decimal-exact spend
    rfmRecentMs: Long = 7L * 86400000L,
    rfmFreqMin: Long = 5L,
    rfmSpendMin: Double = 500.0,
    // large-volume orders (q151, TPC-H Q18 shape): minimum summed
    // lineitem quantity — the tail threshold that makes the survivor
    // set broadcast-small (874 orders of 14.7k at sf0.01)
    bigOrderMinQty: Double = 200.0,
    // salted skew join (q153): replication factor — each dim row is
    // cloned saltFactor ways, each fact row probes exactly one clone
    saltFactor: Int = 8,
    // collocations (q155): minimum pair count + report size
    collocMinCount: Int = 5,
    collocTopK: Int = 50,
    // TextRank keywords (q221): report size
    textrankTopK: Int = 50,
    // k-core (q159): the core number and the peeling round bound
    // (convergence-guarded like the assembly loops)
    kcoreK: Int = 3,
    kcoreRounds: Int = 4,
    // q196: within-cell pair space cap — cohesion is computed over at
    // most this many md5-ranked members per cell (exact flag marks
    // cells small enough that the cap changed nothing), so the eval is
    // unconditionally bounded at cap²/2 pairs per cell instead of
    // bounded-by-config-contract
    cohesionPairCap: Int = 1000,
    // two-sample KS test (q169): the sources whose length
    // distributions are compared
    ksSourceA: String = "src0",
    ksSourceB: String = "src1",
    // multi-source BFS (q170): hop budget (convergence-guarded —
    // unreached nodes are absent, not wrong)
    bfsRounds: Int = 4,
    // weighted SSSP (q208): max path length in EDGES explored — the
    // min-plus loop's round budget (convergence-guarded; weighted
    // shortest paths can improve through longer-hop routes, so this
    // sits above bfsRounds)
    ssspRounds: Int = 8,
    // BPE-merge tokenizer (q167): the merge list applied IN ORDER —
    // each entry is "left right" on space-separated units; corpus must
    // be BMP text (the char-spacing regex is UTF-16-unit-based on the
    // JVM and codepoint-based in RE2 — they agree only below U+10000)
    bpeMerges: Seq[String] = Seq("t h", "th e", "i n", "a n", "an d",
      "e r", "o n", "r e", "o r", "e n"),
    // BPE-merge TRAINER (q201): number of merges to learn — bounds the
    // driver loop; each iteration is one corpus scan + one argmax row
    bpeNumMerges: Int = 6,
    // skyline (q233): range-partition count of the distributed
    // prefix-min scan (result is partition-invariant; size this to the
    // corpus like any shuffle parallelism)
    skylineRangeParts: Int = 8,
    // rolling sketch quantile (q245): trailing window in days and the
    // percentile level served from the merged daily sketches
    rollingQuantileDays: Int = 3,
    rollingQuantileP: Int = 95,
    // time-decayed scores (q254): one halving per this many days
    decayHalfLifeDays: Long = 365L,
    // pseudo-relevance feedback (q256): feedback-doc and expansion-term
    // counts — both bound the driver round trip
    prfFeedbackDocs: Int = 3,
    prfExpandTerms: Int = 2,
    // q321 (DSIR resample): the priority sample keeps this many docs
    dsirSampleK: Int = 100,
    // q328 (MMR rerank): diversify the top-mmrK out of a relevance
    // pool of mmrPool candidates; λ is fixed at 1/2 (exact halves —
    // the fixed-point discipline needs no knob for it)
    mmrPool: Int = 15,
    mmrK: Int = 5,
    // scratch base for the source round-trip queries (q65/q72/q79) —
    // MUST point at a shared filesystem on a multi-node cluster
    // (driver-local tmp is invisible to off-node executors); local
    // mode defaults to java.io.tmpdir
    scratchDir: String = System.getProperty("java.io.tmpdir"))


/** The single shared instance behind every entry-point object
  * (GraphOps/Pipeline/Dedup/…). Sharing matters: a query's Spark side
  * and its oracle SQL builder must read round counts and thresholds from
  * the SAME config, and the durability knob must flip every iterative
  * loop at once, not one object's private copy.
  *
  * `reliableStageCheckpoints` is runtime-settable — no source edit
  * needed on a cluster: JVM property `-Dgraft.reliableStageCheckpoints=
  * true` or env `GRAFT_RELIABLE_STAGE_CHECKPOINTS=true` on the driver
  * (checkpoint mode is chosen during driver-side plan building, so a
  * driver-side setting is sufficient). Pair it with
  * `SparkContext.setCheckpointDir` on HDFS/object storage.
  *
  * The object also holds the constants that several operator families
  * read. */
object GraftConfig {
  val default: GraftConfig = GraftConfig(
    reliableStageCheckpoints = sys.props
      .get("graft.reliableStageCheckpoints")
      .orElse(sys.env.get("GRAFT_RELIABLE_STAGE_CHECKPOINTS"))
      .exists(_.trim.equalsIgnoreCase("true")),
    scratchDir = sys.props.get("graft.scratchDir")
      .orElse(sys.env.get("GRAFT_SCRATCH_DIR"))
      .getOrElse(System.getProperty("java.io.tmpdir")))

  // stopword list of the text-analysis and curation stopword filters
  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to")
  // md5-bucket split bound: first-2-hex-chars upper bound of the val
  // bucket (0xcd-0xe5 val ≈10%, rest test; the train bound is
  // cfg.splitTrainUpper); compared as fixed-width hex strings on both
  // engines
  val splitValUpper: String = "e6"
  // decremental dedup families (q296): DOCS whose md5 bucket is ≥
  // this bound form the deterministic retraction batch (0xe0-0xff ≈
  // 12.5% — the right-to-be-forgotten wave) applied to the persisted
  // near-dup pair/family artifacts
  val docRetractLower: String = "e0"
  // nearest-rank percentile levels (q91 and the sketch quantiles)
  val percentileLevels: Seq[Int] = Seq(50, 90, 99)
  // hybrid retrieval (q110): RRF constant, fused report size, and the
  // vec_id whose embedding is the vector half of the hybrid query (the
  // text half is bm25Terms; the per-side pool is cfg.rrfPoolK)
  val rrfK: Int = 60
  val rrfTopK: Int = 20
  val hybridQueryVec: Int = 0
  // mergeable quantile sketch (q205-q207): sub-bucket bits per octave
  // — 2^bits linear sub-buckets per power of two, relative bucket
  // width (and thus quantile error) ≤ 2^-bits
  val quantileSketchBits: Int = 5
  // multi-source BFS / PageRank seed set (q170/q208): doc_id % mod == 0
  val bfsSeedMod: Long = 100L
  // negative sampling (q240): hash-derived negatives per query doc
  val negSlots: Int = 3
  // DSIR (q320/q321) and soft dedup (q322): likelihood ratios and
  // weights live in this micro fixed-point scale
  val dsirScale: Long = 1000000L
}

package graft

/** Tunable thresholds for every Graft operator family — the analogue of
  * the reference's BrushConfig (BrushConfig.java: 408 lines of CLI/job
  * parameters), as a plain case class.
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
    trustMinFreq: Int = 2,
    dedupKeyWords: Int = 4,
    containPrefixLen: Int = 16,
    // graph cleaning [CloudBrush: LowCovThreshold, tip/bubble params]
    lowCovThreshold: Double = 70.0,
    tipRounds: Int = 3,
    // hot-key guard on overlap candidate generation [MatchPrefix.java:
    // 155-156 skips keys on the BuildHighKmerList list]: a boundary key
    // occurring more than this many times (suffix+prefix occurrences) is
    // excluded from edge candidate generation — one viral phrase would
    // otherwise create an O(n²) join bucket no AQE skew-split can cap
    maxOverlapKeyDf: Int = 1000,
    // quotient-class tables (q22/q25/q36/q42) are ≤|vocab|² rows; with a
    // bounded vocabulary they broadcast. For corpora whose boundary-word
    // vocabulary is unbounded, set false to fall back to a shuffle join.
    broadcastQuotientClasses: Boolean = true,
    // full-assembly composition round bounds [BrushAssembler phase loops:
    // chimeric ≤2 (BrushAssembler.java:347 `round < 2`), the other loops
    // run to convergence there — bounded here so the oracle can unroll
    // the same counts; each stage is idempotent once converged, so any
    // bound ≥ the data's convergence round count is exact]
    asmChimericRounds: Int = 2,
    asmTipRounds: Int = 4,
    asmPopRounds: Int = 2,
    asmPostLowcovTipRounds: Int = 3,
    asmRepeatRounds: Int = 2,
    // stage handoffs in the assembly composition: false = eager
    // localCheckpoint (in-memory, right for single-JVM/local). On a
    // multi-executor cluster set true — stage cuts become reliable
    // checkpoints (the checkpoint dir must point at HDFS/object storage
    // via SparkContext.setCheckpointDir), surviving executor loss exactly
    // like the reference's HDFS handoffs between MapReduce jobs.
    reliableStageCheckpoints: Boolean = false,
    // partition sizing for stage-checkpointed graph tables (GraphOps.
    // sizedCk): target rows per partition when re-cutting a counted
    // stage output. Fixpoint rounds pay task scheduling + AQE stage
    // latency PER PARTITION, so a small stage table must not carry the
    // corpus-sized parallelism of the scan/join plan that built it;
    // 1M edge rows ≈ tens of MB per task, the same bytes-per-task
    // discipline AQE applies to shuffle outputs.
    stageRowsPerPartition: Long = 1L << 20,
    // graph stats [CloudBrush: Stats cutoffs array + min contig length]
    statsMinLen: Long = 100L,
    // bubble popping [FindBubbles.java:207 BUBBLEEDITRATE]
    bubbleEditRate: Double = 0.05,
    // dedup family
    shingleK: Int = 5,
    minhashJaccard: Double = 0.6,
    jaccardThreshold: Double = 0.35,
    rareDf: Int = 20,
    nearDupCos: Double = 0.42,
    signBands: Int = 8,
    signBandBits: Int = 8,
    // complete prefix-filtered similarity join (q131) + LSH eval (q132):
    // the Jaccard threshold as an integer fraction tNum/tDen so the
    // accept test is an exact cross-multiply (keep equal to
    // minhashJaccard so q132's recall measures q31's configuration)
    simJoinTNum: Int = 3,
    simJoinTDen: Int = 5,
    // q131's similarity unit: word n-gram width. Tokens, not char
    // shingles — prefix filtering is only as good as its rarest units,
    // and char-5 grams over a small vocabulary are shared by everything
    // (measured: median df 291 and 6.5M candidates for 256 true pairs
    // at sf0.1, vs median df 1 and candidates == truth with word grams)
    simJoinWords: Int = 5,
    // simhash hamming pairing: 16 fingerprint bits split into bands ×
    // bits; pigeonhole-sound for hamming ≤ bands − 1
    simhashBands: Int = 4,
    simhashBandBits: Int = 4,
    simhashMaxHamming: Int = 3,
    // correction votes [PreCorrect]: a substitution is voted only when
    // the corrected k-mer reaches this global frequency
    voteStrongFreq: Int = 3,
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
    // (determinism over adaptivity, the pcaIters discipline).
    beamEntries: Int = 8,
    beamWidth: Int = 8,
    beamHops: Int = 3,
    // product quantization (q222/q223): subspace count (must divide the
    // embedding dim), codewords per subspace, Lloyd iterations. 4×8 on
    // 64-dim = 16 doubles/vector → 4 small ints — the compression a
    // serving index actually ships; recall is MEASURED by q223
    pqSubspaces: Int = 4,
    pqCodewords: Int = 8,
    pqIters: Int = 2,
    // top-principal-component projection (q150): fixed power-iteration
    // count (fixed, not convergence-tested — determinism over adaptivity)
    pcaIters: Int = 16,
    // top-k PCA / whitening (q211): number of components extracted by
    // deflation (each pays pcaIters driver iterations on the d×d
    // covariance artifact — corpus-independent cost)
    pcaTopK: Int = 3,
    // semantic dedup (q94): within-cell cosine threshold above which
    // the higher-id vector is dropped
    semDedupCos: Double = 0.42,
    // streaming: state-store partition count for the bounded-replay
    // drives — a stream's shuffle-partition count is pinned at first
    // start and becomes its state-store count, so it must be sized to
    // the stream's key cardinality/throughput, not the batch shuffle
    // default (which exists for scan parallelism). On a production
    // stream raise it to ≈ peak-keys-in-state / what one store's
    // commit latency tolerates.
    streamStatePartitions: Int = 8,
    // relational
    sessionGapMs: Long = 1800000L,
    highValueOrder: Double = 200000.0,
    // text analysis
    stopwords: Seq[String] = Seq("the", "a", "and", "of", "to"),
    langIdTrainMod: Int = 5,
    langIdProfileSize: Int = 30,
    winnowK: Int = 5,
    winnowWindow: Int = 4,
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
    // train/eval contamination: word-n-gram size, boilerplate df cap
    // (also the inverted-index join's per-key fanout bound), and the
    // deterministic split modulus (doc_id % mod ≥ mod-2 → eval)
    contamNgramWords: Int = 8,
    contamMaxTrainDf: Int = 50,
    contamEvalMod: Int = 10,
    // md5-bucket split bounds: first-2-hex-chars upper bounds for the
    // train and val buckets (0x00-0xcc train ≈80%, 0xcd-0xe5 val ≈10%,
    // rest test); compared as fixed-width hex strings on both engines
    splitTrainUpper: String = "cd",
    splitValUpper: String = "e6",
    // decremental CC (q281): edges whose md5 bucket is ≥ this bound
    // form the deterministic DELETE batch (0xd0-0xff ≈ 18.75% of
    // edges) retracted against the persisted full-graph labels
    ccDeleteLower: String = "d0",
    // decremental dedup families (q296): DOCS whose md5 bucket is ≥
    // this bound form the deterministic retraction batch (0xe0-0xff ≈
    // 12.5% — the right-to-be-forgotten wave) applied to the persisted
    // near-dup pair/family artifacts
    docRetractLower: String = "e0",
    // feature-hashing text embedder (q282) dimension count and the
    // derived-vector near-dup (q283) cosine threshold
    featHashDim: Int = 32,
    // 0.95 measured selective-but-nonempty at sf0.01 (47 of 124,750
    // possible pairs; 0.6 passed 41% of all pairs — bag-of-words
    // vectors of same-vocabulary docs are globally correlated)
    derivedNeardupMin: Double = 0.95,
    // q283 candidate generation: banded random-hyperplane sign LSH
    // (SimHash) over the derived vectors — bands × bits-per-band, plus
    // the hot-bucket df cap (a (band, key) bucket with more docs than
    // this is dropped from candidate generation — the maxOverlapKeyDf
    // discipline), which bounds candidates at ≤ bands·cap·n/2 = O(n).
    // 32×24/512 measured at sf0.1: recall 0.963 vs exact-threshold
    // truth (the replaced single-dominant-feature block read 0.960)
    // at 6.4× fewer candidates (825k vs 5.28M); q287 re-prices the
    // filter every run
    derivedBands: Int = 32,
    derivedBandBits: Int = 24,
    derivedBandMaxDf: Int = 512,
    // register-ledger compaction (q284): aged daily register rows
    // merge into super-registers of this many days
    ledgerPeriodDays: Int = 28,
    // q287 blocking eval: fixed-COUNT md5-ordered doc sample (the
    // all-pairs side stays O(sample²) at any corpus size)
    derivedEvalSample: Int = 400,
    vocabTopK: Int = 100,
    bigramMinCount: Int = 5,
    // repetition quality filter (Gopher/MassiveText-style): char k-gram
    // size and the max-frequency fraction above which a doc is flagged
    repShingleK: Int = 10,
    repMaxFrac: Double = 0.05,
    // deterministic sampling: first-4-hex-chars md5 bucket upper bound
    // ('3333' ≈ 0x3333/0x10000 = 20%), hash keyed by (source, doc_id)
    sampleHexUpper: String = "3333",
    // stratified sampling (q81): per-language doc cap, md5-ordered
    stratifiedCap: Int = 50,
    // weighted PPS sampling (q129): chars at which inclusion probability
    // saturates at 1 — π = min(1, n_chars/target); must stay ≤ ~2^20 so
    // the integer keep test min(w,target)·2^32 can't overflow BIGINT
    ppsTargetChars: Long = 500L,
    // PCM decimation (q276): boxcar downsample factor (16 kHz -> 4 kHz
    // would be 4; synthetic clips hold 32 samples -> 8 output blocks)
    pcmDecimate: Int = 4,
    // l-diversity audit (q274): minimum distinct sensitive-attribute
    // values (source) a quasi-identifier group must contain
    lDiversityL: Int = 3,
    // image near-dup (q302): candidate pairs must share the quantized
    // pooled-thumbnail key (each pooled byte >> 4); buckets above the
    // df cap are dropped from candidate generation (the maxOverlapKeyDf
    // hot-key discipline — a monochrome-heavy corpus would otherwise
    // collapse into one O(n²) bucket) and survivors verify by exact
    // integer squared L2 distance between pooled thumbnails, kept at
    // ≤ maxD2 (≈ RMSE 8 per pooled byte on a 12-dim descriptor)
    imageNeardupMaxD2: Long = 768L,
    imageDupKeyMaxDf: Int = 1000,
    // snapshot retention (q304): how many newest copy-on-write snapshot
    // versions the vacuum keeps readable (time travel's bound — older
    // versions' files are reclaimed)
    cowRetainVersions: Int = 2,
    // read pin (q333): the lowest version a registered reader still
    // needs as-of — the vacuum gate keeps every version >= the pin
    // readable even when the retention window alone would retire it
    // (with retain=2 on a 4-version chain the window keeps v3/v4; the
    // pin at 2 is what saves v2, so the gate is exercised, not idle)
    cowReadPin: Int = 2,
    // IVF probe curve (q306): sweep nprobe from 1 to this bound — past
    // the serving default so the curve shows where recall saturates
    probeCurveMax: Int = 4,
    // audio near-dup (q308): candidates share the quantized frame-energy
    // key (each frame energy >> 28); hot buckets above the df cap drop
    // (the maxOverlapKeyDf discipline — a silence-heavy corpus would
    // collapse into one bucket); survivors verify by exact integer L1
    // over frame energies, kept at ≤ maxL1 (tighter than the key's own
    // bin width, so the verify does real work)
    audioNeardupMaxL1: Long = 100000000L,
    audioDupKeyMaxDf: Int = 1000,
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
    // temporal joins (Temporal.scala): as-of event types (left row takes
    // the latest right row at-or-before it, per user) and the
    // point-in-interval query's point event type; bucket width for the
    // interval join's explode-to-buckets equi-join
    asofLeftType: String = "purchase",
    asofRightType: String = "view",
    // last-touch attribution (q141): qualifying channels + horizon
    attributionChannels: Seq[String] = Seq("view", "click"),
    attributionHorizonMs: Long = 7L * 86400000L,
    intervalPointType: String = "error",
    intervalBucketMs: Long = 3600000L,
    // term ranking (Ranking.scala): per-doc top-k tf-idf terms; BM25
    // parameters and the scored query-term list
    tfidfTopK: Int = 3,
    bm25K1: Double = 1.2,
    bm25B: Double = 0.75,
    bm25Terms: Seq[String] = Seq("spark", "join", "window"),
    // Count-Min sketch (Sketch.scala): salted hash rows, bucket-id hex
    // prefix length (16^len buckets per row), heavy-hitter report size
    cmRows: Int = 4,
    cmHexChars: Int = 2,
    cmHeavyK: Int = 20,
    // two-pass exact heavy hitters (q234): emit items with true count
    // >= this threshold; the CMS candidate pass guarantees no false
    // negatives, so the exact aggregate touches only candidates
    cmHeavyMin: Int = 40,
    // analytics (Analytics.scala): nearest-rank percentile levels and
    // PageRank's iteration count + fixed-point scale (integer ranks =
    // SCALE ≙ 1.0, so every engine agrees bit-for-bit; keep
    // iters × log10(n × scale × 85) under long range)
    percentileLevels: Seq[Int] = Seq(50, 90, 99),
    // q91's coarse-bucket width for the two-phase exact quantile: phase-1
    // histogram rows = value-range / width per class (bounded by the
    // price domain, NOT corpus size); phase 2 ranks only inside the
    // <= |classes|·|levels| selected buckets
    percentileBucketWidth: Double = 4096.0,
    pagerankIters: Int = 3,
    pagerankScale: Long = 1000000000000L,
    // label propagation (q227): synchronous rounds. Fixed, not
    // convergence-tested: neighbor-mode is not a semilattice (labels
    // move non-monotonically), so unlike the min-propagation kernels
    // every round is a full neighbor aggregate and the round count is
    // the budget
    lpaRounds: Int = 3,
    // sequence packing (q83): context-window token budget per packed
    // bin, and the md5-hex prefix length that defines packing shards
    // (16^len shards; each shard's window sorts on one task, so the
    // shard count must scale with the corpus — 2 hex = 256 shards for
    // local testing, 4 hex = 65k shards ≈ 1.5 GB/shard at 100 TB)
    packCtxTokens: Long = 2048L,
    packShardHexLen: Int = 2,
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
    // global length binning (q105): nearest-rank percentile cut levels
    // computed from a value histogram (no global sort)
    lengthBinPcts: Seq[Int] = 10 to 90 by 10,
    // classic decision-support parameters (q106/q107, TPC-H Q3/Q5
    // shapes): market segment + cutoff date + report size for shipping
    // priority; region + order year for local supplier volume
    shipPrioritySegment: String = "BUILDING",
    shipPriorityDate: String = "1996-06-30 00:00:00",
    shipPriorityTopK: Int = 10,
    localVolumeRegion: String = "ASIA",
    localVolumeYear: Int = 1997,
    // hybrid retrieval (q110): RRF constant, per-side candidate pool
    // size, fused report size, and the vec_id whose embedding is the
    // vector half of the hybrid query (the text half is bm25Terms)
    rrfK: Int = 60,
    rrfPoolK: Int = 50,
    rrfTopK: Int = 20,
    hybridQueryVec: Int = 0,
    // ordered funnel stages (q117), first-hit-in-order semantics
    funnelStages: Seq[String] = Seq("view", "click", "purchase"),
    // burst hours (q130): minimum active hours for a stable per-user
    // baseline, and z² of the integer z-test (9 ≙ 3σ)
    burstMinHours: Int = 24,
    burstZSq: Long = 9L,
    // k-anonymity audit (q137): minimum group size and the char width
    // of the length-bin quasi-identifier
    kAnonK: Long = 5L,
    kAnonLenBin: Long = 100L,
    // trending (q145): event types kept per day
    trendTopK: Int = 3,
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
    // late-order priority count (q152, TPC-H Q4 shape): order year and
    // the ship-lag (days past order date) beyond which a line is late
    waitYear: Int = 1996,
    lateShipDays: Int = 30,
    // salted skew join (q153): replication factor — each dim row is
    // cloned saltFactor ways, each fact row probes exactly one clone
    saltFactor: Int = 8,
    // sketch-tuned salted join (q265): target fact rows per (key, salt)
    // slice — saltFactor derives as ceil(estimated hottest-key
    // multiplicity / this); test-scale default like the other knobs
    // (a production run would set task-sized millions)
    saltTargetRows: Long = 32L,
    // doc LM score (q154): fixed-point scale for the add-1-smoothed
    // bigram probability (SCALE ≙ 1.0); per-bigram scores are < SCALE,
    // so per-doc sums stay far under long range
    lmScoreScale: Long = 1000000L,
    // collocations (q155): minimum pair count + report size
    collocMinCount: Int = 5,
    collocTopK: Int = 50,
    // TextRank keywords (q221): report size
    textrankTopK: Int = 50,
    // Bloom filter (q156/q157): filter width in bits (must be a power
    // of two so hex-slice hashes reduce by mask, not mod-bias) and
    // hash count; 8192 bits / 4 hashes ≈ 1% FP at ~850 keys
    bloomBits: Int = 8192,
    bloomHashes: Int = 4,
    // k-core (q159): the core number and the peeling round bound
    // (convergence-guarded like the assembly loops)
    kcoreK: Int = 3,
    kcoreRounds: Int = 4,
    // sole-blame suppliers (q162, TPC-H Q21 shape): report size
    soleBlameTopK: Int = 20,
    // per-label embedding outliers (q164): vectors reported per label
    outlierTopK: Int = 10,
    // TPC-H canon shapes, round 9. q189 (Q13 custdist): the priority
    // class excluded from order counting (the reference query's
    // comment NOT LIKE filter, on a column this schema has)
    custDistExcludePriority: String = "5-LOW",
    // q190 (Q17 small-quantity revenue): the audited brand
    smallQtyBrand: String = "Brand#12",
    // q191 (Q22 global customers): the nation-key set standing in for
    // Q22's phone country codes, and the dormancy cutoff — on this
    // synthetic corpus EVERY customer has at least one order, so Q22's
    // literal "no orders at all" is structurally vacuous; "no orders
    // at or after the cutoff" keeps the anti-join shape non-vacuous
    // and is the more realistic churn question anyway
    globalNationKeys: Seq[Int] = Seq(1, 3, 5, 7, 9, 11, 13),
    globalDormantSince: String = "2000-01-01",
    // q193 (Q7 volume shipping): the audited nation pair
    volumeNationA: String = "NATION_1",
    volumeNationB: String = "NATION_2",
    // min-cost supplier (q202, the Q2 shape): the region whose suppliers
    // compete and the part type audited
    minCostRegion: String = "EUROPE",
    minCostPartType: String = "STANDARD",
    // part-value concentration (q203, the Q11 shape): the nation whose
    // supply value is profiled, and the share denominator — a part is
    // kept when value * denom > total (exact decimal cross-multiply).
    // NATION_3 is the smallest nation key with suppliers at EVERY
    // test SF (NATION_7 has none at sf0.001 — the query would be
    // vacuously empty at spec scale)
    valueNation: String = "NATION_3",
    valueShareDenom: Int = 1000,
    // persisted-family split (q204): the arriving delta batch is the
    // doc_id % mod == rem slice of the corpus (deterministic stand-in
    // for today's crawl)
    deltaBatchMod: Long = 20L,
    deltaBatchRem: Long = 3L,
    // mergeable quantile sketch (q205-q207): sub-bucket bits per octave
    // — 2^bits linear sub-buckets per power of two, relative bucket
    // width (and thus quantile error) ≤ 2^-bits
    quantileSketchBits: Int = 5,
    // cluster-aware curation over the trained IVF cells (round 9):
    // q194 per-cell sample cap, q195 discriminative-term report size +
    // minimum in-cell count
    clusterSampleCap: Int = 5,
    clusterTermsTopK: Int = 5,
    clusterTermsMinCount: Int = 3,
    // q196: within-cell pair space cap — cohesion is computed over at
    // most this many md5-ranked members per cell (exact flag marks
    // cells small enough that the cap changed nothing), so the eval is
    // unconditionally bounded at cap²/2 pairs per cell instead of
    // bounded-by-config-contract
    cohesionPairCap: Int = 1000,
    // q198 dynamic partition pruning: a day is an "incident day" at or
    // above this many error events (selective but non-vacuous: ~5 of
    // 30 days at sf0.01)
    dppErrorMinCount: Long = 75L,
    // q199 (Q8 market share): the supplier nation whose share is
    // measured, within customers of this region
    marketShareNation: String = "NATION_3",
    marketShareRegion: String = "AFRICA",
    // q200 dedup threshold curve: swept Jaccard percents — must all be
    // ≥ the q131 base threshold (simJoinTNum/TDen), whose pair table
    // the sweep reads
    dedupCurvePcts: Seq[Int] = Seq(60, 65, 70, 75, 80, 85, 90, 95),
    // supplier diversity (q166, TPC-H Q16 shape): suppliers with
    // account balance below this are excluded (the complaint filter)
    suppExcludeBelowAcctbal: Double = 0.0,
    // robust embedding scaler (q172): phase-1 bucket width over
    // 1e6-scaled elements (bounded by the VALUE DOMAIN, not n), and
    // the non-negativity shift (exact while |x| < shift/1e6)
    robustBucketWidth: Long = 65536L,
    robustShift: Long = 1000000000L,
    // two-sample KS test (q169): the sources whose length
    // distributions are compared
    ksSourceA: String = "src0",
    ksSourceB: String = "src1",
    // multi-source BFS (q170): seeds are doc_id % mod == 0; hop budget
    // (convergence-guarded — unreached nodes are absent, not wrong)
    bfsSeedMod: Long = 100L,
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
    // partitioned-layout scan (q146): the language whose partition the
    // pruned read selects
    layoutScanLang: String = "en",
    // sketch-backed split-drift gate (q214): per-bucket chi-square above
    // which a bucket counts as drifted (6.635 = the 1-df p<0.01 cut)
    chi2DriftThreshold: Double = 6.635,
    // small-file compaction (q212): bin capacity the FFD packer fills
    // part files toward, and the fragment count the demo layout is
    // deliberately shattered into before compacting
    compactTargetBytes: Long = 128L * 1024 * 1024,
    compactFragments: Int = 8,
    // zone-map pruning (q230): file count of the range-clustered layout
    zoneMapFiles: Int = 8,
    // skyline (q233): range-partition count of the distributed
    // prefix-min scan (result is partition-invariant; size this to the
    // corpus like any shuffle parallelism)
    skylineRangeParts: Int = 8,
    // link prediction (q235): emit candidate links sharing at least
    // this many common neighbors
    linkMinCommon: Int = 2,
    // greedy coverage selection (q237): target vocabulary size (top
    // bigrams by corpus count) and selection rounds — both bound the
    // driver loop and the per-round broadcast state
    coverageVocab: Int = 300,
    coverageRounds: Int = 3,
    // seasonal anomaly (q239): squared z threshold of the integer
    // hour-of-day burst test (9 = three standard deviations)
    seasonalZSq: Long = 9L,
    // negative sampling (q240): hash-derived negatives per query doc
    negSlots: Int = 3,
    // out-of-fold target encoding (q244): deterministic fold count
    targetFolds: Int = 4,
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
    // round-15+ knobs live in a nested block: the flat parameter list
    // hit the JVM's 254-slot constructor cap (Long/Double count twice);
    // flat `cfg.<knob>` access is preserved by forwarder defs below
    ext: GraftExt = GraftExt(),
    // scratch base for the source round-trip queries (q65/q72/q79) —
    // MUST point at a shared filesystem on a multi-node cluster
    // (driver-local tmp is invisible to off-node executors); local
    // mode defaults to java.io.tmpdir
    scratchDir: String = System.getProperty("java.io.tmpdir")) {
  // flat access forwarders for the nested round-15+ knob block
  def profitPartToken: String = ext.profitPartToken
  def topSupplierFrom: String = ext.topSupplierFrom
  def topSupplierDays: Int = ext.topSupplierDays
  def pendingPartPrefix: String = ext.pendingPartPrefix
  def pendingShipYear: Int = ext.pendingShipYear
  def pendingQtyMin: Double = ext.pendingQtyMin
  def pendingNation: String = ext.pendingNation
  def videoDupKeyMaxDf: Int = ext.videoDupKeyMaxDf
  def videoNeardupMaxD2: Long = ext.videoNeardupMaxD2
  def semTargetCellSize: Int = ext.semTargetCellSize
  def ladderCoarseMod: Int = ext.ladderCoarseMod
  def ladderCoarseProbe: Int = ext.ladderCoarseProbe
  def dsirTargetLang: String = ext.dsirTargetLang
  def dsirBuckets: Int = ext.dsirBuckets
  def dsirScale: Long = ext.dsirScale
  def dsirSampleK: Int = ext.dsirSampleK
  def contTNum: Int = ext.contTNum
  def contTDen: Int = ext.contTDen
  def driftTNum: Int = ext.driftTNum
  def driftTDen: Int = ext.driftTDen
  def annFilterLabel: Int = ext.annFilterLabel
  def mmrPool: Int = ext.mmrPool
  def mmrK: Int = ext.mmrK
  def returnedTopK: Int = ext.returnedTopK
  def shipBandFastDays: Int = ext.shipBandFastDays
}

/** Round-15+ knobs (see [[GraftConfig.ext]] — the flat constructor hit
  * the JVM's 254-slot cap, so new knobs accrue here; access stays flat
  * through GraftConfig's forwarder defs). */
case class GraftExt(
    // q311 (Q9 profit roll-up): parts whose name contains this token;
    // unit supply cost is proxied by the part's retail price (this
    // schema has no partsupp table)
    profitPartToken: String = "widget",
    // q312 (Q15 top supplier): revenue-view window start and length
    topSupplierFrom: String = "1997-01-01",
    topSupplierDays: Int = 90,
    // q313 (Q20 nested semijoin): part-name prefix, audited ship year,
    // per-(supplier, part) moved-quantity threshold, and the audited
    // nation — NATION_19 has qualifying suppliers at every test SF
    pendingPartPrefix: String = "c",
    pendingShipYear: Int = 1998,
    pendingQtyMin: Double = 50.0,
    pendingNation: String = "NATION_19",
    // q315 (video near-dup): blocking-bucket df cap and the exact
    // integer squared-L2 verify bound over the temporal fingerprint —
    // tighter than the key's 16-wide bins by design (measured at
    // sf0.01: 58 candidates → 40 kept)
    videoDupKeyMaxDf: Int = 1000,
    videoNeardupMaxD2: Long = 256L,
    // the within-cell pair-space sizing rule (q94/q196, see
    // SimilarityOps.cellsFor): centroid count must grow ∝ corpus so
    // expected cell size stays at most this — the Σ|cell|²
    // sub-quadratic contract
    semTargetCellSize: Int = 256,
    // q317 (hierarchical entry ladder): the coarse layer is centroids
    // with cent_id % mod == 0, and a query descends through this many
    // coarse branches before ranking their cells
    ladderCoarseMod: Int = 4,
    ladderCoarseProbe: Int = 2,
    // q320/q321 (DSIR importance weights + resample): the target
    // distribution is docs in this language, features are word
    // unigrams hashed into this many buckets, per-feature likelihood
    // ratios live in this micro fixed-point scale, and the priority
    // sample keeps this many docs
    dsirTargetLang: String = "en",
    dsirBuckets: Int = 256,
    dsirScale: Long = 1000000L,
    dsirSampleK: Int = 100,
    // q324 (containment join): directional threshold |A∩B|/|A| ≥
    // contTNum/contTDen — higher than the symmetric q131 threshold
    // because containment flags near-complete quotes, not near-dups
    contTNum: Int = 9,
    contTDen: Int = 10,
    // q325 (streaming drift monitor): retrain fires when cumulative
    // delta arrivals reach driftTNum/driftTDen of the base corpus
    driftTNum: Int = 1,
    driftTDen: Int = 4,
    // q326/q327 (attribute-filtered ANN): serve only vectors carrying
    // this label — ~10% selectivity on the test corpora, enough for
    // the pre-vs-post-filter gap to be measurable
    annFilterLabel: Int = 3,
    // q328 (MMR rerank): diversify the top-mmrK out of a relevance
    // pool of mmrPool candidates; λ is fixed at 1/2 (exact halves —
    // the fixed-point discipline needs no knob for it)
    mmrPool: Int = 15,
    mmrK: Int = 5,
    // q347 (Q10 returned-item customers): rows surviving the ordered
    // limit before the dim join-backs
    returnedTopK: Int = 20,
    // q348 (Q12 ship-band priority): a line is 'FAST' when it shipped
    // within this many days of its order (exact epoch-ms comparison)
    shipBandFastDays: Int = 30)

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
  * `SparkContext.setCheckpointDir` on HDFS/object storage. */
object GraftConfig {
  val default: GraftConfig = GraftConfig(
    reliableStageCheckpoints = sys.props
      .get("graft.reliableStageCheckpoints")
      .orElse(sys.env.get("GRAFT_RELIABLE_STAGE_CHECKPOINTS"))
      .exists(_.trim.equalsIgnoreCase("true")),
    scratchDir = sys.props.get("graft.scratchDir")
      .orElse(sys.env.get("GRAFT_SCRATCH_DIR"))
      .getOrElse(System.getProperty("java.io.tmpdir")))
}

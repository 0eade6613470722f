package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hive-style partitioned corpus layout — the directory-level
  * complement to `Tables.writeBucketed` (bucketing co-locates JOIN
  * keys; partitioning prunes SCANS): `lang=en/part-*.parquet`
  * directories mean a per-language query reads ONLY its language's
  * files — at 100 TB, a lang filter over a flat layout still lists and
  * footer-reads every file, while the partitioned layout turns the
  * filter into directory pruning before a single byte of data is read.
  * The partition column lives in the directory name, not the files, so
  * the layout also stores one column fewer. */
object Layout {
  // q198 dynamic partition pruning: a day is an "incident day" at or
  // above this many error events (selective but non-vacuous: ~5 of
  // 30 days at sf0.01)
  val DppErrorMinCount: Long = 75L
  // partitioned-layout scan (q146): the language whose partition the
  // pruned read selects
  val LayoutScanLang: String = "en"
  // small-file compaction (q212): bin capacity the FFD packer fills
  // part files toward, and the fragment count the demo layout is
  // deliberately shattered into before compacting
  val CompactTargetBytes: Long = 128L * 1024 * 1024
  val CompactFragments: Int = 8
  // zone-map pruning (q230): file count of the range-clustered layout
  val ZoneMapFiles: Int = 8

  /** Write `df` partitioned by `byCol` (Hive-style directories). Pick
    * a LOW-cardinality column: every distinct value is a directory,
    * and small-file explosion from a high-cardinality partition key is
    * the classic data-lake pathology (that's what bucketing is for). */
  def writePartitioned(df: DataFrame, path: String, byCol: String): Unit =
    df.write.mode("overwrite").partitionBy(byCol).parquet(path)

  /** q146: partitioned-layout round trip + pruned read — write the
    * documents table partitioned by lang, read it back filtered to one
    * language, and return that slice. The DuckDB oracle is the same
    * filter over the flat table, so the hash gate verifies the
    * write→partition→prune→read cycle loses nothing and leaks nothing
    * across partition boundaries; PlanSpec pins that the filtered scan
    * reads ONLY the selected partition (partition-pruned FileScan). */
  def q146PartitionedScan(spark: SparkSession, dir: String): DataFrame =
    Scratch.withRunDir(spark, dir, "partlang")(q146At(spark, dir, _))

  /** The lazy inner plan (PlanSpec pins the partition-pruned scan on
    * it — the public wrapper's eager cut hides the plan shape). */
  private[graft] def q146At(spark: SparkSession, dir: String, path: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    writePartitioned(docs, path, "lang")
    spark.read.parquet(path)
      .filter(col("lang") === LayoutScanLang)
      .select("doc_id", "lang", "source", "n_chars")
  }

  def q146Sql: String =
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE lang = '${LayoutScanLang}'""".stripMargin

  /** q198: DYNAMIC partition pruning — q146's prune comes from a
    * literal the planner sees; here the pruning set exists only at
    * RUNTIME: events lay out day-partitioned, the "incident day" dim
    * (days with ≥ DppErrorMinCount error events) is computed from
    * data, and Spark injects the broadcast dim's day set into the
    * partitioned scan as a runtime partition filter (DPP) — only
    * incident-day directories are ever read. At 100 TB this is the
    * fact-to-dim star-join pattern: the date dim's predicate can't be
    * inlined into the fact scan at plan time, and without DPP the
    * fact side reads every partition to throw most of them away.
    * PlanSpec pins `dynamicpruning` inside the partitioned scan's
    * PartitionFilters. Day keys are `d<epoch-day>` STRINGS so
    * partition-column type inference cannot insert a cast between the
    * scan column and the join key (a cast there defeats DPP). Output:
    * per incident day, total events / distinct users / error count —
    * the oracle recomputes from the flat table, hash-verifying that
    * pruning lost nothing. */
  def q198DppScan(spark: SparkSession, dir: String): DataFrame =
    Scratch.withRunDir(spark, dir, "partday")(q198At(spark, dir, _))

  /** The lazy inner plan (PlanSpec pins the runtime dynamicpruning
    * partition filter on it). */
  private[graft] def q198At(spark: SparkSession, dir: String, path: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        concat(lit("d"), expr("unix_millis(ts) div 86400000")).as("day"))
    writePartitioned(ev, path, "day")
    val part = spark.read.parquet(path)
    val incidents = ev.filter(col("event_type") === "error")
      .groupBy("day").agg(count(lit(1)).as("n_err"))
      .filter(col("n_err") >= DppErrorMinCount)
    part.join(broadcast(incidents), "day")
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
  }

  def q198Sql: String =
    s"""WITH ev AS (SELECT user_id, event_type,
       |    'd' || CAST(epoch_ms(ts) // 86400000 AS VARCHAR) AS day FROM events),
       |inc AS (SELECT day FROM ev WHERE event_type = 'error'
       |  GROUP BY day HAVING count(*) >= ${DppErrorMinCount})
       |SELECT day, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
       |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
       |FROM ev JOIN inc USING (day)
       |GROUP BY day""".stripMargin

  // ---------------------------------------------------------------------
  // q212: small-file COMPACTION — the layout-health maintenance op beside
  // q146 (partition pruning), q186 (bucketing), q198 (DPP): bin-pack a
  // fragmented directory's part files toward a target size, preserving
  // the partition layout.
  // ---------------------------------------------------------------------

  /** One partition directory's compaction plan: the file sizes found
    * and the FFD bins they pack into. */
  private[graft] final case class CompactPlan(
      partition: String, files: Seq[(String, Long)], bins: Seq[Seq[(String, Long)]])

  /** First-fit-decreasing bin-packing of (path, bytes) files into bins
    * of capacity `target` (q83's packing discipline applied to FILES):
    * sort by size descending (path ascending on ties — deterministic),
    * place each file in the first bin with room; a file larger than the
    * target becomes its own oversize singleton bin. Every multi-file
    * bin's byte sum is ≤ target BY CONSTRUCTION — the planner property
    * q212 reports as `bins_within_target`. */
  private[graft] def ffdPack(files: Seq[(String, Long)], target: Long): Seq[Seq[(String, Long)]] = {
    val bins = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[(String, Long)]]
    val used = scala.collection.mutable.ArrayBuffer.empty[Long]
    files.sortBy { case (p, s) => (-s, p) }.foreach { f =>
      val i = used.indexWhere(_ + f._2 <= target)
      if (i >= 0) { bins(i) += f; used(i) += f._2 }
      else { bins += scala.collection.mutable.ArrayBuffer(f); used += f._2 }
    }
    bins.map(_.toSeq).toSeq
  }

  /** List a layout's `key=value` partition directories and their part
    * files (name-sorted — determinism), as (partitionDirName, files). */
  private def listParts(spark: SparkSession, path: String): Seq[(String, Seq[(String, Long)])] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath).sortBy(_.getName)
      .map { p =>
        val files = fs.listStatus(p)
          .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
          .map(st => (st.getPath.toString, st.getLen)).sortBy(_._1).toSeq
        (p.getName, files)
      }.toSeq
  }

  /** Compact a partitioned parquet layout: per partition directory, FFD
    * bin-pack the part files toward `targetBytes` and rewrite each bin
    * as ONE output file under the same `key=value` directory at
    * `destPath`. Returns the per-partition plans.
    *
    * Scale: the plan is METADATA-only (one directory listing — the
    * same information a table format's manifest already holds); data
    * moves exactly once, and each bin's rewrite is an independent
    * bounded job (read ≤ target bytes, write one file), so a 100 TB
    * compaction parallelizes per-partition/per-bin and runs
    * incrementally — this self-contained demo executes the bins of a
    * handful of low-cardinality partitions serially, which is the
    * bounded-loop shape, not a corpus-width driver loop. */
  def compactPartitioned(spark: SparkSession, srcPath: String, destPath: String,
      targetBytes: Long): Seq[CompactPlan] = {
    val dest = new org.apache.hadoop.fs.Path(destPath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dest)) fs.delete(dest, true)
    val plans = listParts(spark, srcPath).map { case (part, files) =>
      CompactPlan(part, files, ffdPack(files, targetBytes))
    }
    plans.foreach { pl =>
      pl.bins.foreach { bin =>
        spark.read.parquet(bin.map(_._1): _*).coalesce(1)
          .write.mode("append").parquet(s"$destPath/${pl.partition}")
      }
    }
    plans
  }

  /** Per-file layout report for a before/after pair — the raw rows the
    * compaction spec derives file counts and size histograms from:
    * (phase, partition, file, bytes). */
  def compactionReport(spark: SparkSession, srcPath: String, destPath: String): DataFrame = {
    import spark.implicits._
    (listParts(spark, srcPath).flatMap { case (p, fl) =>
      fl.map { case (f, b) => ("before", p, f, b) }
    } ++ listParts(spark, destPath).flatMap { case (p, fl) =>
      fl.map { case (f, b) => ("after", p, f, b) }
    }).toDF("phase", "partition", "file", "bytes")
  }

  /** q212: small-file compaction ROUND TRIP + eval — write the
    * documents table deliberately fragmented (`CompactFragments` tasks
    * × lang partitions — the classic small-file pathology this
    * operator exists to heal), compact it with [[compactPartitioned]]
    * toward `CompactTargetBytes`, and emit one eval row per lang:
    * content statistics read FROM THE COMPACTED LAYOUT (doc count,
    * char sum, an md5-word content fingerprint — the DuckDB oracle
    * recomputes all three from the flat table, so the hash gate proves
    * the fragment→compact→read cycle is content-lossless end-to-end)
    * plus the layout-health gates, TRUE by construction when the
    * compactor works (the q206 in-bounds discipline — the eval catches
    * a broken planner or a lossy rewrite, the spec carries the actual
    * file-count/histogram numbers via [[compactionReport]]):
    * `lossless` (compacted content aggregates ≡ fragmented layout's),
    * `plan_respected` (output file count = planned bin count),
    * `bins_within_target` (every multi-file bin's input bytes ≤
    * target), `files_not_increased` (per-partition file count never
    * grows). */
  def q212CompactFiles(spark: SparkSession, dir: String): DataFrame =
    Scratch.withRunDirs(spark, dir, "compact_src", "compact_dst") { ps =>
      q212At(spark, dir, ps(0), ps(1))
    }

  private[graft] def q212At(spark: SparkSession, dir: String,
      src: String, dst: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    docs.repartition(CompactFragments)
      .write.mode("overwrite").partitionBy("lang").parquet(src)
    val plans = compactPartitioned(spark, src, dst, CompactTargetBytes)
    val after = listParts(spark, dst).toMap
    import spark.implicits._
    val layoutEval = plans.map { pl =>
      val lang = pl.partition.stripPrefix("lang=")
      val afterFiles = after.getOrElse(pl.partition, Seq.empty).size
      (lang,
        afterFiles.toLong == pl.bins.size.toLong,
        pl.bins.forall(b => b.size == 1 || b.map(_._2).sum <= CompactTargetBytes),
        afterFiles <= pl.files.size)
    }.toDF("lang", "plan_respected", "bins_within_target", "files_not_increased")
    def contentAgg(df: DataFrame) = df.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars").cast("long")).as("sum_chars"),
      sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")).as("fp"))
    val compacted = contentAgg(spark.read.parquet(dst))
    val fragmented = contentAgg(spark.read.parquet(src))
      .select(col("lang"), col("n_docs").as("f_docs"),
        col("sum_chars").as("f_chars"), col("fp").as("f_fp"))
    compacted.join(fragmented, "lang").join(broadcast(layoutEval), "lang")
      .select(col("lang"), col("n_docs"), col("sum_chars"), col("fp"),
        (col("n_docs") === col("f_docs") && col("sum_chars") === col("f_chars") &&
          col("fp") === col("f_fp")).as("lossless"),
        col("plan_respected"), col("bins_within_target"), col("files_not_increased"))
  }

  def q212Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT) AS fp,
      |  TRUE AS lossless, TRUE AS plan_respected,
      |  TRUE AS bins_within_target, TRUE AS files_not_increased
      |FROM documents GROUP BY lang""".stripMargin

  /** INCREMENTAL compaction: like [[compactPartitioned]], but a
    * partition whose FFD plan cannot reduce its file count (bins ==
    * files — every file already stands alone) is SKIPPED: its part
    * files are byte-copied to the destination instead of decoded and
    * re-encoded. At 100 TB this is the difference between a nightly
    * compactor that touches yesterday's dirty partitions and one that
    * rewrites the lake: the skip decision is metadata-only, the copy
    * moves bytes without CPU, and only genuinely fragmented
    * partitions pay the rewrite. Returns (plans, skipped-partition
    * names). */
  def compactIncremental(spark: SparkSession, srcPath: String, destPath: String,
      targetBytes: Long): (Seq[CompactPlan], Seq[String]) = {
    val dest = new org.apache.hadoop.fs.Path(destPath)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dest.getFileSystem(conf)
    if (fs.exists(dest)) fs.delete(dest, true)
    val plans = listParts(spark, srcPath).map { case (part, files) =>
      CompactPlan(part, files, ffdPack(files, targetBytes))
    }
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    plans.foreach { pl =>
      if (pl.bins.size == pl.files.size) {
        skipped += pl.partition
        pl.files.foreach { case (f, _) =>
          val src = new org.apache.hadoop.fs.Path(f)
          org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
            new org.apache.hadoop.fs.Path(s"$destPath/${pl.partition}/${src.getName}"),
            false, conf)
        }
      } else {
        pl.bins.foreach { bin =>
          spark.read.parquet(bin.map(_._1): _*).coalesce(1)
            .write.mode("append").parquet(s"$destPath/${pl.partition}")
        }
      }
    }
    (plans.toSeq, skipped.toSeq)
  }

  /** q216: INCREMENTAL compaction round trip — q212's maintenance op
    * with the skip discipline a nightly compactor actually runs: the
    * source layout is a MIX of dirty and clean partitions (the
    * `LayoutScanLang` partition shattered into `CompactFragments`
    * files, every other language already one file), and
    * [[compactIncremental]] must rewrite ONLY the dirty one —
    * compliant partitions byte-copy (spec asserts their files are
    * byte-identical through the cycle, i.e. genuinely not re-encoded).
    * Output: the q212 content gates per lang (DuckDB recomputes the
    * content stats from the flat table — the hash gate proving BOTH
    * paths, copy and rewrite, lossless) plus `only_dirty_rewritten`
    * (TRUE by construction: the skip set is exactly the clean
    * partitions). */
  def q216CompactIncremental(spark: SparkSession, dir: String): DataFrame =
    Scratch.withRunDirs(spark, dir, "inccompact_src", "inccompact_dst") { ps =>
      q216At(spark, dir, ps(0), ps(1))
    }

  private[graft] def q216At(spark: SparkSession, dir: String,
      src: String, dst: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val srcRoot = new org.apache.hadoop.fs.Path(src)
    val fs = srcRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(srcRoot)) fs.delete(srcRoot, true)
    // dirty/clean mix: one language fragmented, the rest pre-compacted
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).sorted
    langs.foreach { lg =>
      val slice = docs.filter(col("lang") === lg).drop("lang")
      val frags = if (lg == LayoutScanLang) CompactFragments else 1
      slice.repartition(frags).write.mode("overwrite").parquet(s"$src/lang=$lg")
    }
    val (plans, skipped) = compactIncremental(spark, src, dst, CompactTargetBytes)
    val dirtyOnly = plans.forall { pl =>
      val isClean = skipped.contains(pl.partition)
      val isDirty = pl.partition == s"lang=${LayoutScanLang}"
      isClean != isDirty // exactly the fragmented partition rewrites
    }
    def contentAgg(df: DataFrame) = df.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars").cast("long")).as("sum_chars"),
      sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")).as("fp"))
    val compacted = contentAgg(spark.read.parquet(dst))
    val flat = contentAgg(docs)
      .select(col("lang"), col("n_docs").as("f_docs"),
        col("sum_chars").as("f_chars"), col("fp").as("f_fp"))
    compacted.join(flat, "lang")
      .select(col("lang"), col("n_docs"), col("sum_chars"), col("fp"),
        (col("n_docs") === col("f_docs") && col("sum_chars") === col("f_chars") &&
          col("fp") === col("f_fp")).as("lossless"),
        lit(dirtyOnly).as("only_dirty_rewritten"))
  }

  def q216Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT) AS fp,
      |  TRUE AS lossless, TRUE AS only_dirty_rewritten
      |FROM documents GROUP BY lang""".stripMargin

  /** q220: ADDITIVE SCHEMA EVOLUTION read — the other lake-maintenance
    * invariant beside compaction (q212/q216): a corpus written over
    * time is never one schema, because the writer grew columns. Old
    * files must stay readable IN PLACE (at 100 TB a rewrite-on-evolve
    * is a non-starter), new files carry the added column, and one scan
    * serves both — `mergeSchema` unions the file footers' schemas and
    * null-fills the added column for pre-evolution files, which is
    * exactly the semantics a table format's metadata layer provides
    * and parquet provides file-intrinsically. The query writes the
    * two generations (gen=1 BEFORE `source` existed — the column is
    * ABSENT from those files' schema, not null-valued; gen=2 with
    * it), reads the directory with one merged-schema scan, and rolls
    * up per language: doc count, pre-evolution rows, rows carrying
    * the evolved column, exact char sum. The oracle recomputes from
    * the flat table (generation ≙ doc_id parity), so the hash gate
    * proves the merged read loses nothing, null-fills exactly the
    * old generation, and keeps non-evolved columns intact across the
    * schema boundary. `schema_merged` pins the unified schema
    * driver-side (both generations' columns present exactly once).
    *
    * Scale: schema merge reads file FOOTERS, not data; the rollup is
    * one map-combinable aggregate over the merged scan. The writes
    * are the demonstration fixture — production corpora already have
    * the mixed-generation layout this query reads. */
  def q220SchemaEvolution(spark: SparkSession, dir: String): DataFrame =
    Scratch.withRunDir(spark, dir, "schema_evo")(q220At(spark, dir, _))

  private[graft] def q220At(spark: SparkSession, dir: String, root: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rootP)) fs.delete(rootP, true)
    // gen=1: written before `source` existed — the column is absent
    docs.filter(col("doc_id") % 2 === 0).drop("source")
      .write.parquet(s"$root/gen=1")
    // gen=2: the evolved writer
    docs.filter(col("doc_id") % 2 =!= 0)
      .write.parquet(s"$root/gen=2")
    val unified = spark.read.option("mergeSchema", "true").parquet(root)
    val merged = unified.columns.sorted.toSeq ==
      Seq("doc_id", "gen", "lang", "n_chars", "source")
    unified.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("gen") === 1, 1L).otherwise(0L)).as("n_pre_evolution"),
        count(col("source")).as("n_with_source"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("lang"), col("n_docs"), col("n_pre_evolution"),
        col("n_with_source"), col("sum_chars"), lit(merged).as("schema_merged"))
  }

  def q220Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pre_evolution,
      |  CAST(SUM(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_source,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  TRUE AS schema_merged
      |FROM documents GROUP BY lang""".stripMargin

  /** The (file → key min/max/rows) manifest of a written layout — the
    * zone map a table format's metadata layer maintains per data file.
    * Parquet footers already hold these stats; this materializes them
    * as a queryable table with one scan (in production, amortized into
    * the write). Driver-side rows are FILE-count-scale — metadata, not
    * data (the q212 listing precedent). */
  def zoneMap(spark: SparkSession, path: String, keyCol: String): Array[(String, Long, Long, Long)] =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  /** q230: ZONE-MAP (file-stats) pruning — the third pruning mode
    * beside static partition pruning (q146) and runtime DPP (q198):
    * partitioning prunes by DIRECTORY, zone maps prune by per-FILE
    * min/max stats, which is what makes a RANGE-CLUSTERED layout
    * (here `repartitionByRange` on the key — q98's Z-order is the
    * multi-column form) answer selective range predicates while
    * touching a fraction of the files. The query writes the
    * range-clustered layout, builds the file manifest ([[zoneMap]]),
    * plans the read driver-side (files whose [lo,hi] intersect the
    * predicate — a manifest scan, not a data scan), reads ONLY those
    * files, and emits the filtered aggregate + two gates:
    * `skipped_some` (the plan read strictly fewer files than exist —
    * FALSE would hash-fail the round) and `lossless` implicitly via
    * the oracle, which computes the same aggregate from the flat
    * table. The predicate brackets the 25th–45th percentile of the
    * key range (scalar-derived, so the oracle derives it the same
    * way).
    *
    * Scale: the manifest is file-count rows (metadata); the pruned
    * read lists only selected paths — at 100 TB this is the
    * difference between footer-probing every file of a petabyte
    * table and reading the manifest. */
  def q230ZoneMap(spark: SparkSession, dir: String): DataFrame =
    Scratch.withRunDir(spark, dir, "zonemap")(q230At(spark, dir, _))

  private[graft] def q230At(spark: SparkSession, dir: String, path: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity")
    li.repartitionByRange(ZoneMapFiles, col("l_orderkey"))
      .write.parquet(path)
    val maxK = li.agg(max("l_orderkey")).head().getLong(0)
    val (loK, hiK) = (maxK * 25 / 100, maxK * 45 / 100)
    val manifest = zoneMap(spark, path, "l_orderkey")
    val sel = manifest.filter { case (_, lo, hi, _) => hi >= loK && lo <= hiK }
    val skippedSome = sel.length < manifest.length
    spark.read.parquet(sel.map(_._1): _*)
      .filter(col("l_orderkey").between(loK, hiK))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .select(col("n_rows"), col("sum_qty"), lit(skippedSome).as("skipped_some"))
  }

  def q230Sql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  TRUE AS skipped_some
      |FROM lineitem
      |WHERE l_orderkey BETWEEN (SELECT (max(l_orderkey) * 25) // 100 FROM lineitem)
      |                     AND (SELECT (max(l_orderkey) * 45) // 100 FROM lineitem)""".stripMargin

  /** One ledgered ingest run over a landing directory: list the part
    * files, anti-filter against the ledger, process ONLY the fresh
    * files (per-type partial aggregate appended to the results table),
    * then record them. Returns the fresh-file count. Results are
    * written before the ledger, so a crash between the two writes
    * REPROCESSES a batch rather than losing one (at-least-once toward
    * the partials; a transactional table format would commit both in
    * one snapshot — this is the protocol that format automates).
    * Listing is driver-side file metadata — exactly what any Spark
    * scan's planning already does — and the ledger is bounded by
    * file COUNT, not data size. */
  private def ledgerRun(spark: SparkSession, landing: String, ledger: String,
      results: String): Int = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val lp = new org.apache.hadoop.fs.Path(landing)
    val fs = lp.getFileSystem(conf)
    val have: Set[String] =
      if (fs.exists(new org.apache.hadoop.fs.Path(ledger)))
        spark.read.parquet(ledger).collect().map(_.getString(0)).toSet
      else Set.empty
    val files = fs.listStatus(lp).map(_.getPath)
      .filter(_.getName.startsWith("part-")).map(_.toString).sorted
    val fresh = files.filterNot(have)
    if (fresh.nonEmpty) {
      spark.read.parquet(fresh: _*)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(25,6)")).as("sum_dec"))
        .write.mode("append").parquet(results)
      fresh.toSeq.toDF("path").write.mode("append").parquet(ledger)
    }
    fresh.length
  }

  /** q238: EXACTLY-ONCE FILE-LEDGER INGEST — the batch-incremental
    * ingestion protocol under every landing-zone pipeline: files arrive
    * between runs, each run processes ONLY files the ledger has never
    * seen, appends their per-type partial aggregates, and records them;
    * the published result merges partials and must equal the full
    * recompute (the oracle) NO MATTER how many runs, re-runs, or empty
    * runs happened. The query performs the whole protocol as a
    * round-trip: batch 1 lands → run 1; batch 2 lands → run 2 (must
    * touch only batch 2's files); run 3 (nothing new — must be a
    * no-op); publish. The streaming twin is q182's file-source ingest —
    * this is the BATCH form that needs no long-running query, the shape
    * nightly warehouse loads actually take.
    *
    * Scale: each run's cost ∝ the NEW files (the anti-filter is
    * file-count metadata); partials merge associatively in exact
    * DECIMAL, so the publish aggregate never re-reads landed data.
    * `run2_only_new` / `run3_noop` are hash-gated: a double-processed
    * or dropped file would break them or the totals. */
  def q238LedgerIngest(spark: SparkSession, dir: String): DataFrame =
    Scratch.withRunDirs(spark, dir,
        "ledger_landing", "ledger_state", "ledger_results") { ps =>
    val Seq(landing, ledger, results) = ps
    val conf = spark.sparkContext.hadoopConfiguration
    val cfg = graft.GraftConfig.default
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("b", substring(md5(col("event_id").cast("string")), 1, 2))
    // the gate compares each run's processed-file count against the
    // files that batch ACTUALLY landed (listing delta) — not against
    // the repartition argument, which over-counts whenever an empty
    // partition writes no part file (round-11 advice)
    def landed(): Set[String] = {
      val lp = new org.apache.hadoop.fs.Path(landing)
      val fs = lp.getFileSystem(conf)
      if (!fs.exists(lp)) Set.empty[String]
      else fs.listStatus(lp).map(_.getPath.getName)
        .filter(_.startsWith("part-")).toSet
    }
    ev.filter(col("b") < cfg.splitTrainUpper).drop("b")
      .repartition(3).write.mode("append").parquet(landing)
    val landed1 = landed().size
    val n1 = ledgerRun(spark, landing, ledger, results)
    ev.filter(col("b") >= cfg.splitTrainUpper).drop("b")
      .repartition(2).write.mode("append").parquet(landing)
    val landed2 = landed().size - landed1
    val n2 = ledgerRun(spark, landing, ledger, results)
    val n3 = ledgerRun(spark, landing, ledger, results)
    val ledgerRows = spark.read.parquet(ledger).count()
    spark.read.parquet(results)
      .groupBy("event_type")
      .agg(sum(col("n")).as("n_events"),
        sum(col("sum_dec")).cast("double").as("total_value"))
      .select(col("event_type"), col("n_events"), col("total_value"),
        lit(n1 == landed1 && n2 == landed2 && ledgerRows == n1 + n2)
          .as("run2_only_new"),
        lit(n3 == 0).as("run3_noop"))
    }

  def q238Sql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value,
      |  TRUE AS run2_only_new, TRUE AS run3_noop
      |FROM events GROUP BY 1""".stripMargin

  /** q247: MERKLE-STYLE TWO-PHASE REPLICA DIFF — the replication audit
    * at the granularity that scales: comparing two copies of a 100 TB
    * table row by row costs two full scans and a corpus shuffle, but
    * comparing their PER-PARTITION content digests costs one
    * map-combinable pass per side and a digest-table join (10⁵ rows of
    * metadata) — and only partitions whose digests disagree pay the
    * row-level diff, with partition-pruned reads touching nothing
    * else. The q231 row diff as phase 2 behind a digest phase 1: the
    * same two-phase shape as q212's skip discipline, applied to
    * verification instead of compaction.
    *
    * The query runs the whole audit as a round-trip: both replicas are
    * WRITTEN day-partitioned (replica B with a deterministic
    * corruption — value bumped on every 50th event of one day), the
    * digest manifests compare, the damaged day row-diffs, and the
    * published per-day audit (rows, digest_match, n_changed) must
    * match the oracle's logical recomputation — which also proves the
    * digest has no false negatives on this corpus. Digests are
    * ORDER-FREE integer sums of md5-word row hashes over canonical
    * integer renderings (the q212 fp idiom; doubles render as cents so
    * no float-to-string divergence), so replicas digest shard-parallel
    * in any row order. Matched partitions report n_changed = 0 ON THE
    * DIGEST'S AUTHORITY — that leap of faith is the entire economy of
    * the scheme, which is why the corrupted-day gate matters. */
  def q247MerkleDiff(spark: SparkSession, dir: String): DataFrame =
    Scratch.withRunDirs(spark, dir, "merkle_a", "merkle_b") { ps =>
    val base = Tables.events(spark, dir)
      .select(col("event_id"),
        expr("unix_millis(ts) div 86400000").as("d"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v100"))
    val dc = base.agg(min(col("d"))).head().getLong(0) + 3
    val a = base.select(col("event_id"), concat(lit("d"), col("d")).as("day"), col("v100"))
    val b = base.select(col("event_id"), concat(lit("d"), col("d")).as("day"),
      when(col("d") === dc && col("event_id") % 5 === 0, col("v100") + 100L)
        .otherwise(col("v100")).as("v100"))
    val Seq(pa, pb) = ps
    // day-hash repartition first: without it every shuffle task writes a
    // sliver into every day directory (32 × days tiny files per replica —
    // measured 12 s at sf0.1; with it, one file per day and ~2 s)
    writePartitioned(a.repartition(col("day")), pa, "day")
    writePartitioned(b.repartition(col("day")), pb, "day")
    val (ra, rb) = (spark.read.parquet(pa), spark.read.parquet(pb))
    def digest(df: DataFrame, nCol: String, fpCol: String) = df.groupBy("day")
      .agg(count(lit(1)).as(nCol),
        sum(conv(substring(md5(concat(col("event_id"), lit(":"), col("v100"))), 1, 8),
          16, 10).cast("long")).as(fpCol))
    val cmp = digest(ra, "n_rows_a", "fp_a")
      .join(digest(rb, "n_rows_b", "fp_b"), "day")
      .select(col("day"), col("n_rows_a"), col("n_rows_b"),
        (col("n_rows_a") === col("n_rows_b") && col("fp_a") === col("fp_b"))
          .as("digest_match"))
    // phase 2: row-diff ONLY the disagreeing partitions (pruned reads);
    // the collect is bounded by the damage, not the table
    val bad = cmp.filter(!col("digest_match")).select("day")
      .collect().map(_.getString(0))
    val changed = bad.map { dday =>
      val xa = ra.filter(col("day") === dday)
        .select(col("event_id"), col("v100").as("va"))
      val xb = rb.filter(col("day") === dday)
        .select(col("event_id"), col("v100").as("vb"))
      val n = xa.join(xb, Seq("event_id"), "full_outer")
        .filter(!(col("va") <=> col("vb"))).count()
      (dday, n)
    }
    import spark.implicits._
    val chDf = changed.toSeq.toDF("day", "n_changed")
    cmp.join(broadcast(chDf), Seq("day"), "left")
      .select(col("day"), col("n_rows_a"), col("n_rows_b"), col("digest_match"),
        coalesce(col("n_changed"), lit(0L)).as("n_changed"))
  }

  def q247Sql: String =
    """WITH e AS (SELECT event_id, epoch_ms(ts) // 86400000 AS d,
      |    CAST(floor(value * 100) AS BIGINT) AS v100 FROM events),
      |dc AS (SELECT min(d) + 3 AS dc FROM e),
      |a AS (SELECT event_id, d, v100 FROM e),
      |b AS (SELECT event_id, d,
      |    CASE WHEN d = dc.dc AND event_id % 5 = 0 THEN v100 + 100
      |         ELSE v100 END AS v100
      |  FROM e, dc),
      |da AS (SELECT d, count(*) AS n_rows_a,
      |    SUM(CAST(('0x' || substr(md5(event_id || ':' || v100), 1, 8)) AS BIGINT)) AS fp
      |  FROM a GROUP BY 1),
      |db AS (SELECT d, count(*) AS n_rows_b,
      |    SUM(CAST(('0x' || substr(md5(event_id || ':' || v100), 1, 8)) AS BIGINT)) AS fp
      |  FROM b GROUP BY 1),
      |ch AS (SELECT a.d, CAST(count(*) AS BIGINT) AS n_changed
      |  FROM a JOIN b ON a.event_id = b.event_id AND a.v100 <> b.v100
      |  GROUP BY 1)
      |SELECT 'd' || da.d AS day, da.n_rows_a, db.n_rows_b,
      |  da.n_rows_a = db.n_rows_b AND da.fp = db.fp AS digest_match,
      |  coalesce(ch.n_changed, 0) AS n_changed
      |FROM da JOIN db ON da.d = db.d
      |LEFT JOIN ch ON ch.d = da.d""".stripMargin

  /** q249: LOGICAL DELETE (deletion vectors) — the "right to be
    * forgotten" at lake scale: a delete request for 0.1% of users must
    * take effect IMMEDIATELY without rewriting a 100 TB segment set,
    * so the delete is a TOMBSTONE TABLE (the requested user keys) and
    * every read serves through a broadcast anti-join against it —
    * Delta/Iceberg's deletion-vector pattern, with the physical
    * rewrite deferred to the next compaction pass (q212/q216's job).
    * The query runs all three sides and gates them against each
    * other: segments write once; the logical read (anti-join view)
    * aggregates; the physical rewrite (the eventual compaction)
    * aggregates; and the published rows carry logical ≡ physical plus
    * proof the segment files were BYTE-UNTOUCHED by the logical path
    * (name+length listing identical before/after — deletion that
    * rewrote anything isn't logical). The oracle recomputes the
    * filtered aggregate from the flat table, hash-gating both serve
    * paths at once.
    *
    * Scale: tombstones are bounded by the request stream, the
    * anti-join broadcasts them, and the read plan is the segment scan
    * + one build-side-tiny join — no shuffle, no write, no blocking;
    * the rewrite cost moves to compaction where it amortizes with
    * bin-packing. */
  def q249LogicalDelete(spark: SparkSession, dir: String): DataFrame =
    Scratch.withRunDirs(spark, dir, "deletion_segments", "deletion_rewrite") { ps =>
      q249At(spark, dir, ps(0), ps(1))
    }

  /** The lazy inner plan (PlanSpec pins the broadcast anti-join +
    * scan shape on it). */
  private[graft] def q249At(spark: SparkSession, dir: String,
      seg: String, phys: String): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(seg)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(4)
      .write.parquet(seg)
    def listing() = fs.listStatus(hp).filter(_.getPath.getName.startsWith("part-"))
      .map(st => (st.getPath.getName, st.getLen)).sortBy(_._1).toSeq
    val before = listing()
    val segments = spark.read.parquet(seg)
    val tombstones = segments.select(col("user_id")).distinct()
      .filter(col("user_id") % 37 === 0)
    def aggOf(df: DataFrame, n: String, t: String) = df.groupBy("event_type")
      .agg(count(lit(1)).as(n),
        sum(col("value").cast("decimal(25,6)")).cast("double").as(t))
    val logical = aggOf(
      segments.join(broadcast(tombstones), Seq("user_id"), "left_anti"),
      "n_events", "total_value")
    // the eventual physical rewrite (what compaction will do) must agree
    segments.join(broadcast(tombstones), Seq("user_id"), "left_anti")
      .write.parquet(phys)
    val physical = aggOf(spark.read.parquet(phys), "p_n", "p_total")
    val untouched = listing() == before
    logical.join(physical, "event_type")
      .select(col("event_type"), col("n_events"), col("total_value"),
        (col("n_events") === col("p_n") && col("total_value") === col("p_total"))
          .as("logical_equals_physical"),
        lit(untouched).as("segments_untouched"))
  }

  def q249Sql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value,
      |  TRUE AS logical_equals_physical, TRUE AS segments_untouched
      |FROM events WHERE user_id % 37 <> 0
      |GROUP BY 1""".stripMargin

  /** q255: INCREMENTAL ZONE-MAP MAINTENANCE — q230's manifest under
    * appends, the metadata half of the incremental-lake story (q216
    * skips clean data files; this skips clean METADATA): a batch of new
    * files lands in the range-clustered layout, and the manifest
    * updates by computing stats for ONLY the files it has never seen
    * (path anti-filter) and unioning them in — the existing entries
    * pass through byte-identical, never re-footer-probed. At 100 TB
    * the nightly manifest refresh costs the day's appended files, not
    * a million-file re-listing with stats recompute. The query then
    * answers q230's pruned range aggregate THROUGH the incrementally
    * maintained manifest — the oracle's flat-table recompute
    * hash-verifies that maintained metadata plans reads as correctly
    * as rebuilt metadata — and gates `stats_only_new` (the update
    * touched exactly the fresh files) and `skipped_some` (pruning
    * still engaged). */
  def q255ZoneMapIncremental(spark: SparkSession, dir: String): DataFrame =
    Scratch.withRunDirs(spark, dir, "zminc_data", "zminc_manifest") { ps =>
    val Seq(path, manPath) = ps
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity")
    val conf = spark.sparkContext.hadoopConfiguration
    // day 1: the base corpus lands range-clustered; manifest v1 persists
    li.filter(col("l_orderkey") % 10 =!= 0)
      .repartitionByRange(ZoneMapFiles, col("l_orderkey"))
      .write.parquet(path)
    import spark.implicits._
    zoneMap(spark, path, "l_orderkey").toSeq.toDF("f", "lo", "hi", "n")
      .write.parquet(manPath)
    val v1 = spark.read.parquet(manPath).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // day 2: a batch appends; only ITS files get stats
    li.filter(col("l_orderkey") % 10 === 0)
      .repartitionByRange(2, col("l_orderkey"))
      .write.mode("append").parquet(path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    // membership by file NAME (unique part-uuid), not full URI — listing
    // and input_file_name render the scheme differently
    def base(f: String) = f.substring(f.lastIndexOf('/') + 1)
    val known = v1.map(t => base(t._1)).toSet
    val fresh = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
      .map(_.toString).filterNot(f => known(base(f))).sorted
    val freshStats = spark.read.parquet(fresh: _*)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("l_orderkey")).as("lo"), max(col("l_orderkey")).as("hi"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val v2 = v1 ++ freshStats
    val statsOnlyNew = freshStats.map(t => base(t._1)).toSet ==
      fresh.map(base).toSet && v2.take(v1.length).sameElements(v1)
    val maxK = li.agg(max("l_orderkey")).head().getLong(0)
    val (loK, hiK) = (maxK * 25 / 100, maxK * 45 / 100)
    val sel = v2.filter { case (_, lo, hi, _) => hi >= loK && lo <= hiK }
    val skippedSome = sel.length < v2.length
    spark.read.parquet(sel.map(_._1): _*)
      .filter(col("l_orderkey").between(loK, hiK))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .select(col("n_rows"), col("sum_qty"), lit(skippedSome).as("skipped_some"),
        lit(statsOnlyNew).as("stats_only_new"))
  }

  def q255Sql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  TRUE AS skipped_some, TRUE AS stats_only_new
      |FROM lineitem
      |WHERE l_orderkey BETWEEN (SELECT (max(l_orderkey) * 25) // 100 FROM lineitem)
      |                     AND (SELECT (max(l_orderkey) * 45) // 100 FROM lineitem)""".stripMargin
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the test-data star schema + corpus tables.
  *
  * A plain parquet scan whose schema comes from the file's footer
  * ([[Parquet.read]]), so a load starts no Spark job. Column pruning
  * and predicate pushdown are Catalyst's job: downstream
  * `select`/`filter` reach the scan, so a query touching 2 columns
  * reads 2 columns. Loaders therefore never pre-select.
  */
object Tables {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  /** Fact-table loader. The test files are single-row-group parquet,
    * which caps a scan at one task no matter what maxPartitionBytes says
    * — so fact tables get a repartition to restore parallelism, but ONLY
    * when the scan actually under-splits: on a real multi-file 100 TB
    * dataset the scan splits naturally and the check drops the shuffle
    * (the round-1 audit flagged the unconditional version as q1's main
    * cost on real data). */
  private val underSplit =
    scala.collection.concurrent.TrieMap.empty[(String, String), Boolean]

  private def fact(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    // the split decision needs a physical-planning pass (df.rdd); a
    // static file's split count can't change, so memoize per table
    // rather than re-planning on every loader call
    val need = underSplit.getOrElseUpdate((dir, name),
      df.rdd.getNumPartitions < target / 2)
    if (need) df.repartition(target) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = fact(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = fact(s, d, "lineitem")
  /** events.parquet has shipped with three physical `ts` encodings across
    * data regenerations: TIMESTAMP(NANOS) (read as int64 nanos under
    * spark.sql.legacy.parquet.nanosAsLong), TIMESTAMP(MICROS) with tz
    * (plain TimestampType), and TIMESTAMP(MICROS) without tz, which
    * Spark 4 maps to TIMESTAMP_NTZ — a type `unix_millis`/`window` et al.
    * reject. Normalize all three to session-tz TimestampType; sessions
    * pin the timezone to UTC, so the NTZ cast is value-preserving and
    * matches DuckDB's naive-timestamp reading of the same file. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(fact(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = fact(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = fact(s, d, "embeddings")

  /** Write `df` as a bucketed+sorted managed table — the write-side
    * half of the no-exchange join pattern (BucketingSpec evidences the
    * read side: two tables bucketed on the same key sort-merge-join
    * with NO exchange on either side). At 100 TB this turns the
    * per-query corpus shuffle of every stable-key join (doc_id
    * enrichment, edge⋈docs, dedup-family⋈docs) into a one-time layout
    * cost at ingest: pick `buckets` so a bucket's rows fit one
    * executor's memory (corpus bytes / ~256 MB is a sane start), and
    * use the SAME bucket count and key on every table that joins this
    * one, or the planner re-shuffles the mismatched side. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int = 32): Unit =
    df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
}

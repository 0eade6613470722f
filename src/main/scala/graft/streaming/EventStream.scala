package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming pipelines over the events stream — the streaming
  * twins of Relational.q7EventsWindow / q8Sessionize.
  *
  * Source-agnostic: callers pass any streaming DataFrame with the events
  * schema (`readStream` from files/Kafka in production, MemoryStream in
  * specs). Watermarking bounds state; the windowed aggregate emits
  * append-mode finalized windows.
  */
object EventStream {
  // streaming: state-store partition count for the bounded-replay
  // drives — a stream's shuffle-partition count is pinned at first
  // start and becomes its state-store count, so it must be sized to
  // the stream's key cardinality/throughput, not the batch shuffle
  // default (which exists for scan parallelism). On a production
  // stream raise it to ≈ peak-keys-in-state / what one store's
  // commit latency tolerates.
  val StreamStatePartitions: Int = 8

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Tumbling 1-hour event-time windows with a 2-hour watermark. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))

  /** Stateful per-user running aggregate via mapGroupsWithState —
    * CloudBrush has no streaming surface; this is the Spark-native shape
    * for incremental graph/corpus maintenance. */
  def userRunningTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          val evs = batch.toSeq
          val next = UserRunning(uid, prev.n_events + evs.size, prev.total_value + evs.map(_.value).sum)
          state.update(next)
          next
      }
  }

  /** Convenience: file-source stream over a directory of event parquet. */
  def fromParquetDir(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.readStream.schema(
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      .parquet(dir)

  /** Run a streaming drive with state partitioning sized for the
    * STREAM, not the batch shuffle default. A streaming query's
    * shuffle-partition count is captured at first start (pinned in the
    * checkpoint thereafter) and becomes its state-store count — a
    * per-stream property that should track the stream's key
    * cardinality and throughput, not whatever the session uses for
    * batch scans. At 32 batch partitions the bounded-replay drives
    * paid per-batch commit I/O on 32 stores per stateful operator
    * (q77's two-store join measured 10 s → 3 s at 8). Restores the
    * session conf after the drain, so batch queries are unaffected. */
  private[graft] def withStreamParts[T](spark: org.apache.spark.sql.SparkSession)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, StreamStatePartitions.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** Wire a windowed-agg query to a memory sink (specs / demos). */
  def startToMemory(df: DataFrame, queryName: String): org.apache.spark.sql.streaming.StreamingQuery =
    windowedAgg(df).writeStream.format("memory").queryName(queryName)
      .outputMode(OutputMode.Append()).start()

  /** q47: the streaming pipeline driven end-to-end through the Verify
    * gate — file-source stream over the events parquet, hourly
    * event-time aggregation, complete-mode memory sink, result returned
    * once the stream drains. Complete mode (not append+watermark) so a
    * bounded replay emits every window and the result equals the batch
    * oracle bit-for-bit; the production shape with watermarked append is
    * [[windowedAgg]]. No countDistinct: streaming aggregation forbids
    * it, so this is q7 minus the distinct-users column. */
  def q47StreamWindow(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    // the file source wants a directory: stream the sf dir, glob-filtered
    // down to the events file
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val events =
      graft.sources.Tables.normalizeEventTs(raw)
    val agg = events
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(25,6)")).cast("double").as("total_value"))
    withStreamParts(spark) {
      val q = agg.writeStream.format("memory").queryName("graft_q47")
        .outputMode(OutputMode.Complete()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("graft_q47")
    }
  }

  def q47Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
      |  count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** q109: SLIDING-window streaming aggregation — 1-hour windows every
    * 30 minutes (each event lands in exactly 2 overlapping windows),
    * the smoothing shape q47's tumbling windows can't express. Same
    * end-to-end drive as q47: file-source stream, complete-mode memory
    * sink, drained result hash-gated against the oracle's unrolled
    * two-starts-per-event form. Window starts are emitted as epoch ms
    * (the proven cross-engine idiom); Spark's slide alignment is the
    * epoch origin, which the oracle reproduces with floor division. */
  def q109StreamSliding(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val events =
      graft.sources.Tables.normalizeEventTs(raw)
    val agg = events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(25,6)")).cast("double").as("total_value"))
      .select(unix_millis(col("w.start")).as("win_start_ms"), col("event_type"),
        col("n_events"), col("total_value"))
    withStreamParts(spark) {
      val q = agg.writeStream.format("memory").queryName("graft_q109")
        .outputMode(OutputMode.Complete()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("graft_q109")
    }
  }

  def q109Sql: String =
    """SELECT ws AS win_start_ms, event_type, count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
      |FROM (SELECT epoch_ms(ts) AS ms, event_type, value FROM events),
      |  LATERAL (SELECT unnest([(ms // 1800000) * 1800000,
      |                          (ms // 1800000) * 1800000 - 1800000]) AS ws) t
      |GROUP BY 1, 2""".stripMargin

  /** q56: streaming stateful deduplication — dropDuplicates over the
    * stream (the state-store-backed primitive behind streaming exact
    * dedup in a training-data pipeline) feeding a running aggregate;
    * equals batch count-distinct once the bounded stream drains. A
    * production unbounded stream would use
    * dropDuplicatesWithinWatermark to bound the dedup state. */
  def q56StreamDedup(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val agg = raw.select(col("event_type"), col("user_id"))
      .dropDuplicates("event_type", "user_id")
      .groupBy("event_type").agg(count(lit(1)).as("n_users"))
    withStreamParts(spark) {
      val q = agg.writeStream.format("memory").queryName("graft_q56")
        .outputMode(OutputMode.Complete()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("graft_q56")
    }
  }

  def q56Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type""".stripMargin

  /** Bounded-state streaming dedup — the production twin of q56's
    * dropDuplicates for UNBOUNDED streams: with an event-time
    * watermark, dropDuplicatesWithinWatermark holds a key's dedup
    * state only until the watermark passes its event time plus the
    * delay, so state is a sliding window of recent keys instead of all
    * history (duplicate deliveries cluster near the original in event
    * time — the at-least-once-delivery case this exists for). Emits
    * each key's first arrival, append mode. */
  def dedupWithinWatermark(events: DataFrame, delay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  case class UEvent(user_id: Long, value: java.math.BigDecimal)
  case class UserTotal(user_id: Long, n_events: Long, total_value: java.math.BigDecimal)

  /** q64: the custom-state primitive (mapGroupsWithState, the typed
    * KeyValueGroupedDataset API) driven end-to-end through the Verify
    * gate — per-user running event counts and value totals, maintained
    * as explicit GroupState exactly like [[userRunningTotals]].
    *
    * Determinism: values are cast to DECIMAL(25,6) BEFORE entering the
    * typed stream and accumulated with exact BigDecimal adds inside the
    * state function, so the per-group fold order (shuffle-dependent)
    * cannot perturb bits; the final cast to double happens once, equal
    * to the oracle's decimal-sum-then-cast. State is keyed by user_id —
    * shuffle-partitioned, no driver-side accumulation; an unbounded
    * production stream would add a GroupStateTimeout to expire idle
    * users. */
  def q64UserTotals(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    import spark.implicits._
    val evs = raw.select(col("user_id"), col("value").cast("decimal(25,6)").as("value"))
      .as[UEvent]
    val totals = evs.groupByKey(_.user_id)
      .mapGroupsWithState[UserTotal, UserTotal](GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[UEvent], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(uid, 0L, java.math.BigDecimal.ZERO))
          var n = prev.n_events
          var tot = prev.total_value
          batch.foreach { e => n += 1; tot = tot.add(e.value) }
          val next = UserTotal(uid, n, tot)
          state.update(next)
          next
      }
    // update-mode memory sink; the bounded single-file source drains in
    // one batch, so the sink holds exactly the final state row per user
    withStreamParts(spark) {
      val q = totals.toDF().writeStream.format("memory").queryName("graft_q64")
        .outputMode(OutputMode.Update()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("graft_q64")
    }
      .select(col("user_id"), col("n_events"), col("total_value").cast("double").as("total_value"))
  }

  def q64Sql: String =
    """SELECT user_id, count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
      |FROM events GROUP BY user_id""".stripMargin

  /** q70: stream-STATIC join — the standard streaming-enrichment shape
    * (clickstream × slowly-changing dimension): the events stream joins
    * the static customer→nation dimension, then aggregates per nation ×
    * event type. The static side is broadcast (it is re-read per
    * micro-batch, so on a cluster the dimension stays a map-side hash
    * join — no stream-side shuffle for the join, only the aggregate's).
    * Inner stream-static joins are stateless in Structured Streaming:
    * nothing about the static side enters the state store. Complete-mode
    * memory sink so the bounded replay equals the batch oracle. */
  def q70StreamEnrich(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val dim = broadcast(
      graft.sources.Tables.customer(spark, dir)
        .join(graft.sources.Tables.nation(spark, dir),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name")))
    val agg = raw
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("n_name").as("nation"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(25,6)")).cast("double").as("total_value"))
    withStreamParts(spark) {
      val q = agg.writeStream.format("memory").queryName("graft_q70")
        .outputMode(OutputMode.Complete()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("graft_q70")
    }
  }

  def q70Sql: String =
    """SELECT n_name AS nation, event_type, count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1, 2""".stripMargin

  /** q77: stream-STREAM join — the remaining stateful Structured
    * Streaming primitive (q47 windows, q56 dedup state, q64/q66 custom
    * state, q70 stream-static): every error within 30 minutes AFTER a
    * click by the same user, as an event-time range join between two
    * watermarked streams. The watermarks + the range condition bound
    * BOTH sides' join state: a click's state expires once the error
    * watermark passes click_ts + 30 min, so an unbounded run holds a
    * sliding window of state, never the full history — this is the
    * production shape, not a demo simplification. Bounded replay in
    * append mode emits exactly the batch join's matches. */
  def q77StreamJoin(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    def stream(): DataFrame = {
      val raw = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      graft.sources.Tables.normalizeEventTs(raw)
    }
    withStreamParts(spark) {
      val q = clickErrorJoin(stream(), stream())
        .writeStream.format("memory").queryName("graft_q77")
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("graft_q77")
    }
  }

  /** The q77 join itself, over any two event-schema streams (file
    * streams in q77, MemoryStreams in specs). */
  private[graft] def clickErrorJoin(clickSrc: DataFrame, errorSrc: DataFrame,
                                    joinType: String = "inner"): DataFrame = {
    val clicks = clickSrc.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val errors = errorSrc.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"), col("ts").as("err_ts"))
      .withWatermark("err_ts", "2 hours")
    clicks.join(errors,
      col("user_id") === col("e_user") &&
        col("err_ts") >= col("click_ts") &&
        col("err_ts") <= col("click_ts") + expr("interval 30 minutes"),
      joinType)
      .select(col("user_id"), col("click_id"), col("error_id"))
  }

  def q77Sql: String =
    """SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id
      |FROM events c JOIN events e
      |ON c.user_id = e.user_id AND c.event_type = 'click' AND e.event_type = 'error'
      |AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin

  /** q135: watermarked stream-stream LEFT OUTER join — the unmatched-
    * event detector (q77 finds clicks that errored; this ALSO emits the
    * clicks that provably never will): a null-error row leaves the
    * operator only when the global watermark passes the click's last
    * possible match time (click_ts + 30 min), i.e. when "no match yet"
    * has become "no match ever". That deferred null emission is the
    * entire semantic difference from a batch left join, and the oracle
    * mirrors it exactly: matches, plus unmatched clicks whose
    * click_ts + 30 min < min(max click_ts, max error_ts) − 2 h — the
    * final watermark of a bounded replay (Spark evicts left state
    * strictly below the state-value watermark; the no-data microbatch
    * after the last file flushes the evictions). Clicks newer than the
    * final watermark stay in state, exactly as on a live stream.
    *
    * Scale: identical state bound to q77 — both sides watermarked, the
    * range condition keeps join state a sliding window, never full
    * history. */
  def q135StreamOuterJoin(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    def stream(): DataFrame = {
      val raw = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      graft.sources.Tables.normalizeEventTs(raw)
    }
    withStreamParts(spark) {
      val q = clickErrorJoin(stream(), stream(), "left_outer")
        .writeStream.format("memory").queryName("graft_q135")
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("graft_q135")
    }
  }

  def q135Sql: String =
    """WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
      |e AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'),
      |wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM e))
      |  - INTERVAL 2 HOUR AS w),
      |matched AS (SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id
      |  FROM c JOIN e ON c.user_id = e.user_id
      |    AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE),
      |expired AS (SELECT c.user_id, c.event_id AS click_id,
      |    CAST(NULL AS BIGINT) AS error_id
      |  FROM c
      |  WHERE c.ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
      |    AND NOT EXISTS (SELECT 1 FROM e WHERE e.user_id = c.user_id
      |      AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE))
      |SELECT * FROM matched UNION ALL SELECT * FROM expired""".stripMargin

  case class SEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                    value: java.math.BigDecimal)
  case class OpenSession(start_ms: Long, last_ms: Long, n_events: Long,
                         total_value: java.math.BigDecimal)
  case class Session(user_id: Long, session_start_ms: Long, session_end_ms: Long,
                     n_events: Long, total_value: java.math.BigDecimal)

  private val SessionGapMs: Long = graft.GraftConfig.default.sessionGapMs

  /** q66: streaming SESSIONIZATION via flatMapGroupsWithState — the
    * multi-row-emitting custom-state API (q64 covers the one-row
    * mapGroupsWithState form). Per user, events fold into an open
    * session; a gap > $SessionGapMs CLOSES the current session, emits it
    * downstream, and opens the next. The user's final session stays in
    * state — on an unbounded production stream a watermark +
    * EventTimeTimeout would flush it once no earlier event can arrive;
    * a bounded replay has no such signal, so the query's contract (and
    * its oracle) is exactly the CLOSED sessions: every session of a
    * user except their last.
    *
    * Determinism: per-batch events sort by (ts, event_id) — the same
    * total tie-break order as q8 — gap arithmetic is integer epoch-ms
    * on both engines, and values accumulate as exact DECIMAL(25,6) with
    * one final cast to double. State is keyed by user_id, shuffle-
    * partitioned; per-user per-batch event counts bound the in-memory
    * sort. */
  /** The session fold itself, reusable over any SEvent stream (file
    * source in q66, MemoryStream in specs): open sessions live in
    * GroupState across micro-batches; only CLOSED sessions are
    * emitted. */
  def sessionize(evs: Dataset[SEvent]): Dataset[Session] = {
    import evs.sparkSession.implicits._
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[SEvent], state: GroupState[OpenSession]) =>
          val sorted = batch.toArray.sortBy(e => (e.ts.getTime, e.event_id))
          val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
          var open = state.getOption
          sorted.foreach { e =>
            val ms = e.ts.getTime
            open match {
              case Some(o) if ms - o.last_ms > SessionGapMs =>
                closed += Session(uid, o.start_ms, o.last_ms, o.n_events, o.total_value)
                open = Some(OpenSession(ms, ms, 1L, e.value))
              case Some(o) =>
                open = Some(OpenSession(o.start_ms, ms, o.n_events + 1, o.total_value.add(e.value)))
              case None =>
                open = Some(OpenSession(ms, ms, 1L, e.value))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
  }

  def q66StreamSessions(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val withTs =
      graft.sources.Tables.normalizeEventTs(raw)
    import spark.implicits._
    val evs = withTs.select(col("event_id"), col("ts"), col("user_id"),
        col("value").cast("decimal(25,6)").as("value")).as[SEvent]
    withStreamParts(spark) {
      val q = sessionize(evs).toDF().writeStream.format("memory").queryName("graft_q66")
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("graft_q66")
    }
      .select(col("user_id"), col("session_start_ms"), col("session_end_ms"),
        col("n_events"), col("total_value").cast("double").as("total_value"))
  }

  def q66Sql: String =
    s"""WITH flags AS (
       |  SELECT user_id, event_id, ts, CAST(value AS DECIMAL(25,6)) AS dv,
       |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL THEN 1
       |         WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > $SessionGapMs THEN 1
       |         ELSE 0 END AS new_sess
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, event_id, ts, dv,
       |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM flags),
       |agg AS (
       |  SELECT user_id, sid,
       |    min(epoch_ms(ts)) AS session_start_ms, max(epoch_ms(ts)) AS session_end_ms,
       |    count(*) AS n_events, CAST(SUM(dv) AS DOUBLE) AS total_value
       |  FROM sess GROUP BY user_id, sid)
       |SELECT user_id, session_start_ms, session_end_ms, n_events, total_value
       |FROM agg QUALIFY sid < max(sid) OVER (PARTITION BY user_id)""".stripMargin

  /** q243: LATE-DATA AUDIT — watermark semantics measured, not assumed:
    * an append-mode hourly aggregation is driven over an ORDERED
    * four-batch replay (modification times pinned, one file per
    * trigger): batches 1-2 = every event from day 1 on (split at the
    * final hour), batch 3 = day 0's events arriving ~29 days late (a
    * month-old backfill hitting a 2-hour-watermark stream — every row
    * maps to a window long since finalized, so the operator must DROP
    * them all), batch 4 = a single far-future flush sentinel that
    * advances the watermark past every real window so the trailing
    * no-data batch finalizes them (the sentinel's OWN window never
    * crosses the final watermark, so append mode never emits it — it
    * influences event-time tracking, not output).
    *
    * Two measured Spark-4.1 behaviors shape the replay — documented
    * because a bounded replay must MODEL what spaced triggers give
    * real deployments for free: (1) the late-event input filter uses
    * the PREVIOUS batch's watermark (the lateEvents/eviction split),
    * so the on-time data lands as TWO files — the second is the
    * buffer batch that lets the watermark take effect before the late
    * file arrives (measured: without it, the late rows sail into
    * state under a one-batch-stale watermark and EMIT); (2) a
    * pre-aggregation filter on a file stream is PUSHED INTO THE SCAN,
    * below the event-time tracker, so a filtered-out sentinel never
    * advances the watermark (measured: the final 2 h of windows never
    * finalized) — the sentinel therefore flows unfiltered and is
    * excluded by append semantics instead.
    *
    * The published audit joins the streamed result against the batch
    * recompute per (window, type): n_batch, n_stream, late_dropped =
    * the difference — the observability row a pipeline owner reads to
    * know what the watermark cost them. The oracle predicts the
    * stream EXACTLY (the 29-day gap dwarfs the 2-hour delay, so
    * dropped ≡ day-0): the driver gate hash-verifies real watermark
    * drop behavior end to end. Day-0 windows appear with n_stream =
    * 0 — the dropped windows ARE the interesting rows, a full-outer
    * join keeps them.
    *
    * Scale: the streamed aggregate's state is watermark-bounded (open
    * windows only); the audit join is per-window arithmetic. At 100 TB
    * the same audit runs as a nightly batch-vs-stream reconciliation —
    * this query IS that reconciliation in miniature. */
  def q243StreamLateAudit(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.sources.Scratch.withRunDir(spark, dir, "late_landing") { landing =>
    val DayMs = 86400000L
    val HourMs = 3600000L
    val conf = spark.sparkContext.hadoopConfiguration
    val lp = new org.apache.hadoop.fs.Path(landing)
    val fs = lp.getFileSystem(conf)
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"))
    val anchors = ev.agg(
      ((expr("min(unix_millis(ts)) div 86400000") + 1L) * DayMs).as("cut"),
      expr("max(unix_millis(ts)) div 3600000").as("hmax")).head()
    val (cutMs, hmax) = (anchors.getLong(0), anchors.getLong(1))
    import spark.implicits._
    def land(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = s"$landing/_stage_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).filter(_.getName.startsWith("part-")).head
      val dst = new org.apache.hadoop.fs.Path(s"$landing/$name.parquet")
      fs.rename(part, dst)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      fs.setTimes(dst, mtime, -1)
    }
    val ems = unix_millis(col("ts"))
    // stage tags answer "where does q243's wall time go" IN the bench
    // artifact (round-12 verdict #8): the 4-file landing write, the
    // 4-micro-batch ordered replay, and the semantics asserts,
    // separately measured
    graft.Trace("q243.land") {
      land(ev.filter(ems >= cutMs && ems < hmax * HourMs), "b1_ontime", 1000L)
      land(ev.filter(ems >= hmax * HourMs), "b2_ontime_tail", 2000L)
      land(ev.filter(ems < cutMs), "b3_late", 3000L)
      land(Seq((-1L, new java.sql.Timestamp(cutMs + 40L * DayMs), "zzz_flush"))
        .toDF("event_id", "ts", "event_type"), "b4_flush", 4000L)
    }
    val raw = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, event_type STRING")
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(landing)
    val agg = raw.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("window_ms"),
        col("event_type"), col("n"))
    val streamed = withStreamParts(spark) {
      val q = agg.writeStream.format("memory").queryName("graft_q243")
        .outputMode(OutputMode.Append()).start()
      try graft.Trace("q243.replay") { q.processAllAvailable() } finally q.stop()
      // Engine-semantics tripwire (round-11 advice): this operator's
      // oracle encodes MEASURED Spark 4.1 microbatch behavior
      // (mtime-ordered file source, the one-batch-stale watermark that
      // needs the b2 buffer file, the sentinel excluded by append
      // semantics). Assert the progression those measurements rely on,
      // so an engine upgrade fails HERE with a pointed message instead
      // of as a confusing oracle hash mismatch.
      graft.Trace("q243.asserts") {
        val fileBatches = q.recentProgress.count(_.numInputRows > 0)
        require(fileBatches == 4,
          s"q243 expects 4 one-file micro-batches (mtime-ordered source), saw " +
            s"$fileBatches — file-source batching semantics changed; re-derive " +
            "the oracle with tools/LateProbe")
        val wm = Option(q.lastProgress)
          .flatMap(p => Option(p.eventTime.get("watermark")))
          .map(s => java.time.Instant.parse(s).toEpochMilli)
        require(wm.exists(_ >= cutMs),
          s"q243 expects the final watermark ($wm) at/past the late cut " +
            s"($cutMs) — watermark-advance semantics changed; re-derive the " +
            "oracle with tools/LateProbe2")
      }
      spark.table("graft_q243")
    }
    val batch = ev
      .groupBy((expr("unix_millis(ts) div 3600000") * 3600000L).as("window_ms"),
        col("event_type"))
      .agg(count(lit(1)).as("n_batch"))
    batch.join(streamed.withColumnRenamed("n", "ns"),
        Seq("window_ms", "event_type"), "full_outer")
      .select(col("window_ms"), col("event_type"),
        coalesce(col("ns"), lit(0L)).as("n_stream"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"))
      .withColumn("late_dropped", col("n_batch") - col("n_stream"))
    }

  def q243Sql: String =
    """WITH cut AS (SELECT (min(epoch_ms(ts)) // 86400000 + 1) * 86400000 AS c FROM events),
      |b AS (SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_ms, event_type,
      |    count(*) AS n_batch,
      |    CAST(count(*) FILTER (epoch_ms(ts) >= cut.c) AS BIGINT) AS n_stream
      |  FROM events, cut GROUP BY 1, 2, cut.c)
      |SELECT window_ms, event_type, n_stream, n_batch,
      |  n_batch - n_stream AS late_dropped
      |FROM b""".stripMargin

  /** q258: CHECKPOINTED STREAM RESUME — the fault-tolerance contract
    * every other streaming query here takes on faith, demonstrated:
    * a file-sink pipeline with a durable checkpoint runs, STOPS, more
    * data lands, and a SECOND query (same checkpoint, same sink)
    * resumes — processing ONLY the unseen file (`resumed_only_new`,
    * read from the second run's progress) and appending through the
    * file sink's transactional _spark_metadata manifest, so the final
    * read-back equals the batch recompute with no duplicate and no
    * hole even though the pipeline died between batches. This is the
    * property that lets a 100 TB ingest run as a restartable stream:
    * offsets live in the checkpoint, commits live in the sink
    * manifest, and the pair gives exactly-once across process
    * lifetimes (q238 builds the same protocol by hand; this is the
    * engine-native form).
    *
    * Scale: a passthrough append pipeline — no state store at all;
    * the cost is the data once, whatever the restart count. */
  def q258StreamResume(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    // run-unique scratch (the q325/q335 rule) + eager cut before the
    // finally drops the sink this result reads
    val runTag = java.util.UUID.randomUUID.toString.take(8)
    val landing = graft.sources.Scratch.dir(s"resume_${runTag}_landing", dir)
    val ckpt = graft.sources.Scratch.dir(s"resume_${runTag}_ckpt", dir)
    val out = graft.sources.Scratch.dir(s"resume_${runTag}_out", dir)
    val conf = spark.sparkContext.hadoopConfiguration
    try {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("b", substring(md5(col("event_id").cast("string")), 1, 2))
    def land(df: DataFrame, n: Int, mtime: Long): Unit = {
      val fs = new org.apache.hadoop.fs.Path(landing).getFileSystem(conf)
      val before =
        if (fs.exists(new org.apache.hadoop.fs.Path(landing)))
          fs.listStatus(new org.apache.hadoop.fs.Path(landing)).map(_.getPath).toSet
        else Set.empty[org.apache.hadoop.fs.Path]
      df.repartition(n).write.mode("append").parquet(landing)
      fs.listStatus(new org.apache.hadoop.fs.Path(landing))
        .map(_.getPath).filterNot(before)
        .filter(_.getName.startsWith("part-"))
        .foreach(f => fs.setTimes(f, mtime, -1))
    }
    def run(): Long = {
      val raw = spark.readStream
        .schema("event_id BIGINT, event_type STRING, value DOUBLE, b STRING")
        .option("pathGlobFilter", "part-*")
        .parquet(landing)
      val q = raw.select("event_id", "event_type", "value")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.map(_.numInputRows).sum
    }
    land(ev.filter(col("b") < graft.GraftConfig.default.splitTrainUpper).drop("b"), 2, 1000L)
    run() // first life: drains batch 1, checkpoint survives the stop
    val batch2 = ev.filter(col("b") >= graft.GraftConfig.default.splitTrainUpper).drop("b")
    val n2 = batch2.count()
    land(batch2, 1, 2000L)
    val resumedRows = run() // second life: must pick up ONLY the new file
    spark.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(25,6)")).cast("double").as("total_value"))
      .select(col("event_type"), col("n_events"), col("total_value"),
        lit(resumedRows == n2).as("resumed_only_new"))
      .localCheckpoint(true)
    } finally Seq(landing, ckpt, out).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val dfs = p.getFileSystem(conf)
      if (dfs.exists(p)) dfs.delete(p, true)
    }
  }

  def q258Sql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value,
      |  TRUE AS resumed_only_new
      |FROM events GROUP BY 1""".stripMargin
}

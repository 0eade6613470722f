package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftConfig
import graft.sources.Tables

/** Temporal join operators Spark has no built-in physical operator for:
  * the as-of join (each left event takes the latest right event
  * at-or-before it) and the point-in-interval range join. Both are
  * re-expressed as shapes Catalyst CAN optimize — a single keyed window
  * pass and a bucketed equi-join — instead of the naive inequality
  * joins, whose per-key candidate sets grow O(left × right).
  *
  * Cross-engine determinism: every comparison, ordering, and output is
  * in epoch MILLISECONDS (`unix_millis` / `epoch_ms`) — the proven q8
  * idiom. The raw parquet timestamps are nanosecond-precision, which
  * Spark truncates to microseconds on read and DuckDB keeps; comparing
  * at ms truncates identically on both engines, and ms ties are broken
  * by event_id.
  */
class TemporalOps(val cfg: GraftConfig) {
  // temporal joins (Temporal.scala): as-of event types (left row takes
  // the latest right row at-or-before it, per user) and the
  // point-in-interval query's point event type; bucket width for the
  // interval join's explode-to-buckets equi-join
  val LeftType: String = "purchase"
  val RightType: String = "view"
  // last-touch attribution (q141): qualifying channels
  val AttributionChannels: Seq[String] = Seq("view", "click")
  val PointType: String = "error"
  val BucketMs: Long = 3600000L
  private val DayMs = 86400000L

  /** q85: as-of join — for each $LeftType event, the latest $RightType
    * event by the same user with ts ≤ the left event's ts (ms ties
    * admit the right row; among equal-ms right rows the max event_id
    * wins). The classic quotes↔trades alignment.
    *
    * Scale: the union-tag formulation — tag both sides, ONE shuffle on
    * user_id, and a running `last(_, ignoreNulls)` window carries the
    * most recent right row forward onto each left row. O(n log n) per
    * user partition vs the naive per-key product join the oracle runs
    * (every right row at-or-before EVERY left row, then rank). Skewed
    * users are one window partition — bounded by that user's events,
    * never by the cross product. */
  def q85AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin(LeftType, RightType))
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"),
        when(col("event_type") === RightType, 0).otherwise(1).as("tag"))
    // right rows sort before left rows at equal ms (tag 0 < 1), so the
    // carried value implements ts <= ts; event_id asc makes `last` pick
    // the max event_id among equal-ms right rows
    val w = Window.partitionBy("user_id")
      .orderBy(col("ms"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one select carries BOTH carried columns so they plan as a single
    // Window operator (two withColumns stack two window passes)
    e.select(col("user_id"), col("event_id"), col("ms"), col("tag"),
        last(when(col("tag") === 0, col("event_id")), ignoreNulls = true).over(w).as("view_id"),
        last(when(col("tag") === 0, col("ms")), ignoreNulls = true).over(w).as("view_ms"))
      .filter(col("tag") === 1 && col("view_id").isNotNull)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ms").as("purchase_ms"), col("view_id"), col("view_ms"),
        (col("ms") - col("view_ms")).as("lag_ms"))
  }

  def q85Sql: String =
    s"""WITH v AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
       |  WHERE event_type = '$RightType'),
       |p AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
       |  WHERE event_type = '$LeftType'),
       |j AS (SELECT p.event_id AS purchase_id, p.user_id, p.ms AS purchase_ms,
       |    v.event_id AS view_id, v.ms AS view_ms,
       |    row_number() OVER (PARTITION BY p.event_id
       |      ORDER BY v.ms DESC, v.event_id DESC) AS rn
       |  FROM p JOIN v ON v.user_id = p.user_id AND v.ms <= p.ms)
       |SELECT purchase_id, user_id, purchase_ms, view_id, view_ms,
       |  purchase_ms - view_ms AS lag_ms
       |FROM j WHERE rn = 1""".stripMargin

  /** q86: point-in-interval range join — each user's daily activity
    * interval [min ms, max ms] counts the $PointType events of OTHER
    * users that fall inside it (zero-count intervals kept).
    *
    * Scale: the bucketed-range-join pattern. Each interval explodes to
    * the $BucketMs buckets it covers (≤ 24 for a day interval at the
    * 1-hour default); each point carries exactly ONE bucket, so it can
    * match at most one exploded row per interval — counts are exact
    * with NO distinct/dedup shuffle. The join is a plain equi-join on
    * the bucket (+ residual range filter), sharded across buckets, vs
    * the oracle's naive inequality join whose candidate set is
    * |intervals| × |points| per overlapping day. AQE skew-split handles
    * a hot hour. */
  def q86IntervalErrors(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_type"))
    val iv = ev.groupBy(col("user_id"), expr(s"ms div $DayMs").as("day"))
      .agg(min("ms").as("a_start"), max("ms").as("a_end"))
    val ivx = iv.withColumn("h",
      explode(expr(s"sequence(a_start div $BucketMs, a_end div $BucketMs)")))
    val pts = ev.filter(col("event_type") === PointType)
      .select(col("user_id").as("p_user"), col("ms").as("p_ms"),
        expr(s"ms div $BucketMs").as("ph"))
    ivx.join(pts,
        ivx("h") === pts("ph") && pts("p_user") =!= ivx("user_id") &&
          pts("p_ms") >= ivx("a_start") && pts("p_ms") <= ivx("a_end"),
        "left")
      .groupBy("user_id", "day", "a_start", "a_end")
      .agg(count(col("p_ms")).as("n_errors"))
  }

  def q86Sql: String =
    s"""WITH ev AS (SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
       |iv AS (SELECT user_id, ms // $DayMs AS day,
       |    min(ms) AS a_start, max(ms) AS a_end
       |  FROM ev GROUP BY 1, 2),
       |pts AS (SELECT user_id AS p_user, ms AS p_ms FROM ev
       |  WHERE event_type = '$PointType')
       |SELECT iv.user_id, iv.day, iv.a_start, iv.a_end,
       |  count(p.p_ms) AS n_errors
       |FROM iv LEFT JOIN pts p
       |  ON p.p_user <> iv.user_id AND p.p_ms BETWEEN iv.a_start AND iv.a_end
       |GROUP BY 1, 2, 3, 4""".stripMargin

  /** q108: time-series RESAMPLING with forward fill — regularize each
    * user's event stream onto an hourly grid between their first and
    * last active hour, carrying the last observed hourly aggregate
    * through silent hours (`observed` marks real vs filled rows). The
    * standard densify step before windowed feature extraction.
    *
    * Scale shape: the hourly aggregate is map-side combinable; the grid
    * explode is bounded by the time span (hours/user, NOT events/user);
    * the fill is one keyed window pass ordered by hour — no
    * corpus-wide sort, state = one row per user per window frame. The
    * fill carries the EXACT decimal sum and casts to double at the end,
    * so filled and observed rows agree bit-for-bit across engines. */
  def q108ResampleFfill(spark: SparkSession, dir: String): DataFrame = {
    val HourMs = 3600000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("value"))
    val hourly = ev.groupBy(col("user_id"), expr(s"ms div $HourMs").as("h"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(25,6)")).as("sv"))
    val span = hourly.groupBy("user_id").agg(min("h").as("h0"), max("h").as("h1"))
      .withColumn("h", explode(expr("sequence(h0, h1)")))
      .select("user_id", "h")
    val w = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    span.join(hourly, Seq("user_id", "h"), "left")
      .select(col("user_id"), col("h"),
        col("n").isNotNull.as("observed"),
        last(col("n"), ignoreNulls = true).over(w).as("n_events"),
        last(col("sv"), ignoreNulls = true).over(w).cast("double").as("total_value"))
  }

  /** q228: resample with LINEAR INTERPOLATION — q108's other half:
    * forward-fill answers "what was the last known state" (counters,
    * balances); interpolation answers "what was the level mid-gap" for
    * continuous signals (rates, gauges, sensor feeds) — the standard
    * time-series regularization before any windowed model. Same hourly
    * grid as q108 (per user, min..max observed hour); observed hours
    * keep their EXACT value (decimal-accumulated, cast once); missing
    * hours take pv + (nv − pv)·(h − ph)/(nh − ph) from the bracketing
    * observations — one fixed double chain over exact inputs
    * (engine-identical), and the bracket always exists because the
    * grid ends at observed hours. `observed` marks which rows are
    * data and which are inference — downstream must be able to tell.
    *
    * Scale: the q108 shape exactly — one user_id shuffle; all four
    * bracket windows (prev/next hour and value) stack on the SAME
    * sort order, so they share one exchange + sort. Grid density is
    * the span, same as q108. */
  def q228ResampleInterp(spark: SparkSession, dir: String): DataFrame = {
    val HourMs = 3600000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("value"))
    val hourly = ev.groupBy(col("user_id"), expr(s"ms div $HourMs").as("h"))
      .agg(sum(col("value").cast("decimal(25,6)")).as("sv"))
    val span = hourly.groupBy("user_id").agg(min("h").as("h0"), max("h").as("h1"))
      .withColumn("h", explode(expr("sequence(h0, h1)")))
      .select("user_id", "h")
    val wp = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the "next observed" bracket as a RUNNING frame over the REVERSED
    // order, not [currentRow, unboundedFollowing): Spark's
    // unbounded-FOLLOWING frame re-scans current→end for every row —
    // O(span²) per user, measured 14.5 s warm at sf0.1 on ~720-hour
    // grids; the reversed running frame is the O(span) incremental form
    // (3.4 s). Costs a second sort on the same exchange.
    val wn = Window.partitionBy("user_id").orderBy(col("h").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    span.join(hourly, Seq("user_id", "h"), "left")
      .select(col("user_id"), col("h"),
        col("sv").isNotNull.as("observed"),
        col("sv").cast("double").as("v"),
        last(when(col("sv").isNotNull, col("h")), ignoreNulls = true).over(wp).as("ph"),
        last(col("sv"), ignoreNulls = true).over(wp).cast("double").as("pv"),
        last(when(col("sv").isNotNull, col("h")), ignoreNulls = true).over(wn).as("nh"),
        last(col("sv"), ignoreNulls = true).over(wn).cast("double").as("nv"))
      .select(col("user_id"), col("h"), col("observed"),
        when(col("observed"), col("v"))
          .otherwise(col("pv") + (col("nv") - col("pv"))
            * (col("h") - col("ph")).cast("double")
            / (col("nh") - col("ph")).cast("double"))
          .as("value_interp"))
  }

  def q228Sql: String =
    s"""WITH ev AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events),
       |hourly AS (SELECT user_id, ms // 3600000 AS h,
       |    SUM(CAST(value AS DECIMAL(25,6))) AS sv
       |  FROM ev GROUP BY 1, 2),
       |span AS (SELECT user_id, unnest(generate_series(h0, h1)) AS h
       |  FROM (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1)),
       |br AS (SELECT s.user_id, s.h, h2.sv IS NOT NULL AS observed,
       |    CAST(h2.sv AS DOUBLE) AS v,
       |    last_value(CASE WHEN h2.sv IS NOT NULL THEN s.h END IGNORE NULLS) OVER wp AS ph,
       |    CAST(last_value(h2.sv IGNORE NULLS) OVER wp AS DOUBLE) AS pv,
       |    first_value(CASE WHEN h2.sv IS NOT NULL THEN s.h END IGNORE NULLS) OVER wn AS nh,
       |    CAST(first_value(h2.sv IGNORE NULLS) OVER wn AS DOUBLE) AS nv
       |  FROM span s LEFT JOIN hourly h2 USING (user_id, h)
       |  WINDOW wp AS (PARTITION BY s.user_id ORDER BY s.h
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |  wn AS (PARTITION BY s.user_id ORDER BY s.h
       |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |SELECT user_id, h, observed,
       |  CASE WHEN observed THEN v
       |    ELSE pv + (nv - pv) * CAST(h - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE)
       |  END AS value_interp
       |FROM br""".stripMargin

  def q108Sql: String =
    s"""WITH ev AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events),
       |hourly AS (SELECT user_id, ms // 3600000 AS h, count(*) AS n,
       |    SUM(CAST(value AS DECIMAL(25,6))) AS sv
       |  FROM ev GROUP BY 1, 2),
       |span AS (SELECT user_id, unnest(generate_series(h0, h1)) AS h
       |  FROM (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1))
       |SELECT s.user_id, s.h, h2.n IS NOT NULL AS observed,
       |  last_value(h2.n IGNORE NULLS) OVER w AS n_events,
       |  CAST(last_value(h2.sv IGNORE NULLS) OVER w AS DOUBLE) AS total_value
       |FROM span s LEFT JOIN hourly h2 USING (user_id, h)
       |WINDOW w AS (PARTITION BY s.user_id ORDER BY s.h
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** q136: trailing 24-hour ROLLING aggregates per event — for every
    * event, the count and exact value sum of the same user's events in
    * (ts − 24 h, ts]: the per-event rate feature behind throttling,
    * fraud scoring, and activity weighting, which the fixed hourly grid
    * (q108) can't express. A RANGE window frame in epoch ms — the
    * VALUE-framed window, so ms-tied events are peers on both engines
    * and the result is tie-order-independent by construction (no
    * event_id tie-break needed, unlike every ROWS frame). The sum
    * accumulates DECIMAL(25,6) inside the frame and casts to double
    * once (Relational.dsum discipline).
    *
    * Scale: ONE shuffle on user_id; the range frame slides with two
    * pointers over each user's sorted events — O(n) amortized per
    * partition, state bounded by one 24 h span of one user. */
  def q136RollingWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"))
      .rangeBetween(-(DayMs - 1), 0)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        col("value"))
      .select(col("user_id"), col("event_id"), col("ms"),
        count(lit(1)).over(w).as("roll_cnt"),
        sum(col("value").cast("decimal(25,6)")).over(w).cast("double").as("roll_value"))
  }

  def q136Sql: String =
    s"""SELECT user_id, event_id, epoch_ms(ts) AS ms,
       |  count(*) OVER w AS roll_cnt,
       |  CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE) AS roll_value
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
       |  RANGE BETWEEN ${DayMs - 1} PRECEDING AND CURRENT ROW)""".stripMargin

  /** q141: LAST-TOUCH ATTRIBUTION — every conversion ($LeftType)
    * attributed to the same user's most recent marketing touch
    * (${AttributionChannels.mkString("/")}) within the
    * ${cfg.attributionHorizonMs / 86400000L}-day horizon, or to
    * "direct" (nulls) when no touch qualifies: the classic marketing
    * attribution query, and the horizon is what separates it from a
    * plain as-of join — a year-old click must NOT claim today's
    * purchase, and EVERY conversion must appear (revenue accounting
    * sums over this table).
    *
    * Scale: q85's union-tag shape — one user_id shuffle, three carried
    * columns (touch id/ms/channel) in a single Window operator; the
    * horizon is a post-filter on the carried ms, not a join
    * condition. Tie semantics inherited from q85: a touch at the
    * conversion's exact ms qualifies, max event_id among equal-ms
    * touches wins. */
  def q141Attribution(spark: SparkSession, dir: String): DataFrame = {
    val chans = AttributionChannels
    val H = cfg.attributionHorizonMs
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin(chans :+ LeftType: _*))
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        col("event_type"),
        when(col("event_type") === LeftType, 1).otherwise(0).as("tag"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ms"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = e.select(col("user_id"), col("event_id"), col("ms"), col("tag"),
      last(when(col("tag") === 0, col("event_id")), ignoreNulls = true).over(w).as("t_id"),
      last(when(col("tag") === 0, col("ms")), ignoreNulls = true).over(w).as("t_ms"),
      last(when(col("tag") === 0, col("event_type")), ignoreNulls = true).over(w).as("t_ch"))
    val valid = col("t_ms").isNotNull && (col("ms") - col("t_ms")) <= H
    carried.filter(col("tag") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ms").as("purchase_ms"),
        when(valid, col("t_id")).as("touch_id"),
        when(valid, col("t_ch")).as("channel"),
        when(valid, col("ms") - col("t_ms")).as("lag_ms"))
  }

  def q141Sql: String = {
    val chans = AttributionChannels.map(c => s"'$c'").mkString("(", ", ", ")")
    val H = cfg.attributionHorizonMs
    s"""WITH t AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type FROM events
       |  WHERE event_type IN $chans),
       |p AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
       |  WHERE event_type = '$LeftType'),
       |j AS (SELECT p.event_id AS purchase_id, t.event_id AS t_id,
       |    t.event_type AS t_ch, t.ms AS t_ms,
       |    row_number() OVER (PARTITION BY p.event_id
       |      ORDER BY t.ms DESC, t.event_id DESC) AS rn
       |  FROM p JOIN t ON t.user_id = p.user_id AND t.ms <= p.ms),
       |best AS (SELECT purchase_id, t_id, t_ch, t_ms FROM j WHERE rn = 1)
       |SELECT p.event_id AS purchase_id, p.user_id, p.ms AS purchase_ms,
       |  CASE WHEN b.t_ms IS NOT NULL AND p.ms - b.t_ms <= $H THEN b.t_id END AS touch_id,
       |  CASE WHEN b.t_ms IS NOT NULL AND p.ms - b.t_ms <= $H THEN b.t_ch END AS channel,
       |  CASE WHEN b.t_ms IS NOT NULL AND p.ms - b.t_ms <= $H THEN p.ms - b.t_ms END AS lag_ms
       |FROM p LEFT JOIN best b ON b.purchase_id = p.event_id""".stripMargin
  }

  /** q257: LINEAR MULTI-TOUCH attribution — q141's last-touch rule is
    * one marketing model; the linear model splits each conversion's
    * credit EQUALLY across every qualifying touch in the horizon, and
    * the split is done in integer BASIS POINTS so credit conserves
    * exactly: each touch takes 10000 div n, the LAST touch (max ms,
    * then max event id — q141's tie rule) also takes the 10000 mod n
    * remainder, and no-touch conversions credit a 'direct' channel in
    * full — Σ total_bp ≡ 10000 × conversions BY CONSTRUCTION
    * (spec-pinned; a float 1/n split leaks ulps and revenue
    * accounting sums over this table). Output: per-channel credit
    * totals, the budget-allocation table the marketing owner reads.
    *
    * Scale: the pair join is per-user (one user_id shuffle) with the
    * horizon filter bounding fan-out to the window's activity (the
    * q136 reasoning); the per-conversion count/rank windows partition
    * on conversion id — bounded by that conversion's touches; the
    * channel rollup is map-combinable. */
  def q257LinearAttribution(spark: SparkSession, dir: String): DataFrame = {
    val chans = AttributionChannels
    val H = cfg.attributionHorizonMs
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        col("event_type"))
    val t = ev.filter(col("event_type").isin(chans: _*))
      .select(col("user_id"), col("event_id").as("t_id"), col("ms").as("t_ms"),
        col("event_type").as("ch"))
    val p = ev.filter(col("event_type") === LeftType)
      .select(col("user_id"), col("event_id").as("p_id"), col("ms").as("p_ms"))
    val pairs = p.join(t, Seq("user_id"))
      .filter(col("t_ms") <= col("p_ms") && col("p_ms") - col("t_ms") <= H)
    val wn = Window.partitionBy("p_id")
    val wLast = Window.partitionBy("p_id").orderBy(col("t_ms").desc, col("t_id").desc)
    val credited = pairs
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("rk", row_number().over(wLast))
      .withColumn("bp", expr("10000 div n") +
        when(col("rk") === 1, expr("10000 % n")).otherwise(lit(0L)))
    val byChannel = credited.groupBy(col("ch").as("channel"))
      .agg(count(lit(1)).as("n_credits"), sum(col("bp")).as("total_bp"))
    val direct = p.join(pairs.select("p_id").distinct(), Seq("p_id"), "left_anti")
      .agg(count(lit(1)).as("n_credits"),
        (count(lit(1)) * 10000L).as("total_bp"))
      .select(lit("direct").as("channel"), col("n_credits"), col("total_bp"))
    byChannel.unionByName(direct)
  }

  def q257Sql: String = {
    val chans = AttributionChannels.map(c => s"'$c'").mkString("(", ", ", ")")
    val H = cfg.attributionHorizonMs
    s"""WITH t AS (SELECT user_id, event_id AS t_id, epoch_ms(ts) AS t_ms,
       |    event_type AS ch FROM events WHERE event_type IN $chans),
       |p AS (SELECT user_id, event_id AS p_id, epoch_ms(ts) AS p_ms FROM events
       |  WHERE event_type = '$LeftType'),
       |pairs AS (SELECT p.p_id, t.t_id, t.ch, t.t_ms
       |  FROM p JOIN t ON t.user_id = p.user_id
       |    AND t.t_ms <= p.p_ms AND p.p_ms - t.t_ms <= $H),
       |c AS (SELECT *, count(*) OVER (PARTITION BY p_id) AS n,
       |    row_number() OVER (PARTITION BY p_id ORDER BY t_ms DESC, t_id DESC) AS rk
       |  FROM pairs),
       |cr AS (SELECT ch, 10000 // n
       |    + CASE WHEN rk = 1 THEN 10000 % n ELSE 0 END AS bp FROM c),
       |by_ch AS (SELECT ch AS channel, CAST(count(*) AS BIGINT) AS n_credits,
       |    CAST(SUM(bp) AS BIGINT) AS total_bp FROM cr GROUP BY 1),
       |direct AS (SELECT 'direct' AS channel, CAST(count(*) AS BIGINT) AS n_credits,
       |    CAST(count(*) * 10000 AS BIGINT) AS total_bp
       |  FROM p WHERE NOT EXISTS (SELECT 1 FROM pairs WHERE pairs.p_id = p.p_id))
       |SELECT * FROM by_ch UNION ALL SELECT * FROM direct""".stripMargin
  }

  /** q184: FORWARD as-of join — q85's direction twin (pandas
    * merge_asof direction='forward' / kdb aj on the reversed axis):
    * each $LeftType takes the EARLIEST $RightType at-or-after it per
    * user — the "next touch after conversion" / "first sensor reading
    * after the command" primitive. Same single-window shape as q85
    * with the frame flipped to [current, ∞): one user_id shuffle, no
    * self-join; at equal ms the tag order (left 0 < right 1) puts the
    * right row INSIDE the left row's forward frame, implementing the
    * inclusive at-or-after exactly, and `first` with the id tiebreak
    * picks the lowest event id among equal-ms matches (oracle mirrors
    * with rn=1 over ms ASC, id ASC). Lefts with no future right are
    * absent — q141's horizon semantics, not a null fabrication. */
  def q184AsofNext(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin(LeftType, RightType))
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"),
        when(col("event_type") === LeftType, 0).otherwise(1).as("tag"))
    // the forward frame as a RUNNING frame over the REVERSED order —
    // [currentRow, unboundedFollowing) re-scans to the partition end
    // for every row (O(events²) per user: harmless on this corpus's
    // ~50-event users, a hot key's death at scale; the q228 lesson).
    // Reversed (ms, tag, id) DESC keeps the same winner: the running
    // `last` non-null is the earliest-(ms, id) right at-or-after, and
    // tag DESC puts the equal-ms right inside the left's prefix.
    val w = Window.partitionBy("user_id")
      .orderBy(col("ms").desc, col("tag").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.select(col("user_id"), col("event_id"), col("ms"), col("tag"),
        last(when(col("tag") === 1, col("event_id")), ignoreNulls = true)
          .over(w).as("view_id"),
        last(when(col("tag") === 1, col("ms")), ignoreNulls = true)
          .over(w).as("view_ms"))
      .filter(col("tag") === 0 && col("view_id").isNotNull)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ms").as("purchase_ms"), col("view_id"), col("view_ms"),
        (col("view_ms") - col("ms")).as("lead_ms"))
  }

  def q184Sql: String =
    s"""WITH v AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
       |  WHERE event_type = '$RightType'),
       |p AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
       |  WHERE event_type = '$LeftType'),
       |j AS (SELECT p.event_id AS purchase_id, p.user_id, p.ms AS purchase_ms,
       |    v.event_id AS view_id, v.ms AS view_ms,
       |    row_number() OVER (PARTITION BY p.event_id
       |      ORDER BY v.ms, v.event_id) AS rn
       |  FROM p JOIN v ON v.user_id = p.user_id AND v.ms >= p.ms)
       |SELECT purchase_id, user_id, purchase_ms, view_id, view_ms,
       |  view_ms - purchase_ms AS lead_ms
       |FROM j WHERE rn = 1""".stripMargin

  /** q236: INTERVAL-OVERLAP COUNTING — for every user session (q8's
    * gap-${cfg.sessionGapMs}ms construction rolled up to [start_ms,
    * end_ms] intervals), how many OTHER sessions — any user — overlap
    * it in time. The load/concurrency measure behind capacity planning
    * and incident blast-radius questions, and in general form the
    * interval×interval overlap JOIN collapsed to its aggregate.
    *
    * The naive form is an inequality self-join (O(n²) candidate pairs);
    * the identity overlaps(i) = #{starts ≤ end_i} − #{ends < start_i} −
    * 1 (valid because end_j < start_i already implies start_j ≤ end_i
    * for well-formed intervals) turns it into two GLOBAL order ranks,
    * computed in ONE distributed prefix-sum sweep
    * ([[graft.operators.Scan.exclusiveRunningSums]]) over a four-kind
    * boundary union: start-items (counted by rank 1), end-probes,
    * start-probes, end-items (counted by rank 2) — the kind order
    * resolves ties to ≤ on the starts side (items before probes at
    * equal ms) and < on the ends side (probes before items). O(n log
    * n), zero pair blowup, exact integers.
    *
    * Scale: one range-partitioned sweep over 4·|sessions| boundary
    * rows (session table Ck-cut once — built once, consumed by the
    * sweep and the final join) + one keyed aggregate to pair each
    * session's two ranks — never a session×session product; a
    * 10⁹-session day costs one sort. */
  /** Gap-sessionized (user_id, session_id, start_ms, end_ms) intervals —
    * the interval table q236 (concurrency) and q275 (union coverage)
    * both consume; stage-cut so each consumer's passes reuse one
    * materialization. */
  private def gapSessions(spark: SparkSession, dir: String): DataFrame = {
    val gap = cfg.sessionGapMs
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    graft.Ck.lazyStage(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
        .withColumn("new_sess",
          when(col("ms") - lag(col("ms"), 1).over(w) > gap, 1)
            .otherwise(when(lag(col("ms"), 1).over(w).isNull, 1).otherwise(0)))
        .withColumn("session_id", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms")),
      cfg)
  }

  def q236SessionConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val sess = gapSessions(spark, dir)
    def kind(v: Column, k: Int, ws: Long, we: Long, carryIds: Boolean) =
      sess.select(v.as("v"), lit(k).as("k"), lit(ws).as("ws"), lit(we).as("we"),
        (if (carryIds) col("user_id") else lit(null).cast("long")).as("user_id"),
        (if (carryIds) col("session_id").cast("long")
         else lit(null).cast("long")).as("session_id"))
    val bounds = kind(col("start_ms"), 0, 1L, 0L, carryIds = false)   // start items
      .unionAll(kind(col("end_ms"), 1, 0L, 0L, carryIds = true))      // end probes
      .unionAll(kind(col("start_ms"), 2, 0L, 0L, carryIds = true))    // start probes
      .unionAll(kind(col("end_ms"), 3, 0L, 1L, carryIds = false))     // end items
    val ranks = Scan
      .exclusiveRunningSums(bounds, cfg.skylineRangeParts, Seq("v", "k"),
        Seq("ws", "we"), cfg)
      .filter(col("k").isin(1, 2))
      .groupBy("user_id", "session_id")
      .agg(max(when(col("k") === 1, col("run_ws"))).as("n_starts_le_end"),
        max(when(col("k") === 2, col("run_we"))).as("n_ends_lt_start"))
    sess.withColumn("session_id", col("session_id").cast("long"))
      .join(ranks, Seq("user_id", "session_id"))
      .select(col("user_id"), col("session_id"), col("start_ms"), col("end_ms"),
        (col("n_starts_le_end") - col("n_ends_lt_start") - 1L).as("n_concurrent"))
  }

  /** q275: INTERVAL-UNION coverage — the companion number to q236's
    * peak concurrency: merge ALL session intervals (across users) into
    * maximal covered ISLANDS and report each island's span, session
    * count, and covered milliseconds. "How much wall-clock was the
    * platform active at all, and in how many disjoint busy periods" —
    * the capacity-planning denominator (q236 gives the peak numerator).
    * Two intervals merge when they overlap or touch to the millisecond
    * (s₂ ≤ e₁ + 1 — integer-time coverage has no gap between e and
    * e+1).
    *
    * Scale: the classic sweep, never a sort-merge self-join: interval
    * bounds become ±1 deltas on a SINGLE integer sort key (2s for
    * starts, 2(e+1)+1 for ends — parity separates kinds, grouping by
    * key kills tie-order ambiguity), one range-partitioned prefix scan
    * ([[Scan.exclusiveRunningSums]] — the q236 kernel) finds the
    * groups where the active count returns to zero (island openers), a
    * second scan numbers the openers, and sessions map to their island
    * by equi-join on start key. No global window, no O(n²) inequality
    * join — three bounded shuffles. */
  def q275IntervalUnion(spark: SparkSession, dir: String): DataFrame = {
    val sess = gapSessions(spark, dir)
    val bounds = sess
      .select((col("start_ms") * 2).as("sk"), lit(1L).as("d"), lit(1L).as("ns"))
      .unionAll(sess.select(((col("end_ms") + 1L) * 2 + 1L).as("sk"),
        lit(-1L).as("d"), lit(0L).as("ns")))
      .groupBy("sk").agg(sum(col("d")).as("d"), sum(col("ns")).as("ns"))
    val p1 = Scan
      .exclusiveRunningSums(bounds, cfg.skylineRangeParts, Seq("sk"), Seq("d"), cfg)
      .withColumn("opener",
        when(col("ns") > 0 && col("run_d") === 0L, 1L).otherwise(0L))
    val p2 = Scan
      .exclusiveRunningSums(p1, cfg.skylineRangeParts, Seq("sk"), Seq("opener"), cfg)
      .withColumn("island_id", col("run_opener") + col("opener"))
    val byStart = p2.filter(col("ns") > 0)
      .select(expr("sk div 2").as("start_ms"), col("island_id"))
    sess.join(byStart, "start_ms")
      .groupBy("island_id")
      .agg(min(col("start_ms")).as("start_ms"), max(col("end_ms")).as("end_ms"),
        count(lit(1)).as("n_sessions"))
      .select(col("island_id"), col("start_ms"), col("end_ms"), col("n_sessions"),
        (col("end_ms") - col("start_ms") + 1L).as("covered_ms"))
  }

  def q275Sql: String =
    s"""WITH flags AS (
       |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
       |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL THEN 1
       |         WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > ${cfg.sessionGapMs} THEN 1
       |         ELSE 0 END AS new_sess
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
       |se AS (SELECT user_id,
       |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id, ms
       |  FROM flags),
       |sess AS (SELECT user_id, session_id, min(ms) AS start_ms, max(ms) AS end_ms
       |  FROM se GROUP BY 1, 2),
       |ord AS (SELECT *, max(end_ms) OVER (ORDER BY start_ms, end_ms, user_id, session_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |  FROM sess),
       |op AS (SELECT *, CASE WHEN pmax IS NULL OR start_ms > pmax + 1 THEN 1 ELSE 0 END AS opener
       |  FROM ord),
       |isl AS (SELECT *, CAST(SUM(opener) OVER (ORDER BY start_ms, end_ms, user_id, session_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island_id FROM op)
       |SELECT island_id, min(start_ms) AS start_ms, max(end_ms) AS end_ms,
       |  CAST(count(*) AS BIGINT) AS n_sessions,
       |  max(end_ms) - min(start_ms) + 1 AS covered_ms
       |FROM isl GROUP BY 1""".stripMargin

  def q236Sql: String =
    s"""WITH flags AS (
       |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
       |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL THEN 1
       |         WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > ${cfg.sessionGapMs} THEN 1
       |         ELSE 0 END AS new_sess
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
       |se AS (SELECT user_id,
       |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id, ms
       |  FROM flags),
       |sess AS (SELECT user_id, session_id, min(ms) AS start_ms, max(ms) AS end_ms
       |  FROM se GROUP BY 1, 2)
       |SELECT a.user_id, a.session_id, a.start_ms, a.end_ms,
       |  count(*) - 1 AS n_concurrent
       |FROM sess a JOIN sess b
       |  ON b.start_ms <= a.end_ms AND b.end_ms >= a.start_ms
       |GROUP BY 1, 2, 3, 4""".stripMargin
}

/** Default-configured instance (see [[graft.GraftConfig]]). */
object Temporal extends TemporalOps(GraftConfig.default)

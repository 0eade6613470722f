package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftConfig
import graft.sources.{Artifact, Tables}

/** Behavioral / product analytics over the event stream: SCD2 history
  * building, ordered funnel analysis, cohort retention. The warehouse
  * workloads a "switchable" engine must cover beyond the OLAP core.
  *
  * Cross-engine determinism: all timestamps compare in epoch ms (the
  * q8/Temporal idiom), every ordering carries an event_id tie-break,
  * and outputs are integers/epoch-ms longs — no floats anywhere.
  *
  * Scale shape: every operator here is one shuffle on user_id; the
  * window chains stack on that single partitioning (Spark reuses the
  * exchange), and the final aggregates are map-side combinable.
  */
class BehavioralOps(val cfg: GraftConfig) {
  private val Stages = cfg.funnelStages
  private val DayMs = 86400000L
  private val HourMs = 3600000L

  private def ev(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        col("event_type"))

  /** q116: SCD2 history build — collapse each user's event-type stream
    * into CHANGE versions (consecutive equal states merge), stamped
    * with [valid_from, valid_to) epoch-ms validity and an is_current
    * flag on the open version. The type-2 dimension construction every
    * warehouse runs on mutable entities, as two window passes over ONE
    * user_id shuffle: a lag detects changes, a lead on the surviving
    * change rows closes each version's interval. */
  def q116Scd2(spark: SparkSession, dir: String): DataFrame =
    scd2Of(ev(spark, dir))

  /** The q116 SCD2 construction over an explicit (user_id, event_id,
    * ms, event_type) stream — shared by the full build (q116) and the
    * incremental merge (q232). */
  private def scd2Of(e: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val changes = e
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    val w2 = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    changes.select(col("user_id"),
        row_number().over(w2).cast("long").as("version"),
        col("event_type").as("state"),
        col("ms").as("valid_from_ms"),
        lead(col("ms"), 1).over(w2).as("valid_to_ms"))
      .withColumn("is_current", col("valid_to_ms").isNull)
  }

  /** q232: INCREMENTAL SCD2 MERGE — absorb an arriving event batch into
    * a PERSISTED type-2 history without rebuilding it. The batch is the
    * final day of the feed (cutoff = max event day, the "overnight
    * arrivals" slice); history as it stood before the cutoff is written
    * once (the nightly table, q165's persisted-base discipline) and the
    * merge then touches ONLY users present in the batch: every other
    * user's version rows PASS THROUGH from the stored history byte-for-
    * byte — no window recompute, no re-versioning — while affected
    * users' histories are re-derived from their (pushed-down, semi-join
    * pruned) event streams and stitched back in. Output ≡ q116 rebuilt
    * from scratch (the oracle IS q116's full-rebuild SQL), because
    * affected/unaffected users partition the row space and SCD2 versions
    * never cross users.
    *
    * Scale: the pass-through side is a storage-partitioning-preserving
    * anti join against the (small, broadcast) affected-user set; the
    * recompute side is delta-proportional in USERS — at 100 TB a day's
    * batch touches a sliver of the user base, so the merge costs
    * |batch users' history|, not |history|. Re-deriving an affected user
    * from raw events (rather than replaying stored version rows + batch)
    * keeps the operator stateless w.r.t. q116's output schema — the
    * version rows ARE a sufficient change-log replay source if the raw
    * feed ever becomes unreadable, at the price of carrying the
    * tie-break event_id in the artifact. */
  def q232Scd2Merge(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val maxDay = e.agg(max(expr(s"ms div $DayMs")).as("max_day"))
    val cut = e.crossJoin(broadcast(maxDay))
    // the pre-cutoff history is the persisted NIGHTLY table, so
    // steady-state cost really is delta-proportional as the scaladoc
    // claims. The key needs no knob: the events fingerprint already
    // moves when a feed regeneration moves the cutoff day itself.
    val hist = Artifact.getOrBuild(spark, "scd2base", dir, Seq("events.parquet"), "") { p =>
      scd2Of(cut.filter(expr(s"ms div $DayMs") < col("max_day")).drop("max_day")).write.parquet(p)
    }
    val affected = cut.filter(expr(s"ms div $DayMs") === col("max_day"))
      .select("user_id").distinct()
    val kept = hist.join(broadcast(affected), Seq("user_id"), "left_anti")
    val rebuilt = scd2Of(e.join(broadcast(affected), Seq("user_id"), "left_semi"))
    kept.unionByName(rebuilt)
  }

  /** Same rows as the full rebuild by construction — the strongest gate:
    * DuckDB rebuilds the entire history and the merged artifact path
    * must land on identical version rows. */
  def q232Sql: String = q116Sql

  /** q239: SEASONAL anomaly detection — hourly event-type counts tested
    * against that type's HOUR-OF-DAY baseline across days: a cell
    * (type, day, hod) flags when its count sits more than z standard
    * deviations above the mean of the same hour-of-day on every other
    * day. The seasonal complement of q130 (which baselines each USER
    * against their own flat history): traffic has a daily shape, and a
    * spike at 3am is an incident even when it would be normal at noon.
    * The baseline grid is ZERO-FILLED over the observed [min_day,
    * max_day] span — silent hours are real observations of zero, and
    * skipping them would inflate every mean (the q108 densify
    * reasoning applied to baselines).
    *
    * Integer-exact z-test (q130's cleared-denominator form): with n =
    * #days, S = Σcnt, Q = Σcnt² per (type, hod), a cell flags iff
    * n·x − S > 0 ∧ (n·x − S)² > z²·(n·Q − S²) — all BIGINT, no float
    * mean or sqrt, engines agree bitwise.
    *
    * Scale: one map-combinable (type, hour) rollup of the corpus; the
    * grid, fill join, and 24·|types|-row baseline table are all bounded
    * by the TIME SPAN, not the corpus — the broadcast join back is
    * per-cell arithmetic. */
  def q239SeasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val cells = ev(spark, dir)
      .groupBy(col("event_type"), expr(s"ms div $HourMs").as("h"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"), expr("h div 24").as("day"),
        expr("h % 24").as("hod"), col("cnt"))
    val span = cells.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = cells.select("event_type").distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
      .select(col("event_type"), col("day"),
        explode(sequence(lit(0L), lit(23L))).as("hod"))
    val filled = grid
      .join(cells, Seq("event_type", "day", "hod"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val stats = filled.groupBy("event_type", "hod")
      .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("sum_cnt"),
        sum(col("cnt") * col("cnt")).as("q"))
    val dev = col("n_cells") * col("cnt") - col("sum_cnt")
    filled.join(broadcast(stats), Seq("event_type", "hod"))
      .filter(dev > 0 && dev * dev >
        lit(cfg.seasonalZSq) * (col("n_cells") * col("q") - col("sum_cnt") * col("sum_cnt")))
      .select("event_type", "day", "hod", "cnt", "n_cells", "sum_cnt")
  }

  def q239Sql: String =
    s"""WITH e AS (SELECT event_type, epoch_ms(ts) // $HourMs AS h FROM events),
       |cells AS (SELECT event_type, h // 24 AS day, h % 24 AS hod,
       |    count(*) AS cnt FROM e GROUP BY 1, 2, 3),
       |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM cells),
       |grid AS (SELECT event_type, d.day, hh.hod
       |  FROM (SELECT DISTINCT event_type FROM e), span,
       |    LATERAL (SELECT unnest(generate_series(d0, d1)) AS day) d,
       |    LATERAL (SELECT unnest(generate_series(0, 23)) AS hod) hh),
       |filled AS (SELECT g.event_type, g.day, g.hod, coalesce(c.cnt, 0) AS cnt
       |  FROM grid g LEFT JOIN cells c USING (event_type, day, hod)),
       |st AS (SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n_cells,
       |    CAST(sum(cnt) AS BIGINT) AS sum_cnt,
       |    CAST(sum(cnt * cnt) AS BIGINT) AS q FROM filled GROUP BY 1, 2)
       |SELECT f.event_type, f.day, f.hod, f.cnt, st.n_cells, st.sum_cnt
       |FROM filled f JOIN st USING (event_type, hod)
       |WHERE st.n_cells * f.cnt - st.sum_cnt > 0
       |  AND (st.n_cells * f.cnt - st.sum_cnt) * (st.n_cells * f.cnt - st.sum_cnt)
       |    > ${cfg.seasonalZSq} * (st.n_cells * st.q - st.sum_cnt * st.sum_cnt)""".stripMargin

  def q116Sql: String =
    s"""WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type FROM events),
       |ch AS (SELECT user_id, event_id, ms, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
       |  FROM ev
       |  QUALIFY prev IS NULL OR prev <> event_type)
       |SELECT user_id,
       |  CAST(row_number() OVER w AS BIGINT) AS version,
       |  event_type AS state, ms AS valid_from_ms,
       |  lead(ms) OVER w AS valid_to_ms,
       |  lead(ms) OVER w IS NULL AS is_current
       |FROM ch
       |WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)""".stripMargin

  /** q117: ordered funnel — per user, the earliest time each stage of
    * $Stages was reached IN ORDER (stage i counts only at-or-after
    * stage i-1's first hit). The classic conversion funnel as a chain
    * of conditional-min windows over one user_id partitioning — no
    * self-joins, no per-stage passes over the corpus; users who never
    * enter the funnel still appear (all-null stages). */
  def q117Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ub = Window.partitionBy("user_id")
    var df = ev(spark, dir)
    var prevCol: Option[String] = None
    Stages.foreach { s =>
      val cond = col("event_type") === s &&
        prevCol.map(p => col(p).isNotNull && col("ms") >= col(p)).getOrElse(lit(true))
      df = df.withColumn(s"${s}_ms", min(when(cond, col("ms"))).over(ub))
      prevCol = Some(s"${s}_ms")
    }
    df.groupBy("user_id")
      .agg(Stages.map(s => max(col(s"${s}_ms")).as(s"${s}_ms")).head,
        Stages.map(s => max(col(s"${s}_ms")).as(s"${s}_ms")).tail: _*)
  }

  def q117Sql: String = {
    // mirror the window chain as stacked CTEs, one stage column each
    val base = "SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events"
    val ctes = new scala.collection.mutable.StringBuilder(s"WITH s0 AS ($base)")
    var prev: Option[String] = None
    Stages.zipWithIndex.foreach { case (s, i) =>
      val cond = prev match {
        case None => s"event_type = '$s'"
        case Some(p) => s"event_type = '$s' AND ${p} IS NOT NULL AND ms >= ${p}"
      }
      ctes ++= s""",
        |s${i + 1} AS (SELECT *, min(CASE WHEN $cond THEN ms END)
        |    OVER (PARTITION BY user_id) AS ${s}_ms FROM s$i)""".stripMargin
      prev = Some(s"${s}_ms")
    }
    val outs = Stages.map(s => s"max(${s}_ms) AS ${s}_ms").mkString(", ")
    s"""${ctes.toString}
       |SELECT user_id, $outs FROM s${Stages.length} GROUP BY user_id""".stripMargin
  }

  /** q118: cohort retention — users grouped by first-active day
    * (cohort), counted by day offset since their cohort day: the
    * retention triangle. Two aggregates on user-sharded data: distinct
    * (user, day) activity, a per-user min for the cohort day (a window
    * over the same partitioning — no extra shuffle), then the
    * (cohort, offset) roll-up. */
  def q118Cohort(spark: SparkSession, dir: String): DataFrame = {
    val ud = ev(spark, dir)
      .select(col("user_id"), expr(s"ms div $DayMs").as("day")).distinct()
    val cohort = ud.withColumn("cohort_day",
      min(col("day")).over(Window.partitionBy("user_id")))
    cohort.groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  def q118Sql: String =
    s"""WITH ud AS (SELECT DISTINCT user_id, epoch_ms(ts) // $DayMs AS day FROM events),
       |c AS (SELECT user_id, day,
       |    min(day) OVER (PARTITION BY user_id) AS cohort_day FROM ud)
       |SELECT cohort_day, day - cohort_day AS day_offset,
       |  count(DISTINCT user_id) AS n_users
       |FROM c GROUP BY 1, 2""".stripMargin

  /** q130: burst hours — per-user activity anomalies, INTEGER-EXACT:
    * an hour is a burst when its event count sits more than z standard
    * deviations above that user's hourly mean. The z-test is done
    * without ever computing a float mean or sqrt: with per-user
    * n = #active hours, S = Σcnt, Q = Σcnt², hour x flags iff
    *   n·x − S > 0  ∧  (n·x − S)² > z²·(n·Q − S²)
    * — the textbook test cleared of denominators, all BIGINT, so both
    * engines agree bit-for-bit (a float σ would diverge in final ulps
    * right at the threshold). Positive deviation only: bursts, not
    * quiet hours. Users with fewer than $MinHours active hours are
    * skipped (no stable baseline), and an all-constant user can never
    * flag (dev = 0). Long-range bound: exact while n·x < 3·10⁹ and
    * z²·n·Q < 2⁶³ — per-USER history, so ~10⁸ hour·count² per user,
    * far beyond real telemetry; wider inputs would cast the two
    * squared terms to DECIMAL(38,0).
    *
    * Scale: hourly rollup is a map-combinable (user, hour) aggregate;
    * the per-user moment table is keyed UNIQUE per user, so the join
    * back fans out 1:1 (q15/q128 discipline — no Window over a hot
    * user). Raw events are touched once. */
  def q130BurstHours(spark: SparkSession, dir: String): DataFrame = {
    val HourMs = 3600000L
    val MinHours = cfg.burstMinHours
    val ZSq = cfg.burstZSq
    val h = ev(spark, dir)
      .select(col("user_id"), (expr(s"ms div $HourMs") * HourMs).as("hr_ms"))
      .groupBy("user_id", "hr_ms").agg(count(lit(1)).as("cnt"))
    val st = h.groupBy("user_id")
      .agg(count(lit(1)).as("n_hours"), sum(col("cnt")).as("s"),
        sum(col("cnt") * col("cnt")).as("q"))
    h.join(st, "user_id")
      .filter(col("n_hours") >= MinHours)
      .withColumn("dev", col("n_hours") * col("cnt") - col("s"))
      .filter(col("dev") > 0 &&
        col("dev") * col("dev") > lit(ZSq) * (col("n_hours") * col("q") - col("s") * col("s")))
      .select(col("user_id"), col("hr_ms"), col("cnt"),
        col("n_hours"), col("s").as("total_events"))
  }

  /** q145: TRENDING — the top-${cfg.trendTopK} event types per day by
    * count, with a total tie order (count desc, type asc): the
    * "what's hot today" rollup of every activity dashboard. The daily
    * counts are one map-combinable aggregate; the per-day rank filter
    * plans as WindowGroupLimit (partial top-k map-side before the day
    * exchange — PlanSpec-pinned), so no day's group is ever globally
    * sorted even when one day holds the whole corpus. */
  def q145Trending(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("day")
      .orderBy(col("cnt").desc, col("event_type"))
    ev(spark, dir)
      .select(expr(s"ms div $DayMs").as("day"), col("event_type"))
      .groupBy("day", "event_type").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cfg.trendTopK)
  }

  def q145Sql: String =
    s"""WITH d AS (SELECT epoch_ms(ts) // $DayMs AS day, event_type FROM events),
       |c AS (SELECT day, event_type, count(*) AS cnt FROM d GROUP BY 1, 2)
       |SELECT day, event_type, cnt, CAST(rk AS INT) AS rk FROM (
       |  SELECT day, event_type, cnt,
       |    row_number() OVER (PARTITION BY day ORDER BY cnt DESC, event_type) AS rk
       |  FROM c) WHERE rk <= ${cfg.trendTopK}""".stripMargin

  /** q175: session PATH MINING — the top-${cfg.pathTopK} most
    * common 3-step event-type sequences within a session (gap =
    * ${cfg.sessionGapMs} ms, q8's sessionization): the navigation-
    * pattern table behind funnel design ("what do users actually do in
    * order") that per-type counts (q145) and fixed funnels (q117)
    * can't see. One user_id shuffle serves the whole chain — the gap
    * flags, the running session ids, and both lookaheads stack on the
    * SAME window exchange; steps crossing a session boundary are
    * excluded (lead() is session-scoped); trigram counts are
    * map-combinable and the report plans as TakeOrderedAndProject
    * with a total (count desc, path asc) tie order. */
  def q175PathMining(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val sess = ev(spark, dir)
      .withColumn("new_sess",
        when(col("ms") - lag(col("ms"), 1).over(w) > cfg.sessionGapMs, 1)
          .otherwise(when(lag(col("ms"), 1).over(w).isNull, 1).otherwise(0)))
      .withColumn("session_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "session_id").orderBy(col("ms"), col("event_id"))
    sess
      .withColumn("e2", lead(col("event_type"), 1).over(ws))
      .withColumn("e3", lead(col("event_type"), 2).over(ws))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("e1"), col("e2"), col("e3"))
      .limit(cfg.pathTopK)
  }

  def q175Sql: String =
    s"""WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type FROM events),
       |flags AS (SELECT user_id, event_id, ms, event_type,
       |    CASE WHEN lag(ms) OVER w IS NULL THEN 1
       |         WHEN ms - lag(ms) OVER w > ${cfg.sessionGapMs} THEN 1
       |         ELSE 0 END AS new_sess
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
       |sess AS (SELECT user_id, event_id, ms, event_type,
       |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |      ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM flags),
       |paths AS (SELECT event_type AS e1,
       |    lead(event_type, 1) OVER ws AS e2,
       |    lead(event_type, 2) OVER ws AS e3
       |  FROM sess WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ms, event_id))
       |SELECT e1, e2, e3, count(*) AS n_paths
       |FROM paths WHERE e2 IS NOT NULL AND e3 IS NOT NULL
       |GROUP BY 1, 2, 3
       |ORDER BY n_paths DESC, e1, e2, e3
       |LIMIT ${cfg.pathTopK}""".stripMargin

  /** q185: RFM SEGMENTATION — every purchasing user bucketed by
    * Recency (last purchase within ${cfg.rfmRecentMs} ms of the
    * corpus's final purchase), Frequency (≥ ${cfg.rfmFreqMin}
    * purchases), and Monetary (≥ ${cfg.rfmSpendMin} decimal-exact
    * spend): the marketing-analytics classic, with fixed business-rule
    * thresholds rather than in-corpus quantiles — segmentation that
    * moves when OTHER users change is a different (and re-run-
    * unstable) product; quantile variants would compose from
    * q105/q172's histogram machinery. One map-combinable per-user
    * aggregate; the reference instant is a one-row broadcast (max
    * purchase ms — deterministic, not wall-clock); the three flags and
    * the segment label are codegen'd expressions; spend compares on
    * the decimal-accumulated exact double. Non-purchasers are absent
    * — RFM is defined over buyers. */
  def q185Rfm(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("value"))
    val per = p.groupBy("user_id")
      .agg(max(col("ms")).as("last_ms"), count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(25,6)")).cast("double").as("spend"))
    val now = per.agg(max(col("last_ms")).as("ref_ms"))
    per.crossJoin(broadcast(now))
      .withColumn("recency_ms", col("ref_ms") - col("last_ms"))
      .withColumn("r", col("recency_ms") <= cfg.rfmRecentMs)
      .withColumn("f", col("n_purchases") >= cfg.rfmFreqMin)
      .withColumn("m", col("spend") >= cfg.rfmSpendMin)
      .select(col("user_id"), col("recency_ms"), col("n_purchases"), col("spend"),
        concat(when(col("r"), "R").otherwise("r"),
          when(col("f"), "F").otherwise("f"),
          when(col("m"), "M").otherwise("m")).as("segment"))
  }

  def q185Sql: String =
    s"""WITH p AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events
       |  WHERE event_type = 'purchase'),
       |per AS (SELECT user_id, max(ms) AS last_ms,
       |    count(*) AS n_purchases,
       |    CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS spend
       |  FROM p GROUP BY 1),
       |now AS (SELECT max(last_ms) AS ref_ms FROM per)
       |SELECT user_id, ref_ms - last_ms AS recency_ms, n_purchases, spend,
       |  (CASE WHEN ref_ms - last_ms <= ${cfg.rfmRecentMs} THEN 'R' ELSE 'r' END) ||
       |  (CASE WHEN n_purchases >= ${cfg.rfmFreqMin} THEN 'F' ELSE 'f' END) ||
       |  (CASE WHEN spend >= ${cfg.rfmSpendMin} THEN 'M' ELSE 'm' END) AS segment
       |FROM per, now""".stripMargin

  def q130Sql: String =
    s"""WITH h AS (SELECT user_id, (epoch_ms(ts) // 3600000) * 3600000 AS hr_ms,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |st AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_hours,
       |    CAST(SUM(cnt) AS BIGINT) AS s, CAST(SUM(cnt*cnt) AS BIGINT) AS q
       |  FROM h GROUP BY 1)
       |SELECT h.user_id, hr_ms, cnt, n_hours, s AS total_events
       |FROM h JOIN st USING (user_id)
       |WHERE n_hours >= ${cfg.burstMinHours}
       |  AND n_hours*cnt - s > 0
       |  AND (n_hours*cnt - s)*(n_hours*cnt - s) > ${cfg.burstZSq}*(n_hours*q - s*s)""".stripMargin

  /** q219: SEMI-STRUCTURED extraction — the event feed's `props` JSON
    * payload parsed with an EXPLICIT schema (`from_json(props,
    * 'k BIGINT')` — schema'd extraction, the engine-native typed path,
    * not string munging) and rolled up per event type: event count,
    * rows carrying a payload, non-null extracted keys, and the
    * sum/min/max of the typed value. The capability every
    * event-analytics engine needs for the long tail of properties that
    * never get promoted to columns — and the first query to actually
    * READ this corpus's payloads (q138 only profiled their null
    * fraction). All outputs exact integers; the per-type aggregate is
    * map-combinable; parsing is row-local inside the scan
    * (WholeStageCodegen — no shuffle until the bounded per-type
    * aggregate). Oracle extracts the same path with DuckDB's typed
    * json_extract_string + cast; NULL payloads pass through as NULL
    * on both engines. */
  def q219JsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("props"),
        expr("from_json(props, 'k BIGINT').k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("props").isNotNull, 1L).otherwise(0L)).as("n_with_props"),
        count(col("k")).as("n_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  def q219Sql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN props IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_props,
      |  CAST(count(k) AS BIGINT) AS n_k,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT event_type, props,
      |    CASE WHEN props IS NOT NULL
      |      THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
      |  FROM events)
      |GROUP BY event_type""".stripMargin
}

/** Default-configured instance (see [[graft.GraftConfig]]). */
object Behavioral extends BehavioralOps(GraftConfig.default)

package graft

import graft.operators.{Behavioral, BehavioralOps}
import org.apache.spark.sql.functions._

/** Behavioral analytics semantics on hand-built event logs (the oracle
  * gate covers the real tables; these pin the edge cases). */
class BehavioralSpec extends GraftSpec {
  import spark.implicits._

  private val HourMs = 3600000L

  private def events(rows: (Long, Long, Long, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("behavioral").toString
    rows.toSeq.toDF("event_id", "user_id", "ms", "event_type")
      .withColumn("ts", expr("timestamp_millis(ms)")).drop("ms")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q130: spike flags against a long baseline; constant users and short histories never flag") {
    val ops = new BehavioralOps(GraftConfig(burstMinHours = 5))
    var id = 0L
    def ev(user: Long, hour: Long, n: Int): Seq[(Long, Long, Long, String)] =
      (0 until n).map { i => id += 1; (id, user, hour * HourMs + i, "view") }
    // user 1: 20 baseline hours of 1 event + one 10-event hour
    //   n=21, S=30, Q=120 → dev(10) = 180, dev² = 32400 > 9·(21·120−900) = 14580 → burst
    //   dev(1) = 21−30 < 0 → baseline hours never flag
    // user 2: constant 2/hour → dev = 0 everywhere, never flags
    // user 3: 2 hours incl. a huge spike → under burstMinHours, skipped
    val dir = events(
      ((0L until 20L).flatMap(h => ev(1L, h, 1)) ++ ev(1L, 20L, 10) ++
       (0L until 20L).flatMap(h => ev(2L, h, 2)) ++
       ev(3L, 0L, 1) ++ ev(3L, 1L, 50)): _*)
    val got = ops.q130BurstHours(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((1L, 20L * HourMs, 10L, 21L, 30L)))
  }

  test("q175: trigrams never cross a session boundary; counts match hand trace") {
    val ops = new BehavioralOps(GraftConfig(sessionGapMs = 1000L, pathTopK = 10))
    // user 1: session A = a,b,c,d (paths abc, bcd); 5s gap; session B = x,y,z (path xyz)
    val dir = events(
      (1L, 1L, 0L, "a"), (2L, 1L, 10L, "b"), (3L, 1L, 20L, "c"), (4L, 1L, 30L, "d"),
      (5L, 1L, 5000L, "x"), (6L, 1L, 5010L, "y"), (7L, 1L, 5020L, "z"))
    val got = ops.q175PathMining(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(("a", "b", "c", 1L), ("b", "c", "d", 1L), ("x", "y", "z", 1L)),
      s"got $got — a boundary-crossing trigram (e.g. c,d,x) must never appear")
  }

  test("q185: thresholds are inclusive, recency anchors to the corpus max, non-buyers absent") {
    import org.apache.spark.sql.functions._
    val ops = new BehavioralOps(GraftConfig(
      rfmRecentMs = 100L, rfmFreqMin = 2L, rfmSpendMin = 10.0))
    val dir = java.nio.file.Files.createTempDirectory("q185").toString
    // user 1: buys at 0 and 1000 (ref), spend 4+6=10 → RFM (all at bound)
    // user 2: one buy at 899 (recency 101 > 100), spend 9.99 → rfm
    // user 3: only views → absent
    Seq((1L, 1L, 0L, "purchase", 4.0), (2L, 1L, 1000L, "purchase", 6.0),
        (3L, 2L, 899L, "purchase", 9.99), (4L, 3L, 1000L, "view", 0.0))
      .toDF("event_id", "user_id", "ms", "event_type", "value")
      .withColumn("ts", expr("timestamp_millis(ms)")).drop("ms")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = ops.q185Rfm(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getString(4)))).toMap
    assert(got == Map(
      1L -> ((0L, 2L, 10.0, "RFM")),
      2L -> ((101L, 1L, 9.99, "rfm"))))
  }

  test("q145: at most k per day, ranks dense, counts non-increasing within a day") {
    val out = Behavioral.q145Trending(spark, sf).collect()
      .groupBy(_.getLong(0))
    assert(out.nonEmpty)
    val k = Behavioral.TrendTopK
    out.foreach { case (_, rows) =>
      val byRk = rows.sortBy(_.getInt(3))
      assert(byRk.length <= k)
      assert(byRk.map(_.getInt(3)).toSeq == (1 to byRk.length))
      val cnts = byRk.map(_.getLong(2)).toSeq
      assert(cnts == cnts.sorted.reverse, "counts must not increase with rank")
    }
  }

  test("q144: edge endpoints share a component; sizes consistent; every doc labeled once") {
    val out = graft.operators.GraphOps.q144WccComponents(spark, sf).cache()
    try {
      val docs = graft.sources.Tables.documents(spark, sf).count()
      assert(out.count() == docs)
      assert(out.select("doc_id").distinct().count() == docs)
      val lbl = out.select(col("doc_id"), col("component_id"))
      val e = graft.operators.GraphOps.q20OverlapEdges(spark, sf).select("src", "dst")
      val cross = e
        .join(lbl.select(col("doc_id").as("src"), col("component_id").as("ca")), "src")
        .join(lbl.select(col("doc_id").as("dst"), col("component_id").as("cb")), "dst")
        .filter(col("ca") =!= col("cb")).count()
      assert(cross == 0, "an edge crossed two components")
      // sizes: group count over labels equals the emitted size
      val sz = out.groupBy("component_id")
        .agg(count(lit(1)).as("n"), max("component_size").as("s"), min("component_size").as("s2"))
        .filter(col("n") =!= col("s") || col("n") =!= col("s2")).count()
      assert(sz == 0)
      // the component id is a member of its own component
      val selfIn = out.select(col("component_id")).distinct()
        .join(out.filter(col("doc_id") === col("component_id")).select(col("component_id")),
          Seq("component_id"), "left_anti").count()
      assert(selfIn == 0, "a component's label is not one of its members")
    } finally out.unpersist()
  }

  test("q130: real data — flagged hours always exceed their user's mean") {
    val out = Behavioral.q130BurstHours(spark, sf)
    // dev > 0 ⇔ cnt·n_hours > total_events ⇔ cnt > mean
    assert(out.filter(col("cnt") * col("n_hours") <= col("total_events")).count() == 0)
  }

  test("q219: typed JSON extraction — null payloads, null keys, and values counted exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("jsonprops").toString
    Seq(
      (1L, 10L, "click", Some("{\"k\": 5}")),
      (2L, 10L, "click", Some("{\"k\": -3}")),
      (3L, 11L, "click", None),                 // no payload at all
      (4L, 11L, "click", Some("{\"other\": 1}")), // payload without k
      (5L, 12L, "error", Some("{\"k\": 7}")))
      .toDF("event_id", "user_id", "event_type", "props")
      .withColumn("ts", expr("timestamp_millis(event_id * 1000)"))
      .withColumn("value", lit(0.0))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.Behavioral.q219JsonProps(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4)))).toMap
    assert(got("click") == ((4L, 3L, 2L, 2L)), s"got ${got("click")}")  // sum 5 + (-3)
    assert(got("error") == ((1L, 1L, 1L, 7L)))
  }

  test("q232: incremental SCD2 merge equals the full rebuild across every delta shape") {
    val DayMs = 86400000L
    val d2 = 2 * DayMs // the max day = the arriving batch
    val dir = events(
      // user 1: history only — must pass through untouched
      (1L, 1L, 1000L, "view"), (2L, 1L, 2000L, "purchase"),
      // user 2: delta event repeats the open state — NO new version
      (3L, 2L, 1000L, "view"), (4L, 2L, d2 + 10L, "view"),
      // user 3: delta changes state — closes v1, opens v2
      (5L, 3L, 1000L, "view"), (6L, 3L, d2 + 20L, "purchase"),
      // user 4: born in the delta
      (7L, 4L, d2 + 30L, "signup"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(5))
    val merged = Behavioral.q232Scd2Merge(spark, dir).collect().map(key).toSet
    val rebuilt = Behavioral.q116Scd2(spark, dir).collect().map(key).toSet
    assert(merged == rebuilt)
    // the shapes: user 1 one closed-less version, user 2 collapsed to one,
    // user 3 two versions, user 4 one delta-born version
    val perUser = merged.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perUser == Map(1L -> 2, 2L -> 1, 3L -> 2, 4L -> 1))
    assert(merged.contains((3L, 2L, "purchase", d2 + 20L, -1L, true)))
  }

  test("q239: a spike flags only against enough zero-filled baseline days; steady cells never flag") {
    val DayMs = 86400000L
    val HourMs = 3600000L
    var id = 0L
    def at(day: Long, hod: Long, tpe: String, n: Int) = (1 to n).map { _ =>
      id += 1; (id, 1L, day * DayMs + hod * HourMs + 1, tpe)
    }
    // span pinned to 12 days by type B; type A is silent except one spike:
    // for a single outlier over zeros the integer test flags iff n-1 > z²,
    // so 12 days (n=12, ratio 11 > 9) flags and fewer would not
    val dir = events(
      (at(0L, 0L, "b", 1) ++ at(11L, 0L, "b", 1) ++ at(11L, 5L, "a", 3)): _*)
    val got = Behavioral.q239SeasonalAnomaly(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSet == Set(("a", 11L, 5L, 3L, 12L, 3L)),
      s"exactly the spike cell flags; got ${got.toSeq}")
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.CdcStream

/** q300's merge algebra: the seq-wins/tombstone fold is batching- and
  * order-independent, idempotent under duplicate delivery, and the
  * drained stream equals the batch last-wins merge. */
class CdcStreamSpec extends GraftSpec {
  import spark.implicits._

  private def snap(rows: Seq[(Long, Long, String, Double, Long, Boolean)]): DataFrame =
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "seq", "alive")

  private def batch(rows: Seq[(Long, Long, String, Long, String, Double)]): DataFrame =
    rows.toDF("k", "seq", "op", "c_cust", "c_status", "c_price")

  private def key(df: DataFrame): Map[Long, (Long, String, Double, Long, Boolean)] =
    df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4), r.getBoolean(5)))).toMap

  test("mergeBatch: insert, update, delete, and a tombstone that blocks an older update") {
    val s0 = snap(Seq((1L, 10L, "O", 100.0, 0L, true), (2L, 20L, "O", 200.0, 0L, true)))
    // delete key 1 at seq 5, insert key 3 at seq 2
    val m1 = CdcStream.mergeBatch(s0,
      batch(Seq((1L, 5L, "D", 10L, "O", 100.0), (3L, 2L, "I", 30L, "N", 300.0))))
    val k1 = key(m1)
    assert(!k1(1L)._5 && k1(1L)._4 == 5L, "delete must tombstone with its seq")
    assert(k1(3L) == ((30L, "N", 300.0, 2L, true)))
    assert(k1(2L)._5)
    // an OLDER update (seq 3 < tombstone's 5) must NOT resurrect key 1
    val m2 = CdcStream.mergeBatch(m1, batch(Seq((1L, 3L, "U", 11L, "X", 111.0))))
    assert(!key(m2)(1L)._5, "stale update resurrected a tombstone")
    // a NEWER update (seq 7) must
    val m3 = CdcStream.mergeBatch(m2, batch(Seq((1L, 7L, "U", 12L, "Y", 112.0))))
    assert(key(m3)(1L) == ((12L, "Y", 112.0, 7L, true)))
  }

  test("mergeBatch: duplicate delivery is a no-op (at-least-once transport, exactly-once table)") {
    val s0 = snap(Seq((1L, 10L, "O", 100.0, 0L, true)))
    val b = batch(Seq((1L, 4L, "U", 99L, "Q", 9.0), (2L, 1L, "I", 5L, "N", 1.0)))
    val once = key(CdcStream.mergeBatch(s0, b))
    val twice = key(CdcStream.mergeBatch(CdcStream.mergeBatch(s0, b), b))
    assert(once == twice)
  }

  test("mergeBatch: the fold is batching-independent — permuted wave order converges to the same snapshot") {
    val base = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .withColumn("seq", lit(0L)).withColumn("alive", lit(true))
    val waves = CdcStream.changeWaves(spark, sf)
    def fold(order: Seq[Int]): Map[Long, (Long, String, Double, Long, Boolean)] =
      key(order.map(waves).foldLeft(base)(CdcStream.mergeBatch))
    val fwd = fold(Seq(0, 1, 2))
    assert(fwd == fold(Seq(2, 0, 1)), "reordered waves diverged")
    assert(fwd == fold(Seq(1, 2, 0)), "reordered waves diverged")
    // one mega-batch (all waves unioned) also converges
    val mega = key(CdcStream.mergeBatch(base, waves.reduce(_ unionAll _)))
    assert(fwd == mega, "single-batch fold diverged from multi-batch")
  }

  test("q300 end-to-end: drained stream equals the batch last-wins merge; dead keys gone") {
    val out = CdcStream.q300StreamCdcMerge(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4))))
      .toMap
    // batch recompute of the same semantics, directly in Spark
    val o = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val ch = CdcStream.changeWaves(spark, sf).reduce(_ unionAll _)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy(col("seq").desc)
    val last = ch.withColumn("rk", row_number().over(w)).filter(col("rk") === 1).drop("rk")
    val exp = o.join(last, o("o_orderkey") === last("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("k"), o("o_orderkey")).as("o_orderkey"),
        when(col("k").isNull, o("o_custkey")).otherwise(col("c_cust")).as("o_custkey"),
        when(col("k").isNull, o("o_orderstatus")).otherwise(col("c_status")).as("o_orderstatus"),
        when(col("k").isNull, o("o_totalprice")).otherwise(col("c_price")).as("o_totalprice"),
        coalesce(col("seq"), lit(0L)).as("last_seq"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4))))
      .toMap
    assert(out == exp)
    // the planted lifecycle cases, concretely: some key deleted at wave 1
    // and never touched again is GONE; some delete-then-update survives
    val deadAt1 = o.select("o_orderkey").collect().map(_.getLong(0))
      .find(k => k % 20 == 10)
    deadAt1.foreach(k => assert(!out.contains(k), s"wave-1 deleted key $k survived"))
    val resurrected = o.select("o_orderkey").collect().map(_.getLong(0))
      .find(k => k % 20 == 0)
    resurrected.foreach { k =>
      assert(out.contains(k) && out(k)._4 >= 2L, s"delete-then-update key $k missing")
    }
  }

  test("q304: every version's as-of count is exact; vacuum keeps exactly the newest two") {
    val rows = CdcStream.q304SnapshotRetention(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(rows.keySet == Set(0, 1, 2, 3))
    assert(rows.map { case (_, (_, kept)) => kept } .toSeq.count(identity) == 2)
    assert(!rows(0)._2 && !rows(1)._2 && rows(2)._2 && rows(3)._2)
    val o = graft.sources.Tables.orders(spark, sf)
    val n = o.count()
    assert(rows(0)._1 == n, "v0 is the untouched base")
    // v1 = base − wave-1 deletes + wave-1 inserts (new keys)
    val d1 = o.filter(col("o_orderkey") % 10 === 0).count()
    val i1 = o.filter(col("o_orderkey") % 10 === 2).count()
    assert(rows(1)._1 == n - d1 + i1, "v1 as-of count must replay wave 1 exactly")
    // the head version must equal the drained q300 stream's live rows
    val live = CdcStream.q300StreamCdcMerge(spark, sf).count()
    assert(rows(3)._1 == live, "time travel's head must agree with the stream fold")
  }

  test("q316: conflict-detected rebase ≡ serial apply; the stale merge WOULD have lost A's wave") {
    // spec-owned root (the public q316 runs on run-unique scratch and
    // drops its chain in a finally — unreachable for shape assertions)
    val root = java.nio.file.Files.createTempDirectory("cowrace").toString + "/chain"
    val got = CdcStream.q316CowConflictAt(spark, sf, root)
    // serial recompute: A's wave then B's wave through the same fold
    val base = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .withColumn("seq", lit(0L)).withColumn("alive", lit(true))
    val waves = CdcStream.changeWaves(spark, sf)
    val serial = CdcStream.mergeBatch(CdcStream.mergeBatch(base, waves(0)), waves(1))
      .filter(col("alive"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("seq").as("last_seq"))
    assert(got.exceptAll(serial).isEmpty && serial.exceptAll(got).isEmpty,
      "post-rebase head must equal the serial A-then-B application")
    // the lost-update proof: B's DISCARDED stale-base merge misses A's
    // wave — keys A inserted (op I at %10=2, shifted by 10M) are absent
    val staleB = CdcStream.mergeBatch(base, waves(1)).filter(col("alive"))
    assert(staleB.filter(col("o_orderkey") >= 10000000L).count() == 0,
      "the stale merge lacks A's inserts — publishing it would have lost them")
    assert(got.filter(col("o_orderkey") >= 10000000L).count() > 0,
      "the rebased head carries A's inserts forward")
    // chain shape: three committed versions, all still readable (time travel)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.sources.VersionChain.latest(fs, root).contains(3))
    val v2 = spark.read.parquet(graft.sources.VersionChain.dataPath(root, 2))
      .filter(col("alive"))
    assert(v2.filter(col("o_orderkey") >= 10000000L).count() > 0 &&
      v2.filter(col("o_orderstatus") === "R").count() == 0,
      "v2 is A's intermediate: wave-1 applied, wave-2 not yet — time travel sees the race resolve")
  }

  test("VersionChain: exclusive commit — one winner, loser's attempt untouched, head monotone") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("vchain").toString + "/chain"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.sources.VersionChain.latest(fs, root).isEmpty, "empty chain has no head")
    val a1 = s"$root/_a1"
    Seq((1L, "x")).toDF("id", "v").write.parquet(a1)
    assert(graft.sources.VersionChain.commit(fs, root, 1, a1), "first commit wins")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(a1)), "winner's attempt renamed into place")
    assert(spark.read.parquet(graft.sources.VersionChain.dataPath(root, 1)).count() == 1)
    val a2 = s"$root/_a2"
    Seq((2L, "y")).toDF("id", "v").write.parquet(a2)
    assert(!graft.sources.VersionChain.commit(fs, root, 1, a2),
      "second commit of the same version must lose the CAS")
    assert(fs.exists(new org.apache.hadoop.fs.Path(a2)),
      "loser's attempt is left for the caller's rebase protocol")
    assert(graft.sources.VersionChain.latest(fs, root).contains(1), "head unchanged by the lost race")
    assert(graft.sources.VersionChain.commit(fs, root, 2, a2), "retry at head+1 commits")
    assert(graft.sources.VersionChain.latest(fs, root).contains(2))
  }

  test("VersionChain: two threads committing one version at the same instant — exactly one wins") {
    import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
    val base = java.nio.file.Files.createTempDirectory("vrace").toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pool = Executors.newFixedThreadPool(2)
    try (1 to 100).foreach { round =>
      val root = s"$base/chain$round"
      val attempts = Seq("_a", "_b").map { a =>
        val d = new org.apache.hadoop.fs.Path(root, a)
        fs.create(new org.apache.hadoop.fs.Path(d, "part-0")).close()
        d.toString
      }
      val start = new CyclicBarrier(2)
      val won = attempts.map(att => pool.submit(new Callable[Boolean] {
        def call(): Boolean = { start.await(); graft.sources.VersionChain.commit(fs, root, 1, att) }
      })).map(_.get(1, TimeUnit.MINUTES))
      assert(won.count(identity) == 1, s"round $round: winners $won — the commit marker is not exclusive")
    } finally pool.shutdown()
  }

  test("q333 vacuum-vs-read-as-of: the pin gates the vacuum; vacuumed and uncommitted reads fail with the named errors") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("vasof").toString + "/chain"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (1 to 4).foreach { v =>
      val att = s"$root/_a$v"
      Seq((v.toLong, s"payload$v")).toDF("id", "v").write.parquet(att)
      assert(graft.sources.VersionChain.commit(fs, root, v, att))
    }
    val pinnedBefore = CdcStream.readAsOf(spark, root, 2).collect().toSeq
    // retain=1 alone would retire v1..v3; the pin at 2 must save v2 and v3
    val gone = CdcStream.vacuumChain(fs, root, retain = 1, pin = 2)
    assert(gone == Seq(1), s"only v1 may retire (pin 2, retain 1), got $gone")
    assert(CdcStream.readAsOf(spark, root, 2).collect().toSeq == pinnedBefore,
      "the pinned version must read identically after the vacuum")
    val exVac = intercept[IllegalArgumentException](CdcStream.readAsOf(spark, root, 1))
    assert(exVac.getMessage.contains("vacuumed"),
      s"vacuumed read must name the cure, got: ${exVac.getMessage}")
    val exFut = intercept[IllegalArgumentException](CdcStream.readAsOf(spark, root, 9))
    assert(exFut.getMessage.contains("never committed"),
      s"future read must say never committed, got: ${exFut.getMessage}")
    // an even harsher retention still cannot retire the pin
    assert(CdcStream.vacuumChain(fs, root, retain = 0, pin = 2).isEmpty,
      "nothing below the pin remains; nothing >= the pin may ever retire")
    assert(CdcStream.readAsOf(spark, root, 2).collect().toSeq == pinnedBefore)
  }

  test("q333 end-to-end: readable flags follow min(head - retain + 1, pin) and survivors re-read intact") {
    val out = CdcStream.q333ReadAsOf(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val retain = GraftConfig.default.cowRetainVersions
    val pin = GraftConfig.default.cowReadPin
    val cutoff = math.min(4 - retain + 1, pin)
    (1 to 4).foreach { v =>
      assert(out(v)._2 == (v >= cutoff), s"v$v readable flag must follow the gate")
    }
    assert(out(1)._1 > 0 && out(4)._1 > 0)
  }
}

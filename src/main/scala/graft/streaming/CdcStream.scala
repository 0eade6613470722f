package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming CDC MERGE — the missing maintenance surface of the
  * streaming family: q97/q186 fold a change batch into a snapshot as a
  * BATCH job; this is the same MERGE run as a STREAM, the way a
  * 100 TB serving table actually absorbs a Kafka CDC feed. A keyed
  * change feed (op I/U/D, full-row values, a per-change `seq`) lands
  * as files; `foreachBatch` folds every micro-batch into a persisted
  * copy-on-write snapshot (new version directory per batch — the
  * Delta/Iceberg table pattern built on plain parquet, the q238/q258
  * lineage).
  *
  * The merge rule is SEQ-WINS, not arrival-wins: a change applies only
  * when its seq beats the snapshot row's stored seq, and deletes
  * TOMBSTONE (the row stays with alive=false and the delete's seq) so
  * an out-of-order earlier update can never resurrect a later delete.
  * That makes the fold an idempotent, commutative per-key argmax —
  * the final snapshot is independent of how the feed was batched or
  * ordered, duplicate delivery is a no-op (at-least-once transport
  * gives exactly-once table semantics), and replay after a crash
  * (q258's checkpoint contract) converges to the same bytes.
  */
object CdcStream {
  // snapshot retention (q304): how many newest copy-on-write snapshot
  // versions the vacuum keeps readable (time travel's bound — older
  // versions' files are reclaimed)
  val CowRetainVersions: Int = 2
  // read pin (q333): the lowest version a registered reader still
  // needs as-of — the vacuum gate keeps every version >= the pin
  // readable even when the retention window alone would retire it
  // (with retain=2 on a 4-version chain the window keeps v3/v4; the
  // pin at 2 is what saves v2, so the gate is exercised, not idle)
  val CowReadPin: Int = 2

  /** Fold one change micro-batch into a snapshot. Snapshot columns:
    * (o_orderkey, o_custkey, o_orderstatus, o_totalprice, seq, alive);
    * batch columns: (k, seq, op, c_cust, c_status, c_price). Within
    * the batch only each key's max-seq change matters (argmax of an
    * argmax); the snapshot side keeps its row unless the change's seq
    * strictly wins. One full-outer join per batch — with the snapshot
    * bucketed on the key (q186's layout) only the feed side shuffles
    * at scale. */
  private[graft] def mergeBatch(snap: DataFrame, batch: DataFrame): DataFrame = {
    // bseq desc picks each key's latest change; the trailing keys make
    // the pick DETERMINISTIC even if a feed ever delivers two distinct
    // changes with the same (k, seq) in one micro-batch — without them
    // the winner would depend on partition order and the documented
    // batching-independence guarantee would silently break. Tombstone
    // priority (op asc puts "D" before "I"/"U") is itself arbitrary but
    // FIXED, so replay and re-batching converge to the same bytes.
    val wB = Window.partitionBy("k").orderBy(col("bseq").desc,
      col("op"), col("c_cust"), col("c_status"), col("c_price"))
    val b1 = batch
      .select(col("k"), col("seq").as("bseq"), col("op"),
        col("c_cust"), col("c_status"), col("c_price"))
      .withColumn("rn", row_number().over(wB)).filter(col("rn") === 1).drop("rn")
    val joined = snap.join(b1, snap("o_orderkey") === b1("k"), "full_outer")
    val win = col("k").isNotNull &&
      (snap("o_orderkey").isNull || col("bseq") > col("seq"))
    joined.select(
      coalesce(col("k"), snap("o_orderkey")).as("o_orderkey"),
      when(win, col("c_cust")).otherwise(col("o_custkey")).as("o_custkey"),
      when(win, col("c_status")).otherwise(col("o_orderstatus")).as("o_orderstatus"),
      when(win, col("c_price")).otherwise(col("o_totalprice")).as("o_totalprice"),
      when(win, col("bseq")).otherwise(col("seq")).as("seq"),
      when(win, col("op") =!= lit("D")).otherwise(col("alive")).as("alive"))
  }

  /** The three deterministic change waves, derived from orders (the
    * q97 derivation widened with a seq column and overlapping keys so
    * last-wins is exercised): wave 1 deletes/updates/inserts, wave 2
    * re-updates and deletes some wave-1 keys (including a
    * delete-then-update resurrection and an update-then-delete), wave
    * 3 re-updates a subset again. */
  private[graft] def changeWaves(spark: SparkSession, dir: String): Seq[DataFrame] = {
    val o = graft.sources.Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val w1 = o.filter(col("o_orderkey") % 10 <= 2)
      .select(
        when(col("o_orderkey") % 10 === 2, col("o_orderkey") + 10000000L)
          .otherwise(col("o_orderkey")).as("k"),
        lit(1L).as("seq"),
        when(col("o_orderkey") % 10 === 0, "D")
          .when(col("o_orderkey") % 10 === 1, "U").otherwise("I").as("op"),
        col("o_custkey").as("c_cust"),
        col("o_orderstatus").as("c_status"),
        (col("o_totalprice") + lit(1000.0)).as("c_price"))
    val w2 = o.filter(col("o_orderkey") % 20 <= 5 || col("o_orderkey") % 20 === 11)
      .select(
        col("o_orderkey").as("k"),
        lit(2L).as("seq"),
        when(col("o_orderkey") % 20 isin (4L, 5L, 11L), "D").otherwise("U").as("op"),
        (col("o_custkey") + lit(7L)).as("c_cust"),
        lit("R").as("c_status"),
        (col("o_totalprice") + lit(2000.0)).as("c_price"))
    val w3 = o.filter(col("o_orderkey") % 40 <= 2)
      .select(
        col("o_orderkey").as("k"),
        lit(3L).as("seq"),
        lit("U").as("op"),
        col("o_custkey").as("c_cust"),
        lit("Z").as("c_status"),
        (col("o_totalprice") + lit(3000.0)).as("c_price"))
    Seq(w1, w2, w3)
  }

  /** q300: STREAMING CDC MERGE — land the three change waves as files,
    * stream them (maxFilesPerTrigger=1, so the fold really runs
    * multi-batch), fold each micro-batch into a new copy-on-write
    * snapshot version via [[mergeBatch]], and read back the final
    * version with tombstones dropped. Equals the batch recompute
    * (base merged with each key's max-seq change) REGARDLESS of how
    * the file source batched the waves — the seq-wins/tombstone
    * algebra, spec-pinned under permuted batching.
    *
    * Scale: per micro-batch ONE snapshot⋈batch full-outer join plus a
    * batch-sized window; snapshot versions are immutable parquet (old
    * versions are the time-travel/vacuum surface, q238's ledger
    * discipline). The snapshot re-shuffles per batch here; production
    * pins the q186 bucketed layout so only the feed moves. State on
    * the STREAM side is just file-source offsets in the checkpoint —
    * the table itself is the state, which is why the pattern scales
    * to tables no state store could hold. */
  def q300StreamCdcMerge(spark: SparkSession, dir: String): DataFrame = {
    // run-unique scratch (the q325/q335 rule): two drivers sharing a
    // scratch dir must never clobber each other's landing/checkpoint
    val run = java.util.UUID.randomUUID.toString.take(8)
    val landing = graft.sources.Scratch.dir(s"cdcm_${run}_landing", dir)
    val ckpt = graft.sources.Scratch.dir(s"cdcm_${run}_ckpt", dir)
    val snapRoot = graft.sources.Scratch.dir(s"cdcm_${run}_snap", dir)
    val conf = spark.sparkContext.hadoopConfiguration
    try {
    // v0: the base snapshot, every row alive at seq 0
    val v0 = s"$snapRoot/v0"
    graft.sources.Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .withColumn("seq", lit(0L)).withColumn("alive", lit(true))
      .write.parquet(v0)
    val cur = new java.util.concurrent.atomic.AtomicReference[String](v0)
    // land the waves as separate files with ascending mtimes (q258's
    // land discipline) — ordering is a nicety, not a correctness need
    val fs = new org.apache.hadoop.fs.Path(landing).getFileSystem(conf)
    changeWaves(spark, dir).zipWithIndex.foreach { case (w, i) =>
      val before =
        if (fs.exists(new org.apache.hadoop.fs.Path(landing)))
          fs.listStatus(new org.apache.hadoop.fs.Path(landing)).map(_.getPath).toSet
        else Set.empty[org.apache.hadoop.fs.Path]
      w.repartition(1).write.mode("append").parquet(landing)
      fs.listStatus(new org.apache.hadoop.fs.Path(landing))
        .map(_.getPath).filterNot(before)
        .filter(_.getName.startsWith("part-"))
        .foreach(f => fs.setTimes(f, 1000L * (i + 1), -1))
    }
    val raw = spark.readStream
      .schema("k BIGINT, seq BIGINT, op STRING, c_cust BIGINT, c_status STRING, c_price DOUBLE")
      .option("pathGlobFilter", "part-*")
      .option("maxFilesPerTrigger", 1)
      .parquet(landing)
    val q = raw.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (!b.isEmpty) {
          val snap = spark.read.parquet(cur.get)
          val next = s"$snapRoot/v${id + 1}"
          mergeBatch(snap, b).write.mode("overwrite").parquet(next)
          cur.set(next)
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // eager cut: the finally below drops the snapshot files this
    // lazy read would otherwise re-scan (the q343 discipline)
    spark.read.parquet(cur.get)
      .filter(col("alive"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("seq").as("last_seq"))
      .localCheckpoint(true)
    } finally Seq(landing, ckpt, snapRoot).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val dfs = p.getFileSystem(conf)
      if (dfs.exists(p)) dfs.delete(p, true)
    }
  }

  def q300Sql: String =
    """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
      |w1 AS (SELECT
      |    CASE WHEN o_orderkey % 10 = 2 THEN o_orderkey + 10000000 ELSE o_orderkey END AS k,
      |    CAST(1 AS BIGINT) AS seq,
      |    CASE WHEN o_orderkey % 10 = 0 THEN 'D'
      |         WHEN o_orderkey % 10 = 1 THEN 'U' ELSE 'I' END AS op,
      |    o_custkey AS c_cust, o_orderstatus AS c_status,
      |    o_totalprice + 1000.0 AS c_price
      |  FROM orders WHERE o_orderkey % 10 <= 2),
      |w2 AS (SELECT o_orderkey AS k, CAST(2 AS BIGINT) AS seq,
      |    CASE WHEN o_orderkey % 20 IN (4, 5, 11) THEN 'D' ELSE 'U' END AS op,
      |    o_custkey + 7 AS c_cust, 'R' AS c_status,
      |    o_totalprice + 2000.0 AS c_price
      |  FROM orders WHERE o_orderkey % 20 <= 5 OR o_orderkey % 20 = 11),
      |w3 AS (SELECT o_orderkey AS k, CAST(3 AS BIGINT) AS seq, 'U' AS op,
      |    o_custkey AS c_cust, 'Z' AS c_status,
      |    o_totalprice + 3000.0 AS c_price
      |  FROM orders WHERE o_orderkey % 40 <= 2),
      |ch AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3),
      |last AS (SELECT k, seq, op, c_cust, c_status, c_price FROM (
      |    SELECT ch.*, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rk FROM ch)
      |  WHERE rk = 1)
      |SELECT coalesce(l.k, b.o_orderkey) AS o_orderkey,
      |  CASE WHEN l.k IS NULL THEN b.o_custkey ELSE l.c_cust END AS o_custkey,
      |  CASE WHEN l.k IS NULL THEN b.o_orderstatus ELSE l.c_status END AS o_orderstatus,
      |  CASE WHEN l.k IS NULL THEN b.o_totalprice ELSE l.c_price END AS o_totalprice,
      |  coalesce(l.seq, CAST(0 AS BIGINT)) AS last_seq
      |FROM base b FULL OUTER JOIN last l ON l.k = b.o_orderkey
      |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin

  /** q304: SNAPSHOT RETENTION (time travel + vacuum) — the lifecycle
    * management q300's copy-on-write chain creates the need for: every
    * merge leaves the previous version's immutable files behind, which
    * is what makes time-travel reads possible AND what grows storage
    * without bound. This operator builds the 4-version chain (v0 base,
    * v1..v3 one wave each via [[mergeBatch]]), reads EVERY version's
    * live row count (the time-travel audit — old versions answer
    * as-of queries bit-stably because their files never mutate), then
    * VACUUMS to the newest ${CowRetainVersions}
    * versions and re-lists, emitting per version (n_alive, kept). The
    * oracle recomputes each version's live count by folding only the
    * waves at-or-below it (last-wins per key) and pins the retention
    * pattern — a vacuum that deletes the wrong versions, or fails to
    * delete, flips `kept` and hash-fails.
    *
    * Scale: counts are one scan per version (metadata-cheap relative
    * to the merges that built them); the vacuum is pure filesystem
    * listing + deletes, |versions|-sized. The current version is
    * re-read AFTER the vacuum so the emitted head count proves the
    * survivor is intact, not remembered. */
  def q304SnapshotRetention(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Scratch.withRunDir(spark, dir, "cow_chain") { root =>
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(conf)
    val base = graft.sources.Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .withColumn("seq", lit(0L)).withColumn("alive", lit(true))
    base.write.parquet(s"$root/v0")
    changeWaves(spark, dir).zipWithIndex.foreach { case (w, i) =>
      mergeBatch(spark.read.parquet(s"$root/v$i"), w)
        .write.parquet(s"$root/v${i + 1}")
    }
    val nVersions = 4
    val preCounts = (0 until nVersions).map { v =>
      v -> spark.read.parquet(s"$root/v$v").filter(col("alive")).count()
    }.toMap
    val cutoff = nVersions - CowRetainVersions
    (0 until cutoff).foreach(v => fs.delete(new org.apache.hadoop.fs.Path(s"$root/v$v"), true))
    (0 until nVersions).map { v =>
      val p = new org.apache.hadoop.fs.Path(s"$root/v$v")
      val kept = fs.exists(p)
      // survivors re-count from their post-vacuum files: intact, not remembered
      val n = if (kept) spark.read.parquet(s"$root/v$v").filter(col("alive")).count()
              else preCounts(v)
      (v, n, kept)
    }.toDF("version", "n_alive", "kept")
    }

  def q304Sql: String = {
    // live count as of version v: base merged with the per-key
    // max-seq change among waves 1..v
    def aliveAt(v: Int): String =
      if (v == 0) "SELECT CAST(count(*) AS BIGINT) FROM orders"
      else
        s"""SELECT CAST(count(*) AS BIGINT) FROM (
           |  SELECT coalesce(l.k, b.o_orderkey) AS key
           |  FROM (SELECT o_orderkey FROM orders) b
           |  FULL OUTER JOIN (
           |    SELECT k, op FROM (
           |      SELECT ch.k, ch.op, row_number() OVER (PARTITION BY ch.k ORDER BY ch.seq DESC) AS rk
           |      FROM ch WHERE ch.seq <= $v) WHERE rk = 1) l
           |  ON l.k = b.o_orderkey
           |  WHERE l.op IS NULL OR l.op <> 'D')""".stripMargin
    val retain = CowRetainVersions
    val rows = (0 until 4).map { v =>
      val kept = v >= 4 - retain
      s"SELECT CAST($v AS INT) AS version, (${aliveAt(v)}) AS n_alive, $kept AS kept"
    }.mkString("\nUNION ALL\n")
    s"""WITH w1 AS (SELECT
       |    CASE WHEN o_orderkey % 10 = 2 THEN o_orderkey + 10000000 ELSE o_orderkey END AS k,
       |    CAST(1 AS BIGINT) AS seq,
       |    CASE WHEN o_orderkey % 10 = 0 THEN 'D'
       |         WHEN o_orderkey % 10 = 1 THEN 'U' ELSE 'I' END AS op
       |  FROM orders WHERE o_orderkey % 10 <= 2),
       |w2 AS (SELECT o_orderkey AS k, CAST(2 AS BIGINT) AS seq,
       |    CASE WHEN o_orderkey % 20 IN (4, 5, 11) THEN 'D' ELSE 'U' END AS op
       |  FROM orders WHERE o_orderkey % 20 <= 5 OR o_orderkey % 20 = 11),
       |w3 AS (SELECT o_orderkey AS k, CAST(3 AS BIGINT) AS seq, 'U' AS op
       |  FROM orders WHERE o_orderkey % 40 <= 2),
       |ch AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3)
       |$rows""".stripMargin
  }

  /** q316: CONCURRENT-WRITER CONFLICT DETECTION — the optimistic-
    * concurrency primitive the q300/q304 CoW chain lacked: two writers
    * race the same snapshot head and the version CAS
    * ([[graft.sources.VersionChain]]) makes the race SAFE. Both
    * writers read head v1 (the base snapshot); writer A merges wave 1
    * and wins the v2 marker; writer B merges wave 2 against its now-
    * STALE base and its v2 commit FAILS — the conflict is DETECTED,
    * not silently lost: had B's stale-based merge published, every
    * wave-1 change would have vanished (the classic lost update).
    * B then runs the loser protocol — discard the stale attempt,
    * re-read the head, re-apply the SAME change batch on A's result,
    * commit v3 — and the final snapshot equals the SERIAL A-then-B
    * application, which the oracle recomputes as the batch seq-wins
    * fold of both waves over the base (the q300 algebra, so the
    * retry's correctness is hash-gated, not asserted).
    *
    * Scale: each attempt is one snapshot⋈batch merge (q300's per-batch
    * cost); the CAS is one namenode exclusive-create; conflict cost is
    * re-running the loser's merge once per race — the optimistic trade
    * every table format makes. */
  def q316CowConflict(spark: SparkSession, dir: String): DataFrame = {
    // run-unique chain root (the q325/q335 rule) + eager cut so the
    // finally can drop the chain; the spec drives [[q316CowConflictAt]]
    // with its own root to inspect the chain shape post-run
    val root = graft.sources.Scratch.dir(
      s"cow_race_${java.util.UUID.randomUUID.toString.take(8)}", dir)
    val conf = spark.sparkContext.hadoopConfiguration
    try q316CowConflictAt(spark, dir, root).localCheckpoint(true)
    finally {
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  private[graft] def q316CowConflictAt(spark: SparkSession, dir: String,
      root: String): DataFrame = {
    import graft.sources.VersionChain
    val conf = spark.sparkContext.hadoopConfiguration
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(conf)
    if (fs.exists(rootP)) fs.delete(rootP, true) // deterministic rerun
    val a0 = s"$root/_attempt_base"
    graft.sources.Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .withColumn("seq", lit(0L)).withColumn("alive", lit(true))
      .write.parquet(a0)
    require(VersionChain.commit(fs, root, 1, a0), "empty chain: base must commit")
    val waves = changeWaves(spark, dir)
    val (bA, bB) = (waves(0), waves(1))
    // BOTH writers resolve the same head — the race begins here
    val baseA = VersionChain.latest(fs, root).get
    val baseB = VersionChain.latest(fs, root).get
    // writer A: merge on v1, stage, CAS v2 — wins
    val aAtt = s"$root/_attempt_a"
    mergeBatch(spark.read.parquet(VersionChain.dataPath(root, baseA)), bA)
      .write.parquet(aAtt)
    require(VersionChain.commit(fs, root, baseA + 1, aAtt),
      "A committed first and must win the v2 marker")
    // writer B: merge on its STALE v1 base, stage, CAS v2 — must LOSE
    val bAtt = s"$root/_attempt_b"
    mergeBatch(spark.read.parquet(VersionChain.dataPath(root, baseB)), bB)
      .write.parquet(bAtt)
    require(!VersionChain.commit(fs, root, baseB + 1, bAtt),
      "B raced A to v2 — the CAS must detect the conflict")
    // loser protocol: the stale-based merge is WRONG (it would drop
    // A's wave) — discard it, rebase on the new head, retry
    fs.delete(new org.apache.hadoop.fs.Path(bAtt), true)
    val head = VersionChain.latest(fs, root).get
    val bAtt2 = s"$root/_attempt_b2"
    mergeBatch(spark.read.parquet(VersionChain.dataPath(root, head)), bB)
      .write.parquet(bAtt2)
    require(VersionChain.commit(fs, root, head + 1, bAtt2),
      "the rebased retry must commit cleanly")
    spark.read.parquet(VersionChain.dataPath(root, VersionChain.latest(fs, root).get))
      .filter(col("alive"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("seq").as("last_seq"))
  }

  /** Read the snapshot AS OF version `v` off a CAS chain — the time
    * travel read the CoW family's immutable versions exist for. Two
    * failure modes split deliberately: a version that was NEVER
    * COMMITTED (no marker — asking for the future or a lost race) vs
    * one that committed but whose DATA WAS VACUUMED (marker without
    * data — the commit LOG stays complete forever; only data dirs
    * retire). The second error names the cure: pin the version before
    * vacuuming. */
  private[graft] def readAsOf(spark: SparkSession, root: String, v: Int): DataFrame = {
    import graft.sources.VersionChain
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = VersionChain.latest(fs, root)
    require(head.exists(_ >= v),
      s"as-of v$v: never committed on this chain (head: ${head.getOrElse("empty")})")
    val p = new org.apache.hadoop.fs.Path(VersionChain.dataPath(root, v))
    require(fs.exists(p),
      s"as-of v$v: committed but vacuumed — register a read pin >= $v before vacuum")
    spark.read.parquet(VersionChain.dataPath(root, v))
  }

  /** Retention vacuum with a READ PIN — the gate that makes vacuum
    * and time travel coexist: data dirs of versions below
    * min(head − retain + 1, pin) retire; everything a reader pinned
    * (and the retention window itself) stays readable. Markers are
    * never deleted — the commit log is the chain's history and costs
    * one zero-byte file per version. Returns the vacuumed versions. */
  private[graft] def vacuumChain(fs: org.apache.hadoop.fs.FileSystem,
      root: String, retain: Int, pin: Int): Seq[Int] = {
    import graft.sources.VersionChain
    VersionChain.latest(fs, root).toSeq.flatMap { head =>
      val cutoff = math.min(head - retain + 1, pin)
      (1 until cutoff).flatMap { v =>
        val p = new org.apache.hadoop.fs.Path(VersionChain.dataPath(root, v))
        if (fs.exists(p)) { fs.delete(p, true); Some(v) } else None
      }
    }
  }

  /** q333: TIME TRAVEL WITH A RETENTION GATE — the interplay row the
    * q304+q316 pair sets up: the 4-version chain is rebuilt on the
    * CAS commit log ([[graft.sources.VersionChain]] — v1 base, v2..v4
    * one wave each), every version is read AS OF and audited
    * (replaying the fold to v_n is exactly what the oracle does), a
    * reader PINS v${CowReadPin} and the vacuum
    * honors min(head − ${CowRetainVersions} + 1,
    * pin) — so the pinned version SURVIVES a retention window that
    * would otherwise retire it, and a version outside both
    * protections retires. Survivors re-read post-vacuum (intact, not
    * remembered — q304's discipline); the readable flag is the gate's
    * contract and hash-fails if vacuum ever deletes a pinned or
    * in-window version. CdcStreamSpec pins the failure modes:
    * as-of-vacuumed throws the "register a read pin" error, as-of
    * beyond head throws "never committed", and retain=1 with the pin
    * still cannot retire the pinned data.
    *
    * Scale: reads are per-version scans of immutable parquet; the
    * vacuum is |versions| namenode metadata ops; pins are the
    * reader-coordination contract every production table format
    * carries (Delta's minReaderVersion-style snapshot retention). */
  def q333ReadAsOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.VersionChain
    // run-unique chain root (the q325/q335 rule); the result below is
    // a local Seq → toDF, so the finally-drop needs no eager cut
    val root = graft.sources.Scratch.dir(
      s"cow_asof_${java.util.UUID.randomUUID.toString.take(8)}", dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(conf)
    try {
    val a0 = s"$root/_attempt_v1"
    graft.sources.Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .withColumn("seq", lit(0L)).withColumn("alive", lit(true))
      .write.parquet(a0)
    require(VersionChain.commit(fs, root, 1, a0), "empty chain: v1 must commit")
    changeWaves(spark, dir).zipWithIndex.foreach { case (w, i) =>
      val att = s"$root/_attempt_v${i + 2}"
      mergeBatch(readAsOf(spark, root, i + 1), w).write.parquet(att)
      require(VersionChain.commit(fs, root, i + 2, att), s"v${i + 2} must commit")
    }
    val head = VersionChain.latest(fs, root).get
    // the time-travel audit: every version answers as-of BEFORE vacuum
    val pre = (1 to head).map { v =>
      v -> readAsOf(spark, root, v).filter(col("alive")).count()
    }.toMap
    val pin = CowReadPin
    vacuumChain(fs, root, CowRetainVersions, pin)
    (1 to head).map { v =>
      val readable = fs.exists(
        new org.apache.hadoop.fs.Path(VersionChain.dataPath(root, v)))
      // survivors re-read post-vacuum: intact, not remembered
      val n = if (readable) readAsOf(spark, root, v).filter(col("alive")).count()
              else pre(v)
      (v, n, readable)
    }.toDF("version", "n_alive", "readable")
    } finally {
      if (fs.exists(rootP)) fs.delete(rootP, true)
    }
  }

  /** Replay the fold to every v_n + the gate arithmetic as literals. */
  def q333Sql: String = {
    def aliveAt(v: Int): String =
      if (v == 0) "SELECT CAST(count(*) AS BIGINT) FROM orders"
      else
        s"""SELECT CAST(count(*) AS BIGINT) FROM (
           |  SELECT coalesce(l.k, b.o_orderkey) AS key
           |  FROM (SELECT o_orderkey FROM orders) b
           |  FULL OUTER JOIN (
           |    SELECT k, op FROM (
           |      SELECT ch.k, ch.op, row_number() OVER (PARTITION BY ch.k ORDER BY ch.seq DESC) AS rk
           |      FROM ch WHERE ch.seq <= $v) WHERE rk = 1) l
           |  ON l.k = b.o_orderkey
           |  WHERE l.op IS NULL OR l.op <> 'D')""".stripMargin
    val retain = CowRetainVersions
    val pin = CowReadPin
    val cutoff = math.min(4 - retain + 1, pin)
    val rows = (1 to 4).map { v =>
      val readable = v >= cutoff
      s"SELECT CAST($v AS INT) AS version, (${aliveAt(v - 1)}) AS n_alive, $readable AS readable"
    }.mkString("\nUNION ALL\n")
    s"""WITH w1 AS (SELECT
       |    CASE WHEN o_orderkey % 10 = 2 THEN o_orderkey + 10000000 ELSE o_orderkey END AS k,
       |    CAST(1 AS BIGINT) AS seq,
       |    CASE WHEN o_orderkey % 10 = 0 THEN 'D'
       |         WHEN o_orderkey % 10 = 1 THEN 'U' ELSE 'I' END AS op
       |  FROM orders WHERE o_orderkey % 10 <= 2),
       |w2 AS (SELECT o_orderkey AS k, CAST(2 AS BIGINT) AS seq,
       |    CASE WHEN o_orderkey % 20 IN (4, 5, 11) THEN 'D' ELSE 'U' END AS op
       |  FROM orders WHERE o_orderkey % 20 <= 5 OR o_orderkey % 20 = 11),
       |w3 AS (SELECT o_orderkey AS k, CAST(3 AS BIGINT) AS seq, 'U' AS op
       |  FROM orders WHERE o_orderkey % 40 <= 2),
       |ch AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3)
       |$rows""".stripMargin
  }

  /** Serial-order recompute: base + the per-key max-seq winner across
    * BOTH racing batches (waves 1 and 2) — what the chain must hold
    * after conflict detection and rebase. */
  def q316Sql: String =
    """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
      |w1 AS (SELECT
      |    CASE WHEN o_orderkey % 10 = 2 THEN o_orderkey + 10000000 ELSE o_orderkey END AS k,
      |    CAST(1 AS BIGINT) AS seq,
      |    CASE WHEN o_orderkey % 10 = 0 THEN 'D'
      |         WHEN o_orderkey % 10 = 1 THEN 'U' ELSE 'I' END AS op,
      |    o_custkey AS c_cust, o_orderstatus AS c_status,
      |    o_totalprice + 1000.0 AS c_price
      |  FROM orders WHERE o_orderkey % 10 <= 2),
      |w2 AS (SELECT o_orderkey AS k, CAST(2 AS BIGINT) AS seq,
      |    CASE WHEN o_orderkey % 20 IN (4, 5, 11) THEN 'D' ELSE 'U' END AS op,
      |    o_custkey + 7 AS c_cust, 'R' AS c_status,
      |    o_totalprice + 2000.0 AS c_price
      |  FROM orders WHERE o_orderkey % 20 <= 5 OR o_orderkey % 20 = 11),
      |ch AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2),
      |last AS (SELECT k, seq, op, c_cust, c_status, c_price FROM (
      |    SELECT ch.*, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rk FROM ch)
      |  WHERE rk = 1)
      |SELECT coalesce(l.k, b.o_orderkey) AS o_orderkey,
      |  CASE WHEN l.k IS NULL THEN b.o_custkey ELSE l.c_cust END AS o_custkey,
      |  CASE WHEN l.k IS NULL THEN b.o_orderstatus ELSE l.c_status END AS o_orderstatus,
      |  CASE WHEN l.k IS NULL THEN b.o_totalprice ELSE l.c_price END AS o_totalprice,
      |  coalesce(l.seq, CAST(0 AS BIGINT)) AS last_seq
      |FROM base b FULL OUTER JOIN last l ON l.k = b.o_orderkey
      |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin
}

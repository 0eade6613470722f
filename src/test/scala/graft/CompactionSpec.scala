package graft

import org.apache.spark.sql.functions._
import graft.sources.Layout

/** Layout maintenance ops: q212/q216 small-file compaction (the FFD
  * planner, the rewrite and byte-copy paths, the end-to-end eval
  * gates) and q220 additive schema evolution. */
class CompactionSpec extends GraftSpec {
  import spark.implicits._

  test("q220: merged-schema read null-fills exactly the pre-evolution generation") {
    // spec-owned root: the public q220 runs on run-unique scratch and
    // drops it in a finally — unreachable for layout assertions
    val root = java.nio.file.Files.createTempDirectory("schemaevo").toString + "/root"
    val rows = Layout.q220At(spark, sf, root).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("schema_merged")), "unified schema must merge")
    // gen=1 files really LACK the column (absent, not null-valued)
    assert(!spark.read.parquet(s"$root/gen=1").columns.contains("source"))
    // the merged scan null-fills source exactly for the old generation
    val unified = spark.read.option("mergeSchema", "true").parquet(root)
    assert(unified.filter(col("source").isNull =!= (col("doc_id") % 2 === 0)).count() == 0)
    // nothing lost: per-lang totals equal the flat table's
    val flat = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang").agg(count(lit(1)).as("n"), sum("n_chars").as("ch")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    rows.foreach { r =>
      assert(flat(r.getString(0)) ==
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_chars"))))
    }
  }

  test("q230: range-clustered files carry disjoint key ranges; the pruned plan skips and loses nothing") {
    val path = java.nio.file.Files.createTempDirectory("zonemap").toString + "/data"
    val row = Layout.q230At(spark, sf, path).collect().head
    assert(row.getAs[Boolean]("skipped_some"), "a selective predicate must skip files")
    // the manifest over the spec-owned layout: ranges must be pairwise
    // disjoint (range clustering), and re-planning it by hand must under-read
    val mf = Layout.zoneMap(spark, path, "l_orderkey").sortBy(_._2)
    assert(mf.length > 1)
    mf.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._2, s"overlapping file ranges: $a vs $b")
    }
    // lossless: the query's row/sum equal an independent flat-table filter
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val maxK = li.agg(max("l_orderkey")).head().getLong(0)
    val flat = li.filter(col("l_orderkey").between(maxK * 25 / 100, maxK * 45 / 100))
    assert(row.getAs[Long]("n_rows") == flat.count())
  }

  test("ffdPack: first-fit decreasing with deterministic ties; oversize files get singleton bins") {
    val files = Seq(("e", 20L), ("a", 60L), ("b", 50L), ("c", 40L), ("d", 30L))
    val bins = Layout.ffdPack(files, target = 100L)
    assert(bins.map(_.map(_._1)) == Seq(Seq("a", "c"), Seq("b", "d", "e")),
      s"got ${bins.map(_.map(_._1))}")
    // every multi-file bin within target by construction
    assert(bins.forall(b => b.size == 1 || b.map(_._2).sum <= 100L))
    // oversize file becomes its own bin, others still pack
    val withBig = Layout.ffdPack(Seq(("big", 150L), ("x", 40L), ("y", 30L)), 100L)
    assert(withBig.map(_.map(_._1)) == Seq(Seq("big"), Seq("x", "y")))
    // deterministic tie-break on equal sizes: path ascending
    val ties = Layout.ffdPack(Seq(("q", 10L), ("p", 10L)), 10L)
    assert(ties.map(_.map(_._1)) == Seq(Seq("p"), Seq("q")))
  }

  test("compactPartitioned: multi-bin rewrite is content-lossless and respects its plan") {
    val src = java.nio.file.Files.createTempDirectory("cmp-src").toString
    val dst = src + "-dst"
    // 40 rows shattered into 8 files per lang — small target forces >1 bin
    (1L to 40L).map(i => (i, s"text-$i" * 50, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
      .repartition(8)
      .write.mode("overwrite").partitionBy("lang").parquet(src)
    val before = spark.read.parquet(src).orderBy("doc_id").collect()
    val sizes = Layout.compactionReport(spark, src, dst)
      .filter(col("phase") === "before").select("bytes").as[Long].collect()
    val target = sizes.sorted.take(3).sum // guarantees 1 < bins < files
    val plans = Layout.compactPartitioned(spark, src, dst, target)
    plans.foreach { pl =>
      assert(pl.bins.size > 1 && pl.bins.size < pl.files.size,
        s"${pl.partition}: want a genuine multi-bin pack, got ${pl.bins.size} bins for ${pl.files.size} files")
      assert(pl.bins.forall(b => b.size == 1 || b.map(_._2).sum <= target))
    }
    val rep = Layout.compactionReport(spark, src, dst).collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
    plans.foreach { pl =>
      assert(rep(("after", pl.partition)).length == pl.bins.size,
        s"${pl.partition}: output files must equal planned bins")
    }
    val after = spark.read.parquet(dst).orderBy("doc_id").collect()
    assert(after.toSeq == before.toSeq, "compaction must be content-lossless")
  }

  test("q216: incremental compaction byte-copies clean partitions and rewrites only dirty ones") {
    val base = java.nio.file.Files.createTempDirectory("inccompact").toString
    val (src, dst) = (s"$base/src", s"$base/dst")
    val rows = Layout.q216At(spark, sf, src, dst).collect()
    assert(rows.nonEmpty)
    Seq("lossless", "only_dirty_rewritten").foreach { c =>
      assert(rows.forall(_.getAs[Boolean](c)), s"gate $c must hold on every lang")
    }
    val rep = Layout.compactionReport(spark, src, dst).collect()
    val dirty = s"lang=${graft.sources.Layout.LayoutScanLang}"
    // dirty partition shrank to its planned bin count (< fragment count)
    val dirtyBefore = rep.filter(r => r.getString(0) == "before" && r.getString(1) == dirty)
    val dirtyAfter = rep.filter(r => r.getString(0) == "after" && r.getString(1) == dirty)
    assert(dirtyBefore.length == graft.sources.Layout.CompactFragments)
    assert(dirtyAfter.length < dirtyBefore.length)
    // clean partitions: same file names, same byte sizes — a byte copy,
    // not a decode/re-encode (re-encoding would change sizes)
    rep.map(_.getString(1)).distinct.filterNot(_ == dirty).foreach { part =>
      def key(phase: String) = rep
        .filter(r => r.getString(0) == phase && r.getString(1) == part)
        .map(r => (new java.io.File(r.getString(2)).getName, r.getAs[Long]("bytes")))
        .toSet
      assert(key("after") == key("before"),
        s"$part must pass through as a byte copy (same names + sizes)")
    }
  }

  test("q212: eval gates all TRUE on the real corpus; report shows files shrinking") {
    val base = java.nio.file.Files.createTempDirectory("compact").toString
    val (csrc, cdst) = (s"$base/src", s"$base/dst")
    val rows = Layout.q212At(spark, sf, csrc, cdst).collect()
    assert(rows.nonEmpty)
    Seq("lossless", "plan_respected", "bins_within_target", "files_not_increased")
      .foreach { c =>
        assert(rows.forall(_.getAs[Boolean](c)), s"gate $c must hold on every lang")
      }
    val rep = Layout.compactionReport(spark, csrc, cdst).collect()
    val byPhase = rep.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(byPhase("after") < byPhase("before"),
      s"compaction must reduce total file count, got $byPhase")
    // 128 MB target swallows each tiny lang slice whole: 1 file per lang
    val afterByPart = rep.filter(_.getString(0) == "after").groupBy(_.getString(1))
    assert(afterByPart.values.forall(_.length == 1))
    assert(graft.sources.Layout.CompactTargetBytes > rep.map(_.getAs[Long]("bytes")).sum)
  }

  test("q238: ledgered ingest totals equal the full recompute; run 2 only new, run 3 no-op") {
    import org.apache.spark.sql.functions._
    val got = graft.sources.Layout.q238LedgerIngest(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    val direct = graft.sources.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(25,6)")).cast("double").as("t"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == direct.keySet)
    got.foreach { case (k, (n, t, onlyNew, noop)) =>
      assert((n, t) == direct(k), s"partial-merge total drifted for $k")
      assert(onlyNew, "run 2 must process exactly the new files")
      assert(noop, "run 3 must see nothing new")
    }
  }

  test("q247: digests disagree on exactly the corrupted day; its row diff counts the damage") {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), expr("unix_millis(ts) div 86400000").as("d"))
    val dc = ev.agg(min(col("d"))).head().getLong(0) + 3
    val expected = ev.filter(col("d") === dc && col("event_id") % 5 === 0).count()
    val rows = graft.sources.Layout.q247MerkleDiff(spark, sf).collect()
    val bad = rows.filter(!_.getBoolean(3))
    assert(bad.map(_.getString(0)).toSeq == Seq(s"d$dc"),
      "phase 1 must flag exactly the damaged partition")
    assert(bad.head.getLong(4) == expected, "phase 2 must count exactly the damaged rows")
    rows.filter(_.getBoolean(3)).foreach { r =>
      assert(r.getLong(4) == 0 && r.getLong(1) == r.getLong(2))
    }
    assert(expected > 0, "vacuous corruption — pick a different day")
  }

  test("q249: logical delete equals the physical rewrite and leaves segment bytes alone") {
    import org.apache.spark.sql.functions._
    val rows = graft.sources.Layout.q249LogicalDelete(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), "logical view must equal the physical rewrite")
      assert(r.getBoolean(4), "the logical path must not touch segment bytes")
    }
    val expect = graft.sources.Tables.events(spark, sf)
      .filter(col("user_id") % 37 =!= 0).count()
    assert(rows.map(_.getLong(1)).sum == expect,
      "every tombstoned user's events vanish from the served aggregate")
  }

  test("q255: the maintained manifest prunes like a rebuilt one; stats touch only the new files") {
    import org.apache.spark.sql.functions._
    val r = graft.sources.Layout.q255ZoneMapIncremental(spark, sf).head()
    assert(r.getBoolean(2), "pruning must still skip files after the append")
    assert(r.getBoolean(3), "the update must stat exactly the appended files, v1 untouched")
    val li = graft.sources.Tables.lineitem(spark, sf)
    val maxK = li.agg(max("l_orderkey")).head().getLong(0)
    val expect = li.filter(col("l_orderkey").between(maxK * 25 / 100, maxK * 45 / 100)).count()
    assert(r.getLong(0) == expect, "the pruned read through maintained metadata loses nothing")
  }
}

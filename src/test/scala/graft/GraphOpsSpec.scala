package graft

import graft.operators.GraphOps
import org.apache.spark.sql.functions._

class GraphOpsSpec extends GraftSpec {

  test("q20 edges have no self loops") {
    assert(GraphOps.q20OverlapEdges(spark, sf).filter(col("src") === col("dst")).count() == 0)
  }

  test("q21 symmetrization doubles the edge count") {
    val e = GraphOps.q20OverlapEdges(spark, sf).count()
    assert(GraphOps.q21ReverseEdges(spark, sf).count() == 2 * e)
  }

  test("q22 transitive reduction keeps a subset of edges and uses broadcast, not a path self-join") {
    val df = GraphOps.q22TransitiveReduction(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "quotient-class counts must be broadcast")
  }

  test("q23 degrees sum equals edge count on each side") {
    val e = GraphOps.q20OverlapEdges(spark, sf).count()
    val d = GraphOps.q23Degrees(spark, sf)
    assert(d.agg(sum("out_deg")).head().getLong(0) == e)
    assert(d.agg(sum("in_deg")).head().getLong(0) == e)
  }

  test("q25 bubbles all have >= 2 paths") {
    assert(GraphOps.q25Bubbles(spark, sf).filter(col("n_paths") < 2).count() == 0)
  }

  test("q27 chain heads are fixpoints (a head's head is itself)") {
    val c = GraphOps.q27ChainCompress(spark, sf).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("head")).toMap
    val heads = c.values.toSet
    assert(heads.forall(h => c.get(h).forall(_ == h)))
  }

  test("q35 mate flags cover the whole edge set") {
    val e = GraphOps.q20OverlapEdges(spark, sf).count()
    assert(GraphOps.q35MateConsistent(spark, sf).count() == e)
  }

  test("q36 braids all have positive path counts") {
    assert(GraphOps.q36Braids(spark, sf).filter(col("n_braids") <= 0).count() == 0)
  }

  test("q38 consensus: member counts sum to resolved node count and heads lead their chains") {
    val c = GraphOps.q38Consensus(spark, sf)
    val total = c.agg(sum("n_members")).head().getLong(0)
    assert(total == GraphOps.q27ChainCompress(spark, sf).count())
    // multi-member chains concatenate with the separator
    assert(c.filter(col("n_members") > 1)
      .filter(!col("consensus").contains(" | ")).count() == 0)
  }

  test("q28 stats: n50 <= max_len and totals positive") {
    val r = GraphOps.q28GraphStats(spark, sf).head()
    assert(r.getAs[Long]("n50") <= r.getAs[Long]("max_len"))
    assert(r.getAs[Long]("total_len") > 0 && r.getAs[Long]("n_contigs") > 0)
  }

  test("q242: incrementally merged components equal q144's full recompute row for row") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val merged = key(GraphOps.q242IncrementalCc(spark, sf))
    val full = key(GraphOps.q144WccComponents(spark, sf))
    assert(merged == full)
    assert(merged.nonEmpty)
  }

  test("q281: decremental split equals a direct CC on the post-delete edge set") {
    val cfg = GraftConfig.default
    val e = GraphOps.edges2(spark, sf).select(col("src").as("u"), col("dst").as("v"))
      .withColumn("b", substring(md5(concat(col("u").cast("string"), lit(":"),
        col("v").cast("string"))), 1, 2))
    assert(e.filter(col("b") >= GraphOps.CcDeleteLower).count() > 0, "delete batch must be non-empty")
    assert(e.filter(col("b") < GraphOps.CcDeleteLower).count() > 0, "surviving set must be non-empty")
    // direct recompute through a DIFFERENT code path: the kernel on the
    // kept edges, no base/touched machinery
    val lbl = graft.operators.Cc.labels(
      e.filter(col("b") < GraphOps.CcDeleteLower).select("u", "v"), cfg)
    val docs = graft.sources.Tables.documents(spark, sf).select("doc_id")
    val comp = docs.join(lbl.select(col("node").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("component_id"))
    val sz = comp.groupBy("component_id").agg(count(lit(1)).as("component_size"))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = key(comp.join(sz, "component_id")
      .select(col("doc_id"), col("component_id"), col("component_size")))
    val got = key(GraphOps.q281DecrementalCc(spark, sf))
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("q281 minimality: untouched components keep persisted labels; only touched relabel") {
    val cfg = GraftConfig.default
    val res = GraphOps.q281DecrementalCc(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component_id")).toMap
    val basePath = graft.sources.Scratch.keyedDir("ccfull", sf, spark,
      Seq("documents.parquet"), s"maxOverlapKeyDf=${cfg.maxOverlapKeyDf}")
    val base = spark.read.parquet(basePath).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("lbl")).toMap
    val deleted = GraphOps.edges2(spark, sf).select(col("src").as("u"), col("dst").as("v"))
      .withColumn("b", substring(md5(concat(col("u").cast("string"), lit(":"),
        col("v").cast("string"))), 1, 2))
      .filter(col("b") >= GraphOps.CcDeleteLower).select("u", "v").collect()
    val touched = deleted.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
      .flatMap(base.get).toSet
    assert(touched.nonEmpty && touched.size < base.values.toSet.size,
      "test corpus must leave some components untouched for minimality to mean anything")
    base.foreach { case (node, l) =>
      if (!touched(l))
        assert(res(node) == l, s"untouched node $node must keep its persisted label $l")
      if (res(node) != l)
        assert(touched(l), s"relabeled node $node sits outside the touched set — recompute not minimal")
    }
  }

  test("q242 artifact path is content-keyed: knob change or corpus rewrite reroutes it") {
    import graft.sources.Scratch
    val in = Seq("documents.parquet")
    val a = Scratch.keyedDir("t", sf, spark, in, "maxOverlapKeyDf=8")
    val b = Scratch.keyedDir("t", sf, spark, in, "maxOverlapKeyDf=9")
    assert(a != b, "an edge-shaping knob change must key a different artifact")
    // in-place corpus regeneration: same path, new bytes → new artifact key
    val dir = java.nio.file.Files.createTempDirectory("ckey").toString
    import spark.implicits._
    Seq((1L, "x")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val before = Scratch.keyedDir("t", dir, spark, in, "k")
    // no mtime-granularity sleep needed here: the round-13 content probe
    // is bounded (first 16 name-sorted files, 16-byte head/tail), which
    // covers this single-part rewrite; a same-name/length/mtime rewrite
    // confined to later part files or middle bytes is outside the
    // probe's documented trade-off (see the Scratch scaladoc)
    Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val after = Scratch.keyedDir("t", dir, spark, in, "k")
    assert(before != after, "regenerated corpus bytes must key a different artifact")
  }

  test("keyedDir content probe: same name+length+mtime, different bytes → different key") {
    import graft.sources.Scratch
    import java.nio.file.{Files, Paths}
    val dir = java.nio.file.Files.createTempDirectory("ckey2").toString
    val sub = Paths.get(dir, "documents.parquet")
    Files.createDirectories(sub)
    val f = sub.resolve("part-00000")
    val t = java.nio.file.attribute.FileTime.fromMillis(1700000000000L)
    Files.write(f, Array.fill[Byte](64)(1))
    Files.setLastModifiedTime(f, t)
    val a = Scratch.keyedDir("t", dir, spark, Seq("documents.parquet"), "k")
    Files.write(f, Array.fill[Byte](64)(2)) // same length
    Files.setLastModifiedTime(f, t)         // same mtime, forced
    val b = Scratch.keyedDir("t", dir, spark, Seq("documents.parquet"), "k")
    assert(a != b,
      "a same-size same-mtime rewrite must reroute via the content probe — " +
        "the stale-artifact window the round-12 advice flagged")
  }
}

package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The checkpoint stats barrier (round-11 finding): without it,
  * iterated checkpoint→join→checkpoint generations carry origin
  * statistics whose sizeInBytes estimate SQUARES per round, and after
  * ~20 generations the driver spends minutes in BigInteger.multiply
  * planning 7-row joins (q187 at sf0.01: 134 s → 6.6 s once cut). */
class CkSpec extends GraftSpec {
  import spark.implicits._

  test("Ck.stage bounds carried stats across compounding checkpoint generations") {
    val cfg = GraftConfig.default
    var df = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("u", "v")
    // 25 generations of self-join + cut — the Scc/Cc round shape.
    // Without the barrier the carried estimate's bit-length doubles per
    // generation (2^25 bits ≈ minutes of BigInteger math); with it the
    // leaf stats stay the bounded default every generation.
    for (_ <- 1 to 25) {
      val j = df.as("a").join(df.as("b"), col("a.v") === col("b.u"))
        .select(col("a.u").as("u"), col("b.v").as("v"))
      df = Ck.stage(j, cfg)
      val bits = df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
      assert(bits <= 64, s"checkpoint leaf carries a $bits-bit size estimate — barrier broken")
    }
    assert(df.count() == 3L) // 3-cycle: closed under one-hop composition
  }

  test("Ck.stage preserves the checkpoint's materialized partitioning (exchange-free reuse)") {
    // explicit count: AQE coalesces a column-only repartition and the
    // coalesced sides no longer co-partition (see StatsBarrier scaladoc)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val keyed = (1L to 100L).toDF("k").repartition(n, col("k"))
    val ck = Ck.stage(keyed, GraftConfig.default)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // joining two key-partitioned checkpoints on the key must not
    // re-exchange the checkpointed sides
    val j = ck.as("a").join(ck.as("b").hint("merge"), "k")
    val exec = j.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val exchanges = exec.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.isEmpty,
      s"barrier must keep LogicalRDD outputPartitioning — found ${exchanges.size} exchanges")
  }

  test("q227 LPA: plan depth is round-independent past the stage-cut cadence") {
    // the round-11 verdict's #5: a larger lpaRounds budget must not
    // re-plan through all previous rounds' joins — with the prLoop
    // cadence (cut every 4th round), rounds 5 and 9 both leave exactly
    // one uncut round of lineage, so their final plans carry the SAME
    // join count; without the cut, 9 rounds would carry 4 more joins.
    def joins(rounds: Int): Int = {
      val ops = new graft.operators.AnalyticsOps(GraftConfig(lpaRounds = rounds))
      ops.q227LpaCommunities(spark, sf)
        .queryExecution.optimizedPlan.toString
        .linesIterator.count(_.contains("Join"))
    }
    assert(joins(5) == joins(9),
      "LPA plan depth must reset at each stage cut, not grow with the round budget")
  }

  test("round loops cut through Ck: raw checkpoints stay at the straight-line sites") {
    // compute-once cuts outside any round loop; rerouting them through
    // Ck adds the stats barrier to curate-path plans, which needs its
    // own measured change. Probe programs under graft/tools are not
    // library code.
    val allowed = Map(
      "graft/sources/Scratch.scala" -> 1,
      "graft/operators/Dedup.scala" -> 4,
      "graft/operators/GraphOps.scala" -> 2, // popBubblesFrom
      "graft/operators/Similarity.scala" -> 4,
      "graft/streaming/CdcStream.scala" -> 2,
      "graft/streaming/EventStream.scala" -> 1)
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val raw = """\.(localCheckpoint|checkpoint)\(""".r
    val found = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/'))
      .filterNot(p => p == "graft/Ck.scala" || p.startsWith("graft/tools/"))
      .map { p =>
        val code = Files.readAllLines(root.resolve(p)).asScala.map(_.trim)
          .filterNot(l => l.startsWith("*") || l.startsWith("//") || l.startsWith("/*"))
        p -> code.map(raw.findAllMatchIn(_).size).sum
      }
      .filter(_._2 > 0).toMap
    assert(found == allowed, "raw checkpoint calls outside Ck")
  }
}

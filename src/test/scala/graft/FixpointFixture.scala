package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** One small fixed graph that gives every [[Fixpoint]] kernel several
  * rounds of work. */
trait FixpointFixture { this: GraftSpec =>
  import spark.implicits._

  // a 7-node path into a 4-cycle, a repeat boundary at 20 (in 21, 22;
  // out 23, 24) and a K4 (40..43) with a two-node tail that k-core
  // peeling removes in two rounds; tips need 7 rounds to peel the path
  val fixture: Seq[(Long, Long)] = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L),
    (7L, 10L), (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L), (13L, 14L),
    (14L, 21L), (14L, 22L), (21L, 20L), (22L, 20L), (20L, 23L), (20L, 24L),
    (23L, 25L), (24L, 26L),
    (40L, 41L), (40L, 42L), (40L, 43L), (41L, 42L), (41L, 43L), (42L, 43L),
    (46L, 40L), (46L, 41L), (45L, 46L))
  def edges: DataFrame = fixture.toDF("src", "dst")
  def uv: DataFrame = fixture.toDF("u", "v")
  def und: DataFrame = uv.unionAll(uv.select(col("v").as("u"), col("u").as("v"))).distinct()
  def wedges: DataFrame = uv.withColumn("w", (col("u") + col("v")) % 3 + 1)
  def seeds: DataFrame = Seq((1L, 0L), (20L, 0L)).toDF("u", "d")
  def sourceSeeds: DataFrame = Seq((1L, 1L, 0L), (20L, 20L, 0L)).toDF("s", "u", "d")
  def nodes: DataFrame = (fixture.flatMap(p => Seq(p._1, p._2)).distinct :+ 30L).toDF("node")
}

package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the
  * suite fast; specs must not mutate session state). */
trait GraftSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()
  val sf = "/root/testdata/sf0.001"
  override def afterAll(): Unit = {} // session shared across suites; JVM exit cleans up

  /** `f`'s result and the tags of the artifacts it built: each miss of
    * `Artifact.getOrBuild` records an `artifact.<tag>` Trace span. */
  def artifactBuilds[T](f: => T): (T, Seq[String]) = {
    Trace.drain()
    val r = f
    (r, Trace.drain().map(_._1).filter(_.startsWith("artifact.")).map(_.stripPrefix("artifact.")))
  }

  /** `f`'s result and the number of Spark jobs it started, counted by
    * a listener with the listener bus drained on both sides. */
  def withJobCount[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.ListenerBusDrain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** The dirs a DataFrame's files lie in (an artifact read: its keyed dir). */
  def readDirs(df: DataFrame): Set[String] =
    df.inputFiles.map(f => new Path(f).getParent.getName).toSet
}

package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** A benchmark-side span: a named interval around one call into a
  * Graft layer, with the span that caused it. Spans stay in memory and
  * are written out when the run ends. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var next = 0

  def apply[T](name: String)(f: => T): T = {
    val id = next; next += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try f
    finally {
      done += Span(id, parent, name, t0, System.nanoTime())
      open = open.tail
    }
  }

  def all: Seq[Span] = done.toSeq

  /** Duration of `s` minus the part its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - done.iterator.filter(_.parent == s.id).map(_.seconds).sum
}

/** Spark-side counters for the traced run, fed by a SparkListener and
  * a QueryExecutionListener the benchmark registers. All counters are
  * cumulative; callers diff two [[snapshot]]s around an operation. */
final class Layers extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val rddBlocks = mutable.Map.empty[RDDBlockId, Long]
  private val seenTrackers = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[AnyRef, java.lang.Boolean]())
  private var cached = 0L
  private var cachedPeak = 0L

  private def add(k: String, v: Double): Unit = c(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("session.jobs", 1)
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("session.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("session.tasks", 1)
    if (e.reason != Success) add("exec.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.run_s", m.executorRunTime / 1000.0)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1000.0)
      add("shuffle.spill_mb", m.diskBytesSpilled / 1048576.0)
      add("sources.input_mb", m.inputMetrics.bytesRead / 1048576.0)
      add("sources.output_mb", m.outputMetrics.bytesWritten / 1048576.0)
      val delay = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime
      add("session.sched_delay_s", math.max(0L, delay) / 1000.0)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case b: RDDBlockId =>
        val info = e.blockUpdatedInfo
        val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        cached += bytes - rddBlocks.getOrElse(b, 0L)
        if (bytes > 0) rddBlocks(b) = bytes else rddBlocks.remove(b)
        if (cached > cachedPeak) cachedPeak = cached
      case _ => ()
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      // one QueryExecution can run several actions; its planning
      // phases ran once, so count each tracker once
      if (seenTrackers.add(qe.tracker))
        add("session.plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
      // the FASTA sink is the text data source's writer
      if (qe.logical.collectFirst {
            case w: InsertIntoHadoopFsRelationCommand if w.fileFormat.isInstanceOf[TextFileFormat] => w
          }.isDefined)
        add("sources.fasta_write_s", durationNs / 1e9)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Restart the cached-bytes peak from the current level. */
  def resetCachedPeak(): Unit = synchronized { cachedPeak = cached }

  def snapshot(): Map[String, Double] = synchronized {
    c.toMap ++ Map(
      "session.codegen_ms" -> WholeStageCodegenExec.codeGenTime / 1e6,
      "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0,
      "ck.cached_mb_peak" -> cachedPeak / 1048576.0)
  }

  /** Wall time inside [t0, t1] (epoch ms) that no Spark job covered. */
  def driverGapSeconds(t0: Long, t1: Long): Double = synchronized {
    val inside = jobSpans.iterator.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = t0
    inside.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (t1 - t0 - covered) / 1000.0
  }
}

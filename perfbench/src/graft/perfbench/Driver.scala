package graft.perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, instr}

import graft.{Graft, GraftConfig, GraftSession, SparkEntry, Trace}
import graft.functions.Vec
import graft.operators.{Curation, Dedup, SimilarityOps}
import graft.sources.{Fasta, Tables}

/** One benchmark run of one workload in one JVM.
  *
  * Every workload has the same shape: set-up, then a timed BUILD that
  * turns the input into a persisted result from an empty artifact
  * scratch, then REQUESTS served from that result in a closed loop with
  * one client: a few warm-up requests, then the timed request set. The
  * run writes `result.json` into its work dir; the output checks run
  * afterwards, outside this process (`run.py`).
  *
  * {{{
  * Driver --workload assemble|curate|ann_serve --input DIR --work DIR
  *        --seconds N --trace 0|1 --cores N --t0-ms EPOCH_MS --requests N
  *        --warm-requests N
  * }}}
  */
object Driver {
  final case class Args(workload: String, input: String, work: String, seconds: Int,
      trace: Boolean, cores: Int, t0Ms: Long, requests: Int, warmRequests: Int)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(req("--workload"), req("--input"), req("--work"), req("--seconds").toInt,
      req("--trace") == "1", req("--cores").toInt, req("--t0-ms").toLong,
      req("--requests").toInt, req("--warm-requests").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val res = new Result
    val spark = session(a)
    val w = workload(a, spark)
    w.warmUp()
    res.setupS = (System.currentTimeMillis() - a.t0Ms) / 1000.0
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val outputs = try { measure(a, w, tracer, res); w.outputs } finally spark.stop()
    tracer.foreach(_.write(new File(a.work, "spans.json")))
    res.write(new File(a.work, "result.json"), outputs)
  }

  /** A Graft session on `local[cores]` with the input registered. */
  private def session(a: Args): SparkSession = {
    val spark = GraftSession.builder(a.cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.ensureRegistered(spark)
    GraftSession.ensureCheckpointDir(spark)
    val table = if (a.workload == "ann_serve") "embeddings" else "documents"
    spark.read.parquet(s"${a.input}/$table.parquet").createOrReplaceTempView(table)
    spark.table(table).count()
    spark
  }

  private def workload(a: Args, spark: SparkSession): Workload = a.workload match {
    case "assemble" => new Assemble(spark, a)
    case "curate" => new Curate(spark, a)
    case "ann_serve" => new AnnServe(spark, a)
    case w => sys.error(s"unknown workload $w")
  }

  def since(t0Ns: Long): Double = (System.nanoTime() - t0Ns) / 1e9

  /** The timed region: the build, then requests until the run's
    * seconds are used and at least the warm-up requests and the
    * workload's request set ran. The warm-up requests, the first ones
    * after the build, are checked like every other request but left
    * out of the latencies, so those measure the served state rather
    * than the JIT compiling its first requests. e2e_s is the build plus
    * the request set. In a traced run the build and every request are
    * traced. */
  private def measure(a: Args, w: Workload, tracer: Option[Tracer], res: Result): Unit = {
    val scratch = new File(GraftConfig.default.scratchDir)
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var buildLayers = Map.empty[String, Double]
    val builds = (1 to w.builds).map { _ =>
      emptyDir(scratch) // every build starts from an empty artifact scratch
      val tb = System.nanoTime()
      tracer match {
        case Some(t) => t.op(w.build(Some(t))); buildLayers = t.lastOp ++ w.buildLayers
        case None => w.build(None)
      }
      since(tb)
    }
    res.buildsS ++= builds
    res.buildS = median(builds)
    liveHeap(res)
    val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
    val warm = a.warmRequests
    var n = 0
    while (n < warm + a.requests || System.nanoTime() < deadline) {
      val tq = System.nanoTime()
      tracer match {
        case Some(t) => t.op(w.request(n, Some(t))); if (n >= warm) traced += t.lastOp ++ w.requestLayers(t)
        case None => w.request(n, None)
      }
      val ms = since(tq) * 1000
      if (n < warm) res.warmMs += ms else res.requestMs += ms
      res.e2eS += (if (n >= warm && n < warm + a.requests) ms / 1000 else 0.0)
      n += 1
      if (n == warm + a.requests) liveHeap(res)
    }
    res.e2eS += res.buildS
    if (tracer.isDefined) {
      val med = median(traced.toSeq)
      res.layers = buildLayers ++ med.map { case (k, v) => k -> (v + buildLayers.getOrElse(k, 0.0)) }
    }
  }

  /** Full GCs outside the timed region, after which the heap holds
    * only what the workload keeps alive; records the largest such heap
    * occupancy. Spark's context cleaner frees broadcast and shuffle
    * state on its own thread once a GC made it unreachable, so the GC
    * repeats with pauses between and the smallest occupancy counts. */
  private def liveHeap(res: Result): Unit = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    val used = (1 to 3).map { i =>
      if (i > 1) Thread.sleep(200)
      System.gc()
      heap.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    res.liveHeapsMb += used
    res.peakHeapMb = math.max(res.peakHeapMb, used)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def median(ops: Seq[Map[String, Double]]): Map[String, Double] =
    ops.flatMap(_.keys).distinct.map(k => k -> median(ops.map(_.getOrElse(k, 0.0)))).toMap

  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => jsonString(s)
    case n: java.lang.Number => n.toString
    case b: java.lang.Boolean => b.toString
    case o => jsonString(o.toString)
  }

  def emptyDir(d: File): Unit = if (d.exists()) {
    Files.walk(d.toPath).sorted(Comparator.reverseOrder[Path]())
      .forEach(p => if (p != d.toPath) Files.delete(p))
  }

  /** Files under `d`, recursively. */
  def filesUnder(d: File): Seq[Path] =
    if (!d.exists()) Seq.empty
    else {
      val s = Files.walk(d.toPath)
      try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
    }
}

/** What one run measured, as written to result.json. */
final class Result {
  var setupS = 0.0
  val buildsS = mutable.ArrayBuffer.empty[Double]
  var buildS = 0.0
  var e2eS = 0.0
  val warmMs = mutable.ArrayBuffer.empty[Double]
  val requestMs = mutable.ArrayBuffer.empty[Double]
  val liveHeapsMb = mutable.ArrayBuffer.empty[Double]
  var peakHeapMb = 0.0
  var layers = Map.empty[String, Double]

  def write(f: File, outputs: Seq[(String, String)]): Unit = {
    def nums(xs: Iterable[Double]) = xs.map(_.toString).mkString("[", ",", "]")
    val fields = Seq(
      "setup_s" -> setupS.toString,
      "builds_s" -> nums(buildsS),
      "build_s" -> buildS.toString,
      "e2e_s" -> e2eS.toString,
      "warm_ms" -> nums(warmMs),
      "request_ms" -> nums(requestMs),
      "live_heaps_mb" -> nums(liveHeapsMb),
      "peak_heap_mb" -> peakHeapMb.toString,
      "layers" -> layers.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Driver.jsonString(k)}:$v" }.mkString("{", ",", "}"),
      "outputs" -> outputs.map { case (k, v) => s"${Driver.jsonString(k)}:$v" }.mkString("{", ",", "}"))
    val w = new PrintWriter(f)
    try w.println(fields.map { case (k, v) => s"${Driver.jsonString(k)}:$v" }.mkString("{", ",", "}"))
    finally w.close()
  }
}

/** One workload: its warm-up (part of set-up), its build, its
  * requests, and the outputs the runner checks (JSON values by name). */
abstract class Workload(spark: SparkSession, a: Driver.Args) {
  protected val scratch = new File(GraftConfig.default.scratchDir)
  protected def span[T](t: Option[Tracer], name: String)(f: => T): T = t.fold(f)(_.span(name)(f))

  def warmUp(): Unit = ()
  /** Builds per run; build_s is their median. */
  def builds: Int = 1
  def build(t: Option[Tracer]): Unit
  def request(n: Int, t: Option[Tracer]): Unit
  def outputs: Seq[(String, String)]
  /** Layer values only the workload can read, after a traced build. */
  def buildLayers: Map[String, Double] = Map.empty
  /** Layer values only the workload can read, after a traced request. */
  def requestLayers(t: Tracer): Map[String, Double] = Map.empty

  /** Artifacts the build published under the scratch dir. */
  protected def artifactLayers: Map[String, Double] = {
    val files = Driver.filesUnder(scratch)
    Map(
      "sources.artifacts_built" -> files.count(_.getFileName.toString == "_SUCCESS").toDouble,
      "sources.artifact_mb" -> files.map(Files.size(_)).sum / 1048576.0)
  }

  /** Requests work through a fixed, seeded list of keys, in order. */
  protected def keys(file: String): IndexedSeq[String] = {
    val src = scala.io.Source.fromFile(new File(a.input, file), "UTF-8")
    try src.getLines().toIndexedSeq finally src.close()
  }

  protected def rowsJson(rows: Seq[Row]): String =
    rows.map(r => (0 until r.length).map(i => Driver.jsonValue(r.get(i))).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
}

/** assemble — build: `Graft.assembleToFasta`, corpus to FASTA on disk.
  * Request: which contigs hold a given read, looked up in the FASTA
  * through Graft's FASTA source. */
final class Assemble(spark: SparkSession, a: Driver.Args) extends Workload(spark, a) {
  private val fasta = s"${a.work}/contigs.fasta"
  private val reads = keys("lookups.txt")
  private val answers = mutable.ArrayBuffer.empty[String]
  private var contigs = 0L
  private var tags = Seq.empty[(String, Double)]

  def build(t: Option[Tracer]): Unit = {
    Trace.drain()
    contigs = span(t, "pipeline.assembleToFasta")(Graft.assembleToFasta(spark, a.input, fasta))
    tags = Trace.drain()
  }

  def request(n: Int, t: Option[Tracer]): Unit = {
    val read = reads(n % reads.length)
    val hit = span(t, "sources.fasta_lookup")(Fasta.read(spark, fasta)
      .filter(instr(col("text"), read) > 0).select("header").collect())
    answers += hit.map(r => Driver.jsonString(r.getString(0))).sorted.mkString("[", ",", "]")
  }

  /** GraphOps / Pipeline / Sequence times from the `Trace` stage tags
    * `Pipeline.assembleFull` records. */
  override def buildLayers: Map[String, Double] = {
    def sum(p: String => Boolean) = tags.collect { case (k, v) if p(k) => v }.sum
    val round = """asm\.(chimeric|tips|tips2|pop|repeat)\.(\d+|j\d+\(x\d+\))""".r
    Map(
      "graphops.overlap_s" -> sum(_ == "asm.q17"),
      "sequence.lowcov_s" -> sum(_ == "asm.lowcov.list"),
      "graphops.clean_s" -> sum(k => round.matches(k) || k == "asm.transred" || k == "asm.lowcov"),
      "graphops.chains_s" -> sum(_ == "asm.chains"),
      "pipeline.rounds" -> tags.count { case (k, _) => round.matches(k) }.toDouble)
  }

  def outputs: Seq[(String, String)] = Seq(
    "fasta" -> Driver.jsonString(fasta),
    "contigs" -> contigs.toString,
    "answers" -> answers.mkString("[", ",", "]"),
    "oracle_sql" -> Driver.jsonString(SparkEntry.oracleSql("q62_full_assembly")))
}

/** curate — build: `Curation.q334SelectionRecipe` on an empty artifact
  * scratch (DSIR weights, quote scrub, soft dedup, selection audit).
  * Request: the quote verdict and DSIR weight of a batch of docs,
  * served over the containment artifact the build persisted. */
final class Curate(spark: SparkSession, a: Driver.Args) extends Workload(spark, a) {
  private val batches = keys("lookups.txt").map(_.split(",").map(_.toLong).toSeq)
  private var audit = "[]"
  private val answers = mutable.ArrayBuffer.empty[String]

  def build(t: Option[Tracer]): Unit = {
    val rows = t match {
      case Some(tr) =>
        // the recipe's stages one by one, each persisting what it
        // builds, then the recipe itself over those artifacts
        def stage(name: String)(df: => DataFrame): Unit =
          tr.span(name)(df.write.format("noop").mode("overwrite").save())
        stage("curation.dsir")(Curation.q320DsirWeights(spark, a.input))
        stage("dedup.quote_scrub")(Dedup.q329QuoteScrub(spark, a.input))
        stage("dedup.soft_dedup")(Dedup.q322SoftDedup(spark, a.input))
        tr.span("curation.audit")(Curation.q334SelectionRecipe(spark, a.input).collect())
      case None => Curation.q334SelectionRecipe(spark, a.input).collect()
    }
    audit = rowsJson(rows.sortBy(_.getString(0)).toSeq)
  }

  def request(n: Int, t: Option[Tracer]): Unit = {
    val ids = batches(n % batches.length)
    val rows = span(t, "dedup.verdict")(Dedup.q329QuoteScrub(spark, a.input)
      .join(Curation.q320DsirWeights(spark, a.input), "doc_id")
      .filter(col("doc_id").isin(ids: _*))
      .select("doc_id", "n_containers", "is_quote", "n_toks", "dsir_sum_micro", "dsir_avg_micro")
      .collect())
    answers += rowsJson(rows.sortBy(_.getLong(0)).toSeq)
  }

  override def buildLayers: Map[String, Double] = artifactLayers

  def outputs: Seq[(String, String)] = Seq(
    "audit" -> audit,
    "answers" -> answers.mkString("[", ",", "]"),
    "oracle_sql" -> Driver.jsonString(SparkEntry.oracleSql("q334_selection_recipe")),
    "verdict_sql" -> Driver.jsonString(SparkEntry.oracleSql("q329_quote_scrub")),
    "dsir_sql" -> Driver.jsonString(SparkEntry.oracleSql("q320_dsir_weights")))
}

/** ann_serve — build: `Similarity.trainIndex`, the IVF index, from an
  * empty artifact scratch. Request: one held-out query batch served
  * through the kernel q305 runs per micro-batch (index lookup plus
  * `servePanel`), returning each query's top 10. */
final class AnnServe(spark: SparkSession, a: Driver.Args) extends Workload(spark, a) {
  private val ops = new SimilarityOps(GraftConfig.default.copy(ivfTopK = 10))
  private val nprobe = GraftConfig.default.ivfNprobe
  private val qdir = new File(a.input, "queries")
  private val batches = qdir.list().filter(_.startsWith("batch_")).sorted.toIndexedSeq
  private val results = new File(a.work, "ann_results.csv")
  private lazy val out = {
    val w = new PrintWriter(results)
    w.println("request,query_id,vec_id,rk,cosine")
    w
  }
  private lazy val e = corpus(a.input)
  private var returned = 0

  private def corpus(dir: String): DataFrame = Tables.embeddings(spark, dir)
    .select(col("vec_id"), col("embedding")).withColumn("n2", Vec.norm2N("embedding"))

  private def serve(e: DataFrame, dir: String, batch: String, t: Option[Tracer]): Array[Row] = {
    val qv = span(t, "sources.query_read")(spark.read.parquet(s"$qdir/$batch")
      .select("vec_id", "embedding").withColumn("n2", Vec.norm2N("embedding")))
    val cents = span(t, "sources.index_read")(ops.trainIndex(spark, dir))
    span(t, "similarity.serve")(ops.servePanel(e, qv, cents, nprobe).collect())
  }

  /** A warm-up request against an index of a separate slice, so the
    * measured builds start from an empty artifact scratch but not from
    * a cold JIT. */
  override def warmUp(): Unit = {
    val dir = s"${a.input}/warmup"
    val we = corpus(dir)
    qdir.list().filter(_.startsWith("warmup_")).sorted.foreach(b => serve(we, dir, b, None))
  }

  /** The index build takes about 1.5 s, too short for one sample to
    * be steady, and the first builds of a run are slower while the JIT
    * compiles, so it runs five times. (With three, the median build
    * spread 0.18-0.24 over ten seeds, against 0.09-0.11 with five.) */
  override def builds: Int = 5

  def build(t: Option[Tracer]): Unit =
    span(t, "similarity.train")(ops.trainIndex(spark, a.input).collect())

  def request(n: Int, t: Option[Tracer]): Unit = {
    val rows = serve(e, a.input, batches(n % batches.length), t)
    returned = rows.length
    rows.foreach(r => out.println(s"$n,${r.getLong(0)},${r.getLong(1)},${r.getInt(2)},${r.getDouble(3)}"))
  }

  override def buildLayers: Map[String, Double] = artifactLayers

  /** Vectors scored per returned neighbour: rows of the probe join
    * (query x member of a probed cell) over the rows returned. */
  override def requestLayers(t: Tracer): Map[String, Double] =
    t.lastJoinRows("cell").map(j => "similarity.scored_per_result" -> j.toDouble / math.max(1, returned)).toMap

  /** Graft's DuckDB twin of the index build: q41's oracle, cut after
    * the last Lloyd iteration's centroid table. */
  private def indexSql: String = {
    val q = ops.q41Sql
    val cut = q.indexOf("af_ex AS (")
    require(cut > 0, "q41Sql has no final assignment step (af_ex) to cut at")
    q.substring(0, cut).trim.stripSuffix(",") +
      s"\nSELECT cent_id, ce FROM c${ops.KmeansIters} ORDER BY cent_id"
  }

  /** The persisted index, read back after the timed region. */
  private def index: String = ops.trainIndex(spark, a.input).collect()
    .map(r => (r.getAs[Number](0).longValue, r.getSeq[Double](1))).sortBy(_._1)
    .map { case (id, ce) => s"[$id,${ce.mkString("[", ",", "]")}]" }
    .mkString("[", ",", "]")

  def outputs: Seq[(String, String)] = {
    out.close()
    Seq("results" -> Driver.jsonString(results.toString),
      "batches" -> batches.length.toString,
      "index" -> index,
      "index_sql" -> Driver.jsonString(indexSql))
  }
}

/** The traced run's recorder: benchmark-side spans plus the Spark
  * listener counters, diffed around each traced operation. */
final class Tracer(spark: SparkSession) {
  private val layers = new Layers
  private val spans = new Spans
  private val lastQe = mutable.ArrayBuffer.empty[org.apache.spark.sql.execution.QueryExecution]
  private val plans = new org.apache.spark.sql.util.QueryExecutionListener {
    def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
      lastQe.synchronized(lastQe += qe)
    def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }
  var lastOp: Map[String, Double] = Map.empty

  def span[T](name: String)(f: => T): T = spans(name)(f)

  /** Run one traced operation; afterwards [[lastOp]] holds its layer
    * counters, its child span durations (`span.<name>`) and its own
    * self time (`bench.self_s`). */
  def op[T](f: => T): T = {
    // listeners are attached only while a traced operation runs
    spark.sparkContext.addSparkListener(layers)
    spark.listenerManager.register(layers)
    spark.listenerManager.register(plans)
    lastQe.synchronized(lastQe.clear())
    layers.resetCachedPeak()
    val before = layers.snapshot()
    val first = spans.all.length
    val t0 = System.currentTimeMillis()
    val res = spans("op")(f)
    val t1 = System.currentTimeMillis()
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val after = layers.snapshot()
    spark.sparkContext.removeSparkListener(layers)
    spark.listenerManager.unregister(layers)
    spark.listenerManager.unregister(plans)
    val mine = spans.all.drop(first)
    val root = mine.find(_.name == "op").get
    lastOp = after.map { case (k, v) =>
      k -> (if (k == "ck.cached_mb_peak") v else v - before.getOrElse(k, 0.0))
    } ++ mine.filter(_.parent == root.id).groupBy(_.name).map { case (n, ss) =>
      s"span.$n" -> ss.map(_.seconds).sum
    } ++ Map(
      "session.driver_gap_s" -> layers.driverGapSeconds(t0, t1),
      "bench.self_s" -> spans.selfSeconds(root))
    res
  }

  /** Output rows of the last operation's joins on `key` (AQE-aware). */
  def lastJoinRows(key: String): Option[Long] = {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    val counts = lastQe.synchronized(lastQe.toSeq).flatMap { qe =>
      helper.collect(qe.executedPlan) {
        case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == key)) =>
          j.metrics.get("numOutputRows").map(_.value)
      }.flatten
    }
    counts.maxOption
  }

  def write(f: File): Unit = {
    val w = new PrintWriter(f)
    try w.println(spans.all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Driver.jsonString(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${spans.selfSeconds(s)}}"""
    }.mkString("[", ",\n", "]"))
    finally w.close()
  }
}

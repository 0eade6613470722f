package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.sources.{Artifact, Parquet, Scratch, Tables}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

class ArtifactSpec extends GraftSpec {

  /** A private dataset dir (so every test keys its own artifact) with
    * one input file for the content key to fingerprint. */
  private def dataset(): String = {
    val dir = Files.createTempDirectory("artifact").toString
    Files.write(Paths.get(dir, "in.txt"), "x".getBytes("UTF-8"))
    dir
  }

  private def getOrBuild(dir: String)(build: String => Unit) =
    Artifact.getOrBuild(spark, "artspec", dir, Seq("in.txt"), "k")(build)

  private def dest(dir: String): Path =
    new Path(Scratch.keyedDir("artspec", dir, spark, Seq("in.txt"), "k"))

  private def fs(p: Path): FileSystem = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def write(ids: Seq[Long])(p: String): Unit = {
    import spark.implicits._
    ids.toDF("id").repartition(3).write.parquet(p)
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).sorted.toSeq

  /** Staging dirs and claim markers the helper left beside `d`. */
  private def leftovers(d: Path): Seq[String] =
    fs(d).listStatus(d.getParent).map(_.getPath.getName)
      .filter(_.startsWith(s"_${d.getName}")).toSeq

  /** Entries inside a published artifact other than its parquet parts. */
  private def strays(d: Path): Seq[String] =
    fs(d).listStatus(d).map(_.getPath.getName)
      .filterNot(n => n == "_SUCCESS" || n.startsWith("part-") || n.startsWith(".")).toSeq

  test("a final dir without _SUCCESS (a crashed writer's leftover) is rebuilt, not read or nested into") {
    val dir = dataset()
    val d = dest(dir)
    write(Seq(99L))(d.toString)
    assert(fs(d).delete(new Path(d, "_SUCCESS"), false))
    val builds = new AtomicInteger
    val got = getOrBuild(dir) { p => builds.incrementAndGet(); write(Seq(1L, 2L))(p) }
    assert(builds.get == 1, "an unpublished dir must not count as a hit")
    assert(ids(got) == Seq(1L, 2L), "the leftover's rows must be gone, not read")
    assert(fs(d).exists(new Path(d, "_SUCCESS")))
    assert(strays(d).isEmpty, s"staging dir nested into the final dir: ${strays(d)}")
    assert(leftovers(d).isEmpty, s"left behind: ${leftovers(d)}")
  }

  test("a build that throws leaves no final or staging dir, and the next call builds") {
    val dir = dataset()
    val d = dest(dir)
    val e = intercept[IllegalStateException] {
      getOrBuild(dir) { p => write(Seq(5L))(p); throw new IllegalStateException("build failed") }
    }
    assert(e.getMessage == "build failed")
    assert(!fs(d).exists(d), "a failed build must publish nothing")
    assert(leftovers(d).isEmpty, s"left behind: ${leftovers(d)}")
    assert(ids(getOrBuild(dir)(write(Seq(7L)))) == Seq(7L))
  }

  test("a second call after a hit never invokes the build") {
    val dir = dataset()
    assert(ids(getOrBuild(dir)(write(Seq(3L, 4L)))) == Seq(3L, 4L))
    val again = getOrBuild(dir)(_ => fail("the build ran although the artifact was published"))
    assert(ids(again) == Seq(3L, 4L))
  }

  test("two drivers that both miss publish one artifact and read identical rows") {
    // several rounds: the writers leave their builds together, but which
    // one reaches the publish step first is up to the scheduler
    (1 to 5).foreach { _ =>
      val dir = dataset()
      val d = dest(dir)
      val bothBuilt = new CountDownLatch(2)
      val builds = new AtomicInteger
      def build(p: String): Unit = {
        builds.incrementAndGet()
        write(1L to 40L)(p)
        bothBuilt.countDown()
        assert(bothBuilt.await(2, TimeUnit.MINUTES), "the other writer never finished its build")
      }
      val pool = Executors.newFixedThreadPool(2)
      val rows =
        try (1 to 2).map(_ => pool.submit(new Callable[Seq[Long]] {
            def call(): Seq[Long] = ids(getOrBuild(dir)(build))
          })).map(_.get(5, TimeUnit.MINUTES))
        finally pool.shutdown()
      assert(builds.get == 2, "both writers must have missed for the race to mean anything")
      assert(rows(0) == rows(1) && rows(0) == (1L to 40L))
      // part files carry their write job's id: one set means one writer's output
      val jobs = fs(d).listStatus(d).map(_.getPath.getName).filter(_.startsWith("part-"))
        .map(_.split("-").slice(2, 7).mkString("-")).toSet
      assert(jobs.size == 1, s"part files of ${jobs.size} writers in the published dir")
      assert(strays(d).isEmpty, s"staging dir nested into the final dir: ${strays(d)}")
      assert(leftovers(d).isEmpty, s"left behind: ${leftovers(d)}")
    }
  }

  test("only the artifact helper's file calls Scratch.keyedDir") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val helper = root.resolve("graft/sources/Scratch.scala")
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != helper)
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("keyedDir("))
      .toList
    assert(offenders.isEmpty,
      s"build-if-absent outside Artifact.getOrBuild in: ${offenders.mkString(", ")}")
  }

  test("every literal artifact tag under src/main names one call site") {
    // two sites sharing a tag and a config key would read each other's tables
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val call = """Artifact\.getOrBuild\(\s*spark\s*,\s*"([^"]+)"""".r
    val tags = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap(p => call.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8"))
        .map(m => m.group(1) -> root.relativize(p).toString))
    assert(tags.size >= 27, s"the tag scan found only ${tags.size} call sites")
    val shared = tags.groupBy(_._1).filter(_._2.size > 1)
    assert(shared.isEmpty, s"artifact tags used at more than one site: $shared")
  }

  // ---------- the footer-schema read path ----------

  test("a hit starts no Spark job before the caller's action, and reads the inferred schema") {
    val dir = dataset()
    val built = getOrBuild(dir)(write(Seq(1L, 2L, 3L)))
    assert(ids(built) == Seq(1L, 2L, 3L))
    val (hit, jobs) = withJobCount(getOrBuild(dir)(_ => fail("a hit must not build")))
    assert(jobs == 0, s"the artifact hit started $jobs Spark jobs")
    assert(hit.schema == spark.read.parquet(dest(dir).toString).schema)
  }

  test("every Tables loader reads the schema spark.read.parquet infers, with no Spark job") {
    val loaders = Seq[(String, (SparkSession, String) => DataFrame)](
      "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
      "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events, "documents" -> Tables.documents,
      "embeddings" -> Tables.embeddings)
    val present = loaders.filter { case (name, _) => Files.exists(Paths.get(sf, s"$name.parquet")) }
    assert(present.size >= 8, s"only ${present.map(_._1)} exist under $sf")
    present.foreach { case (name, load) =>
      load(spark, sf) // the fact tables' one-time split check plans outside the count
      val (df, jobs) = withJobCount(load(spark, sf))
      assert(jobs == 0, s"$name: the load started $jobs Spark jobs")
      val inferred = spark.read.parquet(s"$sf/$name.parquet")
      val want = if (name == "events") Tables.normalizeEventTs(inferred) else inferred
      assert(df.schema == want.schema, s"$name: ${df.schema.simpleString} vs ${want.schema.simpleString}")
    }
  }

  test("the footer read fails as spark.read.parquet does on a missing path and on a dir with no data file") {
    val empty = Files.createTempDirectory("nodata")
    Files.write(empty.resolve("_SUCCESS"), Array.emptyByteArray)
    Seq(empty.toString, empty.resolve("absent").toString).foreach { p =>
      val want = intercept[AnalysisException](spark.read.parquet(p))
      val got = intercept[AnalysisException](Parquet.read(spark, p))
      assert(got.getCondition == want.getCondition && got.getMessage == want.getMessage,
        s"${got.getMessage} vs ${want.getMessage}")
    }
  }

  test("Tables and the artifact helper hold no raw spark.read.parquet") {
    val root = Paths.get("src/main/scala/graft/sources")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    Seq("Tables.scala", "Scratch.scala").foreach { f =>
      val src = new String(Files.readAllBytes(root.resolve(f)), "UTF-8")
      assert(!src.contains("spark.read.parquet("), s"$f reads parquet with a schema-inference job")
    }
  }
}

package graft.sink

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.concurrent.TimeLimits
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.SparkTestBase

/** q06 sink-layout quirks (SURVEY.md §2.3 q06 / R7–R9; reference
  * `pyrfc_read_table.py`): dated `result[-err]/<fmt>/<table>/<ts>/` dirs
  * (`:45-50`), cumulative-rowcount filename (`:120-122`), header-less err
  * rows (`:186,197`), err output only when `err_count > 0` (`:185,196,220`).
  */
class LayoutSpec extends AnyFunSuite with TimeLimits {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val ts = "2024-01-01-00-00-00"

  private def freshRoot(): String =
    Files.createTempDirectory("layout-spec-").toString

  private def good = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("k", "v")
  private def err = Seq(("1`A`x", 3), ("2", 1)).toDF("wa", "arity")
  private def emptyErr = err.limit(0)

  private def fileNames(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  /** Hidden staging directories `writeDual` left under `root`. */
  private def stagingLeft(root: String): Seq[String] =
    fileNames(root).filter(_.startsWith(".staging-"))

  test("dated dual layout + cumulative filename, json and parquet") {
    val root = freshRoot()
    val r1 = Layout.writeDual(good, err, root, "json", "ztab", ts)
    assert(r1.goodRows == 3 && r1.errRows == 2 && r1.cumulativeRows == 3)
    // page 2: filename embeds cumulative rows across pages (`:120-122`)
    val r2 = Layout.writeDual(good, err, root, "parquet", "ztab", ts,
      cumulativeBefore = r1.cumulativeRows)
    assert(r2.cumulativeRows == 6)

    assert(Files.exists(Paths.get(s"$root/result/json/ztab/$ts/ztab3.json")))
    // err name carries NO row count — reference `:50` (`<table>-err.<fmt>`)
    assert(Files.exists(
      Paths.get(s"$root/result-err/json/ztab/$ts/ztab-err.json")))
    assert(Files.exists(
      Paths.get(s"$root/result/parquet/ztab/$ts/ztab6.parquet")))
    assert(Files.exists(
      Paths.get(s"$root/result-err/parquet/ztab/$ts/ztab-err.parquet")))
  }

  test("err rows are header-less: integer column names (`:186,197`)") {
    val root = freshRoot()
    Layout.writeDual(good, err, root, "parquet", "ztab", ts)
    val errDf = spark.read
      .parquet(s"$root/result-err/parquet/ztab/$ts")
    assert(errDf.columns.toSeq == Seq("0", "1"))
    assert(errDf.count() == 2)
    // json side: keys are "0","1" too
    Layout.writeDual(good, err, root, "json", "ztab", ts)
    val line = Files.readAllLines(
      Paths.get(s"$root/result-err/json/ztab/$ts/ztab-err.json")).asScala.head
    assert(line.contains("\"0\":") && line.contains("\"1\":"))
  }

  test("err file only created when err_count > 0 (`:185,196,220`)") {
    val root = freshRoot()
    val r = Layout.writeDual(good, emptyErr, root, "json", "ztab", ts)
    assert(r.errPath.isEmpty)
    assert(!Files.exists(Paths.get(s"$root/result-err")))
    assert(Files.exists(Paths.get(s"$root/result/json/ztab/$ts/ztab3.json")))
  }

  test("partitioned good-side write: hive-style dirs under the dated path") {
    val root = freshRoot()
    Layout.writeDual(good, emptyErr, root, "parquet", "ztab", ts,
      singleFile = false, partitionCols = Seq("v"))
    val base = s"$root/result/parquet/ztab/$ts"
    assert(Files.exists(Paths.get(s"$base/v=A")))
    assert(Files.exists(Paths.get(s"$base/v=C")))
    val back = spark.read.parquet(base)
    assert(back.count() == 3)
    assert(back.columns.toSet == Set("k", "v")) // partition col restored
  }

  test("good data roundtrips with schema intact") {
    val root = freshRoot()
    Layout.writeDual(good, err, root, "parquet", "ztab", ts)
    val back = spark.read.parquet(s"$root/result/parquet/ztab/$ts")
    assert(back.columns.toSeq == Seq("k", "v"))
    assert(back.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "A"), (2L, "B"), (3L, "C")))
  }

  test("a failed err write still releases the cached err frame") {
    val root = freshRoot()
    // a plain file where the err tree must go: the err write fails
    Files.createFile(Paths.get(s"$root/result-err"))
    val failingErr = Seq(("9`Z`leak", 3)).toDF("wa", "arity")
    intercept[Exception] {
      Layout.writeDual(good, failingErr, root, "parquet", "ztab", ts)
    }
    assert(failingErr.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
  }

  test("q06 driver entry lists the written files (smoke)") {
    val df = Layout.q06SinkLayout(spark, graft.SparkTestBase.Sf0001)
    val paths = df.as[String].collect().toSeq
    assert(paths.nonEmpty)
    assert(paths.exists(_.startsWith("result/json/lineitem/")))
    assert(paths.exists(_.startsWith("result-err/parquet/lineitem/")))
  }

  test("pages accumulate in one dated dir; a 0-row page keeps its " +
    "predecessor's file") {
    val root = freshRoot()
    val r1 = Layout.writeDual(good, err, root, "parquet", "ztab", ts)
    val r2 = Layout.writeDual(good, err, root, "parquet", "ztab", ts,
      cumulativeBefore = r1.cumulativeRows)
    assert(r2.cumulativeRows == 6)
    val goodDir = s"$root/result/parquet/ztab/$ts"
    val errDir = s"$root/result-err/parquet/ztab/$ts"
    assert(fileNames(goodDir) == Seq("ztab3.parquet", "ztab6.parquet"))
    // the err file keeps the reference's one name: the last page wins
    assert(fileNames(errDir) == Seq("ztab-err.parquet"))
    // a 0-row page's name is its predecessor's: that file survives
    val r3 = Layout.writeDual(good.limit(0), emptyErr, root, "parquet",
      "ztab", ts, cumulativeBefore = r2.cumulativeRows)
    assert(r3.goodRows == 0 && r3.cumulativeRows == 6)
    assert(fileNames(goodDir) == Seq("ztab3.parquet", "ztab6.parquet"))
    assert(spark.read.parquet(s"$goodDir/ztab6.parquet").count() == 3)
    // re-running a page replaces only its own file
    Layout.writeDual(good.limit(2), err, root, "parquet", "ztab", ts)
    assert(fileNames(goodDir) ==
      Seq("ztab2.parquet", "ztab3.parquet", "ztab6.parquet"))
    Layout.writeDual(good, err, root, "parquet", "ztab", ts)
    assert(spark.read.parquet(s"$goodDir/ztab3.parquet").count() == 3)
    assert(stagingLeft(root).isEmpty)
  }

  test("errRows is the row count read back from the err file") {
    val root = freshRoot()
    val manyErr = (1 to 37).map(i => (s"$i`bad`x", 3)).toDF("wa", "arity")
    val r = Layout.writeDual(good, manyErr, root, "json", "ztab", ts)
    assert(r.errRows == 37)
    assert(spark.read.json(r.errPath.get).count() == r.errRows)
  }

  test("an empty local err relation (the delta-pull shape) counts 0 and " +
    "lands nothing") {
    val root = freshRoot()
    val schema = StructType(Seq(StructField("wa", StringType)))
    val r = failAfter(60.seconds) {
      Layout.writeDual(good,
        spark.createDataFrame(java.util.List.of[Row](), schema),
        root, "parquet", "ztab", ts)
    }
    assert(r.errRows == 0 && r.errPath.isEmpty && r.goodRows == 3)
    assert(!Files.exists(Paths.get(s"$root/result-err")))
    assert(stagingLeft(root).isEmpty)
  }

  test("a good + err write is at most 2 Spark jobs, each carrying the " +
    "caller's local properties") {
    val sc = spark.sparkContext
    val tag = "graft.spec.layoutProbe"
    val tagged = new java.util.concurrent.atomic.AtomicInteger
    val all = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("marker") => flushed.countDown()
          case Some("body")   => tagged.incrementAndGet(); all.incrementAndGet()
          case _              => all.incrementAndGet()
        }
    }
    val root = freshRoot()
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      try Layout.writeDual(good, err, root, "parquet", "ztab", ts)
      finally sc.setLocalProperty(tag, "marker")
      // a marker job flushes the asynchronous listener bus
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    assert(tagged.get >= 1 && tagged.get <= 2, s"${tagged.get} jobs")
    assert(all.get == tagged.get, "a job lost the caller's local properties")
  }

  test("multi-file layout: the err side replaces its dated dir as a whole") {
    val root = freshRoot()
    val errDir = s"$root/result-err/json/ztab/$ts"
    Layout.writeDual(good, err, root, "json", "ztab", ts, singleFile = false)
    val r = Layout.writeDual(good, err.limit(1), root, "json", "ztab", ts,
      singleFile = false)
    assert(r.errRows == 1 && r.errPath.contains(errDir))
    val back = spark.read.json(errDir)
    assert(back.columns.toSeq == Seq("0", "1") && back.count() == 1)
    assert(stagingLeft(root).isEmpty)
  }

  test("no staging dir survives a success, an empty err side or a failed " +
    "err write") {
    val root = freshRoot()
    Layout.writeDual(good, err, root, "parquet", "ztab", ts)
    Layout.writeDual(good, emptyErr, root, "json", "ztab", ts)
    assert(stagingLeft(root).isEmpty)
    val failRoot = freshRoot()
    Files.createFile(Paths.get(s"$failRoot/result-err"))
    intercept[Exception] {
      Layout.writeDual(good, err, failRoot, "parquet", "ztab", ts)
    }
    assert(stagingLeft(failRoot).isEmpty)
  }

  test("a failed good write waits for the err write, rethrows its own " +
    "error and removes the staging") {
    val root = freshRoot()
    val boom = udf { (k: Long) =>
      if (k == 2L) throw new IllegalStateException("good side boom")
      k
    }
    val failingGood = good.select(boom(col("k")).as("k"), col("v"))
    val e = intercept[Exception] {
      Layout.writeDual(failingGood, err, root, "parquet", "zfailgood", ts)
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes(e).exists(_.getMessage.contains("good side boom")))
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(_.getName == "graft-layout-err-zfailgood"))
    assert(stagingLeft(root).isEmpty)
    assert(!Files.exists(Paths.get(s"$root/result")))
    assert(!Files.exists(Paths.get(s"$root/result-err")))
  }
}

package graft.sink

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._
import org.scalatest.concurrent.TimeLimits
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.SparkTestBase
import graft.sources.rfc.{MockRfcBackend, RfcField, RfcPage}
import graft.sources.rfc.MockRfcBackend.MockTable

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

  /** Every regular file under `root`, relative to it, without the hidden
    * checksum files. */
  private def landed(root: String): Seq[String] = {
    val base = Paths.get(root)
    val w = Files.walk(base)
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .map(base.relativize(_).toString).filterNot(_.endsWith(".crc"))
      .toSeq.sorted
    finally w.close()
  }

  test("a file: URI root lands the same files as its plain path and " +
    "leaves no staging dir") {
    val plain = freshRoot()
    val uriRoot = freshRoot()
    Seq("json", "parquet").foreach { fmt =>
      Layout.writeDual(good, err, plain, fmt, "ztab", ts)
      val r = Layout.writeDual(good, err, s"file://$uriRoot", fmt, "ztab", ts)
      assert(r.goodRows == 3 && r.errRows == 2)
      assert(r.goodPath == Layout.dirPath(uriRoot, isErr = false, fmt,
        "ztab", ts))
    }
    assert(landed(plain).size == 4)
    assert(landed(uriRoot) == landed(plain))
    assert(stagingLeft(uriRoot).isEmpty)
  }

  test("a root on any other filesystem is refused before a Spark job " +
    "runs, and nothing is written") {
    val dir = freshRoot()
    val root = s"nosuch://$dir"
    val jobs = SparkTestBase.jobsDuring {
      val e = intercept[IllegalArgumentException] {
        Layout.writeDual(good, err, root, "parquet", "ztab", ts)
      }
      assert(e.getMessage.contains(root) && e.getMessage.contains("RUNBOOK"))
    }
    assert(jobs == 0)
    assert(fileNames(dir).isEmpty)
    // java.nio would read the URI as a relative path under the cwd
    assert(!Files.exists(Paths.get("nosuch:")))
  }

  /** Every column type the byte-identity case covers, with nulls. */
  private def typed: DataFrame = {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("i", IntegerType),
      StructField("amt", DecimalType(15, 2)), StructField("d", DateType),
      StructField("t", TimestampType), StructField("x", DoubleType),
      StructField("s", StringType)))
    val rows = Seq(
      Row(1L, 7, BigDecimal("12345.67").bigDecimal,
        java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789"), 1.5, "a"),
      Row(2L, null, null, null, null, null, null),
      Row(null, -3, BigDecimal("-0.05").bigDecimal,
        java.sql.Date.valueOf("1999-12-31"),
        java.sql.Timestamp.valueOf("1970-01-01 00:00:00"), -0.0, "é \"q\""))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The one part file `df.coalesce(1).write` lands for `fmt`. */
  private def sparkPartFile(df: DataFrame, fmt: String): Array[Byte] = {
    val dir = s"${freshRoot()}/ref"
    df.coalesce(1).write.format(fmt).save(dir)
    val parts = fileNames(dir).filter(_.startsWith("part-"))
    assert(parts.size == 1, parts)
    Files.readAllBytes(Paths.get(dir, parts.head))
  }

  test("landed parquet and json files are byte-identical to the part file " +
    "df.coalesce(1).write lands, with rows and with none") {
    // the last frame's source has no partition at all
    val frames = Seq(typed, typed.limit(0),
      spark.createDataFrame(java.util.List.of[Row](), typed.schema),
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], typed.schema))
    for (fmt <- Seq("parquet", "json"); df <- frames) {
      val root = freshRoot()
      val r = Layout.writeDual(df, df, root, fmt, "ztyp", ts)
      val good = Paths.get(r.goodPath, Layout.dataFileName("ztyp",
        r.goodRows, fmt))
      assert(Files.readAllBytes(good).sameElements(sparkPartFile(df, fmt)),
        s"$fmt good side, ${r.goodRows} rows")
      if (r.errRows > 0) {
        val headerless = df.toDF(df.columns.indices.map(_.toString): _*)
        val errFile = Paths.get(r.errPath.get, Layout.errFileName("ztyp", fmt))
        assert(Files.readAllBytes(errFile)
          .sameElements(sparkPartFile(headerless, fmt)), s"$fmt err side")
      }
      assert(stagingLeft(root).isEmpty)
    }
  }

  test("a session maxRecordsPerFile smaller than a page does not split it") {
    Seq("parquet", "json").foreach { fmt =>
      val root = freshRoot()
      val r = SparkTestBase.withConf(
        "spark.sql.files.maxRecordsPerFile" -> "1") {
        Layout.writeDual(good, err, root, fmt, "ztab", ts)
      }
      assert(r.goodRows == 3 && r.errRows == 2)
      assert(fileNames(r.goodPath) == Seq(s"ztab3.$fmt"))
      assert(fileNames(r.errPath.get) == Seq(s"ztab-err.$fmt"))
      assert(spark.read.format(fmt).load(r.goodPath).count() == 3)
      assert(spark.read.format(fmt).load(r.errPath.get).count() == 2)
      assert(stagingLeft(root).isEmpty)
    }
    // the stream fixtures' single-file writer goes through the same task
    val dest = freshRoot()
    SparkTestBase.withConf("spark.sql.files.maxRecordsPerFile" -> "1") {
      ScratchExport.writeSingleFile(good, dest, "b0.parquet", 0)
    }
    assert(fileNames(dest) == Seq("b0.parquet"))
    assert(spark.read.parquet(s"$dest/b0.parquet").count() == 3)
  }

  test("each side's task reports the landed file's bytes and rows as its " +
    "output metrics") {
    val sc = spark.sparkContext
    val tag = "graft.spec.layoutMetrics"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("body")   => e.stageIds.foreach(stages.add)
          case Some("marker") => flushed.countDown()
          case _              => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          val m = e.taskMetrics.outputMetrics
          written.add((m.bytesWritten, m.recordsWritten))
        }
    }
    val root = freshRoot()
    sc.addSparkListener(listener)
    val r = try {
      sc.setLocalProperty(tag, "body")
      val r = try Layout.writeDual(good, err, root, "parquet", "ztab", ts)
      finally sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      r
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    def size(dir: String, name: String) = Files.size(Paths.get(dir, name))
    val landedFiles = Seq(
      (size(r.goodPath, "ztab3.parquet"), r.goodRows),
      (size(r.errPath.get, "ztab-err.parquet"), r.errRows))
    assert(written.asScala.toSeq.sorted == landedFiles.sorted)
  }

  test("a good side failing mid-task while the err side reads several " +
    "pages leaves no staging and publishes nothing") {
    MockRfcBackend.register("ZSLOWERR", MockTable(
      Seq(RfcField("WA", "C", 20)),
      rows = (1 to 50).map(i => Seq(s"bad-$i"))))
    val slowErr = spark.read.format("sap-rfc").option("table", "ZSLOWERR")
      .option("backend", classOf[SlowPageRfcBackend].getName)
      .option("pageSize", "10").load()
    val boom = udf { (k: Long) =>
      if (k == 2L) throw new IllegalStateException("good side boom")
      k
    }
    // a range, not a local relation: the optimizer cannot fold the udf
    // into the plan, so the good side fails inside its write task
    val failingGood = spark.range(1, 4, 1, 1)
      .select(boom(col("id")).as("k"))
    val root = freshRoot()
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      Layout.writeDual(failingGood, slowErr, root, "parquet", "zslow", ts)
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes(e).exists(_.getMessage.contains("good side boom")))
    // the err side's 5 pages take at least 5 × the page delay
    assert(System.nanoTime() - t0 >= 5 * SlowPageRfcBackend.DelayMs * 1000000L)
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(_.getName == "graft-layout-err-zslow"))
    assert(stagingLeft(root).isEmpty)
    assert(fileNames(root).isEmpty)
  }
}

/** A [[MockRfcBackend]] whose every page call takes
  * [[SlowPageRfcBackend.DelayMs]]: a source still reading when another
  * write fails. */
class SlowPageRfcBackend extends MockRfcBackend {
  override def call(queryTable: String, delimiter: String, rowSkips: Long,
                    rowCount: Int, fields: Seq[String],
                    options: Seq[String]): RfcPage = {
    if (rowCount > 0) Thread.sleep(SlowPageRfcBackend.DelayMs)
    super.call(queryTable, delimiter, rowSkips, rowCount, fields, options)
  }
}

object SlowPageRfcBackend {
  val DelayMs = 200L
}

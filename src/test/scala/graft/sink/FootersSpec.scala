package graft.sink

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.SparkTestBase.{jobsDuring, withConf}
import graft.ops.T

/** [[Footers.schema]], through [[T]]: the schema of a lake read comes
  * from one footer on the driver, equals the schema Spark's own
  * inference gives, and costs no Spark job. */
class FootersSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** T's schema for the table `<dir>/<name>.parquet` against the schema
    * `spark.read.parquet` infers for it. */
  private def assertSparkSchema(dir: String, name: String): Unit = {
    val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
    assert(T(spark, dir, name).schema == inferred, s"$dir/$name")
  }

  /** A fresh directory `t.parquet` under a new temp directory; returns
    * the parent, the `sfDir` that `T(spark, _, "t")` reads it from. */
  private def tableDir(): (String, JPath) = {
    val parent = Files.createTempDirectory("graft-footers-")
    (parent.toString, Files.createDirectory(parent.resolve("t.parquet")))
  }

  /** `df` written as the single parquet file `target`. */
  private def writeFile(df: DataFrame, target: JPath): Unit = {
    val tmp = Files.createTempDirectory("graft-footers-part-")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, target)
  }

  test("every testdata table reads with the schema Spark infers") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"${new java.io.File(SparkTestBase.Sf0001).getParent}/$sf"
      val names = new java.io.File(dir).list().toSeq
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
      assert(names.contains("events") && names.contains("lineitem"), dir)
      names.foreach(assertSparkSchema(dir, _))
    }
  }

  test("building a table read and its schema runs no Spark job") {
    assert(jobsDuring(T(spark, SparkTestBase.Sf0001, "lineitem").schema) == 0)
    assert(jobsDuring(T.events(spark, SparkTestBase.Sf0001)) == 0)
  }

  test("a Spark-written directory: _SUCCESS, .crc and hidden files are " +
    "skipped") {
    val (parent, dir) = tableDir()
    spark.range(20).selectExpr("id", "cast(id as string) as s",
        "id % 3 = 0 as b")
      .repartition(3).write.mode("overwrite").parquet(dir.toString)
    // a hidden parquet file of another schema, first in path order
    // (names like this are a keyed rewrite's `.bak` backups)
    writeFile(spark.range(1).selectExpr("id as other"),
      dir.resolve(".part-00000-old.parquet.bak"))
    val names = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      names.mkString(", "))
    assertSparkSchema(parent, "t")
  }

  test("a clustered table whose first file is a merge's schema-only " +
    "empty replacement") {
    import spark.implicits._
    val (parent, dir) = tableDir()
    // MergeIntoSpec's layout: 8 files, the first holding keys 0,10,…,90
    ClusteredWrite.parquet(
      (0L until 800L by 10L).map(k => (k, k)).toDF("k", "v"),
      dir.toString, 8, col("k"))
    val rep = MergeInto.merge(spark, dir.toString, "k",
      (0L until 100L by 10L).map(k => (k, 0L, "D")).toDF("k", "v", "op"))
    assert(rep.filesRewritten == 1 && rep.rowsDeleted == 10L, rep.toString)
    val first = Files.list(dir).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.min
    assert(spark.read.parquet(first).isEmpty, s"$first is not the emptied file")
    assertSparkSchema(parent, "t")
  }

  /** Six single-file parquet files with one schema each (so the file
    * read shows in the schema), named so that the first listed file is
    * not the first in path order; returns the `sfDir` of table `t`. */
  private def mixedSchemaTable(): String = {
    val (parent, dir) = tableDir()
    (0 until 6).foreach(i => writeFile(spark.range(2).selectExpr(s"id as c$i"),
      dir.resolve(s"f$i.parquet")))
    val hdir = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = hdir.getFileSystem(spark.sessionState.newHadoopConf())
    def listed = fs.listStatus(hdir).map(_.getPath).toSeq
    // listings come in the filesystem's order (hash or creation order):
    // rename until the first listed is not the first by path
    var tries = 0
    while (listed.head == listed.minBy(_.toString) && tries < 20) {
      listed.foreach(p => fs.rename(p, new org.apache.hadoop.fs.Path(
        hdir, s"${java.util.UUID.randomUUID}.parquet")))
      tries += 1
    }
    assert(listed.head != listed.minBy(_.toString),
      s"the filesystem lists $dir in path order")
    parent
  }

  test("the first file in path order decides, not the first listed") {
    assertSparkSchema(mixedSchemaTable(), "t")
  }

  test("under spark.sql.parquet.mergeSchema every file's schema counts") {
    val parent = mixedSchemaTable()
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(T(spark, parent, "t").schema.size == 6)
      assertSparkSchema(parent, "t")
    }
  }

  test("a partitioned directory keeps its partition columns") {
    val (parent, dir) = tableDir()
    spark.range(6).selectExpr("id", "id % 2 as p")
      .write.mode("overwrite").partitionBy("p").parquet(dir.toString)
    assert(T(spark, parent, "t").schema.fieldNames.toSeq == Seq("id", "p"))
    assertSparkSchema(parent, "t")
  }

  test("a missing path and an empty directory fail with Spark's own error") {
    val (parent, _) = tableDir()
    for (name <- Seq("t", "absent")) {
      val spark0 = intercept[AnalysisException](
        spark.read.parquet(s"$parent/$name.parquet"))
      val viaT = intercept[AnalysisException](T(spark, parent, name))
      assert(viaT.getMessage == spark0.getMessage)
    }
  }
}

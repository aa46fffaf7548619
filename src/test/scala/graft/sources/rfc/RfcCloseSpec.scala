package graft.sources.rfc

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sink.Layout
import graft.sources.rfc.MockRfcBackend.MockTable

/** Every backend the `sap-rfc` source opens is closed again: each open
  * is a logon on a real SAP system. Covers the four open sites (schema
  * inference, partition planning, the partition reader and the pushed
  * count's reader) along the three read shapes an extract uses. */
class RfcCloseSpec extends AnyFunSuite with BeforeAndAfterEach {
  private lazy val spark = SparkTestBase.spark

  private val conn = Map("ashost" -> "sap.example.internal",
    "sysnr" -> "00", "client" -> "100", "user" -> "RFC_USER",
    "passwd" -> "s3cret")

  override def beforeEach(): Unit = {
    MockRfcBackend.clear()
    MockRfcBackend.register("ZCLOSE", MockTable(
      Seq(RfcField("ID", "N", 10), RfcField("NAME", "C")),
      (1 to 7).map(i => Seq(f"$i%010d", s"name $i")),
      rawWa = Seq("too`many`cells`here")))
  }

  private def read(mode: String): DataFrame =
    (conn + ("table" -> "ZCLOSE") + ("mode" -> mode) + ("pageSize" -> "3"))
      .foldLeft(spark.read.format("sap-rfc")) { case (r, (k, v)) =>
        r.option(k, v)
      }.load()

  private def assertEveryOpenClosed(): Unit = {
    val opens = MockRfcBackend.opens
    assert(opens.nonEmpty, "the source opened no backend")
    assert(MockRfcBackend.closes.size == opens.size,
      s"${opens.size} opens, ${MockRfcBackend.closes.size} closes")
  }

  test("a PERMISSIVE extract written through Layout.writeDual closes " +
    "every backend it opens") {
    val df = read("PERMISSIVE")
    val good = df.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val err = df.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("wa"))
    val root = Files.createTempDirectory("graft-rfc-close-").toString
    val res = Layout.writeDual(good, err, root, "parquet", "ZCLOSE",
      "2024-01-15-00-00-00")
    assert(res.goodRows == 7 && res.errRows == 1, res.toString)
    assertEveryOpenClosed()
  }

  test("a DROPMALFORMED delta pull closes every backend it opens") {
    val rows = read("DROPMALFORMED").filter(col("ID") >= 5).collect()
    assert(rows.map(_.getAs[Long]("ID")).sorted.toSeq == Seq(5L, 6L, 7L))
    assert(MockRfcBackend.calls.exists(_.options.nonEmpty),
      "the delta predicate did not push")
    assertEveryOpenClosed()
  }

  test("a pushed count(*) closes every backend it opens") {
    val df = read("PERMISSIVE").agg(count(lit(1)))
    assert(df.queryExecution.executedPlan.toString
      .contains("PushedAggregates=[COUNT(*)]"))
    assert(df.collect().head.getLong(0) == 8L)
    assertEveryOpenClosed()
  }
}

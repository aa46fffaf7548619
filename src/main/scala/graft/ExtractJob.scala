package graft

import org.apache.spark.sql.functions._

import graft.sink.Layout

/** The user-facing extraction job — the Spark-native equivalent of the
  * reference's entire Glue script (`pyrfc_read_table.py`): read one SAP
  * table through the `sap-rfc` source, split good/err rows, write both
  * to the dated dual layout, print row-count telemetry (R12,
  * `pyrfc_read_table.py:119-122,151-153`). The good and err sides land as
  * two Spark writes that run at the same time, each counting its own rows
  * (`Layout.writeDual`).
  *
  * Usage:
  * {{{
  * runMain graft.ExtractJob <table> <outRoot> [fmt=parquet]
  *   [backendClass=graft.sources.rfc.MockRfcBackend] [pageSize=100000]
  * }}}
  *
  * Where the reference runs the whole pipeline on the Glue driver (its 2
  * provisioned workers idle), here the scan/parse/split execute as one
  * lazy Spark plan across executors; only the page planning and the sink
  * bookkeeping touch the driver.
  */
object ExtractJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ExtractJob <table> <outRoot> [fmt] [backendClass] [pageSize]")
    val table = args(0)
    val outRoot = args(1)
    val fmt = if (args.length > 2) args(2) else "parquet"
    val backendClass =
      if (args.length > 3) args(3)
      else classOf[graft.sources.rfc.MockRfcBackend].getName
    val pageSize = if (args.length > 4) args(4) else "100000"

    // only stop the session on exit if this main created it (when run
    // in-process — e.g. from a test harness — the caller owns it)
    val preexisting =
      org.apache.spark.sql.SparkSession.getDefaultSession.isDefined
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")

    // PERMISSIVE: malformed WA rows surface in _corrupt_record and route
    // to the err output, mirroring the reference's good/err bifurcation
    val df = spark.read.format("sap-rfc")
      .option("table", table)
      .option("backend", backendClass)
      .option("pageSize", pageSize)
      .option("mode", "PERMISSIVE")
      .load()

    val good = df.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val err = df.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("wa"))

    val ts = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd-HH-mm-ss")
      .format(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC))
    val res = Layout.writeDual(good, err, outRoot, fmt, table, ts)

    // reference telemetry shape (`:119-122,151-153`)
    println(s"resultRowCount: ${res.goodRows + res.errRows}")
    println(s"dataRowCount: ${res.goodRows}")
    println(s"dataErrRowCount: ${res.errRows}")
    println(s"totalRowCount: ${res.cumulativeRows}")
    println(s"wrote: ${res.goodPath}" +
      res.errPath.fold("")(p => s" err: $p"))
    if (!preexisting) spark.stop()
  }
}

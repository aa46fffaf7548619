package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.sink.Footers

/** Table loading for the driver testdata (TESTDATA.md).
  *
  * Event-time contract: queries never touch `events.ts` directly — they
  * go through [[T.events]]/[[T.withTus]], which appends `tus`, the
  * integer µs epoch, dispatched on the PHYSICAL type the parquet reader
  * produced. The driver has shipped two encodings across rounds
  * (TIMESTAMP(NANOS), read as an ns `LongType` under
  * `spark.sql.legacy.parquet.nanosAsLong=true`; and `timestamp[us]`
  * TIMESTAMP_NTZ since round 8), and hard-coding either one turns a
  * regeneration into 13 broken queries — round 8's entire regression.
  * µs is the precision every encoding and the DuckDB oracle
  * (`epoch_us(ts)`) share exactly, so all boundary comparisons, window
  * orderings, and bucketings run on `tus`. `tus >= 0` (post-1970) is
  * asserted by DataContractSpec; `div`-vs-floor-division divergence for
  * negative epochs is therefore out of contract.
  */
object T {
  /** One day in the canonical µs event-time grid — the shared unit
    * constant for every day-bucketing query (previously four private
    * copies; a grid change must happen in exactly one place). */
  val DayUs = 86400000000L

  /** The table `name` under `sfDir`, with the schema read from its
    * parquet footer on the driver ([[graft.sink.Footers.schema]]): the
    * schema `spark.read.parquet` infers, without its inference job. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(Footers.schema(spark, path)).parquet(path)
  }

  /** The µs event-time accessor, dispatched on the loaded physical type
    * of `ts`. NTZ casts through TIMESTAMP before `unix_micros`: the
    * session timezone is pinned to UTC (Sessions.scala), so the naive
    * datetime is interpreted as UTC — the same value DuckDB's
    * `epoch_us(ts)` yields on the naive column. An unrecognized type
    * fails loudly with the observed type, not 13 opaque per-query
    * errors (see also graft.SchemaProbe). */
  def tus(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType         => expr("ts div 1000") // ns-long via nanosAsLong
    case TimestampNTZType => expr("unix_micros(cast(ts as timestamp))")
    case TimestampType    => expr("unix_micros(ts)")
    case other => throw new IllegalStateException(
      s"events.ts: expected ns-long|timestamp|timestamp_ntz, got $other — " +
        "testdata physical type drifted; extend T.tus for the new encoding")
  }

  /** `ts` normalized to a true TimestampType column — the typed
    * streaming surface ([[graft.streaming.EventStreams.SEvent]]) wants
    * a real timestamp, with the same physical-type dispatch as [[tus]]
    * (UTC session timezone makes the NTZ reinterpretation exact). */
  def tsAsTimestamp(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType         => expr("timestamp_micros(ts div 1000)")
    case TimestampNTZType => expr("cast(ts as timestamp)")
    case TimestampType    => expr("ts")
    case other => throw new IllegalStateException(
      s"events.ts: expected ns-long|timestamp|timestamp_ntz, got $other — " +
        "testdata physical type drifted; extend T.tsAsTimestamp too")
  }

  /** `df` with `tus` (µs epoch, BIGINT) appended. */
  def withTus(df: DataFrame): DataFrame = df.withColumn("tus", tus(df))

  /** The events table with the canonical `tus` column — the only way
    * declared queries load it. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    withTus(apply(spark, sfDir, "events"))
}

/** Exact cross-engine arithmetic shared by the declared queries. */
object Exact {
  /** Exact half-up 4-dp rounding of the rational `num/den` in integer
    * arithmetic: `(2·num·10⁴ + den) div (2·den)` basis points, then one
    * `/10⁴`. Spark's `round(double, 4)` half-ups the double's shortest
    * decimal representation while DuckDB rounds the binary value, so
    * they disagree whenever a small exact rational lands on a 4-decimal
    * half-way point (0.59825, 0.72125 — bit q83 at sf0.1). Used by
    * q78/q83/q96; the oracle SQL applies the same integer formula. */
  def r4(num: String, den: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(
      s"""cast((2 * cast($num as bigint) * 10000 + cast($den as bigint))
         |     div (2 * cast($den as bigint)) as double) / 10000.0d"""
        .stripMargin)
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Loud schema-drift detection for the driver testdata.
  *
  * Round 8 burned entirely because the driver regenerated
  * `events.parquet` with a new physical type for `ts`
  * (TIMESTAMP(NANOS) → timestamp[us]) and the drift surfaced as 13
  * opaque per-query `AnalysisException`s instead of one named line.
  * Verify runs this probe before the query sweep and prints
  * one line per mismatch, e.g.
  * `events.ts: expected bigint|timestamp|timestamp_ntz, got string`.
  *
  * Multi-valued type sets are the encodings the engine dispatches on
  * at load ([[graft.ops.T.tus]] for `events.ts`; date-like columns
  * accept date or either timestamp flavor — queries only use date
  * arithmetic that is encoding-agnostic under the pinned UTC session
  * timezone). A mismatch here is a WARNING, not an abort: the probe's
  * job is to name the drift; per-query failures still report
  * individually. */
object SchemaProbe {

  /** table -> (column -> acceptable `DataType.simpleString` values).
    * Columns are the ones declared queries actually touch — a
    * generator adding extra columns is not drift. */
  val expected: Map[String, Seq[(String, Set[String])]] = {
    val ts = Set("timestamp", "timestamp_ntz", "date")
    Map(
      "region" -> Seq("r_regionkey" -> Set("int"), "r_name" -> Set("string")),
      "nation" -> Seq("n_nationkey" -> Set("int"), "n_name" -> Set("string"),
        "n_regionkey" -> Set("int")),
      "customer" -> Seq("c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
        "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
        "c_mktsegment" -> Set("string")),
      "supplier" -> Seq("s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
        "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
      "part" -> Seq("p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
        "p_brand" -> Set("string"), "p_type" -> Set("string"),
        "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
      "orders" -> Seq("o_orderkey" -> Set("bigint"),
        "o_custkey" -> Set("bigint"), "o_orderstatus" -> Set("string"),
        "o_totalprice" -> Set("double"), "o_orderdate" -> ts,
        "o_orderpriority" -> Set("string")),
      "lineitem" -> Seq("l_orderkey" -> Set("bigint"),
        "l_partkey" -> Set("bigint"), "l_suppkey" -> Set("bigint"),
        "l_linenumber" -> Set("int"), "l_quantity" -> Set("double"),
        "l_extendedprice" -> Set("double"), "l_discount" -> Set("double"),
        "l_tax" -> Set("double"), "l_returnflag" -> Set("string"),
        "l_linestatus" -> Set("string"), "l_shipdate" -> ts),
      "events" -> Seq("event_id" -> Set("bigint"),
        // the T.tus dispatch set — extend BOTH on a new encoding
        "ts" -> Set("bigint", "timestamp", "timestamp_ntz"),
        "user_id" -> Set("bigint"), "event_type" -> Set("string"),
        "value" -> Set("double"), "props" -> Set("string")),
      "documents" -> Seq("doc_id" -> Set("bigint"), "text" -> Set("string"),
        "lang" -> Set("string"), "source" -> Set("string"),
        "n_chars" -> Set("bigint")),
      "embeddings" -> Seq("vec_id" -> Set("bigint"),
        "embedding" -> Set("array<float>"), "label" -> Set("int")),
    )
  }

  /** Mismatch lines for one loaded schema — pure, so SchemaProbeSpec
    * can exercise drift without writing parquet. */
  def diff(table: String, schema: StructType): Seq[String] = {
    val cols = schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    expected.getOrElse(table, Seq.empty).flatMap { case (name, ok) =>
      cols.get(name) match {
        case None =>
          Seq(s"$table.$name: expected ${ok.toSeq.sorted.mkString("|")}, column MISSING")
        case Some(t) if !ok(t) =>
          Seq(s"$table.$name: expected ${ok.toSeq.sorted.mkString("|")}, got $t")
        case _ => Seq.empty
      }
    }
  }

  /** Probes every expected table under `sfDir`; unreadable tables
    * report as one line instead of throwing. */
  def report(spark: SparkSession, sfDir: String): Seq[String] =
    expected.keys.toSeq.sorted.flatMap { table =>
      try diff(table, spark.read.parquet(s"$sfDir/$table.parquet").schema)
      catch {
        case e: Throwable =>
          Seq(s"$table: unreadable at $sfDir (${e.getClass.getSimpleName}: ${e.getMessage})")
      }
    }

  /** Verify's preamble: prints one stderr line per drift. */
  def check(spark: SparkSession, sfDir: String): Unit =
    report(spark, sfDir).foreach(l => System.err.println(s"[schema-drift] $l"))
}

package graft.perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.Platform

/** Order-insensitive content hash shared by the generators and the output
  * checks: the sum of Spark's `xxhash64` over one canonical text per row
  * (every column cast to string, `~` for null, joined with `|`). The
  * generators build the same text from the values they chose, so the
  * truth never goes through the code under test. */
object RowHash {
  def canonical(df: DataFrame): org.apache.spark.sql.Column =
    concat_ws("|", df.columns.toSeq.map(c =>
      coalesce(col(s"`$c`").cast(StringType), lit("~"))): _*)

  def of(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** (rows, hash sum) of a DataFrame, in one Spark job. */
  def table(df: DataFrame): (Long, BigInt) = {
    val r = df.select(xxhash64(canonical(df)).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0),
      Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(0))
  }
}

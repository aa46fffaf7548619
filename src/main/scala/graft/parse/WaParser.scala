package graft.parse

import java.util.regex.Pattern

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's WA (work-area) row pipeline, Spark-first.
  *
  * Reference behavior (cited from
  * `/root/reference/pyrfc_read_table/pyrfc_read_table.py`):
  *  - each row arrives as one delimited string `WA` (`:141-142`), split on a
  *    caller-chosen delimiter (backtick, `:32`);
  *  - rows whose split arity equals the field count are good, all others are
  *    routed to a parallel error dataset (`:143-149`);
  *  - cells are trimmed (`:142,169`).
  *
  * Here that whole pipeline is a single narrow projection/filter over a
  * DataFrame — no shuffle, fully codegen'd, trivially parallel at 100 TB
  * (each task parses its own partition; good/err are two filters over one
  * cached scan).
  */
object WaParser {

  val DefaultDelimiter = "`"

  /** Adds `parts` (array of split fields, trailing empties kept — limit -1,
    * matching Python's `str.split`) and `arity` columns. An empty
    * delimiter is refused, as the `sap-rfc` reader refuses it: there is
    * no empty cell separator to split a WA row on. */
  def withParsed(df: DataFrame, waCol: String,
                 delimiter: String = DefaultDelimiter): DataFrame = {
    require(delimiter.nonEmpty, "WaParser: 'delimiter' must not be empty")
    df.withColumn("parts", split(col(waCol), Pattern.quote(delimiter), -1))
      .withColumn("arity", size(col("parts")))
  }

  /** Good rows: arity == field count; fields projected out trimmed under
    * the given names (reference `:142,169` trim semantics). */
  def goodRows(df: DataFrame, waCol: String, fieldNames: Seq[String],
               delimiter: String = DefaultDelimiter): DataFrame = {
    val parsed = withParsed(df, waCol, delimiter)
      .filter(col("arity") === fieldNames.length)
    val fields = fieldNames.zipWithIndex.map { case (n, i) =>
      trim(element_at(col("parts"), i + 1)).as(n)
    }
    parsed.select(fields: _*)
  }

  /** Error rows: arity != field count. Raw parts are kept without field
    * names, matching the reference's header-less err output (`:186,197`). */
  def errRows(df: DataFrame, waCol: String, nFields: Int,
              delimiter: String = DefaultDelimiter): DataFrame =
    withParsed(df, waCol, delimiter).filter(col("arity") =!= nFields)
}

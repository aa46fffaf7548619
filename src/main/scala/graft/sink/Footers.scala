package graft.sink

import java.io.FileNotFoundException

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/** The one driver-side reader of parquet footers: a table's schema for
  * every lake read ([[schema]], used by `graft.ops.T`), and the row
  * count, key range and schema per file that the keyed rewrite routes
  * on ([[footer]], used by [[TargetedDelete]] and [[MergeInto]]).
  *
  * A footer is metadata only (~KB per file), opened on the driver, so
  * no Spark job runs. Spark's own non-merging schema inference reads
  * the same footer, but from a Spark job, one per table read.
  *
  *  - Which file: the one Spark's non-merging inference reads. For a
  *    directory that is `_common_metadata`, then `_metadata`, then the
  *    first data file in path order; names starting with `_` or `.` are
  *    not data files (`_SUCCESS`, `.crc` checksums, `.bak` backups and
  *    staging directories), nor are `._COPYING_` files.
  *  - Which schema: the one Spark's writer stored under the footer key
  *    `org.apache.spark.sql.parquet.row.metadata`; for files other
  *    writers produced (pyarrow, DuckDB), the parquet schema converted
  *    by `ParquetToSparkSchemaConverter` under the session's confs
  *    (`nanosAsLong`, `inferTimestampNTZ`, `binaryAsString`,
  *    `int96AsTimestamp`). A read given this schema has the schema a
  *    `spark.read.parquet` of the same path infers: Spark makes both
  *    nullable.
  *  - No cache: a footer is read fresh on every call. One open costs a
  *    few ms, and on `lake_queries` uncached reads measured as fast as
  *    cached ones. A cache keyed by (path, length, mtime) would miss a
  *    same-length, same-mtime file swap, and a stale key range
  *    misroutes a merge.
  *  - Deferred to Spark's own inference: a session that sets
  *    `spark.sql.parquet.mergeSchema` (every file must be read), a path
  *    with no data file (a missing path, a glob, an empty directory:
  *    the caller gets Spark's own error), and a directory with
  *    subdirectories (partition columns come from directory names, not
  *    from any footer). */
object Footers {

  /** What one footer open yields: the file's row count, the key
    * column's (min, max) statistics (None when any row group lacks
    * them, or when no key column is asked for) and the file's schema. */
  final case class Footer(rows: Long, keyRange: Option[(Long, Long)],
                          schema: StructType)

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The schema a `spark.read.parquet(path)` infers, read from one
    * footer on the driver (see the object's scaladoc). */
  def schema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val sql = spark.sessionState.conf
    (if (sql.isParquetSchemaMergingEnabled) None else schemaFile(conf, path))
      .fold(spark.read.parquet(path).schema)(
        footer(conf, sql, _, keyCol = "").schema)
  }

  /** The file whose footer Spark's non-merging inference reads. */
  private def schemaFile(conf: Configuration, path: String): Option[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = try fs.getFileStatus(p)
    catch { case _: FileNotFoundException => return None }
    if (st.isFile) return Some(p)
    val leaves = fs.listStatus(p).filterNot { c =>
      val n = c.getPath.getName
      val hidden = (n.startsWith("_") || n.startsWith(".")) &&
        n != "_common_metadata" && n != "_metadata"
      hidden || n.endsWith("._COPYING_")
    }
    if (leaves.exists(_.isDirectory)) return None
    val byPath = leaves.map(_.getPath).sortBy(_.toString)
    byPath.find(_.getName == "_common_metadata")
      .orElse(byPath.find(_.getName == "_metadata"))
      .orElse(byPath.find(!_.getName.startsWith("_")))
  }

  /** One footer open of `file`: rows, the `keyCol` range and the schema.
    * `sql` is passed, not taken from the thread, because
    * [[TargetedDelete.listFooters]] opens footers on a pool. */
  private[sink] def footer(conf: Configuration, sql: SQLConf, file: Path,
                           keyCol: String): Footer = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val meta = reader.getFooter
      val blocks = meta.getBlocks.asScala.toSeq
      val ranges = blocks.map { block =>
        block.getColumns.asScala
          .find(_.getPath.toDotString == keyCol)
          .map(_.getStatistics)
          .filter(st => st != null && st.hasNonNullValue)
          .map(st => (st.genericGetMin.asInstanceOf[Number].longValue(),
            st.genericGetMax.asInstanceOf[Number].longValue()))
      }
      val range =
        if (ranges.isEmpty || ranges.exists(_.isEmpty)) None
        else Some((ranges.flatten.map(_._1).min, ranges.flatten.map(_._2).max))
      Footer(blocks.map(_.getRowCount).sum, range, schemaOf(sql, meta))
    } finally reader.close()
  }

  /** The Spark writer's stored schema, else the converted parquet one. */
  private def schemaOf(sql: SQLConf, meta: ParquetMetadata): StructType = {
    val fileMeta = meta.getFileMetaData
    Option(fileMeta.getKeyValueMetaData.get(SparkSchemaKey))
      .flatMap(s => Try(DataType.fromJson(s).asInstanceOf[StructType]).toOption)
      .getOrElse(new ParquetToSparkSchemaConverter(sql)
        .convert(fileMeta.getSchema))
  }
}

package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Targeted key deletion over a clustered parquet table — the
  * right-to-be-forgotten operation: remove every row of a set of keys
  * while rewriting ONLY the files whose parquet footer min/max range
  * can contain one of them. On a [[ClusteredWrite]] layout (disjoint
  * sorted key ranges per file) that is one or two files out of
  * thousands; every other file is left BYTE-IDENTICAL — at 100 TB the
  * difference between a surgical rewrite and re-materializing the
  * table (and untouched bytes are provably untouched, which is itself
  * part of the compliance story).
  *
  * Mechanics: footers are read driver-side (metadata-only, ~KB per
  * file — the same statistics the scan planner prunes with); each
  * affected file is filtered and rewritten IN PLACE via a staged
  * temp-file + atomic rename, preserving the file's name, sort order,
  * and range-disjointness (rows only leave, so the range can only
  * shrink). A file whose range matches but holds no actual target row
  * (min/max is a bounding box, not a membership proof) is detected and
  * left untouched. Driver loops over affected files only; at scale the
  * loop is the pruned set, not the table. */
object TargetedDelete {

  final case class DeleteReport(filesTotal: Int, filesAffected: Int,
                                filesRewritten: Int, rowsDeleted: Long)

  /** Deletes all rows with `keyCol` ∈ `keys` from the parquet table at
    * `path` (INT64 key column). Crash-safe: the original file is moved
    * to a `.bak` name BEFORE the rewrite swaps in (never
    * delete-then-rename — a crash between those would lose every
    * surviving row of the file), every rename result is CHECKED, and
    * [[recover]] runs first so a previous crash's half-swap heals
    * before new work starts. Re-running after any crash point
    * converges: the delete is idempotent. */
  def deleteKeys(spark: SparkSession, path: String, keyCol: String,
                 keys: Seq[Long]): DeleteReport = {
    require(keys.nonEmpty, "no keys to delete")
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    recover(fs, dir)
    val files = fs.listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    val affected = files.filter { f =>
      keyRange(conf, f, keyCol) match {
        case Some((lo, hi)) => keys.exists(k => k >= lo && k <= hi)
        case None => true // no stats ⇒ cannot prove absence ⇒ candidate
      }
    }
    var rewritten = 0
    var deleted = 0L
    affected.foreach { f =>
      val df = spark.read.parquet(f.toString)
      val hits = df.filter(col(keyCol).isInCollection(keys)).count()
      if (hits > 0) {
        swapStaged(fs, f,
          df.filter(!col(keyCol).isInCollection(keys))
            .coalesce(1)
            .sortWithinPartitions(keyCol))
        rewritten += 1
        deleted += hits
      }
    }
    DeleteReport(files.length, affected.length, rewritten, deleted)
  }

  /** Rewrites one table file IN PLACE from the given replacement frame:
    * staged temp write, `.bak`-first atomic swap (never
    * delete-then-rename — a crash between those would lose every
    * surviving row of the file), every rename CHECKED, original rolled
    * back if the swap-in fails. Shared by the delete and the r14
    * [[MergeInto]] upsert (the ScratchExport lesson: duplicated
    * protocol code means the next fix silently misses the twin). */
  private[sink] def swapStaged(fs: FileSystem, f: Path,
                               replacement: org.apache.spark.sql.DataFrame)
      : Unit = {
    val staged = new Path(f.getParent, s".${f.getName}.staged")
    replacement.write.mode("overwrite").parquet(staged.toString)
    val part = fs.listStatus(staged)
      .map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"staged rewrite produced no file: $staged"))
    swapPart(fs, f, part)
    fs.delete(staged, true)
  }

  /** The swap half of [[swapStaged]] on an ALREADY-WRITTEN replacement
    * part file — split out (r18) so [[MergeInto]] can stage every
    * touched file's replacement in ONE write job and then run these
    * driver-side atomic per-file swaps; the `.bak`-first discipline
    * (and [[recover]]'s heal) is byte-identical either way. */
  private[sink] def swapPart(fs: FileSystem, f: Path, part: Path): Unit = {
    val backup = new Path(f.getParent, s".${f.getName}.bak")
    require(fs.rename(f, backup),
      s"surgical rewrite: could not back up $f")
    if (!fs.rename(part, f)) {
      // roll the original back before failing: the table must
      // never be left without the file
      fs.rename(backup, f)
      sys.error(s"surgical rewrite: swap failed for $f (restored)")
    }
    fs.delete(backup, false)
  }

  /** Heals the artifacts of a crash at any point of a previous run:
    * a `.bak` whose original is MISSING means the crash hit between
    * the two renames — the backup (the complete pre-delete file)
    * moves back, and the lost delete simply re-runs; a `.bak` whose
    * original EXISTS is a completed swap's stale backup; any `.staged`
    * directory is a discarded rewrite. */
  private[sink] def recover(fs: FileSystem, dir: Path): Unit =
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(".") && name.endsWith(".bak")) {
        val orig = new Path(dir, name.drop(1).dropRight(4))
        if (!fs.exists(orig))
          require(fs.rename(st.getPath, orig),
            s"targeted delete: could not restore $orig from backup")
        else fs.delete(st.getPath, false)
      } else if (name.startsWith(".") && name.endsWith(".staged")) {
        fs.delete(st.getPath, true)
      } else if (name.startsWith(".merge-staged-")) {
        // a crashed MergeInto batch-staged write root (r18) — every
        // un-swapped replacement inside is a discarded rewrite, exactly
        // the .staged case
        fs.delete(st.getPath, true)
      }
    }

  /** What one footer open yields: the file's row count, the key
    * column's (min, max) statistics (None when any row group lacks
    * them) and the table schema Spark's writer stores in the footer
    * (None for files other writers produced). */
  private[sink] final case class Footer(rows: Long,
                                        keyRange: Option[(Long, Long)],
                                        sparkSchema: Option[StructType])

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private[sink] def footer(conf: Configuration, file: Path,
                           keyCol: String): Footer = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
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
      val schema = Option(reader.getFooter.getFileMetaData
        .getKeyValueMetaData.get(SparkSchemaKey))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
      Footer(blocks.map(_.getRowCount).sum, range, schema)
    } finally reader.close()
  }

  /** The (min, max) footer statistics of an integral key column across
    * all row groups of one parquet file; None when any row group lacks
    * stats. */
  private[sink] def keyRange(conf: Configuration, file: Path,
                             keyCol: String): Option[(Long, Long)] =
    footer(conf, file, keyCol).keyRange
}

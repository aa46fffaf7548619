package graft.sink

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
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
  * Also the home of the keyed-rewrite protocol it shares with
  * [[MergeInto]]: [[listFooters]] (crash heal, one listing, footers on
  * a bounded pool), [[rewrite]] (ONE staged Spark write over the
  * candidate files, per-file hit counts observed in the same pass,
  * then the driver-side `.bak`-first swaps of the files the caller
  * picks) and [[recover]]. Footers are metadata-only reads (~KB per
  * file — the same statistics the scan planner prunes with), so at
  * scale the write reads the pruned candidate set, not the table. */
object TargetedDelete {

  final case class DeleteReport(filesTotal: Int, filesAffected: Int,
                                filesRewritten: Int, rowsDeleted: Long)

  /** Deletes all rows with `keyCol` ∈ `keys` from the parquet table at
    * `path` (integral key column). The candidates are the non-empty
    * files whose footer `[lo, hi]` holds a key, or that carry no key
    * stats (absence cannot be proven — on an unclustered table that is
    * every file); they are rewritten in one staged write, and only
    * those that actually held a key are swapped in. A candidate whose
    * range matches but holds no target row (min/max is a bounding box,
    * not a membership proof) keeps its bytes. Crash-safe: the original
    * file is moved to a `.bak` name BEFORE its replacement swaps in
    * (never delete-then-rename — a crash between those would lose every
    * surviving row of the file), every rename result is CHECKED, and
    * [[recover]] runs first so a previous crash's half-swap heals
    * before new work starts. Re-running after any crash point
    * converges: the delete is idempotent. */
  def deleteKeys(spark: SparkSession, path: String, keyCol: String,
                 keys: Seq[Long]): DeleteReport = {
    require(keys.nonEmpty, "no keys to delete")
    val dir = new Path(path)
    val table = listFooters(spark, dir, keyCol)
    val candidates = table.filter { case (_, ft) =>
      ft.rows > 0 && ft.keyRange.forall { case (lo, hi) =>
        keys.exists(k => k >= lo && k <= hi)
      }
    }
    if (candidates.isEmpty) return DeleteReport(table.size, 0, 0, 0L)
    val files = candidates.map(_._1).zipWithIndex.map(_.swap).toMap
    val (hits, work) = rewrite(spark, dir, files,
      schemaOf(spark, candidates.head), keyCol, Seq("D" -> keys), None)(
      _.keys.map(_._1).toSeq.sorted)
    DeleteReport(table.size, files.size, work.size, hits.values.sum)
  }

  /** The parquet files of the table at `dir`, name-sorted, each with its
    * [[Footer]]: [[recover]] first, then one listing; the footer opens
    * are independent driver-side metadata reads, overlapped on a
    * bounded pool (sequential, they cost file-count × open latency). */
  private[sink] def listFooters(spark: SparkSession, dir: Path,
                                keyCol: String): Seq[(Path, Footer)] = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    recover(fs, dir)
    val files = fs.listStatus(dir).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.max(1, math.min(8, files.length)))
    val ec = ExecutionContext.fromExecutor(pool)
    try files.zip(files.map(f => Future(footer(conf, f, keyCol))(ec))
      .map(Await.result(_, Duration.Inf)))
    finally pool.shutdown()
  }

  /** The table schema Spark's writer stored in a file's footer, or (for
    * files other writers produced) the schema a read infers. */
  private[sink] def schemaOf(spark: SparkSession,
                             file: (Path, Footer)): StructType =
    file._2.sparkSchema
      .getOrElse(spark.read.parquet(file._1.toString).schema)

  /** The keyed rewrite shared by [[deleteKeys]] and [[MergeInto]], over
    * the table `files` keyed by file index. ONE Spark write: every
    * file's rows, labelled with the first `drops` label whose keys name
    * their key, ∪ the `extra` rows (table columns + `__fidx`, e.g.
    * MERGE's upsert images), shuffled by file index; the labelled rows
    * are counted per (file index, label) and dropped, and the rest is
    * staged key-sorted, partitioned by file index. Then each file
    * `pick` chooses from those hit counts is swapped in with
    * [[swapPart]]'s `.bak`-first rename — per file atomic, a partial
    * run heals by replay convergence — and the staging root goes.
    * Returns the hit counts and the picked files. */
  private[sink] def rewrite(spark: SparkSession, dir: Path,
                            files: Map[Int, Path], schema: StructType,
                            keyCol: String, drops: Seq[(String, Seq[Any])],
                            extra: Option[DataFrame])(
      pick: Map[(Int, String), Long] => Seq[Int])
      : (Map[(Int, String), Long], Seq[Int]) = {
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val outCols = schema.fieldNames.map(col).toIndexedSeq :+ col("__fidx")
    val tagged = outCols :+ col("__hit")
    val fileIdx = files.map { case (i, f) => f.getName -> i }
    val tableRows = spark.read.schema(schema)
      .parquet(files.values.map(_.toString).toSeq: _*)
      .withColumn("__fidx",
        element_at(typedLit(fileIdx), col("_metadata.file_name")))
      .withColumn("__hit", coalesce(drops.map { case (label, keys) =>
        when(col(keyCol).isInCollection(keys), label)
      }: _*))
      .select(tagged: _*)
    val rows = extra.fold(tableRows)(e => tableRows.unionByName(
      e.withColumn("__hit", lit(null).cast("string")).select(tagged: _*)))
    val hitsObs = Observation()
    val stagedRoot = new Path(dir,
      s".merge-staged-${java.util.UUID.randomUUID.toString.take(8)}")
    // the observation sits after the shuffle: AQE replaces a stage whose
    // every row is dropped with an empty relation, and its metrics with it
    rows.repartition(files.size, col("__fidx"))
      .observe(hitsObs, collect_list(when(col("__hit").isNotNull,
        struct(col("__fidx"), col("__hit")))).as("hits"))
      .filter(col("__hit").isNull)
      .select(outCols: _*)
      .sortWithinPartitions(col("__fidx"), col(keyCol))
      .write.partitionBy("__fidx").parquet(stagedRoot.toString)
    val hits = hitsObs.get("hits").asInstanceOf[scala.collection.Seq[Row]]
      .map(r => (r.getInt(0), r.getString(1)))
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    val picked = pick(hits)
    picked.foreach { i =>
      val pdir = new Path(stagedRoot, s"__fidx=$i")
      // every row dropped, nothing added: the dynamic partition writer
      // emits no dir for an absent value — stage a schema-only empty
      // replacement instead
      if (!fs.exists(pdir))
        spark.createDataFrame(java.util.List.of[Row](), schema).coalesce(1)
          .write.parquet(pdir.toString)
      val part = fs.listStatus(pdir).map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"staged rewrite produced no file: $pdir"))
      swapPart(fs, files(i), part)
    }
    fs.delete(stagedRoot, true)
    (hits, picked)
  }

  /** Swaps one table file for an ALREADY-WRITTEN replacement part file,
    * IN PLACE: `.bak`-first atomic rename (never delete-then-rename — a
    * crash between those would lose every surviving row of the file),
    * every rename CHECKED, original rolled back if the swap-in fails;
    * [[recover]] heals a crash between the two renames. */
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
        // a crashed [[rewrite]]'s staging root — every un-swapped
        // replacement inside is a discarded rewrite, exactly the
        // .staged case
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

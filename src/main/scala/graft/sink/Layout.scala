package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.{ExecutionException, FutureTask}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteTaskStatsTracker, DataSourceUtils, FileFormat, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's sink contract (SURVEY.md §2.3 q06 / R7–R9), re-expressed
  * on Spark's file formats.
  *
  * Reference behavior (`/root/reference/pyrfc_read_table/pyrfc_read_table.py`):
  *  - dated directory layout `result[-err]/<fmt>/<table>/<ts>/` (`:45-50`);
  *  - the data filename embeds the **cumulative** row count across pages,
  *    `<table><totalRows>.<fmt>` (`:120-122`);
  *  - err rows are written **without** column names — pandas default
  *    integer headers (`:186,197`) — modeled as columns renamed `"0".."n-1"`;
  *  - the err file is created **only when** `err_count > 0` (`:185,196,220`).
  *
  * One `writeDual` call ≙ one reference page upload: each side is written
  * as exactly one file into a hidden staging directory under `root`
  * (`.staging-<uuid>/`) and published by a move into the dated directory.
  * The move replaces only a file of the same name, so the pages of one
  * pull accumulate in their dated directory and re-running a page replaces
  * its own file.
  *
  * A side is one Spark job ([[writeOneFile]]): one task over
  * `df.coalesce(1)`, run as a SQL execution of that plan, writes the rows
  * with the format's own `OutputWriter` (the one `DataFrameWriter` would
  * use, prepared on the driver by `FileFormat.prepareWrite`), so the file's
  * bytes are the part file `df.coalesce(1).write` lands. The task counts
  * the rows it wrote, and a `BasicWriteTaskStatsTracker` reports the
  * task's output bytes and records, as Spark's writer does.
  *  - No Spark commit protocol: the staged move is this sink's one commit
  *    per object, so there is no `FileOutputCommitter` under it (no
  *    `_temporary` tree, no task and job commit renames, no `_SUCCESS`).
  *    A page is never split: `spark.sql.files.maxRecordsPerFile` does not
  *    apply to it.
  *  - The prepared Hadoop conf travels to the task as plain key/value
  *    pairs and is rebuilt there with `new Configuration(false)`. Spark's
  *    writer ships it as a `SerializableConfiguration`, twice per task
  *    (job description and stats tracker), and `Configuration.write`
  *    gzips every entry's source list, so for the session's ~1,100
  *    entries each copy is larger and several times slower to serialize
  *    and to read back than the same pairs.
  *
  * At cluster scale a caller keeps Spark's one-file-per-task layout
  * instead (pass `singleFile = false`, or `partitionCols`): those sides go
  * through `DataFrameWriter` and its commit protocol, with the row count
  * observed in the same pass; the dated directory scheme is unchanged and
  * the cumulative count then lives only in [[WriteResult]].
  *
  * Staging, publish and cleanup run through `java.nio`, so `root` must be
  * local: a plain path on a local default filesystem, or a `file:` URI
  * (taken as its path). Any other filesystem is refused before a Spark
  * job runs (RUNBOOK.md, "Storage layout").
  */
object Layout {

  /** `result[-err]/<fmt>/<table>/<ts>/` under `root` (reference `:45-50`). */
  def dirPath(root: String, isErr: Boolean, fmt: String, table: String,
              ts: String): String = {
    val kind = if (isErr) "result-err" else "result"
    s"$root/$kind/$fmt/$table/$ts"
  }

  /** Data filename quirk: `<table><cumulativeRows>.<fmt>` (`:120-122`). */
  def dataFileName(table: String, cumulativeRows: Long, fmt: String): String =
    s"$table$cumulativeRows.$fmt"

  /** Err filename: `<table>-err.<fmt>`, NO row count — only the good-side
    * name embeds the cumulative count (`:50` vs `:122`). */
  def errFileName(table: String, fmt: String): String = s"$table-err.$fmt"

  final case class WriteResult(goodPath: String, errPath: Option[String],
                               goodRows: Long, errRows: Long,
                               cumulativeRows: Long)

  /** Dual good/err write for one page. `cumulativeBefore` is the row count
    * of previously written pages (the filename embeds before+this, `:122`).
    * `partitionCols` adds hive-style partition directories under the dated
    * path for the good side — a capability the reference lacks (SURVEY.md
    * §1.2) and the scale path for selective downstream reads; it implies
    * the multi-file layout (no single-object rename), written straight
    * into the dated directory with `mode("overwrite")`.
    *
    * The two sides are two Spark jobs that run at the same time: the err
    * write on a thread started here, so it inherits the caller's Spark
    * local properties (job group, scheduler pool), and the good write on
    * the calling thread. Each side counts its rows in its own write, so
    * the filename count and the err-presence rule see exactly the rows
    * the file holds, with no separate count job.
    * Both sides are staged and published only when both writes succeeded;
    * an err side of 0 rows publishes nothing. A good page of 0 rows never
    * replaces an existing file of the same name (the previous page's).
    * The staging directory is removed on every path. A failed good write
    * waits for the err write and rethrows the good write's exception; a
    * failed err write rethrows its own. */
  def writeDual(good: DataFrame, err: DataFrame, root: String, fmt: String,
                table: String, ts: String, cumulativeBefore: Long = 0L,
                singleFile: Boolean = true,
                partitionCols: Seq[String] = Nil): WriteResult = {
    require(fmt == "json" || fmt == "parquet", s"unsupported fmt: $fmt")
    require(partitionCols.isEmpty || !singleFile,
      "partitionCols implies singleFile = false")
    val local = localRoot(root, good.sparkSession)

    val goodDir = dirPath(local, isErr = false, fmt, table, ts)
    val errDir = dirPath(local, isErr = true, fmt, table, ts)
    val staging = Paths.get(local, s".staging-${UUID.randomUUID()}")
    val goodStage = staging.resolve("good")
    val errStage = staging.resolve("err")

    /** One side: its staged file (single-file layout) and its row count. */
    def side(df: DataFrame, stage: Path, multiFileDir: String,
             parts: Seq[String]): (Option[Path], Long) =
      if (singleFile) {
        val (file, rows) = writeOneFile(df, stage, fmt)
        (Some(file), rows)
      } else (None, writeCounted(df, multiFileDir, fmt, parts))

    // err quirk: no column names — integer headers like pandas (`:186,197`)
    val headerless = err.toDF(err.columns.indices.map(_.toString): _*)
    val errWrite = new FutureTask[(Option[Path], Long)](() =>
      side(headerless, errStage, errStage.toString, Nil))
    val errThread = new Thread(errWrite, s"graft-layout-err-$table")
    errThread.setDaemon(true)
    errThread.start()
    try {
      val (goodFile, goodRows) =
        try side(good, goodStage, goodDir, partitionCols)
        catch { case e: Throwable => errThread.join(); throw e }
      val (errFile, errRows) =
        try errWrite.get()
        catch { case e: ExecutionException => throw e.getCause }

      val cumulative = cumulativeBefore + goodRows
      goodFile.foreach(publishFile(_, Paths.get(goodDir),
        dataFileName(table, cumulative, fmt), replace = goodRows > 0))
      // err quirk: only materialize when non-empty (`:185,196,220`)
      val errPath =
        if (errRows == 0) None
        else {
          errFile match {
            case Some(f) =>
              publishFile(f, Paths.get(errDir), errFileName(table, fmt),
                replace = true)
            case None =>
              deleteTree(Paths.get(errDir))
              Files.createDirectories(Paths.get(errDir).getParent)
              Files.move(errStage, Paths.get(errDir))
          }
          Some(errDir)
        }
      WriteResult(goodDir, errPath, goodRows, errRows, cumulative)
    } finally deleteTree(staging)
  }

  /** `root` as the local path that staging, publish and cleanup share with
    * the Spark writes. A scheme-less root resolves against the default
    * filesystem, so it too must be `file:`. */
  private def localRoot(root: String, spark: SparkSession): String = {
    val uri = new HPath(root).toUri
    val scheme = Option(uri.getScheme).getOrElse(
      FileSystem.getDefaultUri(spark.sparkContext.hadoopConfiguration)
        .getScheme)
    require(scheme == "file", s"Layout.writeDual needs a local root (a " +
      s"path or a file: URI); refused $root (RUNBOOK.md, Storage layout)")
    if (uri.getScheme == null) root else uri.getPath
  }

  /** Multi-file layout: writes `df` to `dir` with `DataFrameWriter` and
    * returns its row count, observed in the same pass as the write (one
    * scan, and a count of exactly the rows written even when the source is
    * not snapshot-consistent). */
  private def writeCounted(df: DataFrame, dir: String, fmt: String,
                           partitionCols: Seq[String]): Long = {
    val obs = Observation()
    val writer = df.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").partitionBy(partitionCols: _*)
    fmt match {
      case "json"    => writer.json(dir)
      case "parquet" => writer.parquet(dir)
    }
    obs.get("rows").asInstanceOf[Long]
  }

  /** Writes `df` as the one file `dir/part-00000<ext>` (`.snappy.parquet`,
    * `.json`, … as the session's codec names it) from one Spark job, and
    * returns the file and the rows it holds. A frame without rows lands a
    * schema-only file, as Spark's writer does. `dir` must be local; see
    * the object's scaladoc for what runs in the task. */
  private[graft] def writeOneFile(df: DataFrame, dir: Path,
                                  fmt: String): (Path, Long) = {
    val one = df.coalesce(1)
    val spark = one.sparkSession
    val schema = one.schema
    val format: FileFormat = fmt match {
      case "json"    => new JsonFileFormat
      case "parquet" => new ParquetFileFormat
    }
    DataSourceUtils.verifySchema(format, schema)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = format.prepareWrite(spark, job, Map.empty, schema)
    val conf = job.getConfiguration
    val ext = factory.getFileExtension(
      new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    val file = dir.resolve(s"part-00000$ext")
    val uri = file.toUri.toString
    val pairs = conf.iterator().asScala.map(e => e.getKey -> e.getValue)
      .toArray
    val qe = one.queryExecution
    // `CoalesceExec` keeps one partition even over a source of none, so
    // the one task always runs and lands the file
    val rows = SQLExecution.withNewExecutionId(qe, Some(s"write $fmt")) {
      spark.sparkContext.runJob(qe.toRdd, (it: Iterator[InternalRow]) =>
        writeTask(it, pairs, factory, schema, uri)).sum
    }
    (file, rows)
  }

  /** The task of [[writeOneFile]]: rebuilds the prepared conf from its
    * pairs, writes every row to `uri`, and reports the task's output
    * metrics. A failed write closes and deletes the partial file. */
  private def writeTask(rows: Iterator[InternalRow],
                        pairs: Array[(String, String)],
                        factory: OutputWriterFactory, schema: StructType,
                        uri: String): Long = {
    val conf = new Configuration(false)
    pairs.foreach { case (k, v) => conf.set(k, v) }
    val stats = new BasicWriteTaskStatsTracker(conf, None)
    val writer = factory.newInstance(uri, schema,
      new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    stats.newFile(uri)
    var n = 0L
    try {
      while (rows.hasNext) {
        val row = rows.next()
        writer.write(row)
        stats.newRow(uri, row)
        n += 1
      }
      writer.close()
    } catch {
      case t: Throwable =>
        try writer.close() catch { case s: Throwable => t.addSuppressed(s) }
        new HPath(uri).getFileSystem(conf).delete(new HPath(uri), false)
        throw t
    }
    stats.closeFile(uri)
    stats.getFinalStats(0L)
    n
  }

  /** Moves a staged `file` to `dir/name` — one object per page, like the
    * reference's put_object (`:210-221`). With `replace = false` an
    * existing `dir/name` is kept. */
  private def publishFile(file: Path, dir: Path, name: String,
                          replace: Boolean): Unit = {
    val target = dir.resolve(name)
    if (replace || !Files.exists(target)) {
      Files.createDirectories(dir)
      Files.move(file, target, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toList.reverse.foreach(Files.delete(_))
      finally w.close()
    }

  /** q06_sink_layout — driver-visible smoke for the sink contract (no SQL
    * oracle: the op writes files; LayoutSpec asserts the four quirks).
    * Replays the WA parse/route pipeline on `lineitem` (as q02/q03 do),
    * dual-writes one page, and returns the resulting relative file listing.
    */
  def q06SinkLayout(s: SparkSession, dir: String): DataFrame = {
    import graft.parse.WaParser
    val base = graft.ops.T(s, dir, "lineitem")
      .filter(col("l_orderkey") < 200)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"))
      .distinct()
    // malformed rows: delimiter embedded inside a value (reference `:141-149`)
    val wa = base.select(
      when(col("l_orderkey") % 97 === 0,
        concat_ws("`", col("l_orderkey"),
          concat(col("l_returnflag"), lit("`")), col("l_linestatus")))
        .otherwise(concat_ws("`", col("l_orderkey"), col("l_returnflag"),
          col("l_linestatus"))).as("wa"))
    val names = Seq("l_orderkey", "l_returnflag", "l_linestatus")
    val good = WaParser.goodRows(wa, "wa", names)
    val err = WaParser.errRows(wa, "wa", names.length)
      .select(col("wa"), col("arity"))

    val root = Files.createTempDirectory("graft-sink-").toString
    val ts = "2024-01-01-00-00-00"
    writeDual(good, err, root, "json", "lineitem", ts)
    writeDual(good, err, root, "parquet", "lineitem", ts)

    val rootPath = Paths.get(root)
    val walk = Files.walk(rootPath)
    val listing =
      try walk.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => rootPath.relativize(p).toString).toSeq.sorted
      finally walk.close()
    import s.implicits._
    listing.toDF("rel_path").orderBy("rel_path")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q06_sink_layout" -> q06SinkLayout _,
  )
}

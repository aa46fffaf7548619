package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.{ExecutionException, FutureTask}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's sink contract (SURVEY.md §2.3 q06 / R7–R9), re-expressed
  * on `DataFrameWriter`.
  *
  * Reference behavior (`/root/reference/pyrfc_read_table/pyrfc_read_table.py`):
  *  - dated directory layout `result[-err]/<fmt>/<table>/<ts>/` (`:45-50`);
  *  - the data filename embeds the **cumulative** row count across pages,
  *    `<table><totalRows>.<fmt>` (`:120-122`);
  *  - err rows are written **without** column names — pandas default
  *    integer headers (`:186,197`) — modeled as columns renamed `"0".."n-1"`;
  *  - the err file is created **only when** `err_count > 0` (`:185,196,220`).
  *
  * One `writeDual` call ≙ one reference page upload: the single-object-
  * per-page contract is preserved with `coalesce(1)`, a write into a hidden
  * staging directory under `root` (`.staging-<uuid>/`), and a publish by
  * move of the one part file into the dated directory. The move replaces
  * only a file of the same name, so the pages of one pull accumulate in
  * their dated directory and re-running a page replaces its own file. At
  * cluster scale a caller keeps Spark's one-file-per-task layout instead
  * (pass `singleFile = false`); the dated directory scheme is unchanged and
  * the cumulative count then lives only in [[WriteResult]].
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
    * the calling thread. Each side counts its rows with an `Observation`
    * in its own write, so the filename count and the err-presence rule
    * see exactly the rows the file holds, with no separate count job.
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

    val goodDir = dirPath(root, isErr = false, fmt, table, ts)
    val errDir = dirPath(root, isErr = true, fmt, table, ts)
    val staging = Paths.get(root, s".staging-${UUID.randomUUID()}")
    val goodStage = staging.resolve("good")
    val errStage = staging.resolve("err")

    // err quirk: no column names — integer headers like pandas (`:186,197`)
    val headerless = err.toDF(err.columns.indices.map(_.toString): _*)
    val errWrite = new FutureTask[Long](() =>
      writeCounted(headerless, errStage.toString, fmt, singleFile))
    val errThread = new Thread(errWrite, s"graft-layout-err-$table")
    errThread.setDaemon(true)
    errThread.start()
    try {
      val goodOut = if (singleFile) goodStage.toString else goodDir
      val goodRows =
        try writeCounted(good, goodOut, fmt, singleFile, partitionCols)
        catch { case e: Throwable => errThread.join(); throw e }
      val errRows =
        try errWrite.get()
        catch { case e: ExecutionException => throw e.getCause }

      val cumulative = cumulativeBefore + goodRows
      if (singleFile)
        publishFile(goodStage, Paths.get(goodDir),
          dataFileName(table, cumulative, fmt), replace = goodRows > 0)
      // err quirk: only materialize when non-empty (`:185,196,220`)
      val errPath =
        if (errRows == 0) None
        else {
          if (singleFile)
            publishFile(errStage, Paths.get(errDir), errFileName(table, fmt),
              replace = true)
          else {
            deleteTree(Paths.get(errDir))
            Files.createDirectories(Paths.get(errDir).getParent)
            Files.move(errStage, Paths.get(errDir))
          }
          Some(errDir)
        }
      WriteResult(goodDir, errPath, goodRows, errRows, cumulative)
    } finally deleteTree(staging)
  }

  /** Writes `df` to `dir` and returns its row count, observed in the same
    * pass as the write (one scan, and a count of exactly the rows written
    * even when the source is not snapshot-consistent). */
  private def writeCounted(df: DataFrame, dir: String, fmt: String,
                           singleFile: Boolean,
                           partitionCols: Seq[String] = Nil): Long = {
    val obs = Observation()
    val observed = df.observe(obs, count(lit(1)).as("rows"))
    val out = if (singleFile) observed.coalesce(1) else observed
    val writer = out.write.mode("overwrite").partitionBy(partitionCols: _*)
    fmt match {
      case "json"    => writer.json(dir)
      case "parquet" => writer.parquet(dir)
    }
    obs.get("rows").asInstanceOf[Long]
  }

  /** Moves the one part file Spark wrote into `stage` to `dir/name` — one
    * object per page, like the reference's put_object (`:210-221`). With
    * `replace = false` an existing `dir/name` is kept. */
  private def publishFile(stage: Path, dir: Path, name: String,
                          replace: Boolean): Unit = {
    val target = dir.resolve(name)
    if (replace || !Files.exists(target)) {
      val s = Files.list(stage)
      val parts =
        try s.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toList
        finally s.close()
      val part = parts match {
        case one :: Nil => one
        case other => sys.error(s"expected 1 part file in $stage, got $other")
      }
      Files.createDirectories(dir)
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
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

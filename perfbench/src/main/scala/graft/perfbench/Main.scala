package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum

import graft.Sessions

/** One benchmark run of one workload, launched by `perfbench/run.py`.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> [--gen-s <seconds of input generation done by run.py>]
  * }}}
  *
  * Setup (session start, input generation, an untimed warm-up) is timed on
  * its own. The timed phase is a closed loop with one client: the next
  * operation starts when the previous one returns, in whole rounds;
  * `--seconds` divided by the workload's nominal round length, rounded,
  * gives their number (at least one). With `--trace 1` the
  * same rounds are then replayed with spans and the Spark listener on, and
  * once more without, followed by the layer probes; the per-layer numbers
  * come from the traced replay. Writes `<work>/result.json` for run.py to finish. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, genS: Double)

  /** One timed operation as the benchmark saw it. `rows` is the work the
    * operation moved (WA rows landed, change rows applied), `parts` the
    * timed sub-steps that make it up. */
  final case class OpRec(kind: String, name: String, seconds: Double,
                         ok: Boolean, rows: Long = 0,
                         parts: Map[String, Double] = Map.empty)

  /** What a workload returns: its timed operations, the failures found by
    * its output checks, and (traced run) its per-layer numbers. */
  final class Outcome {
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val tracedOps = mutable.ArrayBuffer.empty[OpRec]
    val afterOps = mutable.ArrayBuffer.empty[OpRec]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, String]
    val setup = mutable.LinkedHashMap.empty[String, Double]
    var checkFailures: Int = 0
  }

  trait Workload {
    /** Typical operation time of one round, in seconds. */
    def nominalRoundS: Double
    def setup(spark: SparkSession, a: Args, out: Outcome): Unit
    /** Runs one round of operations; appends to `ops`. */
    def round(spark: SparkSession, a: Args, roundNo: Int,
              ops: mutable.ArrayBuffer[OpRec]): Unit
    /** Final output checks after the timed phase; failures add to
      * `checkFailures`. */
    def finish(spark: SparkSession, a: Args, out: Outcome): Unit = ()
    /** Per-layer probes run after the traced replay. */
    def layerProbes(spark: SparkSession, a: Args, out: Outcome,
                    listener: BenchListener): Unit = ()
  }

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(req("--workload"), req("--seed").toLong, req("--seconds").toDouble,
      req("--trace") == "1", Paths.get(req("--work")),
      m.get("--gen-s").map(_.toDouble).getOrElse(0.0))
  }

  /** One timed root operation. Before it starts (untimed) the young
    * generation is collected if less than `EdenHeadroom` of it is free, so
    * a collection pause does not land in whichever operation happens to
    * fill it: run.py sizes the young generation to hold several
    * operations' garbage. */
  def timedOp[T](spark: SparkSession, name: String)(f: => T): (T, Double) = {
    val eden = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.find(_.getName.contains("Eden")).map(_.getUsage)
    if (eden.exists(u => u.getMax - u.getUsed < EdenHeadroom)) System.gc()
    timed(Trace.op(spark, name)(f))
  }
  private val EdenHeadroom = 640L << 20

  /** Collections that ran inside `timed` blocks. */
  val timedGcs = new java.util.concurrent.atomic.AtomicLong

  def timed[T](f: => T): (T, Double) = {
    val g0 = gcCounts()._1
    val t0 = System.nanoTime()
    val r = f
    val s = (System.nanoTime() - t0) / 1e9
    timedGcs.addAndGet(gcCounts()._1 - g0)
    (r, s)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--archive"))
      return archivePass(Paths.get(argv(1)))
    val a = parse(argv)
    val wl: Workload = a.workload match {
      case "sap_catalog"  => new SapCatalog
      case "lake_queries" => new LakeQueries
      case "cdc_merge"    => new CdcMerge
      case other => sys.error(s"unknown workload $other")
    }
    Files.createDirectories(a.work)
    val cores = Runtime.getRuntime.availableProcessors()
    val out = new Outcome
    val (spark, startS) = timed {
      val s = Sessions.local(cores.toString)
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    out.setup("session_start_s") = startS
    if (a.genS > 0) out.setup("generate_s") = a.genS
    wl.setup(spark, a, out)

    // timed phase: a fixed number of whole rounds, so every run of a
    // workload does the same operations; --seconds sets the count through
    // the workload's nominal round length
    val rounds = 0 until math.max(1, math.round(a.seconds / wl.nominalRoundS).toInt)
    timedGcs.set(0)
    val t0 = System.nanoTime()
    rounds.foreach(r => wl.round(spark, a, r, out.ops))
    out.info("collections_in_operations") = timedGcs.get.toString
    out.info("timed_wall_s") = f"${(System.nanoTime() - t0) / 1e9}%.3f"
    out.info("rounds") = rounds.size.toString

    if (a.trace) {
      // replay the same rounds with spans and the listener on, then once
      // more without: the overhead compares the traced replay with the
      // mean of the untraced passes before and after it
      val listener = new BenchListener
      spark.sparkContext.addSparkListener(listener)
      BenchRfcBackend.resetCounters()
      Trace.clear()
      Trace.on = true
      rounds.foreach(i => wl.round(spark, a, i, out.tracedOps))
      Trace.on = false
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      rounds.foreach(i => wl.round(spark, a, i, out.afterOps))
      Layers.common(out, listener, cores)
      wl.layerProbes(spark, a, out, listener)
      Trace.write(a.work.resolve("spans.jsonl"))
    }
    wl.finish(spark, a, out)
    out.info("peak_rss_mb") = f"${peakRssMb()}%.1f"
    spark.stop()
    Files.writeString(a.work.resolve("result.json"), Json.result(a, out))
  }

  /** `Main --archive <dir>`: a short pass through what every workload
    * loads (session start, codegen, shuffle, parquet write and read), run
    * once at build time so the JVM dumps those classes into the archive
    * later runs map. */
  def archivePass(dir: Path): Unit = {
    val spark = Sessions.local(
      Runtime.getRuntime.availableProcessors().toString)
    val p = dir.resolve("t").toString
    spark.range(0, 10000)
      .selectExpr("id", "id % 7 AS k", "CAST(id AS STRING) AS s",
        "CAST(id / 3 AS DECIMAL(15, 2)) AS d",
        "DATE_ADD(DATE'2020-01-01', CAST(id % 900 AS INT)) AS t")
      .write.mode("overwrite").parquet(p)
    val t = spark.read.parquet(p)
    t.groupBy("k").agg(sum("d").as("sd")).join(t, "k").filter("id < 5000")
      .write.format("noop").mode("overwrite").save()
    spark.stop()
  }

  /** (collections, milliseconds) over all collectors so far. */
  def gcCounts(): (Long, Long) = {
    val bs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala
    (bs.map(_.getCollectionCount).sum, bs.map(_.getCollectionTime).sum)
  }

  /** High-water resident set of this JVM, from /proc. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def ops(xs: Iterable[Main.OpRec]): String =
    xs.map { o =>
      obj(Seq("kind" -> str(o.kind), "name" -> str(o.name),
        "s" -> num(o.seconds), "ok" -> o.ok.toString,
        "rows" -> o.rows.toString,
        "parts" -> obj(o.parts.map { case (k, v) => k -> num(v) })))
    }.mkString("[", ",", "]")

  def result(a: Main.Args, out: Main.Outcome): String = obj(Seq(
    "workload" -> str(a.workload),
    "seed" -> a.seed.toString,
    "setup" -> obj(out.setup.map { case (k, v) => k -> num(v) }),
    "ops" -> ops(out.ops),
    "traced_ops" -> ops(out.tracedOps),
    "check_failures" -> out.checkFailures.toString,
    "layer" -> obj(out.layer.map { case (k, v) => k -> num(v) }),
    "info" -> obj(out.info.map { case (k, v) => k -> str(v) })))
}

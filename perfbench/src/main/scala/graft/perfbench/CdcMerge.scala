package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.sink.{ClusteredWrite, MergeInto}

/** `cdc_merge`: keeping the lake current. Setup lands a seeded
  * SAP-document-shaped table (VBAK-like headers) with
  * `ClusteredWrite.parquet`; each timed cycle applies one compacted CDC
  * batch through `MergeInto.merge` — updates skewed towards recent keys,
  * tombstones, inserts beyond the max key — and then runs single-key and
  * short-range lookups. Every column is a pure function of (key,
  * version), so the generator's model is a key → version map and the
  * expected content never goes through the code under test. */
class CdcMerge extends Main.Workload {
  /** A round is one batch and its lookups. */
  override val nominalRoundS = 2.5
  import CdcMerge._

  private var path: String = _
  private val live = mutable.LongMap.empty[Int]
  private var maxKey = 0L
  private var batchNo = 0

  // traced-pass bookkeeping
  private val batchStats = mutable.ArrayBuffer.empty[BatchStats]
  private val lookupFiles = mutable.ArrayBuffer.empty[Long]

  override def setup(spark: SparkSession, a: Main.Args,
                     out: Main.Outcome): Unit = {
    path = a.work.resolve("vbak").toString
    // landing the table is the input generation; repeated, median taken
    val gens = (0 until 3).map { _ =>
      Main.timed {
        val base = spark.range(1, InitialRows + 1).toDF(Key)
          .withColumn("VERSN", lit(0))
        ClusteredWrite.parquet(image(base), path, TableFiles, col(Key))
      }._2
    }
    out.setup("generate_s") = Main.median(gens)
    live.clear()
    (1L to InitialRows).foreach(k => live(k) = 0)
    maxKey = InitialRows
    val (_, warm) = Main.timed {
      val warmOps = mutable.ArrayBuffer.empty[Main.OpRec]
      round(spark, a, -1, warmOps)
      out.checkFailures += warmOps.count(!_.ok)
    }
    out.setup("warmup_s") = warm
    out.info("initial_rows") = InitialRows.toString
    out.info("table_files") = TableFiles.toString
    out.info("batch_rows") = s"$Updates updates + $Deletes tombstones + " +
      s"$Inserts inserts"
  }

  override def round(spark: SparkSession, a: Main.Args, roundNo: Int,
                     ops: mutable.ArrayBuffer[Main.OpRec]): Unit = {
    val rng = new SplittableRandom(a.seed * 1000003L + batchNo)
    batchNo += 1
    val batch = nextBatch(rng)
    val changes = image(spark.createDataFrame(batch.map(c =>
      (c.key, c.ver, c.op))).toDF(Key, "VERSN", "op"))
    val before = if (Trace.on) listing() else Map.empty[String, (Long, Long)]
    val (report, mergeS) = try {
      val (r, s) = Main.timedOp(spark, "cdc.batch") {
        Trace.span(spark, "merge.merge") {
          MergeInto.merge(spark, path, Key, changes)
        }
      }
      (Some(r), s)
    } catch {
      case e: Exception =>
        System.err.println(s"[cdc_merge] merge failed: $e")
        (None, 0.0)
    }
    val nU = batch.count(c => c.op == "U" && live.contains(c.key))
    val nI = batch.count(c => c.op == "U" && !live.contains(c.key))
    val nD = batch.count(_.op == "D")
    batch.foreach { c =>
      if (c.op == "D") live.remove(c.key) else live(c.key) = c.ver
      maxKey = math.max(maxKey, c.key)
    }
    var ok = report.exists(r => r.rowsUpdated == nU &&
      r.rowsInserted == nI && r.rowsDeleted == nD)
    if (!ok) System.err.println(s"[cdc_merge] report $report, want " +
      s"updated=$nU inserted=$nI deleted=$nD")
    if (Trace.on) {
      val after = listing()
      val changed = after.filter { case (n, v) => before.get(n) != Some(v) }
      batchStats += BatchStats(before.size, changed.size,
        changed.values.map(_._1).sum, batch.size)
    }

    val parts = mutable.LinkedHashMap("merge_s" -> mergeS)
    lookups(batch, rng).zipWithIndex.foreach { case (lk, i) =>
      val (good, s) =
        try {
          val (got, s) = Main.timedOp(spark, "lookup")(lookup(spark, lk))
          (got == modelRows(lk), s)
        } catch {
          case e: Exception =>
            System.err.println(s"[cdc_merge] lookup failed: $e")
            (false, 0.0)
        }
      if (!good) System.err.println(s"[cdc_merge] lookup $lk mismatched")
      ok &&= good
      parts(s"lookup_$i") = s
    }
    ops += Main.OpRec("cycle", "cycle", parts.values.sum, ok,
      batch.size.toLong, parts.toMap)
  }

  private def nextBatch(rng: SplittableRandom): Seq[Change] = {
    val chosen = mutable.LinkedHashSet.empty[Long]
    // CDC traffic is recent: 99 % of updated and deleted keys fall in the
    // newest RecentKeys keys (skewed to the newest), 1 % anywhere
    def recentLive(): Long = {
      var k = 0L
      while ({
        val u = rng.nextDouble()
        k =
          if (rng.nextInt(100) == 0) 1 + rng.nextLong(maxKey)
          else math.max(1L, maxKey - (RecentKeys * u * u).toLong)
        !live.contains(k) || chosen.contains(k)
      }) ()
      chosen += k
      k
    }
    val ups = (0 until Updates).map { _ =>
      val k = recentLive(); Change(k, live(k) + 1, "U")
    }
    val dels = (0 until Deletes).map { _ =>
      val k = recentLive(); Change(k, live(k), "D")
    }
    val ins = (1 to Inserts).map(i => Change(maxKey + i, 0, "U"))
    SapCatalog.shuffle(ups ++ dels ++ ins, rng)
  }

  /** Three single-key lookups (an updated, an inserted and a deleted key)
    * and one 50-key range at a random place. */
  private def lookups(batch: Seq[Change], rng: SplittableRandom): Seq[(Long, Long)] = {
    def pick(p: Change => Boolean) = batch.find(p).map(_.key).getOrElse(1L)
    val upd = pick(c => c.op == "U" && c.ver > 0)
    val ins = pick(c => c.op == "U" && c.ver == 0)
    val del = pick(_.op == "D")
    val r = 1 + rng.nextLong(maxKey)
    Seq((upd, upd), (ins, ins), (del, del), (r, r + RangeKeys - 1))
  }

  /** One lookup of keys lo..hi: the canonical text of each row found. */
  private def lookup(spark: SparkSession, range: (Long, Long)): Seq[String] =
    Trace.span(spark, "read.lookup") {
      val (lo, hi) = range
      val t = spark.read.parquet(path)
      val q = (if (lo == hi) t.filter(col(Key) === lo)
        else t.filter(col(Key).between(lo, hi)))
        .select(RowHash.canonical(t))
      val got = q.collect().map(_.getString(0)).sorted.toSeq
      if (Trace.on) lookupFiles += q.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics.get("numFiles")
          .map(_.value).getOrElse(0L)
      }.sum
      got
    }

  /** What the lookup of keys lo..hi must return, from the model. */
  private def modelRows(range: (Long, Long)): Seq[String] =
    (range._1 to range._2).flatMap(k => live.get(k).map(canonical(k, _))).sorted

  private def listing(): Map[String, (Long, Long)] = {
    val s = Files.list(Path.of(path))
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString ->
        (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    finally s.close()
  }

  override def finish(spark: SparkSession, a: Main.Args,
                      out: Main.Outcome): Unit = {
    val (n, h) = RowHash.table(spark.read.parquet(path))
    val want = live.iterator.map { case (k, v) => BigInt(
      RowHash.of(canonical(k, v))) }.sum
    if (n != live.size || h != want) {
      System.err.println(s"[cdc_merge] final table: $n rows vs ${live.size}, " +
        s"hash match ${h == want}")
      out.checkFailures += 1
    }
    out.info("final_rows") = n.toString
  }

  override def layerProbes(spark: SparkSession, a: Main.Args,
                           out: Main.Outcome, l: BenchListener): Unit = {
    val nb = math.max(1, batchStats.size).toDouble
    val mergeSpans = Trace.spans.asScala.filter(_.name == "merge.merge")
      .map(_.id).toSet
    out.layer("merge.jobs_per_batch") =
      l.jobs.values.count(j => mergeSpans(j.parentSpan)) / nb
    out.layer("merge.files_touched") = batchStats.map(_.touched).sum / nb
    out.layer("merge.rewrite_ratio") = batchStats.map(_.touched).sum.toDouble /
      math.max(1, batchStats.map(_.tableFiles).sum)
    out.layer("merge.bytes_rewritten_per_change") =
      batchStats.map(_.bytes).sum.toDouble / math.max(1, batchStats.map(_.changes).sum)
    val lookupRoots = Trace.spans.asScala.filter(_.name == "lookup")
      .map(_.id).toSet
    val nl = math.max(1, lookupFiles.size).toDouble
    out.layer("read.files_scanned_per_lookup") = lookupFiles.sum / nl
    out.layer("read.bytes_per_lookup") = l.byGroup.collect {
      case (g, c) if lookupRoots(g) => c.input
    }.sum / nl
    val merges = out.ops.map(_.parts("merge_s")).toSeq
    val reads = out.ops.flatMap(_.parts.collect {
      case (k, v) if k.startsWith("lookup_") => v }).toSeq
    out.layer("merge.p50_s") = Main.median(merges)
    out.layer("read.p50_s") = Main.median(reads)
  }
}

object CdcMerge {
  val Key = "VBELN"
  val InitialRows = 50000L
  val TableFiles = 16
  val Updates = 280
  val Deletes = 40
  val Inserts = 80
  val RangeKeys = 50
  val RecentKeys = 4000

  final case class Change(key: Long, ver: Int, op: String)
  final case class BatchStats(tableFiles: Int, touched: Int, bytes: Long,
                              changes: Int)

  private val Auart = Seq("OR", "RE", "KB", "ZOR", "SO")
  private val Waerk = Seq("EUR", "USD", "CHF", "GBP", "JPY")
  private val Epoch = LocalDate.of(2020, 1, 1)

  private def h(k: Long, v: Long): Long = (k * 2654435761L + v * 40503L) % 1000003L

  /** The row image of (VBELN, VERSN) — the Spark side. */
  def image(df: DataFrame): DataFrame = {
    val hv: Column = (col(Key) * 2654435761L + col("VERSN").cast("long") * 40503L) %
      1000003L
    df.withColumn("AUART", element_at(array(Auart.map(lit): _*),
        (hv % 5).cast("int") + 1))
      .withColumn("KUNNR", lit(100000L) + hv % 50000)
      .withColumn("NETWR", (hv % 10000000) / 100.0)
      .withColumn("WAERK", element_at(array(Waerk.map(lit): _*),
        ((hv / 7).cast("long") % 5).cast("int") + 1))
      .withColumn("ERDAT", date_add(lit(Epoch.toString).cast("date"),
        (col(Key) % 1500).cast("int")))
      .withColumn("VKORG", concat(lit("S"), (col(Key) % 40).cast("string")))
      .withColumn("BSTNK", concat(lit("PO-"), col(Key).cast("string"), lit("-"),
        col("VERSN").cast("string")))
  }

  /** The same row image as canonical text — the model side. */
  def canonical(k: Long, v: Int): String = {
    val x = h(k, v)
    Seq(k.toString, v.toString, Auart((x % 5).toInt), (100000L + x % 50000).toString,
      ((x % 10000000) / 100.0).toString, Waerk(((x / 7) % 5).toInt),
      Epoch.plusDays(k % 1500).toString, s"S${k % 40}", s"PO-$k-$v")
      .mkString("|")
  }
}

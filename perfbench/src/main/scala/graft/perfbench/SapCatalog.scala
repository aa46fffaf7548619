package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.sink.Layout
import graft.sources.rfc.{MockRfcBackend, RfcField}
import graft.types.Ddic

/** `sap_catalog`: a nightly pull of a catalog of SAP tables, one after
  * another, through the `sap-rfc` source into `Layout.writeDual` parquet —
  * the path `graft.ExtractJob` runs. Many one-page configuration and
  * master-data tables expose the fixed cost per extract; three
  * transactional tables of many pages expose throughput per row. One pull
  * in four is a delta pull: DROPMALFORMED, four projected columns, and a
  * `>=` on the NUMC change date that pushes into OPTIONS. About 0.5 % of
  * WA rows are malformed (a delimiter inside a text field). */
class SapCatalog extends Main.Workload {
  /** A round is one pass over the catalog. */
  override val nominalRoundS = 5.0
  import SapCatalog._

  private var plan: IndexedSeq[Pull] = IndexedSeq.empty
  private val truths = mutable.Map.empty[Pull, Truth]
  private var root: Path = _
  private var pullNo = 0

  override def setup(spark: SparkSession, a: Main.Args,
                     out: Main.Outcome): Unit = {
    root = a.work.resolve("landing")
    // generation is repeated; setup_s takes its median
    val gens = (0 until 3).map { _ =>
      val (_, s) = Main.timed(generate(a.seed))
      s
    }
    out.setup("generate_s") = Main.median(gens)
    // the warm-up pulls the whole catalog once, three pulls at a time: it
    // pays first-run costs (JIT, codegen) one thread would pay in series.
    // Its landings get the full content check; timed pulls of the same
    // inputs are checked by counts and file names
    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val (bad, warm) = Main.timed {
      val runs = plan.zipWithIndex.map { case (p, i) =>
        Future {
          val ts = s"warmup-$i"
          check(spark, p, ts, extract(spark, p, ts), content = true)
        }
      }
      Await.result(Future.sequence(runs), Duration.Inf).count(!_)
    }
    pool.shutdown()
    deleteTree(root)
    out.setup("warmup_s") = warm
    out.checkFailures += bad
    out.checkFailures += SelfTest.run(spark)
    out.info("tables") = plan.size.toString
    out.info("delta_pulls") = plan.count(_.delta).toString
    out.info("wa_rows_per_pass") =
      plan.map(p => truths(p).tableRows).sum.toString
    out.info("page_size") = PageSize.toString
  }

  private def generate(seed: Long): Unit = {
    BenchRfcBackend.tables.clear()
    truths.clear()
    plan = Catalog.map(spec => Pull(spec.name, DeltaTables(spec.name)))
    Catalog.foreach { spec =>
      val pull = plan.find(_.table == spec.name).get
      val (served, truth) = build(spec, seed, pull.delta)
      BenchRfcBackend.tables(spec.name) = served
      // the delta fragment is prepared here, so no pull pays the filter
      if (pull.delta)
        served.admittedRows(Seq(s"AEDAT >= '${cutoff(spec)}'"))
      truths(pull) = truth
    }
  }

  override def round(spark: SparkSession, a: Main.Args, roundNo: Int,
                     ops: mutable.ArrayBuffer[Main.OpRec]): Unit = {
    val rng = new SplittableRandom(a.seed * 1000003L + roundNo)
    shuffle(plan, rng).foreach { p =>
      pullNo += 1
      val ts = f"2024-01-01-00-${pullNo / 60 % 60}%02d-${pullNo % 60}%02d"
      val rec = try {
        val (res, s) = Main.timedOp(spark, "extract")(extract(spark, p, ts))
        // the traced replay repeats checked pulls
        val ok = Trace.on || check(spark, p, ts, res, content = false)
        Main.OpRec("extract", p.table, s, ok, res.goodRows + res.errRows)
      } catch {
        case e: Exception =>
          System.err.println(s"[sap_catalog] ${p.table} failed: $e")
          Main.OpRec("extract", p.table, 0.0, ok = false)
      }
      if (Trace.on) layerAfterExtract(p, ts)
      deleteTree(root)
      ops += rec
    }
  }

  /** The `ExtractJob` path for one pull. */
  private def extract(spark: SparkSession, p: Pull,
                      ts: String): Layout.WriteResult = {
    val (good, err) = Trace.span(spark, "rfc.load")(sides(spark, p, load(spark, p)))
    Trace.span(spark, "layout.writeDual") {
      Layout.writeDual(good, err, root.toString, "parquet", p.table, ts)
    }
  }

  /** (good, err) as `ExtractJob` splits them; a delta pull projects and
    * filters, and its malformed rows are dropped by the source. */
  private def sides(spark: SparkSession, p: Pull,
                    df: DataFrame): (DataFrame, DataFrame) =
    if (!p.delta)
      (df.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
        df.filter(col("_corrupt_record").isNotNull)
          .select(col("_corrupt_record").as("wa")))
    else {
      val spec = specOf(p.table)
      (df.select(spec.deltaCols.map(col): _*)
        .filter(col("AEDAT") >= cutoff(spec).toLong),
        spark.createDataFrame(java.util.List.of[Row](), ErrSchema))
    }

  private def load(spark: SparkSession, p: Pull): DataFrame =
    spark.read.format("sap-rfc")
      .option("table", p.table)
      .option("backend", classOf[BenchRfcBackend].getName)
      .option("pageSize", PageSize.toString)
      .option("mode", if (p.delta) "DROPMALFORMED" else "PERMISSIVE")
      .load()

  /** Landed counts and the data filename against the generator's truth;
    * with `content`, also the landed rows' hash and the err rows. */
  private def check(spark: SparkSession, p: Pull, ts: String,
                    res: Layout.WriteResult, content: Boolean): Boolean = {
    val t = truths(p)
    val goodDir = Layout.dirPath(root.toString, isErr = false, "parquet",
      p.table, ts)
    val names = listNames(Path.of(goodDir))
    val expectName = Layout.dataFileName(p.table, t.goodRows, "parquet")
    val (n, h) =
      if (content) RowHash.table(spark.read.parquet(goodDir))
      else (t.goodRows, t.goodHash)
    val errOk =
      if (t.errWa.isEmpty) res.errPath.isEmpty
      else if (!content) res.errPath.isDefined
      else res.errPath.exists { d =>
        spark.read.parquet(d).collect().map(_.getString(0)).sorted.toSeq ==
          t.errWa.sorted.toSeq
      }
    val ok = res.goodRows == t.goodRows && res.errRows == t.errWa.size &&
      n == t.goodRows && h == t.goodHash && errOk &&
      names == Seq(expectName)
    if (!ok) System.err.println(
      s"[sap_catalog] check failed for ${p.table} (delta=${p.delta}): " +
        s"good ${res.goodRows}/$n vs ${t.goodRows}, err ${res.errRows} vs " +
        s"${t.errWa.size}, hash ${h == t.goodHash}, errRows $errOk, " +
        s"files $names vs $expectName")
    ok
  }

  // traced-pass bookkeeping, per extract
  private val landed = mutable.ArrayBuffer.empty[Landed]

  private def layerAfterExtract(p: Pull, ts: String): Unit = {
    val dirs = Seq(false, true).map(e =>
      Path.of(Layout.dirPath(root.toString, e, "parquet", p.table, ts)))
      .filter(Files.isDirectory(_))
    val files = dirs.flatMap(d => Files.list(d).iterator().asScala.toList)
      .filter(Files.isRegularFile(_))
    landed += Landed(p, files.size, files.map(Files.size(_)).sum)
  }

  override def layerProbes(spark: SparkSession, a: Main.Args,
                           out: Main.Outcome, l: BenchListener): Unit = {
    val extracts = Trace.spans.asScala.filter(_.name == "extract").toSeq
    val n = math.max(1, extracts.size).toDouble
    val byRoot = extracts.map(s => s.id -> BenchRfcBackend.countersOf(s.id))
    val pullOf = extracts.map(_.id).zip(landed.map(_.pull)).toMap
    out.layer("rfc.calls") = byRoot.map(_._2.calls.get).sum / n
    out.layer("rfc.opens") = byRoot.map(_._2.opens.get).sum / n
    out.layer("rfc.rows_served") = byRoot.map(_._2.rows.get).sum / n
    out.layer("rfc.backend_busy_s") =
      byRoot.map(_._2.busyNs.get).sum / 1e9 / n
    def served(delta: Boolean) = byRoot.filter(r => pullOf(r._1).delta == delta)
      .map(_._2.rows.get).sum.toDouble
    def truthSum(delta: Boolean, f: Truth => Long) =
      byRoot.map(r => pullOf(r._1)).filter(_.delta == delta)
        .map(p => f(truths(p))).sum.toDouble
    out.layer("rfc.read_amplification") =
      served(false) / truthSum(false, _.tableRows)
    out.layer("rfc.pushdown_ratio") = served(true) / truthSum(true, _.admitted)

    // listener: jobs whose innermost span was writeDual, and the result
    // stage of the first of them (the good-side write)
    val writeSpans = Trace.spans.asScala.filter(_.name == "layout.writeDual")
      .map(_.id).toSet
    val jobsBySpan = l.jobs.toSeq.filter(j => writeSpans(j._2.parentSpan))
      .groupBy(_._2.parentSpan)
    out.layer("layout.jobs_per_extract") = jobsBySpan.values.map(_.size).sum / n
    val firstTasks = jobsBySpan.values.map(js =>
      l.resultStageTasks.getOrElse(js.map(_._1).min, 0).toDouble)
    out.layer("layout.write_tasks") =
      if (firstTasks.isEmpty) 0.0 else firstTasks.sum / firstTasks.size
    out.layer("layout.files_written") = landed.map(_.files).sum / n
    out.layer("layout.bytes_per_wa_byte") = landed.map(_.bytes).sum.toDouble /
      landed.map(x => truths(x.pull).waBytes).sum

    // rfc.scan_s: the same pulls read into the noop sink
    val scans = plan.map { p =>
      Main.timed(load(spark, p).write.format("noop").mode("overwrite").save())._2
    }
    out.layer("rfc.scan_s") = scans.sum / plan.size
    // layout.write_s: writeDual over an already materialized copy
    val writes = plan.map { p =>
      val (good, err) = sides(spark, p, load(spark, p).localCheckpoint())
      val s = Main.timed(Layout.writeDual(good, err, root.toString, "parquet",
        p.table, "probe"))._2
      deleteTree(root)
      s
    }
    out.layer("layout.write_s") = writes.sum / plan.size
    out.layer("ddic.cells_per_s") = ddicCellsPerS()
  }

  /** `Ddic.parseCatalyst` over the catalog's cells (first 100k rows of
    * each table), split outside the timed loop. */
  private def ddicCellsPerS(): Double = {
    var cells = 0L
    var ns = 0L
    Catalog.foreach { spec =>
      val t = BenchRfcBackend.tables(spec.name)
      val rows = t.wa.take(100000).map(_.split("`", -1).map(_.trim))
      val f = t.fields.toArray
      val t0 = System.nanoTime()
      var sink = 0
      rows.foreach { r =>
        var i = 0
        while (i < f.length) {
          if (Ddic.parseCatalyst(r(i), f(i).tpe, f(i).length,
            f(i).decimals) != null) sink += 1
          i += 1
        }
      }
      ns += System.nanoTime() - t0
      cells += rows.length.toLong * f.length
      if (sink < 0) println(sink) // keeps the parse results live
    }
    cells / (ns / 1e9)
  }
}

object SapCatalog {
  val PageSize = 10000
  val ErrSchema = StructType(Seq(StructField("wa", StringType)))
  val Delim = "`"

  sealed trait Kind
  case object Config extends Kind
  case object Master extends Kind
  case object Txn extends Kind

  final case class Spec(name: String, kind: Kind, rows: Int) {
    def cols: IndexedSeq[RfcField] = kind match {
      case Txn => TxnCols
      case Master => MasterCols
      case Config => ConfigCols
    }
    def deltaCols: Seq[String] = kind match {
      case Txn => Seq("VBELN", "AEDAT", "NETWR", "MATNR")
      case Master => Seq("KUNNR", "AEDAT", "UMSAT", "NAME1")
      case Config => Seq("BUKRS", "AEDAT", "WRBTR", "BUTXT")
    }
  }

  final case class Pull(table: String, delta: Boolean)
  final case class Landed(pull: Pull, files: Int, bytes: Long)

  /** What the landed output of one pull must be. `tableRows` counts every
    * WA row of the table (malformed included); `admitted` the structured
    * rows the delta predicate admits; `waBytes` the WA text the pull is
    * served. */
  final case class Truth(goodRows: Long, goodHash: BigInt,
                         errWa: IndexedSeq[String], tableRows: Long,
                         admitted: Long, waBytes: Long)

  private val TxnCols = IndexedSeq(
    RfcField("VBELN", "N", 10), RfcField("POSNR", "N", 6),
    RfcField("MATNR", "C", 18), RfcField("WERKS", "C", 4),
    RfcField("ERDAT", "D", 8), RfcField("AEDAT", "N", 8),
    RfcField("NETWR", "P", 15, 2), RfcField("KWMENG", "P", 13, 3),
    RfcField("MEINS", "C", 3), RfcField("UMREZ", "I", 10),
    RfcField("BRGEW", "F", 16), RfcField("ARKTX", "C", 40))
  private val MasterCols = IndexedSeq(
    RfcField("KUNNR", "N", 10), RfcField("NAME1", "C", 35),
    RfcField("ORT01", "C", 25), RfcField("LAND1", "C", 3),
    RfcField("ERDAT", "D", 8), RfcField("AEDAT", "N", 8),
    RfcField("UMSAT", "P", 15, 2), RfcField("PERIV", "I", 10),
    RfcField("KLIMK", "F", 16))
  private val ConfigCols = IndexedSeq(
    RfcField("BUKRS", "C", 6), RfcField("BUTXT", "C", 25),
    RfcField("WAERS", "C", 5), RfcField("GJAHR", "I", 10),
    RfcField("DATAB", "D", 8), RfcField("AEDAT", "N", 8),
    RfcField("KURSF", "F", 16), RfcField("WRBTR", "P", 13, 2))

  /** Fixed shape: the seed changes the values and the pull order, never
    * the sizes or which pulls are delta pulls. */
  val Catalog: IndexedSeq[Spec] = IndexedSeq(
    Spec("T001", Config, 40), Spec("TCURR", Config, 2000),
    Spec("LFA1", Master, 1500), Spec("KNA1", Master, 5000),
    Spec("MARA", Master, 9000),
    Spec("MSEG", Txn, 40000), Spec("BSEG", Txn, 60000),
    Spec("VBAP", Txn, 100000))

  /** The delta pulls: one transactional and one master-data table. */
  val DeltaTables = Set("BSEG", "KNA1")

  def specOf(name: String): Spec = Catalog.find(_.name == name).get

  private val FirstDay = LocalDate.of(2015, 1, 1).toEpochDay.toInt
  private val LastDay = LocalDate.of(2024, 12, 31).toEpochDay.toInt

  private def yyyymmdd(day: Int): Int = {
    val d = LocalDate.ofEpochDay(day)
    d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth
  }
  /** Delta cutoff: change dates are skewed recent (day = last − span·u²),
    * so the last 4 % of the span admits about a fifth of the rows. */
  def cutoff(spec: Spec): Int =
    yyyymmdd(LastDay - ((LastDay - FirstDay) * 0.04).toInt)

  def shuffle[A](xs: Seq[A], rng: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  private val Words = Array("pump", "valve", "steel", "bolt", "gear", "motor",
    "cable", "frame", "sensor", "panel", "filter", "seal", "hose", "drum",
    "plate", "ring", "shaft", "lamp", "switch", "board")
  private val Cities = Array("Walldorf", "Berlin", "Hamburg", "Munich",
    "Lyon", "Madrid", "Milan", "Vienna", "Zurich", "Prague")
  private val Plants = Array("1000", "1100", "1200", "2000", "3000", "3100")
  private val Units = Array("EA", "KG", "M", "L", "PC", "ST")
  private val Countries = Array("DE", "FR", "ES", "IT", "AT", "CH", "CZ", "US")
  private val Currencies = Array("EUR", "USD", "CHF", "GBP", "CZK")

  private def pad(s: String, n: Int): String =
    if (s.length >= n) s else s + " " * (n - s.length)
  private def zpad(v: Long, n: Int): String = {
    val s = v.toString
    if (s.length >= n) s else "0" * (n - s.length) + s
  }
  private def dec(units: Long, scale: Int): String = {
    val p = math.pow(10, scale).toLong
    s"${units / p}.${zpad(units % p, scale)}"
  }
  private def words(rng: SplittableRandom, n: Int): String =
    (0 until n).map(_ => Words(rng.nextInt(Words.length))).mkString(" ")

  /** Exact sum of signed 64-bit hashes without a BigInt per row. */
  final class HashSum {
    private var hi = 0L
    private var lo = 0L
    def add(h: Long): Unit = { hi += h >> 32; lo += h & 0xffffffffL }
    def value: BigInt = (BigInt(hi) << 32) + lo
  }

  private type CellGen = (SplittableRandom, Int, Int, Int) => (String, String)

  /** (WA text, canonical text) of one cell, from the row number, the
    * creation day and the change date (YYYYMMDD). */
  private def cellGen(f: RfcField): CellGen = f.fieldName match {
    case "VBELN" | "KUNNR" => (_, i, _, _) =>
      val v = 4000000000L + i.toLong * 7
      (zpad(v, 10), v.toString)
    case "BUKRS" => (_, i, _, _) =>
      val v = "C" + zpad(i, 5)
      (pad(v, f.length), v)
    case "POSNR" => (_, i, _, _) =>
      val v = (i % 50 + 1) * 10L
      (zpad(v, 6), v.toString)
    case "ERDAT" | "DATAB" => (_, _, day, _) =>
      (zpad(yyyymmdd(day), 8), LocalDate.ofEpochDay(day).toString)
    case "AEDAT" => (_, _, _, ymd) => (zpad(ymd, 8), ymd.toString)
    case "MATNR" => (rng, _, _, _) =>
      val v = "MAT-" + rng.nextInt(50000)
      (pad(v, f.length), v)
    case "WERKS" => pick(Plants, f.length)
    case "MEINS" => pick(Units, f.length)
    case "LAND1" => pick(Countries, f.length)
    case "WAERS" => pick(Currencies, f.length)
    case "ORT01" => pick(Cities, f.length)
    case _ => f.tpe match {
      case "P" => (rng, _, _, _) =>
        val v = dec(rng.nextLong(1, 100000000L), f.decimals)
        (v, v)
      case "I" => (rng, _, _, _) =>
        val v = rng.nextInt(1, 1000).toString
        (v, v)
      case "F" => (rng, _, _, _) =>
        val v = (rng.nextInt(8, 8000000) / 8.0).toString
        (v, v)
      case _ => (rng, _, _, _) =>
        val v = words(rng, 1 + rng.nextInt(3)).take(f.length).trim
        (pad(v, f.length), v)
    }
  }

  private def pick(values: Array[String], len: Int): CellGen =
    (rng, _, _, _) => {
      val v = values(rng.nextInt(values.length))
      (pad(v, len), v)
    }

  /** One table's served rows and the truth of its pull. Each cell is
    * produced twice: as the server's WA text and as the canonical text of
    * the typed value the source must land. */
  def build(spec: Spec, seed: Long, delta: Boolean): (ServedTable, Truth) = {
    val rng = new SplittableRandom(seed * 31 + spec.name.hashCode)
    val fields = spec.cols
    val deltaIdx = spec.deltaCols.map(n => fields.indexWhere(_.fieldName == n))
    val aedatIdx = fields.indexWhere(_.fieldName == "AEDAT")
    val textIdx = fields.indexWhere(f => f.tpe == "C" && f.length >= 25)
    val cut = cutoff(spec)
    val wa = mutable.ArrayBuffer.empty[String]
    val dates = mutable.ArrayBuffer.empty[Int]
    val raw = mutable.ArrayBuffer.empty[String]
    val gens = fields.map(cellGen).toArray
    val hashSum = new HashSum
    var goodRows = 0L
    var admitted = 0L
    var waBytes = 0L
    val cells = new Array[String](fields.size)
    val canon = new Array[String](fields.size)
    var i = 0
    while (i < spec.rows) {
      val erdat = FirstDay + rng.nextInt(LastDay - FirstDay + 1)
      val u = rng.nextDouble()
      val aedat = yyyymmdd(
        math.max(erdat, LastDay - ((LastDay - FirstDay) * u * u).toInt))
      var k = 0
      while (k < gens.length) {
        val (w, c) = gens(k)(rng, i, erdat, aedat)
        cells(k) = w
        canon(k) = c
        k += 1
      }
      if (rng.nextInt(200) == 0) {
        // malformed: a delimiter inside the text field shifts the arity
        val bad = cells.clone()
        bad(textIdx) = bad(textIdx).trim + Delim + "x"
        val s = bad.mkString(Delim)
        raw += s
        waBytes += s.length
      } else {
        val s = cells.mkString(Delim)
        wa += s
        dates += aedat
        if (!delta) {
          goodRows += 1
          hashSum.add(RowHash.of(canon.mkString("|")))
          waBytes += s.length
        } else if (aedat >= cut) {
          admitted += 1
          goodRows += 1
          hashSum.add(RowHash.of(deltaIdx.map(canon(_)).mkString("|")))
          waBytes += deltaIdx.map(cells(_).length).sum + deltaIdx.size - 1
        }
      }
      i += 1
    }
    require(aedatIdx >= 0 && textIdx >= 0)
    val served = new ServedTable(fields, wa.toArray, dates.toArray,
      raw.toArray, Delim, "AEDAT")
    val truth = Truth(goodRows, hashSum.value,
      if (delta) IndexedSeq.empty else raw.toIndexedSeq,
      spec.rows.toLong, admitted, waBytes)
    (served, truth)
  }

  def listNames(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete(_))
      finally w.close()
    }
}

/** Shows that the benchmark backend serves what `MockRfcBackend` serves on
  * a small table: the same pages for full-width, projected and filtered
  * calls, with the OPTIONS fragment taken from the pushdown the `sap-rfc`
  * source actually performs for a delta pull. Returns the mismatch count. */
object SelfTest {
  def run(spark: SparkSession): Int = {
    val spec = SapCatalog.Spec("ZSELFTEST", SapCatalog.Master, 400)
    val (served, _) = SapCatalog.build(spec, 7L, delta = false)
    val cells = served.wa.toSeq.map(_.split("`", -1).toSeq)
    MockRfcBackend.clear()
    MockRfcBackend.register(spec.name, MockRfcBackend.MockTable(
      served.fields, cells, rawWa = served.rawWa.toSeq))
    BenchRfcBackend.tables(spec.name) = served

    spark.read.format("sap-rfc").option("table", spec.name)
      .option("backend", classOf[MockRfcBackend].getName)
      .option("pageSize", "100").option("mode", "DROPMALFORMED").load()
      .select(spec.deltaCols.map(col): _*)
      .filter(col("AEDAT") >= SapCatalog.cutoff(spec).toLong)
      .write.format("noop").mode("overwrite").save()
    val pushed = MockRfcBackend.calls.map(_.options).filter(_.nonEmpty)
      .distinct
    val fragment = Seq(s"AEDAT >= '${SapCatalog.cutoff(spec)}'")
    var bad = if (pushed == Seq(fragment)) 0 else {
      System.err.println(s"[selftest] pushed OPTIONS $pushed, want $fragment")
      1
    }
    val mock = new MockRfcBackend
    val bench = new BenchRfcBackend
    val calls = for {
      opts <- Seq(Nil, fragment)
      fields <- Seq(Nil, spec.deltaCols)
      (skip, n) <- Seq((0L, 0), (0L, 100), (100L, 150), (350L, 100))
    } yield (opts, fields, skip, n)
    calls.foreach { case (opts, fields, skip, n) =>
      val a = mock.call(spec.name, "`", skip, n, fields, opts)
      val b = bench.call(spec.name, "`", skip, n, fields, opts)
      if (a != b || mock.tableRowCount(spec.name, opts) !=
        bench.tableRowCount(spec.name, opts)) {
        System.err.println(s"[selftest] page differs: skip=$skip n=$n " +
          s"fields=$fields options=$opts")
        bad += 1
      }
    }
    MockRfcBackend.clear()
    BenchRfcBackend.tables.remove(spec.name)
    bad
  }
}

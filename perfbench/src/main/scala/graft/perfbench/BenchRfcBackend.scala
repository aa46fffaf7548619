package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.regex.Pattern

import scala.collection.concurrent.TrieMap

import graft.sources.rfc.{RfcBackend, RfcConnection, RfcField, RfcPage}

/** One generated SAP table as the benchmark's RFC server holds it: the
  * pre-joined WA row of every well-formed record, the change date each
  * one carries (the only column delta pulls filter on), and the malformed
  * WA rows, which — like [[graft.sources.rfc.MockRfcBackend]] — ride along
  * unprojected and unfiltered after the structured rows.
  *
  * `delimiter` is the one the rows were joined with; a call asking for
  * another delimiter gets its rows re-joined. */
final class ServedTable(val fields: IndexedSeq[RfcField],
                        val wa: Array[String], val changeDates: Array[Int],
                        val rawWa: Array[String], val delimiter: String,
                        val changeDateField: String) {
  private val admitted = TrieMap.empty[Seq[String], Array[Int]]

  /** Row indices that every OPTIONS fragment admits, computed once per
    * distinct fragment list (setup prepares the ones a run will send). */
  def admittedRows(options: Seq[String]): Array[Int] =
    admitted.getOrElseUpdate(options, {
      val preds = options.map(parseOption)
      changeDates.indices.filter(i => preds.forall(_(changeDates(i)))).toArray
    })

  private val CmpRe = """^(\w+) (=|>=|<=|>|<) '(\d+)'$""".r

  /** The grammar this server understands: a comparison of the change-date
    * column against a numeric literal. Anything else fails loudly, so a
    * pushdown the benchmark does not model cannot pass unnoticed. */
  private def parseOption(o: String): Int => Boolean = o match {
    case CmpRe(name, op, v) if name == changeDateField =>
      val x = v.toInt
      op match {
        case "="  => _ == x
        case ">=" => _ >= x
        case "<=" => _ <= x
        case ">"  => _ > x
        case "<"  => _ < x
      }
    case _ => throw new UnsupportedOperationException(
      s"bench backend: unsupported OPTIONS fragment: $o")
  }
}

/** The benchmark's RFC server: implements the public [[RfcBackend]]
  * contract over tables generated during setup and serves each page in
  * O(page) — it slices pre-joined rows instead of rebuilding the table per
  * call. Counts opens, calls, rows served and time spent inside the
  * backend, per operation (job group), and records `rfc.call` spans. */
class BenchRfcBackend extends RfcBackend {
  import BenchRfcBackend._

  override def open(connection: Option[RfcConnection]): Unit =
    counters(Trace.callSite._1).opens.incrementAndGet()

  override def call(queryTable: String, delimiter: String, rowSkips: Long,
                    rowCount: Int, fields: Seq[String],
                    options: Seq[String]): RfcPage = {
    val t0 = Trace.nowUs
    val n0 = System.nanoTime()
    val t = table(queryTable)
    val sel =
      if (fields.isEmpty) t.fields
      else t.fields.filter(f => fields.contains(f.fieldName))
    val rows = if (options.isEmpty) null else t.admittedRows(options)
    val nStructured = if (rows == null) t.wa.length else rows.length
    val total = nStructured.toLong + t.rawWa.length
    val from = math.min(rowSkips, total).toInt
    val until = math.min(rowSkips + math.max(rowCount, 0), total).toInt
    val reshape = fields.nonEmpty || delimiter != t.delimiter
    val selIdx = sel.map(t.fields.indexOf(_)).toArray
    val splitRe = Pattern.compile(Pattern.quote(t.delimiter))
    val page = new Array[String](until - from)
    var i = from
    while (i < until) {
      page(i - from) =
        if (i >= nStructured) t.rawWa(i - nStructured)
        else {
          val w = t.wa(if (rows == null) i else rows(i))
          if (!reshape) w
          else {
            val cells = splitRe.split(w, -1)
            val sb = new java.lang.StringBuilder(w.length)
            var k = 0
            while (k < selIdx.length) {
              if (k > 0) sb.append(delimiter)
              sb.append(cells(selIdx(k)))
              k += 1
            }
            sb.toString
          }
        }
      i += 1
    }
    val (root, parent) = Trace.callSite
    val c = counters(root)
    c.calls.incrementAndGet()
    c.rows.addAndGet(page.length)
    c.busyNs.addAndGet(System.nanoTime() - n0)
    Trace.record(Trace.Span(s"rfc.call-${callIds.incrementAndGet()}", parent,
      root, "rfc.call", t0, Trace.nowUs))
    RfcPage("TAB512", sel, page.toSeq)
  }

  override def tableRowCount(queryTable: String,
                             options: Seq[String]): Option[Long] = {
    val n0 = System.nanoTime()
    val t = table(queryTable)
    val n =
      if (options.isEmpty) t.wa.length else t.admittedRows(options).length
    counters(Trace.callSite._1).busyNs.addAndGet(System.nanoTime() - n0)
    Some(n.toLong + t.rawWa.length)
  }

  private def table(name: String): ServedTable =
    tables.getOrElse(name, sys.error(s"bench backend: no such table $name"))
}

object BenchRfcBackend {
  final class Counters {
    val opens = new AtomicLong
    val calls = new AtomicLong
    val rows = new AtomicLong
    val busyNs = new AtomicLong
  }

  val tables = TrieMap.empty[String, ServedTable]
  private val byOp = new ConcurrentHashMap[String, Counters]()
  private val callIds = new AtomicLong

  def counters(op: String): Counters =
    byOp.computeIfAbsent(op, _ => new Counters)
  def countersOf(op: String): Counters =
    Option(byOp.get(op)).getOrElse(new Counters)
  def resetCounters(): Unit = byOp.clear()
}

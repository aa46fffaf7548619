package graft.sources.rfc

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** Backend contract for the `sap-rfc` source, modeled on the exact result
  * shape the reference consumes from `/SAPDS/RFC_READ_TABLE2`
  * (`/root/reference/pyrfc_read_table/pyrfc_read_table.py`):
  *
  *  - the result table's name is itself indirected through `OUT_TABLE`
  *    (`:118`) — [[RfcPage.outTable]];
  *  - `FIELDS` carries per-column `FIELDNAME`/`TYPE` metadata (`:124-133`)
  *    — [[RfcPage.fields]];
  *  - each data row is one delimiter-joined `WA` string (`:141-142`) —
  *    [[RfcPage.rows]];
  *  - paging via `ROWSKIPS`/`ROWCOUNT` (`:33,66-83`), terminating on a
  *    short page (`:68`);
  *  - `fields`/`options` are the RFC module's server-side projection and
  *    WHERE-fragment inputs — available in the protocol but unused by the
  *    reference (`:71`); they are the source's pushdown surface
  *    (SURVEY.md §4.1).
  */
final case class RfcField(fieldName: String, tpe: String,
                          length: Int = 0, decimals: Int = 0)

final case class RfcPage(outTable: String, fields: Seq[RfcField],
                         rows: Seq[String])

trait RfcBackend extends Serializable {

  /** Connection hand-off (the reference's `Connection(**secret)`,
    * `pyrfc_read_table.py:110-117`). Called exactly once per backend
    * instance, before any [[call]]/[[tableRowCount]]. Default no-op:
    * the mock backend needs no credentials, and a test that omits the
    * connection options keeps working unchanged. */
  def open(connection: Option[RfcConnection]): Unit = ()

  /** One paginated read call (reference `:71`). `rowCount = 0` is a
    * metadata-only call (schema discovery — FIELDS still returned). */
  def call(queryTable: String, delimiter: String, rowSkips: Long,
           rowCount: Int, fields: Seq[String],
           options: Seq[String]): RfcPage

  /** Row-count estimate (post-`options`) for partition planning. NOT part
    * of the reference protocol — the reference pages sequentially and
    * cannot parallelize; a backend that can answer this lets the source
    * plan one InputPartition per page instead. `None` falls back to the
    * reference's sequential short-page loop in a single partition.
    * Offset paging without a server-side ordering is not snapshot-
    * consistent either way (documented reference flaw, SURVEY.md §4.1). */
  def tableRowCount(queryTable: String, options: Seq[String]): Option[Long]

  /** Connection release (the logoff that ends [[open]]'s logon). The
    * source calls it exactly once per opened backend, when the driver
    * call or the partition reader that opened it is done. Default
    * no-op, as for [[open]]. */
  def close(): Unit = ()
}

/** Deterministic in-memory backend for tests (FIXTURES.md §B). Tables are
  * registered in a process-wide registry (executors share the JVM in
  * local mode; the backend itself holds only the connection it was
  * opened with). Every `call` is recorded for pushdown-plumbing
  * assertions (fixture scenario 5). */
class MockRfcBackend extends RfcBackend {
  import MockRfcBackend._

  private var connection: Option[RfcConnection] = None

  /** Records the handed-off connection so specs can assert the
    * credential plumbing end-to-end (option- and provider-based). */
  override def open(connection: Option[RfcConnection]): Unit = {
    this.connection = connection
    connection.foreach(recordOpen)
  }

  /** Records the release of that connection, so specs can match every
    * open with a close. */
  override def close(): Unit = connection.foreach(recordClose)

  override def call(queryTable: String, delimiter: String, rowSkips: Long,
                    rowCount: Int, fields: Seq[String],
                    options: Seq[String]): RfcPage = {
    record(Call(queryTable, delimiter, rowSkips, rowCount, fields, options))
    val t = tables.getOrElse(queryTable,
      sys.error(s"mock: no such table $queryTable"))
    val sel =
      if (fields.isEmpty) t.fields
      else t.fields.filter(f => fields.contains(f.fieldName))
    val selIdx = sel.map(t.fields.indexOf(_))
    val filtered = t.rows.filter(r => options.forall(evalOption(t, r, _)))
    // raw malformed WA rows ride along unprojected/unfiltered (they have
    // no parseable structure) — appended after the structured rows, then
    // paged as one logical sequence
    val allWa = filtered.map(r => selIdx.map(r(_)).mkString(delimiter)) ++
      t.rawWa
    // clamp both indices instead of truncating: .toInt (or the end-index
    // sum) past 2³¹ rows would wrap negative and silently empty the page
    val from = math.min(rowSkips, Int.MaxValue.toLong).toInt
    val until = math.min(rowSkips + math.max(rowCount, 0), Int.MaxValue.toLong).toInt
    val page = allWa.slice(from, until)
    RfcPage("TAB512", sel, page)
  }

  override def tableRowCount(queryTable: String,
                             options: Seq[String]): Option[Long] = {
    val t = tables.getOrElse(queryTable,
      sys.error(s"mock: no such table $queryTable"))
    if (t.hideRowCount) None
    else Some(t.rows.count(r => options.forall(evalOption(t, r, _))).toLong
      + t.rawWa.size)
  }

  /** Evaluates one OPTIONS WHERE fragment against a structured row.
    * Grammar = exactly what [[RfcScanBuilder]] generates:
    * `NAME OP 'value'`, `NAME LIKE 'pat'`, `NAME IN ('a','b',...)`. */
  private def evalOption(t: MockTable, row: Seq[String],
                         option: String): Boolean = {
    val in = InRe.findFirstMatchIn(option)
    val cmp = CmpRe.findFirstMatchIn(option)
    (in, cmp) match {
      case (Some(m), _) =>
        val cell = cellOf(t, row, m.group(1))
        // tokenize the quoted list properly ('' is an escaped quote — a
        // comma split would shred values containing commas), and compare
        // numerically on numeric columns (the cell text is zero-padded,
        // so 'DOCNUM IN ('3')' must match cell '0000000003' the same way
        // the comparison branch does)
        val vals = QuotedRe.findAllMatchIn(m.group(2))
          .map(_.group(1).replace("''", "'")).toSeq
        if (isNumericType(t, m.group(1))) {
          val cellNum = scala.util.Try(BigDecimal(cell)).toOption
          cellNum.exists(c => vals.exists(v =>
            scala.util.Try(BigDecimal(v)).toOption.contains(c)))
        } else vals.contains(cell)
      case (_, Some(m)) =>
        val cell = cellOf(t, row, m.group(1))
        val op = m.group(2)
        val v = m.group(3)
        val numeric = isNumericType(t, m.group(1))
        // tolerant-cast semantics on numeric columns: a cell that doesn't
        // parse (e.g. the scenario-3 "00ABC" DOCNUM) compares as NULL —
        // i.e. matches nothing — instead of crashing the scan
        def cmpNumOpt: Option[Int] =
          scala.util.Try(BigDecimal(cell.trim)).toOption
            .map(_.compare(BigDecimal(v)))
        def cmp: Option[Int] = if (numeric) cmpNumOpt else Some(cell.compare(v))
        op match {
          case "LIKE" =>
            val re = java.util.regex.Pattern.quote(v)
              .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q")
            cell.matches(re)
          case "=" => if (numeric) cmpNumOpt.contains(0) else cell == v
          case ">" => cmp.exists(_ > 0)
          case "<" => cmp.exists(_ < 0)
          case ">=" => cmp.exists(_ >= 0)
          case "<=" => cmp.exists(_ <= 0)
          case _ => sys.error(s"mock: unsupported op in $option")
        }
      case _ => sys.error(s"mock: unparseable OPTIONS fragment: $option")
    }
  }

  private def cellOf(t: MockTable, row: Seq[String], name: String): String = {
    val i = t.fields.indexWhere(_.fieldName == name)
    require(i >= 0, s"mock: unknown field $name")
    row(i).trim
  }

  private def isNumericType(t: MockTable, name: String): Boolean =
    t.fields.find(_.fieldName == name)
      .exists(f => Set("N", "I", "F", "P").contains(f.tpe))
}

object MockRfcBackend {
  private val InRe = """^(\w+) IN \((.+)\)$""".r
  private val CmpRe = """^(\w+) (=|<>|>=|<=|>|<|LIKE) '(.*)'$""".r
  private val QuotedRe = """'((?:[^']|'')*)'""".r

  /** `rows` are structured cell lists (projectable/filterable); `rawWa`
    * are pre-joined malformed WA strings for arity-error fixtures;
    * `hideRowCount` forces the sequential short-page planning path. */
  final case class MockTable(fields: Seq[RfcField], rows: Seq[Seq[String]],
                             rawWa: Seq[String] = Nil,
                             hideRowCount: Boolean = false)

  final case class Call(queryTable: String, delimiter: String,
                        rowSkips: Long, rowCount: Int,
                        fields: Seq[String], options: Seq[String])

  private val tables = TrieMap.empty[String, MockTable]
  private val callLog = new ArrayBuffer[Call]
  private val openLog = new ArrayBuffer[RfcConnection]
  private val closeLog = new ArrayBuffer[RfcConnection]

  def register(name: String, table: MockTable): Unit = tables.put(name, table)
  def clear(): Unit = {
    tables.clear()
    callLog.synchronized(callLog.clear())
    openLog.synchronized(openLog.clear())
    closeLog.synchronized(closeLog.clear())
  }
  def calls: Seq[Call] = callLog.synchronized(callLog.toList)
  def opens: Seq[RfcConnection] = openLog.synchronized(openLog.toList)
  def closes: Seq[RfcConnection] = closeLog.synchronized(closeLog.toList)
  private def record(c: Call): Unit = callLog.synchronized(callLog += c)
  private def recordOpen(c: RfcConnection): Unit =
    openLog.synchronized(openLog += c)
  private def recordClose(c: RfcConnection): Unit =
    closeLog.synchronized(closeLog += c)
}

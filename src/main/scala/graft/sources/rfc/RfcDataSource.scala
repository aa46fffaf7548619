package graft.sources.rfc

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.types.Ddic

/** `sap-rfc` DataSource V2 source (SURVEY.md §4.3, FIXTURES.md §B).
  *
  * Models the reference's R1/R2 source operator
  * (`/root/reference/pyrfc_read_table/pyrfc_read_table.py`) Spark-first:
  *
  *  - schema is discovered from the backend's FIELDS metadata (`:124-133`)
  *    via [[Ddic]] — never declared by the caller;
  *  - each `ROWSKIPS`/`ROWCOUNT` page (`:33,66-83`) becomes one
  *    [[InputPartition]] so pages read in parallel (the reference loops
  *    sequentially on the driver; when the backend cannot estimate a row
  *    count the source falls back to exactly that sequential short-page
  *    loop, `:68`);
  *  - column pruning, `=/</>/<=/>=/LIKE/IN` predicates, and limits push
  *    down into the call's `FIELDS`/`OPTIONS`/`ROWCOUNT` inputs — the RFC
  *    module's documented-but-unused-by-the-reference surface (`:71`,
  *    SURVEY.md §4.1);
  *  - WA rows are split/trimmed/arity-checked like R4/R5 (`:135-149`).
  *    The split scans for the literal `delimiter` with `indexOf` and keeps
  *    empty cells, as Python's `str.split` does; no regex is compiled per
  *    row, and an empty `delimiter` is refused when the options are read.
  *    Malformed rows follow Spark's CSV/JSON convention instead of the
  *    reference's side-channel: `mode=DROPMALFORMED` (default),
  *    `PERMISSIVE` (null row + `_corrupt_record` carrying the raw WA),
  *    or `FAILFAST`.
  *
  * Usage: `spark.read.format("sap-rfc").option("table", "ZSALES").load()`.
  */
class RfcTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sap-rfc"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = RfcOptions(options.asScala.toMap)
    val backend = conf.newBackend
    val meta = try backend.call(conf.table, conf.delimiter, 0, 0, Nil, Nil)
    finally backend.close()
    val base = StructType(meta.fields.map(f =>
      StructField(f.fieldName, Ddic.toSpark(f.tpe, f.length, f.decimals))))
    if (conf.permissive) base.add(StructField(RfcOptions.CorruptCol, StringType))
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new RfcTable(schema, RfcOptions(properties.asScala.toMap))
}

final case class RfcOptions(map: Map[String, String]) {
  private def get(k: String): Option[String] =
    map.collectFirst { case (key, v) if key.equalsIgnoreCase(k) => v }
  val table: String = get("table").getOrElse(
    throw new IllegalArgumentException("sap-rfc: 'table' option is required"))
  /** backtick, as the reference chooses (`pyrfc_read_table.py:32`). An
    * empty delimiter is refused: there is no empty cell separator to
    * split a WA row on. */
  val delimiter: String = get("delimiter").getOrElse("`")
  require(delimiter.nonEmpty, "sap-rfc: 'delimiter' option must not be empty")
  /** 100 000 rows/call, as the reference (`pyrfc_read_table.py:33`). */
  val pageSize: Int = get("pageSize").map(_.toInt).getOrElse(100000)
  require(pageSize > 0, s"sap-rfc: pageSize must be positive, got $pageSize")
  val mode: String = get("mode").map(_.toUpperCase).getOrElse("DROPMALFORMED")
  require(Set("PERMISSIVE", "DROPMALFORMED", "FAILFAST").contains(mode),
    s"sap-rfc: bad mode $mode")
  def permissive: Boolean = mode == "PERMISSIVE"
  val backendClass: String =
    get("backend").getOrElse(classOf[MockRfcBackend].getName)

  /** R10 credential surface (reference `pyrfc_read_table.py:91-117`,
    * option keys `README.md:164-168`): the five connection settings
    * arrive either as direct options (`ashost`/`sysnr`/`client`/
    * `user`/`passwd`) or resolved through a pluggable
    * [[RfcSecretsProvider]] (`secretsProvider` = class name,
    * `secretId` = what to resolve — the reference's Secrets Manager
    * lookup without the vendor SDK). A direct option overrides the
    * same key from the secret (per-job user override over a shared
    * secret). All five absent → `None` (the mock backend needs no
    * credentials); a PARTIAL set is an error naming the MISSING keys —
    * never echoing any provided value. LAZY, with provider resolution
    * MEMOIZED process-wide per (provider class, secretId): one
    * `load()` constructs RfcOptions in both `inferSchema` and
    * `getTable`, and an eager val cost two vault round trips (and two
    * audit-log entries) per read (r11 review). Rotation:
    * [[RfcOptions.clearSecretsCache]] — a session is one extraction
    * job in the reference's model, so per-job caching is the
    * reference's own behavior (it resolves the secret once at start). */
  lazy val connection: Option[RfcConnection] = {
    val fromSecret: Map[String, String] =
      (get("secretsProvider"), get("secretId")) match {
        case (Some(cls), Some(id)) =>
          RfcOptions.resolveCached(cls, id)
        case (Some(_), None) => throw new IllegalArgumentException(
          "sap-rfc: secretsProvider requires secretId")
        case (None, Some(_)) => throw new IllegalArgumentException(
          "sap-rfc: secretId requires secretsProvider")
        case _ => Map.empty
      }
    def key(k: String): Option[String] = get(k).orElse(fromSecret.get(k))
    val resolved = RfcOptions.ConnKeys.map(k => k -> key(k))
    if (resolved.forall(_._2.isEmpty)) None
    else {
      val missing = resolved.collect { case (k, None) => k }
      require(missing.isEmpty,
        s"sap-rfc: incomplete connection settings — missing " +
          s"${missing.mkString(", ")} (provide all of " +
          s"${RfcOptions.ConnKeys.mkString("/")} via options or a secret)")
      val m = resolved.collect { case (k, Some(v)) => k -> v }.toMap
      Some(RfcConnection(m("ashost"), m("sysnr"), m("client"),
        m("user"), m("passwd")))
    }
  }

  def newBackend: RfcBackend = {
    val b = Class.forName(backendClass)
      .getDeclaredConstructor().newInstance().asInstanceOf[RfcBackend]
    b.open(connection)
    b
  }

  /** The raw option map holds `passwd` — redact it (and any secret the
    * provider resolved stays off this object entirely), so a logged or
    * plan-printed RfcOptions can never leak the credential. */
  override def toString: String = {
    val shown = map.map { case (k, v) =>
      if (RfcOptions.Sensitive.contains(k.toLowerCase)) k -> "*****"
      else k -> v
    }
    s"RfcOptions($shown)"
  }
}

object RfcOptions {
  val CorruptCol = "_corrupt_record"
  /** The reference secret's key set (`README.md:164-168`). */
  val ConnKeys: Seq[String] = Seq("ashost", "sysnr", "client", "user",
    "passwd")
  private[rfc] val Sensitive = Set("passwd")

  private val secretCache =
    scala.collection.concurrent.TrieMap[(String, String), Map[String, String]]()

  private[rfc] def resolveCached(providerClass: String,
                                 secretId: String): Map[String, String] =
    secretCache.getOrElseUpdate((providerClass, secretId),
      Class.forName(providerClass).getDeclaredConstructor().newInstance()
        .asInstanceOf[RfcSecretsProvider].resolve(secretId)
        .map { case (k, v) => k.toLowerCase -> v })

  /** Drops memoized secret values (credential rotation mid-process). */
  def clearSecretsCache(): Unit = secretCache.clear()
}

class RfcTable(tableSchema: StructType, opts: RfcOptions)
  extends Table with SupportsRead {
  override def name(): String = s"sap-rfc:${opts.table}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new RfcScanBuilder(tableSchema, opts)
}

class RfcScanBuilder(fullSchema: StructType, opts: RfcOptions)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters with SupportsPushDownLimit
  with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var fragments: Seq[String] = Nil
  private var limit: Option[Int] = None
  private var countStarCols: Int = 0

  /** Output schema pruning always applies; the server-side FIELDS
    * projection additionally applies only in DROPMALFORMED mode. In
    * PERMISSIVE/FAILFAST the reader must see the full-width WA row —
    * arity validation against a pruned field list would let a malformed
    * full-width row coincidentally match the pruned arity and be
    * misclassified as good. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Translated predicates become server-side OPTIONS WHERE fragments; the
    * backend applies them exactly (mock included), so they are fully
    * handled. In PERMISSIVE mode nothing pushes: a server-side WHERE
    * would silently drop malformed rows the mode promises to surface. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (opts.permissive) { pushed = Array.empty; return filters }
    val translated = filters.map(f => f -> translate(f))
    pushed = translated.collect { case (f, Some(_)) => f }
    fragments = translated.collect { case (_, Some(s)) => s }.toSeq
    translated.collect { case (f, None) => f }
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  /** COUNT(*) pushdown — answered from the server's row count without
    * fetching a single page (the backend's `tableRowCount`, or the
    * reference's short-page loop counting un-parsed WA rows when the
    * server can't estimate). ONLY sound in PERMISSIVE mode: there every
    * WA row — malformed included — becomes exactly one output row, so
    * the server's raw count IS the query's count. In DROPMALFORMED the
    * reader may drop rows the server counted, and in FAILFAST the scan
    * is obligated to RAISE on a malformed row a count-only path would
    * never inspect — both would silently change semantics, so neither
    * pushes. Spark only offers the aggregate when every filter pushed
    * (PERMISSIVE pushes none, so any filtered count stays Spark-side
    * — also correct). */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    canPushCount(agg)

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (!canPushCount(agg)) return false
    countStarCols = agg.aggregateExpressions.length
    true
  }

  private def canPushCount(agg: Aggregation): Boolean =
    opts.permissive && limit.isEmpty && fragments.isEmpty &&
      agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall(_.isInstanceOf[CountStar])

  override def build(): Scan =
    if (countStarCols > 0) new RfcCountScan(opts, countStarCols)
    else new RfcScan(required, opts, fragments, limit)

  /** Only values whose toString matches the backend's cell text format
    * may push: strings and plain numerics. Dates/timestamps/binary
    * serialize differently than their DDIC cell form ('2024-01-15' vs
    * '20240115') — pushing them would compare against text that never
    * matches; they stay Spark-side where the typed column compares
    * correctly. */
  private def quote(v: Any): Option[String] = v match {
    case s: String => Some("'" + s.replace("'", "''") + "'")
    case (_: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
          _: java.lang.Byte | _: java.lang.Float | _: java.lang.Double |
          _: java.math.BigDecimal) =>
      Some("'" + v.toString + "'")
    case _ => None // null, Date, Timestamp, Array[Byte], ...
  }

  private def translate(f: Filter): Option[String] = f match {
    case EqualTo(a, v) => quote(v).map(q => s"$a = $q")
    case GreaterThan(a, v) => quote(v).map(q => s"$a > $q")
    case GreaterThanOrEqual(a, v) => quote(v).map(q => s"$a >= $q")
    case LessThan(a, v) => quote(v).map(q => s"$a < $q")
    case LessThanOrEqual(a, v) => quote(v).map(q => s"$a <= $q")
    case In(a, vs) if vs.nonEmpty && !vs.contains(null) =>
      // all-or-nothing: if ANY value fails to quote (Date/Timestamp/
      // binary), the whole IN stays Spark-side — a partial list would
      // silently drop matching rows, and an empty one malforms OPTIONS
      val qs = vs.map(quote)
      if (qs.forall(_.isDefined)) Some(s"$a IN (${qs.flatten.mkString(",")})")
      else None
    // only push when the literal is free of LIKE metacharacters: a '%'
    // or '_' inside the value would be interpreted as a wildcard
    // server-side (ABAP LIKE), silently widening the Spark contract
    // (startsWith/endsWith/contains are literal matches) — such filters
    // stay Spark-side
    case StringStartsWith(a, v) if !hasLikeMeta(v) =>
      quote(v + "%").map(q => s"$a LIKE $q")
    case StringEndsWith(a, v) if !hasLikeMeta(v) =>
      quote("%" + v).map(q => s"$a LIKE $q")
    case StringContains(a, v) if !hasLikeMeta(v) =>
      quote("%" + v + "%").map(q => s"$a LIKE $q")
    case _ => None
  }

  private def hasLikeMeta(v: String): Boolean =
    v.contains("%") || v.contains("_")
}

final case class RfcInputPartition(rowSkips: Long, rowCount: Long)
  extends InputPartition

/** R12 — observable per-page telemetry. The reference prints per-page
  * result/data/err/total counts as it loops
  * (`pyrfc_read_table.py:119-122,151-153`), which its operators watch in
  * CloudWatch; the DSv2 equivalent is `CustomMetric`s on the scan, which
  * Spark aggregates from every task's `currentMetricsValues()` into the
  * SQL UI / listener bus — a long extraction shows live page progress
  * instead of an opaque running stage. Sum-aggregated task metrics;
  * names are the join key between [[RfcScan.supportedCustomMetrics]]
  * and [[RfcPartitionReader.currentMetricsValues]]. */
private object RfcMetrics {
  val PagesName = "rfcPagesFetched"
  val RowsName = "rfcWaRowsRead"
  val ErrName = "rfcErrRows"
  final class Pages extends CustomSumMetric {
    override def name(): String = PagesName
    override def description(): String = "RFC pages fetched"
  }
  final class Rows extends CustomSumMetric {
    override def name(): String = RowsName
    override def description(): String = "RFC WA rows read"
  }
  final class Errs extends CustomSumMetric {
    override def name(): String = ErrName
    override def description(): String = "RFC malformed WA rows"
  }
  def all: Array[CustomMetric] = Array(new Pages, new Rows, new Errs)
  final case class Task(metricName: String, v: Long) extends CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = v
  }
}

/** The completely-pushed COUNT(*) scan: one partition, one row, no page
  * fetch when the backend can count server-side. */
class RfcCountScan(opts: RfcOptions, nCols: Int) extends Scan with Batch {
  private val schema = StructType(
    (0 until nCols).map(i => StructField(s"count_star_$i", LongType,
      nullable = false)))
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"sap-rfc table=${opts.table} PushedAggregates=[COUNT(*)]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(RfcInputPartition(0, 0))
  override def createReaderFactory(): PartitionReaderFactory = {
    // force the lazy credential resolution ON THE DRIVER before the
    // options object ships: this scan never calls newBackend
    // driver-side, and an unforced lazy val would first resolve inside
    // the executor JVM — where the vault may not be reachable and the
    // per-JVM memo cache is empty (r11 review)
    opts.connection
    new RfcCountReaderFactory(opts, nCols)
  }
}

class RfcCountReaderFactory(opts: RfcOptions, nCols: Int)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var done = false
      private var row: InternalRow = _
      private var backend: RfcBackend = _
      override def next(): Boolean = {
        if (done) return false
        backend = opts.newBackend
        val n = backend.tableRowCount(opts.table, Nil).getOrElse {
          // server can't estimate: the reference's sequential short-page
          // termination loop, counting WA rows WITHOUT parsing them
          var total = 0L
          var skip = 0L
          var go = true
          while (go) {
            val page = backend.call(opts.table, opts.delimiter, skip,
              opts.pageSize, Nil, Nil)
            total += page.rows.size
            skip += page.rows.size
            go = page.rows.size == opts.pageSize
          }
          total
        }
        row = new GenericInternalRow(
          Array.fill[Any](nCols)(n).asInstanceOf[Array[Any]])
        done = true
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = if (backend != null) backend.close()
    }
}

class RfcScan(prunedSchema: StructType, opts: RfcOptions,
              fragments: Seq[String], limit: Option[Int])
  extends Scan with Batch {

  override def readSchema(): StructType = prunedSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"sap-rfc table=${opts.table} options=[${fragments.mkString(", ")}]" +
      limit.fold("")(l => s" limit=$l")

  /** One partition per `ROWSKIPS`/`ROWCOUNT` page when the backend can
    * estimate the (post-OPTIONS) row count; otherwise a single partition
    * running the reference's sequential short-page loop. */
  override def planInputPartitions(): Array[InputPartition] = {
    val backend = opts.newBackend
    val est = try backend.tableRowCount(opts.table, fragments)
    finally backend.close()
    est match {
      case Some(n0) =>
        val n = limit.fold(n0)(l => math.min(n0, l.toLong))
        if (n <= 0) Array(RfcInputPartition(0, 0))
        else {
          val pages = ((n + opts.pageSize - 1) / opts.pageSize).toInt
          (0 until pages).map { i =>
            val skip = i.toLong * opts.pageSize
            RfcInputPartition(skip, math.min(opts.pageSize.toLong, n - skip))
          }.toArray
        }
      case None =>
        Array(RfcInputPartition(0, limit.fold(-1L)(_.toLong)))
    }
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    RfcMetrics.all

  override def createReaderFactory(): PartitionReaderFactory = {
    opts.connection // resolve credentials on the DRIVER (see RfcCountScan)
    new RfcReaderFactory(prunedSchema, opts, fragments)
  }
}

class RfcReaderFactory(schema: StructType, opts: RfcOptions,
                       fragments: Seq[String])
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rp = p.asInstanceOf[RfcInputPartition]
    new RfcPartitionReader(schema, opts, fragments, rp.rowSkips, rp.rowCount)
  }
}

/** Reads one page range. `rowCount >= 0`: exactly that many rows were
  * planned (single call). `rowCount = -1`: unknown total — loop pages of
  * `pageSize` until a short page, the reference's termination contract
  * (`pyrfc_read_table.py:68`). */
class RfcPartitionReader(schema: StructType, opts: RfcOptions,
                         fragments: Seq[String], startSkip: Long,
                         rowCount: Long)
  extends PartitionReader[InternalRow] {

  private val backend = opts.newBackend
  // server-side FIELDS projection only when malformed rows are dropped:
  // PERMISSIVE/FAILFAST need the full-width WA so arity validation can't
  // be fooled by a malformed row that matches the pruned width
  private val projected: Seq[String] =
    if (opts.mode == "DROPMALFORMED")
      schema.fieldNames.filterNot(_ == RfcOptions.CorruptCol).toSeq
    else Nil // empty FIELDS ⇒ backend returns all columns

  private var pageFields: Seq[RfcField] = Nil
  // schema position -> (WA cell index, DDIC field); -1 for _corrupt_record
  private var colMap: Array[(Int, RfcField)] = _
  private var buf: Iterator[String] = Iterator.empty
  private var nextSkip = startSkip
  private var remaining = rowCount
  private var exhausted = false
  private var current: InternalRow = _
  // R12 telemetry (see [[RfcMetrics]]) — polled by Spark during the task
  private var pagesFetched = 0L
  private var rowsRead = 0L
  private var errRows = 0L

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    RfcMetrics.Task(RfcMetrics.PagesName, pagesFetched),
    RfcMetrics.Task(RfcMetrics.RowsName, rowsRead),
    RfcMetrics.Task(RfcMetrics.ErrName, errRows))

  private def fetchPage(): Boolean = {
    if (exhausted) return false
    val ask =
      if (remaining < 0) opts.pageSize
      else math.min(remaining, opts.pageSize.toLong).toInt
    if (ask == 0) { exhausted = true; return false }
    val page = backend.call(opts.table, opts.delimiter, nextSkip, ask,
      projected, fragments)
    pagesFetched += 1
    rowsRead += page.rows.size
    if (colMap == null) {
      pageFields = page.fields
      colMap = schema.fields.map { sf =>
        if (sf.name == RfcOptions.CorruptCol) (-1, null)
        else {
          val i = pageFields.indexWhere(_.fieldName == sf.name)
          require(i >= 0, s"sap-rfc: field ${sf.name} missing from FIELDS")
          (i, pageFields(i))
        }
      }
    }
    nextSkip += page.rows.size
    if (remaining >= 0) remaining -= page.rows.size
    // short page ⇒ done (`:68`); planned pages are single-shot anyway
    if (page.rows.size < ask || remaining == 0) exhausted = true
    buf = page.rows.iterator
    page.rows.nonEmpty
  }

  override def next(): Boolean = {
    while (true) {
      if (buf.hasNext) {
        val wa = buf.next()
        parse(wa) match {
          case Some(row) => current = row; return true
          case None => // malformed handled per mode; DROPMALFORMED loops
        }
      } else if (!fetchPage() && !buf.hasNext) {
        return false
      }
    }
    false
  }

  /** R4/R5 semantics: strip + split (trailing empties kept) + arity check
    * + per-cell trim; typed per DDIC code with per-value tolerance. */
  private def parse(wa: String): Option[InternalRow] = {
    val parts = RfcPartitionReader.split(wa.strip(), opts.delimiter)
    if (parts.length != pageFields.size) {
      errRows += 1
      opts.mode match {
        case "FAILFAST" => throw new IllegalStateException(
          s"sap-rfc: malformed WA row (arity ${parts.length} != " +
            s"${pageFields.size}): $wa")
        case "PERMISSIVE" =>
          val vals = colMap.map {
            case (-1, _) => UTF8String.fromString(wa)
            case _ => null
          }
          Some(new GenericInternalRow(vals.asInstanceOf[Array[Any]]))
        case _ => None // DROPMALFORMED
      }
    } else {
      val vals = colMap.map {
        case (-1, _) => null
        case (i, f) =>
          Ddic.parseCatalyst(parts(i).trim, f.tpe, f.length, f.decimals)
      }
      Some(new GenericInternalRow(vals.asInstanceOf[Array[Any]]))
    }
  }

  override def get(): InternalRow = current
  override def close(): Unit = backend.close()
}

object RfcPartitionReader {
  /** `s` split on every occurrence of the non-empty literal `d`, scanning
    * left to right without overlap, with leading, trailing and adjacent
    * empty cells kept: exactly `s.split(Pattern.quote(d), -1)`, without
    * compiling a pattern per row. */
  private[rfc] def split(s: String, d: String): Array[String] = {
    val cells = new util.ArrayList[String]
    var from = 0
    var at = s.indexOf(d)
    while (at >= 0) {
      cells.add(s.substring(from, at))
      from = at + d.length
      at = s.indexOf(d, from)
    }
    cells.add(s.substring(from))
    cells.toArray(new Array[String](cells.size))
  }
}

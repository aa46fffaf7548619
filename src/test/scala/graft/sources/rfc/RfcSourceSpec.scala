package graft.sources.rfc

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sources.rfc.MockRfcBackend.MockTable

/** The six fixture scenarios of FIXTURES.md §B against the `sap-rfc`
  * DSv2 source served by the deterministic mock backend. */
class RfcSourceSpec extends AnyFunSuite with BeforeAndAfterEach {
  private lazy val spark = SparkTestBase.spark

  // Canonical ZSALES fixture — every DDIC code in the map (FIXTURES.md §B)
  private val zfields = Seq(
    RfcField("MANDT", "C"), RfcField("DOCNUM", "N"),
    RfcField("DOCDATE", "D"), RfcField("DOCTIME", "T"),
    RfcField("AMOUNT", "P", 13, 2), RfcField("QTY", "I"),
    RfcField("RATE", "F"), RfcField("FLAG", "X"), RfcField("NOTE", "C"))

  private def zrow(i: Int): Seq[String] = Seq(
    "100", f"$i%010d", "20240115", "134501", "199.99", s"$i",
    "1.0825", "0A", s" padded text $i ")

  override def beforeEach(): Unit = MockRfcBackend.clear()

  private def read(extra: (String, String)*): DataFrame = {
    val base = spark.read.format("sap-rfc").option("table", "ZSALES")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  test("1: happy page — 5 well-formed rows, full DDIC typing") {
    MockRfcBackend.register("ZSALES",
      MockTable(zfields, (1 to 5).map(zrow)))
    val df = read()
    assert(df.schema.fieldNames.toSeq == zfields.map(_.fieldName))
    val rows = df.orderBy("DOCNUM").collect()
    assert(rows.length == 5)
    val r = rows.head
    assert(r.getAs[String]("MANDT") == "100")
    assert(r.getAs[Long]("DOCNUM") == 1L)            // N → long, zeros ok
    assert(r.getAs[Date]("DOCDATE") == Date.valueOf("2024-01-15"))
    assert(r.getAs[String]("DOCTIME") == "134501")
    assert(r.getAs[java.math.BigDecimal]("AMOUNT")
      .compareTo(new java.math.BigDecimal("199.99")) == 0)
    assert(r.getAs[Int]("QTY") == 1)
    assert(r.getAs[Double]("RATE") == 1.0825)
    assert(r.getAs[Array[Byte]]("FLAG").toSeq == Seq(0x0a.toByte))
    assert(r.getAs[String]("NOTE") == "padded text 1") // trimmed
  }

  test("2: arity underflow/overflow routes per mode") {
    val bad = Seq(
      "100`2`20240101",                                     // underflow
      "100`3`20240101`120000`1.00`1`1.0`0A`note`extra")     // embedded delim
    MockRfcBackend.register("ZSALES",
      MockTable(zfields, (1 to 3).map(zrow), rawWa = bad))

    assert(read().count() == 3) // DROPMALFORMED (default) keeps good only

    val perm = read("mode" -> "PERMISSIVE")
    assert(perm.schema.fieldNames.last == "_corrupt_record")
    assert(perm.count() == 5)
    val corrupt = perm.filter(col("_corrupt_record").isNotNull)
      .select("_corrupt_record").collect().map(_.getString(0)).sorted
    assert(corrupt.toSeq == bad.sorted) // raw WA kept, other cols null
    assert(perm.filter(col("_corrupt_record").isNotNull)
      .filter(col("DOCNUM").isNotNull).count() == 0)

    val ex = intercept[Exception] { read("mode" -> "FAILFAST").count() }
    val chain = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(_.toString).mkString("\n")
    assert(chain.contains("malformed"))
  }

  test("3: tolerant N-cast — malformed numeric text is per-value null") {
    MockRfcBackend.register("ZSALES", MockTable(zfields, Seq(
      zrow(1), zrow(2).updated(1, "00ABC"))))
    val got = read().select("DOCNUM").collect().map(r =>
      if (r.isNullAt(0)) null else r.getLong(0))
    assert(got.toSet == Set[Any](1L, null))
  }

  test("4a: pagination — known count plans one partition per page") {
    MockRfcBackend.register("ZSALES",
      MockTable(zfields, (0 until 250).map(zrow)))
    val df = read("pageSize" -> "100")
    assert(df.rdd.getNumPartitions == 3) // 100/100/50
    assert(df.select("DOCNUM").collect().map(_.getLong(0)).toSet ==
      (0 until 250).map(_.toLong).toSet) // ROWSKIPS honored, no dup/loss
    val dataCalls = MockRfcBackend.calls.filter(_.rowCount > 0)
    assert(dataCalls.map(c => (c.rowSkips, c.rowCount)).toSet ==
      Set((0L, 100), (100L, 100), (200L, 50)))
  }

  test("4b: pagination — unknown count falls back to sequential " +
    "short-page loop and stops after the short page") {
    MockRfcBackend.register("ZSALES",
      MockTable(zfields, (0 until 250).map(zrow), hideRowCount = true))
    val df = read("pageSize" -> "100")
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 250)
    val dataCalls = MockRfcBackend.calls.filter(_.rowCount > 0)
    // 3 calls: 100, 100, then the 50-row short page terminates the loop
    assert(dataCalls.map(c => (c.rowSkips, c.rowCount)) ==
      Seq((0L, 100), (100L, 100), (200L, 100)))
  }

  test("5: pushdown plumbing — FIELDS, OPTIONS, and ROWCOUNT arrive") {
    MockRfcBackend.register("ZSALES",
      MockTable(zfields, (0 until 50).map(zrow)))
    val got = read()
      .select("MANDT", "QTY")
      .filter(col("QTY") > 10 && col("NOTE").startsWith("padded"))
      .collect()
    assert(got.length == 39 && got.head.schema.fieldNames.length == 2)
    val dataCalls = MockRfcBackend.calls.filter(_.rowCount > 0)
    assert(dataCalls.nonEmpty)
    val c = dataCalls.head
    // column prune reaches FIELDS: the projected columns arrive; unused
    // ones (e.g. DOCDATE) do not (NOTE may or may not ride along
    // depending on whether Spark keeps pushed filters' inputs required)
    assert(Set("MANDT", "QTY").subsetOf(c.fields.toSet))
    assert(!c.fields.contains("DOCDATE"))
    assert(c.options.toSet ==
      Set("QTY > '10'", "NOTE LIKE 'padded%'"))

    MockRfcBackend.clear()
    MockRfcBackend.register("ZSALES",
      MockTable(zfields, (0 until 50).map(zrow)))
    assert(read().limit(7).collect().length == 7)
    val limited = MockRfcBackend.calls.filter(_.rowCount > 0)
    assert(limited.forall(_.rowCount <= 7)) // limit reached ROWCOUNT
  }

  test("7: typed-column (date) filters stay Spark-side and compare " +
    "correctly (toString would not match the DDIC cell format)") {
    val rows = (1 to 5).map(zrow).toList
      .updated(2, zrow(3).updated(2, "20240116"))
    MockRfcBackend.register("ZSALES", MockTable(zfields, rows))
    val got = read()
      .filter(col("DOCDATE") === java.sql.Date.valueOf("2024-01-16"))
      .select("DOCNUM").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(3L))
    // the date predicate must NOT have been pushed as an OPTIONS string
    assert(MockRfcBackend.calls.forall(
      _.options.forall(!_.contains("DOCDATE"))))
  }

  test("8: pushed numeric filter treats unparseable cells as null " +
    "(matches tolerant-cast semantics; no crash)") {
    MockRfcBackend.register("ZSALES", MockTable(zfields, Seq(
      zrow(1), zrow(5), zrow(9).updated(1, "00ABC"))))
    val got = read().filter(col("DOCNUM") > 1L).select("DOCNUM").collect()
    assert(got.map(_.getLong(0)).toSet == Set(5L)) // 1 excluded, ABC null
    assert(MockRfcBackend.calls.exists(
      _.options.exists(_.startsWith("DOCNUM >"))))
  }

  test("9: PERMISSIVE keeps full-width arity validation under projection " +
    "(a 1-cell malformed row must not satisfy a 1-column prune)") {
    MockRfcBackend.register("ZSALES",
      MockTable(zfields, (1 to 3).map(zrow), rawWa = Seq("loneval")))
    val perm = read("mode" -> "PERMISSIVE")
      .select("MANDT", "_corrupt_record")
    assert(perm.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(perm.filter(col("_corrupt_record").isNull).count() == 3)
  }

  test("10: IN over a typed (date) column stays Spark-side — a partial " +
    "or empty pushed IN list would silently drop rows") {
    val rows = (1 to 5).map(zrow).toList
      .updated(2, zrow(3).updated(2, "20240116"))
    MockRfcBackend.register("ZSALES", MockTable(zfields, rows))
    val got = read()
      .filter(col("DOCDATE").isin(
        java.sql.Date.valueOf("2024-01-16"), java.sql.Date.valueOf("2030-01-01")))
      .select("DOCNUM").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(3L))
    // must not appear in OPTIONS at all (all-or-nothing translate)
    assert(MockRfcBackend.calls.forall(
      _.options.forall(!_.contains("DOCDATE"))))
    // a string IN still pushes fully
    MockRfcBackend.clear()
    MockRfcBackend.register("ZSALES", MockTable(zfields, rows))
    assert(read().filter(col("MANDT").isin("100", "200")).count() == 5)
    assert(MockRfcBackend.calls.exists(
      _.options.contains("MANDT IN ('100','200')")))
  }

  test("11: numeric IN pushes and matches zero-padded cells numerically; " +
    "LIKE-metacharacter prefixes stay Spark-side") {
    MockRfcBackend.register("ZSALES", MockTable(zfields, (1 to 5).map(zrow)))
    // DOCNUM cells are '0000000003'-style; a pushed IN ('3','4') must
    // still match them (numeric compare, like the > < branches)
    val got = read().filter(col("DOCNUM").isin(3L, 4L))
      .select("DOCNUM").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(3L, 4L))
    assert(MockRfcBackend.calls.exists(
      _.options.contains("DOCNUM IN ('3','4')")))
    // 'padded_' contains a LIKE wildcard char: the filter must not push
    // (server-side LIKE would treat '_' as any-char), and must still
    // evaluate correctly Spark-side
    MockRfcBackend.clear()
    MockRfcBackend.register("ZSALES", MockTable(zfields, (1 to 5).map(zrow)))
    assert(read().filter(col("NOTE").startsWith("padded_")).count() == 0)
    assert(MockRfcBackend.calls.forall(_.options.forall(!_.contains("LIKE"))))
  }

  test("6: empty table — zero rows, schema still inferred from FIELDS") {
    MockRfcBackend.register("ZSALES", MockTable(zfields, Nil))
    val df = read()
    assert(df.schema.fieldNames.toSeq == zfields.map(_.fieldName))
    assert(df.count() == 0)
  }

  test("13: the test-1 fixture reads the same typed rows with delimiters " +
    "that are regex metacharacters") {
    MockRfcBackend.register("ZSALES",
      MockTable(zfields, (1 to 5).map(zrow)))
    // FLAG is binary: compare its bytes, not the array reference
    def rows(delim: String): Seq[Seq[Any]] =
      read("delimiter" -> delim).orderBy("DOCNUM").collect().toSeq
        .map(_.toSeq.map {
          case b: Array[Byte] => b.toSeq
          case v => v
        })
    val backtick = rows("`")
    assert(backtick.length == 5)
    assert(rows("|") == backtick)
    assert(rows("\\E|") == backtick)
  }

  test("14: an empty delimiter is refused, naming the option, instead " +
    "of losing every row") {
    MockRfcBackend.register("ZSALES", MockTable(
      Seq(RfcField("DOCNUM", "N"), RfcField("MANDT", "C"),
        RfcField("NOTE", "C")),
      Seq(Seq("0000000001", "100", "a"), Seq("0000000002", "100", "b"),
        Seq("0000000003", "100", "c"))))
    for (mode <- Seq("DROPMALFORMED", "PERMISSIVE", "FAILFAST")) {
      val e = intercept[IllegalArgumentException] {
        read("delimiter" -> "", "mode" -> mode).collect()
      }
      assert(e.getMessage.contains("delimiter"), mode)
    }
  }

  // ---- R10 credential surface (reference pyrfc_read_table.py:91-117) ----

  private val conn = Map("ashost" -> "sap.example.internal",
    "sysnr" -> "00", "client" -> "100", "user" -> "RFC_USER",
    "passwd" -> "s3cret-Hunter2")

  test("12a: option-based connection settings reach the backend; passwd " +
    "never appears in plan, describe, or options toString") {
    MockRfcBackend.register("ZSALES", MockTable(zfields, (1 to 3).map(zrow)))
    val df = read(conn.toSeq: _*)
    assert(df.count() == 3)
    val opens = MockRfcBackend.opens
    assert(opens.nonEmpty, "backend never received a connection")
    assert(opens.forall(_ == RfcConnection("sap.example.internal", "00",
      "100", "RFC_USER", "s3cret-Hunter2")))
    // leak sweep: the credential must be invisible in every user-facing
    // rendering — plan text, formatted explain, connection toString
    val plans = Seq(
      df.queryExecution.executedPlan.toString,
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")),
      df.queryExecution.logical.toString)
    plans.foreach(p => assert(!p.contains("s3cret-Hunter2"),
      "passwd leaked into plan output"))
    assert(!opens.head.toString.contains("s3cret-Hunter2"))
    assert(opens.head.toString.contains("*****"))
    assert(!RfcOptions(conn + ("table" -> "ZSALES")).toString
      .contains("s3cret-Hunter2"))
  }

  test("12b: provider-resolved secret connects; a direct option " +
    "overrides the same key from the secret; ONE vault lookup per " +
    "read (memoized — inferSchema + getTable must not double it)") {
    MockRfcSecretsProvider.clear()
    RfcOptions.clearSecretsCache()
    MockRfcSecretsProvider.register("sap/prod", conn)
    MockRfcBackend.register("ZSALES", MockTable(zfields, (1 to 2).map(zrow)))
    val before = MockRfcSecretsProvider.resolves.get()
    val df = read(
      "secretsProvider" -> classOf[MockRfcSecretsProvider].getName,
      "secretId" -> "sap/prod",
      "user" -> "OVERRIDE_USER") // per-job override of the shared secret
    assert(df.count() == 2)
    val opens = MockRfcBackend.opens
    assert(opens.nonEmpty)
    assert(opens.forall(c => c.user == "OVERRIDE_USER" &&
      c.passwd == "s3cret-Hunter2" && c.ashost == "sap.example.internal"))
    assert(MockRfcSecretsProvider.resolves.get() - before == 1,
      "the secret was resolved more than once for one read")
  }

  test("12c: a partial credential set fails naming the MISSING keys " +
    "and echoing no values; provider/secretId require each other") {
    MockRfcBackend.register("ZSALES", MockTable(zfields, Nil))
    val e = intercept[IllegalArgumentException] {
      read("ashost" -> "h", "user" -> "u", "passwd" -> "pw-leak-canary")
        .collect()
    }
    assert(e.getMessage.contains("sysnr") && e.getMessage.contains("client"))
    assert(!e.getMessage.contains("pw-leak-canary"),
      "error message echoed a credential value")
    intercept[IllegalArgumentException] {
      read("secretsProvider" -> classOf[MockRfcSecretsProvider].getName)
        .collect()
    }
    intercept[IllegalArgumentException] {
      read("secretId" -> "sap/prod2").collect()
    }
  }
}

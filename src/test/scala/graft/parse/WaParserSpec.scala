package graft.parse

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Unit cases for the WA parse/route semantics (SURVEY.md §5.2.2;
  * reference `/root/reference/pyrfc_read_table/pyrfc_read_table.py`):
  * exact-arity rows pass, under/over-arity rows route to err (`:143-149`),
  * cells are trimmed (`:142,169`). Property coverage is in
  * [[WaParserProps]]. */
class WaParserSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val names = Seq("a", "b", "c")

  test("exact-arity row parses with trimmed cells") {
    val df = Seq(" x ` y `z").toDF("wa")
    val good = WaParser.goodRows(df, "wa", names).as[(String, String, String)]
    assert(good.collect().toSeq == Seq(("x", "y", "z")))
    assert(WaParser.errRows(df, "wa", names.length).count() == 0)
  }

  test("under-arity row routes to err") {
    val df = Seq("x`y").toDF("wa")
    assert(WaParser.goodRows(df, "wa", names).count() == 0)
    val err = WaParser.errRows(df, "wa", names.length)
    assert(err.count() == 1)
    assert(err.select("arity").as[Int].head() == 2)
  }

  test("embedded delimiter inside a value routes to err (over-arity)") {
    val df = Seq("x`y`z`extra").toDF("wa")
    assert(WaParser.goodRows(df, "wa", names).count() == 0)
    assert(WaParser.errRows(df, "wa", names.length)
      .select("arity").as[Int].head() == 4)
  }

  test("empty trailing field is kept (split limit -1, like str.split)") {
    val df = Seq("x`y`").toDF("wa")
    val good = WaParser.goodRows(df, "wa", names).as[(String, String, String)]
    assert(good.collect().toSeq == Seq(("x", "y", "")))
  }

  test("good and err partition the input (no row lost or duplicated)") {
    val df = Seq("a`b`c", "a`b", "a`b`c`d", "`b`", "x` `z").toDF("wa")
    val g = WaParser.goodRows(df, "wa", names).count()
    val e = WaParser.errRows(df, "wa", names.length).count()
    assert(g == 3 && e == 2)
  }

  test("an empty delimiter is refused by goodRows and errRows, naming " +
    "it, instead of splitting rows into characters") {
    val df = Seq("a`b`c", "abc").toDF("wa")
    val good = intercept[IllegalArgumentException] {
      WaParser.goodRows(df, "wa", names, delimiter = "")
    }
    val err = intercept[IllegalArgumentException] {
      WaParser.errRows(df, "wa", names.length, delimiter = "")
    }
    for (e <- Seq(good, err)) assert(e.getMessage.contains("delimiter"))
  }
}

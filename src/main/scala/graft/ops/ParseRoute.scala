package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.parse.WaParser

/** q02/q03 — the reference's delimited-parse + arity-validation + error
  * routing semantics (`pyrfc_read_table.py:135-149`), re-created on testdata
  * by first *building* WA strings from lineitem columns with the reference's
  * backtick delimiter (`pyrfc_read_table.py:32`). */
object ParseRoute {

  /** q02: well-formed WA rows parse back to their fields (trimmed). */
  def q02RfcParseValidate(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "lineitem")
      .select(
        col("l_orderkey").cast("string").as("k"),
        col("l_returnflag").as("f"),
        col("l_linestatus").as("st"))
      .distinct()
      .select(concat_ws(WaParser.DefaultDelimiter, col("k"), col("f"), col("st")).as("wa"))
    WaParser
      .goodRows(base, "wa", Seq("l_orderkey", "l_returnflag", "l_linestatus"))
      .orderBy("l_orderkey", "l_returnflag", "l_linestatus")
  }

  /** q03: rows with an embedded delimiter inside a value over-split and are
    * routed to the error branch; returns `(l_orderkey, arity)`. */
  def q03ErrRouting(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "lineitem")
      .filter(col("l_orderkey") % 97 === 0)
      .select(
        col("l_orderkey"),
        concat_ws(WaParser.DefaultDelimiter,
          col("l_orderkey").cast("string"),
          concat(col("l_returnflag"), lit(WaParser.DefaultDelimiter)),
          col("l_linestatus")).as("wa"))
    WaParser.errRows(base, "wa", nFields = 3)
      .select(col("l_orderkey"), col("arity"))
      .distinct()
      .orderBy("l_orderkey")
  }

  /** q285: err-channel REPLAY — the missing half of the reference's
    * routing story (`pyrfc_read_table.py:135-149` routes bad rows to
    * the err sink and stops): once the corruption is diagnosed (here:
    * the q03 embedded delimiter, which over-splits into an empty
    * field), operations writes a REPAIR rule, re-parses the err
    * channel, and merges the repaired rows back — WITHOUT ever
    * duplicating a row the good channel already delivered (the
    * anti-join is the replay's safety contract, and it is what makes
    * replay idempotent: re-running it against an already-merged table
    * adds nothing).
    *
    * Universe: the q02 distinct triple grain; orders divisible by 97
    * corrupt in transit (the q03 fixture). The repair collapses the
    * doubled delimiter and re-parses; output is the merged table with
    * the delivery channel — counts reconcile to the universe exactly
    * (ParseRoute's spec pins channel disjointness and totality).
    *
    * Scale shape: two scans of the WA frame (good parse, err parse —
    * in production these are two different sinks), one broadcast-able
    * anti-join on the key triple, a union — no window, no driver
    * loop.
    *
    * The WA frame is materialized ONCE (localCheckpoint — r17
    * optimization): it has THREE consumers (the good parse, the err
    * parse, and the good side of the anti-join), and without the
    * checkpoint each consumer re-ran the lineitem scan AND the distinct
    * exchange, with the parse's split/concat filters pushed BELOW the
    * distinct onto every raw row — the measured plan carried three
    * HashAggregate+Exchange distinct subtrees over the full table.
    * In production this is
    * exactly the staging write between the extract and its two sinks
    * (guide §3.3: materialize an intermediate consumed by several
    * branches); 3 scans + 3 distinct shuffles become 1 + an in-memory
    * re-read, and the bench min dropped ~5.0 s → ~1.3 s. */
  def q285ErrataReplay(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_orderkey", "l_returnflag", "l_linestatus")
    val base = T(s, dir, "lineitem")
      .select(
        col("l_orderkey").cast("string").as("k"),
        col("l_returnflag").as("f"),
        col("l_linestatus").as("st"))
      .distinct()
      .select(col("k"), concat_ws(WaParser.DefaultDelimiter,
        col("k"),
        // orders divisible by 97 corrupt in transit (q03's fixture)
        when(col("k").cast("long") % 97 === 0,
          concat(col("f"), lit(WaParser.DefaultDelimiter)))
          .otherwise(col("f")),
        col("st")).as("wa"))
      .localCheckpoint()
    val good = WaParser.goodRows(base.select("wa"), "wa", cols)
      .withColumn("channel", lit("good"))
    val repaired = WaParser
      .errRows(base.select("wa"), "wa", nFields = 3)
      .select(regexp_replace(col("wa"),
        java.util.regex.Pattern.quote(WaParser.DefaultDelimiter) + "{2}",
        java.util.regex.Matcher.quoteReplacement(WaParser.DefaultDelimiter))
        .as("wa"))
    val replayed = WaParser.goodRows(repaired, "wa", cols)
      // the safety contract: never re-deliver a row the good channel
      // already carried (makes replay idempotent)
      .join(good.select(cols.map(col): _*), cols, "left_anti")
      .withColumn("channel", lit("replayed"))
    good.unionByName(replayed)
      .orderBy("l_orderkey", "l_returnflag", "l_linestatus")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q02_rfc_parse_validate" -> q02RfcParseValidate _,
    "q03_err_routing" -> q03ErrRouting _,
    "q285_errata_replay" -> q285ErrataReplay _,
  )

  val oracle: Map[String, String] = Map(
    "q02_rfc_parse_validate" ->
      """SELECT trim(parts[1]) AS l_orderkey, trim(parts[2]) AS l_returnflag, trim(parts[3]) AS l_linestatus
        |FROM (SELECT string_split(wa, '`') AS parts
        |      FROM (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) || '`' || l_returnflag || '`' || l_linestatus AS wa
        |            FROM lineitem))
        |WHERE len(parts) = 3 ORDER BY 1, 2, 3""".stripMargin,
    "q03_err_routing" ->
      """SELECT l_orderkey, arity FROM (
        |  SELECT DISTINCT l_orderkey,
        |         CAST(len(string_split(CAST(l_orderkey AS VARCHAR) || '`' || l_returnflag || '``' || l_linestatus, '`')) AS INTEGER) AS arity
        |  FROM lineitem WHERE l_orderkey % 97 = 0)
        |WHERE arity <> 3 ORDER BY l_orderkey""".stripMargin,
    // q285: the same corruption, repair (doubled-delimiter collapse),
    // re-parse, and the NOT-EXISTS twin of the anti-join
    "q285_errata_replay" ->
      """WITH u AS (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS k,
        |             l_returnflag AS f, l_linestatus AS st FROM lineitem),
        |w AS (SELECT k || '`' ||
        |        (CASE WHEN k::BIGINT % 97 = 0 THEN f || '`' ELSE f END)
        |        || '`' || st AS wa FROM u),
        |p AS (SELECT wa, string_split(wa, '`') AS parts FROM w),
        |good AS (SELECT trim(parts[1]) AS l_orderkey,
        |           trim(parts[2]) AS l_returnflag,
        |           trim(parts[3]) AS l_linestatus, 'good' AS channel
        |         FROM p WHERE len(parts) = 3),
        |rep AS (SELECT string_split(replace(wa, '``', '`'), '`') AS parts
        |        FROM p WHERE len(parts) <> 3),
        |replayed AS (
        |  SELECT trim(parts[1]) AS l_orderkey, trim(parts[2]) AS l_returnflag,
        |         trim(parts[3]) AS l_linestatus, 'replayed' AS channel
        |  FROM rep WHERE len(parts) = 3
        |    AND NOT EXISTS (SELECT 1 FROM good g
        |                    WHERE g.l_orderkey = trim(parts[1])
        |                      AND g.l_returnflag = trim(parts[2])
        |                      AND g.l_linestatus = trim(parts[3])))
        |SELECT * FROM (SELECT * FROM good UNION ALL SELECT * FROM replayed)
        |ORDER BY 1, 2, 3""".stripMargin,
  )
}

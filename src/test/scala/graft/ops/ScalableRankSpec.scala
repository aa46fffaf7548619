package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** ScalableRank must agree exactly with the built-in global window
  * (row_number / ntile) — the point is the plan, not the answer. */
class ScalableRankSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def df = (1 to 103).map(i => (i.toLong, (i * 37 % 101).toDouble))
    .toDF("id", "v")

  test("global row_number matches single-task window") {
    val sortKeys = Seq(col("v").desc, col("id").asc)
    val got = ScalableRank.withGlobalRowNumber(df, "rn", sortKeys: _*)
      .select("id", "rn").as[(Long, Long)].collect().toMap
    val want = df
      .withColumn("rn", row_number().over(Window.orderBy(sortKeys: _*)))
      .select("id", "rn").as[(Long, Int)].collect()
      .map { case (k, v) => (k, v.toLong) }.toMap
    assert(got == want)
  }

  test("ntile matches single-task window, incl. uneven bucket sizes") {
    for (n <- Seq(4, 7)) {
      val sortKeys = Seq(col("v").desc, col("id").asc)
      val got = ScalableRank.withNtile(df, n, "b", sortKeys: _*)
        .select("id", "b").as[(Long, Int)].collect().toMap
      val want = df
        .withColumn("b", ntile(n).over(Window.orderBy(sortKeys: _*)))
        .select("id", "b").as[(Long, Int)].collect().toMap
      assert(got == want, s"ntile($n)")
    }
  }

  test("global exclusive cumsum matches single-task window") {
    val sortKeys = Seq(col("id").asc)
    val got = ScalableRank
      .withGlobalCumsumExclusive(df, col("v"), "c", sortKeys: _*)
      .select("id", "c").as[(Long, Long)].collect().toMap
    val w = Window.orderBy(sortKeys: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df
      .withColumn("c", coalesce(sum(col("v").cast("long")).over(w), lit(0L)))
      .select("id", "c").as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("global lag matches single-task window — including null values " +
    "carried across partition boundaries") {
    val sortKeys = Seq(col("id").asc)
    // plant nulls, including at positions likely to land on partition
    // edges, so the boundary carry is exercised with null payloads
    val withNulls = df.withColumn("v2",
      when(col("id") % 9 === 0, lit(null)).otherwise(col("v").cast("long")))
    val got = ScalableRank
      .withGlobalLag(withNulls, col("v2"), "p", sortKeys: _*)
      .select("id", "p").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    val want = withNulls
      .withColumn("p", lag(col("v2"), 1).over(Window.orderBy(sortKeys: _*)))
      .select("id", "p").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(got == want)
    assert(want.values.toSeq.count(_.isEmpty) > 1,
      "fixture has no null lags beyond the first row — carry untested")
  }

  test("q45 plan has no unpartitioned window (scale guard)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val plan = Relational.q45WinNtile(spark, SparkTestBase.Sf0001)
      .queryExecution.optimizedPlan
    val globalWindows = plan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"unpartitioned (single-task) window in plan:\n$plan")
  }

  test("engine invariant: monotonically_increasing_id packs the " +
    "partition id above bit 33 with contiguous local indices from 0") {
    // The rank pass projects pid = _mid >> 33 and local rank =
    // _mid & (2^33 - 1) off Spark's documented id layout, and the
    // running-aggregate scans pair TaskContext partition ids with
    // spark_partition_id()-keyed offsets. Both rest on implementation
    // details a Spark upgrade could change silently — this pins them so
    // an engine bump fails HERE, not downstream at the oracle gate
    // (r18, the r17 advice item).
    val parts = df.repartitionByRange(4, col("v"), col("id"))
      .sortWithinPartitions(col("v"), col("id"))
      .withColumn("_mid", monotonically_increasing_id())
      .localCheckpoint(true)
    val rows = parts
      .select(spark_partition_id().as("pid"), col("_mid"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert((r.getLong(1) >> 33) == r.getInt(0).toLong,
      s"pid ${r.getInt(0)} not in _mid high bits: ${r.getLong(1)}"))
    rows.groupBy(_.getInt(0)).foreach { case (pid, rs) =>
      val locals = rs.map(_.getLong(1) & ((1L << 33) - 1)).sorted.toSeq
      assert(locals == (0L until locals.length.toLong),
        s"partition $pid local indices not contiguous from 0: $locals")
    }
  }

  // An input that carries its own `_v` (the name the running passes
  // once used for their internal value column), not last, with nulls.
  private val own = (1 to 103).map { i =>
    (i.toLong, 1000L + i,
      if (i % 9 == 0) None else Some((i * 37 % 101).toLong), s"t$i")
  }
  private def ownDf = own.toDF("id", "_v", "amt", "tag")
  private def longOpt(r: Row, i: Int) =
    if (r.isNullAt(i)) None else Some(r.getLong(i))
  private def rowsOf(df: DataFrame) = df.collect().toSeq
    .map(r => (r.getLong(0), r.getLong(1), longOpt(r, 2), r.getString(3),
      longOpt(r, 4)))
    .sortBy(_._1)

  test("exclusive cumsum keeps an input column named _v and folds " +
    "the value column") {
    val got = ScalableRank
      .withGlobalCumsumExclusive(ownDf, col("amt"), "c", col("id"))
    assert(got.columns.toSeq == Seq("id", "_v", "amt", "tag", "c"))
    var acc = 0L
    val want = own.map { case (id, v, amt, tag) =>
      (id, v, amt, tag, amt.map { a => val o = acc; acc += a; o })
    }
    assert(rowsOf(got) == want)
  }

  test("global lag keeps an input column named _v and lags the value " +
    "column") {
    val got = ScalableRank.withGlobalLag(ownDf, col("amt"), "p", col("id"))
    assert(got.columns.toSeq == Seq("id", "_v", "amt", "tag", "p"))
    val want = own.zip(None +: own.map(_._3)).map {
      case ((id, v, amt, tag), p) => (id, v, amt, tag, p)
    }
    assert(rowsOf(got) == want)
  }

  test("a running pass refuses an outCol that is already an input column") {
    val passes: Seq[(DataFrame, String) => DataFrame] = Seq(
      ScalableRank.withGlobalCumsumExclusive(_, col("amt"), _, col("id")),
      ScalableRank.withGlobalCummaxExclusive(_, col("amt"), _, col("id")),
      ScalableRank.withGlobalLag(_, col("amt"), _, col("id")))
    for (pass <- passes) {
      val e = intercept[IllegalArgumentException](pass(ownDf, "tag"))
      assert(e.getMessage.contains("'tag'"))
    }
  }
}

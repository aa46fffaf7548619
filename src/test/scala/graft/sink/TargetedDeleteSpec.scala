package graft.sink

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.SparkTestBase.jobsDuring
import graft.ops.T

/** Targeted delete: pruning binds (most files untouched — and
  * untouched means BYTE-identical, the compliance claim), the keys are
  * gone, every other row survives, the no-actual-hit bounding-box
  * case rewrites nothing, a stat-spanning unclustered table still
  * deletes everywhere, an emptied file keeps a schema-only
  * replacement, and the whole delete is one staged write. */
class TargetedDeleteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def md5(p: java.nio.file.Path): String =
    MessageDigest.getInstance("MD5").digest(Files.readAllBytes(p))
      .map("%02x".format(_)).mkString

  private def fileHashes(dir: String): Map[String, String] = {
    val d = Paths.get(dir)
    Files.list(d).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> md5(p)).toMap
  }

  private def freshTable(): String = {
    val out = Files.createTempDirectory("graft-tdel-").toString
    ClusteredWrite.parquet(
      T(spark, SparkTestBase.Sf0001, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice"),
      out, 8, col("o_custkey"))
    out
  }

  test("delete removes exactly the key's rows; pruning leaves other " +
    "files byte-identical") {
    val out = freshTable()
    val before = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val custs = before.map(_._2).toSeq.sorted
    val victim = custs(custs.size / 2)
    val hashesBefore = fileHashes(out)

    val rep = TargetedDelete.deleteKeys(spark, out, "o_custkey",
      Seq(victim))
    assert(rep.rowsDeleted == before.count(_._2 == victim).toLong)
    assert(rep.filesRewritten >= 1)
    assert(rep.filesAffected < rep.filesTotal,
      "footer pruning must exclude most files")

    val after = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before.filterNot(_._2 == victim))

    val hashesAfter = fileHashes(out)
    val unchanged = hashesAfter.count { case (n, h) =>
      hashesBefore.get(n).contains(h)
    }
    assert(unchanged == rep.filesTotal - rep.filesRewritten)
  }

  test("r13: the graded q231 row equals the direct complement filter " +
    "on raw orders, the fixture genuinely deleted rows, and re-reads " +
    "are stable (the bench-reps contract)") {
    import org.apache.spark.sql.functions._
    val dir = SparkTestBase.Sf0001
    val got = DeleteQueries.q231TargetedDelete(spark, dir).collect()
    val direct = T(spark, dir, "orders")
      .filter(col("o_orderkey") % 1000 =!= 0)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)"))
          .as("sum_price_c2"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus").collect()
    assert(got.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq)
    // the delete was not vacuous: raw row count strictly exceeds the
    // post-delete count
    val raw = T(spark, dir, "orders").count()
    assert(got.map(_.getLong(1)).sum < raw, "fixture must delete rows")
    val again = DeleteQueries.q231TargetedDelete(spark, dir).collect()
    assert(again.map(_.toSeq).toSeq == got.map(_.toSeq).toSeq)
  }

  test("crash between the two swap renames heals: the backup restores " +
    "and a re-run completes the delete") {
    val out = freshTable()
    val before = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val custs = before.map(_._2).toSeq.sorted
    val victim = custs(custs.size / 3)

    // simulate the worst crash point: a file was moved to .bak and the
    // staged part never swapped in — the table has a hole
    val dir = Paths.get(out)
    val someFile = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.head
    val bak = dir.resolve("." + someFile.getFileName.toString + ".bak")
    Files.move(someFile, bak)
    val staged = dir.resolve(
      "." + someFile.getFileName.toString + ".staged")
    Files.createDirectory(staged)
    Files.write(staged.resolve("junk"), Array[Byte](1, 2, 3))

    val rep = TargetedDelete.deleteKeys(spark, out, "o_custkey",
      Seq(victim))
    // recovery restored the backup BEFORE the delete ran, so the final
    // state is exactly "victim gone, everything else intact"
    val after = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before.filterNot(_._2 == victim))
    assert(rep.rowsDeleted == before.count(_._2 == victim).toLong)
    assert(!Files.exists(bak) && !Files.exists(staged))
  }

  test("a bounding-box match with no actual rows rewrites nothing") {
    // write the table WITHOUT one mid-range custkey: the footer ranges
    // of its neighbors' file(s) still bound the ghost (min/max is a
    // bounding box, not a membership proof), but no row matches
    val out = Files.createTempDirectory("graft-tdel-").toString
    val ghost = 75L
    ClusteredWrite.parquet(
      T(spark, SparkTestBase.Sf0001, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_custkey") =!= ghost),
      out, 8, col("o_custkey"))
    val hashesBefore = fileHashes(out)
    val rep = TargetedDelete.deleteKeys(spark, out, "o_custkey",
      Seq(ghost))
    assert(rep.rowsDeleted == 0 && rep.filesRewritten == 0)
    assert(fileHashes(out) == hashesBefore)
  }

  test("a delete with a local key list costs at most two Spark jobs") {
    val out = freshTable()
    val custs = spark.read.parquet(out).select("o_custkey").distinct()
      .collect().map(_.getLong(0)).sorted
    var rep: TargetedDelete.DeleteReport = null
    val jobs = jobsDuring {
      rep = TargetedDelete.deleteKeys(spark, out, "o_custkey",
        Seq(custs(custs.length / 2)))
    }
    assert(rep.filesRewritten >= 1 && rep.rowsDeleted > 0, rep.toString)
    assert(jobs <= 2, s"deleteKeys ran $jobs Spark jobs")
  }

  test("on an unclustered table every file is a candidate and the key " +
    "leaves all of them") {
    val out = Files.createTempDirectory("graft-tdel-").toString
    T(spark, SparkTestBase.Sf0001, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .repartition(4).write.mode("overwrite").parquet(out)
    val before = spark.read.parquet(out)
      .select(col("o_orderkey"), col("o_custkey"),
        col("_metadata.file_name").as("file"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val files = before.map(_._3).distinct
    assert(files.length == 4)
    // the customer with the most orders among those present in every file
    val victim = before.groupBy(_._2).toSeq
      .filter(_._2.map(_._3).distinct.length == files.length)
      .maxBy(g => (g._2.length, g._1))._1
    val rep = TargetedDelete.deleteKeys(spark, out, "o_custkey",
      Seq(victim))
    assert(rep == TargetedDelete.DeleteReport(4, 4, 4,
      before.count(_._2 == victim).toLong), rep.toString)
    val after = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before.filterNot(_._2 == victim)
      .map(r => (r._1, r._2)).toSet)
  }

  test("deleting every key of one file leaves a schema-only replacement " +
    "that reads back empty") {
    val out = freshTable()
    val schema = spark.read.parquet(out).schema
    val first = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.minBy(_.toString)
    val keys = spark.read.parquet(first.toString).select("o_custkey")
      .collect().map(_.getLong(0)).toSeq
    val total = spark.read.parquet(out).count()
    val rep = TargetedDelete.deleteKeys(spark, out, "o_custkey",
      keys.distinct)
    assert(rep.filesAffected == 1 && rep.filesRewritten == 1 &&
      rep.rowsDeleted == keys.length.toLong, rep.toString)
    assert(Files.exists(first), "the emptied file keeps its name")
    val emptied = spark.read.parquet(first.toString)
    assert(emptied.schema == schema && emptied.count() == 0L)
    assert(spark.read.parquet(out).count() == total - keys.length)
  }
}

package graft.sink

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ops.T

/** MERGE INTO mechanics the graded q233 aggregate cannot see: the
  * footer-pruned touch set, byte-identical untouched files, floor
  * routing of gap/beyond-end inserts, preserved range-disjointness,
  * convergent replay, the no-actual-hit tombstone no-op, the
  * compacted-batch and null-key guards, the all-rows-deleted empty
  * replacement, key-width independence, the per-batch Spark job
  * budget, and crash heal. */
class MergeIntoSpec extends AnyFunSuite {
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

  /** 80 rows, keys 0,10,…,790, value = key: 8 clustered files whose
    * ranges are [0,90], [100,190], …, [700,790] — gaps everywhere, so
    * floor routing is actually exercised. */
  private def freshTable(): String = {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-merge-spec-").toString
    ClusteredWrite.parquet(
      (0L until 800L by 10L).map(k => (k, k)).toDF("k", "v"), out, 8,
      col("k"))
    out
  }

  private def batch(rows: Seq[(Long, Long, String)]) = {
    import spark.implicits._
    rows.toDF("k", "v", "op")
  }

  private def snapshot(out: String): Set[(Long, Long)] =
    spark.read.parquet(out).collect()
      .map(r => (r.getAs[Number](0).longValue(),
        r.getAs[Number](1).longValue())).toSet

  private def parquetFiles(out: String): Seq[java.io.File] =
    new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq

  /** Spark jobs `body` starts on this thread: its jobs carry a local
    * property; a marker job afterwards flushes the asynchronous
    * listener bus (events reach a listener in posting order). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.spec.jobProbe"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("body")   => jobs.incrementAndGet()
          case Some("marker") => flushed.countDown()
          case _              => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      try body finally sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      jobs.get
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("matched update / not-matched insert / tombstone delete land on " +
    "exactly the routed files; everything else is byte-identical") {
    val out = freshTable()
    val before = snapshot(out)
    val hashesBefore = fileHashes(out)
    val rep = MergeInto.merge(spark, out, "k", batch(Seq(
      (210L, 9999L, "U"),  // matched update (file 2)
      (510L, 0L, "D"),     // tombstone (file 5)
      (215L, 215L, "U"),   // in file 2's bounding box but absent: insert
      (95L, 95L, "U"),     // gap between files 0 and 1 → floor file 0
      (5000L, 5000L, "U"), // beyond the last range → last file
      (-50L, -50L, "U")    // below everything → first file
    )))
    assert(rep.rowsUpdated == 1L && rep.rowsInserted == 4L &&
      rep.rowsDeleted == 1L, rep.toString)
    assert(rep.filesRewritten == 4, rep.toString) // files 0, 2, 5, 7
    val want = before - ((210L, 210L)) - ((510L, 510L)) +
      ((210L, 9999L)) + ((215L, 215L)) + ((95L, 95L)) +
      ((5000L, 5000L)) + ((-50L, -50L))
    assert(snapshot(out) == want)
    val hashesAfter = fileHashes(out)
    val unchanged = hashesAfter.count { case (n, h) =>
      hashesBefore.get(n).contains(h)
    }
    assert(unchanged == rep.filesTotal - rep.filesRewritten,
      "untouched files must stay byte-identical")
    // range-disjointness survives the gap/beyond-end inserts
    val conf = spark.sessionState.newHadoopConf()
    val ranges = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .flatMap(f => TargetedDelete.keyRange(conf,
        new org.apache.hadoop.fs.Path(f.toString), "k"))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"overlapping ranges after merge: $ranges")
      case _ => ()
    }
  }

  test("replaying the same batch converges: the table is unchanged and " +
    "prior inserts re-apply as matched updates") {
    val out = freshTable()
    val b = batch(Seq((210L, 9999L, "U"), (510L, 0L, "D"),
      (95L, 95L, "U")))
    MergeInto.merge(spark, out, "k", b)
    val afterFirst = snapshot(out)
    val rep2 = MergeInto.merge(spark, out, "k", b)
    assert(snapshot(out) == afterFirst, "replay must converge")
    assert(rep2.rowsUpdated == 2L && rep2.rowsInserted == 0L &&
      rep2.rowsDeleted == 0L, rep2.toString)
  }

  test("a tombstone routed to a file that does not hold the key is a " +
    "detected no-op: nothing rewritten, all bytes identical") {
    val out = freshTable()
    val hashesBefore = fileHashes(out)
    val rep = MergeInto.merge(spark, out, "k", batch(Seq((45L, 0L, "D"))))
    assert(rep.filesAffected == 1 && rep.filesRewritten == 0, rep.toString)
    assert(fileHashes(out) == hashesBefore)
  }

  test("an uncompacted batch (two ops for one key) is refused loudly") {
    val out = freshTable()
    val e = intercept[IllegalArgumentException] {
      MergeInto.merge(spark, out, "k",
        batch(Seq((210L, 1L, "U"), (210L, 0L, "D"))))
    }
    assert(e.getMessage.contains("compact"))
  }

  test("a batch with a null key or an unknown op is refused loudly and " +
    "changes nothing") {
    import spark.implicits._
    val out = freshTable()
    val hashesBefore = fileHashes(out)
    val nullKeyed = Seq((Some(210L), 1L, "U"), (None, 2L, "U"))
      .toDF("k", "v", "op")
    val e = intercept[IllegalArgumentException] {
      MergeInto.merge(spark, out, "k", nullKeyed)
    }
    assert(e.getMessage.contains("null k"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      MergeInto.merge(spark, out, "k", batch(Seq((210L, 1L, "X"))))
    }
    assert(e2.getMessage.contains("'U'"), e2.getMessage)
    assert(fileHashes(out) == hashesBefore)
  }

  test("a batch of local rows touching several files costs at most two " +
    "Spark jobs") {
    val out = freshTable()
    val b = batch(Seq((210L, 1L, "U"), (510L, 0L, "D"), (95L, 95L, "U"),
      (5000L, 5000L, "U"), (45L, 0L, "D")))
    var rep: MergeInto.MergeReport = null
    val jobs = jobsDuring { rep = MergeInto.merge(spark, out, "k", b) }
    assert(rep.filesAffected == 4 && rep.filesRewritten == 4, rep.toString)
    assert(jobs <= 2, s"merge ran $jobs Spark jobs")
  }

  test("deleting every row of one file leaves a schema-only replacement " +
    "that a later merge skips as an empty, stat-less file") {
    val out = freshTable()
    val first = parquetFiles(out).head
    val schema = spark.read.parquet(out).schema
    val rep = MergeInto.merge(spark, out, "k",
      batch((0L until 100L by 10L).map(k => (k, 0L, "D"))))
    assert(rep.filesRewritten == 1 && rep.rowsDeleted == 10L, rep.toString)
    assert(first.exists(), "the emptied file keeps its name")
    val conf = spark.sessionState.newHadoopConf()
    val emptied = new org.apache.hadoop.fs.Path(first.toString)
    assert(TargetedDelete.keyRange(conf, emptied, "k").isEmpty)
    val emptyRead = spark.read.parquet(first.toString)
    assert(emptyRead.schema == schema && emptyRead.isEmpty)
    val afterDelete = snapshot(out)
    assert(afterDelete == (100L until 800L by 10L).map(k => (k, k)).toSet)
    // the emptied file takes no routes: key 5 floors to the first
    // non-empty file, and the empty file keeps its bytes
    val emptyHash = md5(first.toPath)
    val rep2 = MergeInto.merge(spark, out, "k", batch(Seq((5L, 5L, "U"))))
    assert(rep2.filesRewritten == 1 && rep2.rowsInserted == 1L,
      rep2.toString)
    assert(md5(first.toPath) == emptyHash)
    assert(snapshot(out) == afterDelete + ((5L, 5L)))
  }

  test("an IntegerType key merges with the same results as LongType") {
    import spark.implicits._
    val longOut = freshTable()
    val intOut = Files.createTempDirectory("graft-merge-spec-int-").toString
    ClusteredWrite.parquet(
      (0 until 800 by 10).map(k => (k, k)).toDF("k", "v"), intOut, 8,
      col("k"))
    val changes = Seq((210, 9999, "U"), (510, 0, "D"), (215, 215, "U"),
      (95, 95, "U"), (5000, 5000, "U"), (-50, -50, "U"), (45, 0, "D"))
    val intRep = MergeInto.merge(spark, intOut, "k",
      changes.toDF("k", "v", "op"))
    val longRep = MergeInto.merge(spark, longOut, "k",
      batch(changes.map { case (k, v, op) => (k.toLong, v.toLong, op) }))
    assert(intRep == longRep)
    assert(spark.read.parquet(intOut).schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(snapshot(intOut) == snapshot(longOut))
  }

  test("a crash between the two swap renames heals before new work: " +
    "the .bak restores and the merge then applies") {
    val out = freshTable()
    val before = snapshot(out)
    // simulate the crash window: a file exists only as its backup
    val f = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val bak = new java.io.File(out, s".${f.getName}.bak")
    assert(f.renameTo(bak))
    val rep = MergeInto.merge(spark, out, "k", batch(Seq((0L, 7L, "U"))))
    assert(rep.rowsUpdated == 1L)
    assert(!bak.exists(), "backup must be consumed by recovery")
    assert(snapshot(out) == before - ((0L, 0L)) + ((0L, 7L)))
  }

  test("r14: the graded q233 row equals the direct post-merge recompute " +
    "on raw orders, all three arms fired, and re-reads are stable") {
    val dir = SparkTestBase.Sf0001
    val got = MergeQueries.q233MergeUpsert(spark, dir).collect()
    val base = T(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val survivors = base.filter(col("o_orderkey") % 7 =!= 0)
      .withColumn("price",
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 10.0d)
          .otherwise(col("o_totalprice")))
    val ins = base.filter(col("o_orderkey") % 11 === 0)
      .select((col("o_orderkey") + 1000000000000L).as("o_orderkey"),
        col("o_orderstatus"), (col("o_totalprice") + 0.5d).as("price"))
    val direct = survivors.select("o_orderkey", "o_orderstatus", "price")
      .unionByName(ins)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("cast(round(price * 100) as bigint)")).as("sum_price_c2"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")
      .collect()
    assert(got.toSeq == direct.toSeq)
    // the fixture genuinely exercised every arm
    assert(got.map(_.getLong(4)).max > 1000000000000L, "no insert landed")
    val rawCount = base.count()
    val nDel = base.filter(col("o_orderkey") % 7 === 0).count()
    val nIns = base.filter(col("o_orderkey") % 11 === 0).count()
    assert(nDel > 0 && nIns > 0, "degenerate fixture")
    assert(got.map(_.getLong(1)).sum == rawCount - nDel + nIns,
      "merged cardinality must be raw - deletes + inserts")
    // stable re-read (the bench-reps contract)
    assert(MergeQueries.q233MergeUpsert(spark, dir).collect().toSeq ==
      got.toSeq)
  }
}

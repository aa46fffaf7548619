package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MERGE INTO over a [[ClusteredWrite]] parquet table — the lakehouse
  * upsert (Delta/Iceberg `MERGE`): apply a compacted CDC batch of
  * last-state rows as matched-UPDATE / not-matched-INSERT /
  * tombstone-DELETE, rewriting ONLY the files the batch actually
  * touches. The most common warehouse write after append, and the
  * natural consumer of q183's compacted CDC log.
  *
  * Change-batch contract: `changes` carries every TABLE column plus an
  * `op` column — `'U'` (upsert: the row's new full image) or `'D'`
  * (tombstone) — exactly ONE row per non-null integral key (a raw
  * multi-version log is compacted first, exactly q183's max_by shape;
  * every part of the contract is enforced loudly).
  *
  * Routing: the clustered layout's footers are read driver-side
  * (metadata-only, the same stats the scan planner prunes with; the
  * table schema comes from the same footers) and the batch — bounded,
  * broadcast-sized CDC — is collected ONCE; every change key routes to
  * its FLOOR file by binary search over the sorted footer `lo` array:
  * the file whose range contains the key, or, for a key in a range gap
  * / beyond the ends, the nearest file below (first file for keys below
  * everything). Rows only ever join the file whose range already admits
  * them, so range-DISJOINTNESS survives every merge: a file's range can
  * grow into an empty gap but never across a neighbour's floor.
  *
  * One Spark write per batch: every touched file's rows, minus the rows
  * whose key the batch names (an `isInCollection` tag over the
  * snapshot's U and D keys), plus the upsert images (a local relation
  * built from the snapshot), are staged together partitioned by file
  * index; the per-(file, op) HIT counts are observed in that same pass.
  * Only files with an actual effect are then swapped in by
  * [[TargetedDelete.swapPart]]'s `.bak`-first atomic rename. A 'D'
  * whose key routes to a file that turns out not to hold it (min/max is
  * a bounding box, not membership) is a detected no-op: a file whose
  * only changes are such tombstones keeps its bytes and its staged copy
  * is discarded; files with no routed change are never read.
  * [[TargetedDelete.recover]] heals any previous crash (including an
  * orphaned staging root) before new work starts; replaying the same
  * batch converges (ops are absolute row images, not deltas).
  *
  * Scale shape: the driver walks only the footers and the snapshot; the
  * write reads the touched set (at 100 TB: the files the batch hits,
  * not the table), and routing is O(log files) per change key. Bulk
  * rewrites that touch most files belong to a full re-cluster (q210's
  * compact), not a merge. */
object MergeInto {

  final case class MergeReport(filesTotal: Int, filesAffected: Int,
                               filesRewritten: Int, rowsUpdated: Long,
                               rowsInserted: Long, rowsDeleted: Long)

  /** Index of the last `los` entry <= `key` (binary search over the
    * sorted floors), clamped to 0 for keys below every file. */
  private[sink] def floorIndex(los: Array[Long], key: Long): Int = {
    var lo = 0
    var hi = los.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (los(mid) <= key) lo = mid + 1 else hi = mid
    }
    math.max(0, lo - 1)
  }

  def merge(spark: SparkSession, path: String, keyCol: String,
            changes: DataFrame): MergeReport = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    TargetedDelete.recover(fs, dir)
    val files = fs.listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
      .sortBy(_.getName)
    // The per-file footer opens are independent driver-side metadata
    // reads — overlapped on a bounded pool (sequential, they cost
    // file-count × open latency per batch)
    val footerPool = java.util.concurrent.Executors
      .newFixedThreadPool(math.max(1, math.min(8, files.length)))
    val footerEc =
      scala.concurrent.ExecutionContext.fromExecutor(footerPool)
    val footers =
      try {
        val futs = files.toSeq.map(f =>
          scala.concurrent.Future(TargetedDelete.footer(conf, f, keyCol))(
            footerEc))
        futs.map(f => scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf))
      } finally footerPool.shutdown()
    // footer ranges, ordered by lo — the routing table
    val ranged = files.toSeq.zip(footers).flatMap { case (f, ft) =>
      ft.keyRange match {
        case Some((lo, _)) => Some((f, lo, ft))
        // an empty file (an all-deleted file's replacement) carries no
        // keys and takes no routes
        case None if ft.rows == 0 => None
        // a non-empty stat-less file would break routing — refuse
        // loudly rather than merge wrong
        case None => sys.error(s"merge: $f has rows but no $keyCol " +
          "footer stats — not a clustered table")
      }
    }.sortBy(_._2)
    require(ranged.nonEmpty, s"merge: no non-empty table files under $path")
    val tableSchema = ranged.head._3.sparkSchema
      .getOrElse(spark.read.parquet(ranged.head._1.toString).schema)
    val tableCols = tableSchema.fieldNames
    require(changes.columns.toSet == tableCols.toSet + "op",
      s"merge: change batch must carry ${tableCols.mkString(",")} + op, " +
        s"got ${changes.columns.mkString(",")}")

    // the batch snapshot, in table column order with op last
    val batch = changes.select((tableCols :+ "op").map(col).toIndexedSeq: _*)
    val keyIdx = tableCols.indexOf(keyCol)
    val opIdx = tableCols.length
    Seq(tableSchema(keyCol), batch.schema(keyCol)).foreach { f =>
      require(Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(f.dataType),
        s"merge: key $keyCol must be an integral column, got ${f.dataType}")
    }
    val rows = batch.collect()
    require(rows.forall(!_.isNullAt(keyIdx)),
      s"merge: change batch has a null $keyCol — every change needs a key")
    require(rows.forall(r => r.get(opIdx) == "U" || r.get(opIdx) == "D"),
      "merge: change batch op must be 'U' (upsert) or 'D' (tombstone)")
    val los = ranged.map(_._2).toArray
    // key -> (floor file index, op), one entry per change
    val routes = rows.map { r =>
      val k = r.getAs[Number](keyIdx).longValue()
      k -> (floorIndex(los, k), r.getString(opIdx))
    }.toMap
    require(routes.size == rows.length,
      "merge: change batch has multiple ops for one key — " +
        "compact it first (q183's max_by shape)")
    val touched = routes.values.map(_._1).toSeq.distinct.sorted
    if (touched.isEmpty)
      return MergeReport(files.length, 0, 0, 0L, 0L, 0L)
    val nUps = routes.values.filter(_._2 == "U").groupMapReduce(_._1)(
      _ => 1L)(_ + _)

    // ONE write: every touched file's rows, tagged with the op of the
    // change naming their key, ∪ the upsert images, shuffled by file
    // index; the tagged rows (the hits, bounded by the batch) are
    // observed per key and dropped, and the survivors ∪ upserts are
    // staged key-sorted, partitioned by file index. The observation
    // sits after the shuffle: AQE replaces a stage whose every row is
    // dropped with an empty relation, and its metrics with it
    def keysOf(op: String) = rows.collect {
      case r if r.getString(opIdx) == op => r.get(keyIdx)
    }.toSeq
    val hitOp = when(col(keyCol).isInCollection(keysOf("U")), "U")
      .when(col(keyCol).isInCollection(keysOf("D")), "D")
    val fileIdx = touched.map(i => ranged(i)._1.getName -> i).toMap
    val tableRows = spark.read.schema(tableSchema)
      .parquet(touched.map(i => ranged(i)._1.toString): _*)
      .withColumn("__fidx",
        element_at(typedLit(fileIdx), col("_metadata.file_name")))
      .withColumn("__hit", hitOp)
    val upserts = spark.createDataFrame(
      rows.collect {
        case r if r.getString(opIdx) == "U" =>
          val k = r.getAs[Number](keyIdx).longValue()
          Row.fromSeq(r.toSeq.init :+ routes(k)._1)
      }.toSeq.asJava,
      StructType(batch.schema.fields.init :+
        StructField("__fidx", IntegerType, nullable = false)))
      .withColumn("__hit", lit(null).cast(StringType))
    val outCols = tableCols.map(col).toIndexedSeq :+ col("__fidx")
    val tagged = outCols :+ col("__hit")
    val hitsObs = Observation()
    val stagedRoot = new Path(dir,
      s".merge-staged-${java.util.UUID.randomUUID.toString.take(8)}")
    tableRows.select(tagged: _*)
      .unionByName(upserts.select(tagged: _*))
      .repartition(touched.size, col("__fidx"))
      .observe(hitsObs,
        collect_list(when(col("__hit").isNotNull, col(keyCol))).as("hits"))
      .filter(col("__hit").isNull)
      .select(outCols: _*)
      .sortWithinPartitions(col("__fidx"), col(keyCol))
      .write.partitionBy("__fidx").parquet(stagedRoot.toString)

    val hits = hitsObs.get("hits").asInstanceOf[scala.collection.Seq[Any]]
      .map(k => routes(k.asInstanceOf[Number].longValue()))
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    val work = touched.flatMap { i =>
      val ups = nUps.getOrElse(i, 0L)
      val upsHit = hits.getOrElse((i, "U"), 0L)
      val delHits = hits.getOrElse((i, "D"), 0L)
      // a file whose routed changes are only missing tombstones is a
      // detected no-op — left byte-identical, counted affected only
      if (ups > 0 || delHits > 0) Some((i, ups, upsHit, delHits))
      else None
    }
    // per-file driver-side `.bak`-first swaps; each stays atomic, a
    // partial batch heals by replay convergence
    work.foreach { case (i, _, _, _) =>
      val f = ranged(i)._1
      val pdir = new Path(stagedRoot, s"__fidx=$i")
      val part =
        if (fs.exists(pdir)) fs.listStatus(pdir).map(_.getPath)
          .find(_.getName.endsWith(".parquet"))
        else None
      part match {
        case Some(p) => TargetedDelete.swapPart(fs, f, p)
        case None =>
          // every row deleted, nothing inserted: the dynamic partition
          // writer emits no dir for an absent value — stage a
          // schema-only empty replacement instead
          TargetedDelete.swapStaged(fs, f,
            spark.createDataFrame(java.util.List.of[Row](), tableSchema)
              .coalesce(1))
      }
    }
    fs.delete(stagedRoot, true)
    MergeReport(files.length, touched.size, work.size,
      work.map(_._3).sum,
      work.map { case (_, ups, upsHit, _) => ups - upsHit }.sum,
      work.map(_._4).sum)
  }
}

package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
  * Routing: the clustered layout's footers are read driver-side by
  * [[TargetedDelete.listFooters]] through [[Footers]] (metadata-only,
  * the same stats the scan planner prunes with; the table schema comes
  * from the same footers, read by the rule [[Footers]] documents) and
  * the batch — bounded, broadcast-sized CDC — is collected ONCE; every
  * change key routes to its FLOOR file by binary search over the
  * sorted footer `lo` array: the file whose range contains the
  * key, or, for a key in a range gap / beyond the ends, the nearest
  * file below (first file for keys below everything). Rows only ever
  * join the file whose range already admits them, so range-DISJOINTNESS
  * survives every merge: a file's range can grow into an empty gap but
  * never across a neighbour's floor. A table whose ranges overlap is
  * refused before anything is written (floor routing would duplicate a
  * key held by the other file).
  *
  * One Spark write per batch, the keyed rewrite shared with the
  * targeted delete ([[TargetedDelete.rewrite]]): every touched file's
  * rows, minus the rows whose key the batch names (observed per file as
  * U or D hits), plus the upsert images, staged together partitioned by
  * file index. Only files with an actual effect are then swapped in by
  * the `.bak`-first atomic rename. A 'D' whose key routes to a file
  * that turns out not to hold it (min/max is a bounding box, not
  * membership) is a detected no-op: a file whose only changes are such
  * tombstones keeps its bytes and its staged copy is discarded; files
  * with no routed change are never read. [[TargetedDelete.recover]]
  * heals any previous crash (including an orphaned staging root) before
  * new work starts; replaying the same batch converges (ops are
  * absolute row images, not deltas).
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
    val dir = new Path(path)
    val table = TargetedDelete.listFooters(spark, dir, keyCol)
    // footer ranges, ordered by lo — the routing table
    val ranged = table.flatMap { case (f, ft) =>
      ft.keyRange match {
        case Some((lo, hi)) => Some((f, lo, hi, ft))
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
    // floor routing sends a key to ONE file, so a key held by another
    // file whose range overlaps would be duplicated, not updated
    ranged.zip(ranged.drop(1)).foreach {
      case ((f1, _, hi, _), (f2, lo, _, _)) =>
        require(hi < lo, s"merge: $keyCol ranges of $f1 and $f2 overlap " +
          "— not a clustered table (re-cluster it with ClusteredWrite)")
    }
    val tableSchema = ranged.head._4.schema
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
      return MergeReport(table.size, 0, 0, 0L, 0L, 0L)
    val upFiles = routes.values.collect { case (i, "U") => i }.toSet

    // ONE staged write over the touched files: the rows whose key the
    // batch names drop out (counted per file as U or D hits) and the
    // upsert images, routed to their floor file, join the survivors
    def keysOf(op: String) = rows.toSeq.collect {
      case r if r.getString(opIdx) == op => r.get(keyIdx)
    }
    val upserts = spark.createDataFrame(
      rows.toSeq.collect {
        case r if r.getString(opIdx) == "U" =>
          val k = r.getAs[Number](keyIdx).longValue()
          Row.fromSeq(r.toSeq.init :+ routes(k)._1)
      }.asJava,
      StructType(batch.schema.fields.init :+
        StructField("__fidx", IntegerType, nullable = false)))
    val (hits, work) = TargetedDelete.rewrite(spark, dir,
      touched.map(i => i -> ranged(i)._1).toMap, tableSchema, keyCol,
      Seq("U" -> keysOf("U"), "D" -> keysOf("D")), Some(upserts)) { hits =>
      // a file whose routed changes are only missing tombstones is a
      // detected no-op — left byte-identical, counted affected only
      touched.filter(i => upFiles(i) || hits.contains((i, "D")))
    }
    def hitsOf(op: String) = hits.collect { case ((_, `op`), n) => n }.sum
    MergeReport(table.size, touched.size, work.size, hitsOf("U"),
      keysOf("U").size - hitsOf("U"), hitsOf("D"))
  }
}

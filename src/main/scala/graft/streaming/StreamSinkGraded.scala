package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.T
import graft.sink.ScratchExport

/** The DRIVER-GRADED streaming SINK surface (r17) — the two foreachBatch
  * sinks whose STREAMING execution paths were, until this round, pinned
  * only by ScalaTest ([[MergeStream]], [[IngestDedup]] — the r16
  * verdict's item 1), brought under the same DuckDB hash gate as the
  * [[StreamGraded]] monitor replays.
  *
  * The grading shape differs from the monitor replays because a sink's
  * observable output is not an emission stream: for q315 it is the FINAL
  * TABLE STATE after the CDC backlog drains (merge of absolute images is
  * convergent, so final state is the schedule-independent class — any
  * batch boundary placement over the same ordered log lands on the same
  * table); for q316 it is the per-batch SCREENING REPORTS, which are a
  * pure function of (batch contents, index state), both deterministic
  * under the pinned file-per-batch replay. Batch structure is pinned the
  * same way as q313's sentinel waves: one file per intended micro-batch
  * ([[ScratchExport.writeSingleFile]], mtime-spaced) under
  * `maxFilesPerTrigger = 1`.
  */
object StreamSinkGraded {

  /** q233's insert-key shift, shared so the two merge oracles stay on
    * the same provably-out-of-range key space. */
  private val InsertShift = 1000000000000L

  /** Builds the q315 fixture and REPLAYS the CDC stream through the
    * real [[MergeStream.run]] path — ON EVERY CALL (r18; the build ran
    * once per (JVM, dataset) until this round, so bench reps 2+ timed
    * only the final aggregate over a memoized table — the r17 verdict's
    * measurement-gaming finding. The declared query's name claims the
    * streaming merge; the bench must pay it every rep). Orders are
    * clustered into 16 range-disjoint files, then a three-batch CDC log
    * (each batch one file; mtime order = batch order) drained under
    * `Trigger.AvailableNow`:
    *
    *  - batch 0 (seq 10): U images for keys `% 5 = 0` at price + 10;
    *  - batch 1 (seq 20/21/22): keys `% 3 = 0` get TWO update images
    *    (price + 5 at seq 20, price + 7 at seq 21 — intra-batch
    *    compaction must pick seq 21) and keys `% 7 = 0` get a tombstone
    *    at seq 22 (for keys `% 21 = 0` the SAME batch holds U and D and
    *    the delete must win);
    *  - batch 2 (seq 30/31): keys `% 35 = 0` — deleted in batch 1 —
    *    are RE-INSERTED at price + 20 (cross-batch delete-then-reinsert)
    *    and keys `% 11 = 0` insert NEW rows at key + 10¹² with
    *    price + 0.5.
    *
    * Every arm derives deterministically from the raw table, so the
    * DuckDB oracle recomputes the final state from `orders` alone; a
    * hash match proves batch ORDER (batch 1's +7 must overwrite batch
    * 0's +10 on keys `% 15 = 0`), intra-batch compaction, tombstone
    * precedence, cross-batch resurrection, and the out-of-range insert
    * all landed through the streaming path. All price deltas are exact
    * dyadic constants (q233's cent-rounding discipline). */
  /** The PRISTINE q315 inputs — the pre-merge clustered table and the
    * three-file CDC log — built once per (JVM, dataset): pure INPUT
    * fixtures, the q313SourceDir/q319SourceDir class (analogous to the
    * testdata parquet itself), never the merge work. Returns
    * (pristine table dir, cdc dir). */
  private def pristineFixture(s: SparkSession, dir: String): (String, String) =
    ScratchExport.once(s"mergestream-fixture:$dir") {
      val table = ScratchExport.scratchDir("graft-q315-pristine-")
      val cdc = ScratchExport.scratchDir("graft-q315-cdc-")
      val base = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sink.ClusteredWrite.parquet(base, table, 16, col("o_orderkey"))
      def img(rows: DataFrame, priceDelta: Double, op: String, seq: Long,
              keyShift: Long = 0L): DataFrame =
        rows.select((col("o_orderkey") + keyShift).as("o_orderkey"),
          col("o_orderstatus"),
          (col("o_totalprice") + priceDelta).as("o_totalprice"),
          lit(op).as("op"), lit(seq).as("seq"))
      val k = col("o_orderkey")
      val b0 = img(base.filter(k % 5 === 0), 10.0, "U", 10L)
      val b1 = img(base.filter(k % 3 === 0), 5.0, "U", 20L)
        .unionByName(img(base.filter(k % 3 === 0), 7.0, "U", 21L))
        .unionByName(img(base.filter(k % 7 === 0), 0.0, "D", 22L))
      val b2 = img(base.filter(k % 35 === 0), 20.0, "U", 30L)
        .unionByName(
          img(base.filter(k % 11 === 0), 0.5, "U", 31L, InsertShift))
      ScratchExport.writeSingleFile(b0, cdc, "b0_updates.parquet", -240)
      ScratchExport.writeSingleFile(b1, cdc, "b1_multi_delete.parquet", -120)
      ScratchExport.writeSingleFile(b2, cdc, "b2_reinsert_insert.parquet", 0)
      (table, cdc)
    }

  private def mergedTable(s: SparkSession, dir: String): String = {
      val (pristine, cdc) = pristineFixture(s, dir)
      // the MERGE WORK runs on every call (r18; memoizing it made bench
      // reps 2+ time a tiny aggregate — the r17 verdict's
      // measurement-gaming finding): copy the pristine table and drain
      // the CDC backlog onto the copy through the real streaming path
      val table = ScratchExport.scratchDir("graft-q315-table-")
      val srcDir = new org.apache.hadoop.fs.Path(pristine)
      val dstDir = new org.apache.hadoop.fs.Path(table)
      val fs = srcDir.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(srcDir).filter(_.isFile).foreach { st =>
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new org.apache.hadoop.fs.Path(dstDir, st.getPath.getName),
          false, s.sparkContext.hadoopConfiguration)
      }
      // replay width from CDC source bytes (r18 — the [[StreamWidth]]
      // rule the monitor replays got in r17; every per-batch
      // compaction aggregate, routing count, and staged rewrite inside
      // foreachBatch inherits the stream session's width)
      val ss = StreamWidth.sizedSession(s, s"$cdc/*.parquet")
      val schema = ss.read.parquet(s"$cdc/b0_updates.parquet").schema
      val changes = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$cdc/*.parquet")
      val q = MergeStream.run(changes, table, "o_orderkey",
        Trigger.AvailableNow())
      try q.awaitTermination() finally q.stop()
      table
  }

  /** q315: [[MergeStream]] graded end-to-end — the q233 discipline
    * (drive the real write machinery, hash-compare a read of its OUTPUT
    * against a raw-table recompute) applied to the STREAMING merge
    * path: the graded frame aggregates the post-drain table per status
    * (count / cent-sum / min / max key — q233's projection), so a hash
    * match proves every CDC arm landed on exactly the right rows
    * through foreachBatch, in batch order, across every file the merge
    * did and did not touch. MergeStreamSpec keeps pinning the
    * mechanics the aggregate cannot see (replay convergence,
    * intra-batch compaction unit contract). */
  def q315MergeStream(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(mergedTable(s, dir))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)"))
          .as("sum_price_c2"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")

  /** Runs the q316 ingest replay — ON EVERY CALL (r18; see
    * [[mergedTable]] — the once-per-JVM memoization made bench reps 2+
    * time a 27-row local sort) — and returns the union of per-batch
    * screening reports. The documents table
    * streams through the real [[IngestDedup.start]] path in three
    * micro-batches (batch = `doc_id % 3`, one file each, mtime order =
    * batch order) against a FRESH empty band index, `intraBatch = true`,
    * with a mid-stream index compaction after batch 1 (`compactEvery =
    * 2`) so the graded report also crosses the compact-swap. Batch N+1
    * probes an index that holds exactly batches ≤ N's ADMITTED docs'
    * bands — the report is therefore a pure function of the corpus and
    * the batch split, never of scheduling — and the report buffer is
    * bounded by FLAGGED docs (the deployed onReport contract), not the
    * corpus. The per-invocation index is dropped (table + files) after
    * the reports are collected. */
  /** The q316 SOURCE files (batch = doc_id % 3, one file each) — pure
    * input fixture, built once per (JVM, dataset); the q313SourceDir
    * class. */
  private def ingestSourceDir(s: SparkSession, dir: String): String =
    ScratchExport.once(s"ingeststream-src:$dir") {
      val src = ScratchExport.scratchDir("graft-q316-src-")
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      (0 to 2).foreach { b =>
        ScratchExport.writeSingleFile(docs.filter(col("doc_id") % 3 === b),
          src, s"b$b.parquet", -120L * (2 - b))
      }
      src
    }

  private def ingestReport(s: SparkSession, dir: String): Seq[(Long, Long, Long)] = {
      val src = ingestSourceDir(s, dir)
      val idx = graft.ops.Curation.freshBandIndex(s,
        "graft_q316_idx_" + java.util.UUID.randomUUID.toString
          .replace("-", "").take(12))
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      // replay width from source bytes (r18, the [[StreamWidth]] rule):
      // the per-batch band screens, admissions, and index writes inside
      // foreachBatch inherit the stream session's width
      val ss = StreamWidth.sizedSession(s, s"$src/*.parquet")
      val schema = ss.read.parquet(s"$src/b0.parquet").schema
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$src/*.parquet")
      val q = IngestDedup.start(stream, idx,
        (rows, _) => buf.synchronized {
          buf ++= rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        },
        intraBatch = true, compactEvery = 2, trigger = Trigger.AvailableNow())
      try q.awaitTermination() finally q.stop()
      graft.ops.Curation.dropBandIndex(s, idx)
      buf.synchronized(buf.sortBy(_._1).toSeq)
  }

  /** q316: [[IngestDedup]] graded end-to-end — the streaming
    * incremental-dedup path (MinHash-band screen against the persisted
    * index → admit survivors → next batch probes the grown index) under
    * the DuckDB hash gate. Graded frame = the union of the per-batch
    * screening reports `(doc_id, n_dups, first_dup)`; a hash match
    * proves the banding, the index probe, the keep-first intra-batch
    * pairs, the ADMISSION carrying batches forward (a batch-2 doc's
    * n_dups counts exactly the admitted earlier-batch collisions), and
    * survival across the mid-stream compaction. The oracle recomputes
    * the three-stage admission chain from `documents` alone with the
    * shared minhash band CTEs — the hash family can never drift between
    * the stream and the ground truth. IngestDedupSpec keeps pinning
    * what the report cannot see (replay stability, id-reuse contract,
    * file-per-bucket compaction layout). */
  def q316IngestDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ingestReport(s, dir).toDF("doc_id", "n_dups", "first_dup")
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q315_merge_stream" -> q315MergeStream _,
    "q316_ingest_dedup" -> q316IngestDedup _,
  )

  val oracle: Map[String, String] = Map(
    // q315: final post-drain state recomputed from the RAW table.
    // Branch order mirrors batch order in reverse (last writer wins):
    // %35 resurrection (batch 2) > %3 second image (batch 1, seq 21)
    // > %5 update (batch 0) > untouched; %7 tombstones drop unless
    // resurrected; inserts re-derive at key + 10^12
    "q315_merge_stream" ->
      s"""WITH survivors AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 35 = 0 THEN o_totalprice + 20.0
        |              WHEN o_orderkey % 3 = 0 THEN o_totalprice + 7.0
        |              WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
        |              ELSE o_totalprice END AS price
        |  FROM orders WHERE o_orderkey % 7 <> 0 OR o_orderkey % 35 = 0),
        |ins AS (
        |  SELECT o_orderkey + $InsertShift AS o_orderkey, o_orderstatus,
        |         o_totalprice + 0.5 AS price
        |  FROM orders WHERE o_orderkey % 11 = 0),
        |m AS (SELECT * FROM survivors UNION ALL SELECT * FROM ins)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS sum_price_c2,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    // q316: the three-stage admission chain recomputed from documents —
    // batch b = doc_id % 3; a doc flags against (admitted docs of
    // earlier batches sharing a band) ∪ (smaller-id same-batch docs
    // sharing a band); admitted = its batch minus its flagged. The
    // shared minhash band CTEs pin the hash family to the Spark side.
    "q316_ingest_dedup" ->
      s"""WITH ${graft.ops.TrainingData.minhashBandsCtes},
        |bb AS (SELECT doc_id, doc_id % 3 AS batch, band, k1, k2 FROM b),
        |intra AS (SELECT d.batch, d.doc_id, o.doc_id AS o
        |          FROM bb d JOIN bb o ON d.band = o.band AND d.k1 = o.k1
        |           AND d.k2 = o.k2 AND o.batch = d.batch
        |           AND o.doc_id < d.doc_id),
        |p0 AS (SELECT doc_id, o FROM intra WHERE batch = 0),
        |a0 AS (SELECT DISTINCT doc_id FROM bb WHERE batch = 0
        |       AND doc_id NOT IN (SELECT doc_id FROM p0)),
        |i1 AS (SELECT bb.doc_id AS o_doc, bb.band, bb.k1, bb.k2
        |       FROM bb JOIN a0 USING (doc_id)),
        |p1 AS (SELECT d.doc_id, i.o_doc AS o
        |       FROM bb d JOIN i1 i ON d.band = i.band AND d.k1 = i.k1
        |        AND d.k2 = i.k2
        |       WHERE d.batch = 1
        |       UNION ALL SELECT doc_id, o FROM intra WHERE batch = 1),
        |a1 AS (SELECT DISTINCT doc_id FROM bb WHERE batch = 1
        |       AND doc_id NOT IN (SELECT doc_id FROM p1)),
        |i2 AS (SELECT * FROM i1
        |       UNION ALL
        |       SELECT bb.doc_id AS o_doc, bb.band, bb.k1, bb.k2
        |       FROM bb JOIN a1 USING (doc_id)),
        |p2 AS (SELECT d.doc_id, i.o_doc AS o
        |       FROM bb d JOIN i2 i ON d.band = i.band AND d.k1 = i.k1
        |        AND d.k2 = i.k2
        |       WHERE d.batch = 2
        |       UNION ALL SELECT doc_id, o FROM intra WHERE batch = 2),
        |rep AS (SELECT doc_id, o FROM p0
        |        UNION ALL SELECT doc_id, o FROM p1
        |        UNION ALL SELECT doc_id, o FROM p2)
        |SELECT doc_id, CAST(count(DISTINCT o) AS BIGINT) AS n_dups,
        |       CAST(min(o) AS BIGINT) AS first_dup
        |FROM rep GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}

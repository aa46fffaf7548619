package graft.streaming

import org.apache.spark.sql.SparkSession

/** Scale-adaptive stream replay width (r17 optimization, guide §2;
  * shared r18 by the [[StreamGraded]] monitor replays AND the
  * [[StreamSinkGraded]] foreachBatch sinks): stateful micro-batches run
  * with AQE DISABLED — and a foreachBatch body's per-batch jobs inherit
  * the stream session's static width too — so the session's
  * `spark.sql.shuffle.partitions` applies verbatim to EVERY batch. At
  * width 32 even a 4-row sentinel batch runs 32 tasks × (state-store
  * load + delta commit + sink file) per stateful operator; r17
  * per-batch profiling measured those fixed per-partition costs at ~90% of
  * replay wall time. Since AQE cannot coalesce here, the width derives
  * from source bytes instead: one shuffle partition per
  * [[graft.ops.AdaptiveWidth.TargetBytes]] of source (64 MB — guide
  * §2.2's partition sizing), capped at the session's own
  * configured width (the cluster ceiling: a deployment that sizes
  * `spark.sql.shuffle.partitions` to its executor fleet keeps that as
  * the maximum fan-out), floor 1. The stream runs on a cloned session
  * (same SparkContext, independent SQLConf) so batch queries on the
  * caller's session are untouched. Partition count never changes WHAT
  * a keyed stateful operator or a per-batch merge computes — and each
  * replay starts a fresh checkpoint, so no restore ever sees a changed
  * width. */
private[streaming] object StreamWidth {

  /** A cloned session whose shuffle width is derived from the bytes
    * under `glob`. */
  def sizedSession(s: SparkSession, glob: String): SparkSession = {
    val ss = s.newSession()
    val srcPath = new org.apache.hadoop.fs.Path(glob)
    val fs = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    // a matched status can be a DIRECTORY (the normal parquet dataset
    // layout at cluster scale), whose getLen is 0 — sum its leaf data
    // bytes instead, or a directory-shaped source would silently derive
    // width 1 regardless of size (r18, the r17 advice item)
    val srcBytes = Option(fs.globStatus(srcPath))
      .map(_.map(st =>
        if (st.isDirectory) fs.getContentSummary(st.getPath).getLength
        else st.getLen).sum).getOrElse(0L)
    val width = graft.ops.AdaptiveWidth.forBytes(ss, srcBytes)
    ss.conf.set("spark.sql.shuffle.partitions", width.toString)
    // AQE off on the CLONE only (batch sessions keep it): stateful
    // replays run with AQE engine-disabled anyway, and for the
    // foreachBatch sinks' width-pinned tiny batch jobs AQE is pure
    // per-action planning overhead — A/B'd at sf0.1: 3.66 → 3.00 s per
    // q315 merge batch with identical plans (r18)
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    ss
  }
}

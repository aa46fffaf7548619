package graft.ops

import org.apache.spark.sql.SparkSession

/** Scale-adaptive partition widths for iterative working sets (r18).
  *
  * AQE right-sizes ordinary shuffles, but an iterative loop that eager-
  * localCheckpoints per round freezes whatever partitioning the round's
  * physical plan produced — and a broadcast-probe round produces the
  * PARENT's width, so a shrinking working set keeps paying
  * width-proportional fixed costs (task scheduling, state, one
  * checkpoint block per partition) long after the data stopped needing
  * them. The batch twin of the r17 streaming-replay width fix: derive
  * the width from the measured working-set size (the loop's own trace
  * counts — free), one partition per [[TargetBytes]] (64 MB, guide
  * §2.2's partition sizing), floor 1, capped at the session's
  * configured shuffle width — the cluster-fleet ceiling, so at 100 TB
  * the cap binds and behavior is unchanged until the working set
  * genuinely shrinks below fleet-width × 64 MB. */
private[graft] object AdaptiveWidth {

  /** Bytes per partition: the one target of the batch loops and the
    * stream replays ([[graft.streaming.StreamWidth]]). */
  val TargetBytes: Long = 64L << 20

  /** Partitions for a working frame of `rows` rows of roughly
    * `rowBytes` bytes each. */
  def forRows(s: SparkSession, rows: Long, rowBytes: Long = 32L): Int =
    forBytes(s, rows * rowBytes)

  /** `ceil(bytes / TargetBytes)` partitions, floor 1, capped at the
    * session's `spark.sql.shuffle.partitions`. */
  def forBytes(s: SparkSession, bytes: Long): Int = {
    val cap = s.conf.get("spark.sql.shuffle.partitions").toLong
    val n = if (bytes <= 0L) 1L else (bytes - 1) / TargetBytes + 1
    math.min(cap, n).toInt
  }
}

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
  * counts — free), one partition per `spark.graft.batch.partitionBytes`
  * (default 64 MB, guide §2.2's partition sizing), floor 1, capped at
  * the session's configured shuffle width — the cluster-fleet ceiling,
  * so at 100 TB the cap binds and behavior is unchanged until the
  * working set genuinely shrinks below fleet-width × 64 MB. */
private[graft] object AdaptiveWidth {

  /** Partitions for a working frame of `rows` rows of roughly
    * `rowBytes` bytes each. */
  def forRows(s: SparkSession, rows: Long, rowBytes: Long = 32L): Int = {
    val cap = s.conf.get("spark.sql.shuffle.partitions").toInt
    val target = s.conf
      .get("spark.graft.batch.partitionBytes", (64L << 20).toString).toLong
    math.max(1L, math.min(cap.toLong,
      (rows * rowBytes + target - 1) / target)).toInt
  }
}

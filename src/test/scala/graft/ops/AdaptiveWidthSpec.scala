package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The one width formula the batch loops (`forRows`) and the stream
  * replays (`StreamWidth.sizedSession`) share. */
class AdaptiveWidthSpec extends AnyFunSuite {

  test("forBytes: one partition per 64 MB, floor 1, capped at " +
    "spark.sql.shuffle.partitions") {
    val s = SparkTestBase.spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "7")
    val mb64 = 64L << 20
    assert(AdaptiveWidth.forBytes(s, 0L) == 1)
    assert(AdaptiveWidth.forBytes(s, mb64) == 1)
    assert(AdaptiveWidth.forBytes(s, mb64 + 1) == 2)
    assert(AdaptiveWidth.forBytes(s, 1L << 50) == 7)
    assert(AdaptiveWidth.forBytes(s, Long.MaxValue) == 7)
    // forRows sizes rows × rowBytes (32 by default) the same way
    assert(AdaptiveWidth.forRows(s, (2L << 20) + 1) == 2)
  }
}

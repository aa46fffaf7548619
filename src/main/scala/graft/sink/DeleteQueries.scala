package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q231: [[TargetedDelete]] graded end-to-end — the q210 discipline
  * (drive the real write-path machinery, then hash-compare a read of
  * its OUTPUT against an oracle over the RAW table) applied to the
  * right-to-be-forgotten op, which until r13 was spec-only.
  *
  * Fixture, built once per (JVM, dataset) in a ScratchExport dir:
  * orders [[ClusteredWrite]]-clustered into 16 range-disjoint files on
  * o_orderkey, then every key divisible by 1000 deleted through
  * [[TargetedDelete.deleteKeys]] — the footer-pruned surgical rewrite
  * (one staged write over the files whose min/max range can contain a
  * target; the rest stay byte-identical, which TargetedDeleteSpec pins
  * at the byte level). The graded query aggregates the POST-DELETE
  * table per order status; the DuckDB oracle computes the same
  * aggregate from the raw orders table under `o_orderkey % 1000 <> 0`
  * — a hash match
  * proves the delete removed exactly the requested keys and not one
  * row more or less, across every file the rewrite did and did not
  * touch.
  *
  * Scale shape: the key list is a GDPR-style bounded request set (here
  * keyspace/1000 rows collected driver-side — deletion requests are
  * small by nature; a bulk purge is q216/q221's CDC territory, not
  * this op); the delete's one staged write reads only the
  * footer-pruned candidate files; the graded read is an ordinary
  * partial+final aggregate over the clustered table. Replays converge
  * (TargetedDelete is idempotent), so bench reps re-read a stable
  * fixture. */
object DeleteQueries {

  private val KeyMod = 1000L

  private def ensureDeletedOrders(s: SparkSession, dir: String): String =
    ScratchExport.once(s"tdel:$dir") {
      val out = ScratchExport.scratchDir("graft-tdel-")
      val orders = graft.ops.T(s, dir, "orders")
      ClusteredWrite.parquet(orders, out, 16, col("o_orderkey"))
      val keys = orders.filter(col("o_orderkey") % KeyMod === 0)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      TargetedDelete.deleteKeys(s, out, "o_orderkey", keys)
      out
    }

  def q231TargetedDelete(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(ensureDeletedOrders(s, dir))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)"))
          .as("sum_price_c2"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q231_targeted_delete" -> q231TargetedDelete _,
  )

  val oracle: Map[String, String] = Map(
    // recomputed from the RAW table under the complement predicate —
    // the oracle never sees the clustered copy or the rewrite
    "q231_targeted_delete" ->
      s"""SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c2,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders WHERE o_orderkey % $KeyMod <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}

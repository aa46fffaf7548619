package graft.perfbench

import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `lake_queries`: analyst and curation traffic over the landed lake — a
  * fixed mix of `SparkEntry.queries` run in rounds, each round's order
  * shuffled by the seed, each query driven into the noop sink. The tables
  * are generated by run.py (lakegen.py) before this JVM starts; the
  * untimed warm-up pass also dumps every result for run.py's DuckDB
  * comparison against `SparkEntry.oracleSql`. Reads only: `sources.rfc`
  * and `sink` are bypassed. */
class LakeQueries extends Main.Workload {
  /** A round is the eleven queries once. */
  override val nominalRoundS = 8.0
  private def lakeDir(a: Main.Args) = a.work.resolve("lake").toString

  override def setup(spark: SparkSession, a: Main.Args,
                     out: Main.Outcome): Unit = {
    val dumps = a.work.resolve("oracle_out")
    // the warm-up runs four queries at a time: it pays first-run costs
    // (JIT, codegen) that one thread would otherwise pay in series
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val (_, warm) = Main.timed {
      val runs = Layers.lakeQueries.map { q =>
        Future {
          try SparkEntry.queries(q)(spark, lakeDir(a)).coalesce(1)
            .write.mode("overwrite").parquet(dumps.resolve(q).toString)
          catch {
            case e: Exception =>
              System.err.println(s"[lake_queries] $q failed in warm-up: $e")
          }
        }
      }
      Await.result(Future.sequence(runs), Duration.Inf)
    }
    pool.shutdown()
    out.setup("warmup_s") = warm
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.writeString(dumps.resolve("oracle_sql.json"),
      Json.obj(Layers.lakeQueries.map(q =>
        q -> oracle.get(q).map(Json.str).getOrElse("null"))))
  }

  override def round(spark: SparkSession, a: Main.Args, roundNo: Int,
                     ops: mutable.ArrayBuffer[Main.OpRec]): Unit = {
    val rng = new java.util.SplittableRandom(a.seed * 1000003L + roundNo)
    SapCatalog.shuffle(Layers.lakeQueries, rng).foreach { q =>
      val fn = SparkEntry.queries(q)
      val rec =
        try {
          val (_, s) = Main.timedOp(spark, "query") {
            fn(spark, lakeDir(a)).write.format("noop").mode("overwrite").save()
          }
          Main.OpRec("query", q, s, ok = true)
        } catch {
          case e: Exception =>
            System.err.println(s"[lake_queries] $q failed: $e")
            Main.OpRec("query", q, 0.0, ok = false)
        }
      ops += rec
    }
  }

  override def layerProbes(spark: SparkSession, a: Main.Args,
                           out: Main.Outcome, l: BenchListener): Unit =
    out.tracedOps.groupBy(_.name).foreach { case (q, rs) =>
      out.layer(s"lake.${q}_s") = Main.median(rs.map(_.seconds).toSeq)
    }
}

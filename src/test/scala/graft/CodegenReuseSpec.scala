package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A session from [[Sessions.local]] compiles each generated class of the
  * `lake_queries` mix once. With Spark's default cache of 100 entries, a
  * second pass over the mix's ~190 classes recompiles about 188 of them.
  * Not quite 0 is allowed: one run's second pass compiled 2 classes that
  * the first pass had not met. AQE, which replans a query in the order
  * its stages finish, is the likely source of such plan variants.
  *
  * The codegen cache is one JVM-wide object, sized once from the first
  * session and already filled by earlier suites in the shared test JVM,
  * so the count runs in a child JVM ([[CodegenReuseMain]]) on the test
  * classpath. */
class CodegenReuseSpec extends AnyFunSuite {

  /** The 11 queries of perfbench's `lake_queries` workload. */
  private val lakeMix = Seq(
    "q01_scan_project", "q20_join_inner", "q23_join_semi", "q30_agg_q1",
    "q40_win_rank", "q81_event_sessionize", "q144_nation_profit",
    "q72_dedup_minhash", "q77_dedup_simhash", "q78_ngram_jaccard",
    "q105_curation_pipeline")

  test("a second pass over the lake_queries mix compiles at most a few " +
    "plan variants' classes") {
    val jvmOpts = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(o => o.startsWith("--add-opens") || o.startsWith("-Dspark."))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx2g") ++
      jvmOpts ++ Seq("-cp", sys.props("java.class.path"),
        CodegenReuseMain.getClass.getName.stripSuffix("$"),
        SparkTestBase.Sf0001) ++ lakeMix
    val out, err = new StringBuilder
    val exit = cmd.!(ProcessLogger(l => out.append(l).append('\n'),
      l => err.append(l).append('\n')))
    assert(exit == 0, s"child exited $exit:\n${err.takeRight(4000)}")
    val compiles = out.toString.linesIterator.collectFirst {
      case l if l.startsWith("second-pass compiles: ") =>
        l.stripPrefix("second-pass compiles: ").takeWhile(_.isDigit).toLong
    }
    assert(compiles.exists(_ <= 10), s"child output:\n$out")
  }
}

/** `CodegenReuseMain <dataDir> <query>...`: runs the queries into the noop
  * sink twice on one [[Sessions.local]] session and prints how many classes
  * each pass compiled, and the queries that compiled them. */
object CodegenReuseMain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("2")
    spark.sparkContext.setLogLevel("ERROR")
    def pass(name: String): Unit = {
      val perQuery = args.tail.map { q =>
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        SparkEntry.queries(q)(spark, args.head)
          .write.format("noop").mode("overwrite").save()
        q -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
      }
      println(s"$name compiles: ${perQuery.map(_._2).sum} " +
        perQuery.filter(_._2 > 0).map { case (q, n) => s"$q=$n" }
          .mkString("(", ", ", ")"))
    }
    pass("first-pass")
    pass("second-pass")
    spark.stop()
  }
}

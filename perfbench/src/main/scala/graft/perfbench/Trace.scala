package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession

/** Spans recorded around the benchmark's own calls into the engine.
  *
  * One root span per operation; child spans for the calls the benchmark
  * makes inside it. Every root sets the Spark job group to its span id and
  * every open span publishes itself as the `perfbench.span` local
  * property, so listener job/stage spans and backend `rfc.call` spans made
  * inside tasks join the operation they ran for. Spans stay in memory and
  * are written out once, when the run ends.
  *
  * Times are epoch microseconds: spans of the benchmark's own thread
  * convert `nanoTime` through one fixed offset, listener spans carry
  * Spark's millisecond stamps. */
object Trace {
  final case class Span(id: String, parent: String, root: String,
                        name: String, startUs: Long, endUs: Long)

  /** Spans are only kept while this is set (the traced pass). */
  @volatile var on: Boolean = false

  /** Root span id of the operation running now ("none" outside one). */
  @volatile var currentRoot: String = "none"
  @volatile private var currentSpan: String = "none"

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val epochOffsetUs =
    System.currentTimeMillis() * 1000 - System.nanoTime() / 1000

  def nowUs: Long = System.nanoTime() / 1000 + epochOffsetUs

  def record(s: Span): Unit = if (on) spans.add(s)

  /** Root operation span: job group = span id for everything it runs. */
  def op[T](spark: SparkSession, name: String)(f: => T): T = {
    val id = s"$name-${ids.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = false)
    currentRoot = id
    try inSpan(spark, id, "none", name)(f)
    finally {
      sc.clearJobGroup()
      currentRoot = "none"
    }
  }

  /** Child span of whatever span is open on the benchmark's thread. */
  def span[T](spark: SparkSession, name: String)(f: => T): T =
    inSpan(spark, s"$name-${ids.incrementAndGet()}", currentSpan, name)(f)

  private def inSpan[T](spark: SparkSession, id: String, parent: String,
                        name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val saved = currentSpan
    currentSpan = id
    sc.setLocalProperty("perfbench.span", id)
    val t0 = nowUs
    try f
    finally {
      record(Span(id, parent, currentRoot, name, t0, nowUs))
      currentSpan = saved
      sc.setLocalProperty("perfbench.span", saved)
    }
  }

  /** (root, parent) for a call made either inside a Spark task — joined
    * through the task's job group and stage — or on the benchmark's own
    * thread. */
  def callSite: (String, String) = {
    val tc = TaskContext.get()
    if (tc == null) (currentRoot, currentSpan)
    else (Option(tc.getLocalProperty("spark.jobGroup.id")).getOrElse("none"),
      s"stage-${tc.stageId()}")
  }

  def clear(): Unit = { spans.clear(); currentSpan = "none" }

  /** Self time per span name: each span's duration minus the part of its
    * interval that its children cover (children merged, clipped). */
  def selfTimesUs(all: Seq[Span]): Map[String, Long] = {
    val kids = all.groupBy(_.parent)
    all.groupMapReduce(_.name) { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      math.max(0L, (s.endUs - s.startUs) - covered)
    }(_ + _)
  }

  /** Writes every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.asScala.foreach { s =>
      sb ++= s"""{"id":"${s.id}","parent":"${s.parent}","root":"${s.root}",""" +
        s""""name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark-side counters, keyed by job group (= root span id), from a
  * listener the benchmark registers for the traced pass only. Also turns
  * jobs and stages into spans. */
class BenchListener extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  import BenchListener._

  val byGroup = mutable.Map.empty[String, Counts]
  val jobs = mutable.Map.empty[Int, JobInfo]
  /** Tasks in each job's result (last) stage, by job id. */
  val resultStageTasks = mutable.Map.empty[Int, Int]
  private val stageJob = mutable.Map.empty[Int, Int]

  private def counts(g: String) = byGroup.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      .getOrElse("none")
    val info = JobInfo(prop("spark.jobGroup.id"), prop("perfbench.span"),
      e.time)
    jobs(e.jobId) = info
    e.stageIds.foreach(stageJob(_) = e.jobId)
    e.stageInfos.find(_.stageId == e.stageIds.max)
      .foreach(s => resultStageTasks(e.jobId) = s.numTasks)
    counts(info.group).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      Trace.record(Trace.Span(s"job-${e.jobId}", j.parentSpan, j.group,
        "spark.job", j.startMs * 1000, e.time * 1000))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val jobId = stageJob.getOrElse(si.stageId, -1)
      val group = jobs.get(jobId).map(_.group).getOrElse("none")
      val c = counts(group)
      c.stages += 1
      c.tasks += si.numTasks
      val m = si.taskMetrics
      if (m != null) {
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
      }
      for (a <- si.submissionTime; b <- si.completionTime)
        Trace.record(Trace.Span(s"stage-${si.stageId}", s"job-$jobId", group,
          "spark.stage", a * 1000, b * 1000))
    }
}

object BenchListener {
  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var input = 0L; var output = 0L; var runMs = 0L; var gcMs = 0L
  }

  final case class JobInfo(group: String, parentSpan: String, startMs: Long)
}

package graft.perfbench

import scala.jdk.CollectionConverters._

/** The per-layer metric names (the traced run prints every one of them, a
  * layer a workload does not use reads 0) and the layer numbers every
  * workload shares: Spark counters from the listener, self time per span
  * name, and the tracing overhead. */
object Layers {
  val lakeQueries: Seq[String] = Seq(
    "q01_scan_project", "q20_join_inner", "q23_join_semi", "q30_agg_q1",
    "q40_win_rank", "q81_event_sessionize", "q144_nation_profit",
    "q72_dedup_minhash", "q77_dedup_simhash", "q78_ngram_jaccard",
    "q105_curation_pipeline")

  /** Span names whose self time is reported, per operation. */
  val spanNames: Seq[String] = Seq("extract", "query", "cdc.batch", "lookup",
    "rfc.load", "layout.writeDual", "merge.merge", "read.lookup",
    "spark.job", "spark.stage", "rfc.call")

  val names: Seq[String] = Seq(
    "rfc.calls", "rfc.opens", "rfc.rows_served", "rfc.read_amplification",
    "rfc.pushdown_ratio", "rfc.backend_busy_s", "rfc.scan_s",
    "ddic.cells_per_s",
    "layout.write_s", "layout.write_tasks", "layout.jobs_per_extract",
    "layout.files_written", "layout.bytes_per_wa_byte",
    "merge.jobs_per_batch", "merge.files_touched", "merge.rewrite_ratio",
    "merge.bytes_rewritten_per_change", "merge.p50_s",
    "read.files_scanned_per_lookup", "read.bytes_per_lookup",
    "read.p50_s") ++
    lakeQueries.map(q => s"lake.${q}_s") ++ Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.input_bytes",
    "spark.output_bytes", "spark.task_busy_s", "spark.core_busy_ratio",
    "spark.gc_s") ++
    spanNames.map(n => s"self.${n}_s") ++
    Seq("trace.overhead_s", "trace.overhead_ratio")

  def common(out: Main.Outcome, l: BenchListener, cores: Int): Unit = {
    names.foreach(n => out.layer(n) = 0.0)
    val nOps = math.max(1, out.tracedOps.size).toDouble
    val wall = out.tracedOps.map(_.seconds).sum
    val c = l.byGroup.values
    def sum(f: BenchListener.Counts => Long) = c.iterator.map(f).sum.toDouble
    out.layer("spark.jobs") = sum(_.jobs) / nOps
    out.layer("spark.stages") = sum(_.stages) / nOps
    out.layer("spark.tasks") = sum(_.tasks) / nOps
    out.layer("spark.shuffle_write_bytes") = sum(_.shuffleWrite) / nOps
    out.layer("spark.shuffle_read_bytes") = sum(_.shuffleRead) / nOps
    out.layer("spark.spill_bytes") = sum(_.spill) / nOps
    out.layer("spark.input_bytes") = sum(_.input) / nOps
    out.layer("spark.output_bytes") = sum(_.output) / nOps
    out.layer("spark.task_busy_s") = sum(_.runMs) / 1000 / nOps
    out.layer("spark.core_busy_ratio") =
      if (wall > 0) sum(_.runMs) / 1000 / (wall * cores) else 0.0
    out.layer("spark.gc_s") = sum(_.gcMs) / 1000 / nOps

    val self = Trace.selfTimesUs(Trace.spans.asScala.toSeq)
    spanNames.foreach(n =>
      out.layer(s"self.${n}_s") = self.getOrElse(n, 0L) / 1e6 / nOps)

    val untraced =
      (out.ops.map(_.seconds).sum + out.afterOps.map(_.seconds).sum) / 2
    out.layer("trace.overhead_s") = wall - untraced
    out.layer("trace.overhead_ratio") =
      if (untraced > 0) wall / untraced - 1 else 0.0
  }
}

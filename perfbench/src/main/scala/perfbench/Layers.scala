package perfbench

import scala.jdk.CollectionConverters._

/** Reduces the tracer's raw events to the per-layer metrics. Every
  * run reports every metric; a layer a workload never touches reads 0.
  * Totals are per pass: divided by the number of traced passes (a
  * stream run's measured window counts as one pass). */
object Layers {

  val Zero: Seq[String] = Seq(
    "config.resolve_s", "pipeline.build_s", "pipeline.build_jobs",
    "catalyst.actions", "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "exec.jobs", "exec.jobs_per_op", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.task_gc_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "exec.spill_mb", "exec.input_mb", "exec.output_mb", "exec.busy_frac",
    "operators.similarity.task_cpu_s", "operators.graph.jobs", "operators.graph.task_run_s",
    "streaming.batches", "streaming.useful_batch_frac", "streaming.jobs_per_batch",
    "streaming.addbatch_s", "streaming.query_planning_s", "streaming.walcommit_s",
    "streaming.commit_offsets_s", "streaming.state_rows", "streaming.state_mb",
    "streaming.backlog_files_max", "streaming.generator_late_s",
    "sinks.write_s", "sinks.files_written", "server.service_s", "server.queue_s",
    "jvm.gc_s", "jvm.heap_peak_mb")

  def base(ctx: Ctx, wall: Double, passes: Int, ops: Int, gc: Double)
      : scala.collection.mutable.LinkedHashMap[String, Double] = {
    val t = ctx.tracer
    t.flush()
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    Zero.foreach(m(_) = 0.0)
    val n = math.max(passes, 1).toDouble
    val all = t.sum(_ => true)
    val cpus = Runtime.getRuntime.availableProcessors()
    ctx.res("traced_wall_s") = wall / n
    ctx.res("spans") = t.spans.asScala.toSeq.map(s =>
      Seq(s.name, Option(s.group).getOrElse(""), s.startMs, s.endMs, s.seconds))
    m("catalyst.actions") = t.actions.get / n
    m("catalyst.analysis_s") = t.analysisS.sum / n
    m("catalyst.optimization_s") = t.optimizationS.sum / n
    m("catalyst.planning_s") = t.planningS.sum / n
    m("exec.jobs") = all.jobs.get / n
    m("exec.jobs_per_op") = all.jobs.get / (n * math.max(ops, 1))
    m("exec.stages") = all.stages.get / n
    m("exec.tasks") = all.tasks.get / n
    m("exec.task_run_s") = all.runS.sum / n
    m("exec.task_cpu_s") = all.cpuS.sum / n
    m("exec.task_gc_s") = all.gcS.sum / n
    m("exec.shuffle_read_mb") = all.shuffleReadMb.sum / n
    m("exec.shuffle_write_mb") = all.shuffleWriteMb.sum / n
    m("exec.spill_mb") = all.spillMb.sum / n
    m("exec.input_mb") = all.inputMb.sum / n
    m("exec.output_mb") = all.outputMb.sum / n
    m("exec.busy_frac") = if (wall > 0) all.runS.sum / (wall * cpus) else 0.0
    m("sinks.write_s") = t.writes.asScala.map(_._2).sum / n
    m("jvm.gc_s") = gc / n
    m("jvm.heap_peak_mb") = ctx.heapPeakMb
    m
  }

  /** Batch passes: build is the Pipeline.execute span minus its sink
    * writes; build jobs are the jobs a pipeline's group started before
    * its first sink write began. */
  def batch(ctx: Ctx, traced: Seq[Double], jobs: Seq[Job], gc: Double, files: Long)
      : scala.collection.mutable.LinkedHashMap[String, Double] = {
    val t = ctx.tracer
    val m = base(ctx, traced.sum, traced.size, jobs.size, gc)
    val n = math.max(traced.size, 1).toDouble
    val spans = t.spans.asScala.toSeq
    val writes = t.writes.asScala.toSeq.map { case (endMs, s) => (endMs - (s * 1000).toLong, endMs) }
    val jobStarts = t.jobStarts.asScala.toSeq
    m("config.resolve_s") = spans.filter(_.name == "config.resolve").map(_.seconds).sum / n
    var buildS, buildJobs = 0.0
    spans.filter(_.name == "pipeline").foreach { sp =>
      val mine = jobStarts.filter { case (g, at) => g == sp.group && at >= sp.startMs && at <= sp.endMs }
      val ws = writes.filter { case (_, end) => end >= sp.startMs && end <= sp.endMs + 50 }
      buildS += sp.seconds - ws.map { case (s, e) => (e - s) / 1e3 }.sum
      val firstWrite = if (ws.isEmpty) Long.MaxValue else ws.map(_._1).min
      buildJobs += mine.count(_._2 < firstWrite)
    }
    m("pipeline.build_s") = buildS / n
    m("pipeline.build_jobs") = buildJobs / n
    m("sinks.files_written") = files / n
    m
  }
}

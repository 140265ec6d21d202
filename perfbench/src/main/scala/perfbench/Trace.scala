package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side totals for one attribution group (a pipeline, a
  * request, a streaming query). Filled from completed stages. */
final class ExecTotals {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runS = new DoubleAdder
  val cpuS = new DoubleAdder
  val gcS = new DoubleAdder
  val shuffleReadMb = new DoubleAdder
  val shuffleWriteMb = new DoubleAdder
  val spillMb = new DoubleAdder
  val inputMb = new DoubleAdder
  val outputMb = new DoubleAdder
}

/** One call into a public graft entry point: wall-clock bounds in ms
  * (to line up with listener event times) and its nanoTime length. */
final case class Span(name: String, group: String, startMs: Long, endMs: Long, seconds: Double)

/** One completed micro-batch, from a StreamingQueryProgress. */
final case class BatchRec(query: String, batchId: Long, inputRows: Long,
    durations: Map[String, Long], stateRows: Long, stateBytes: Long)

/** The benchmark's own observers, registered on the session from the
  * outside (graft is not modified): a SparkListener that attributes
  * jobs and stage metrics to the job group the benchmark sets around
  * each call, a QueryExecutionListener for Catalyst phase times and
  * sink writes, and a StreamingQueryListener for micro-batch phases.
  * Everything stays in memory until [[Layers]] reduces it. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val groups = new ConcurrentHashMap[String, ExecTotals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  /** runId → query name, so micro-batch jobs land on their query. */
  private val runNames = new ConcurrentHashMap[String, String]()
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  /** (group, wall ms at job start) for every job. */
  val jobStarts = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
  val analysisS = new DoubleAdder
  val optimizationS = new DoubleAdder
  val planningS = new DoubleAdder
  val actions = new AtomicLong
  /** (end wall ms, seconds) for every write command. */
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()
  val callbackNs = new AtomicLong

  def totals(group: String): ExecTotals =
    groups.computeIfAbsent(group, _ => new ExecTotals)

  private def groupOf(props: java.util.Properties): String = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    Option(runNames.get(g)).map(n => s"stream/$n").getOrElse(g)
  }

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val g = groupOf(e.properties)
      totals(g).jobs.incrementAndGet()
      jobStarts.add((g, e.time))
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val info = e.stageInfo
      val t = totals(Option(stageGroup.remove(info.stageId)).getOrElse("none"))
      t.stages.incrementAndGet()
      t.tasks.addAndGet(info.numTasks.toLong)
      Option(info.taskMetrics).foreach { m =>
        t.runS.add(m.executorRunTime / 1e3)
        t.cpuS.add(m.executorCpuTime / 1e9)
        t.gcS.add(m.jvmGCTime / 1e3)
        t.shuffleReadMb.add(m.shuffleReadMetrics.totalBytesRead / 1e6)
        t.shuffleWriteMb.add(m.shuffleWriteMetrics.bytesWritten / 1e6)
        t.spillMb.add((m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        t.inputMb.add(m.inputMetrics.bytesRead / 1e6)
        t.outputMb.add(m.outputMetrics.bytesWritten / 1e6)
      }
    }
  }

  private def isWrite(qe: QueryExecution): Boolean = {
    val n = qe.analyzed.nodeName
    n.contains("Insert") || n.contains("Write") || n.contains("SaveInto") ||
      n.contains("CreateDataSourceTable") || n.contains("CreateTable")
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed {
        actions.incrementAndGet()
        val ph = qe.tracker.phases
        ph.get("analysis").foreach(p => analysisS.add(p.durationMs / 1e3))
        ph.get("optimization").foreach(p => optimizationS.add(p.durationMs / 1e3))
        ph.get("planning").foreach(p => planningS.add(p.durationMs / 1e3))
        if (isWrite(qe)) writes.add((System.currentTimeMillis(), durationNs / 1e9))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = timed {
      runNames.put(e.runId.toString, Option(e.name).getOrElse(e.id.toString))
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      batches.add(BatchRec(Option(p.name).getOrElse(p.id.toString), p.batchId,
        p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  @volatile var on = false

  def register(): Unit = if (!on) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def unregister(): Unit = if (on) {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  /** Runs `f` as span `name`, its jobs tagged with job group `group`. */
  def span[T](name: String, group: String)(f: => T): T = {
    val prior = sc.getLocalProperty("spark.jobGroup.id")
    if (group != null) sc.setJobGroup(group, name, interruptOnCancel = false)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f finally {
      spans.add(Span(name, group, w0, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9))
      if (group != null) {
        if (prior == null) sc.clearJobGroup() else sc.setJobGroup(prior, "", false)
      }
    }
  }

  /** Blocks until the listener bus delivered every posted event. */
  def flush(): Unit = org.apache.spark.BenchAccess.flushListeners(sc)

  def sum(groupFilter: String => Boolean): ExecTotals = {
    val s = new ExecTotals
    groups.asScala.foreach { case (g, t) =>
      if (groupFilter(g)) {
        s.jobs.addAndGet(t.jobs.get); s.stages.addAndGet(t.stages.get)
        s.tasks.addAndGet(t.tasks.get); s.runS.add(t.runS.sum); s.cpuS.add(t.cpuS.sum)
        s.gcS.add(t.gcS.sum); s.shuffleReadMb.add(t.shuffleReadMb.sum)
        s.shuffleWriteMb.add(t.shuffleWriteMb.sum); s.spillMb.add(t.spillMb.sum)
        s.inputMb.add(t.inputMb.sum); s.outputMb.add(t.outputMb.sum)
      }
    }
    s
  }

  def reset(): Unit = {
    groups.clear(); spans.clear(); jobStarts.clear(); writes.clear(); batches.clear()
    analysisS.reset(); optimizationS.reset(); planningS.reset(); actions.set(0)
    callbackNs.set(0)
  }
}

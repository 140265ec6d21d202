package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{Pipeline, SparkEntry}
import graft.config.ConfigLoader
import graft.streaming.StreamRunner
import org.apache.spark.sql.SparkSession

/** One benchmark process. `run.py` launches it once per set-up probe
  * (`--mode setup`: set up, report, exit) and once for the measured
  * run (`--mode main`). It drives graft only through public entry
  * points and writes raw samples to `--result` as JSON; `run.py`
  * turns them into metrics and checks the outputs against DuckDB. */
object Main {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val launchedMs = a("launched-at").toLong
    val enteredMs = System.currentTimeMillis()
    val scratch = Paths.get(a("scratch"))
    val inputs = a("inputs")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-perfbench:${a("workload")}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    Files.list(Paths.get(inputs)).iterator().asScala.toSeq.sortBy(_.toString)
      .filter(_.toString.endsWith(".parquet")).foreach { p =>
        spark.read.parquet(p.toString)
          .createOrReplaceTempView(p.getFileName.toString.stripSuffix(".parquet"))
      }
    val readyMs = System.currentTimeMillis()
    val res = new Out
    res("setup_s") = (readyMs - launchedMs) / 1e3
    res("jvm_start_s") = (enteredMs - launchedMs) / 1e3
    res("session_s") = (sessionMs - enteredMs) / 1e3
    res("register_s") = (readyMs - sessionMs) / 1e3
    res("cpus") = cpus
    try {
      if (a("mode") == "main") {
        val ctx = new Ctx(spark, a, scratch, inputs, res)
        a("workload") match {
          case "etl_batch" => Workloads.etlBatch(ctx)
          case "stream_panes" => StreamPanes.run(ctx)
          case w => sys.error(s"unknown workload $w")
        }
      }
    } catch {
      case e: Throwable =>
        res("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    res("peak_rss_mb") = vmHwmMb
    Files.writeString(Paths.get(a("result")), res.render)
    try spark.stop() catch { case _: Throwable => () }
    // StreamRunner or Server threads must not keep the JVM alive
    sys.exit(0)
  }

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}

/** Shared state of one measured run. */
final class Ctx(val spark: SparkSession, val a: Main.Args, val scratch: Path,
    val inputs: String, val res: Out) {
  val seconds: Int = a.int("seconds")
  val traced: Boolean = a("trace") == "1"
  val configs: Path = Paths.get(a("configs"))
  val tracer = new Tracer(spark)
  val failures = ArrayBuffer[String]()
  var attempted = 0L

  /** A call into graft: a span, its jobs tagged `group`, when traced. */
  def call[T](name: String, group: String)(f: => T): T =
    if (tracer.on) tracer.span(name, group)(f) else f

  private val t0 = System.nanoTime()
  /** A progress line on stderr (the run log), with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%.2f s] $msg")

  /** Runs one operation, counting it and any exception as a failure;
    * safe to call from several client threads. */
  def op(label: String)(f: => Unit): Boolean = {
    synchronized(attempted += 1)
    try { f; true } catch {
      case e: Throwable =>
        synchronized(failures +=
          s"$label: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        false
    }
  }

  /** Between operations, outside every timed window: stop and count
    * straggler streaming queries, drop cached data, unload state
    * stores, and delete graft's scratch dirs (as graft.Bench does). */
  def hygiene(label: String): Unit = {
    val stragglers = (StreamRunner.activeQueries ++ spark.streams.active).distinct
    if (stragglers.nonEmpty) failures += s"$label: ${stragglers.size} streaming queries left active"
    try StreamRunner.stopAll() catch { case _: Throwable => () }
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.catalog.clearCache()
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.streams.resetTerminated()
    val tmp = graft.ops.FsUtil.scratchRoot.toFile
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("graft"))
      .foreach(f => graft.ops.FsUtil.deleteRecursively(f))
  }

  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

  def finish(): Unit = {
    res("attempted") = attempted
    res("failures") = failures.toSeq
  }
}

/** Minimal JSON object builder (numbers, strings, booleans, nested
  * maps and sequences), so the result file needs no extra library. */
final class Out {
  private val m = scala.collection.mutable.LinkedHashMap[String, Any]()
  def update(k: String, v: Any): Unit = m(k) = v
  def render: String = Out.render(m)
}

object Out {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case o: Out => o.render
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}

package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{Pipeline, SparkEntry}
import graft.config.ConfigLoader

/** One pipeline of a batch workload. `run(out)` executes it into the
  * directory `out`; `format` is the sink format it writes there. */
final case class Job(name: String, kind: String, format: String, oracle: Option[String],
    text: Option[String], run: String => Unit)

object Workloads {

  val SimilarityGates = Seq("q33_knn_ivf", "q189_knn_pq_index",
    "q139_knn_selfjoin_quantized", "q147_entity_resolution")
  val GraphGates = Seq("q109_pagerank", "q103_components")

  /** The etl configs with a storage sink on collection `out`; every
    * fourth pipeline writes avro, the rest parquet. */
  def etlConfigs(ctx: Ctx): Seq[(String, String, String)] =
    Files.list(ctx.configs.resolve("etl")).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".yaml")).sortBy(_.getFileName.toString)
      .zipWithIndex.map { case (p, i) =>
        val name = p.getFileName.toString.stripSuffix(".yaml")
        val format = if (i % 4 == 1) "avro" else "parquet"
        val text = Files.readString(p) +
          s"""sinks:
             |  - name: bench_sink
             |    module: storage
             |    input: out
             |    parameters: {output: "$${out}", format: $format}
             |""".stripMargin
        (name, format, text)
      }

  def etl(ctx: Ctx): Seq[Job] = etlConfigs(ctx).map { case (name, format, text) =>
    Job(name, "etl", format, SparkEntry.oracleSql.get(name), Some(text), out => {
      Pipeline.execute(ctx.spark, text, Map("dir" -> ctx.inputs, "out" -> out))
      ()
    })
  }

  def ml(ctx: Ctx): Seq[Job] = (SimilarityGates ++ GraphGates).map { name =>
    val kind = if (GraphGates.contains(name)) "graph" else "similarity"
    Job(name, kind, "parquet", SparkEntry.oracleSql.get(name), None, out => {
      SparkEntry.queries(name)(ctx.spark, ctx.inputs).write.mode("overwrite").parquet(out)
    })
  }

  /** Converts an avro sink output to parquet for the DuckDB check,
    * reading it back through graft's own storage source. */
  def toParquet(ctx: Ctx, dir: String, format: String, into: String): String =
    if (format == "parquet") dir
    else {
      Pipeline.build(ctx.spark,
        s"""sources:
           |  - name: r
           |    module: storage
           |    parameters: {path: "$dir/*.avro", format: avro}
           |""".stripMargin)("r").write.mode("overwrite").parquet(into)
      into
    }

  def checks(ctx: Ctx, jobs: Seq[Job], outOf: Job => Option[String]): Seq[Map[String, Any]] =
    jobs.flatMap { j =>
      outOf(j).map { out =>
        val path =
          try toParquet(ctx, out, j.format, ctx.scratch.resolve(s"check/${j.name}").toString)
          catch { case e: Throwable => ctx.failures += s"${j.name}: read-back ${e.getMessage}"; out }
        Map("name" -> j.name, "path" -> path, "oracle" -> j.oracle.orNull)
      }
    }

  private def countFiles(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.count { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toLong
      finally s.close()
    }

  /** Closed loop, one client. The window opens right after set-up:
    * the first pass is the cold one, then warm passes run until
    * `--seconds` have passed (at least one). A traced run alternates
    * traced and untraced warm passes (at least one of each), then adds
    * the server and ml phases for their layers. */
  def etlBatch(ctx: Ctx): Unit = {
    val jobs = etl(ctx)
    val outRoot = ctx.scratch.resolve("out")
    val tracedPass = ArrayBuffer[(Double, Seq[Double])]()
    val plainPass = ArrayBuffer[(Double, Seq[Double])]()
    var lastOk = Map.empty[String, String]
    var filesWritten = 0L
    var gcTraced = 0.0
    def pass(p: Int, traced: Boolean): (Double, Seq[Double]) = {
      graft.ops.FsUtil.deleteRecursively(outRoot.toFile)
      if (traced) ctx.tracer.register() else ctx.tracer.unregister()
      val gc0 = ctx.gcSeconds
      val times = jobs.map { j =>
        val out = outRoot.resolve(s"p$p/${j.name}").toString
        if (traced) j.text.foreach { t =>
          ctx.tracer.span("config.resolve", null)(
            ConfigLoader.resolve(t, Map("dir" -> ctx.inputs, "out" -> out)))
        }
        val t0 = System.nanoTime()
        val ok = ctx.op(j.name) {
          if (traced) ctx.tracer.span("pipeline", s"${j.kind}/${j.name}")(j.run(out))
          else j.run(out)
        }
        val dt = (System.nanoTime() - t0) / 1e9
        ctx.hygiene(j.name)
        if (ok) lastOk += j.name -> out
        dt
      }
      if (traced) {
        gcTraced += ctx.gcSeconds - gc0
        filesWritten += countFiles(outRoot.resolve(s"p$p"))
      }
      (times.sum, times)
    }
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    ctx.res("cold_s") = pass(0, traced = false)._1
    ctx.log("cold pass done")
    var p = 1
    while (System.nanoTime() < deadline || plainPass.isEmpty ||
        (ctx.traced && tracedPass.isEmpty)) {
      val traced = ctx.traced && p % 2 == 1
      val r = pass(p, traced)
      if (traced) tracedPass += r else plainPass += r
      p += 1
    }
    ctx.tracer.unregister()
    ctx.log(s"${p - 1} warm passes done")
    ctx.res("passes") = plainPass.map(_._1).toSeq
    ctx.res("op_latencies") = plainPass.flatMap(_._2).toSeq
    ctx.res("ops_per_s") = plainPass.map(_._2.size).sum / plainPass.map(_._1).sum
    val etlChecks = checks(ctx, jobs, j => lastOk.get(j.name))
    ctx.res("checks") = etlChecks
    if (ctx.traced) {
      ctx.res("traced_passes") = tracedPass.map(_._1).toSeq
      val m = Layers.batch(ctx, tracedPass.map(_._1).toSeq, jobs, gcTraced, filesWritten)
      ctx.tracer.reset()
      serverPhase(ctx, m)
      ctx.log("server phase done")
      ctx.tracer.reset()
      ctx.res("checks") = etlChecks ++ mlPhase(ctx, m)
      ctx.res("layers") = m
    }
    ctx.finish()
  }

  /** Traced runs only: one pass of the ml gates (IVF assign, PQ index,
    * quantized kNN self-join, entity resolution, pagerank, components)
    * through SparkEntry.queries, for the operators.* layers. */
  def mlPhase(ctx: Ctx, m: scala.collection.mutable.Map[String, Double]): Seq[Map[String, Any]] = {
    ctx.tracer.register()
    val jobs = ml(ctx)
    jobs.foreach { j =>
      val out = ctx.scratch.resolve(s"out/ml/${j.name}").toString
      ctx.op(j.name)(ctx.tracer.span("pipeline", s"${j.kind}/${j.name}")(j.run(out)))
      ctx.hygiene(j.name)
    }
    ctx.tracer.flush()
    ctx.tracer.unregister()
    val sim = ctx.tracer.sum(_.startsWith("similarity/"))
    val graph = ctx.tracer.sum(_.startsWith("graph/"))
    m("operators.similarity.task_cpu_s") = sim.cpuS.sum
    m("operators.graph.jobs") = graph.jobs.get.toDouble
    m("operators.graph.task_run_s") = graph.runS.sum
    checks(ctx, jobs, j => Some(ctx.scratch.resolve(s"out/ml/${j.name}").toString))
  }

  /** Traced runs only: the etl configs posted to an in-process
    * graft.Server on the same session. Service time is the median
    * latency of one client with nothing queued; queueing is the median
    * latency of `min(nproc, 4)` concurrent clients above it. */
  def serverPhase(ctx: Ctx, m: scala.collection.mutable.Map[String, Double]): Unit = {
    val srv = graft.Server.start(ctx.spark, 0)
    val port = srv.getAddress.getPort
    val configs = etlConfigs(ctx)
    val clients = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    val http = java.net.http.HttpClient.newBuilder().executor(pool).build()
    val seq = new AtomicInteger(0)
    val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
    def post(i: Int): Double = {
      val (name, _, text) = configs(i % configs.size)
      val out = ctx.scratch.resolve(s"out/serve/r$i").toString
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(
        s"http://127.0.0.1:$port/run?args.dir=${enc(ctx.inputs)}&args.out=${enc(out)}"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(text)).build()
      val t0 = System.nanoTime()
      ctx.op(s"request $name") {
        val r = http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        if (r.statusCode() != 200) sys.error(s"HTTP ${r.statusCode()} ${r.body().take(300)}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    def loop(n: Int, count: Int): Seq[Double] = {
      val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val end = seq.get + count
      val threads = (0 until n).map(_ => new Thread(() => {
        var i = seq.getAndIncrement()
        while (i < end) { lat.add(post(i)); i = seq.getAndIncrement() }
      }))
      threads.foreach(_.start()); threads.foreach(_.join())
      lat.asScala.toSeq
    }
    ctx.tracer.register()
    val med = (s: Seq[Double]) => if (s.isEmpty) 0.0 else s.sorted.apply(s.size / 2)
    val serial = loop(1, configs.size / 2)
    val concurrent = loop(clients, configs.size)
    ctx.tracer.unregister()
    m("server.service_s") = med(serial)
    m("server.queue_s") = math.max(0.0, med(concurrent) - med(serial))
    srv.stop(0)
    pool.shutdownNow()
  }
}

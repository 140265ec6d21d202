package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{Pipeline, SparkEntry}
import graft.streaming.StreamRunner

/** Four streaming pipelines fed by one generator thread:
  *
  *  1. start-up: stage tick 0, start every pipeline, drain (`cold_s`);
  *  2. warm-up: the next ticks, each staged and drained;
  *  3. paced loop, for `--seconds`: the generator stages one events
  *     file and one documents file per tick at a fixed rate, or once
  *     the previous tick is drained if that is later; a tick's latency
  *     runs from its staging to the commit of the last micro-batch,
  *     across the queries, that read it;
  *  4. catch-up: a backlog staged at once and drained, in two rounds
  *     (`graft.Run --drain` behaviour);
  *  5. flush: a sentinel far in event time closes every window, so the
  *     outputs can be checked against DuckDB over all staged rows. */
object StreamPanes {

  val Names = Seq("calendar_panes", "interval_join", "ngram_dedup")
  /** The flush sentinel's event time, and the cut below it that
    * separates real windows from the sentinel's own. */
  val SentinelTs = "2024-06-01 00:00:00"
  val SentinelCutEpoch = 1714521600L // 2024-05-01T00:00:00Z

  final case class Tick(idx: Int, dueMs: Long, stagedMs: Long)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val pending = Paths.get(ctx.a("pending"))
    val base = ctx.scratch.resolve("stream")
    val inEv = base.resolve("in/events")
    val inDocs = base.resolve("in/docs")
    Files.createDirectories(inEv); Files.createDirectories(inDocs)
    val rate = ctx.a("rate").toDouble
    val warm = ctx.a.int("warm-ticks")
    val backlog = ctx.a.int("backlog-ticks")
    val nTicks = Files.list(pending.resolve("events")).count().toInt
    require(nTicks >= warm + backlog + 1, s"only $nTicks ticks generated")
    // rows per tick (events + documents), as the generator wrote them
    val rows = Files.readAllLines(pending.resolve("rows.txt")).asScala.map(_.trim.toLong).toIndexedSeq

    def stage(t: Int): Long = {
      ctx.attempted += 1
      for (d <- Seq("events", "docs")) {
        val f = f"t$t%05d.parquet"
        Files.move(pending.resolve(s"$d/$f"), base.resolve(s"in/$d/$f"),
          StandardCopyOption.ATOMIC_MOVE)
      }
      System.currentTimeMillis()
    }
    def args(n: String) = Map("events" -> inEv.toString, "docs" -> inDocs.toString,
      "out" -> base.resolve(s"out/$n").toString, "ckpt" -> base.resolve(s"ckpt/$n").toString)
    val texts = Names.map(n => n -> Files.readString(ctx.configs.resolve(s"stream/$n.yaml"))).toMap

    if (ctx.traced) ctx.tracer.register()
    val gc0 = ctx.gcSeconds
    val runStart = System.nanoTime()
    val ticks = ArrayBuffer[Tick]()
    val now = System.currentTimeMillis()
    ticks += Tick(0, now, stage(0))
    val t0 = System.nanoTime()
    if (ctx.traced) Names.foreach { n =>
      ctx.tracer.span("config.resolve", null)(graft.config.ConfigLoader.resolve(texts(n), args(n)))
    }
    Names.foreach { n =>
      ctx.op(s"start $n") {
        ctx.call("pipeline.execute", s"stream/$n")(Pipeline.execute(spark, texts(n), args(n)))
      }
    }
    StreamRunner.drainAll()
    ctx.res("cold_s") = (System.nanoTime() - t0) / 1e9
    for (t <- 1 until warm) {
      val at = System.currentTimeMillis()
      ticks += Tick(t, at, stage(t))
      StreamRunner.drainAll()
    }

    // paced loop: the generator, on its own thread (never the
    // engine's), stages tick i at its due time at the fixed rate, or
    // once every query has drained the previous tick, whichever is
    // later; it stops staging when the window closes
    val open = new java.util.concurrent.ConcurrentLinkedQueue[Tick]()
    val openStart = System.currentTimeMillis() + 100
    val openEnd = openStart + ctx.seconds * 1000L
    val maxOpen = nTicks - warm - backlog
    val gen = new Thread(() => {
      var i = 0
      while (i < maxOpen && System.currentTimeMillis() < openEnd) {
        val due = openStart + (i * 1000.0 / rate).toLong
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        open.add(Tick(warm + i, due, stage(warm + i)))
        StreamRunner.drainAll()
        i += 1
      }
    }, "perfbench-generator")
    val genError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    gen.setUncaughtExceptionHandler((_, e) => genError.set(e))
    gen.start()
    gen.join()
    Option(genError.get).foreach(e => throw e)
    ticks ++= open.asScala
    val nOpen = open.size
    ctx.log(s"paced loop done: $nOpen ticks")

    // catch-up: the backlog in two rounds, each staged at once, drained
    val first = warm + nOpen
    val rounds = Seq(first until first + backlog / 2, first + backlog / 2 until first + backlog)
    val catchup = rounds.map { r =>
      val c0 = System.nanoTime()
      r.foreach(stage)
      StreamRunner.drainAll()
      (System.nanoTime() - c0) / 1e9
    }
    val catchupRows = (first until first + backlog).map(rows).sum
    ctx.log(s"catch-up done: $catchup s")
    val gc = ctx.gcSeconds - gc0
    val wall = (System.nanoTime() - runStart) / 1e9

    // flush (untimed): a sentinel past every window and join bound, on
    // both join sides (a click and a purchase)
    val sample = spark.read.parquet(inEv.resolve("t00000.parquet").toString)
    import org.apache.spark.sql.functions.{col, lit, when}
    val tmp = base.resolve("sentinel-tmp").toString
    sample.limit(2).withColumn("event_id", -org.apache.spark.sql.functions.monotonically_increasing_id() - 1)
      .withColumn("ts", lit(SentinelTs).cast(sample.schema("ts").dataType))
      .withColumn("user_id", lit(0L))
      .withColumn("event_type", when(col("event_id") === -1L, lit("click")).otherwise(lit("purchase")))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, inEv.resolve("sentinel.parquet"), StandardCopyOption.ATOMIC_MOVE)
    ctx.op("flush")(awaitWatermark(ctx, base.resolve("ckpt"), java.time.Instant.parse("2024-05-20T00:00:00Z")))

    ctx.log("flush done")
    // per query: (file-source offset range, commit time) of every
    // micro-batch, read before the queries are stopped. The file
    // source's own log numbers its batches by offset, which only
    // advances with new files, unlike the query's batch id.
    val queries = (StreamRunner.allQueries ++ spark.streams.active).distinct
    val offsetRe = "\"logOffset\":(\\d+)".r
    def offset(o: String): Long =
      Option(o).flatMap(offsetRe.findFirstMatchIn(_)).map(_.group(1).toLong).getOrElse(-1L)
    val batchEnd: Map[String, Seq[(Long, Long, Long)]] = queries.map { q =>
      q.id.toString -> q.recentProgress.toSeq.filter(_.sources.nonEmpty).map { p =>
        (offset(p.sources.head.startOffset), offset(p.sources.head.endOffset),
          java.time.Instant.parse(p.timestamp).toEpochMilli + triggerMs(p))
      }
    }.toMap
    /** Commit time of the micro-batch of query `qid` that read the
      * file the source logged at offset `at`. */
    def committed(qid: String, at: Long): Option[Long] =
      batchEnd.get(qid).flatMap(_.find { case (from, to, _) => from < at && at <= to }).map(_._3)
    val busy = queries.map(q => q.recentProgress.map(triggerMs).sum).sum
    val batchMs = queries.map { q =>
      val d = q.recentProgress.filter(_.numInputRows > 0).map(triggerMs).sorted
      q.id.toString.take(8) -> (if (d.isEmpty) 0L else d(d.size / 2))
    }.toMap
    StreamRunner.stopAll()
    ctx.tracer.unregister()

    // which batch of which query read each staged file
    val reads = readLogs(base.resolve("ckpt"))
    val latencies = ArrayBuffer[Double]()
    val commitMs = scala.collection.mutable.Map[Int, Long]()
    (ticks.toSeq ++ (first until first + backlog).map(t => Tick(t, 0L, 0L))).foreach { tk =>
      val f = f"t${tk.idx}%05d.parquet"
      val ends = reads.toSeq.flatMap { case ((_, qid), files) =>
        files.get(f).flatMap(committed(qid, _))
      }
      // every pipeline must have read it, and every read be committed
      val readers = reads.filter(_._2.contains(f)).keys.map(_._1).toSet
      val missing = Names.filterNot(readers)
      if (missing.nonEmpty || ends.size < reads.count(_._2.contains(f)))
        ctx.failures += s"tick ${tk.idx}: not read or not committed by ${missing.mkString(",")}"
      else {
        commitMs(tk.idx) = ends.max
        if (tk.idx >= warm && tk.idx < first) latencies += (ends.max - tk.stagedMs) / 1e3
      }
    }
    val openTicks = ticks.filter(t => t.idx >= warm && t.idx < first)
    val backlogMax = openTicks.map(t =>
      openTicks.count(o => o.stagedMs <= t.stagedMs && commitMs.getOrElse(o.idx, Long.MaxValue) > t.stagedMs))
      .foldLeft(0)(math.max)

    ctx.res("op_latencies") = latencies.toSeq
    ctx.res("passes") = catchup
    ctx.res("ops_per_s") = catchupRows / catchup.sum
    ctx.res("stream") = Map("rate_per_s" -> rate, "open_ticks" -> nOpen, "backlog_ticks" -> backlog,
      "backlog_rows" -> catchupRows, "busy_frac" -> busy / 1e3 / (wall * queries.size),
      "queries" -> queries.size, "median_data_batch_ms" -> batchMs)
    ctx.res("checks") = checks(ctx, base)
    if (ctx.traced)
      layers(ctx, wall, gc, backlogMax, openTicks.map(t => (t.stagedMs - t.dueMs) / 1e3).toSeq)
    ctx.hygiene("stream")
    ctx.finish()
  }

  private def triggerMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)

  /** (pipeline, query id) → (staged file name → source offset), from the
    * file-source logs (compacted or not) of every checkpoint under
    * `ckptRoot/<pipeline>/`; a pipeline may run several queries. */
  def readLogs(ckptRoot: Path): Map[(String, String), Map[String, Long]] = {
    val pathRe = "\"path\":\"([^\"]+)\"".r
    val batchRe = "\"batchId\":(\\d+)".r
    val walk = Files.walk(ckptRoot)
    val metas = try walk.iterator().asScala.filter(p =>
      p.getFileName.toString == "metadata" && Files.isDirectory(p.resolveSibling("sources"))).toList
    finally walk.close()
    metas.flatMap { meta =>
      queryId(meta).map { id =>
        val s = Files.walk(meta.resolveSibling("sources"))
        val entries = try s.iterator().asScala
          .filter(f => Files.isRegularFile(f) && f.getFileName.toString.matches("\\d+(\\.compact)?")).toList
          .flatMap(f => Files.readAllLines(f).asScala.filter(_.startsWith("{")))
          .flatMap(l => for (p <- pathRe.findFirstMatchIn(l); b <- batchRe.findFirstMatchIn(l))
            yield Paths.get(new java.net.URI(p.group(1)).getPath).getFileName.toString -> b.group(1).toLong)
        finally s.close()
        (ckptRoot.relativize(meta).getName(0).toString, id) ->
          entries.groupBy(_._1).map { case (f, bs) => f -> bs.map(_._2).min }
      }
    }.toMap
  }

  private def queryId(meta: Path): Option[String] =
    "\"id\":\"([^\"]+)\"".r.findFirstMatchIn(Files.readString(meta)).map(_.group(1))

  /** Blocks until every query of the windowed pipelines ran a
    * micro-batch whose watermark stood at or past `ts`, with no trigger
    * in flight: the deferred on-time panes and join rows are then
    * committed. (graft's own drainUntilWatermark waits on every query
    * that tracks a watermark, including the dedup query, whose
    * ten-year lateness never lets the sentinel move it.) */
  def awaitWatermark(ctx: Ctx, ckptRoot: Path, ts: java.time.Instant): Unit = {
    StreamRunner.drainAll()
    val walk = Files.walk(ckptRoot)
    val ids = try walk.iterator().asScala.filter(p => p.getFileName.toString == "metadata" &&
        !ckptRoot.relativize(p).getName(0).toString.startsWith("ngram")).flatMap(queryId).toSet
    finally walk.close()
    val deadline = System.nanoTime() + 60000000000L
    def wm(q: org.apache.spark.sql.streaming.StreamingQuery) = Option(q.lastProgress)
      .flatMap(p => Option(p.eventTime.get("watermark"))).map(java.time.Instant.parse)
    StreamRunner.activeQueries.filter(q => ids(q.id.toString) && wm(q).isDefined).foreach { q =>
      while (!(wm(q).exists(!_.isBefore(ts)) && !q.status.isTriggerActive)) {
        q.exception.foreach(e => throw e)
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"watermark of ${q.id} (${q.name}) stuck at ${wm(q)}, " +
            s"active=${q.status.isTriggerActive}, ids=$ids")
        Thread.sleep(50)
      }
    }
  }

  /** Normalized projections of the four sink outputs, each with the
    * DuckDB query for its batching-independent part and the oracle. */
  def checks(ctx: Ctx, base: Path): Seq[Map[String, Any]] = {
    val views = Map("events" -> s"${base}/in/events/t*.parquet",
      "documents" -> s"${base}/in/docs/t*.parquet")
    def out(n: String) = ctx.spark.read.parquet(base.resolve(s"out/$n").toString)
    def save(n: String, df: org.apache.spark.sql.DataFrame): String = {
      val p = ctx.scratch.resolve(s"check/$n").toString
      df.write.mode("overwrite").parquet(p)
      p
    }
    val finalPane =
      s"""SELECT win_start, event_type, n, total_r FROM (
         |  SELECT *, row_number() OVER (PARTITION BY win_start, event_type ORDER BY pane_idx DESC) AS rn
         |  FROM out) WHERE rn = 1 AND win_start < $SentinelCutEpoch""".stripMargin
    /** Per window start and key over all staged rows; an event falls
      * into `perEvent` windows, the k-th starting at `windowStart`. */
    def paneOracle(windowStart: String, perEvent: Int) =
      s"""SELECT ws AS win_start, event_type, count(*) AS n, round(sum(value), 4) AS total_r
         |FROM (SELECT event_type, value, $windowStart AS ws FROM events, range(0, $perEvent) r(k))
         |GROUP BY ws, event_type""".stripMargin
    def panes(n: String): String = {
      import org.apache.spark.sql.functions.{col, round}
      save(n, out(n).select(col("window.start").cast("timestamp").cast("long").as("win_start"),
        col("event_type"), col("n"), round(col("total"), 4).as("total_r"),
        col("__pane_index").as("pane_idx")))
    }
    val calendar = panes("calendar_panes")
    Seq(
      Map("name" -> "calendar_panes", "path" -> calendar, "views" -> views, "got" -> finalPane,
        // Tokyo (UTC+9, no DST) calendar days; k = 0 only
        "oracle" -> paneOracle("((epoch_us(ts) + 32400000000) // 86400000000) * 86400 - 32400", 1)),
      Map("name" -> "interval_join", "path" -> base.resolve("out/interval_join").toString,
        "views" -> views,
        "got" -> "SELECT event_id, window_id FROM out WHERE window_id IS NOT NULL AND event_id >= 0",
        "oracle" -> s"SELECT * FROM (${SparkEntry.oracleSql("q166_interval_ss_left")}) WHERE window_id IS NOT NULL"),
      Map("name" -> "ngram_dedup", "path" -> base.resolve("out/ngram_dedup").toString,
        "views" -> views, "got" -> "SELECT * FROM out",
        "oracle" -> SparkEntry.oracleSql("q183_stream_ngram_dedup")))
  }

  def layers(ctx: Ctx, wall: Double, gc: Double, backlogMax: Int, late: Seq[Double]): Unit = {
    val t = ctx.tracer
    val m = Layers.base(ctx, wall, 1, Names.size, gc)
    val bs = t.batches.asScala.toSeq
    val streamJobs = t.sum(_.startsWith("stream/")).jobs.get
    val dur = (k: String) => bs.map(_.durations.getOrElse(k, 0L)).sum / 1e3
    val spans = t.spans.asScala.toSeq
    val starts = spans.filter(_.name == "pipeline.execute")
    m("config.resolve_s") = spans.filter(_.name == "config.resolve").map(_.seconds).sum
    m("pipeline.build_s") = starts.map(_.seconds).sum
    m("pipeline.build_jobs") = t.jobStarts.asScala.count { case (g, at) =>
      starts.exists(sp => sp.group == g && at >= sp.startMs && at <= sp.endMs) }.toDouble
    m("streaming.batches") = bs.size
    m("streaming.useful_batch_frac") = if (bs.isEmpty) 0.0 else bs.count(_.inputRows > 0).toDouble / bs.size
    m("streaming.jobs_per_batch") = if (bs.isEmpty) 0.0 else streamJobs.toDouble / bs.size
    m("streaming.addbatch_s") = dur("addBatch")
    m("streaming.query_planning_s") = dur("queryPlanning")
    m("streaming.walcommit_s") = dur("walCommit")
    m("streaming.commit_offsets_s") = dur("commitOffsets")
    val last = bs.groupBy(_.query).values.map(_.maxBy(_.batchId))
    m("streaming.state_rows") = last.map(_.stateRows).sum.toDouble
    m("streaming.state_mb") = last.map(_.stateBytes).sum / 1e6
    m("streaming.backlog_files_max") = backlogMax
    m("streaming.generator_late_s") = if (late.isEmpty) 0.0 else late.max
    m("sinks.files_written") = 0.0
    ctx.res("layers") = m
    ctx.res("overhead_frac") = t.callbackNs.get / 1e9 / wall
  }
}

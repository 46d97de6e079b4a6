package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point; `run.py` launches it once per run.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out DIR --result FILE --traces DIR
  * }}}
  * It writes one JSON record to `--result`: the metrics, the operation
  * counts, errors, and the host fingerprint. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, out: String, result: String, traces: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"), m("result"), m("traces"))
  }

  val Setups = 3
  val StreamBacklog = 30000
  val StreamDrains = 4
  /** Warm query executions a batch run makes at least, so that ten
    * samples lie above the p90 latency. */
  val MinWarmExecutions = 100

  /** Per-layer metrics, the same list for every workload (0 where a
    * workload does not exercise the layer). */
  val LayerUnits: Seq[(String, String)] = Seq(
    "gen.events" -> "count", "gen.late_ms_p99" -> "ms",
    "sources.parse_s" -> "s", "sources.lag_events" -> "count", "sources.scan_s" -> "s",
    "sources.rows_in" -> "count", "sources.bytes_in" -> "bytes",
    "streaming.batches" -> "count", "streaming.rows_per_batch_p50" -> "count",
    "streaming.trigger_ms_p50" -> "ms", "streaming.addBatch_ms_p50" -> "ms",
    "streaming.queryPlanning_ms_p50" -> "ms", "streaming.walCommit_ms_p50" -> "ms",
    "streaming.commitOffsets_ms_p50" -> "ms", "streaming.latestOffset_ms_p50" -> "ms",
    "streaming.drain_eps" -> "1/s", "streaming.drain_eps_local1" -> "1/s",
    "streaming.lat_p50_ms_hi" -> "ms", "streaming.lat_p90_ms_hi" -> "ms",
    "state.rows_total" -> "count", "state.rows_updated" -> "count",
    "state.memory_bytes" -> "bytes", "state.commit_ms" -> "ms",
    "state.rows_dropped_watermark" -> "count",
    "sink.rows_out" -> "count", "sink.write_ms_p50" -> "ms") ++
    BatchSuite.CorpusArtifacts.map(q => s"operators.${q}_s" -> "s") ++
    BatchSuite.CorpusArtifacts.map(q => s"operators.${q}_cold_s" -> "s") ++ Seq(
    "artifacts.build_s" -> "s", "artifacts.checkpoint_jobs" -> "count",
    "artifacts.cached_bytes" -> "bytes", "artifacts.index_bytes" -> "bytes",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.busy_share" -> "share",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.spill_bytes" -> "bytes", "shuffle.fetch_wait_ms" -> "ms",
    "jvm.gc_s" -> "s", "trace.overhead_share" -> "share", "trace.spans" -> "count") ++
    Seq("workload", "phase", "pass", "query", "batch", "batch_phase", "sink", "job", "stage")
      .map(k => s"self.${k}_s" -> "s")

  val EndToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "cold_pass_s" -> "s", "suite_s" -> "s",
    "lat_p50_ms" -> "ms", "lat_p90_ms" -> "ms")

  def cpus: Int = sys.env.get("BENCH_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(master: String, parts: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def dirBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  }

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def host: Map[String, Any] = {
    def read(p: String) = try Files.readString(Paths.get(p)) catch { case NonFatal(_) => "" }
    val model = read("/proc/cpuinfo").linesIterator.find(_.startsWith("model name"))
      .map(_.split(":", 2)(1).trim).getOrElse("unknown")
    val memKb = read("/proc/meminfo").linesIterator.find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    Map("nproc" -> Runtime.getRuntime.availableProcessors(), "cpus_used" -> cpus,
      "loadavg" -> read("/proc/loadavg").trim, "cpu_model" -> model,
      "mem_total_gib" -> math.round(memKb / 1048576.0 * 10) / 10.0,
      "java" -> sys.props("java.version"), "spark" -> org.apache.spark.SPARK_VERSION)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(s"local[$cpus]", cpus, o.work)
    val tracer = if (o.trace) Some(new Tracer(s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}")) else None
    val listener = tracer.map(new SchedulerTrace(_))
    val rootKey = tracer.map(_.newKey("workload")).getOrElse("")
    val t0 = Clock.nowUs
    val gc0 = gcSeconds
    val r: Outcome = o.workload match {
      case "stream_bars" => streamBars(spark, o, tracer.map(t => (t, rootKey)), listener)
      case "corpus_artifacts" =>
        batch(spark, o, BatchSuite.CorpusArtifacts, tracer.map(t => (t, rootKey)), listener)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val gcS = gcSeconds - gc0
    tracer.foreach(_.record("workload", o.workload, "", t0, Clock.nowUs, rootKey))
    val layers = tracer.map { t =>
      val spans = t.all
      writeTrace(t, spans, o.traces)
      val self = SelfTime.byKind(spans)
      r.layers ++ Map("jvm.gc_s" -> gcS, "trace.spans" -> spans.size.toDouble) ++
        LayerUnits.collect { case (n, _) if n.startsWith("self.") =>
          n -> self.getOrElse(n.stripPrefix("self.").stripSuffix("_s"), 0.0) }
    }
    val e2e = r.e2e + ("peak_rss_mb" -> peakRssMb)
    val metrics =
      if (o.trace) LayerUnits.map { case (n, u) => n -> Map("value" -> layers.get.getOrElse(n, 0.0), "unit" -> u) }
      else EndToEndUnits.flatMap { case (n, u) => e2e.get(n).map(v => n -> Map("value" -> v, "unit" -> u)) }
    val record = Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "attempted" -> r.attempted, "failed" -> r.failed, "errors" -> r.errors,
      "checks" -> r.checks, "metrics" -> metrics.toMap, "summary" -> r.summary, "host" -> host)
    Files.writeString(Paths.get(o.result), Json(record))
    spark.stop()
  }

  /** What a workload hands back: end-to-end and per-layer values, the
    * operation counts, and (batch) each query's execution count, which a
    * failed oracle check marks as failed. */
  final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
      attempted: Long, failed: Long, errors: Seq[String], summary: Map[String, Any],
      checks: Map[String, Long] = Map.empty)

  /** Traced runs repeat their warm drains or passes with and without the
    * scheduler listener, in the order on, off, off, on, ..., so that the
    * tracing overhead is measured within the run and a steady drift
    * (JIT, caches) cancels out. */
  def tracedInRun(k: Int): Boolean = k % 4 == 1 || k % 4 == 0

  private def writeTrace(t: Tracer, spans: Seq[Span], dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val rows = spans.sortBy(_.startUs).map(s => Map("key" -> s.key, "parent" -> s.parent,
      "kind" -> s.kind, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
      "trace_id" -> s.traceId))
    Files.writeString(Paths.get(dir, s"${t.traceId}.json"), Json(rows))
  }

  private def streamBars(spark: SparkSession, o: Opts, tracer: Option[(Tracer, String)],
      listener: Option[SchedulerTrace]): Outcome = {
    val sc = spark.sparkContext
    listener.foreach(sc.addSparkListener)
    // The high-rate phase feeds only per-layer metrics, so untraced runs
    // give the whole measured time to the 2,000 ev/s phase.
    val low = if (tracer.nonEmpty) o.seconds * 0.6 else o.seconds * 0.8
    val high = if (tracer.nonEmpty) o.seconds * 0.4 else 0.0
    val r = StreamBars.run(spark, o.seed, o.work, StreamBacklog, StreamDrains, low, high,
      Setups, tracer, k => listener.foreach { l =>
        sc.removeSparkListener(l)
        if (k == 0 || tracedInRun(k)) sc.addSparkListener(l)
      })
    val lowPhase = r.phases.find(_.name == "rate_low")
    val highPhase = r.phases.find(_.name == "rate_high")
    val lat = phaseLatency _
    def batchesAbove(p: Option[StreamBars.PhaseStats], pct: Double): Int = p.map(ph =>
      Stats.groupsAbove(ph.latencies, Stats.percentile(ph.latencies.map(_._1), pct))).getOrElse(0)
    val drainEps = StreamBacklog / Stats.median(r.warmDrainS.toSeq)
    val invalid = r.phases.filterNot(_.valid)
    val failed = math.min(r.events.toLong, r.mismatchedEvents.toLong + invalid.map(_.events).sum)
    val e2e = Map("setup_s" -> Stats.median(r.setupSecs.toSeq), "cold_pass_s" -> r.coldDrainS,
      "suite_s" -> Stats.median(r.warmDrainS.toSeq)) ++
      lat(lowPhase, 50).map("lat_p50_ms" -> _) ++ lat(lowPhase, 90).map("lat_p90_ms" -> _)
    val summary = Map[String, Any](
      "drain_eps" -> drainEps,
      "lat_p50_ms" -> lat(lowPhase, 50), "lat_p90_ms" -> lat(lowPhase, 90),
      "lat_p50_ms.hi" -> lat(highPhase, 50), "lat_p90_ms.hi" -> lat(highPhase, 90),
      "bars_checked" -> r.barsChecked, "mismatched_events" -> r.mismatchedEvents,
      "phases" -> r.phases.map(p => Map("name" -> p.name, "events" -> p.events,
        "valid" -> p.valid, "batches" -> p.batches.size, "gen_late_ms_p99" -> Stats.percentile(p.lateMs, 99),
        "lag_slope_eps" -> p.lagSlope, "latency_samples" -> p.latencies.size,
        "batches_above_p50" -> batchesAbove(Some(p), 50), "batches_above_p90" -> batchesAbove(Some(p), 90),
        "durations_ms_p50" -> Seq("triggerExecution", "latestOffset", "walCommit", "getBatch",
          "queryPlanning", "addBatch", "commitOffsets").map(k => k -> Stats.median(
            p.batches.flatMap(b => Option(b.durationMs.get(k)).map(_.doubleValue())))).toMap)),
      "backlog_events" -> StreamBacklog, "warm_drain_s" -> r.warmDrainS.toSeq)
    var layers = Map.empty[String, Double]
    for ((t, _) <- tracer; l <- listener) {
      l.awaitQuiet()
      val (on, off) = r.warmDrainS.zipWithIndex.toSeq.partition { case (_, i) => tracedInRun(i + 1) }
      layers = streamLayers(spark, o, r, t, l, lowPhase, highPhase) +
        ("trace.overhead_share" -> (Stats.median(on.map(_._1)) / Stats.median(off.map(_._1)) - 1))
    }
    Outcome(e2e, layers, r.events.toLong, failed, r.error.toSeq ++
      invalid.map(p => s"phase ${p.name} invalid"), summary)
  }

  /** A valid phase's latency percentile, if enough samples support it. */
  private def phaseLatency(p: Option[StreamBars.PhaseStats], pct: Double): Option[Double] =
    p.filter(_.valid).flatMap(ph => Stats.supportedPercentile(ph.latencies.map(_._1), pct))

  private def streamLayers(spark: SparkSession, o: Opts, r: StreamBars.Result, t: Tracer,
      l: SchedulerTrace, lowPhase: Option[StreamBars.PhaseStats],
      highPhase: Option[StreamBars.PhaseStats]): Map[String, Double] = {
    val progress = r.progress
    // Micro-batch spans, with their duration phases laid end to end in
    // execution order, and the sink call inside addBatch.
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    progress.foreach { p =>
      val key = StreamKeys.batch(r.runId, p.batchId)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      t.record("batch", s"batch ${p.batchId}", "", start, start + d.getOrElse("triggerExecution", 0L) * 1000L, key)
      var at = start
      order.foreach { ph => d.get(ph).foreach { ms =>
        t.record("batch_phase", ph, key, at, at + ms * 1000L, s"$key/$ph"); at += ms * 1000L } }
      r.sinkCalls.get(p.batchId).foreach(sc =>
        t.record("sink", "foreachBatch", s"$key/addBatch", Clock.nanoToUs(sc.startNs), Clock.nanoToUs(sc.endNs)))
    }
    reparentBatches(t)
    val lowBatches = lowPhase.map(_.batches).getOrElse(Nil)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def phaseP50(ph: String) = p50(lowBatches.flatMap(b => Option(b.durationMs.get(ph)).map(_.doubleValue())))
    val states = progress.flatMap(_.stateOperators.headOption)
    val counts = l.sum(_.startsWith(s"batch:${r.runId}:"))
    val runWallS = progress.map(_.durationMs.asScala.getOrElse("triggerExecution", java.lang.Long.valueOf(0L)).doubleValue()).sum / 1000.0
    // Source parse alone: the cold backlog's records through parseTrades in batch.
    import spark.implicits._
    val gen = new TradeGen(o.seed)
    val base = System.currentTimeMillis()
    val recs = (0 until StreamBacklog).map(i => gen.next(base + i, StreamBars.JitterMs))
    val ds = spark.createDataset(recs).cache()
    ds.count()
    val p0 = System.nanoTime()
    graft.streaming.KafkaIO.parseTrades(ds.toDF()).write.format("noop").mode("overwrite").save()
    val parseS = (System.nanoTime() - p0) / 1e9
    ds.unpersist()
    val local1 = drainLocal1(spark, o)
    Map(
      "gen.events" -> r.events.toDouble,
      "gen.late_ms_p99" -> r.phases.map(p => Stats.percentile(p.lateMs, 99)).maxOption.getOrElse(0.0),
      "sources.parse_s" -> parseS,
      "sources.lag_events" -> lowPhase.map(_.lagP50).getOrElse(0.0),
      "sources.rows_in" -> progress.map(_.numInputRows.toDouble).sum,
      "sources.bytes_in" -> r.bytesIn.toDouble,
      "streaming.batches" -> progress.size.toDouble,
      "streaming.rows_per_batch_p50" -> p50(lowBatches.map(_.numInputRows.toDouble)),
      "streaming.trigger_ms_p50" -> phaseP50("triggerExecution"),
      "streaming.addBatch_ms_p50" -> phaseP50("addBatch"),
      "streaming.queryPlanning_ms_p50" -> phaseP50("queryPlanning"),
      "streaming.walCommit_ms_p50" -> phaseP50("walCommit"),
      "streaming.commitOffsets_ms_p50" -> phaseP50("commitOffsets"),
      "streaming.latestOffset_ms_p50" -> phaseP50("latestOffset"),
      "streaming.drain_eps" -> StreamBacklog / Stats.median(r.warmDrainS.toSeq),
      "streaming.drain_eps_local1" -> local1,
      "streaming.lat_p50_ms_hi" -> phaseLatency(highPhase, 50).getOrElse(0.0),
      "streaming.lat_p90_ms_hi" -> phaseLatency(highPhase, 90).getOrElse(0.0),
      "state.rows_total" -> states.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.rows_updated" -> states.map(_.numRowsUpdated.toDouble).sum,
      "state.memory_bytes" -> states.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
      "state.commit_ms" -> states.map(_.commitTimeMs.toDouble).sum,
      "state.rows_dropped_watermark" -> states.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "sink.rows_out" -> r.sinkRows.toDouble,
      "sink.write_ms_p50" -> p50(lowBatches.flatMap(b => r.sinkCalls.get(b.batchId))
        .map(sc => (sc.endNs - sc.startNs) / 1e6)),
      "scheduler.jobs" -> counts.jobs.toDouble, "scheduler.stages" -> counts.stages.toDouble,
      "scheduler.tasks" -> counts.tasks.toDouble,
      "scheduler.busy_share" -> (if (runWallS > 0) counts.taskRunNs / 1e9 / (runWallS * cpus) else 0.0),
      "shuffle.write_bytes" -> counts.shuffleWriteBytes.toDouble,
      "shuffle.read_bytes" -> counts.shuffleReadBytes.toDouble,
      "shuffle.spill_bytes" -> counts.spillBytes.toDouble,
      "shuffle.fetch_wait_ms" -> counts.fetchWaitMs.toDouble)
  }

  /** Parent each micro-batch span to the phase span it started in. */
  private def reparentBatches(t: Tracer): Unit = {
    val spans = t.all
    val phases = spans.filter(_.kind == "phase")
    val fixed = spans.filter(s => s.kind == "batch" && s.parent.isEmpty).map { b =>
      b.copy(parent = phases.find(p => p.startUs <= b.startUs && b.startUs < p.endUs).map(_.key).getOrElse(""))
    }
    t.replace(fixed)
  }

  /** The same backlog drained by a single worker thread: the one-core
    * baseline the multi-threaded drain rate is read against. */
  private def drainLocal1(spark: SparkSession, o: Opts): Double = {
    spark.stop()
    val s1 = session("local[1]", 1, o.work)
    try {
      val r = StreamBars.run(s1, o.seed, s"${o.work}/local1", StreamBacklog / 2, 1, 0, 0, 1, None)
      StreamBacklog / 2 / Stats.median(r.warmDrainS.toSeq)
    } finally s1.stop()
  }

  private def batch(spark: SparkSession, o: Opts, queries: Seq[String],
      tracer: Option[(Tracer, String)], listener: Option[SchedulerTrace]): Outcome = {
    val indexRoot = sys.props.getOrElse("graft.index.root", "")
    val sc = spark.sparkContext
    def traced(p: Int) = p == 0 || tracedInRun(p)
    val onPass: Int => Unit = p => listener.foreach { l =>
      sc.removeSparkListener(l)
      if (traced(p)) sc.addSparkListener(l)
    }
    val minWarm = (MinWarmExecutions + queries.size - 1) / queries.size
    val r = BatchSuite.run(spark, o.data, queries, o.seed, o.seconds, minWarm, Setups, tracer,
      indexRoot, onPass)
    listener.foreach(sc.removeSparkListener)
    val cachedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
    val indexBytes = dirBytes(indexRoot).toDouble
    val warm = r.warm
    val lats = warm.map(_.secs * 1000.0)
    val coldS = r.cold.map(_.secs).sum
    val suiteS = queries.filterNot(r.errors.contains).map(r.warmMedian).sum
    val e2e = Map("setup_s" -> Stats.median(r.setupSecs.toSeq), "cold_pass_s" -> coldS,
      "suite_s" -> suiteS) ++ Stats.supportedPercentile(lats, 50).map("lat_p50_ms" -> _) ++
      Stats.supportedPercentile(lats, 90).map("lat_p90_ms" -> _)
    var layers = Map.empty[String, Double]
    for ((t, _) <- tracer; l <- listener) {
      l.awaitQuiet()
      layers = batchLayers(r, queries, l, cachedBytes, indexBytes, traced)
    }
    BatchSuite.dumpOutputs(r, o.data, queries, o.out)
    val perQuery = r.execs.groupBy(_.query).map { case (q, es) => q -> es.size.toLong }
    val summary = Map[String, Any]("passes" -> r.passes, "warm_executions" -> warm.size,
      "queries" -> queries.size, "errors" -> r.errors.keys.toSeq)
    val failedExec = r.errors.size.toLong
    Outcome(e2e, layers, r.execs.size.toLong + failedExec, failedExec,
      r.errors.map { case (q, e) => s"$q: $e" }.toSeq, summary, perQuery)
  }

  private def batchLayers(r: BatchSuite.Result, queries: Seq[String], l: SchedulerTrace,
      cachedBytes: Double, indexBytes: Double, traced: Int => Boolean): Map[String, Double] = {
    val tracedWarm = r.warm.filter(e => traced(e.pass))
    val untracedWarm = r.warm.filterNot(e => traced(e.pass))
    def passTotals(es: Seq[BatchSuite.Exec]) = es.groupBy(_.pass).values.map(_.map(_.secs).sum).toSeq
    val overhead = Stats.median(passTotals(tracedWarm)) / Stats.median(passTotals(untracedWarm)) - 1
    val nTracedWarm = tracedWarm.map(_.pass).distinct.size.max(1)
    val warmKeys = tracedWarm.map(_.key).toSet
    val coldKeys = r.cold.map(e => e.query -> e.key).toMap
    val warmCounts = l.sum(warmKeys)
    def perPass(v: Long) = v.toDouble / nTracedWarm
    // A query built an artifact on first touch when its cold execution
    // ran checkpoint jobs its warm executions skip, or wrote index files.
    def ckpt(keys: Seq[String]) = keys.map(k => l.sum(_ == k).checkpointJobs.toDouble)
    val builtJobs = coldKeys.map { case (q, k) =>
      val warmCk = ckpt(tracedWarm.filter(_.query == q).map(_.key))
      q -> math.max(0.0, ckpt(Seq(k)).sum - (if (warmCk.isEmpty) 0.0 else warmCk.sum / warmCk.size))
    }
    val buildS = r.cold.filter(e => builtJobs.getOrElse(e.query, 0.0) > 0 ||
        r.coldIndexBytes.getOrElse(e.query, 0L) > 0)
      .map(e => math.max(0.0, e.secs - r.warmMedian(e.query))).sum
    val warmWall = passTotals(tracedWarm).sum
    val ops = queries.filterNot(r.errors.contains).map(q => s"operators.${q}_s" -> r.warmMedian(q)) ++
      r.cold.map(e => s"operators.${e.query}_cold_s" -> e.secs)
    ops.toMap ++ Map(
      "sources.scan_s" -> warmCounts.scanRunNs / 1e9 / nTracedWarm,
      "sources.rows_in" -> perPass(warmCounts.recordsRead),
      "sources.bytes_in" -> perPass(warmCounts.bytesRead),
      "artifacts.build_s" -> buildS,
      "artifacts.checkpoint_jobs" -> builtJobs.values.sum,
      "artifacts.cached_bytes" -> cachedBytes,
      "artifacts.index_bytes" -> indexBytes,
      "scheduler.jobs" -> perPass(warmCounts.jobs), "scheduler.stages" -> perPass(warmCounts.stages),
      "scheduler.tasks" -> perPass(warmCounts.tasks),
      "scheduler.busy_share" -> (if (warmWall > 0) warmCounts.taskRunNs / 1e9 / (warmWall * cpus) else 0.0),
      "shuffle.write_bytes" -> perPass(warmCounts.shuffleWriteBytes),
      "shuffle.read_bytes" -> perPass(warmCounts.shuffleReadBytes),
      "shuffle.spill_bytes" -> perPass(warmCounts.spillBytes),
      "shuffle.fetch_wait_ms" -> perPass(warmCounts.fetchWaitMs),
      "trace.overhead_share" -> overhead)
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.model.RunningBar
import graft.streaming.{KafkaIO, StreamingOhlcv}

/** A Kafka record as the broker would hand it over: the trade JSON in
  * `value`, plus its partition and offset. */
final case class KafkaRecord(value: Array[Byte], partition: Int, offset: Long)

/** Where the sink leaves the serialized bars for the off-clock check.
  * Local mode runs tasks in this JVM, so tasks append here directly. */
object SinkCapture {
  val rows = new ConcurrentLinkedQueue[String]()
  val count = new AtomicLong()
  def reset(): Unit = { rows.clear(); count.set(0) }
}

/** Seeded trade generator, after the reference's old/gen.py: products
  * uniform over 1,999, instruments over 100, integer prices 1-1000,
  * quantities 1-100. Every trade it makes is kept for the reference
  * OHLCV. (product, timestamp, instrument) is kept unique so that open
  * and close are defined by (timestamp, instrument) alone. */
final class TradeGen(seed: Long) {
  private val rng = new java.util.SplittableRandom(seed)
  private val seen = new java.util.HashSet[java.lang.Long]()
  val trades = mutable.ArrayBuffer.empty[GenTrade]
  var bytes = 0L
  private var n = 0L

  /** One record whose event time is `baseMs` less up to `jitterMs`. */
  def next(baseMs: Long, jitterMs: Int): KafkaRecord = {
    val ts = baseMs - (if (jitterMs > 0) rng.nextInt(jitterMs + 1) else 0)
    val p = 1 + rng.nextInt(1999)
    var i = 1 + rng.nextInt(100)
    while (!seen.add((ts << 18) | (p.toLong << 7) | i)) i = i % 100 + 1
    val t = GenTrade(ts, s"Instrument_$i", s"Product_$p", (1 + rng.nextInt(1000)).toDouble,
      1L + rng.nextInt(100))
    trades += t
    val json = s"""{"timestamp": $ts, "instrument_id": "${t.instrument}", "product": """ +
      s""""${t.product}", "price": ${t.price.toLong}, "qty": ${t.qty}}"""
    val b = json.getBytes(UTF_8)
    bytes += b.length
    val rec = KafkaRecord(b, (n % StreamBars.Partitions).toInt, n / StreamBars.Partitions)
    n += 1
    rec
  }
}

/** The `stream_bars` workload: the reference's running-bar pipeline
  * (`parseTrades` -> `withEventTime` -> `statefulBars(60 s, running)` in
  * update mode -> `toJsonValue` -> foreachBatch), fed in process. */
object StreamBars {
  val WidthMs = 60000L
  val WatermarkSlack = "5 seconds"
  val JitterMs = 2000
  val TickMs = 50L
  val LowRate = 2000
  /** About half the backlog drain rate the seed commit measures on a
    * 4-core host; frozen so that later commits are loaded identically. */
  val HighRate = 10000
  val PrimingEvents = 200
  /** Kafka partitions of the simulated topic. */
  val Partitions = 4
  /** Event-time rate at which pre-queued backlog events are stamped. */
  val BacklogEventRate = 20000

  /** Events queued by one addData call; `wakeNs` is when the generator
    * was scheduled to send them (0 for pre-queued backlogs). */
  final case class Chunk(memOffset: Long, phase: String, first: Int, count: Int, addNs: Long,
      wakeNs: Long = 0L)
  final case class SinkCall(startNs: Long, endNs: Long)
  final case class PhaseStats(name: String, events: Int, latencies: Seq[(Double, Long)],
      lateMs: Seq[Double], lagSlope: Double, lagP50: Double, valid: Boolean,
      batches: Seq[StreamingQueryProgress])

  final class Result {
    val setupSecs = mutable.ArrayBuffer.empty[Double]
    var coldDrainS = 0.0
    val warmDrainS = mutable.ArrayBuffer.empty[Double]
    val phases = mutable.ArrayBuffer.empty[PhaseStats]
    var events = 0
    var mismatchedEvents = 0
    var barsChecked = 0
    var error: Option[String] = None
    var progress: Seq[StreamingQueryProgress] = Nil
    var sinkCalls: Map[Long, SinkCall] = Map.empty
    var runId = ""
    var bytesIn = 0L
    var sinkRows = 0L
  }

  private final class Pipeline(spark: SparkSession, ckpt: String) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // One input partition per Kafka partition; without numPartitions the
    // memory source makes one per addData call, i.e. one task per tick.
    val input = MemoryStream[KafkaRecord](Partitions)
    val sinkCalls = new ConcurrentHashMap[Long, SinkCall]()
    private val bars: Dataset[RunningBar] = StreamingOhlcv.statefulBars(
      StreamingOhlcv.withEventTime(KafkaIO.parseTrades(input.toDF()), WatermarkSlack),
      WidthMs, emitRunning = true)
    val query: StreamingQuery = bars.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: Dataset[RunningBar], id: Long) =>
        val t0 = System.nanoTime()
        KafkaIO.toJsonValue(batch.toDF()).foreachPartition { (it: Iterator[Row]) =>
          var n = 0L
          it.foreach { r => SinkCapture.rows.add(r.getString(0)); n += 1 }
          SinkCapture.count.addAndGet(n)
          ()
        }
        sinkCalls.put(id, SinkCall(t0, System.nanoTime()))
        ()
      }
      .start()

    def add(recs: Seq[KafkaRecord]): Long =
      input.addData(recs).json().toLong
  }

  /** Run the workload: `setups` query start-ups, a cold and `drains`
    * warm drains of a `backlog`-event backlog, then `lowSeconds` at
    * [[LowRate]] and `highSeconds` at [[HighRate]] (a phase of 0 s is
    * skipped). `beforeWarmDrain(k)` runs before warm drain k, and with
    * k = 0 once the drains are done. */
  def run(spark: SparkSession, seed: Long, workDir: String, backlog: Int, drains: Int,
      lowSeconds: Double, highSeconds: Double, setups: Int,
      tracer: Option[(Tracer, String)], beforeWarmDrain: Int => Unit = _ => ()): Result = {
    val res = new Result
    val gen = new TradeGen(seed)
    val chunks = mutable.ArrayBuffer.empty[Chunk]
    val dueNs = mutable.ArrayBuffer.empty[Long]
    var lastBaseMs = System.currentTimeMillis()
    def phaseSpan[A](name: String)(body: => A): A = tracer match {
      case Some((t, parent)) => t.span("phase", name, parent)(_ => body)
      case None => body
    }

    def queue(p: Pipeline, phase: String, recs: Seq[KafkaRecord]): Unit = {
      val first = dueNs.size
      recs.foreach(_ => dueNs += -1L)
      val off = p.add(recs)
      chunks += Chunk(off, phase, first, recs.size, System.nanoTime())
    }

    def backlogRecords(n: Int): Seq[KafkaRecord] = {
      val base = math.max(lastBaseMs, System.currentTimeMillis())
      val recs = (0 until n).map(i => gen.next(base + i * 1000L / BacklogEventRate, JitterMs))
      lastBaseMs = base + n * 1000L / BacklogEventRate
      recs
    }

    // Set-up: build and start the query and push a priming batch
    // through it, `setups` times; the last query is the one measured.
    var p: Pipeline = null
    phaseSpan("setup") {
      (1 to setups).foreach { k =>
        if (p != null) p.query.stop()
        SinkCapture.reset(); gen.trades.clear(); chunks.clear(); dueNs.clear()
        val t0 = System.nanoTime()
        p = new Pipeline(spark, s"$workDir/ckpt/q$k")
        queue(p, "setup", backlogRecords(PrimingEvents))
        p.query.processAllAvailable()
        res.setupSecs += (System.nanoTime() - t0) / 1e9
      }
    }
    val pl = p
    res.runId = pl.query.runId.toString
    try {
      def drain(): Double = {
        val recs = backlogRecords(backlog)
        val t0 = System.nanoTime()
        queue(pl, "drain", recs)
        pl.query.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }
      res.coldDrainS = phaseSpan("drain_cold")(drain())
      (1 to drains).foreach { k =>
        beforeWarmDrain(k)
        res.warmDrainS += phaseSpan("drain_warm")(drain())
      }
      beforeWarmDrain(0)

      def ratePhase(name: String, rate: Int, seconds: Double): Unit = phaseSpan(name) {
        val startNs = System.nanoTime()
        val baseMs = math.max(lastBaseMs, System.currentTimeMillis())
        val total = (rate * seconds).toInt
        var sent = 0
        var tick = 0L
        while (sent < total) {
          tick += 1
          val wake = startNs + tick * TickMs * 1000000L
          var sleep = wake - System.nanoTime()
          while (sleep > 0) {
            java.util.concurrent.locks.LockSupport.parkNanos(sleep)
            sleep = wake - System.nanoTime()
          }
          val now = System.nanoTime()
          val due = math.min(total, ((now - startNs) * rate / 1000000000L).toInt)
          if (due > sent) {
            val first = dueNs.size
            val recs = (sent until due).map { i =>
              val d = startNs + i * 1000000000L / rate
              dueNs += d
              gen.next(baseMs + (d - startNs) / 1000000L, JitterMs)
            }
            val off = pl.add(recs)
            chunks += Chunk(off, name, first, recs.size, System.nanoTime(), wake)
            sent = due
          }
        }
        lastBaseMs = baseMs + (seconds * 1000).toLong
        pl.query.processAllAvailable()
      }
      if (lowSeconds > 0) ratePhase("rate_low", LowRate, lowSeconds)
      if (highSeconds > 0) ratePhase("rate_high", HighRate, highSeconds)
    } catch {
      case scala.util.control.NonFatal(e) => res.error = Some(String.valueOf(e))
    } finally {
      pl.query.stop()
    }
    res.progress = pl.query.recentProgress.toSeq
    res.sinkCalls = pl.sinkCalls.asScala.toMap.map { case (k, v) => k.toLong -> v }
    res.events = gen.trades.size
    res.bytesIn = gen.bytes
    res.sinkRows = SinkCapture.count.get()
    pl.query.exception.foreach(e => res.error = Some(String.valueOf(e)))

    phaseSpan("check") {
      if (res.error.isEmpty) check(gen, res)
      else res.mismatchedEvents = res.events
      res.phases ++= phaseStats(res, chunks.toSeq, dueNs.toArray)
    }
    SinkCapture.reset()
    res
  }

  /** Compare each (product, window)'s last emitted bar with the
    * reference; every trade of a mismatched window counts as failed. */
  private def check(gen: TradeGen, res: Result): Unit = {
    val ref = RefOhlcv.bars(gen.trades.iterator, WidthMs)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val got = mutable.HashMap.empty[(String, Long), RefBar]
    SinkCapture.rows.asScala.foreach { s =>
      val j = mapper.readTree(s)
      val ws = java.time.Instant.parse(j.get("time").asText()).toEpochMilli
      val b = RefBar(j.get("product").asText(), ws, j.get("open").asDouble(),
        j.get("high").asDouble(), j.get("low").asDouble(), j.get("close").asDouble(),
        j.get("volume").asLong())
      val k = (b.product, ws)
      if (got.get(k).forall(_.volume <= b.volume)) got(k) = b
    }
    val perWindow = gen.trades.groupBy(t => (t.product, Math.floorDiv(t.timestamp, WidthMs) * WidthMs))
      .map { case (k, ts) => k -> ts.size }
    val bad = (ref.keySet ++ got.keySet).filter(k => ref.get(k) != got.get(k))
    res.barsChecked = ref.size
    res.mismatchedEvents = bad.toSeq.map(k => perWindow.getOrElse(k, 1)).sum
  }

  private def offsetOf(s: String): Long =
    if (s == null || s.isEmpty || s == "null") -1L else s.trim.toLong

  /** Latency and validity of each rate phase. An event's latency runs
    * from its due time to the end of the sink call of the micro-batch
    * that read it (that batch emits its running bar). */
  private def phaseStats(res: Result, chunks: Seq[Chunk], dueNs: Array[Long]): Seq[PhaseStats] = {
    val byEnd = res.progress.filter(_.sources.nonEmpty)
      .map(p => (offsetOf(p.sources(0).startOffset), offsetOf(p.sources(0).endOffset), p))
      .filter { case (a, b, _) => b > a }.sortBy(_._2)
    def batchOf(off: Long): Option[StreamingQueryProgress] =
      byEnd.collectFirst { case (a, b, p) if a < off && off <= b => p }
    val ratePhases = chunks.map(_.phase).distinct.filter(_.startsWith("rate_"))
    ratePhases.map { name =>
      val cs = chunks.filter(_.phase == name)
      val rate = if (name == "rate_low") LowRate else HighRate
      val lat = mutable.ArrayBuffer.empty[(Double, Long)]
      val late = mutable.ArrayBuffer.empty[Double]
      val batches = mutable.LinkedHashMap.empty[Long, StreamingQueryProgress]
      cs.foreach { c =>
        val b = batchOf(c.memOffset)
        val end = b.flatMap(p => res.sinkCalls.get(p.batchId)).map(_.endNs)
        late += (c.addNs - c.wakeNs) / 1e6
        (c.first until c.first + c.count).foreach { i =>
          for (p <- b; e <- end) lat += (((e - dueNs(i)) / 1e6, p.batchId))
        }
        b.foreach(p => batches(p.batchId) = p)
      }
      // Backlog: events queued but not yet read, sampled at each sink end.
      val t0 = cs.headOption.map(_.addNs).getOrElse(0L)
      val lag = batches.values.toSeq.flatMap { p =>
        res.sinkCalls.get(p.batchId).map { sc =>
          val queued = cs.filter(_.addNs <= sc.endNs).map(_.count).sum
          val read = cs.filter(c => c.memOffset <= offsetOf(p.sources(0).endOffset)).map(_.count).sum
          ((sc.endNs - t0) / 1e9, (queued - read).toDouble)
        }
      }
      val slope = Stats.slope(lag)
      val phaseSecs = cs.size * TickMs / 1000.0
      val lateOk = Stats.percentile(late.toSeq, 99) <= TickMs
      val lagOk = name != "rate_low" || slope * phaseSecs <= rate * 0.5
      val missing = cs.map(_.count).sum - lat.size
      PhaseStats(name, cs.map(_.count).sum, lat.toSeq, late.toSeq, slope,
        Stats.median(lag.map(_._2)), lateOk && lagOk && missing == 0, batches.values.toSeq)
    }
  }
}

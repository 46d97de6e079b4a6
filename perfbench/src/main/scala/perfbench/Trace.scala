package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval. `key` is unique within a run; `parent` names the
  * key of the span that caused it (empty for a root). Every span of one
  * workload run shares `traceId`. Times are epoch microseconds so that
  * harness spans (nanoTime based) and Spark listener spans (epoch ms)
  * share one clock. */
final case class Span(key: String, parent: String, kind: String, name: String,
    startUs: Long, endUs: Long, traceId: String) {
  def durUs: Long = endUs - startUs
}

object Clock {
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowUs: Long = (System.nanoTime() + epochOffsetNs) / 1000L
  def nanoToUs(ns: Long): Long = (ns + epochOffsetNs) / 1000L
}

/** In-memory span buffer; written out once, when the run ends. */
final class Tracer(val traceId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  def newKey(kind: String): String = s"$kind:${seq.incrementAndGet()}"

  def record(kind: String, name: String, parent: String, startUs: Long,
      endUs: Long, key: String = ""): String = {
    val k = if (key.isEmpty) newKey(kind) else key
    spans.add(Span(k, parent, kind, name, startUs, endUs, traceId))
    k
  }

  /** Time `body` as a span; `body` receives the span's own key so that
    * nested work can name it as parent. */
  def span[A](kind: String, name: String, parent: String)(body: String => A): A = {
    val key = newKey(kind)
    val t0 = Clock.nowUs
    try body(key) finally record(kind, name, parent, t0, Clock.nowUs, key)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Swap in new versions of spans, matched by key. */
  def replace(updated: Seq[Span]): Unit = {
    val keys = updated.map(_.key).toSet
    spans.removeIf(s => keys.contains(s.key))
    updated.foreach(spans.add)
  }
}

/** Span keys shared by the listener and the harness for streaming spans:
  * a micro-batch is identified by its query run and batch id. */
object StreamKeys {
  def batch(runId: String, batchId: Long): String = s"batch:$runId:$batchId"
}

object SelfTime {

  /** Microseconds of [lo, hi) covered by the union of `ivs`. */
  def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * that its children cover (children may overlap one another). */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.key, Nil).map(c => (c.startUs, c.endUs))
      s.key -> (s.durUs - covered(s.startUs, s.endUs, kids))
    }.toMap
  }

  /** Self time summed per span kind, in seconds. */
  def byKind(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.kind).map { case (k, ss) => k -> ss.map(s => self(s.key)).sum / 1e6 }
  }
}

/** Counters the Spark scheduler reports per task, summed per job group
  * (the harness sets one job group per query and per pass). */
final class LayerCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var fetchWaitMs = 0L
  var checkpointJobs = 0L
  /** Run time of tasks that read input files, and what they read. */
  var scanRunNs = 0L
  var recordsRead = 0L
  var bytesRead = 0L

  def +=(o: LayerCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskRunNs += o.taskRunNs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; fetchWaitMs += o.fetchWaitMs
    checkpointJobs += o.checkpointJobs
    scanRunNs += o.scanRunNs; recordsRead += o.recordsRead; bytesRead += o.bytesRead
  }
}

/** Turns scheduler events into job/stage spans and per-group counts.
  * A job's parent span is read from its job group (`span:<key>`) or, for
  * a streaming micro-batch, from the batch id Spark attaches to it. */
final class SchedulerTrace(tracer: Tracer) extends SparkListener {
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Long, String, String)]
  val counts = mutable.Map.empty[String, LayerCounts]
  @volatile private var lastEventNs = System.nanoTime()

  private def group(props: java.util.Properties): String = {
    if (props == null) "" else {
      val g = Option(props.getProperty("spark.jobGroup.id")).getOrElse("")
      if (g.startsWith("span:")) g.stripPrefix("span:")
      else Option(props.getProperty("streaming.sql.batchId"))
        .map(b => StreamKeys.batch(g, b.toLong)).getOrElse("")
    }
  }

  private def countsOf(g: String): LayerCounts = counts.getOrElseUpdate(g, new LayerCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val g = group(e.properties)
    // A job is named after its final stage, whose name is the call site
    // (`localCheckpoint at Dedup.scala:123`).
    val callSite = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    e.stageIds.foreach { s =>
      groupOfStage.getOrElseUpdate(s, g)
      jobOfStage.getOrElseUpdate(s, e.jobId)
    }
    jobStart(e.jobId) = (e.time, g, callSite)
    val c = countsOf(g)
    c.jobs += 1
    if (callSite.startsWith("localCheckpoint") || callSite.startsWith("checkpoint"))
      c.checkpointJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    jobStart.remove(e.jobId).foreach { case (t0, g, site) =>
      tracer.record("job", site, g, t0 * 1000L, e.time * 1000L, s"job:${e.jobId}")
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val si = e.stageInfo
    val g = groupOfStage.getOrElse(si.stageId, "")
    countsOf(g).stages += 1
    for (a <- si.submissionTime; b <- si.completionTime) {
      val parent = jobOfStage.get(si.stageId).map(j => s"job:$j").getOrElse(g)
      tracer.record("stage", si.name, parent, a * 1000L, b * 1000L,
        s"stage:${si.stageId}.${si.attemptNumber()}")
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val c = countsOf(groupOfStage.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunNs += m.executorRunTime * 1000000L
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      if (m.inputMetrics.recordsRead > 0) {
        c.scanRunNs += m.executorRunTime * 1000000L
        c.recordsRead += m.inputMetrics.recordsRead
        c.bytesRead += m.inputMetrics.bytesRead
      }
    }
  }

  /** Listener events arrive asynchronously; wait until none has arrived
    * for `quietMs` (bounded by `maxMs`) before reading the counts. */
  def awaitQuiet(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
      System.nanoTime() < deadline) Thread.sleep(50)
  }

  def sum(groups: String => Boolean): LayerCounts = synchronized {
    val out = new LayerCounts
    counts.foreach { case (g, c) => if (groups(g)) out += c }
    out
  }
}

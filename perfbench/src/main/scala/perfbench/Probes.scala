package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans kept in memory and written out when the run ends. */
object Trace {
  final case class Span(id: Long, parent: Long, trace: Long, name: String, startNs: Long, endNs: Long)
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var enabled = false
  private val current = new ThreadLocal[(Long, Long)] // (span id, trace id)

  /** Time `body`; when tracing, record it as a span under the thread's
    * current span (a new trace when there is none). */
  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val outer = current.get()
    val (parent, trace) = if (outer == null) (0L, id) else outer
    current.set((id, trace))
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, trace, name, t0, System.nanoTime()))
      current.set(outer)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Median self time (ms) of the spans named `name`: duration minus the
    * part covered by child spans. */
  def selfMsP50(name: String): Double = {
    val s = all
    val kids = s.groupBy(_.parent)
    Stats.p50(s.filter(_.name == name).map { p =>
      (p.endNs - p.startNs - kids.getOrElse(p.id, Nil).map(c => c.endNs - c.startNs).sum) / 1e6
    })
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Stats {
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def p50(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Engine counters from a SparkListener, split by job group: the serve
  * path runs its jobs under [[Counters.pageGroup]]. */
final class Counters extends SparkListener {
  final class Totals {
    val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = new AtomicLong()
  }
  val all = new Totals
  val pages = new Totals
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def of(group: String): Seq[Totals] =
    if (group == Counters.pageGroup) Seq(all, pages) else Seq(all)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    of(g).foreach(_.jobs.incrementAndGet())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageGroup.getOrDefault(e.stageInfo.stageId, "")).foreach(_.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    of(stageGroup.getOrDefault(e.stageId, "")).foreach { t =>
      t.tasks.incrementAndGet()
      if (m != null) {
        t.runMs.addAndGet(m.executorRunTime)
        t.cpuNs.addAndGet(m.executorCpuTime)
        t.gcMs.addAndGet(m.jvmGCTime)
        t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
}

object Counters {
  val pageGroup = "perfbench-page"
}

/** Planning phases, execution time and scanned files of every action on
  * the session it is registered on. */
final class Actions extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val count, planNs, execNs, files = new AtomicLong()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    count.incrementAndGet()
    planNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
    execNs.addAndGet(durationNs)
    files.addAndGet(collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Every micro-batch progress of the streams on a session. */
final class Progress extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def all: Seq[StreamingQueryProgress] = events.asScala.toSeq
  /** Batches that read input (no-data batches only move the watermark). */
  def dataBatches: Seq[StreamingQueryProgress] = all.filter(_.numInputRows > 0)
  def phaseMs(name: String): Double =
    all.map(p => Option(p.durationMs.get(name)).map(_.toDouble).getOrElse(0.0)).sum
}

/** The three listeners, registered together for a traced phase. */
final class Probes(spark: SparkSession, reader: SparkSession) {
  val counters = new Counters
  val actions = new Actions
  val progress = new Progress

  def start(): Unit = {
    spark.sparkContext.addSparkListener(counters)
    reader.listenerManager.register(actions)
    spark.streams.addListener(progress)
  }

  /** Wait for the asynchronous listener bus, then detach. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counters)
    reader.listenerManager.unregister(actions)
    spark.streams.removeListener(progress)
  }
}

/** Sample collector for latencies. */
final class Samples {
  private val buf = mutable.ArrayBuffer.empty[Double]
  def add(x: Double): Unit = synchronized(buf += x)
  def values: Seq[Double] = synchronized(buf.toVector)
}

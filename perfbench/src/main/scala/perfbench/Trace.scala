package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine counters of one span, filled from Spark listener task metrics.
  * A span owns the jobs submitted while its job group was the innermost
  * one, so these counts are already exclusive of child spans. */
final class SpanCounters {
  val jobs, tasks, inputBytes, inputRecords, shuffleWriteBytes, shuffleReadBytes,
      outputBytes, spillBytes, fetchWaitMs, filesRead = new LongAdder
}

/** One call into a module, timed from the benchmark's side of the call. */
final class Span(val id: Long, val name: String, val parent: Long,
                 val request: Long, val startNs: Long) {
  var endNs = 0L
  var planNs = 0L
  var gcMsIncl = 0L
  var childNs = 0L
  def group: String = s"perfbench-span-$id"
  def durNs: Long = endNs - startNs
  def selfNs: Long = durNs - childNs
  def module: String = name.takeWhile(_ != '.')
}

object Trace {
  private[perfbench] val counters = new ConcurrentHashMap[String, SpanCounters]()
  def countersOf(group: String): SpanCounters =
    counters.computeIfAbsent(group, _ => new SpanCounters)

  /** Job group of the calling thread: the task's group on an executor
    * thread, the driver thread's group otherwise. */
  private[perfbench] def currentGroup: String =
    Option(TaskContext.get()).flatMap(t => Option(t.getLocalProperty("spark.jobGroup.id")))
      .orElse(DriverGroup.current.get())
      .orNull

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum
}

/** Driver-side group of the thread running the workload (executor threads
  * read theirs from the task's local properties). */
private[perfbench] object DriverGroup {
  val current = new ThreadLocal[Option[String]] {
    override def initialValue(): Option[String] = None
  }
}

/** `file:` filesystem that counts the parquet data files each span opens.
  * Installed only in traced runs (`spark.hadoop.fs.file.impl`). */
class CountingLocalFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName.endsWith(".parquet")) {
      val g = Trace.currentGroup
      if (g != null) Trace.countersOf(g).filesRead.increment()
    }
    super.open(f, bufferSize)
  }
}

/** Attributes task metrics to spans through the job group each job was
  * submitted under. */
final class SpanListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { grp =>
      Trace.countersOf(grp).jobs.increment()
      e.stageIds.foreach(s => stageGroup.put(s, grp))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val grp = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (grp != null && m != null) {
      val c = Trace.countersOf(grp)
      c.tasks.increment()
      c.inputBytes.add(m.inputMetrics.bytesRead)
      c.inputRecords.add(m.inputMetrics.recordsRead)
      c.outputBytes.add(m.outputMetrics.bytesWritten)
      c.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      c.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
      c.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Spans around every call the workloads make into an engine module.
  *
  * With tracing off every method is a plain call: no job group, no
  * materialization, no listener. With tracing on, a span sets its own job
  * group, forces a returned DataFrame to materialize at the boundary (so
  * lazy work lands in the module that built it) and records its planning
  * time. Spans stay in memory until [[spans]] is read at the end. */
final class Tracer(spark: SparkSession, val installed: Boolean) {
  private val all = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 0L
  private var request = 0L
  /** Whether the current op is traced; in a traced run ops alternate in
    * blocks between traced and untraced to measure the overhead. */
  var active: Boolean = installed

  def spans: Seq[Span] = all.toSeq
  /** Hits returned per (request, layer): a layer's rows examined per hit
    * divides by the hits that layer returned. */
  val hits = scala.collection.mutable.Map[(Long, String), Long]()
  /** Named figures a workload measures at layer boundaries (traced runs). */
  val notes = scala.collection.mutable.LinkedHashMap[String, Double]()

  def hit(layer: String, n: Long): Unit =
    if (active) hits((request, layer)) = hits.getOrElse((request, layer), 0L) + n
  def note(k: String, v: Double): Unit = if (active) notes(k) = notes.getOrElse(k, 0.0) + v

  /** A call made only to be measured (traced ops only): the engine repeats
    * this work inside the next call, so untraced ops skip it. */
  def probe(name: String)(body: => Any): Unit = if (active) span(name)(body): Unit

  /** Fetching a result to the driver, as the client of a request does. */
  def collect[T](fetch: => T): T = span("spark.collect")(fetch)

  /** Start a new request: spans opened until the next call share its id. */
  def newRequest(): Long = { request += 1; request }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = open(name)
      try body finally close(s)
    }

  /** A module call returning a DataFrame: materialized inside the span. */
  def frame(name: String)(body: => DataFrame): DataFrame =
    if (!active) body
    else {
      val s = open(name)
      try {
        val df = body
        val p0 = System.nanoTime()
        df.queryExecution.executedPlan
        s.planNs = System.nanoTime() - p0
        df.localCheckpoint(true)
      } finally close(s)
    }

  private def open(name: String): Span = {
    nextId += 1
    val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L),
      request, System.nanoTime())
    s.gcMsIncl = -Trace.gcMs
    stack = s :: stack
    spark.sparkContext.setJobGroup(s.group, name, interruptOnCancel = false)
    DriverGroup.current.set(Some(s.group))
    all += s
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.gcMsIncl += Trace.gcMs
    stack = stack.tail
    stack.headOption match {
      case Some(p) =>
        p.childNs += s.durNs
        spark.sparkContext.setJobGroup(p.group, p.name, interruptOnCancel = false)
        DriverGroup.current.set(Some(p.group))
      case None =>
        spark.sparkContext.clearJobGroup()
        DriverGroup.current.set(None)
    }
  }
}

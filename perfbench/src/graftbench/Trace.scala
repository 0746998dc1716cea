package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `layer` is one of the layer names in BENCH.md;
  * `parent` is -1 for an op's root span and for spans recovered from
  * listener events, whose parents are found by time containment.
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
                      name: String, start: Long, end: Long)

/** Work counters of one op, filled from Spark listener events. */
final class OpCounters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var inputRows, inputBytes, outputBytes = 0L
}

/** Tracing from outside the program: spans around each call the
  * benchmark makes into a layer, plus Spark's public listeners. Spans
  * are kept in memory and written out when the run ends. Everything is a
  * no-op unless `enable` was called.
  */
object Trace {
  val OpProp = "graftbench.op"
  @volatile private var on = false
  private val ids = new AtomicLong(0)
  private val nanoOrigin = System.nanoTime()
  private val msOrigin = System.currentTimeMillis()
  /** Listener timestamps are epoch milliseconds; spans use nanoTime. */
  def msToNano(ms: Long): Long = nanoOrigin + (ms - msOrigin) * 1000000L

  val spans = new ConcurrentLinkedQueue[Span]()
  val counters = new ConcurrentHashMap[Long, OpCounters]()
  /** Per streaming run id: the progress durations of its batches. */
  val streamProgress = new ConcurrentLinkedQueue[(java.util.UUID, Map[String, Long])]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val curOp = new ThreadLocal[Long] { override def initialValue() = -1L }

  def enabled: Boolean = on

  def enable(spark: SparkSession): Unit = {
    on = true
    spark.sparkContext.addSparkListener(Listener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(QeListener)
    spark.streams.addListener(StreamListener)
  }

  private def ctr(op: Long): OpCounters = counters.computeIfAbsent(op, _ => new OpCounters)

  /** Root span of one op; Spark jobs started on this thread carry the op id. */
  def op[A](spark: SparkSession, opId: Long, verb: String)(f: => A): A =
    if (!on) f
    else {
      spark.sparkContext.setLocalProperty(OpProp, opId.toString)
      curOp.set(opId)
      try span("driver", verb)(f)
      finally {
        curOp.set(-1L)
        spark.sparkContext.setLocalProperty(OpProp, null)
      }
    }

  def span[A](layer: String, name: String)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(-1L), curOp.get(), layer, name, t0, t1))
      }
    }

  /** Catalyst phases of a query the benchmark executed itself (those
    * never reach a QueryExecutionListener).
    */
  def phases(qe: QueryExecution, op: Long): Unit =
    if (on) addPhases(qe, op)

  private def addPhases(qe: QueryExecution, op: Long): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      spans.add(Span(ids.incrementAndGet(), -1L, op, "catalyst", phase,
        msToNano(p.startTimeMs), msToNano(p.endTimeMs)))
    }

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(OpProp))).map(_.toLong).getOrElse(-1L)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      jobStart.put(e.jobId, (op, e.time))
      e.stageIds.foreach(s => stageOp.put(s, op))
      ctr(op).synchronized { ctr(op).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        spans.add(Span(ids.incrementAndGet(), -1L, op, "exec", s"job ${e.jobId}",
          msToNano(t0), msToNano(e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val op = stageOp.getOrDefault(e.stageInfo.stageId, -1L)
      ctr(op).synchronized { ctr(op).stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = ctr(stageOp.getOrDefault(e.stageId, -1L))
      c.synchronized {
        c.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) c.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputRows += m.inputMetrics.recordsRead
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Phases of the queries the program runs on its own; the runner
    * assigns them to ops by time.
    */
  private object QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      addPhases(qe, -1L)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      addPhases(qe, -1L)
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      streamProgress.add((e.progress.runId,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  /** Total GC time of the JVM so far, in milliseconds. */
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Self time per layer of one op's spans: each instant of the op's
    * root span counts once, for the deepest span that covers it, so the
    * layers' self times add up to the op's wall time. A span's depth
    * follows its recorded parent; spans from listener events take as
    * parent the innermost span that contains their start.
    */
  def selfTimes(opSpans: Seq[Span]): Map[String, Long] = {
    val sorted = opSpans.sortBy(s => (s.start, -s.end))
    val byId = opSpans.map(s => s.id -> s).toMap
    val depth = mutable.Map[Long, Int]()
    val open = mutable.Stack[Span]()
    sorted.foreach { s =>
      while (open.nonEmpty && open.top.end <= s.start) open.pop()
      val parent = byId.get(s.parent).orElse(open.headOption)
      depth(s.id) = parent.map(p => depth.getOrElse(p.id, 0) + 1).getOrElse(0)
      open.push(s)
    }
    val self = mutable.Map[String, Long]().withDefaultValue(0L)
    opSpans.filter(s => depth(s.id) == 0).maxByOption(s => s.end - s.start).foreach { root =>
      val cuts = opSpans.flatMap(s => Seq(s.start, s.end))
        .filter(t => t >= root.start && t <= root.end).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val active = opSpans.filter(s => s.start <= a && s.end >= b)
        if (active.nonEmpty) self(active.maxBy(s => (depth(s.id), s.start)).layer) += b - a
      }
    }
    self.toMap
  }

  /** Length of the union of the intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = ce.max(b)
    }
    if (ce > cs) total += ce - cs
    total
  }
}

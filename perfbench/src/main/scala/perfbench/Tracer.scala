package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters summed over one span (or a whole run). */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var recordsRead = 0L
  var planMs = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; tasksFailed += o.tasksFailed
    execRunMs += o.execRunMs; execCpuNs += o.execCpuNs; gcMs += o.gcMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB
    recordsRead += o.recordsRead; planMs += o.planMs
  }
}

/** One timed call into the program, as the benchmark saw it from outside. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long,
    own: Counts) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into each layer, and
  * attributes Spark's own work to the innermost open span.
  *
  * With `traced = false` only wall times are kept: no listener is
  * registered and the bus is never drained, so the untraced run measures
  * the program alone. With `traced = true` a [[SparkListener]] counts jobs,
  * stages, tasks, executor time, shuffle bytes and records read, and a
  * [[QueryExecutionListener]] adds each query's analysis, optimization and
  * planning time from `QueryExecution.tracker`. Spark delivers both kinds of
  * events on its listener bus, so every span boundary first drains the bus:
  * all events of the work inside a span are then counted before the next
  * span opens.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  /** (start ms, end ms) of every job, from the scheduler's timestamps. */
  private val jobStart = mutable.Map.empty[Int, Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Wall-clock origin so spans can be written as milliseconds since it. */
  val originNs: Long = System.nanoTime()
  private val originMs: Long = System.currentTimeMillis()

  @volatile private var current: Counts = new Counts
  private val lock = new Object

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      current.jobs += 1
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { current.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val c = current
      c.tasks += 1
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) c.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        c.execRunMs += m.executorRunTime
        c.execCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = lock.synchronized {
      current.planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  if (traced) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def drain(): Unit = if (traced) PerfbenchBus.drain(sc)

  /** Time `body` as a span named `name`, nested in the innermost open span. */
  def span[A](name: String)(body: => A): A = {
    drain()
    val parent = open.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, name, parent, System.nanoTime(), 0L, new Counts)
    spans += s
    open.push(s)
    lock.synchronized { current = s.own }
    try body
    finally {
      drain()
      s.endNs = System.nanoTime()
      open.pop()
      lock.synchronized { current = open.headOption.map(_.own).getOrElse(new Counts) }
    }
  }

  def stop(): Unit = if (traced) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Counts of a span and everything nested in it. */
  def total(s: Span): Counts = {
    val c = new Counts
    c += s.own
    children(s.id).foreach(k => c += total(k))
    c
  }

  /** Seconds of [startNs, endNs) during which no Spark job was running. */
  def idleS(startNs: Long, endNs: Long): Double = {
    def toMs(ns: Long) = originMs + (ns - originNs) / 1000000L
    val lo = toMs(startNs)
    val hi = toMs(endNs)
    val clipped = jobIntervals.toSeq
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var busy = 0L
    var reach = lo
    clipped.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { busy += b - from; reach = b }
    }
    math.max(0L, (hi - lo) - busy) / 1000.0
  }

  /** Spans as JSON lines: id, name, parent, start/end in ms since the
    * tracer started, and the span's own Spark counters. */
  def spanLines: Seq[String] = spans.toSeq.map { s =>
    val c = s.own
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      f""""start_ms":${(s.startNs - originNs) / 1e6}%.3f,"end_ms":${(s.endNs - originNs) / 1e6}%.3f,""" +
      s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
      s""""tasks_failed":${c.tasksFailed},"exec_run_ms":${c.execRunMs},""" +
      s""""plan_ms":${c.planMs},"shuffle_bytes":${c.shuffleReadB + c.shuffleWriteB},""" +
      s""""records_read":${c.recordsRead}}"""
  }
}

package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval. Times are wall-clock milliseconds (with a
  * sub-millisecond fraction), the clock Spark's listener events use, so
  * bench spans and Spark job spans line up. `op` is shared by every span
  * of one operation; `parent` is -1 for an operation's root span.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** In-memory span recorder around the calls the benchmark makes into the
  * engine. Disabled, it runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val spans = ArrayBuffer[Span]()
  private var stack: List[(Int, Int)] = Nil // (span id, op id)
  private var nextOp = 0

  /** A new operation: its root span. */
  def op[A](name: String, layer: String = "bench")(body: => A): A =
    if (!enabled) body
    else { nextOp += 1; record(name, layer, -1, nextOp, body) }

  /** A child span of whatever span is open. */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else stack match {
      case (parent, op) :: _ => record(name, layer, parent, op, body)
      case Nil => this.op(name, layer)(body)
    }

  private def record[A](name: String, layer: String, parent: Int, op: Int,
      body: => A): A = {
    val id = spans.length
    spans += Span(id, parent, op, name, layer, now(), Double.NaN)
    stack = (id, op) :: stack
    val t0 = spans(id).start
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(start = t0, end = now())
    }
  }

  def roots: Seq[Span] = spans.iterator.filter(_.parent < 0).toSeq

  /** Total length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** Adds every Spark job as a child span of the operation running when
    * it started; returns how many were attributed.
    */
  def adoptJobs(jobs: Seq[SparkProbe.Job]): Int = {
    val rs = roots
    var n = 0
    jobs.foreach { j =>
      rs.find(r => j.start >= r.start && j.start <= r.end).foreach { r =>
        // the deepest open bench span at the job's start is its parent
        val parent = spans.iterator
          .filter(s => s.op == r.op && s.start <= j.start && s.end >= j.start)
          .maxByOption(_.start).map(_.id).getOrElse(r.id)
        spans += Span(spans.length, parent, r.op, s"job ${j.id}", "spark",
          j.start, math.min(j.end, r.end))
        n += 1
      }
    }
    n
  }

  /** Self time by layer: each span's duration minus what its children
    * cover.
    */
  def selfMsByLayer: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
      s.layer -> (s.ms - covered(ch, s.start, s.end))
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Driver time not covered by Spark jobs, summed over operations. */
  def driverSelfMs: Double = {
    val jobsByOp = spans.filter(_.layer == "spark").groupBy(_.op)
    roots.map { r =>
      val js = jobsByOp.getOrElse(r.op, Nil).map(j => (j.start, j.end)).toSeq
      r.ms - covered(js, r.start, r.end)
    }.sum
  }

  def writeJsonl(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)}}""")
    } finally w.close()
  }
}

/** Spark-side counters, from a listener the benchmark registers itself:
  * job and SQL-execution intervals plus summed task metrics.
  */
final class SparkProbe extends SparkListener {
  import SparkProbe._
  private val jobStarts = scala.collection.mutable.Map[Int, Double]()
  val jobs = ArrayBuffer[Job]()
  val sqlStarts = ArrayBuffer[Double]()
  private var sqlEnds = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var inputBytes = 0L
  @volatile private var lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time.toDouble; lastEvent = System.nanoTime()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val st = jobStarts.remove(e.jobId).getOrElse(e.time.toDouble)
    jobs += Job(e.jobId, st, e.time.toDouble); lastEvent = System.nanoTime()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuMs += m.executorCpuTime / 1e6
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      inputBytes += m.inputMetrics.bytesRead
    }
    lastEvent = System.nanoTime()
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts += s.time.toDouble
      case _: SparkListenerSQLExecutionEnd => sqlEnds += 1
      case _ =>
    }
    lastEvent = System.nanoTime()
  }

  /** Waits until the listener bus has delivered every job and execution
    * end (events arrive asynchronously) and stayed quiet for a moment.
    */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def settled = synchronized(jobStarts.isEmpty && sqlEnds >= sqlStarts.length) &&
      System.nanoTime() - lastEvent > 300000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }
}

object SparkProbe {
  final case class Job(id: Int, start: Double, end: Double)
}

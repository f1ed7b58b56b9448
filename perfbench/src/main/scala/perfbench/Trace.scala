package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its calls into graft. They stay
  * in memory and are written once, at the end of the run. Spark work is
  * attributed to spans by time: a job belongs to the innermost span open
  * when it started (the benchmark drives graft from one thread). */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startMs: Long,
      var endMs: Long = -1L, var startNs: Long = 0L, var durNs: Long = 0L)

  /** A Spark job; `ctx` tells apart the SparkContexts of one JVM, whose
    * job and stage ids each start from 0. */
  final case class Job(ctx: Int, id: Int, startMs: Long, var endMs: Long = -1L,
      stages: Seq[Int] = Nil)

  /** Per-stage task totals, filled from the listener bus thread. */
  final class StageTotals {
    var tasks, failures = 0L
    var runMs, cpuNs, gcMs, schedMs, shuffleWrite, shuffleRead, spill = 0L
  }

  val runId: String = java.util.UUID.randomUUID().toString.take(8)
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  private[perfbench] val jobs = new ConcurrentLinkedQueue[Job]()
  private[perfbench] val stages =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageTotals]()
  private val contexts = new java.util.concurrent.atomic.AtomicInteger()
  private[perfbench] def nextContext(): Int = contexts.incrementAndGet()

  /** Time `body` as a span named `name` (a no-op when tracing is off). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
        System.currentTimeMillis())
      spans += s; stack.push(s)
      s.startNs = System.nanoTime()
      try body
      finally {
        s.durNs = System.nanoTime() - s.startNs
        s.endMs = System.currentTimeMillis()
        stack.pop()
      }
    }

  /** An already-measured interval, e.g. JVM start -> main. */
  def interval(name: String, startMs: Long, endMs: Long): Unit =
    if (enabled) spans += Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
      name, startMs, endMs, 0L, (endMs - startMs) * 1000000L)

  def all: Seq[Span] = spans.toSeq

  /** Wait (up to 10 s) until the listener bus, which delivers events
    * asynchronously, has reported the end of every recorded job; task
    * ends come before their job's end on the bus. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (jobs.asScala.exists(_.endMs < 0) && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  private def innermost(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && (s.endMs < 0 || ms <= s.endMs))
      .sortBy(s => -s.startMs).headOption

  /** Spark totals for the jobs attributed to one span (its own, not its
    * children's). */
  def sparkOf(s: Span): Map[String, Double] = {
    val own = jobs.asScala.filter(j => innermost(j.startMs).exists(_.id == s.id)).toSeq
    val st = own.flatMap(j => j.stages.map((j.ctx, _))).distinct
      .flatMap(k => Option(stages.get(k)))
    def sum(f: StageTotals => Long) = st.map(f).sum.toDouble
    val wallS = s.durNs / 1e9
    // union of the own jobs' intervals: the rest of the span is driver time
    val busy = own.map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs))
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
        if (b <= end) (acc, end)
        else (acc + b - math.max(a, end), b)
      }._1 / 1000.0
    val cpuS = sum(_.cpuNs) / 1e9
    Map(
      "spark.jobs" -> own.size.toDouble,
      "spark.tasks" -> sum(_.tasks),
      "spark.executor_run_s" -> sum(_.runMs) / 1000.0,
      "spark.executor_cpu_s" -> cpuS,
      "spark.gc_s" -> sum(_.gcMs) / 1000.0,
      "spark.sched_delay_s" -> sum(_.schedMs) / 1000.0,
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.spill_bytes" -> sum(_.spill),
      "spark.task_failures" -> sum(_.failures),
      "spark.cpu_util" -> (if (wallS > 0) cpuS / (wallS * Harness.Cores) else 0.0),
      "spark.busy_s" -> busy)
  }

  /** Spark totals for a span and everything under it. */
  def sparkTree(s: Span): Map[String, Double] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    val maps = sparkOf(s) +: kids.map(sparkTree)
    maps.flatMap(_.keys).distinct.map(k => k -> maps.map(_.getOrElse(k, 0.0)).sum).toMap
  }

  def selfNs(s: Span): Long = s.durNs - spans.filter(_.parent == s.id).map(_.durNs).sum

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Write every span (with self time and its own Spark totals) as JSON. */
  def write(path: String, extra: Map[String, Double]): Unit = {
    settle()
    def obj(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => s"${q(k)}:${Harness.num(v)}" }.mkString("{", ",", "}")
    val rows = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},""" +
        s""""run":${q(runId)},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""dur_s":${Harness.num(s.durNs / 1e9)},"self_s":${Harness.num(selfNs(s) / 1e9)},""" +
        s""""spark":${obj(sparkOf(s))}}"""
    }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.print(s"""{"run":${q(runId)},"extra":${obj(extra)},"spans":[""" +
      rows.mkString(",\n") + "]}\n")
    finally w.close()
  }
}

/** Registered through `-Dspark.extraListeners`; records job intervals and
  * per-stage task totals for [[Trace]]. */
class TraceListener(conf: SparkConf) extends SparkListener {
  def this() = this(new SparkConf(false))

  private val ctx = Trace.nextContext()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.enabled) Trace.jobs.add(Trace.Job(ctx, e.jobId, e.time, -1L, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Trace.jobs.asScala.find(j => j.ctx == ctx && j.id == e.jobId).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Trace.enabled) {
    val t = Trace.stages.computeIfAbsent((ctx, e.stageId), _ => new Trace.StageTotals)
    t.synchronized {
      t.tasks += 1
      if (!e.taskInfo.successful) t.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        // launch -> deserialization start, minus what the task itself spent
        t.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

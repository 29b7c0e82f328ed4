package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Spans of one operation (query,
  * verb, store cycle or task) share `trace`; `parent` is the span that
  * caused this one (0 for the workload root).
  */
final case class Span(id: Long, parent: Long, trace: Long, layer: String,
    name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `span` runs the body and records
  * nothing, so the untraced runs pay one branch per call.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  // (span id, trace id) of the innermost open span on this thread
  private val open = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  def newTrace(): Long = ids.incrementAndGet()

  /** The open span of the calling thread, to hand to another thread. */
  def context: (Long, Long) = open.get()

  def span[A](layer: String, name: String, trace: Long = -1L,
      parent: (Long, Long) = null)(body: => A): A =
    if (!enabled) body
    else {
      val outer = open.get()
      val (pid, ptrace) = if (parent ne null) parent else outer
      val id = ids.incrementAndGet()
      val tr = if (trace >= 0) trace else ptrace
      open.set((id, tr))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, pid, tr, layer, name, t0, System.nanoTime()))
        open.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus the part of its
    * interval its children cover.
    */
  def selfTimeByLayer: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, mine) =>
      layer -> mine.map { s =>
        val covered = Stats.unionNs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** The traced run's view of the scheduler and of Catalyst: job, stage and
  * task counts, job intervals, executor task metrics, and the
  * `QueryExecution.tracker` phase times of every action. Counts only while
  * `active`; the caller drains the listener bus around activation.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  @volatile var active = false

  val jobs, stages, tasks, actions = new LongAdder
  val runMs, gcMs, inputBytes, shuffleRead, shuffleWrite, spill = new LongAdder
  val cpuNs = new LongAdder
  val analysisMs, optimizationMs, planningMs = new LongAdder
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    jobs.increment()
    stages.add(e.stageInfos.size.toLong)
    jobStart.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t0 => jobIntervals.add((t0, e.time)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (active && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.increment()
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      inputBytes.add(m.inputMetrics.bytesRead)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  private def phases(qe: QueryExecution): Unit = if (active) {
    actions.increment()
    val p = qe.tracker.phases
    p.get("analysis").foreach(s => analysisMs.add(s.durationMs))
    p.get("optimization").foreach(s => optimizationMs.add(s.durationMs))
    p.get("planning").foreach(s => planningMs.add(s.durationMs))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  /** Wall seconds during which at least one counted job was running. */
  def jobSeconds: Double =
    Stats.unionNs(jobIntervals.asScala.toSeq.map { case (a, b) => (a * 1000000L, b * 1000000L) }) / 1e9

  /** (jobs, stages, actions) so far — deltas around one serial operation. */
  def counts: (Long, Long, Long) = (jobs.sum, stages.sum, actions.sum)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile above the median with at least ten
    * samples above it, and its value: (percentile, value). With fewer than
    * 20 samples no such percentile exists and this is the median.
    */
  def tail(xs: Seq[Double]): (Int, Double) =
    (99 to 51 by -1).find(p => xs.size - math.ceil(p / 100.0 * xs.size) >= 10) match {
      case Some(p) => (p, quantile(xs, p / 100.0))
      case None => (50, median(xs))
    }

  /** Geometric mean; 0 for an empty sample. Every sample moves it a
    * little, so unlike the median of a few dozen unlike operations it does
    * not jump when run-to-run noise reorders the operations near the middle.
    */
  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Mean of the `k` largest samples (all of them if there are fewer):
    * the mean beyond the highest percentile with `k` samples above it.
    */
  def slowestMean(xs: Seq[Double], k: Int): Double =
    if (xs.isEmpty) 0.0 else { val top = xs.sorted.takeRight(k); top.sum / top.size }

  /** Length of the union of [start, end) intervals, in the intervals' unit. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}

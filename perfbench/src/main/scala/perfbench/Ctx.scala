package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one benchmark run shares between its workload drivers: the
  * session, the fixture directory, the run's private scratch directory,
  * the tracer, and the tallies every operation reports into.
  */
final class Ctx(
    val spark: SparkSession,
    val dataDir: String,
    val scratch: Path,
    val tracer: Tracer,
    val listener: Option[LayerListener],
    val expected: Map[String, Expected],
    val seed: Long) {

  val attempted = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[String]()

  /** Operation latencies inside the timed window, seconds. */
  val opLatencies = new ConcurrentLinkedQueue[Double]()

  /** Named samples (milliseconds or seconds, per name) for per-layer p50s. */
  private val samples = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()

  @volatile var cachedAfterRelease = 0

  /** Seconds spent inside query functions (before materialisation) in
    * the timed window.
    */
  val buildSeconds = new java.util.concurrent.atomic.DoubleAdder

  /** True inside the timed window; the warm-up runs the same operations. */
  @volatile var inWindow = false

  def fail(what: String, why: String): Unit = {
    failures.add(s"$what: $why")
    System.err.println(s"[perfbench] FAILED $what: $why")
  }

  def failed: Seq[String] = failures.asScala.toSeq

  def sample(name: String, v: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v): Unit

  /** Forget the warm-up's samples before the timed window. */
  def resetSamples(): Unit = { samples.clear(); opLatencies.clear() }

  def samplesOf(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Seq.empty)

  /** Time `body` in milliseconds into sample `name`, inside a span. */
  def timedMs[A](layer: String, name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try tracer.span(layer, name)(body)
    finally sample(name, (System.nanoTime() - t0) / 1e6)
  }

  /** Persistent RDDs still registered once every scope is released. */
  def noteCacheLeft(): Unit = {
    val n = spark.sparkContext.getPersistentRDDs.size
    if (n > cachedAfterRelease) cachedAfterRelease = n
  }

  /** Listener-bus drain (traced run only) so counters are complete. */
  def drain(): Unit = if (listener.isDefined) org.apache.spark.BenchBus.drain(spark.sparkContext)
}

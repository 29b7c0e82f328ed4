package perfbench

import java.nio.file.{Files, Path}
import scala.util.Random
import scala.util.control.NonFatal
import graft.SparkEntry
import graft.core.CacheScope
import graft.ops.VersionedTarget

/** Serial workloads: one operation at a time, in a seeded order per pass. */
final class Serial(ctx: Ctx) {
  import ctx._

  /** Job, stage and action counts per operation name, traced runs only. */
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
  val countDrift = scala.collection.mutable.Buffer.empty[String]

  /** Wall seconds per query in the timed window, summed over passes. */
  val seconds = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Run one query through `SparkEntry.queries`, collect its output, time
    * it, then (outside the timing) release its caches and check the output.
    */
  def query(name: String): Unit = {
    attempted.incrementAndGet()
    val before = if (inWindow) listener.map { l => drain(); l.counts } else None
    val t0 = System.nanoTime()
    var tBuilt = t0
    val out =
      try tracer.span("bench", name, trace = tracer.newTrace()) {
        val df = tracer.span("catalyst", "build")(SparkEntry.queries(name)(spark, dataDir))
        tBuilt = System.nanoTime()
        Right((tracer.span("sched", "materialise")(df.collect()), df.schema))
      } catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    CacheScope.releaseAll()
    noteCacheLeft()
    out match {
      case Left(e) => fail(name, s"threw ${e.getClass.getName}: ${e.getMessage}")
      case Right((rows, schema)) =>
        Check.mismatch(name, rows, schema, expected).foreach(fail(name, _))
    }
    if (inWindow) {
      opLatencies.add(dt)
      seconds.merge(name, dt, _ + _)
      buildSeconds.add((tBuilt - t0) / 1e9)
      for (l <- listener; (j0, s0, a0) <- before) {
        drain()
        val (j, s, a) = l.counts
        record(name, (j - j0, s - s0, a - a0))
      }
    }
  }

  private def record(name: String, c: (Long, Long, Long)): Unit =
    counts.get(name) match {
      case Some(prev) if prev != c => countDrift += s"$name: $prev then $c"
      case Some(_) => ()
      case None => counts(name) = c
    }

  /** `n` passes over `ops`, each in a seeded order; returns each pass's
    * wall time.
    */
  def passes(ops: Seq[() => Unit], n: Int, rng: Random): Seq[Double] =
    (0 until n).map { i =>
      val t0 = System.nanoTime()
      tracer.span("bench", s"pass$i") {
        rng.shuffle(ops).foreach(op => op())
      }
      (System.nanoTime() - t0) / 1e9
    }
}

object Serial {
  /** A serial pass takes about this long on the 4-vCPU reference host. */
  val NominalPassS = 12.5

  /** Timed passes for a window of `seconds`: fixed by the argument alone,
    * so a faster or slower program keeps the same sample count (2 passes,
    * 42 operations, for 25 s).
    */
  def passesFor(seconds: Double): Int = math.max(1, math.round(seconds / NominalPassS).toInt)
}

/** The index-lifecycle store phase: commits, resolves and full reads of a
  * `VersionedTarget.Segmented` root, with compact, vacuum and rollback
  * restore between commits, checked against a ledger of committed rows.
  */
final class Store(ctx: Ctx, rowsPerBatch: Int) {
  import ctx._

  private val root: Path = Files.createDirectories(scratch.resolve("vt-store"))
  private val vt = VersionedTarget.Segmented(root)
  private var nextBatch = 1L
  private var cycle = 0
  // committed row count of every version this run published
  private val ledger = scala.collection.mutable.Map.empty[String, Long]

  private def current: Option[String] = VersionedTarget.currentVersion(root)

  /** One cycle: commit a seeded batch, resolve CURRENT, read it in full;
    * then, on three cycles of every four, compact, vacuum or restore.
    */
  def cycleOp(): Unit = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val name = "store-cycle"
    try tracer.span("bench", name, trace = tracer.newTrace()) {
      val batch = nextBatch
      nextBatch += 1
      val before = current.flatMap(ledger.get).getOrElse(0L)
      val rows = spark.range(rowsPerBatch.toLong).selectExpr(
        s"id + ${batch * rowsPerBatch} AS k",
        s"hash(id, ${seed}L, ${batch}L) AS v",
        s"concat('doc-', CAST(hash(id, ${batch}L) AS STRING)) AS s")
      timedMs("vt", "vt.commit")(vt.commit(rows, batch))
      current.foreach(v => ledger(v) = before + rowsPerBatch)
      val df = timedMs("vt", "vt.resolve")(vt.current(spark))
      val got = timedMs("vt", "vt.read") {
        df.map(_.selectExpr("count(*)", "sum(hash(k, v, s))").head().getLong(0)).getOrElse(0L)
      }
      val want = current.flatMap(ledger.get).getOrElse(-1L)
      if (got != want) fail(name, s"read $got rows after batch $batch, ledger says $want")
      cycle % 4 match {
        case 0 => ()
        case 1 =>
          val prev = current
          timedMs("vt", "vt.compact")(vt.compact(spark))
          for (p <- prev; c <- current; n <- ledger.get(p)) ledger(c) = n
        case 2 =>
          timedMs("vt", "vt.vacuum")(vt.vacuum(keepLast = 4))
        case _ =>
          // roll back to the version before CURRENT; later commits then
          // append to it again under fresh batch ids
          vt.versions.dropRight(1).lastOption.foreach { v =>
            timedMs("vt", "vt.restore")(vt.restore(v))
          }
      }
      cycle += 1
    } catch { case NonFatal(e) => fail(name, s"threw ${e.getClass.getName}: ${e.getMessage}") }
    if (inWindow) opLatencies.add((System.nanoTime() - t0) / 1e9)
  }

  /** Bytes under the root per byte of the segments CURRENT lists. */
  def bytesPerUserByte: Double = {
    def bytes(p: Path): Long =
      if (!Files.exists(p)) 0L
      else {
        val s = Files.walk(p)
        try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
        finally s.close()
      }
    val live = current.map(v => vt.segmentsOf(v).map(sg => bytes(root.resolve(sg))).sum).getOrElse(0L)
    if (live == 0) 0.0 else bytes(root).toDouble / live
  }
}

package perfbench

import scala.util.control.NonFatal
import graft.SparkEntry
import graft.core.CacheScope

/** Layer profile of the full relational and curation lists next to the
  * serial workload's subsets of them, so the subsets can be judged by
  * measurement. One untimed pass over both full lists, then one pass in
  * which every query's wall time, job, stage and action counts, job time
  * (union of its job intervals) and executor run time are recorded.
  * Outputs are not checked: most of these queries have no reference output
  * in `expected.json`.
  */
object Profile {
  final case class Row(name: String, wallS: Double, jobs: Long, stages: Long,
      actions: Long, jobS: Double, runS: Double)

  def run(ctx: Ctx, listener: LayerListener): Unit = {
    val lists = Seq(
      ("relational", Workloads.relationalFull, Workloads.relational),
      ("curation", Workloads.curationFull, Workloads.curation))
    val all = lists.flatMap(_._2)
    all.foreach(n => measure(ctx, listener, n))
    listener.active = true
    val rows = all.flatMap(n => measure(ctx, listener, n)).map(r => r.name -> r).toMap
    listener.active = false

    println(f"${"query"}%-32s ${"wall_s"}%8s ${"jobs"}%5s ${"stages"}%6s ${"actions"}%7s ${"job_s"}%7s ${"run_s"}%7s")
    for (n <- all; r <- rows.get(n))
      println(f"$n%-32s ${r.wallS}%8.3f ${r.jobs}%5d ${r.stages}%6d ${r.actions}%7d ${r.jobS}%7.3f ${r.runS}%7.3f")
    println(f"${"list"}%-20s ${"n"}%3s ${"wall_s"}%7s ${"p50_s"}%6s ${"jobs/q"}%6s ${"stages/q"}%8s " +
      f"${"actions/q"}%9s ${"jobs/s"}%6s ${"stages/s"}%8s ${"actions/s"}%9s ${"gap"}%5s ${"exec"}%5s")
    val sums = for ((group, full, subset) <- lists) yield {
      val f = summary(s"$group full", full.flatMap(rows.get))
      val s = summary(s"$group subset", subset.flatMap(rows.get))
      (f, s)
    }
    val Seq((relF, relS), (curF, curS)) = sums
    println(f"relational share of wall time: full lists ${relF / (relF + curF)}%.3f, " +
      f"subsets ${relS / (relS + curS)}%.3f")
  }

  /** Prints one list's summary line; returns its summed wall time. */
  private def summary(label: String, rs: Seq[Row]): Double = {
    val n = rs.size.toDouble
    val wall = rs.map(_.wallS).sum
    val (jobs, stages, actions) = (rs.map(_.jobs).sum, rs.map(_.stages).sum, rs.map(_.actions).sum)
    // per query and per second of wall time; driver gap: the share of
    // wall time with no job running; exec: the executor's share of the
    // cores over the wall time
    println(f"$label%-20s ${rs.size}%3d ${wall}%7.2f ${Stats.median(rs.map(_.wallS))}%6.3f " +
      f"${jobs / n}%6.2f ${stages / n}%8.2f ${actions / n}%9.2f " +
      f"${jobs / wall}%6.2f ${stages / wall}%8.2f ${actions / wall}%9.2f " +
      f"${1 - rs.map(_.jobS).sum / wall}%5.3f ${rs.map(_.runS).sum / (wall * Main.Cores)}%5.3f")
    wall
  }

  private def measure(ctx: Ctx, l: LayerListener, name: String): Option[Row] = {
    ctx.drain()
    val (j0, s0, a0) = l.counts
    val (job0, run0) = (l.jobSeconds, l.runMs.sum)
    val t0 = System.nanoTime()
    val ok =
      try { SparkEntry.queries(name)(ctx.spark, ctx.dataDir).collect(); true }
      catch { case NonFatal(e) => println(s"FAILED $name: ${e.getClass.getName}: ${e.getMessage}"); false }
    val wall = (System.nanoTime() - t0) / 1e9
    CacheScope.releaseAll()
    ctx.drain()
    val (j, s, a) = l.counts
    if (!ok) None
    else Some(Row(name, wall, j - j0, s - s0, a - a0, l.jobSeconds - job0, (l.runMs.sum - run0) / 1e3))
  }
}

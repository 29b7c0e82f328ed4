package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.SparkSession
import graft.core.{GraftSession, Tables}

/** One benchmark run: set up the session (and, for task-storm, a node),
  * measure a window of one workload sized by `--seconds`, check every
  * output, and print the metrics. `run.py` builds this program and
  * launches it in a fresh JVM per run; see README.md for the workloads and
  * metrics.
  *
  * Arguments: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <fixture dir> --expected <expected.json> --out <dir>
  *   --launched-ms <epoch ms the launcher started the JVM>
  * With --dump <dir> instead of a workload, it writes every checked
  * query's output and digest for `oracle.py`; with --profile 1, it prints
  * the layer profile of the full query lists for `profile.py`.
  */
object Main {
  /** Spark cores: one fewer than the 4-vCPU reference host, which leaves a
    * CPU for the JIT compiler, the collector and the benchmark's own
    * threads, so their work does not queue behind the executor threads.
    */
  val Cores = 3
  /** Rows per store-phase commit. */
  val BatchRows = 5000

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    graft.tools.EngineLog.echoToConsole = false
    val launchedMs = args.get("launched-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val tracer = new Tracer(args.get("trace").contains("1"))
    val scratch = Paths.get(sys.props("java.io.tmpdir"))

    val t0 = System.nanoTime()
    val spark = tracer.span("core", "session") { session(scratch) }
    val sessionS = (System.nanoTime() - t0) / 1e9

    def listen(l: LayerListener): Unit = {
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
    if (args.contains("dump")) Dump.run(spark, args("data"), Paths.get(args("dump")))
    else if (args.contains("profile")) {
      val l = new LayerListener
      listen(l)
      Profile.run(new Ctx(spark, args("data"), scratch, tracer, Some(l), Map.empty, 0L), l)
    } else {
      val listener = if (tracer.enabled) Some(new LayerListener) else None
      listener.foreach(listen)
      val ctx = new Ctx(spark, args("data"), scratch, tracer, listener,
        Check.load(Paths.get(args("expected"))), args("seed").toLong)
      val t1 = System.nanoTime()
      val tables = if (args("workload") == "task-storm") Workloads.taskTables else Workloads.serialTables
      tracer.span("core", "ingest") { tables.foreach(t => Tables.t(spark, ctx.dataDir, t)) }
      val ingestS = (System.nanoTime() - t1) / 1e9
      val result = new Runner(ctx, args("workload"), args("seconds").toDouble, launchedMs,
        sessionS, ingestS, Paths.get(args("out"))).run()
      println(result)
    }
    spark.stop()
  }

  /** The engine's session settings, as `graft.Bench` uses them, on a fixed
    * core count, with every file it writes kept inside `scratch`.
    */
  def session(scratch: Path): SparkSession = {
    val s = GraftSession.configure(SparkSession.builder(), Cores)
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.smallResultSort", "true")
      .config("spark.graft.compactScans", "true")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Runner {
  /** `op_tail_s` is the mean of this many slowest operations of the window. */
  val TailOps = 10

  /** Host CPU ticks from /proc/stat: (busy, steal, total), if readable. */
  def hostCpu(): Option[(Long, Long, Long)] =
    scala.util.Try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7), f.take(8).sum)
    }.toOption
}

/** Drives one workload and assembles its result line. */
final class Runner(ctx: Ctx, workload: String, seconds: Double, launchedMs: Long,
    sessionS: Double, ingestS: Double, outDir: Path) {
  import ctx._

  private val serial = new Serial(ctx)
  private val rng = new Random(seed)
  private val lines = Seq.newBuilder[String]
  private def say(s: String): Unit = lines += s

  def run(): String = {
    val node = if (workload == "task-storm") Some(new Node(ctx)) else None
    try tracer.span("bench", workload, trace = tracer.newTrace()) { measure(node) }
    finally node.foreach(_.stop())
  }

  /** Serial workloads get a store and no node; task-storm gets a node,
    * its clients and the status reader, and no store.
    */
  private def measure(node: Option[Node]): String = {
    val http = node.map(_ => new Http(ctx))
    val storm = for (n <- node; h <- http) yield new TaskStorm(ctx, n, h)
    val store = if (node.isEmpty) Some(new Store(ctx, Main.BatchRows)) else None
    val ops: Seq[() => Unit] = workload match {
      case "serial" =>
        (Workloads.relational ++ Workloads.curation).map(n => () => serial.query(n)) ++
          store.toSeq.flatMap(st => Seq.fill(Workloads.storeCycles)(() => st.cycleOp()))
      case "task-storm" => Seq.empty
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // Warm-up, outputs checked: one untimed pass, or two rounds of the
    // task mix. Timed from cold, each operation's time would also depend on how
    // much JIT and code-generation work the seeded order put before it.
    tracer.span("bench", "warm-up") {
      storm match {
        case Some(s) => s.run(TaskStorm.Clients, TaskStorm.MixSize * TaskStorm.WarmUpRounds)
        case None => rng.shuffle(ops).foreach(op => op())
      }
    }
    resetSamples()
    storm.foreach(_.reset())
    http.foreach(_.non2xx.set(0))
    val setupS = (System.currentTimeMillis() - launchedMs) / 1e3

    // The window is a fixed amount of work set by `seconds` (see
    // Serial.passesFor and TaskStorm.tasksFor), so every run of one
    // workload has the same sample counts and percentiles.
    drain()
    listener.foreach(_.active = true)
    inWindow = true
    val reader = for (n <- node; h <- http) yield new StatusReader(ctx, n, h)
    reader.foreach(_.start())
    val cpu0 = Runner.hostCpu()
    val w0 = System.nanoTime()
    val passSeconds = storm match {
      case Some(s) =>
        s.run(TaskStorm.Clients, TaskStorm.tasksFor(seconds))
        s.done.asScala.foreach(d => opLatencies.add(d.latency))
        s.roundSeconds(w0)
      case None => serial.passes(ops, Serial.passesFor(seconds), rng)
    }
    // task-storm: the mean round, i.e. the window up to its last
    // completion per round; a single round's time depends on which kinds
    // of task happened to finish in it
    val passS = if (storm.isDefined) passSeconds.sum / passSeconds.size else Stats.median(passSeconds)
    val windowS = (System.nanoTime() - w0) / 1e9
    val cpu1 = Runner.hostCpu()
    reader.foreach(_.stop())
    inWindow = false
    drain()
    listener.foreach(_.active = false)
    noteCacheLeft()

    // per pass: a serial pass, or one round of the task mix; every task of
    // the window ends inside it, so the listener totals cover exactly them
    val passes = storm.fold(passSeconds.size.toDouble)(_ => TaskStorm.tasksFor(seconds).toDouble / TaskStorm.MixSize)
    val lat = opLatencies.asScala.toSeq
    val tailV = Stats.slowestMean(lat, Runner.TailOps)
    val (tailPct, tailP) = Stats.tail(lat)
    val rssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", passS, "s"),
      ("op_gmean_s", Stats.gmean(lat), "s"),
      ("op_tail_s", tailV, "s"),
      ("peak_rss_mb", rssMb, "MB"))

    val failedOps = failed
    val attemptedOps = attempted.get
    def perPass(v: Double): Double = v / passes
    def lsum(f: LayerListener => Double): Double = listener.map(f).getOrElse(0.0)
    def p50(name: String): Double = Stats.median(samplesOf(name))
    val taskLat = storm.toSeq.flatMap(_.done.asScala.map(_.latency))
    val runS = storm.toSeq.flatMap(_.runSeconds.asScala)
    val jobS = lsum(_.jobSeconds)
    val runMs = lsum(_.runMs.sum.toDouble)
    val perLayer = Seq(
      ("ops_failed_frac", failedOps.size.toDouble / math.max(attemptedOps, 1L), "ratio"),
      ("core.session_s", sessionS, "s"),
      ("core.ingest_s", ingestS, "s"),
      ("core.cached_after_release", cachedAfterRelease.toDouble, "count"),
      ("catalyst.analysis_s", perPass(lsum(_.analysisMs.sum / 1e3)), "s"),
      ("catalyst.optimization_s", perPass(lsum(_.optimizationMs.sum / 1e3)), "s"),
      ("catalyst.planning_s", perPass(lsum(_.planningMs.sum / 1e3)), "s"),
      ("catalyst.actions", perPass(lsum(_.actions.sum.toDouble)), "count"),
      ("catalyst.build_s", perPass(buildSeconds.sum), "s"),
      ("sched.jobs", perPass(lsum(_.jobs.sum.toDouble)), "count"),
      ("sched.stages", perPass(lsum(_.stages.sum.toDouble)), "count"),
      ("sched.tasks", perPass(lsum(_.tasks.sum.toDouble)), "count"),
      ("sched.job_s", perPass(jobS), "s"),
      ("sched.driver_gap_s", perPass(windowS - jobS), "s"),
      ("executor.run_s", perPass(runMs / 1e3), "s"),
      ("executor.cpu_s", perPass(lsum(_.cpuNs.sum / 1e9)), "s"),
      ("executor.gc_s", perPass(lsum(_.gcMs.sum / 1e3)), "s"),
      ("executor.util", runMs / 1e3 / (windowS * Main.Cores), "ratio"),
      ("executor.input_bytes", perPass(lsum(_.inputBytes.sum.toDouble)), "B"),
      ("executor.shuffle_read_bytes", perPass(lsum(_.shuffleRead.sum.toDouble)), "B"),
      ("executor.shuffle_write_bytes", perPass(lsum(_.shuffleWrite.sum.toDouble)), "B"),
      ("executor.spill_bytes", perPass(lsum(_.spill.sum.toDouble)), "B"),
      ("vt.commit_ms", p50("vt.commit"), "ms"),
      ("vt.resolve_ms", p50("vt.resolve"), "ms"),
      ("vt.read_ms", p50("vt.read"), "ms"),
      ("vt.compact_ms", p50("vt.compact"), "ms"),
      ("vt.vacuum_ms", p50("vt.vacuum"), "ms"),
      ("vt.restore_ms", p50("vt.restore"), "ms"),
      ("vt.bytes_per_user_byte", store.fold(0.0)(_.bytesPerUserByte), "ratio"),
      ("exec.run_s", Stats.median(runS), "s"),
      ("exec.overhead_s", if (taskLat.isEmpty) 0.0 else Stats.median(taskLat) - Stats.median(runS), "s"),
      ("exec.jobs_per_task", Stats.median(storm.toSeq.flatMap(_.jobsPerTask.asScala)), "count"),
      ("exec.unexpected_outcomes", storm.fold(0L)(_.unexpected.get).toDouble, "count"),
      ("api.post_ms", p50("api.post"), "ms"),
      ("api.task_get_ms", p50("api.task_get"), "ms"),
      ("api.node_info_ms", p50("api.node_info"), "ms"),
      ("api.non2xx", http.fold(0L)(_.non2xx.get).toDouble, "count"),
      ("connect.write_s", p50("connect.write") / 1e3, "s"),
      ("connect.read_s", p50("connect.read") / 1e3, "s"))

    val unit = if (storm.isDefined) s"rounds of ${TaskStorm.MixSize} tasks" else s"passes of ${ops.size} ops"
    say(f"workload $workload seed $seed: window ${windowS}%.2f s, ${passSeconds.size} $unit, " +
      f"${lat.size} timed ops, p50 ${Stats.median(lat)}%.3f s, p$tailPct ${tailP}%.3f s, " +
      f"gmean ${Stats.gmean(lat)}%.3f s, mean of the ${Runner.TailOps} slowest ${tailV}%.3f s")
    // the host's share of CPU time taken by other guests and its busy share:
    // when these rise, every wall-time figure of the run rises with them
    for ((b0, s0, t0) <- cpu0; (b1, s1, t1) <- cpu1 if t1 > t0)
      say(f"host in window: busy ${100.0 * (b1 - b0) / (t1 - t0)}%.1f %%, steal ${100.0 * (s1 - s0) / (t1 - t0)}%.1f %% of CPU time")
    for (s <- storm; r <- reader)
      say(f"tasks: ${taskLat.size} in ${windowS}%.2f s (${taskLat.size / windowS}%.3f tasks/s), " +
        s"rounds: ${passSeconds.map(x => f"$x%.3f").mkString(" ")} s; " +
        s"status reader ran up to ${r.maxLateMs.round} ms late; " +
        s"${s.unknownAfterAccept.get} polls found a just-accepted task still unknown (HTTP 404)")
    for ((n, v, u) <- e2e) say(f"e2e  $n%-28s ${v}%.6f $u")
    for ((n, v) <- serial.seconds.asScala.toSeq.sortBy(_._1))
      say(f"query $n%-30s ${v / passSeconds.size}%.3f s per pass")
    if (tracer.enabled) {
      for ((n, v, u) <- perLayer) say(f"layer $n%-28s ${v}%.6f $u")
      reportCounts()
      for ((layer, s) <- tracer.selfTimeByLayer.toSeq.sortBy(-_._2))
        say(f"self time $layer%-10s ${s}%.3f s")
      Files.createDirectories(outDir)
      val spans = outDir.resolve(s"spans-$workload-seed$seed.jsonl")
      tracer.write(spans)
      say(s"spans written to $spans")
    }
    failedOps.foreach(f => say(s"FAILED $f"))
    lines.result().foreach(println)

    val metrics = (if (tracer.enabled) perLayer else e2e).map { case (n, v, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString(",")
    s"""{"correct":${failedOps.isEmpty},"attempted":$attemptedOps,"failed":${failedOps.size},""" +
      s""""metrics":{$metrics}}"""
  }

  /** Per-operation job, stage and action counts of a serial workload, and
    * whether they equal those of the previous traced run of this workload.
    */
  private def reportCounts(): Unit = if (serial.counts.nonEmpty) {
    val now = serial.counts.toSeq.sortBy(_._1).map { case (n, (j, s, a)) => s"$n jobs=$j stages=$s actions=$a" }
    now.foreach(c => say(s"counts $c"))
    serial.countDrift.foreach(d => say(s"counts differ between passes: $d"))
    Files.createDirectories(outDir)
    val file = outDir.resolve(s"counts-$workload.txt")
    if (Files.exists(file)) {
      val before = Files.readAllLines(file).asScala.toSeq
      if (before == now) say(s"counts identical to the previous traced run ($file)")
      else say(s"counts DIFFER from the previous traced run ($file): " +
        (before.diff(now) ++ now.diff(before)).mkString("; "))
    } else say(s"counts recorded for the next traced run to compare ($file)")
    Files.write(file, now.asJava)
  }
}

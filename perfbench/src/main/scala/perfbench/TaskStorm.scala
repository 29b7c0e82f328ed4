package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
import graft.SparkEntry
import graft.api.StatusServer
import graft.connect.EngineUrl
import graft.core.EngineContext
import graft.exec.{JobRunner, StatusRegistry, TaskRegistry}
import graft.exec.Tasks.{TaskComplete, TaskFailed}
import graft.model.{EtlModel, PartitionOption, PartitionedEtlModel, SubTask}

/** A relational model task: runs one registered query, writes its output
  * through an `EngineUrl` `parquet://` URL into the task's output
  * directory and returns the read-back frame, like q57's model.
  */
final class RelationalTask(query: String, ctx: Ctx) extends EtlModel {
  def name: String = "RelationalTask"
  def build(ec: EngineContext): DataFrame = {
    val parent = (ec.resolve("{span}").toLong, ec.resolve("{trace}").toLong)
    ctx.tracer.span("exec", "model", parent = parent) {
      val t0 = System.nanoTime()
      val df = ctx.tracer.span("catalyst", "build")(SparkEntry.queries(query)(ec.spark, ec.resolve("{data_dir}")))
      if (ctx.inWindow) ctx.buildSeconds.add((System.nanoTime() - t0) / 1e9)
      val url = "parquet://{output}/result"
      ctx.timedMs("connect", "connect.write")(EngineUrl.write(df, url, ec))
      ctx.timedMs("connect", "connect.read")(EngineUrl.read(ec.spark, url, ec))
    }
  }
}

/** A fan-out of 16 fixed-CPU subtasks; with `poison` >= 0 that subtask
  * always throws, so the task ends `failed` after its retry.
  */
final class FanOut(poison: Int) extends PartitionedEtlModel {
  def name: String = if (poison >= 0) "PoisonedFanOut" else "FanOut"
  def partitionPlea: PartitionOption = PartitionOption(16, 16, 16)
  def partitionSlice(n: Int): Seq[SubTask] =
    (0 until n).map(i => SubTask(s"spin$i", Map("i" -> i.toString)))
  def runSubTask(st: SubTask): String = {
    val i = st.kwargs("i").toInt
    if (i == poison) throw new IllegalStateException(s"subtask $i is poisoned")
    var h = i.toLong
    var k = 0
    while (k < 5000000) { h = h * 6364136223846793005L + 1442695040888963407L; k += 1 }
    java.lang.Long.toHexString(h)
  }
}

/** A Fossa node on loopback: `TaskRegistry`, `StatusRegistry`, a
  * `JobRunner` of capacity 4 and a `StatusServer` on 127.0.0.1.
  */
final class Node(ctx: Ctx) {
  val registry = new TaskRegistry
  val status = new StatusRegistry
  val runner = new JobRunner(ctx.spark, registry, status, maxConcurrentTasks = Node.Capacity)
  registry.registerFactory("RelationalTask", kw => new RelationalTask(kw("query"), ctx))
  registry.registerFactory("FanOut", _ => new FanOut(-1))
  registry.registerFactory("PoisonedFanOut", kw => new FanOut(kw("poison").toInt))
  val server = new StatusServer(runner, registry, status, nodeIdent = "perfbench",
    maxConcurrentTasks = Node.Capacity, authToken = None, tlsKeystore = None,
    tlsKeystorePass = None)
  val base = s"http://127.0.0.1:${server.start(0)}/api/0.01"

  def stop(): Unit = { server.stop(); runner.shutdown(); runner.close() }
}

object Node { val Capacity = 4 }

/** Loopback HTTP: one request, timed into `ctx` sample `name` (ms).
  * Returns the status and body, or why the request failed in transport.
  * Callers judge the status and report failures against their operation;
  * every non-2xx status also counts in `non2xx`.
  */
final class Http(ctx: Ctx) {
  val non2xx = new AtomicLong

  def call(method: String, url: String, body: Option[String], name: String): Either[String, (Int, String)] =
    try ctx.timedMs("api", name) {
      val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod(method)
      body.foreach { b =>
        c.setDoOutput(true)
        c.setRequestProperty("Content-Type", "application/json")
        val os = c.getOutputStream
        try os.write(b.getBytes(StandardCharsets.UTF_8)) finally os.close()
      }
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val text = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      if (code / 100 != 2) non2xx.incrementAndGet()
      Right((code, text))
    } catch { case NonFatal(e) => Left(s"$method $url: $e") }

  /** The body of a 2xx reply, or why there is none. */
  def ok(method: String, url: String, body: Option[String], name: String): Either[String, String] =
    call(method, url, body, name).flatMap { case (code, text) =>
      if (code / 100 == 2) Right(text) else Left(s"$method $url: HTTP $code $text")
    }
}

/** Polls `node_info` on a fixed 10/s schedule while running; each
  * request's latency is sample `api.node_info`, and `maxLateMs` records how
  * far behind its schedule the poller ever started a request. The reader
  * is one operation: it fails if any of its reads is not a 2xx reply.
  */
final class StatusReader(ctx: Ctx, node: Node, http: Http) {
  private val running = new AtomicBoolean(true)
  @volatile var maxLateMs = 0.0
  private var reads = 0
  private val bad = Seq.newBuilder[String]
  private val thread = new Thread(() => {
    val period = 100000000L
    var due = System.nanoTime()
    while (running.get()) {
      val now = System.nanoTime()
      if (now < due) Thread.sleep((due - now) / 1000000L, ((due - now) % 1000000L).toInt)
      maxLateMs = math.max(maxLateMs, (System.nanoTime() - due) / 1e6)
      reads += 1
      http.ok("GET", s"${node.base}/node_info", None, "api.node_info").left.foreach(bad += _)
      due += period
    }
  }, "perfbench-status-reader")
  thread.setDaemon(true)

  def start(): Unit = { ctx.attempted.incrementAndGet(); thread.start() }

  def stop(): Unit = {
    running.set(false)
    thread.join()
    val b = bad.result()
    if (b.nonEmpty) ctx.fail("status reader", s"${b.size} of $reads node_info reads failed: ${b.mkString("; ")}")
  }
}

/** Three closed-loop clients: each POSTs the next task of the seeded mix,
  * then polls `GET /task/<id>` until it shows a final status.
  */
final class TaskStorm(ctx: Ctx, node: Node, http: Http) {
  import TaskStorm._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val seq = new AtomicLong
  private val mix: Vector[Kind] = {
    val kinds = Vector.fill(6)(Relational) ++ Vector.fill(3)(Fan) ++ Vector(Poisoned)
    new scala.util.Random(ctx.seed).shuffle(kinds)
  }

  val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
  val runSeconds = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  val jobsPerTask = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  val unexpected = new AtomicLong
  /** Polls that found a just-accepted task still unknown (HTTP 404). */
  val unknownAfterAccept = new AtomicLong

  /** Run `clients` closed loops until the next `tasks` tasks of the mix
    * have been submitted; returns once every one of them has finished.
    */
  def run(clients: Int, tasks: Long): Unit = {
    val until = seq.get + tasks
    val ts = (0 until clients).map { c =>
      val t = new Thread(() => {
        var n = seq.getAndUpdate(x => math.min(x + 1, until))
        while (n < until) {
          one(n)
          n = seq.getAndUpdate(x => math.min(x + 1, until))
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    ts.foreach(_.join())
  }

  /** Seconds per round of the mix, from `startNs`: the time from one
    * round's last completion to the next's, each round being the next
    * `MixSize` completions in finishing order.
    */
  def roundSeconds(startNs: Long): Seq[Double] = {
    val ends = startNs +: done.asScala.toSeq.map(_.finishedNs).sorted.grouped(MixSize).map(_.last).toSeq
    ends.sliding(2).collect { case Seq(a, b) => (b - a) / 1e9 }.toSeq
  }

  /** How many relational tasks the mix holds before task `n`, so the
    * query a task runs depends on `n` alone, not on which client ran first.
    */
  private def relationalIndex(n: Long): Long =
    n / mix.size * mix.count(_ == Relational) + mix.take((n % mix.size).toInt).count(_ == Relational)

  /** Forget the warm-up's tasks; the task mix continues where it was. */
  def reset(): Unit = {
    done.clear(); runSeconds.clear(); jobsPerTask.clear(); unexpected.set(0)
    unknownAfterAccept.set(0)
  }

  private def one(n: Long): Unit = {
    val kind = mix((n % mix.size).toInt)
    val trace = ctx.tracer.newTrace()
    val t0 = System.nanoTime()
    ctx.attempted.incrementAndGet()
    ctx.tracer.span("bench", s"task-${kind.name}", trace = trace) {
      val out = ctx.scratch.resolve(s"tasks/t$n").toString
      val query = if (kind != Relational) "" else
        Workloads.taskQueries((relationalIndex(n) % Workloads.taskQueries.size).toInt)
      val (cls, kwargs) = kind match {
        case Relational => ("RelationalTask", s"""{"query":${Json.str(query)}}""")
        case Fan => ("FanOut", "{}")
        case Poisoned => ("PoisonedFanOut", s"""{"poison":"${n % 16}"}""")
      }
      val (sid, str) = ctx.tracer.context
      val body = s"""{"model_class":"$cls","model_construction_kwargs":$kwargs,""" +
        s""""resolver_context":{"data_dir":${Json.str(ctx.dataDir)},"output":${Json.str(out)},""" +
        s""""span":"$sid","trace":"$str"}}"""
      val what = s"task $n ($cls${if (kind == Relational) s" $query" else ""})"
      http.ok("POST", s"${node.base}/task", Some(body), "api.post").map(mapper.readTree) match {
        case Left(why) => ctx.fail(what, why)
        case Right(posted) =>
          val id = posted.get("task_id").asText
          val url = s"${node.base}/task/$id"
          var last: com.fasterxml.jackson.databind.JsonNode = null
          var gaveUp = false
          ctx.tracer.span("exec", "wait") {
            while (!gaveUp && (last == null || !Final(last.get("status").asText))) {
              http.call("GET", url, None, "api.task_get") match {
                case Right((200, t)) => last = mapper.readTree(t)
                // JobRunner registers an accepted task only once its
                // thread starts, so right after the POST the task can
                // still be unknown: counted in api.non2xx, and a failure
                // only if it stays unknown
                case Right((404, _)) if last == null && System.nanoTime() - t0 < UnknownGraceNs =>
                  unknownAfterAccept.incrementAndGet()
                case Right((code, t)) => ctx.fail(what, s"GET $url: HTTP $code $t"); gaveUp = true
                case Left(why) => ctx.fail(what, why); gaveUp = true
              }
              if (!gaveUp && (last == null || !Final(last.get("status").asText))) Thread.sleep(5)
            }
          }
          if (!gaveUp) {
            val tEnd = System.nanoTime()
            done.add(Done((tEnd - t0) / 1e9, tEnd))
            check(what, kind, query, id, last)
          }
      }
    }
  }

  private def check(what: String, kind: Kind, query: String, id: String,
      last: com.fasterxml.jackson.databind.JsonNode): Unit = {
    val rec = node.status.record(id)
    rec.foreach { r =>
      for (f <- r.finished) runSeconds.add((f.toEpochMilli - r.started.toEpochMilli) / 1e3)
    }
    jobsPerTask.add(node.status.sparkJobs(id).size.toDouble)
    val status = last.get("status").asText
    val why: Option[String] = (kind, rec.flatMap(_.outcome)) match {
      case (Relational, Some(TaskComplete(rows))) =>
        ctx.expected.get(query) match {
          case Some(e) if e.rows == rows => None
          case Some(e) => Some(s"rows $rows, expected ${e.rows}")
          case None => Some("no reference output recorded")
        }
      case (Fan, Some(TaskComplete(16))) => None
      case (Poisoned, Some(TaskFailed(_, _, Some(_)))) =>
        if (status == "failed" && last.hasNonNull("failure_origin_task_id")) None
        else Some(s"status $status without failure_origin_task_id")
      case (_, outcome) => Some(s"unexpected outcome $outcome (status $status)")
    }
    why.foreach { w => unexpected.incrementAndGet(); ctx.fail(what, w) }
  }
}

object TaskStorm {
  final case class Done(latency: Double, finishedNs: Long)

  sealed abstract class Kind(val name: String)
  case object Relational extends Kind("relational")
  case object Fan extends Kind("fanout")
  case object Poisoned extends Kind("poisoned")

  val Final: Set[String] = Set("complete", "failed")
  val UnknownGraceNs: Long = 5000000000L
  val Clients = 3
  /** Tasks per round of the mix. */
  val MixSize = 10
  /** Untimed rounds before the window: two, so that every query the
    * relational tasks rotate over (six a round, eight queries) has run
    * before it.
    */
  val WarmUpRounds = 2
  /** Tasks per second the node is taken to complete when the window is
    * sized: the low end of the 1.5 to 3 the 4-vCPU reference host
    * measured, so a window takes about `seconds` or less.
    */
  val NominalTasksPerS = 1.2

  /** Tasks in a window of `seconds`: whole rounds of the mix, fixed by
    * the argument alone (30 for 25 s), so every run of the same window
    * has the same sample count and percentile.
    */
  def tasksFor(seconds: Double): Int =
    MixSize * math.max(1, math.round(seconds * NominalTasksPerS / MixSize).toInt)
}

package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import graft.{Graft, GraftServer}
import graft.lang.{Parser, Planner}
import graft.model.Catalog

/** `htsql_interactive`: HTTP GETs (Accept JSON) of seeded HTSQL texts to an
  * in-process [[GraftServer]], closed loop with two clients. Set-up asks
  * every template once with literals of its own; one timed round asks every
  * template once; the plan fixes how many rounds a run times.
  *
  * Traced, each client pairs every request with an in-process replay
  * through the public layers that `Graft.renderWithFormat` chains —
  * `Parser.parseCommand`, `Planner.planQuery`, `Graft.toJson` — whose total
  * the HTTP round trip is compared to. The replay runs the same template
  * with a literal draw of its own: Spark compiles literals into generated
  * code, so replaying the request's own text would find its code compiled
  * and leave the compile time in the server's share.
  */
object Htsql {
  val Clients = 2

  /** Percent-encodes everything but unreserved characters and `/`: the
    * server percent-decodes path plus query back into the same text.
    */
  def urlPath(text: String): String =
    text.getBytes(UTF_8).map { b =>
      val c = (b & 0xff).toChar
      if (c.isLetterOrDigit && c < 128 || "-._~/".indexOf(c) >= 0) c.toString
      else f"%%${b & 0xff}%02X"
    }.mkString

  def run(spark: SparkSession, data: String, out: String, plan: JsonNode,
      res: Main.Result): Unit = {
    val texts = Json.strings(plan.get("requests"))
    val schedule = Json.ints(plan.get("schedule"))
    val round = plan.get("round").asInt
    val warmup = plan.get("warmup").asInt
    val replayOffset = plan.get("replay_offset").asInt
    val graft = Graft(spark, data)
    val server = new GraftServer(graft).start()
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val base = s"http://127.0.0.1:${server.boundPort}"
    val answers = new ConcurrentHashMap[Int, java.util.Set[String]]()
    val failures = new ConcurrentHashMap[Int, String]()

    def answer(i: Int, body: String): Unit =
      answers.computeIfAbsent(i, _ => ConcurrentHashMap.newKeySet[String]()).add(body)

    def get(i: Int): Boolean = {
      val req = HttpRequest.newBuilder(URI.create(base + urlPath(texts(i))))
        .header("Accept", "application/json").GET().build()
      try {
        val r = http.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
        if (r.statusCode == 200) { answer(i, r.body); true }
        else { failures.putIfAbsent(i, s"HTTP ${r.statusCode}: ${r.body.take(300)}"); false }
      } catch {
        case e: java.io.IOException => failures.putIfAbsent(i, e.toString); false
      }
    }

    // traced replay of request text `i`'s unseen twin through the layers,
    // on this thread; returns the replay's time
    val parseMs, planMs, renderMs, overheadMs =
      new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val tracedOps = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def replay(op: String, i: Int): Double = {
      val twin = i + replayOffset
      val text = texts(twin)
      val ((parsed, _), pMs) = Trace.timed("lang.parse", op, "request")(Parser.parseCommand(text))
      val (df, plMs) = Main.withOp(spark, op, "plan") {
        Trace.timed("lang.plan", op, "request")(
          new Planner(spark, data, Catalog.default, "parquet").planQuery(parsed))
      }
      // the render action's Catalyst phases are told from the concurrent
      // client's by the planned DataFrame its plan is built on
      Trace.opPlans.put(op, df.queryExecution.analyzed)
      val (body, rMs) = Main.withOp(spark, op, "render") {
        Trace.timed("render.toJson", op, "request")(graft.toJson(df))
      }
      answer(twin, body)
      // the replay is what renderWithFormat does in process: parse, plan, toJson
      parseMs.add(pMs); planMs.add(plMs); renderMs.add(rMs)
      tracedOps.add(op)
      pMs + plMs + rMs
    }

    try {
      // set-up: the first `warmup` texts (one per template, literals the
      // timed window does not use), so the JIT and the server are warm
      val warm = new java.util.concurrent.atomic.AtomicInteger()
      runClients { () =>
        var i = warm.getAndIncrement()
        while (i < warmup) { get(i); i = warm.getAndIncrement() }
      }
      val jvm = new Main.JvmProbe
      // timed window: `rounds` whole rounds, requests claimed one by one
      val total = plan.get("rounds").asLong * round
      val next = new java.util.concurrent.atomic.AtomicLong()
      val t0 = System.nanoTime()
      res.firstOpMs = System.currentTimeMillis()
      def claim(): Long = { val n = next.getAndIncrement(); if (n < total) n else -1L }
      val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val failed = new java.util.concurrent.atomic.AtomicLong()
      runClients { () =>
        var n = claim()
        while (n >= 0) {
          val i = schedule((n % schedule.size).toInt)
          val op = s"req-$n"
          def http(): (Boolean, Double) = {
            val (ok, ms) = Trace.timed("request", op)(get(i))
            if (ok) lat.add(ms) else failed.incrementAndGet()
            (ok, ms)
          }
          if (!Trace.enabled) http()
          else {
            // every other request replays first: the JVM still speeds up
            // during the window, so whichever side always ran first would
            // be the slower one
            val ((ok, ms), replayMs) =
              if (n % 2 == 0) { val h = http(); (h, replay(op, i)) }
              else { val r = replay(op, i); (http(), r) }
            if (ok) overheadMs.add(ms - replayMs)
          }
          n = claim()
        }
      }
      res.windowS = (System.nanoTime() - t0) / 1e9
      jvm.report(res)
      res.attempted = total
      res.failed = failed.get
      res.workUnits = total.toDouble
      res.latencies ++= lat.asScala
      if (Trace.enabled) {
        Trace.drainEvents(spark, "htsql")
        val ops = tracedOps.asScala.toSeq
        res.layer("lang.parse_ms") = Main.median(parseMs.asScala)
        res.layer("lang.plan_ms") = Main.median(planMs.asScala)
        res.layer("lang.plan_jobs") =
          ops.map(o => Trace.execByOp.get(o).map(_.planJobs).getOrElse(0L)).sum / ops.size.max(1).toDouble
        res.layer("render.ms") = Main.median(renderMs.asScala)
        res.layer("server.overhead_ms") = Main.median(overheadMs.asScala)
        Main.catalystLayer(res, ops)
        Main.execLayer(res, ops)
      }
    } finally server.stop()
    Main.write(s"$out/answers.json", Json.write(Map(
      "bodies" -> answers.asScala.map { case (i, bs) => i.toString -> bs.asScala.toSeq }.toMap,
      "failures" -> failures.asScala.map { case (i, m) => i.toString -> m }.toMap)))
  }

  private def runClients(body: () => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (1 to Clients).map { c =>
      val t = new Thread(() => try body() catch { case e: Throwable => errors.add(e) },
        s"perfbench-client-$c")
      t.start(); t
    }
    ts.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }
}

package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionScratch.rmTree

/** Integration tests for the HTTP entry point: real requests through
  * socket → parse → plan → render, covering the formats, the Accept
  * fallback, decorator precedence, percent-decoding, and caret-marked
  * 400s (the reference's primary WSGI mode, `src/htsql/core/wsgi.py`).
  */
class ServerSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"
  private lazy val server = new GraftServer(Graft(spark, dir)).start()
  private val client = HttpClient.newHttpClient()

  private def get(path: String, accept: Option[String] = None): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.boundPort}$path"))
    accept.foreach(b.header("Accept", _))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  test("the server binds loopback by default — network exposure is opt-in") {
    assert(server.boundAddress.getAddress.isLoopbackAddress)
  }

  test("GET /region/:json returns the rendered records") {
    val r = get("/region/:json")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("").startsWith("application/json"))
    assert(r.body().startsWith("[") && r.body().contains("\"r_name\""))
  }

  test("GET /region{r_name}/:csv returns header + rows") {
    val r = get("/region%7Br_name%7D/:csv") // browser-escaped braces decode
    assert(r.statusCode() == 200)
    assert(r.body().linesIterator.next() == "r_name")
    assert(r.body().linesIterator.size == 6) // header + 5 regions
  }

  test("sieve syntax rides the URL query string") {
    val r = get("/nation?n_regionkey=0/:json")
    assert(r.statusCode() == 200)
    assert(r.body().contains("n_name"))
  }

  test("Accept header picks the format when no decorator is given") {
    val json = get("/region", accept = Some("application/json"))
    assert(json.headers().firstValue("Content-Type").orElse("").startsWith("application/json"))
    assert(json.body().startsWith("["))
    val html = get("/region", accept = Some("text/html"))
    assert(html.body().contains("<table>"))
    val txt = get("/region")
    assert(txt.headers().firstValue("Content-Type").orElse("").startsWith("text/plain"))
    assert(txt.body().contains("r_name"))
  }

  test("the /:fmt decorator wins over Accept") {
    val r = get("/region/:csv", accept = Some("application/json"))
    assert(r.headers().firstValue("Content-Type").orElse("").startsWith("text/csv"))
  }

  test("xml renders with escaped values") {
    val r = get("/region/:xml")
    assert(r.statusCode() == 200)
    assert(r.body().startsWith("<?xml") && r.body().contains("<r_name>"))
  }

  test("bind errors return caret-marked 400s") {
    val r = get("/customer%7Bc_bogus%7D")
    assert(r.statusCode() == 400)
    assert(r.body().contains("c_bogus"))
    assert(r.body().contains("in query:") && r.body().contains("^"),
      s"no caret mark in:\n${r.body()}")
  }

  test("parse errors return caret-marked 400s") {
    val r = get("/customer%7B") // unclosed selection
    assert(r.statusCode() == 400)
    assert(r.body().contains("in query:") && r.body().contains("^"))
  }

  test("execution-time data errors return 409 Conflict, not 500") {
    // well-formed query, fails at collect (ANSI division by zero) — the
    // reference's EngineError → 409 mapping (src/htsql/core/error.py)
    val r = get("/region%7Br_regionkey/0%7D/:json")
    assert(r.statusCode() == 409, s"got ${r.statusCode()}: ${r.body().take(120)}")
  }

  test("seeded URL fuzz: the server never 500s and stays alive") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdefgr{}()?/:=.,'+-*<>&|!$%^@#\" 0123456789_~"
    val seen = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
    for (_ <- 1 to 120) {
      val raw = "/" + Array.fill(rnd.nextInt(24) + 1)(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      // URI.create rejects some raw strings client-side; percent-escape
      // the bytes the JDK client refuses to send, keep the rest raw
      val path = raw.flatMap {
        case c if c == ' ' => "%20"
        case c if c == '"' => "%22"
        case c if c == '#' => "%23"
        case c if c == '%' => "%25"
        case c if c == '<' => "%3C"
        case c if c == '>' => "%3E"
        case c if c == '|' => "%7C"
        case c if c == '^' => "%5E"
        case c => c.toString
      }
      val status =
        try get(path).statusCode()
        catch { case _: IllegalArgumentException => 0 /* client-side reject */ }
      seen(status) += 1
      assert(status != 500, s"500 on fuzz input: $raw")
    }
    // the server must still answer a normal query afterwards
    assert(get("/region/:json").statusCode() == 200)
    assert(seen(400) > 0, s"fuzz never reached the parser: $seen")
  }

  test("non-GET/POST methods are rejected") {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.boundPort}/region"))
        .method("PUT", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 405)
  }

  // ---- the POST ETL surface (upstream invokes tweak.etl through the same
  // produce() path; writes go against the engine's own data directory) ----

  private def post(srv: GraftServer, body: String,
      accept: Option[String] = None): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.boundPort}/"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    accept.foreach(b.header("Accept", _))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def getOn(srv: GraftServer, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.boundPort}$path")).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST runs a do() transaction against a working dir and reads back") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft_server_etl_").toString
    spark.read.parquet(s"$dir/region.parquet")
      .select(col("r_regionkey"), col("r_name"), lit("orig").as("r_comment"))
      .write.parquet(s"$work/region.parquet")
    val srv = new GraftServer(Graft(spark, work)).start()
    try {
      val cmd = "/do(" +
        "insert(region := {r_regionkey := 100, r_name := 'POSTED', r_comment := 'new'})," +
        "update(region?r_regionkey=0 := {r_comment := 'patched'})," +
        "delete(region[3]))"
      val r = post(srv, cmd, accept = Some("application/json"))
      assert(r.statusCode() == 200, s"got ${r.statusCode()}: ${r.body()}")
      assert(r.body().contains("\"command\":\"insert\"") &&
        r.body().contains("\"command\":\"update\"") &&
        r.body().contains("\"command\":\"delete\""), r.body())
      // the same server serves the post-state through GET
      val after = getOn(srv, "/region%7Br_regionkey,r_comment%7D/:csv")
      assert(after.statusCode() == 200)
      val lines = after.body().linesIterator.toSeq
      assert(lines.contains("100,new"), s"inserted row missing:\n${after.body()}")
      assert(lines.contains("0,patched"), s"update missing:\n${after.body()}")
      assert(!lines.exists(_.startsWith("3,")), s"deleted row still present:\n${after.body()}")
      assert(lines.length == 6) // header + 5 regions - deleted + inserted
    } finally {
      srv.stop()
      rmTree(work)
    }
  }

  test("POST command errors return caret-marked 400s; writes are all-or-nothing") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft_server_etl_").toString
    spark.read.parquet(s"$dir/region.parquet")
      .select(col("r_regionkey"), col("r_name"), lit("orig").as("r_comment"))
      .write.parquet(s"$work/region.parquet")
    val srv = new GraftServer(Graft(spark, work)).start()
    try {
      // parse error: not a command
      assert(post(srv, "/region").statusCode() == 400)
      // bind error: unknown table, caret-marked
      val bad = post(srv, "/insert(bogus := {x := 1})")
      assert(bad.statusCode() == 400 && bad.body().contains("^"), bad.body())
      // validation error: missing columns → 400, and the earlier insert in
      // the same do() must NOT have landed (one transaction)
      val partial = post(srv,
        "/do(insert(region := {r_regionkey := 200, r_name := 'X', r_comment := 'y'})," +
          "insert(region := {r_regionkey := 201}))")
      assert(partial.statusCode() == 400, s"${partial.statusCode()}: ${partial.body()}")
      val after = getOn(srv, "/region%7Br_regionkey%7D/:csv")
      assert(!after.body().linesIterator.contains("200"),
        "aborted do() must stage nothing")
    } finally {
      srv.stop()
      rmTree(work)
    }
  }

  test("concurrent requests all succeed (Spark job scheduling is shared)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 12).map { i =>
      Future(get(if (i % 2 == 0) "/region/:json" else "/nation.limit(2)/:csv"))
    }
    val rs = Await.result(Future.sequence(fs), 60.seconds)
    assert(rs.forall(_.statusCode() == 200))
    assert(rs.count(_.body().startsWith("[")) == 6) // the json half
  }

  test("plus stays an operator through the URL (no form-decoding)") {
    // /customer{c_custkey+1} — '+' must NOT decode to a space
    val r = get("/customer%7Bc_custkey+1%7D.limit(1)/:json")
    assert(r.statusCode() == 200, r.body())
  }

  test("stop() ends the request threads, so an embedding JVM can exit") {
    import scala.jdk.CollectionConverters._
    // the session's own lazily started threads come up before the snapshot
    assert(get("/region/:json").statusCode() == 200)
    def started(before: Set[Thread]): Set[Thread] =
      Thread.getAllStackTraces.keySet.asScala.toSet
        .filter(t => t.isAlive && !t.isDaemon) -- before
    val before = started(Set.empty)
    val srv = new GraftServer(Graft(spark, dir)).start()
    (1 to 3).foreach(_ => assert(getOn(srv, "/region/:json").statusCode() == 200))
    assert(started(before).nonEmpty) // the dispatcher and the pool workers
    srv.stop()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (started(before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(started(before).isEmpty,
      s"non-daemon threads left running: ${started(before).map(_.getName)}")
  }
}

package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

/** HTTP entry point — the reference's PRIMARY user-facing mode
  * (`src/htsql/ctl/server.py` (ServeRoutine), `src/htsql/core/wsgi.py`):
  * a query IS a URL, `GET /school{name, count(department)}/:json` returns
  * the rendered result.
  *
  * The request path + raw query string reconstruct the query text —
  * HTSQL's `?sieve` syntax lives in the URL query part, and `+` is the
  * language's plus operator, so only %XX percent-escapes are decoded
  * (WSGI semantics: PATH_INFO unquoted, QUERY_STRING passed through the
  * same unquoting by the reference's own parser — never
  * form-urlencoding's `+`→space).
  *
  * Format: the parser-owned `/:fmt` decorator wins; otherwise the Accept
  * header maps to a renderer (json/csv/html/xml/txt); default txt.
  * Parse/bind errors return text/plain 400s carrying the existing
  * caret-marked excerpt (ErrorMark), like the reference's marked spans.
  *
  * Scale note: rendering collects AT MOST the renderers' row caps onto
  * this single-process server (the same bounded collect the embedded API
  * uses); full-result exports stay distributed via writeJson/writeCsv.
  * The handler runs on a small thread pool — Spark job scheduling inside
  * one session is already concurrent-safe. A POST runs one ETL
  * transaction; of concurrent POSTs each either lands (200) or, when
  * another commit holds the lease or committed under it, gets a 409 —
  * never a 200 whose write is lost.
  */
/** @param host bind address — LOOPBACK by default: the server has no
  *   authentication, so network exposure must be an explicit opt-in
  *   (pass "0.0.0.0" to serve beyond the local machine).
  */
final class GraftServer(engine: Graft, port: Int = 0, host: String = "127.0.0.1") {

  private val contentTypes = Map(
    "json" -> "application/json; charset=utf-8",
    "csv" -> "text/csv; charset=utf-8",
    "html" -> "text/html; charset=utf-8",
    "xml" -> "application/xml; charset=utf-8",
    "txt" -> "text/plain; charset=utf-8")

  /** Accept-header → renderer, first match wins; unknown → txt. */
  private[graft] def fmtFromAccept(accept: String): String = {
    val a = Option(accept).getOrElse("").toLowerCase
    if (a.contains("application/json")) "json"
    else if (a.contains("text/csv")) "csv"
    else if (a.contains("text/html")) "html"
    else if (a.contains("application/xml") || a.contains("text/xml")) "xml"
    else "txt"
  }

  /** Decode %XX escapes ONLY (leave `+` alone — it is the language's plus
    * operator, not a form-encoded space).
    */
  private[graft] def percentDecode(s: String): String = {
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { out.write(Integer.parseInt(hex, 16)); i += 3 }
        catch { case _: NumberFormatException => out.write(c.toByte); i += 1 }
      } else { out.write(s.substring(i, i + 1).getBytes(UTF_8)); i += 1 }
    }
    new String(out.toByteArray, UTF_8)
  }

  /** Spark raises execution-time errors as SparkThrowable anywhere in the
    * cause chain (the collect wraps them in job-failure exceptions).
    * Compile/analysis-time SparkThrowables (AnalysisException,
    * ParseException) are NOT data errors here: user mistakes surface as
    * PlanError before Spark ever sees the plan, so an analysis failure
    * means the planner generated a bad plan — a genuine server bug that
    * must stay a 500, not masquerade as a 409.
    */
  private def isEngineError(e: Throwable): Boolean = {
    var cur = e
    var depth = 0
    while (cur != null && depth < 16) {
      cur match {
        case _: org.apache.spark.sql.AnalysisException => return false
        case _: org.apache.spark.sql.catalyst.parser.ParseException => return false
        case _: org.apache.spark.SparkThrowable => return true
        case _ =>
      }
      cur = cur.getCause
      depth += 1
    }
    false
  }

  private val server: HttpServer = HttpServer.create(new InetSocketAddress(host, port), 0)
  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        val method = ex.getRequestMethod
        if (method != "GET" && method != "POST")
          respond(ex, 405, "txt", "method not allowed")
        else {
          val uri = ex.getRequestURI
          val raw = uri.getRawPath +
            Option(uri.getRawQuery).map("?" + _).getOrElse("")
          // POST carries the command program in the body when present
          // (upstream POSTs the query text either way); an empty body
          // falls back to the URL, same decoding as GET
          val bodyText =
            if (method == "POST")
              new String(ex.getRequestBody.readAllBytes(), UTF_8).trim
            else ""
          val text = if (bodyText.nonEmpty) bodyText else percentDecode(raw)
          val fmt = fmtFromAccept(ex.getRequestHeaders.getFirst("Accept"))
          try {
            val (body, usedFmt) =
              if (method == "POST") engine.renderEtl(text, fmt)
              else engine.renderWithFormat(text, fmt)
            respond(ex, 200, usedFmt, body)
          } catch {
            case e: graft.lang.ParseError =>
              respond(ex, 400, "txt", graft.lang.ErrorMark(e.getMessage, text, e.pos))
            case e: graft.lang.LexError =>
              respond(ex, 400, "txt", graft.lang.ErrorMark(e.getMessage, text, e.pos))
            case e: graft.lang.PlanError =>
              // compile()/renderEtl already attached the caret excerpt
              respond(ex, 400, "txt", e.getMessage)
            case e: IllegalArgumentException =>
              // ETL validation (unknown/missing columns) — a client error
              respond(ex, 400, "txt",
                Option(e.getMessage).getOrElse(e.getClass.getName))
            case e: IllegalStateException =>
              // commit conflicts (concurrent writer lease/generation) —
              // the literal 409 Conflict case
              respond(ex, 409, "txt",
                Option(e.getMessage).getOrElse(e.getClass.getName))
            case e: Throwable if isEngineError(e) =>
              // a well-formed query whose EXECUTION failed on the data
              // (division by zero, cast overflow, …) — the reference maps
              // engine errors to 409 Conflict (src/htsql/core/error.py,
              // EngineError), keeping 500 for genuine server bugs
              respond(ex, 409, "txt",
                Option(e.getMessage).getOrElse(e.getClass.getName))
          }
        }
      } catch {
        case e: Throwable => respond(ex, 500, "txt",
          Option(e.getMessage).getOrElse(e.getClass.getName))
      } finally ex.close()
  })
  // non-daemon workers: stop() must shut the pool down, or an embedding
  // JVM never exits
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  server.setExecutor(pool)

  private def respond(ex: HttpExchange, status: Int, fmt: String, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentTypes(fmt))
    // the httpserver contract: 0 means "unknown length, chunked";
    // an empty body must be declared with -1 to get Content-Length: 0
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
  }

  def start(): GraftServer = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdown() }

  /** The actually-bound port (useful when constructed with port 0). */
  def boundPort: Int = server.getAddress.getPort

  /** The full bound socket address (for bind-policy assertions). */
  def boundAddress: InetSocketAddress = server.getAddress
}

/** `runMain graft.GraftHttp <dataDir> [port] [host]` — serve a data
  * directory (loopback unless a bind host is given explicitly).
  */
object GraftHttp {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println("usage: graft.GraftHttp <dataDir> [port] [host]"); sys.exit(2) }
    val dir = args(0)
    val port = args.lift(1).flatMap(_.toIntOption).getOrElse(8080)
    val host = args.lift(2).getOrElse("127.0.0.1")
    val spark = SparkEntry.session("graft-http", SparkEntry.envCpus(4))
    spark.sparkContext.setLogLevel("ERROR")
    val srv = new GraftServer(Graft(spark, dir), port, host).start()
    println(s"graft http server on $host:${srv.boundPort} over $dir")
    Thread.currentThread.join()
  }
}

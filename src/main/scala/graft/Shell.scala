package graft

import scala.io.StdIn

/** Interactive / one-shot query shell — the analogue of the reference's
  * `htsql-ctl shell` (`src/htsql/ctl/shell.py` (ShellRoutine)).
  *
  * Usage:
  *   runMain graft.Shell <dataDir> [query]       — one-shot, prints a table
  *   runMain graft.Shell <dataDir>               — REPL on stdin
  *
  * Output format decorators are part of the language (`Parser
  * .parseCommand`, mirroring `src/htsql/core/cmd/summon.py`): suffix the
  * query with `/:json`, `/:csv`, `/:html`, `/:xml`, or `/:txt` (default
  * txt). `\d [table]` describes the
  * model (ShellRoutine's `describe` command); `\sql <stmt>` runs raw
  * Spark SQL with the engine's native functions registered via
  * `GraftExtensions` (vector_dot, cosine_sim).
  */
object Shell {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Shell <dataDir> [query]")
      sys.exit(2)
    }
    val dir = args(0)
    val spark = SparkEntry.session("graft-shell", SparkEntry.envCpus(4))
    spark.sparkContext.setLogLevel("ERROR")
    // tweak.autolimit analogue: implicit LIMIT on every query
    val autoLimit = sys.env.get("GRAFT_AUTOLIMIT").flatMap { v =>
      val n = v.toIntOption
      if (n.isEmpty) System.err.println(s"ignoring GRAFT_AUTOLIMIT='$v' (not an integer)")
      n
    }
    // GRAFT_FORMAT=csv mounts <dir>/<table>.csv files (tweak.filedb)
    val g = Graft(spark, dir, autoLimit = autoLimit,
      format = sys.env.getOrElse("GRAFT_FORMAT", "parquet"))

    def run(line: String): Unit = {
      if (line.startsWith("\\d")) {
        val arg = line.drop(2).trim
        if (arg.isEmpty) println(g.toText(g.metaTables))
        else println(g.toText(g.metaColumns.filter(
          org.apache.spark.sql.functions.col("table_name") === arg)))
        return
      }
      if (line.startsWith("\\sql ")) {
        println(g.toText(spark.sql(line.drop(5))))
        return
      }
      // the analogue of the reference's show-the-SQL shell command
      // (`tweak.shell` exposes the compiled SQL of a query): print the
      // optimized physical plan Catalyst chose for a navigational query
      if (line.startsWith("\\explain ")) {
        try println(g.query(line.drop(9).trim).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
        catch {
          case e: graft.lang.ParseError => System.err.println(s"parse error: ${e.getMessage}")
          case e: graft.lang.PlanError => System.err.println(s"plan error: ${e.getMessage}")
        }
        return
      }
      // `/query/:json` — the format decorator is part of the language
      // (Parser.parseCommand); legacy `:json` suffixes still parse because
      // they ARE the decorator syntax minus the slash — normalize them.
      val cmd =
        if (line.endsWith(":json") || line.endsWith(":csv") || line.endsWith(":txt") ||
          line.endsWith(":html") || line.endsWith(":xml")) {
          val i = line.lastIndexOf(':')
          if (line.lift(i - 1).contains('/')) line else line.patch(i, "/:", 1)
        } else line
      try println(g.render(cmd)) catch {
        case e: graft.lang.ParseError => System.err.println(s"parse error: ${e.getMessage}")
        case e: graft.lang.LexError => System.err.println(s"lex error: ${e.getMessage}")
        case e: graft.lang.PlanError => System.err.println(s"plan error: ${e.getMessage}")
      }
    }

    if (args.length > 1) run(args(1))
    else {
      var line = StdIn.readLine("graft> ")
      while (line != null && line.trim != "\\q") {
        if (line.trim.nonEmpty) run(line.trim)
        line = StdIn.readLine("graft> ")
      }
    }
    spark.stop()
  }
}

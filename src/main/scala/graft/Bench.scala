package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
import scala.util.control.NonFatal

/** Per-round benchmark: one JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR. Each query gets one warm run + `runs` measured
  * runs (median reported) so n=1 noise (JIT, first-touch page faults,
  * cache materialization) doesn't dominate single queries.
  *
  * LOAD ROBUSTNESS: ambient machine load contaminates a contiguous time
  * window (the r06 artifact showed an alphabetical block of unchanged
  * queries 4–8× slower). The whole suite therefore runs as TWO temporally
  * separated passes and each query reports the MIN of its two pass
  * medians — noise only ever inflates a wall time, so the min is the
  * honest estimate, and a load burst would have to span both passes of
  * the same query to survive. Queries whose two passes disagree by >3×
  * are listed in `skewed` so a contaminated artifact is self-flagging.
  */
object Bench {

  /** Forces evaluation of EVERY output column: a bare `count()` lets
    * Catalyst prune the projections under measurement (a select-only
    * query degenerates to a row-count scan and a broken projection
    * would "win" the bench). Hashing all columns into a bit_xor
    * aggregate makes each value load-bearing while collecting only one
    * row to the driver. bit_xor (not sum) so ANSI overflow can't throw.
    */
  private def force(df: DataFrame): Unit = {
    val hashed = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
    hashed.agg(bit_xor(col("h")).as("x")).collect()
    ()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  /** One pass over `subset` of the suite (all queries by default): per
    * query, a warm run (plan + staging cache materialization) then `runs`
    * measured runs → median. Failures record -1 and are sticky across
    * passes.
    */
  private def pass(spark: SparkSession, sfDir: String, runs: Int,
      failures: scala.collection.mutable.Map[String, String],
      subset: Set[String] = Set.empty): Map[String, Double] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subset.isEmpty || subset(n) }
      .map { case (name, fn) =>
      if (failures.contains(name)) name -> -1.0
      // staging caches live per-query: measured runs reuse the warm
      // run's blocks, then the next query starts with an empty cache
      else try graft.operators.Staging.scoped {
        force(fn(spark, sfDir))
        val times = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          force(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }
        name -> median(times)
      } catch {
        case NonFatal(e) =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          failures += name -> msg.linesIterator.take(1).mkString
          System.err.println(s"[bench] FAILED $name: $msg")
          name -> -1.0
      }
    }.toMap

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val spark = SparkEntry.session("graft-bench", SparkEntry.envCpus(4))
    spark.sparkContext.setLogLevel("ERROR")
    // warm the JVM/codegen path once so the first measured query doesn't
    // absorb session startup (order below is name-sorted and deterministic)
    try force(SparkEntry.entry(spark)) catch { case NonFatal(_) => }
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    // optional comma-separated key filter for focused local iteration
    // (the driver runs unfiltered — same convention as GRAFT_VERIFY_ONLY)
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val pass1 = pass(spark, sfDir, runs, failures, only)
    val pass2 = pass(spark, sfDir, runs, failures, only)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    def disagree(xs: Seq[Double]): Boolean =
      xs.forall(_ > 0) && xs.max / xs.min > 3.0 &&
        xs.max - xs.min > 0.25 // ignore sub-250ms jitter
    // TIE-BREAK: queries whose two passes disagree >3× get a THIRD
    // measurement — a load burst now has to span three temporally
    // separated windows of the same query for the reported min to stay
    // inflated (the artifact self-heals instead of merely self-flagging)
    val flagged = names.filter(n => disagree(Seq(pass1(n), pass2.getOrElse(n, -1.0))))
    val pass3 =
      if (flagged.isEmpty) Map.empty[String, Double]
      else pass(spark, sfDir, runs, failures, flagged.toSet)
    def samples(n: String): Seq[Double] =
      Seq(pass1.get(n), pass2.get(n), pass3.get(n)).flatten
    val results = names.map { n =>
      val xs = samples(n)
      n -> (if (xs.exists(_ < 0)) -1.0 else xs.min)
    }
    // still-skewed = the reported min has NO corroborating second sample
    // (within 3× or 250 ms of it) even after the tie-break — a genuine
    // bimodal query or three-window load, either way worth a human look
    val skewed = names.filter { n =>
      val xs = samples(n)
      xs.forall(_ > 0) && disagree(xs) &&
        xs.count(x => x / xs.min <= 3.0 || x - xs.min <= 0.25) < 2
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // like-for-like vs the recorded round-1 baseline: the suite has grown
    // ~2× in keys since BASELINE.md's 32.02 s was recorded over THESE 50,
    // so the total alone conflates coverage growth with regression — this
    // subtotal is the apples-to-apples number (BENCH_r01.json key set)
    val baselineMeasured = results
      .filter { case (k, v) => BaselineR01Keys(k) && v >= 0 }
    // counted alongside: a failed or filtered-out baseline key would
    // otherwise silently SHRINK the subtotal into a fake speedup — a
    // subtotal is only like-for-like when all 50 keys are in it
    val baselineSubtotal = baselineMeasured.map(_._2).sum
    val baselineCounted = baselineMeasured.size
    val failJson = failures
      .map { case (k, v) => "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\"" }
      .mkString("{", ",", "}")
    val skewJson = skewed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // headline fields LAST: the driver keeps only a tail of stdout, and the
    // per-query map is long enough to push a leading "value" out of the
    // window (JSON key order is semantically irrelevant)
    val fullLine = s"""{"queries":$qs,"failures":$failJson,"skewed":$skewJson,"sf":"$sfDir","baseline_r01_keys_subtotal":$baselineSubtotal,"baseline_r01_keys_counted":$baselineCounted,"metric":"total","unit":"sec","value":$total}"""
    println(fullLine)
    // REPORTING CONTRACT REPAIR (r14, measurement plumbing only — no
    // timing methodology change, the full line above is unchanged and
    // still printed): every BENCH artifact since r10 has `parsed: null`
    // because the driver keeps only a ~2000-char tail of stdout and the
    // 148-key line above overflows it, truncating mid-line. Two fixes:
    //   1. the full line is ALSO written to a file
    //      ($SPARK_GRAFT_BENCH_OUT, default target/bench_out.json under
    //      the cwd — a build output, so a run leaves the tracked tree
    //      alone), so the complete per-query map always survives;
    //   2. a COMPACT (< 1 KB guaranteed: no per-query map, failures as a
    //      count) summary line is printed LAST, so whatever parses the
    //      stdout tail always sees one complete JSON line.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "target/bench_out.json")
    try {
      val out = java.nio.file.Paths.get(outPath)
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out, (fullLine + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    val skewCompact = skewed.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","unit":"sec","value":$total,"sf":"$sfDir","n_queries":${results.size},"n_failed":${failures.size},"skewed":$skewCompact,"baseline_r01_keys_subtotal":$baselineSubtotal,"baseline_r01_keys_counted":$baselineCounted,"queries_in":"$outPath"}""")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }

  /** The 50 keys the round-1 baseline (BASELINE.md, 32.02 s) was recorded
    * over — extracted from BENCH_r01.json and frozen here so the
    * like-for-like subtotal survives artifact rotation.
    */
  private val BaselineR01Keys: Set[String] = Set(
    "q_agg_count", "q_agg_exists_every_any", "q_agg_sum_avg", "q_antijoin",
    "q_calc", "q_count_distinct", "q_dedup_embed", "q_dedup_exact",
    "q_dedup_minhash", "q_dedup_ngram", "q_dedup_simhash", "q_dedup_text",
    "q_dist_approx", "q_distinct", "q_fn_cast", "q_fn_cond", "q_fn_date",
    "q_fn_math", "q_fn_null", "q_fn_string", "q_fork", "q_htsql_chain",
    "q_htsql_define", "q_htsql_exists", "q_htsql_filtered_agg",
    "q_htsql_flagship", "q_htsql_quotient", "q_htsql_sieve",
    "q_htsql_twohop_agg", "q_join_chain", "q_join_plural_agg",
    "q_join_singular", "q_limit", "q_locator", "q_locator_composite",
    "q_multimodal", "q_quotient", "q_scan_table", "q_select", "q_semijoin",
    "q_sieve", "q_sim_knn", "q_sim_lsh", "q_sort", "q_stream_session",
    "q_stream_slide", "q_stream_tumble", "q_text_fingerprint",
    "q_text_stats", "q_topk_group")
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload against the program's public
  * API and writes raw results for `run.py`, which checks the answers and
  * computes the metrics.
  *
  * {{{
  * java -cp <classes>:<spark jars> perfbench.Main --workload <name>
  *   --data <dir> --work <dir> --out <dir> --trace <0|1>
  * }}}
  *
  * `plan.json` in the out directory holds the seeded operations; the JVM
  * writes `result.json`, the answers it saw, and (traced) `spans.jsonl`.
  */
object Main {

  /** Everything a workload reports back. */
  final class Result {
    var firstOpMs = 0L          // wall clock of the first timed operation
    var windowS = 0.0           // timed window length
    var attempted = 0L
    var failed = 0L
    var workUnits = 0.0         // requests / drained documents
    var workS = 0.0             // time the work units took, if not the window
    val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val info = scala.collection.mutable.LinkedHashMap.empty[String, String]
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val out = opt("out")
    val trace = opt.getOrElse("trace", "0") == "1"
    Trace.enabled = trace
    val b = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${opt("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opt("work")}/warehouse")
    if (trace)
      b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
        .config("spark.sql.streaming.streamingQueryListeners", classOf[BatchListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) spark.sparkContext.addSparkListener(new Trace.ExecListener)
    val plan = Json.read(new String(Files.readAllBytes(Paths.get(out, "plan.json")), UTF_8))
    val res = new Result
    val code =
      try {
        workload match {
          case "htsql_interactive" => Htsql.run(spark, opt("data"), out, plan, res)
          case "ingest_index" => Ingest.run(spark, opt("data"), opt("work"), out, plan, res)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        if (trace) {
          Trace.drainEvents(spark, "end")
          writeSpans(s"$out/spans.jsonl")
        }
        write(s"$out/result.json", Json.write(Map(
          "first_op_ms" -> res.firstOpMs,
          "window_s" -> res.windowS,
          "attempted" -> res.attempted,
          "failed" -> res.failed,
          "work_units" -> res.workUnits,
          "work_s" -> (if (res.workS > 0) res.workS else res.windowS),
          "latencies_ms" -> res.latencies.toSeq,
          "layer" -> res.layer.toMap,
          "info" -> res.info.toMap)))
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      } finally
        try spark.stop() catch { case e: Throwable => e.printStackTrace() }
    // GraftServer.stop() leaves its request pool's non-daemon threads
    // running, so the JVM would not end on its own, on success or failure
    sys.exit(code)
  }

  def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(UTF_8))

  private def writeSpans(path: String): Unit = {
    val t0 = Trace.spans.asScala.map(_.startNs).minOption.getOrElse(0L)
    write(path, Trace.spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Json.write(Map("name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6))
    }.mkString("", "\n", "\n"))
  }

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** JVM-wide counters sampled at the window edges. */
  final class JvmProbe {
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    private def gcMs = gcs.map(_.getCollectionTime max 0L).sum
    private val gc0 = gcMs
    heap.foreach(_.resetPeakUsage())
    def report(res: Result): Unit = {
      res.layer("jvm.gc_ms") = (gcMs - gc0).toDouble
      res.layer("jvm.heap_peak_mb") = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
    }
  }

  /** Per-operation Spark execution figures over `ops`: counts and bytes
    * as means per operation; task skew as the median over operations of
    * max/median task time in the operation's slowest stage.
    */
  def execLayer(res: Result, ops: Seq[String]): Unit = {
    val xs = ops.map(Trace.execByOp.getOrElse(_, new Trace.OpExec))
    val n = xs.size.max(1).toDouble
    def mean(f: Trace.OpExec => Double) = xs.map(f).sum / n
    res.layer("exec.jobs") = mean(_.jobs.toDouble)
    res.layer("exec.stages") = mean(_.stages.toDouble)
    res.layer("exec.tasks") = mean(_.tasks.toDouble)
    res.layer("exec.task_run_ms") = mean(_.runMs.toDouble)
    res.layer("exec.task_cpu_ms") = mean(_.cpuNs / 1e6)
    res.layer("exec.shuffle_write_bytes") = mean(_.shuffleWrite.toDouble)
    res.layer("exec.shuffle_read_bytes") = mean(_.shuffleRead.toDouble)
    res.layer("exec.spill_bytes") = mean(_.spill.toDouble)
    val skews = xs.flatMap { s =>
      if (s.stageWall.isEmpty) None
      else {
        val slowest = s.stageWall.maxBy(_._2)._1
        s.stageTasks.get(slowest).filter(_.nonEmpty).map { ts =>
          val m = median(ts.map(_.toDouble))
          if (m > 0) ts.max / m else 1.0
        }
      }
    }
    res.layer("exec.task_skew") = median(skews)
  }

  /** Catalyst phase p50s over `ops` (per-operation sums). */
  def catalystLayer(res: Result, ops: Seq[String]): Unit = {
    val ph = ops.map(Trace.phasesOf)
    res.layer("catalyst.analysis_ms") = median(ph.map(_._1))
    res.layer("catalyst.optimization_ms") = median(ph.map(_._2))
    res.layer("catalyst.planning_ms") = median(ph.map(_._3))
  }

  /** Staged frames and their cached bytes, sampled before a release. */
  def stagingSample(spark: SparkSession): (Int, Long) =
    (graft.operators.Staging.liveCount,
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)

  /** Runs `f` as (a phase of) operation `op`: traced, the jobs it submits
    * carry the op in their local properties and its interval is kept.
    */
  def withOp[A](spark: SparkSession, op: String, phase: String = null)(f: => A): A =
    if (!Trace.enabled) f
    else {
      val sc = spark.sparkContext
      sc.setLocalProperty(Trace.OpKey, op)
      sc.setLocalProperty(Trace.PhaseKey, phase)
      val t0 = System.currentTimeMillis()
      try f
      finally {
        Trace.window(op, t0, System.currentTimeMillis())
        sc.setLocalProperty(Trace.OpKey, null)
        sc.setLocalProperty(Trace.PhaseKey, null)
      }
    }
}

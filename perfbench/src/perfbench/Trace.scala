package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Spans of one operation share
  * `op` (a request, drain or index read); `parent` names the
  * span that caused this one.
  */
final case class Span(name: String, op: String, parent: String, startNs: Long, endNs: Long)

/** In-memory trace of one traced run: benchmark-side spans plus what
  * Spark's public listeners report, attributed to operations through the
  * `perfbench.op` / `perfbench.phase` local properties of the thread that
  * submitted each job. Nothing is written until the run ends.
  */
object Trace {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  @volatile var enabled = false
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Times `f`; records a span when tracing. Returns the result and ms. */
  def timed[A](name: String, op: String, parent: String = "")(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    val t1 = System.nanoTime()
    if (enabled) spans.add(Span(name, op, parent, t0, t1))
    (r, (t1 - t0) / 1e6)
  }

  final class OpExec {
    var jobs = 0L; var planJobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spill = 0L
    val stageWall = TrieMap.empty[Int, Long]
    val stageTasks = TrieMap.empty[Int, ArrayBuffer[Long]]
  }

  val execByOp = TrieMap.empty[String, OpExec]
  private val stageOp = TrieMap.empty[Int, String]
  val endedJobs = TrieMap.empty[Int, Boolean]
  private val markerJobs = TrieMap.empty[String, Int]

  /** Catalyst phase times of one action, with its wall-clock start and
    * its (unanalyzed) logical plan.
    */
  final case class QePhases(logical: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      startMs: Long, analysis: Double, optimization: Double, planning: Double)
  val phases = new ConcurrentLinkedQueue[QePhases]()

  /** Wall-clock interval of each operation, and for an operation that
    * shares its interval with concurrent ones, the logical plan its
    * actions are built on.
    */
  val opWindows = TrieMap.empty[String, (Long, Long)]
  val opPlans = TrieMap.empty[String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]

  def window(op: String, startMs: Long, endMs: Long): Unit =
    opWindows.put(op, opWindows.get(op).fold((startMs, endMs)) { case (s, e) =>
      (s min startMs, e max endMs) })

  /** Streaming progress: (run id, batch triggerExecution ms). */
  val batches = new ConcurrentLinkedQueue[(String, Long)]()
  val terminated = new java.util.concurrent.atomic.AtomicInteger()

  def exec(op: String): OpExec = execByOp.getOrElseUpdate(op, new OpExec)

  /** Catalyst phase sums (analysis, optimization, planning) of the actions
    * that started inside `op`'s interval (and are built on its plan, when
    * it has one).
    */
  def phasesOf(op: String): (Double, Double, Double) = {
    var a, o, p = 0.0
    for ((s, e) <- opWindows.get(op); q <- phases.asScala
         if q.startMs >= s && q.startMs <= e &&
           opPlans.get(op).forall(pl => q.logical.find(_ eq pl).isDefined)) {
      a += q.analysis; o += q.optimization; p += q.planning
    }
    (a, o, p)
  }

  class ExecListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty("perfbench.marker")))
        .foreach(m => markerJobs.put(m, e.jobId))
      props.flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
        val s = exec(op)
        s.synchronized {
          s.jobs += 1
          if (props.flatMap(p => Option(p.getProperty(PhaseKey))).contains("plan"))
            s.planJobs += 1
        }
        e.stageIds.foreach(stageOp.put(_, op))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = endedJobs.put(e.jobId, true)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stageOp.get(si.stageId).foreach { op =>
        val s = exec(op)
        s.synchronized {
          s.stages += 1
          for (a <- si.submissionTime; b <- si.completionTime)
            s.stageWall.put(si.stageId * 1000 + si.attemptNumber(), b - a)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageOp.get(e.stageId).foreach { op =>
        val s = exec(op)
        val m = e.taskMetrics
        s.synchronized {
          s.tasks += 1
          s.stageTasks.getOrElseUpdate(e.stageId * 1000 + e.stageAttemptId,
            ArrayBuffer.empty[Long]) += e.taskInfo.duration
          if (m != null) {
            s.runMs += m.executorRunTime
            s.cpuNs += m.executorCpuTime
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  /** Waits until every listener event posted so far has been delivered:
    * a marker job's end travels the same shared queue behind them.
    */
  def drainEvents(spark: org.apache.spark.sql.SparkSession, tag: String): Unit = {
    val sc = spark.sparkContext
    val prev = (sc.getLocalProperty(OpKey), sc.getLocalProperty(PhaseKey))
    sc.setLocalProperty(OpKey, null)
    sc.setLocalProperty(PhaseKey, null)
    sc.setLocalProperty("perfbench.marker", tag)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty("perfbench.marker", null)
      sc.setLocalProperty(OpKey, prev._1)
      sc.setLocalProperty(PhaseKey, prev._2)
    }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!markerJobs.get(tag).exists(endedJobs.contains) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }
}

/** Catalyst phase times of every action, registered for every session
  * through `spark.sql.queryExecutionListeners`.
  */
class PhaseListener(conf: SparkConf) extends QueryExecutionListener {
  private def rec(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    if (ph.nonEmpty)
      Trace.phases.add(Trace.QePhases(qe.logical, ph.values.map(_.startTimeMs).min,
        ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = rec(qe)
}

/** Micro-batch durations of every streaming query, registered for every
  * session through `spark.sql.streaming.streamingQueryListeners`.
  */
class BatchListener(conf: SparkConf) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      Trace.batches.add((p.runId.toString,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)))
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    Trace.terminated.incrementAndGet()
}

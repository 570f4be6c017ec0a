package graft

import org.apache.spark.sql.SparkSession

/** The one execution-mode rule: a plan whose scanned inputs total under
  * [[InterpretBelowBytes]] runs INTERPRETED, on the [[interpreted]] twin of
  * its session; a plan at or past the bound runs on its own session,
  * through Spark's compiled path (whole-stage code generation and
  * generated projections, predicates and orderings).
  *
  * Why: every Spark SQL query compiles its operators to bytecode (Spark
  * SQL, SIGMOD 2015) — Janino turns the generated Java into classes, the
  * JIT then compiles those classes again. That fixed per-query cost pays
  * off only over many rows. An HTSQL request, an ingest micro-batch and
  * an index read are each a fresh, small plan, so on them the compiling
  * IS the cost (Dremel, VLDB 2020, judges an interactive engine by such
  * fixed per-query costs): a JFR profile of the benchmark on 4 cores had
  * the JIT busy on about 2.3 cores through the timed window, with Janino
  * its largest customer.
  *
  * The bound is a measured crossover, not a knob. SCALE.md ("Interpreted
  * or compiled") runs the `htsql_interactive` benchmark workload (4
  * cores) all-interpreted and all-compiled with its fixtures scaled 1×,
  * 10×, 30× and 100×, where the largest request scans lineitem plus
  * orders: 1.3, 12.6, 36 and 140 MB. Interpreted won by half at 1× (6.1
  * vs 4.0 requests/s) and by a seventh at 10× (4.0 vs 3.5); compiled won
  * at 30× (2.8 vs 2.5) and at 100× (1.8 vs 1.3). So the bound is 16 MB:
  * above every 10× request, below the lineitem requests of 30×. Under
  * the rule, which mixes the modes per request, 30× read 3.4 requests/s
  * and 100× 2.0: ahead of both pure modes.
  *
  * Where the input size is known without a job or a listing, the rule is
  * applied there, once:
  *   - [[graft.lang.Planner]]: the file-index sizes of the tables a query
  *     touches (the listing its table resolution already did);
  *   - `graft.streaming.Drain`: per micro-batch, the arrival's size plus
  *     the manifest bytes of the index roots the batch reads or compacts;
  *   - `Retrieval.topKFromIndex`: the manifest bytes of its stores.
  * Every other plan runs compiled, as Spark plans it. No option, variable
  * or conf key overrides the rule; this object is the only code that sets
  * the codegen confs (an OperatorSpec lint holds that).
  */
object Execution {

  /** Plans scanning fewer input bytes than this run interpreted. */
  val InterpretBelowBytes: Long = 16L << 20

  /** The bound in force — [[InterpretBelowBytes]]. A seam for specs ONLY,
    * like `IndexMaintenance.acquireLease`'s `beforeReclaim`: a spec that
    * must see the compiled path over small fixtures runs under
    * `bound.withValue(0L)` (inherited by the threads its body starts).
    */
  private[graft] val bound = new scala.util.DynamicVariable[Long](InterpretBelowBytes)

  /** Whether a plan scanning `bytes` input bytes runs interpreted. */
  private[graft] def interprets(bytes: Long): Boolean = bytes < bound.value

  /** The session a plan over `bytes` input bytes runs on: the interpreted
    * twin of `spark` under the bound, `spark` itself at or past it.
    */
  private[graft] def sessionFor(spark: SparkSession, bytes: Long): SparkSession =
    if (interprets(bytes)) interpreted(spark) else spark

  /** The two confs that turn code generation off: no whole-stage stages,
    * and interpreted projections, predicates and orderings (whole-stage
    * off alone measured no gain — the per-operator projections still
    * compiled).
    */
  private val Interpreted = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  private val twins = new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** `spark`'s interpreted twin: one `newSession()` per base session,
    * made on first use and held weakly (a base session no one holds is
    * collected with its twin). It shares the base's `SharedState` (cache,
    * catalog, listeners registered by conf) and its extensions (the
    * engine's functions), and carries the base's modifiable runtime conf —
    * re-copied on every call, so a conf set on the base after the twin
    * was made holds on the twin from the next plan on — plus the two
    * interpreted-mode confs. The twin of a twin is itself.
    */
  private[graft] def interpreted(spark: SparkSession): SparkSession = twins.synchronized {
    if (twins.containsValue(spark)) spark
    else {
      val twin = twins.computeIfAbsent(spark, _.newSession())
      val want = spark.conf.getAll.filter { case (k, _) => spark.conf.isModifiable(k) } ++
        Interpreted
      val have = twin.conf.getAll
      want.foreach { case (k, v) => if (!have.get(k).contains(v)) twin.conf.set(k, v) }
      (have.keySet -- want.keySet).filter(twin.conf.isModifiable).foreach(twin.conf.unset)
      twin
    }
  }

  /** Put a session the caller OWNS — no other thread plans on it, like a
    * drain's stream session between its micro-batches — in the mode the
    * rule picks for `bytes` input bytes. Plans built on it afterwards run
    * in that mode.
    */
  private[graft] def setMode(session: SparkSession, bytes: Long): Unit =
    if (interprets(bytes)) Interpreted.foreach { case (k, v) => session.conf.set(k, v) }
    else Interpreted.keys.foreach(session.conf.unset)
}

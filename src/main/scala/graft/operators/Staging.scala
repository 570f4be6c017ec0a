package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** Persisted STAGING frames, owned by the scope that staged them.
  *
  * Operators persist narrow projections as a staging BARRIER: Spark
  * re-evaluates non-attribute subexpressions inside higher-order-function
  * lambdas PER ELEMENT, and `CollapseProject` re-inlines a plain
  * `withColumn`/`select` stage, so a persisted projection is the only way
  * to guarantee a token/shingle array is computed once per row. Those
  * persists are NOT reuse caches: once the query's action has run they
  * are dead weight, and because Spark keys its cache on the plan, not the
  * owner, a frame that outlives its query can serve a later query over
  * the same (since rewritten) path stale data.
  *
  * The contract: every staging persist goes through [[stage]], which runs
  * only inside [[scoped]] and throws with no scope open. A scope owns the
  * frames staged on its thread while it is the innermost open scope,
  * together with their [[probe]] memo, and unpersists both when it exits,
  * normally or by a throw. A method that ends in its own action opens a
  * scope (index writes through `IndexMaintenance.withWriterLease`, an
  * ingest micro-batch); a method that returns a lazy DataFrame stages
  * into its caller's scope, which stays open until that frame's last
  * action. Bench, Verify and ScaleBench open one scope per query key.
  *
  * Scopes are not inherited: the current scope is a plain `ThreadLocal`,
  * so a pool thread started inside a scope (`IndexMaintenance.inParallelAll`)
  * never stages into it and opens its own. Other threads may still READ a
  * scope's frames while it is open.
  */
object Staging {

  /** The frames and probe decisions of one [[scoped]] call. */
  final class Scope private[Staging] (private[Staging] val outer: Scope) {
    private[Staging] val owned = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
    private[Staging] val memo = scala.collection.concurrent.TrieMap
      .empty[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Boolean]

    /** The frames this scope persisted and still owns. */
    private[graft] def frames: Seq[DataFrame] = owned.asScala.toList

    private[graft] def memoSize: Int = memo.size
  }

  private val current = new ThreadLocal[Scope]
  private val open = java.util.concurrent.ConcurrentHashMap.newKeySet[Scope]()

  /** Runs `body` in a new innermost scope on this thread and releases the
    * scope's frames (non-blocking) and probe memo when `body` exits.
    */
  def scoped[T](body: => T): T = {
    val s = new Scope(current.get)
    current.set(s)
    open.add(s)
    try body
    finally {
      current.set(s.outer)
      open.remove(s)
      s.owned.asScala.foreach(_.unpersist(false))
      s.owned.clear()
      s.memo.clear()
    }
  }

  /** The innermost open scope on this thread. */
  private[graft] def currentScope: Scope = {
    val s = current.get
    if (s == null)
      throw new IllegalStateException("staging needs an open scope: wrap " +
        "the call and the actions over its result in Staging.scoped { ... }")
    s
  }

  /** Persist `df` as a staging frame of the current scope. A plan that is
    * already cached (by this or an enclosing scope, e.g. the warm run of
    * the same query) is read from that cache, not persisted again, so
    * only its owner releases it.
    */
  def stage(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val s = currentScope
    if (df.storageLevel == StorageLevel.NONE) s.owned.add(df.persist(level))
    df
  }

  /** Memo for PROBE decisions (plan-choice booleans computed by an eager
    * aggregate over a staged frame — `Dedup.heavyDupSetMass`), keyed by
    * the frame's canonicalized plan and owned by the current scope: the
    * twin pair sets and the warm + measured bench runs of one query hit
    * one entry, and no decision outlives the frames it was computed over.
    * A memoized value only ever selects between output-identical plans.
    */
  private[operators] def probe(df: DataFrame)(compute: => Boolean): Boolean =
    currentScope.memo.getOrElseUpdate(df.queryExecution.analyzed.canonicalized, compute)

  /** Number of frames owned by all open scopes, on every thread. */
  def liveCount: Int = open.asScala.toSeq.map(_.owned.size).sum

  /** Releases nothing: every staged frame belongs to a [[scoped]] call,
    * which releases it. Kept for callers compiled against the old
    * JVM-global registry.
    */
  def releaseAll(): Unit = ()

  /** Parallelism floor for NARROW scans feeding per-row heavy compute.
    *
    * Spark plans narrow (no-shuffle) stages into as many tasks as the
    * SOURCE has splits — for a single-file / single-row-group input that
    * is ONE task, so an entire tokenize/shingle/hash pipeline serializes
    * on one core until its first exchange, no matter how wide the
    * cluster. Fires only when the scan is narrower than half the
    * available cores: at cluster scale inputs arrive in many splits and
    * this is the identity, while the narrow case by construction has few
    * raw bytes to shuffle. Must wrap the INPUT of the heavy projection
    * (repartitioning afterwards would shuffle results the slow way).
    */
  def widen(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    // Cheap split estimate from catalog stats + the leaf-file count — the
    // original `df.rdd.getNumPartitions` probe materialized the physical
    // RDD (full planning pass) per call; the r9 triage blamed that probe
    // plus the unconditional repartition for gate-scale regressions and
    // gated widen on input BYTES. The floor's history, all measured:
    // 64 MB left sf1's 6-8 MB documents/embeddings — quadratic-adjacent
    // pair work — serialized on one core (q_dedup_semantic 1.8 → 520 s,
    // q_pipeline OOM at sf1); the r9 4 MB floor then silently EXCLUDED
    // the sf0.1 documents scan (584 KB) and cost the single-stage
    // HOF-heavy seams their only parallelism — the r9→r10 A/B measured
    // q_quality_rep 0.62 → 0.27 s and q_text_stats 0.47 → 0.25 s with the
    // repartition restored, while the keys whose plans shuffle right
    // after the seam moved ≤ 0.15 s either way (per-row compute scales
    // with ROWS, not bytes — the byte floor is only a guard against
    // repartitioning trivial frames). 256 KB keeps sf0.01 gate inputs
    // (≤ 200 KB) and literal/test frames on the identity path and widens
    // everything a bench-scale corpus produces.
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < (256L << 10)) return df
    val maxSplit = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    val splits = math.max(df.inputFiles.length.toLong,
      ((bytes + maxSplit - 1) / maxSplit).toLong)
    // strict (not splits*2 < cores): past the byte floor the input is
    // big enough that the one narrow shuffle is noise next to the heavy
    // stage it feeds — at sf1 the 16-file fixtures sat at exactly
    // cores/2 splits and left half the machine idle in the pair verify
    if (splits < cores) df.repartition(cores) else df
  }

  /** Postfix form: `df.stagePersist()` reads like the `.persist(...)` it
    * replaces at the staging sites.
    */
  implicit final class Stageable(private val df: DataFrame) extends AnyVal {
    def stagePersist(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
      stage(df, level)
  }
}

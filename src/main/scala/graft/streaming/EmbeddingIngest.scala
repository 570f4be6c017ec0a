package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{IncrementalAnn, IncrementalDedup, IndexMaintenance, IvfIndex}
import graft.operators.Staging.Stageable

/** CONTINUOUS embedding-side hygiene — the VECTOR twin of
  * [[CorpusIngest]]: arriving embedding files drain through the
  * incremental ANN engine, each micro-batch near-dup-dedups against the
  * PERSISTED signature index ([[IncrementalAnn]] — history is never
  * re-projected against the hyperplanes), and the batch's survivors are
  * appended to the signature index, the durable sink, and (optionally)
  * the standing IVF-cell store — so BOTH ANN routes stay never more than
  * one batch stale while the corpus grows. The 100 TB embedding-pipeline
  * shape: per-arrival cost is the arrival's own projections + one
  * column-pruned 20 B/row signature scan, never a corpus re-projection.
  *
  * Same construction and guarantees as the document ingest (the shared
  * [[Drain]]):
  *
  *   - checkpointed `foreachBatch` over a file source (a restart never
  *     re-reads acknowledged input);
  *   - the sink write is `overwrite` into a `batch=<id>` partition, so
  *     an at-least-once replay overwrites its own output;
  *   - the index appends are exactly-once: the signature and IVF-cell
  *     roots record each batch in their manifest's watermark, so a
  *     replayed append is skipped where it already landed, and the
  *     keep-list recomputed on the replay is identical (a batch vector
  *     never pairs with its own indexed copy — id equality is excluded —
  *     and batch-internal pairs resolve by the same min-id rule either
  *     way). Duplicate rows from plain appends re-run by hand still
  *     collapse in candidate generation and compaction;
  *   - dedup semantics are GREEDY FIRST-FIT, like the document ingest:
  *     a new vector drops iff its exact cosine vs a previously KEPT
  *     vector (or a lower-id batch vector) reaches `threshold`.
  *
  * The first surviving batch pins the signature index's params at an
  * explicit `numPlanes` (adaptive sizing needs a corpus to measure;
  * bootstrap has none — the caller pins the width, and corpus growth
  * big enough to need a wider banding is a rebuild, the
  * [[IncrementalAnn]] params contract). The optional `ivfPath` store
  * must be PRE-BUILT ([[IvfIndex.buildIndex]] — its codebook freezes at
  * training; the ingest assigns survivors under it), which is the
  * frozen-quantizer production posture.
  */
object EmbeddingIngest {

  /** The BANNED-VECTOR store name under the signature-index root — the
    * vector face of the right-to-be-forgotten door ([[CorpusIngest]]'s
    * banned-content reasoning applies verbatim: tombstones remove a
    * taken-down vector's SIGNATURES, so a re-upload of the same vector
    * no longer collides with its own history and would re-enter).
    * Identity is the xxhash64 of the double-cast embedding — BYTE
    * identity of the numeric content (a re-encoded float32 upload of the
    * same values maps to the same doubles; a re-EMBEDDED near-duplicate
    * is the dedup threshold's job, not the ban list's).
    */
  val BannedStore = "banned_vecs"

  /** BAN vectors: append their content hashes to the banned store.
    * Idempotent under replay (the door is an anti-join).
    */
  def banVectors(spark: SparkSession, indexPath: String, vecs: DataFrame,
      vecCol: String): Unit =
    IndexMaintenance.withWriterLease(spark, indexPath)(
      _.append(BannedStore, vecs
        .select(xxhash64(col(vecCol).cast("array<double>")).as("fp"))
        .distinct().coalesce(1)))

  /** The full vector TAKEDOWN: tombstone the ids out of the signature
    * index (and the IVF-cell store, when maintained) AND ban the vector
    * content at the door — so the same vector re-arriving later drops
    * before any index or sink sees it.
    */
  def retractVectors(spark: SparkSession, indexPath: String,
      vecs: DataFrame, idCol: String, vecCol: String,
      ivfPath: Option[String] = None): Unit = {
    IncrementalAnn.retract(spark, indexPath, vecs.select(col(idCol)))
    ivfPath.foreach(p => IvfIndex.retract(spark, p, vecs.select(col(idCol))))
    banVectors(spark, indexPath, vecs, vecCol)
  }

  /** Drop rows whose vector content hash is banned at `indexPath` — one
    * broadcast anti-join when a ban store exists, the identity otherwise.
    * Applied by [[ingestBatch]] at the door; public for batch pipelines.
    */
  def filterBannedVectors(vecs: DataFrame, vecCol: String,
      indexPath: String): DataFrame =
    filterBanned(vecs, vecCol, IndexMaintenance.snapshot(vecs.sparkSession, indexPath))

  private def filterBanned(vecs: DataFrame, vecCol: String,
      snap: IndexMaintenance.Snapshot): DataFrame =
    snap.readOpt(BannedStore).fold(vecs) { banned =>
      vecs.join(broadcast(banned),
        xxhash64(vecs(vecCol).cast("array<double>")) === banned("fp"),
        "left_anti")
    }

  /** Drain every available embedding file under `srcDir` (one file per
    * micro-batch, arrival order) through the incremental ANN dedup, then
    * return the accumulated sink contents. Re-running with the same
    * checkpoint after new files arrive processes ONLY the new files.
    */
  def runIngestAvailableNow(spark0: SparkSession, srcDir: String,
      indexPath: String, sinkPath: String, checkpointPath: String,
      dim: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.9, numPlanes: Int = 18, numTables: Int = 16,
      shufflePartitions: Option[Int] = None,
      ivfPath: Option[String] = None,
      autoCompact: IndexMaintenance.AutoCompactPolicy =
        IndexMaintenance.AutoCompactPolicy()): DataFrame = {
    require(numPlanes >= 1 && numPlanes <= 62,
      s"bootstrap needs an explicit banding width in [1, 62], got $numPlanes")
    ivfPath.foreach(p => IvfIndex.readParams(spark0, p)) // pre-built, loudly
    Drain.run(spark0, srcDir, sinkPath, checkpointPath, shufflePartitions,
      Seq(indexPath) ++ ivfPath)(
      ingestBatch(_, _, indexPath, sinkPath, idCol, vecCol, dim, threshold,
        numPlanes, numTables, ivfPath, autoCompact))
  }

  /** One micro-batch: dedup against the signature index, publish
    * survivors idempotently, append them to every maintained root under
    * the batch's replay guard. Stages into the caller's scope (the drain
    * opens one per micro-batch). Package-visible so the spec can replay a
    * committed batch.
    */
  private[graft] def ingestBatch(batch: DataFrame, b: IndexMaintenance.Batch,
      indexPath: String, sinkPath: String, idCol: String, vecCol: String,
      dim: Int, threshold: Double, numPlanes: Int, numTables: Int,
      ivfPath: Option[String],
      autoCompact: IndexMaintenance.AutoCompactPolicy =
        IndexMaintenance.AutoCompactPolicy()): Unit = {
    // one generation of the signature root serves the whole batch's reads
    val snap = IndexMaintenance.snapshot(batch.sparkSession, indexPath)
    // the banned-vector door first: retracted-and-banned content drops
    // before dedup, the sink, and every index — identity when no ban
    val admitted = filterBanned(batch, vecCol, snap)
    if (Drain.emptied(batch, admitted, sinkPath, b)) return
    val spark = admitted.sparkSession
    // the batch projects ONCE: the staged (id, vec) + full-width
    // signature frames feed the pair search AND the survivor append
    // (the document ingest's signed-frame rule — the old appendBatch
    // re-read params and re-projected survivors against every table).
    // Params are the index's, or the bootstrap width before the first
    // append pins them.
    val p =
      if (snap.params.isEmpty) IncrementalAnn.bootstrapParams(dim, numPlanes, numTables)
      else IncrementalAnn.paramsOf(snap)
    val (d, sigsFull) = IncrementalAnn.stagedSigs(admitted, idCol, vecCol, p)
    // exact-cosine-verified pairs of the batch vs the index and within
    // the batch; the greedy keep-list derivation is SHARED with the
    // document ingest (it only consumes (id_a, id_b) pairs)
    val kept = Drain.publish(admitted, sinkPath, b) {
      val pairs = IncrementalAnn.newBatchPairsFromSigs(d, sigsFull,
        snap, p, threshold).stagePersist()
      IncrementalDedup.keepListFromPairs(admitted, idCol, pairs)
    }
    Drain.appendAll(spark, b,
      Seq(indexPath -> IncrementalAnn.appendStaged(d, sigsFull,
        kept.select(col(idCol).as("id")), p)) ++
      ivfPath.map(_ -> IvfIndex.appendCells(kept, idCol, vecCol)))
    Drain.compactDue(spark, b.id, autoCompact,
      Seq((indexPath, "sigs", () => IndexMaintenance.compactAnnIndex(spark,
        indexPath, autoCompact.targetFileBytes))) ++
      ivfPath.map(ip => (ip, "cells",
        () => IvfIndex.compact(spark, ip, autoCompact.targetFileBytes))))
  }
}

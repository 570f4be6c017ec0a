package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{IncrementalAnn, IncrementalDedup, IndexMaintenance, IvfIndex, Staging}
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
  * Same construction and guarantees as the document ingest:
  *
  *   - checkpointed `foreachBatch` over a file source (a restart never
  *     re-reads acknowledged input);
  *   - the sink write is `overwrite` into a `batch=<id>` partition, so
  *     an at-least-once replay overwrites its own output;
  *   - the index appends are replay-SAFE: duplicated sig/vec/cell rows
  *     collapse in candidate generation and compaction, and the
  *     keep-list recomputed against the post-append index is identical
  *     (a batch vector never pairs with its own indexed copy — id
  *     equality is excluded — and batch-internal pairs resolve by the
  *     same min-id rule either way);
  *   - dedup semantics are GREEDY FIRST-FIT, like the document ingest:
  *     a new vector drops iff its exact cosine vs a previously KEPT
  *     vector (or a lower-id batch vector) reaches `threshold`.
  *
  * The first surviving batch BOOTSTRAPS the signature index at an
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
    * Idempotent under replay (the door is an anti-join); empty sets are
    * no-ops.
    */
  def banVectors(spark: SparkSession, indexPath: String, vecs: DataFrame,
      vecCol: String): Unit =
    IndexMaintenance.withWriterLease(spark, indexPath) {
      val fp = vecs
        .select(xxhash64(col(vecCol).cast("array<double>")).as("fp"))
        .distinct().coalesce(1).stagePersist()
      if (!fp.isEmpty)
        fp.write.mode("append").parquet(s"$indexPath/$BannedStore")
    }

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
      indexPath: String): DataFrame = {
    val spark = vecs.sparkSession
    val p = new Path(indexPath, BannedStore)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) vecs
    else {
      val banned = spark.read.parquet(p.toString)
      vecs.join(broadcast(banned),
        xxhash64(vecs(vecCol).cast("array<double>")) === banned("fp"),
        "left_anti")
    }
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
    val spark = shufflePartitions.fold(spark0) { n =>
      val s = spark0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      s
    }
    ivfPath.foreach(p => IvfIndex.readParams(spark, p)) // pre-built, loudly
    val schema = spark.read.parquet(srcDir).schema
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(srcDir)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch's staged projections die with it
        Staging.scoped(ingestBatch(batch, batchId, indexPath, sinkPath, idCol,
          vecCol, dim, threshold, numPlanes, numTables, ivfPath, autoCompact))
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    CorpusIngest.survivors(spark, sinkPath, schema)
  }

  /** One micro-batch: dedup against the signature index, publish
    * survivors idempotently, append them to every maintained store.
    * Stages into the caller's scope (the stream opens one per
    * micro-batch). Package-visible so the spec can replay a committed
    * batch.
    */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
      indexPath: String, sinkPath: String, idCol: String, vecCol: String,
      dim: Int, threshold: Double, numPlanes: Int, numTables: Int,
      ivfPath: Option[String],
      autoCompact: IndexMaintenance.AutoCompactPolicy =
        IndexMaintenance.AutoCompactPolicy()): Unit = {
    // the banned-vector door first: retracted-and-banned content drops
    // before dedup, the sink, and every index — identity when no ban
    val batchF = filterBannedVectors(batch, vecCol, indexPath)
    if (batchF.isEmpty) {
      // a door-emptied batch still overwrites its own sink partition (a
      // replay whose content was banned after the original sink write
      // must not leave the stale — now banned — partition published);
      // see CorpusIngest.ingestBatch for the full argument
      if (!batch.isEmpty)
        batch.limit(0).write.mode("overwrite")
          .parquet(s"$sinkPath/batch=$batchId")
      return
    }
    val batch0 = batchF
    val spark = batch0.sparkSession
    val fs = new Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(indexPath, "params")))
      IncrementalAnn.buildIndex(batch0.limit(0), idCol, vecCol, dim,
        indexPath, numPlanes = numPlanes, numTables = numTables)
    // the batch projects ONCE: the staged (id, vec) + full-width
    // signature frames feed the pair search AND the survivor append
    // (the document ingest's signed-frame rule — the old appendBatch
    // re-read params and re-projected survivors against every table)
    val p = IncrementalAnn.readParams(spark, indexPath)
    val (d, sigsFull) = IncrementalAnn.stagedSigs(batch0, idCol, vecCol, p)
    // exact-cosine-verified pairs of the batch vs the index and within
    // the batch; the greedy keep-list derivation is SHARED with the
    // document ingest (it only consumes (id_a, id_b) pairs). Scoped as in
    // the document ingest: these frames read the stores appended below.
    Staging.scoped {
      val pairs = IncrementalAnn.newBatchPairsFromSigs(d, sigsFull,
        indexPath, p, threshold).stagePersist()
      IncrementalDedup.keepListFromPairs(batch0, idCol, pairs)
        .write.mode("overwrite").parquet(s"$sinkPath/batch=$batchId")
    }
    // survivors re-read from the sink (the materialization point — the
    // document ingest's measured rule); schema pinned from the batch so
    // the read skips footer inference
    val kept = spark.read.schema(batch0.schema)
      .parquet(s"$sinkPath/batch=$batchId")
    if (!kept.isEmpty) {
      // LSH store and IVF store are disjoint roots under their own
      // leases — mutually order-free appends overlap (the §2.6 rule the
      // document ingest's suite appends use)
      graft.operators.IndexMaintenance.inParallelAll(Seq(
        () => IncrementalAnn.appendStaged(d, sigsFull,
          kept.select(col(idCol).as("id")), indexPath)) ++
        ivfPath.map(p2 => () =>
          IvfIndex.appendBatch(kept, idCol, vecCol, p2)))
    }
    // automatic maintenance, mirroring the document ingest: fold the
    // appended deltas when the policy fires, after this batch's appends
    // (lease-isolated, marker-swap crash-safe, replay re-compacts
    // idempotently)
    if (autoCompact.enabled) {
      def due(root: String, probeStore: String): Boolean = {
        val files = IndexMaintenance.storeDataFiles(spark, root, probeStore)
        files > 0 && (autoCompact.batchDue(batchId) ||
          (autoCompact.fileThreshold > 0 &&
            files > autoCompact.fileThreshold))
      }
      if (due(indexPath, "sigs"))
        IndexMaintenance.compactAnnIndex(spark, indexPath,
          autoCompact.targetFileBytes)
      ivfPath.foreach { p =>
        if (due(p, "cells"))
          IvfIndex.compact(spark, p, autoCompact.targetFileBytes)
      }
    }
  }
}

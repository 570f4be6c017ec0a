package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Staging.Stageable

/** Incremental near-duplicate detection against a PERSISTED fingerprint
  * index (an [[IndexMaintenance]] root) — the production shape of corpus hygiene at 100 TB: a daily
  * increment must dedup against everything already ingested without
  * re-reading (let alone re-shingling) the historical corpus.
  *
  * No reference analogue (the reference stops at relational navigation);
  * the construction is the standard MinHash/LSH one (Broder 1997) split
  * into a build phase and a query phase around a parquet-backed index:
  *
  *   - `bands/`    (id, band, band_sig)  — the LSH join side, 24 B/row ×
  *     `bands` rows per doc. Band keys are BIT-IDENTICAL to the in-memory
  *     [[Dedup.minhashCandidates]] construction (shared [[Dedup.bandedKeys]]
  *     helper), so an incremental run finds exactly the pairs the
  *     monolithic run would.
  *   - `shingles/` (id, shash, n_sh)     — 64-bit hashed shingles for the
  *     exact-Jaccard verify (8 B per shingle vs the raw strings; Jaccard
  *     over injective hashes equals Jaccard over the sets themselves, and
  *     a 64-bit space holds ~10⁹ distinct shingles per doc pair before
  *     collisions matter).
  *   - params (shingle_size, num_hashes, bands) in the root's manifest —
  *     pinned at build time; query and append batches MUST sign with the same
  *     parameters, so they read them from here rather than trusting the
  *     caller to repeat them.
  *
  * Scale shape: the index carries ~2 longs per shingle + `bands` small
  * rows per doc — a few percent of the text bytes. A delta batch shingles
  * ONLY itself, shuffle-joins its band keys against the index's band scan
  * (column-pruned to 24 B/row), and joins shingle rows back for verify
  * only for ids that actually collided. Corpus text is never touched; the
  * dominant per-increment cost is the linear band scan, which at 10¹⁰
  * docs × 4 bands is ~1 TB of 24-byte rows — vs ~100 TB of text for the
  * monolithic rerun. Appending survivors keeps the index current without
  * ever rebuilding it.
  */
object IncrementalDedup {

  final case class Params(shingleSize: Int, numHashes: Int, bands: Int)

  /** Build the index at `path` from scratch (replaces every store; starts
    * a new id space, so stale tombstones drop — they would silently
    * filter fresh rows out of the new index). Stores and params commit
    * together.
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, params: Params = Params(3, 16, 4)): Unit =
    IndexMaintenance.withWriterLease(docs.sparkSession, path) { tx =>
      tx.drop(IndexMaintenance.TombstoneStore)
      writeSigned(tx, signed(docs, idCol, textCol, params), params, replace = true)
      tx.params(paramsMap(params))
    }

  /** Append a new batch (typically the survivors of [[newBatchPairs]]) to
    * an existing index. Signing parameters come from the index itself.
    *
    * Recovery from a crashed append is re-running it: nothing it wrote
    * was committed. Re-running a COMMITTED append is also safe: duplicate
    * band rows dedup in candidate generation and duplicate shingle rows
    * dedup before the verify.
    */
  def appendBatch(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
    IndexMaintenance.withWriterLease(docs.sparkSession, path) { tx =>
      val p = paramsOf(tx.snapshot)
      writeSigned(tx, signed(docs, idCol, textCol, p), p, replace = false)
    }

  /** Append an already-[[signed]] frame — the streaming ingest's append
    * (it signs a batch once and reuses the staged frame for both the pair
    * search and this append). The first append to an empty root pins `p`
    * as the index's params.
    */
  private[graft] def appendSigned(base: DataFrame,
      p: Params): IndexMaintenance.Tx => Unit = { tx =>
    val path = tx.snapshot.root
    if (tx.params.isEmpty) tx.params(paramsMap(p))
    else require(paramsOf(tx.params, path) == p,
      s"the dedup index at $path was rebuilt with other params during the batch")
    writeSigned(tx, base, p, replace = false)
  }

  /** RETRACT indexed docs (takedown): tombstone their ids — queries stop
    * seeing them immediately ([[newBatchPairs]] drops tombstoned index
    * rows before candidate generation), and the next
    * [[IndexMaintenance.compactDedupIndex]] vacuums the rows physically.
    * Both stores here are per-doc rows with no cross-doc aggregate, so no
    * stat correction is needed (contrast
    * [[Retrieval.retractFromPostingsIndex]]). At-least-once: replaying an
    * interrupted retraction is safe (duplicate tombstones are ignored);
    * each id is retracted at most once and never re-appended.
    */
  def retract(spark: SparkSession, path: String, ids: DataFrame): Unit =
    IndexMaintenance.withWriterLease(spark, path)(IndexMaintenance.addTombstones(_, ids))

  private[graft] def paramsOf(snap: IndexMaintenance.Snapshot): Params =
    paramsOf(snap.params, snap.root)

  private def paramsOf(m: Map[String, Long], path: String): Params = {
    require(m.nonEmpty, s"no dedup index at $path (no committed build)")
    Params(m("shingle_size").toInt, m("num_hashes").toInt, m("bands").toInt)
  }

  private def paramsMap(p: Params): Map[String, Long] = Map(
    "shingle_size" -> p.shingleSize.toLong, "num_hashes" -> p.numHashes.toLong,
    "bands" -> p.bands.toLong)

  /** Write an already-signed frame's band keys + hashed shingles — lets
    * the streaming ingest append a batch's SURVIVORS from the staged
    * frame its dedup already built instead of re-shingling them. The two
    * stores write in parallel: the transaction commits both at once.
    */
  private def writeSigned(tx: IndexMaintenance.Tx, base: DataFrame, p: Params,
      replace: Boolean): Unit = {
    def put(store: String, df: DataFrame): () => Unit =
      () => if (replace) tx.replace(store, df) else tx.append(store, df)
    IndexMaintenance.inParallelAll(Seq(
      put("bands", Dedup.bandedKeys(base, p.numHashes, p.bands)),
      put("shingles", hashedShingles(base))))
  }

  private def hashedShingles(base: DataFrame): DataFrame =
    base.select(col("id"), transform(col("sh"), s => xxhash64(s)).as("shash"),
      col("n_sh"))

  /** The staged (id, sh, n_sh, sig) frame of a batch under the index's
    * parameters — the same construction [[Dedup.minhashPairsFrom]] stages.
    */
  private[graft] def signed(docs: DataFrame, idCol: String, textCol: String,
      p: Params): DataFrame =
    Dedup.shingleFrame(docs, idCol, textCol, p.shingleSize)
      .withColumn("sig", Dedup.minhashSignature(col("sh"), p.numHashes))
      .stagePersist()

  /** Near-duplicate pairs of a NEW batch against the indexed corpus AND
    * within the batch itself: (id_a, id_b, jaccard) with id_a < id_b,
    * exact-Jaccard-verified at `threshold` — exactly the pairs the
    * monolithic [[Dedup.minhashPairs]] over (corpus ∪ batch) would emit
    * restricted to pairs touching the batch. The batch's own ids must not
    * collide with indexed ids (enforce upstream; they share one id space).
    */
  def newBatchPairs(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, jaccardThreshold: Double = 0.5): DataFrame = {
    val snap = IndexMaintenance.snapshot(newDocs.sparkSession, path)
    val p = paramsOf(snap)
    newBatchPairsFrom(signed(newDocs, idCol, textCol, p), snap, p,
      jaccardThreshold)
  }

  /** [[newBatchPairs]] over a prebuilt [[signed]] frame — the streaming
    * ingest signs a batch once and reuses the staged frame for both the
    * pair search and the survivor append. A snapshot with no stores yet
    * (the ingest's first batch) pairs the batch with itself only.
    */
  private[graft] def newBatchPairsFrom(base: DataFrame,
      snap: IndexMaintenance.Snapshot, p: Params,
      jaccardThreshold: Double): DataFrame = {
    val deltaBanded = Dedup.bandedKeys(base, p.numHashes, p.bands).stagePersist()
    val deltaSh = hashedShingles(base).stagePersist()

    // The whole query side is the DELTA — small by the operator's premise
    // (a daily increment against a standing corpus) — so every corpus-side
    // frame is consumed by ONE broadcast hash join against it: the index
    // is scanned (column-pruned, 24 B/row for bands) but never SHUFFLED.
    // The first cut here unioned delta into the corpus side and
    // shuffle-joined the result; at the 500k-doc ladder tier that
    // exchanged the full band + shingle stores per increment and ran
    // SLOWER than the monolithic rebuild it exists to avoid.
    // Tombstoned (retracted) docs drop HERE, before candidate generation —
    // a broadcast anti-join on the same map-side pass; their shingle rows
    // are then never fetched (the verify joins by candidate id).
    val indexBanded =
      if (snap.has("bands")) snap.live("bands", "id") else deltaBanded.limit(0)
    val candsCross = indexBanded.alias("c")
      .join(broadcast(deltaBanded.alias("d")),
        col("d.band") === col("c.band") && col("d.band_sig") === col("c.band_sig") &&
          col("d.id") =!= col("c.id"))
      .select(least(col("d.id"), col("c.id")).as("id_a"),
        greatest(col("d.id"), col("c.id")).as("id_b"))
    val candsInner = deltaBanded.alias("a")
      .join(broadcast(deltaBanded.alias("b")),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cands = candsCross.unionByName(candsInner)
      .dropDuplicates("id_a", "id_b")
      .stagePersist()

    // fetch shingle rows for the candidate ids only: one map-side
    // broadcast semi-join pass over the store — the store itself never
    // shuffles; the verify then joins two candidate-sized frames
    val candIds = cands.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    // dropDuplicates(id): a re-run of a committed append duplicates
    // store rows; duplicate BAND rows are already harmless (candidates
    // dedup), and this keeps duplicate shingle rows from duplicating
    // verified pairs
    val needed = snap.readOpt("shingles").fold(deltaSh)(_.unionByName(deltaSh))
      .join(broadcast(candIds), Seq("id"), "left_semi")
      .dropDuplicates("id")
      .stagePersist()
    cands
      .join(needed.select(col("id").as("id_a"), col("shash").as("sh_a"),
        col("n_sh").as("na")), "id_a")
      .join(needed.select(col("id").as("id_b"), col("shash").as("sh_b"),
        col("n_sh").as("nb")), "id_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The batch's keep-list: new docs with no verified near-dup in the
    * indexed corpus and not preceded (lower id) by a near-dup within the
    * batch — the rows [[appendBatch]] should ingest.
    */
  def newKeepList(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, jaccardThreshold: Double = 0.5): DataFrame =
    keepListFromPairs(newDocs, idCol,
      newBatchPairs(newDocs, idCol, textCol, path, jaccardThreshold))

  /** The keep-list derivation over an already-computed pair set. */
  private[graft] def keepListFromPairs(newDocs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val newIds = newDocs.select(col(idCol).as("nid"))
    // a new doc drops when it pairs with ANY indexed doc (either side) or
    // with a lower-id batch doc; batch-internal clusters keep their min id
    val dropsAsB = pairs.join(newIds, pairs("id_b") === newIds("nid"), "left_semi")
      .select(col("id_b").as("drop_id"))
    val dropsAsA = pairs
      .join(newIds, pairs("id_a") === newIds("nid"), "left_semi")
      .join(newIds.select(col("nid").as("bid")), pairs("id_b") === col("bid"),
        "left_anti") // id_a (new, lower) only drops to an INDEXED id_b
      .select(col("id_a").as("drop_id"))
    newDocs.join(dropsAsB.unionByName(dropsAsA).distinct(),
      col(idCol) === col("drop_id"), "left_anti")
  }
}

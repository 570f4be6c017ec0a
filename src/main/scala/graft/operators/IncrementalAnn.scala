package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Staging.Stageable
import graft.functions.VectorFunctions

/** Incremental embedding near-duplicate detection against a PERSISTED
  * signature index — the vector sibling of [[IncrementalDedup]]: a new
  * batch of embeddings dedups against the already-ingested corpus
  * without re-projecting it against the hyperplanes (or re-reading its
  * raw vectors, except the candidate rows the verify actually needs).
  *
  * Index layout (an [[IndexMaintenance]] root):
  *   - `sigs/`   (id, tbl, sig) — the FULL-width random-hyperplane
  *     signature per (vector, table), computed once by the native
  *     [[graft.functions.HyperplaneSigs]] kernel. Banding at any plane
  *     count p ≤ full width is the low-p bits (the same shared-frame
  *     construction [[Similarity.cosineNearDupPairsChosen]] uses), so a
  *     later rebuild-free escalation only re-masks METADATA.
  *   - `vecs/`   (id, vec double array) — joined back candidate-wise for
  *     the exact-cosine verify (`cosine_sim`, bit-identical to the
  *     monolithic operator).
  *   - params (dim, num_tables, seed, full_planes, planes) in the
  *     manifest — `planes` is the banding width chosen at build time
  *     ([[Similarity.adaptivePlanes]] of the corpus size unless the
  *     caller pins one). A small increment does not materially shift
  *     bucket population, so the per-increment query reuses it; corpus
  *     growth big enough to need a wider banding is a `buildIndex` (the
  *     signatures themselves never change; only `planes` would).
  *
  * Scale shape: identical premise to [[IncrementalDedup]] — the delta is
  * small, so every corpus-side frame is consumed by one broadcast hash
  * join against it; the signature store scans (20 B/row, column-pruned)
  * but never shuffles, and raw corpus vectors are touched only for
  * candidate ids (one broadcast semi-join pass).
  */
object IncrementalAnn {

  final case class VecParams(dim: Int, numTables: Int, seed: Long,
      fullPlanes: Int, planes: Int)

  def buildIndex(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      path: String, numPlanes: Int = 0, numTables: Int = 16,
      seed: Long = 42L, targetBucket: Int = 128,
      maxEscalations: Int = 6): Unit =
      IndexMaintenance.withWriterLease(emb.sparkSession, path) { tx =>
    // rebuild = new id space; stale tombstones must not filter it
    tx.drop(IndexMaintenance.TombstoneStore)
    val c = staged(emb, idCol, vecCol)
    val n = c.count()
    var planes =
      if (numPlanes > 0) numPlanes
      else Similarity.adaptivePlanes(n, targetBucket)
    val fullPlanes = math.max(40, planes)
    require(fullPlanes <= 62, s"numPlanes must fit a long signature, got $numPlanes")
    val p0 = VecParams(dim, numTables, seed, fullPlanes, planes)
    val sigs = sigsOf(c, p0).stagePersist()
    // Same candidate-count governor as the monolithic operator, run at
    // BUILD time: expected-uniform sizing explodes on clustered corpora
    // (members agree with their centroid's sign on most planes, so
    // Σ n_b² runs several-fold past uniform) — without this the first
    // ladder run banded 180k clustered vectors at 11 planes and the
    // increment query drowned in candidates (18.7 s vs the rebuild's
    // 9.6 s). Probing the exact Σ n_b(n_b−1)/2 per width is a cheap
    // partial-agg pass over the staged frame; escalation is metadata
    // (low-bits masking), so only `planes` in the params row changes.
    if (numPlanes <= 0) {
      val budget = math.max(4.0e7, 64.0 * n.toDouble)
      var tries = 0
      while (tries < maxEscalations && planes < fullPlanes && {
        val row = sigs
          .select(col("tbl"), col("sig").bitwiseAND(lit((1L << planes) - 1)).as("bucket"))
          .groupBy("tbl", "bucket").count()
          .agg(sum(col("count").cast("double") * (col("count") - 1) / 2).as("c"))
          .first()
        !row.isNullAt(0) && row.getDouble(0) > budget
      }) {
        planes = math.min(fullPlanes, planes + 4)
        tries += 1
      }
    }
    // stores and params commit together: a reader never bands against
    // signatures of another width
    tx.replace("sigs", sigs)
    tx.replace("vecs", c)
    tx.params(paramsMap(VecParams(dim, numTables, seed, fullPlanes, planes)))
  }

  /** Append a new batch (typically the survivors of [[newBatchPairs]]).
    * Same durability contract as [[IncrementalDedup.appendBatch]]: a
    * crashed append commits nothing and recovers by re-running it
    * (duplicates of a re-run committed append are deduped on read).
    */
  def appendBatch(emb: DataFrame, idCol: String, vecCol: String,
      path: String): Unit =
    IndexMaintenance.withWriterLease(emb.sparkSession, path) { tx =>
      val c = staged(emb, idCol, vecCol)
      appendSigned(tx, sigsOf(c, paramsOf(tx.snapshot)), c)
    }

  /** RETRACT indexed vectors (takedown) — tombstone the ids; queries drop
    * them before candidate generation and the next
    * [[IndexMaintenance.compactAnnIndex]] vacuums both stores. Same
    * contract as [[IncrementalDedup.retract]].
    */
  def retract(spark: SparkSession, path: String, ids: DataFrame): Unit =
    IndexMaintenance.withWriterLease(spark, path)(IndexMaintenance.addTombstones(_, ids))

  private[graft] def paramsOf(snap: IndexMaintenance.Snapshot): VecParams = {
    val m = snap.params
    require(m.nonEmpty, s"no ANN index at ${snap.root} (no committed build)")
    VecParams(m("dim").toInt, m("num_tables").toInt, m("seed"),
      m("full_planes").toInt, m("planes").toInt)
  }

  private def paramsMap(p: VecParams): Map[String, Long] = Map(
    "dim" -> p.dim.toLong, "num_tables" -> p.numTables.toLong, "seed" -> p.seed,
    "full_planes" -> p.fullPlanes.toLong, "planes" -> p.planes.toLong)

  /** The params the streaming ingest pins on an empty root: an explicit
    * banding width (adaptive sizing needs a corpus to measure) at the
    * [[buildIndex]] defaults.
    */
  private[graft] def bootstrapParams(dim: Int, numPlanes: Int,
      numTables: Int): VecParams =
    VecParams(dim, numTables, 42L, math.max(40, numPlanes), numPlanes)

  private def staged(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    Staging.widen(emb)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .stagePersist()

  private def sigsOf(c: DataFrame, p: VecParams): DataFrame =
    c.select(col("id"),
      posexplode(Similarity.bucketTables(col("vec"), p.dim, p.fullPlanes,
        p.numTables, p.seed)).as(Seq("tbl", "sig")))

  /** Append signatures and vectors in parallel — the transaction commits
    * both at once.
    */
  private def appendSigned(tx: IndexMaintenance.Tx, sigs: DataFrame,
      c: DataFrame): Unit =
    IndexMaintenance.inParallelAll(Seq(
      () => tx.append("sigs", sigs), () => tx.append("vecs", c)))

  /** The staged (id, vec) frame + its FULL-width signature frame, both
    * persisted — the streaming ingest computes the batch's projections
    * ONCE and shares them between the pair search and the survivor
    * append (the document ingest's signed-frame rule): the old
    * pairs-then-appendBatch sequence re-read params and re-projected the
    * survivors against every hyperplane table.
    */
  private[graft] def stagedSigs(emb: DataFrame, idCol: String,
      vecCol: String, p: VecParams): (DataFrame, DataFrame) = {
    val d = staged(emb, idCol, vecCol)
    (d, sigsOf(d, p).stagePersist())
  }

  /** Append the KEPT subset of an already-staged batch from the shared
    * frames — no re-projection; the store rows are identical to what
    * [[appendBatch]] over the survivors would write (same deterministic
    * kernel over the same double-cast vectors).
    */
  private[graft] def appendStaged(d: DataFrame, sigsFull: DataFrame,
      keptIds: DataFrame, p: VecParams): IndexMaintenance.Tx => Unit = { tx =>
    if (tx.params.isEmpty) tx.params(paramsMap(p))
    else require(paramsOf(tx.snapshot) == p,
      s"the ANN index at ${tx.snapshot.root} was rebuilt with other params during the batch")
    appendSigned(tx, sigsFull.join(broadcast(keptIds), Seq("id"), "left_semi"),
      d.join(broadcast(keptIds), Seq("id"), "left_semi"))
  }

  /** Top-k nearest neighbors IN THE INDEXED CORPUS for a batch of query
    * vectors — the vector twin of [[Retrieval.topKFromIndex]]: where
    * [[Similarity.lshTopK]] re-projects the corpus frame's signatures on
    * every call (the dominant cost at corpus scale — measured as ~all of
    * the 500k-tier wall before its banding persist), this form reuses the
    * PERSISTED signatures: query cost is the query batch's own
    * projections + one column-pruned scan of the signature store + the
    * candidate-bound vector fetch and exact-cosine verify.
    *
    * Same construction as lshTopK at the index's banding width (shared
    * `bucketTables` kernel, same single-bit multi-probe, same tie rule),
    * so with `numPlanes` pinned at build time the output is ROW-FOR-ROW
    * equal to lshTopK over the indexed corpus (spec-pinned). Tombstoned
    * (retracted) vectors never appear. Output: (q_id, n_id, rank, cos);
    * a query id that collides with an indexed id skips itself, like the
    * in-memory form.
    */
  def topK(queries: DataFrame, idCol: String, vecCol: String, path: String,
      k: Int, probeBits: Int = 1): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(probeBits >= 0 && probeBits <= 1, s"probeBits ∈ {0, 1}, got $probeBits")
    val spark = queries.sparkSession
    val snap = IndexMaintenance.snapshot(spark, path)
    val p = paramsOf(snap)
    val q = staged(queries, idCol, vecCol)
    val mask = lit((1L << p.planes) - 1)
    val qBand0 = sigsOf(q, p)
      .select(col("id").as("q_id"), col("tbl"),
        col("sig").bitwiseAND(mask).as("bucket"))
    val qBand =
      if (probeBits == 0) qBand0
      else {
        // probe set = exact bucket + every single-bit flip (lshTopK's)
        val flips = lit(0L) +: (0 until p.planes).map(b => lit(1L << b))
        qBand0.select(col("q_id"), col("tbl"),
          explode(array(flips.map(m => col("bucket").bitwiseXOR(m)): _*))
            .as("bucket"))
      }
    val indexBand = snap.live("sigs", "id")
      .select(col("id").as("n_id"), col("tbl"),
        col("sig").bitwiseAND(mask).as("bucket"))
    val cand = indexBand.join(broadcast(qBand), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id")
      .dropDuplicates("q_id", "n_id")
      .stagePersist()
    val candIds = cand.select(col("n_id").as("id")).distinct()
    // candidate vectors only; dropDuplicates(id) absorbs replayed appends
    val nVecs = snap.read("vecs")
      .join(broadcast(candIds), Seq("id"), "left_semi")
      .dropDuplicates("id")
    val scored = cand
      .join(nVecs.select(col("id").as("n_id"), col("vec").as("n_vec"),
        Similarity.norm(col("vec")).as("n_norm")), "n_id")
      .join(broadcast(q.select(col("id").as("q_id"), col("vec").as("q_vec"),
        Similarity.norm(col("vec")).as("q_norm"))), "q_id")
      .withColumn("cos",
        VectorFunctions.vector_dot(col("q_vec"), col("n_vec"))
          / (col("q_norm") * col("n_norm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }

  /** Near-duplicate pairs of a NEW embedding batch against the indexed
    * corpus and within the batch: (id_a, id_b, cos) with id_a < id_b,
    * exact-cosine-verified at `threshold` — the pairs the monolithic
    * [[Similarity.cosineNearDupPairs]] over (corpus ∪ batch) at the
    * index's banding width would emit, restricted to pairs touching the
    * batch. Ids share one space; the batch must not reuse indexed ids.
    */
  def newBatchPairs(newEmb: DataFrame, idCol: String, vecCol: String,
      path: String, threshold: Double): DataFrame = {
    val spark = newEmb.sparkSession
    val snap = IndexMaintenance.snapshot(spark, path)
    val p = paramsOf(snap)
    val (d, sigsFull) = stagedSigs(newEmb, idCol, vecCol, p)
    newBatchPairsFromSigs(d, sigsFull, snap, p, threshold)
  }

  /** [[newBatchPairs]] over the shared staged frames of [[stagedSigs]] —
    * the streaming ingest's entry point (it reuses both frames for the
    * survivor append). The banding is a bit-mask over the PERSISTED
    * full-width signatures, so re-deriving it per consumer is a narrow
    * cached-scan projection, not a re-projection of the corpus. A
    * snapshot with no stores yet (the ingest's first batch) pairs the
    * batch with itself only.
    */
  private[graft] def newBatchPairsFromSigs(d: DataFrame, sigsFull: DataFrame,
      snap: IndexMaintenance.Snapshot, p: VecParams,
      threshold: Double): DataFrame = {
    val mask = lit((1L << p.planes) - 1)
    val deltaBand = sigsFull
      .select(col("id"), col("tbl"), col("sig").bitwiseAND(mask).as("bucket"))
    // retracted vectors drop before candidate generation (broadcast
    // anti-join, map-side); their raw vectors are then never fetched
    val indexBand =
      (if (snap.has("sigs")) snap.live("sigs", "id") else sigsFull.limit(0))
        .select(col("id"), col("tbl"), col("sig").bitwiseAND(mask).as("bucket"))

    val candsCross = indexBand.alias("c")
      .join(broadcast(deltaBand.alias("d")),
        col("d.tbl") === col("c.tbl") && col("d.bucket") === col("c.bucket") &&
          col("d.id") =!= col("c.id"))
      .select(least(col("d.id"), col("c.id")).as("id_a"),
        greatest(col("d.id"), col("c.id")).as("id_b"))
    val candsInner = deltaBand.alias("a")
      .join(broadcast(deltaBand.alias("b")),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cands = candsCross.unionByName(candsInner)
      .dropDuplicates("id_a", "id_b")
      .stagePersist()

    val candIds = cands.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    // dropDuplicates(id): keeps a re-run (crash-recovered) append from
    // duplicating verified pairs — same rationale as IncrementalDedup
    val needed = snap.readOpt("vecs").fold(d)(_.unionByName(d))
      .join(broadcast(candIds), Seq("id"), "left_semi")
      .dropDuplicates("id")
      .stagePersist()
    cands
      .join(needed.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(needed.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cos", VectorFunctions.cosine_sim(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}

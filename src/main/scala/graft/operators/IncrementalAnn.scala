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
  * Index layout (parquet):
  *   - `sigs/`   (id, tbl, sig) — the FULL-width random-hyperplane
  *     signature per (vector, table), computed once by the native
  *     [[graft.functions.HyperplaneSigs]] kernel. Banding at any plane
  *     count p ≤ full width is the low-p bits (the same shared-frame
  *     construction [[Similarity.cosineNearDupPairsChosen]] uses), so a
  *     later rebuild-free escalation only re-masks METADATA.
  *   - `vecs/`   (id, vec double array) — joined back candidate-wise for
  *     the exact-cosine verify (`cosine_sim`, bit-identical to the
  *     monolithic operator).
  *   - `params/` one row (dim, num_tables, seed, full_planes, planes) —
  *     `planes` is the banding width chosen at build time
  *     ([[Similarity.adaptivePlanes]] of the corpus size unless the
  *     caller pins one). A small increment does not materially shift
  *     bucket population, so the per-increment query reuses it; corpus
  *     growth big enough to need a wider banding is a `buildIndex` (or a
  *     params-row edit — the signatures themselves never change).
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
      IndexMaintenance.withWriterLease(emb.sparkSession, path) {
    val spark = emb.sparkSession
    import spark.implicits._
    VectorFunctions.ensureRegistered(spark)
    // rebuild = new generation; stale tombstones must not filter it
    IndexMaintenance.dropTombstones(spark, path)
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
    // params LAST (the discriminator-last rule): an in-place rebuild
    // retires the old params first, so a torn rebuild fails loudly at
    // readParams instead of banding new batches against old-width
    // signatures (or old params against new-width ones)
    val fsys = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(s"$path/params"), true)
    sigs.write.mode("overwrite").parquet(s"$path/sigs")
    c.write.mode("overwrite").parquet(s"$path/vecs")
    Seq((dim, numTables, seed, fullPlanes, planes))
      .toDF("dim", "num_tables", "seed", "full_planes", "planes")
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /** Append a new batch (typically the survivors of [[newBatchPairs]]).
    * Same durability contract as [[IncrementalDedup.appendBatch]]:
    * single-writer plain parquet; a crashed append recovers by re-running
    * it (duplicates are deduped on read).
    */
  def appendBatch(emb: DataFrame, idCol: String, vecCol: String,
      path: String): Unit =
    IndexMaintenance.withWriterLease(emb.sparkSession, path) {
      val p = readParams(emb.sparkSession, path)
      writeBatch(staged(emb, idCol, vecCol), path, p, "append")
    }

  /** RETRACT indexed vectors (takedown) — tombstone the ids; queries drop
    * them before candidate generation and the next
    * [[IndexMaintenance.compactAnnIndex]] vacuums both stores. Same
    * contract as [[IncrementalDedup.retract]].
    */
  def retract(spark: SparkSession, path: String, ids: DataFrame): Unit =
    IndexMaintenance.withWriterLease(spark, path) {
      IndexMaintenance.addTombstones(path, ids)
    }

  def readParams(spark: SparkSession, path: String): VecParams = {
    val r = spark.read.parquet(s"$path/params").head()
    VecParams(r.getAs[Int]("dim"), r.getAs[Int]("num_tables"),
      r.getAs[Long]("seed"), r.getAs[Int]("full_planes"), r.getAs[Int]("planes"))
  }

  private def staged(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    Staging.widen(emb)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .stagePersist()

  private def sigsOf(c: DataFrame, p: VecParams): DataFrame =
    c.select(col("id"),
      posexplode(Similarity.bucketTables(col("vec"), p.dim, p.fullPlanes,
        p.numTables, p.seed)).as(Seq("tbl", "sig")))

  private def writeBatch(c: DataFrame, path: String, p: VecParams,
      mode: String): Unit =
    // order-free pair (recovery = re-run; duplicates collapse on read) —
    // the writes overlap instead of summing job + commit latencies
    IndexMaintenance.inParallel(
      sigsOf(c, p).write.mode(mode).parquet(s"$path/sigs"),
      c.write.mode(mode).parquet(s"$path/vecs"))

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
      keptIds: DataFrame, path: String): Unit =
    IndexMaintenance.withWriterLease(d.sparkSession, path) {
      IndexMaintenance.inParallel(
        sigsFull.join(broadcast(keptIds), Seq("id"), "left_semi")
          .write.mode("append").parquet(s"$path/sigs"),
        d.join(broadcast(keptIds), Seq("id"), "left_semi")
          .write.mode("append").parquet(s"$path/vecs"))
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
    VectorFunctions.ensureRegistered(spark)
    val p = readParams(spark, path)
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
    val indexBand = IndexMaintenance.filterTombstoned(spark, path,
        spark.read.parquet(IndexMaintenance.storePath(spark, path, "sigs")),
        "id")
      .select(col("id").as("n_id"), col("tbl"),
        col("sig").bitwiseAND(mask).as("bucket"))
    val cand = indexBand.join(broadcast(qBand), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id")
      .dropDuplicates("q_id", "n_id")
      .stagePersist()
    val candIds = cand.select(col("n_id").as("id")).distinct()
    // candidate vectors only; dropDuplicates(id) absorbs replayed appends
    val nVecs = spark.read
      .parquet(IndexMaintenance.storePath(spark, path, "vecs"))
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
    VectorFunctions.ensureRegistered(spark)
    val p = readParams(spark, path)
    val (d, sigsFull) = stagedSigs(newEmb, idCol, vecCol, p)
    newBatchPairsFromSigs(d, sigsFull, path, p, threshold)
  }

  /** [[newBatchPairs]] over the shared staged frames of [[stagedSigs]] —
    * the streaming ingest's entry point (it reuses both frames for the
    * survivor append). The banding is a bit-mask over the PERSISTED
    * full-width signatures, so re-deriving it per consumer is a narrow
    * cached-scan projection, not a re-projection of the corpus.
    */
  private[graft] def newBatchPairsFromSigs(d: DataFrame, sigsFull: DataFrame,
      path: String, p: VecParams, threshold: Double): DataFrame = {
    val spark = d.sparkSession
    val mask = lit((1L << p.planes) - 1)
    val deltaBand = sigsFull
      .select(col("id"), col("tbl"), col("sig").bitwiseAND(mask).as("bucket"))
    // retracted vectors drop before candidate generation (broadcast
    // anti-join, map-side); their raw vectors are then never fetched
    val indexBand = IndexMaintenance.filterTombstoned(spark, path,
        spark.read.parquet(IndexMaintenance.storePath(spark, path, "sigs")),
        "id")
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
    val needed = spark.read
      .parquet(IndexMaintenance.storePath(spark, path, "vecs"))
      .unionByName(d)
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

package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Corpus partitioning by nearest centroid — the ASSIGNMENT step of
  * Lloyd's k-means as a first-class, oracle-checkable operator. A
  * training-data pipeline uses this to bucket a corpus by topic for
  * mixture design (per-cluster sampling rates), to stratify quality
  * audits, and as the coarse quantizer every IVF-family index is built
  * on (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
  * Search" — the IVF coarse assignment; [[Similarity.ivfTopK]] and the
  * SemDeDup path in [[Similarity.semanticNearDupPairs]] run the SAME
  * kernel with trained centroids).
  *
  * Semantics: each vector goes to the centroid with the HIGHEST dot
  * product, ties to the lower cell index — exactly the
  * [[graft.functions.CentroidTopCells]] contract, so the assignment here
  * is bit-identical to what the ANN/semantic-dedup family computes
  * internally, and the DuckDB oracle replays it with the proven
  * sequential-fold construction (the q_sim_knn twin). Centroids here are
  * CALLER-SUPPLIED (deterministic: the k lowest-id corpus vectors) rather
  * than Lloyd-trained — training is iterative driver-coordinated work
  * already covered by [[Similarity.trainCentroids]]'s specs; the
  * fixed-centroid form is the piece with exact cross-engine semantics
  * worth a full-hash oracle.
  *
  * Determinism: per-member dot scores quantize to integer 1e-9 units with
  * `floor` (the [[LanguageModel]] rule) before summing, so the
  * per-cluster mean is independent of partition/merge order.
  *
  * Scale shape (100 TB of vectors, k clusters):
  *   - Assignment is ONE map-side native-kernel pass (the centroid matrix
  *     rides the closure as a reference object — no join, no shuffle, and
  *     the kernel stays inside whole-stage codegen).
  *   - The per-member score join is against a k-row broadcast frame.
  *   - The only exchange is the final k-group partial aggregate —
  *     map-side combine reduces it to k rows per task.
  */
object Clustering {

  /** Cluster profile after assigning every vector to its nearest of the
    * `k` lowest-id centroid vectors. Output, ordered by cluster:
    * (cluster = centroid's id, n_members, mean_dot, min_member,
    * max_member).
    */
  def assignProfile(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val spark = emb.sparkSession
    val v = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    // bounded driver fetch: exactly k centroid rows (the deterministic
    // lowest-id rule — any caller-chosen centroid set works the same way)
    val centRows: Array[Row] = v.orderBy(col("id")).limit(k).collect()
    require(centRows.nonEmpty, "assignProfile needs a non-empty corpus")
    val cents: Array[Array[Double]] = centRows.map(
      _.getSeq[Double](1).toArray)
    val centIds: Array[Long] = centRows.map(_.getLong(0))
    // cell -> (centroid id, centroid vector), a k-row broadcast side
    val centFrame = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(
        centIds.zipWithIndex.map { case (cid, i) =>
          Row(i + 1, cid, cents(i).toSeq) }.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cvec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = false)))))
    val assigned = v.withColumn("cell",
        element_at(Similarity.topCellsCol(cents, r = 1)(col("vec")), 1))
      .join(centFrame, "cell")
      .withColumn("qd",
        floor(Similarity.dot(col("vec"), col("cvec")) * lit(1e9d))
          .cast("long"))
    assigned.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        (sum(col("qd")).cast("double") / count(lit(1)).cast("double") /
          lit(1e9d)).as("mean_dot"),
        min(col("id")).as("min_member"),
        max(col("id")).as("max_member"))
      .orderBy("cluster")
  }

  /** Per-vector nearest-centroid assignment with CALLER-SUPPLIED
    * centroids — the raw (id, cell) frame [[assignProfile]] aggregates,
    * for pipelines that carry the cluster id downstream (per-cluster
    * sampling rates, stratified splits). `cell` is the 1-based index into
    * `centroids`, ties to the lower index (the kernel contract). One
    * map-side kernel pass; no shuffle.
    */
  def assignments(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty, "assignments needs at least one centroid")
    emb.select(col(idCol).as("id"),
      element_at(Similarity.topCellsCol(centroids, r = 1)(
        col(vecCol).cast("array<double>")), 1).as("cell"))
  }

  /** The staged normalized (n_id, n_vec) frame every training entry point
    * shares. It belongs to the caller's [[Staging.scoped]] scope like
    * every other staging site, so a query's warm and measured runs share
    * it and the scope's exit releases it.
    */
  private def stagedVectors(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    import graft.operators.Staging.Stageable
    Staging.widen(emb)
      .select(col(idCol).cast("long").as("n_id"),
        col(vecCol).cast("array<double>").as("n_vec"))
      .stagePersist()
  }

  /** TRAIN a spherical-k-means quantizer and return the centroid MATRIX —
    * the public face of [[Similarity.trainCentroids]] (deterministic
    * distance-weighted seeding ≤256 cells / hash-sampled above,
    * decimal-exact Lloyd refinement, unit-sphere normalization). This is
    * the piece the mixture-design loop needs out in the open: train a
    * quantizer once, then bucket any corpus with [[assignments]], audit
    * with [[assignProfile]]-style aggregates, and stratify sampling on
    * the cluster id ([[Sampling.mixtureSample]] over the cell column —
    * the data-card "topic balance" step). Row index i is cell i+1, the
    * same 1-based cell ids [[assignments]] emits.
    *
    * Scale shape: the seed pool collects once (hash-bounded), each Lloyd
    * iteration is one distributed kernel-assignment pass + a ≤k-row means
    * collect — the documented driver-coordinated regime; the matrix
    * re-enters downstream plans as a kernel reference object, never a
    * join side.
    */
  def trainCentroidMatrix(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Array[Array[Double]] = {
    require(k >= 1, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    Similarity.trainCentroids(stagedVectors(emb, idCol, vecCol), k, iters)
  }

  /** The trained quantizer as a (cell, centroid) FRAME — for persisting a
    * trained codebook next to the index stores, joining cluster metadata,
    * or handing the matrix across a process boundary as data. `cell` is
    * 1-based, matching [[assignments]]; `centroid` is the unit-normalized
    * vector. k rows — driver-scale by construction.
    */
  def trainedCentroids(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val m = trainCentroidMatrix(emb, idCol, vecCol, k, iters)
    val spark = emb.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        m.zipWithIndex.map { case (v, i) => Row(i + 1, v.toSeq) }.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("centroid",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = false))))
  }

  /** Persist a trained codebook — the quantizer lifecycle's missing hop:
    * train ONCE (an iterative distributed job), store the k-row
    * (cell, centroid) frame as the parquet directory `path`, and have
    * every later session [[loadCentroidMatrix]] + [[assignments]] without
    * retraining. A codebook is a one-shot artifact (k rows, written
    * whole), so this is a plain overwrite-in-one-job write, not the
    * merge-on-read lifecycle the growing stores need; re-training writes
    * a new codebook atomically the same way.
    */
  def saveCentroids(centroids: DataFrame, path: String): Unit =
    codebook(centroids).write.mode("overwrite").parquet(path)

  /** The stored form of a codebook: one file of (int cell, double-array
    * centroid) rows.
    */
  private[graft] def codebook(centroids: DataFrame): DataFrame =
    centroids.select(col("cell").cast("int").as("cell"),
        col("centroid").cast("array<double>").as("centroid"))
      .coalesce(1)

  /** Load a codebook saved at `path` back to the matrix form
    * [[assignments]] takes — row i is cell i+1, exactly as trained.
    */
  def loadCentroidMatrix(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Double]] =
    centroidMatrix(spark.read.parquet(path), path)

  /** A codebook frame as a matrix. Fails loudly on a codebook whose cells
    * aren't the contiguous 1..k the trainer wrote (a partial copy or a
    * concatenation of two codebooks).
    */
  private[graft] def centroidMatrix(codebook: DataFrame,
      where: String): Array[Array[Double]] = {
    val rows = codebook
      .select(col("cell").cast("int"), col("centroid").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(rows.nonEmpty, s"empty codebook at $where")
    require(rows.map(_._1).toSeq == (1 to rows.length),
      s"codebook at $where has non-contiguous cells ${rows.map(_._1).toSeq} " +
        "— not a trainer-written codebook")
    rows.map(_._2)
  }

  /** Full spherical-k-means TRAINING (Lloyd), exposed as a one-row
    * gated summary — the public face of the quantizer training every
    * IVF/SemDeDup path runs internally ([[Similarity.trainCentroids]]:
    * deterministic distance-weighted seeding, decimal-exact normalized
    * mean updates, the CentroidTopCells assignment kernel).
    *
    * The gate rides the Lloyd monotonicity theorem: with centroids
    * constrained to the unit sphere, both half-steps maximize the SAME
    * objective O = Σ_v dot(v, c(v)) (assignment picks the argmax-dot
    * cell; the normalized cluster mean is argmax_{|c|=1} Σ dot), so O is
    * non-decreasing per iteration. `objective_improved` checks
    * O_quant(trained) ≥ O_quant(seeds) − n (one 1e-9 quantization unit of
    * slack per vector); `partition_ok` checks every vector landed in
    * exactly one cell; `clusters_ok` bounds the non-empty cell count by
    * [1, k]. Booleans ride to the oracle as literal TRUE — any violation
    * flips a value and breaks the hash (the q_dist_approx gate pattern;
    * centroid coordinates themselves are engine-specific iterative floats
    * no SQL engine replays, hence gated, not full-hash).
    *
    * Scale shape: training is the established driver-coordinated regime —
    * each iteration is one distributed assignment pass + one ≤k-row
    * means collect; the two objective evaluations are one map-side kernel
    * pass + k-row broadcast + one-row aggregate each. The seed matrix is
    * computed ONCE and threaded into the Lloyd refinement (seeding is
    * deterministic, so the old second seeding pass was k identical
    * distributed rounds of pure waste), and `n_vectors` comes from the
    * seed objective pass's own count — no separate count() job, and the
    * oracle pins it against the true corpus count, which makes the
    * partition invariant EXTERNALLY checked rather than self-referential.
    */
  def kmeansSummary(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(iters >= 1, s"iters must be positive, got $iters")
    val spark = emb.sparkSession
    val c = stagedVectors(emb, idCol, vecCol)
    val seeds = Similarity.trainCentroids(c, k, iters = 0)
    val trained = Similarity.trainCentroids(c, k, iters, seeds = seeds)
    // quantized objective + occupancy for one centroid set: one kernel
    // assignment pass, k-row broadcast for the dot, one-row aggregate
    def profile(cents: Array[Array[Double]]): (Long, Long, Long) = {
      val centFrame = broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(
          cents.zipWithIndex.map { case (cv, i) => Row(i + 1, cv.toSeq) }
            .toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("cvec",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType), nullable = false)))))
      val r = c.withColumn("cell",
          element_at(Similarity.topCellsCol(cents, r = 1)(col("n_vec")), 1))
        .join(centFrame, "cell")
        .agg(sum(floor(Similarity.dot(col("n_vec"), col("cvec")) * lit(1e9d))
            .cast("long")).as("su"),
          count(lit(1)).as("n"),
          countDistinct(col("cell")).as("cells"))
        .collect()(0)
      (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (seedQ, nVectors, _) = profile(seeds)
    val (trainQ, nAssigned, cellsUsed) = profile(trained)
    import spark.implicits._
    Seq((nVectors,
      nAssigned == nVectors,
      cellsUsed >= 1L && cellsUsed <= k.toLong,
      trainQ >= seedQ - nVectors))
      .toDF("n_vectors", "partition_ok", "clusters_ok", "objective_improved")
  }
}

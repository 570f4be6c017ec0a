package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Staging.Stageable
import graft.functions.VectorFunctions

/** Persisted IVF-cell ANN index — the high-recall complement of the LSH
  * signature store ([[IncrementalAnn]]): cell ASSIGNMENTS persist next to
  * the trained codebook ([[Clustering.saveCentroids]] layout), partitioned
  * by cell, so a top-k probe reads only its `nprobe` cells' rows — the
  * standard inverted-file ANN route (the [[Similarity.ivfTopK]] semantics
  * with the corpus-side training and assignment amortized into the build
  * instead of re-paid per call). Where hyperplane buckets can skew on
  * clustered corpora, trained cells adapt to the data distribution; the
  * trade is that the codebook is FROZEN at build time — appends assign
  * against it (the quantizer-lifecycle contract: retrain = rebuild).
  *
  * Stores, the established incremental-index lifecycle (writer lease,
  * merge-on-read appends, crash-safe compaction swap, tombstone
  * retraction, readers that resolve and never write):
  *
  *   - `cells/`    (cell, id, vec) — one row per (vector, assigned cell),
  *     `assignReplicas`-redundant (each vector enters its top-R cells —
  *     the IVF recall knob; storage ×R, probe work unchanged), written
  *     cell-clustered + (cell, id)-sorted so a probe's `In(cell, …)`
  *     filter prunes at the parquet row-group level. Vectors are
  *     DENORMALIZED onto the assignment rows (the postings-store dl
  *     trade): a probe re-ranks candidates without joining a per-id
  *     vector side table — the per-row cost is ×R vector storage, the
  *     alternative an O(N) vecs-store scan per probe.
  *   - `codebook/` the k-row (cell, centroid) frame, loadable by
  *     [[Clustering.loadCentroidMatrix]] — shared with the public
  *     quantizer surface, so cluster metadata joins and stratified quotas
  *     run off the same artifact the index probes with.
  *   - `iparams/`  one row (dim, nlist, iters, replicas), written LAST —
  *     the build-completeness discriminator (the gparams rule): a torn
  *     build leaves no iparams and every reader fails loudly instead of
  *     probing a half-written store.
  *
  * Query cost ([[topK]]): the query batch's own cell assignment (map-side
  * against the ≤nlist-row codebook, the CentroidTopCells kernel) + the
  * probed cells' rows (pushed `In` — ~nprobe/nlist of the store) + an
  * exact-cosine re-rank over candidates. Independent of corpus size at
  * fixed cell occupancy; recall grows with nprobe and assignReplicas.
  *
  * ROUTE EQUALITY: with the same corpus, nlist, iters, and replicas, the
  * deterministic trainer ([[Similarity.trainCentroids]] — content-hash
  * seeding, decimal-exact Lloyd) produces the same codebook as
  * [[Similarity.ivfTopK]] trains inline, so [[topK]] here is ROW-FOR-ROW
  * equal to ivfTopK over the indexed corpus at the same nprobe
  * (spec-pinned). Replay posture: assignment rows are unique per
  * (cell, id) by construction (deterministic multi-assignment), so a
  * crash-replayed append duplicates rows exactly — queries collapse them
  * (dropDuplicates on the candidate pair) and compaction drops them
  * physically. Retraction: tombstones only (per-id rows, no cross-row
  * aggregate); vacuum rides [[compact]].
  */
object IvfIndex {

  final case class Params(dim: Int, nlist: Int, iters: Int, replicas: Int)

  private def staged(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    Staging.widen(emb)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .stagePersist()

  private def assignments(c: DataFrame, centroids: Array[Array[Double]],
      replicas: Int): DataFrame =
    c.select(col("id"), col("vec"),
        explode(Similarity.topCellsCol(centroids, replicas)(col("vec")))
          .as("cell"))
      .select(col("cell"), col("id"), col("vec"))
      .repartition(col("cell"))
      .sortWithinPartitions("cell", "id")

  /** Build at `path` (overwrites; a rebuild starts a new generation, so
    * stale tombstones drop). Trains the codebook on the build corpus —
    * the one distributed-iterative job of the lifecycle — then writes
    * assignments, codebook, and (last) the params discriminator.
    */
  def buildIndex(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      path: String, nlist: Int = 16, iters: Int = 2,
      assignReplicas: Int = 3): Unit = {
    require(nlist >= 1 && iters >= 0 && assignReplicas >= 1,
      s"bad IVF params: nlist=$nlist iters=$iters replicas=$assignReplicas")
    val spark = emb.sparkSession
    import spark.implicits._
    VectorFunctions.ensureRegistered(spark)
    IndexMaintenance.withWriterLease(spark, path) {
      IndexMaintenance.dropTombstones(spark, path)
      // an in-place REBUILD retires the old discriminator first: a crash
      // after the cells overwrite but before the new codebook/iparams
      // land must leave the index LOUDLY torn (iparams missing), never
      // the old codebook + iparams validating over assignments made
      // under a different codebook (probes would silently read the
      // wrong cells)
      val fsys = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fsys.delete(new org.apache.hadoop.fs.Path(s"$path/iparams"), true)
      val c = staged(emb, idCol, vecCol)
      val centroids = Similarity.trainCentroids(
        c.select(col("id").as("n_id"), col("vec").as("n_vec")), nlist, iters)
      require(centroids.nonEmpty, "cannot train an IVF codebook on an empty corpus")
      assignments(c, centroids, assignReplicas)
        .write.mode("overwrite").parquet(s"$path/cells")
      Clustering.saveCentroids(
        spark.createDataFrame(
          spark.sparkContext.parallelize(
            centroids.zipWithIndex.map { case (v, i) =>
              org.apache.spark.sql.Row(i + 1, v.toSeq)
            }.toSeq, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("cell",
              org.apache.spark.sql.types.IntegerType, nullable = false),
            org.apache.spark.sql.types.StructField("centroid",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.DoubleType), nullable = false)))),
        path)
      // params LAST: the completeness discriminator — readers fail loudly
      // on a torn build instead of probing half a store
      Seq((dim, nlist, iters, assignReplicas))
        .toDF("dim", "nlist", "iters", "replicas")
        .write.mode("overwrite").parquet(s"$path/iparams")
    }
  }

  def readParams(spark: SparkSession, path: String): Params = {
    val p = new org.apache.hadoop.fs.Path(s"$path/iparams")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.exists(p),
      s"no complete IVF index at $path (iparams missing — torn or absent " +
        "build; re-run buildIndex)")
    val r = spark.read.parquet(p.toString).head()
    Params(r.getAs[Int]("dim"), r.getAs[Int]("nlist"),
      r.getAs[Int]("iters"), r.getAs[Int]("replicas"))
  }

  /** Append a batch (disjoint ids — the standard contract), assigned
    * under the PERSISTED codebook: the frozen-quantizer posture — cost is
    * the batch's own kernel assignment, never a retrain or corpus touch.
    */
  def appendBatch(emb: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = emb.sparkSession
    VectorFunctions.ensureRegistered(spark)
    IndexMaintenance.withWriterLease(spark, path) {
      val p = readParams(spark, path)
      val centroids = Clustering.loadCentroidMatrix(spark, path)
      assignments(staged(emb, idCol, vecCol), centroids, p.replicas)
        .write.mode("append").parquet(s"$path/cells")
    }
  }

  /** RETRACT indexed vectors (takedown): tombstone the ids — probes drop
    * them before candidate re-rank; [[compact]] vacuums the rows. Same
    * at-least-once contract as [[IncrementalDedup.retract]].
    */
  def retract(spark: SparkSession, path: String, ids: DataFrame): Unit =
    IndexMaintenance.withWriterLease(spark, path) {
      IndexMaintenance.addTombstones(path, ids)
    }

  /** Fold the cells store: replayed duplicates and tombstoned ids leave
    * physically, rewrite cell-clustered at size-derived file counts,
    * retire tombstones after the swap commits. Probes are bit-identical
    * before and after (spec-pinned).
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Unit =
    IndexMaintenance.withWriterLease(spark, path) {
      val nFiles = IndexMaintenance.targetFileCount(spark, path, "cells",
        targetFileBytes)
      val folded = IndexMaintenance.filterTombstoned(spark, path,
          spark.read.parquet(s"$path/cells"), "id")
        .dropDuplicates("cell", "id")
        .repartition(nFiles, col("cell"))
        .sortWithinPartitions("cell", "id")
      IndexMaintenance.swapCompacted(spark, path, "cells") { staged =>
        folded.write.mode("overwrite").parquet(staged)
      }
      IndexMaintenance.dropTombstones(spark, path)
    }

  /** Top-k neighbors IN THE INDEXED CORPUS for a batch of query vectors —
    * [[Similarity.ivfTopK]]'s exact construction (same assignment kernel,
    * same exact-cosine re-rank, same tie rule) answered from the store:
    * queries assign to their `nprobe` nearest cells map-side, the cells
    * store scans ONLY the probed cells (pushed `In` over the
    * cell-clustered layout), candidates re-rank by exact cosine. Output
    * (q_id, n_id, rank, cos); a query id colliding with an indexed id
    * skips itself, like the in-memory form. Tombstoned ids never appear.
    */
  def topK(queries: DataFrame, idCol: String, vecCol: String, path: String,
      k: Int, nprobe: Int = 4): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(nprobe >= 1, s"nprobe must be positive, got $nprobe")
    val spark = queries.sparkSession
    VectorFunctions.ensureRegistered(spark)
    readParams(spark, path) // fails loudly on a torn build
    val centroids = Clustering.loadCentroidMatrix(spark, path)
    val q = queries
      .select(col(idCol).as("q_id"), col(vecCol).cast("array<double>").as("q_vec"))
      .stagePersist()
    val qProbes = q.select(col("q_id"),
      explode(Similarity.topCellsCol(centroids, nprobe)(col("q_vec")))
        .as("cell"))
      .stagePersist()
    // the probed cell set is ≤ nlist values by construction — a literal
    // In list is what pushes the filter into the parquet scan
    val probed = qProbes.select("cell").distinct().collect().map(_.getInt(0))
    val cand = IndexMaintenance.filterTombstoned(spark, path,
        spark.read.parquet(IndexMaintenance.storePath(spark, path, "cells"))
          .filter(col("cell").isin(probed.toIndexedSeq: _*)), "id")
      .select(col("cell"), col("id").as("n_id"), col("vec").as("n_vec"))
      .withColumn("n_norm", Similarity.norm(col("n_vec")))
      .join(broadcast(qProbes), "cell")
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id") // replicas/replays meet several probes once
      .join(broadcast(q.withColumn("q_norm", Similarity.norm(col("q_vec")))),
        "q_id")
      .withColumn("cos", VectorFunctions.vector_dot(col("q_vec"), col("n_vec"))
        / (col("q_norm") * col("n_norm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Staging.Stageable
import graft.functions.VectorFunctions

/** Persisted IVF-cell ANN index — the high-recall complement of the LSH
  * signature store ([[IncrementalAnn]]): cell ASSIGNMENTS persist next to
  * the trained codebook (the [[Clustering.saveCentroids]] rows), partitioned
  * by cell, so a top-k probe reads only its `nprobe` cells' rows — the
  * standard inverted-file ANN route (the [[Similarity.ivfTopK]] semantics
  * with the corpus-side training and assignment amortized into the build
  * instead of re-paid per call). Where hyperplane buckets can skew on
  * clustered corpora, trained cells adapt to the data distribution; the
  * trade is that the codebook is FROZEN at build time — appends assign
  * against it (the quantizer-lifecycle contract: retrain = rebuild).
  *
  * Stores of one [[IndexMaintenance]] root (writer lease, merge-on-read
  * appends, compaction, tombstone retraction, readers on one snapshot):
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
  *   - `codebook` the k-row (cell, centroid) frame, the rows
  *     [[Clustering.saveCentroids]] writes — shared with the public
  *     quantizer surface, so cluster metadata joins and stratified quotas
  *     run off the same artifact the index probes with.
  *   - params (dim, nlist, iters, replicas) in the manifest, committed
  *     with the stores: a reader sees a whole build or none.
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

  /** Build at `path` (replaces the stores; a rebuild starts a new id
    * space, so stale tombstones drop). Trains the codebook on the build
    * corpus — the one distributed-iterative job of the lifecycle — then
    * writes assignments and codebook; params commit with them.
    */
  def buildIndex(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      path: String, nlist: Int = 16, iters: Int = 2,
      assignReplicas: Int = 3): Unit = {
    require(nlist >= 1 && iters >= 0 && assignReplicas >= 1,
      s"bad IVF params: nlist=$nlist iters=$iters replicas=$assignReplicas")
    val spark = emb.sparkSession
    IndexMaintenance.withWriterLease(spark, path) { tx =>
      tx.drop(IndexMaintenance.TombstoneStore)
      val c = staged(emb, idCol, vecCol)
      val centroids = Similarity.trainCentroids(
        c.select(col("id").as("n_id"), col("vec").as("n_vec")), nlist, iters)
      require(centroids.nonEmpty, "cannot train an IVF codebook on an empty corpus")
      tx.replace("cells", assignments(c, centroids, assignReplicas))
      tx.replace("codebook", Clustering.codebook(
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
                org.apache.spark.sql.types.DoubleType), nullable = false))))))
      tx.params(Map("dim" -> dim.toLong, "nlist" -> nlist.toLong,
        "iters" -> iters.toLong, "replicas" -> assignReplicas.toLong))
    }
  }

  def readParams(spark: SparkSession, path: String): Params =
    paramsOf(IndexMaintenance.snapshot(spark, path))

  private def paramsOf(snap: IndexMaintenance.Snapshot): Params = {
    val m = snap.params
    require(m.nonEmpty,
      s"no complete IVF index at ${snap.root} (no committed build; run buildIndex)")
    Params(m("dim").toInt, m("nlist").toInt, m("iters").toInt, m("replicas").toInt)
  }

  private def centroidsOf(snap: IndexMaintenance.Snapshot): Array[Array[Double]] =
    Clustering.centroidMatrix(snap.read("codebook"), snap.root)

  /** Append a batch (disjoint ids — the standard contract), assigned
    * under the PERSISTED codebook: the frozen-quantizer posture — cost is
    * the batch's own kernel assignment, never a retrain or corpus touch.
    */
  def appendBatch(emb: DataFrame, idCol: String, vecCol: String,
      path: String): Unit =
    IndexMaintenance.withWriterLease(emb.sparkSession, path)(
      appendCells(emb, idCol, vecCol))

  private[graft] def appendCells(emb: DataFrame, idCol: String,
      vecCol: String): IndexMaintenance.Tx => Unit = { tx =>
    tx.append("cells", assignments(staged(emb, idCol, vecCol),
      centroidsOf(tx.snapshot), paramsOf(tx.snapshot).replicas))
  }

  /** RETRACT indexed vectors (takedown): tombstone the ids — probes drop
    * them before candidate re-rank; [[compact]] vacuums the rows. Same
    * at-least-once contract as [[IncrementalDedup.retract]].
    */
  def retract(spark: SparkSession, path: String, ids: DataFrame): Unit =
    IndexMaintenance.withWriterLease(spark, path)(IndexMaintenance.addTombstones(_, ids))

  /** Fold the cells store: replayed duplicates and tombstoned ids leave
    * physically, rewrite cell-clustered at size-derived file counts,
    * retire tombstones in the same commit. Probes are bit-identical
    * before and after (spec-pinned).
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Unit =
    IndexMaintenance.withWriterLease(spark, path) { tx =>
      tx.replace("cells", tx.snapshot.live("cells", "id")
        .dropDuplicates("cell", "id")
        .repartition(tx.snapshot.targetFiles("cells", targetFileBytes), col("cell"))
        .sortWithinPartitions("cell", "id"))
      tx.drop(IndexMaintenance.TombstoneStore)
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
    val snap = IndexMaintenance.snapshot(spark, path)
    paramsOf(snap) // fails loudly before any build committed
    val centroids = centroidsOf(snap)
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
    val cand = snap.dropTombstoned(
        snap.read("cells").filter(col("cell").isin(probed.toIndexedSeq: _*)), "id")
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

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{IndexMaintenance, Staging}

/** The one drain both ingests ([[CorpusIngest]], [[EmbeddingIngest]])
  * run: Structured Streaming's `foreachBatch` over a checkpointed file
  * source, with exactly-once output by the batch-id idempotence argument
  * applied at each commit point:
  *
  *   - the CHECKPOINT records which source files each committed batch
  *     consumed — a restart never re-reads acknowledged input, and new
  *     arrivals drain as fresh batches;
  *   - the sink write is `overwrite` into a `batch=<id>` partition, so a
  *     replayed batch (crash after the sink write but before the
  *     checkpoint commit — foreachBatch is at-least-once) overwrites its
  *     own output instead of duplicating it;
  *   - a sink belongs to ONE streaming query, recorded in its hidden
  *     `_query` marker by the first write: batch ids restart at 0 in a new
  *     query, so a stream from a fresh checkpoint would overwrite an
  *     earlier stream's `batch=<id>` partitions while every index keeps
  *     their rows; a write from another query fails loudly instead;
  *   - every index root the batch appends to is guarded by its manifest's
  *     batch watermark under the batch's identity (the streaming query's
  *     persistent id, the batch id): a replayed append is skipped at the
  *     root it already landed in ([[IndexMaintenance.withWriterLease]]).
  */
private[streaming] object Drain {

  /** Drain every available file under `srcDir` (one file per micro-batch,
    * arrival order, `prepare` applied to the source) through `ingest`,
    * each batch in a [[Staging.scoped]] scope of its own, then return the
    * accumulated sink contents (all survivors so far, with their `batch`
    * id). `shufflePartitions` sizes a bounded drain's exchanges to ITS
    * data, not the cluster default — a gate-scale batch pays ~10 shuffles
    * whose per-task overhead dwarfs the rows.
    *
    * Each micro-batch runs in the mode [[graft.Execution]] picks for its
    * input: the arrival's bytes plus the manifest bytes of `roots`, the
    * index roots a batch reads or compacts (one manifest read each).
    */
  def run(spark0: SparkSession, srcDir: String, sinkPath: String,
      checkpointPath: String, shufflePartitions: Option[Int], roots: Seq[String],
      prepare: DataFrame => DataFrame = identity)(
      ingest: (DataFrame, IndexMaintenance.Batch) => Unit): DataFrame = {
    val spark = shufflePartitions.fold(spark0) { n =>
      val s = spark0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      s
    }
    val schema = spark.read.parquet(srcDir).schema
    prepare(spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(srcDir))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the query's persistent id: kept across restarts from one
        // checkpoint, new for a fresh checkpoint even at the same path
        val query = batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
        require(query != null, "foreachBatch ran without a streaming query id")
        // the batch's session is the stream's own clone of `spark`, and no
        // plan of the batch has started yet: the batch's mode is set on it
        val session = batch.sparkSession
        val bytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes +
          roots.map(IndexMaintenance.snapshot(session, _).bytes).sum
        graft.Execution.setMode(session, bytes.min(Long.MaxValue).toLong)
        Staging.scoped(ingest(batch, IndexMaintenance.Batch(query, batchId)))
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    CorpusIngest.survivors(spark, sinkPath, schema)
  }

  private def partition(sinkPath: String, id: Long) = s"$sinkPath/batch=$id"

  /** Write `b`'s partition of the sink: only the sink's own query may.
    * The first write records `b`'s query in the sink's `_query` marker
    * (a hidden file, which parquet readers skip).
    */
  private def writePartition(df: DataFrame, sinkPath: String, b: IndexMaintenance.Batch): Unit = {
    val owner = IndexMaintenance.claimOwner(df.sparkSession, s"$sinkPath/_query", b.query)
    if (owner != b.query)
      throw new IllegalStateException(
        s"sink $sinkPath belongs to streaming query $owner, not ${b.query}: a stream " +
          "from a new checkpoint would overwrite its batch partitions; give it a sink of its own")
    df.write.mode("overwrite").parquet(partition(sinkPath, b.id))
  }

  /** Whether the doors (banned content, needles) emptied the batch. An
    * emptied batch still overwrites its own sink partition: a replay whose
    * content was banned between the original sink write and the
    * checkpoint commit would otherwise leave the STALE partition — now
    * banned content — published forever. A genuinely empty source batch
    * can have no stale partition (batch content is deterministic from the
    * checkpoint), so it writes nothing.
    */
  def emptied(arrived: DataFrame, admitted: DataFrame, sinkPath: String,
      b: IndexMaintenance.Batch): Boolean = {
    val empty = admitted.isEmpty
    if (empty && !arrived.isEmpty) writePartition(arrived.limit(0), sinkPath, b)
    empty
  }

  /** Publish the batch's keep list over its sink partition and return the
    * survivors read back. The keep list's frames read the index stores
    * the appends then write, so they stage in a scope of their own, closed
    * once the partition is written: a frame still cached at an append
    * would be recached by the write for nobody to read. The write is the
    * materialization point (measured: broadcasting a CACHED keep list
    * instead re-derives the keep plan inside the broadcast build and costs
    * 5× the tiny read); the read-back pins the batch's schema so it skips
    * footer inference.
    */
  def publish(admitted: DataFrame, sinkPath: String, b: IndexMaintenance.Batch)(
      keepList: => DataFrame): DataFrame = {
    Staging.scoped(writePartition(keepList, sinkPath, b))
    admitted.sparkSession.read.schema(admitted.schema).parquet(partition(sinkPath, b.id))
  }

  /** Append the batch's survivors to every (root, append) pair under the
    * root's writer lease and the batch's replay guard. The roots are
    * disjoint and mutually order-free, so the appends overlap
    * ([[IndexMaintenance.inParallelAll]]) instead of summing their
    * job-scheduling and commit latencies.
    */
  def appendAll(spark: SparkSession, batch: IndexMaintenance.Batch,
      appends: Seq[(String, IndexMaintenance.Tx => Unit)]): Unit =
    IndexMaintenance.inParallelAll(appends.map { case (root, append) =>
      () => IndexMaintenance.withWriterLease(spark, root, batch = Some(batch))(append)
    })

  /** AUTOMATIC MAINTENANCE after the batch's appends (so the triggering
    * batch's rows fold too): run each (root, probe store, compaction)
    * the policy finds due, each under its compactor's own lease. A
    * replayed triggering batch re-compacts idempotently.
    */
  def compactDue(spark: SparkSession, batchId: Long,
      policy: IndexMaintenance.AutoCompactPolicy,
      families: Seq[(String, String, () => Unit)]): Unit =
    families.foreach { case (root, probeStore, compact) =>
      if (policy.due(spark, root, probeStore, batchId)) compact()
    }
}

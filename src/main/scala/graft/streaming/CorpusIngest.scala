package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{IncrementalDedup, IndexMaintenance, Staging}
import graft.operators.Staging.Stageable

/** CONTINUOUS corpus hygiene — the streaming composition of the two
  * round-8 production pieces: arriving document files flow through the
  * incremental engine, each micro-batch is near-dup-deduplicated against
  * the PERSISTED MinHash index ([[IncrementalDedup]] — history is never
  * re-read, let alone re-shingled), and the batch's survivors are
  * appended to BOTH the index and a durable parquet sink. This is the
  * 100 TB ingest shape: a corpus that grows by daily/hourly drops pays
  * per-arrival cost proportional to the ARRIVAL (plus one column-pruned
  * 24 B/row index scan), not to the standing corpus.
  *
  * No reference analogue (the reference has no streaming and no dedup);
  * the construction is Structured Streaming's `foreachBatch` pattern for
  * sinks with custom logic, run by the [[Drain]] both ingests share, with
  * exactly-once output: a restart never re-reads acknowledged input, a
  * replayed batch overwrites its own sink partition, and every index root
  * the batch appends to records the batch in its manifest's watermark, so
  * a replayed append is skipped where it already landed. The keep list
  * recomputed on a replay is IDENTICAL — a batch doc never pairs with its
  * own indexed copy (id equality is excluded) and batch-internal pairs are
  * resolved by the same min-id rule whether or not the partner's rows are
  * already indexed. IngestSpec pins this replay.
  *
  * Dedup semantics are GREEDY FIRST-FIT (the standard online form): a new
  * doc drops iff it near-dups a previously KEPT doc (or a lower-id doc in
  * its own batch). Unlike the monolithic [[graft.operators.Dedup
  * .nearDupClusters]] min-id rule this does not merge clusters through
  * chains — A~B, B~C, A≁C keeps {A, C} here (B dropped against A; C only
  * ever compared to the kept set). That is a property of online dedup
  * itself, not of this implementation: history is immutable, so a kept
  * doc can never retroactively drop.
  */
object CorpusIngest {

  /** The OTHER standing indices an ingest can keep current alongside the
    * dedup index — each micro-batch's SURVIVORS append to every
    * configured store, so the retrieval/audit layer answers from data
    * that is never more than one batch stale:
    *
    *   - `postingsPath`: the BM25 postings index
    *     ([[graft.operators.Retrieval.appendToPostingsIndex]]);
    *   - `gramPostingsPath`: the decontamination gram store
    *     ([[graft.operators.Decontaminate.appendToGramPostingsIndex]];
    *     bootstrapped at `gramN` on the first surviving batch);
    *   - `positionsPath`: the exact-phrase positional index
    *     ([[graft.operators.Retrieval.appendToPositionalIndex]]);
    *   - `termStatsPath`: the frozen-ranker BM25 statistics store
    *     ([[graft.operators.Retrieval.appendToTermStatsIndex]]);
    *   - `driftGramsPath`: the monitoring gram-count index
    *     ([[graft.operators.CorpusCompare.appendToGramIndex]]).
    *
    * Replay posture: every store is exactly-once under the ingest's
    * at-least-once foreachBatch window, the COUNTED stores (term stats,
    * drift grams, the postings totals) included: each append runs under
    * its root's batch watermark, so a replayed batch, before or after the
    * compaction it triggered, is skipped at every root it already landed
    * in. Survivor batches append with their SINK text (i.e. canonical
    * when `canonicalize` is on), so index content always matches the
    * published corpus.
    */
  final case class IndexSuite(postingsPath: Option[String] = None,
      gramPostingsPath: Option[String] = None,
      positionsPath: Option[String] = None,
      gramN: Int = 3,
      termStatsPath: Option[String] = None,
      driftGramsPath: Option[String] = None)

  /** The BANNED-CONTENT store name, living under the dedup index root:
    * one column (`fp`) of canonical content fingerprints
    * ([[graft.operators.TextAnalysis.canonicalFingerprint]] — NFC +
    * whitespace collapse, then the rolling hash), the identity the whole
    * content-defined family shares. This closes the right-to-be-forgotten
    * loop the retraction lifecycle starts: tombstones remove taken-down
    * docs from every index, but they also remove the dedup SIGNATURES —
    * so a re-upload of the same bytes no longer collides with its own
    * history and would re-enter the corpus as a fresh document.
    * [[filterBannedContent]] is the door check that stops it: one
    * broadcast anti-join on the canonical fingerprint (a ban list is
    * orders of magnitude smaller than the corpus), identity when no ban
    * has ever been issued.
    */
  val BannedStore = "banned"

  /** BAN content: append the docs' canonical fingerprints to the banned
    * store at `indexPath`. Idempotent under replay (duplicate fp rows are
    * harmless — the door check is an anti-join).
    */
  def banContent(spark: SparkSession, indexPath: String, docs: DataFrame,
      textCol: String): Unit = {
    IndexMaintenance.withWriterLease(spark, indexPath)(
      _.append(BannedStore, docs.select(graft.operators.TextAnalysis
          .canonicalFingerprint(col(textCol)).as("fp"))
        .distinct().coalesce(1)))
  }

  /** The full TAKEDOWN: retract the docs from the dedup index (tombstones
    * — [[IncrementalDedup.retract]]) AND ban their content at the door,
    * so the same bytes re-arriving later are dropped before any index or
    * sink sees them. `docs` is the taken-down documents (id and text in
    * hand, the takedown premise). The caller rewrites the sink partition
    * separately if published survivors must also be purged.
    */
  def retractContent(spark: SparkSession, indexPath: String,
      docs: DataFrame, idCol: String, textCol: String): Unit = {
    IncrementalDedup.retract(spark, indexPath, docs.select(col(idCol)))
    banContent(spark, indexPath, docs, textCol)
  }

  /** Drop rows whose canonical content fingerprint is banned at
    * `indexPath` — one broadcast anti-join when a ban store exists, the
    * identity otherwise. Applied by [[ingestBatch]] at the door (before
    * dedup, so banned content never pollutes the index with signatures);
    * public so batch pipelines can run the same check.
    */
  def filterBannedContent(docs: DataFrame, textCol: String,
      indexPath: String): DataFrame =
    filterBanned(docs, textCol, IndexMaintenance.snapshot(docs.sparkSession, indexPath))

  private def filterBanned(docs: DataFrame, textCol: String,
      snap: IndexMaintenance.Snapshot): DataFrame =
    snap.readOpt(BannedStore).fold(docs) { banned =>
      docs.join(broadcast(banned),
        graft.operators.TextAnalysis.canonicalFingerprint(docs(textCol))
          === banned("fp"),
        "left_anti")
    }

  /** Drain every available document file under `srcDir` (one file per
    * micro-batch, arrival order) through the incremental dedup, then
    * return the accumulated sink contents (all survivors so far, with
    * their `batch` id). Re-running with the same checkpoint after new
    * files arrive processes ONLY the new files and appends ONLY their
    * survivors.
    *
    * The first surviving batch pins `params` on an empty `indexPath`; a
    * pre-built index keeps its own params — seeding with one dedups the
    * stream against a standing corpus from the first batch.
    *
    * `canonicalize` folds [[graft.operators.TextAnalysis.normalizeText]]
    * (Unicode NFC + whitespace collapse) over `textCol` IN-STREAM, before
    * any shingling or signing — the production default for a crawl
    * ingest, where the same document re-fetched through a different
    * encoder pipeline (decomposed sequences, reflowed whitespace) must
    * dedup against its earlier arrival rather than count as new content.
    * The sink then holds the canonical text. Defaults to false so callers
    * that ingest already-canonical corpora skip the per-row pass.
    *
    * `bannedNeedles` blocks known-bad content AT THE DOOR: any arriving
    * doc containing one of the exact token phrases (the
    * [[graft.operators.Retrieval.phraseCountScan]] semantics — same
    * tokenizer as the dedup, applied AFTER canonicalization) drops before
    * dedup, so it neither reaches the sink nor pollutes the index with
    * its signatures. The streaming face of verbatim decontamination: the
    * needle check is one staged tokenize + slice-compare pass over the
    * ARRIVAL only. Dropped docs are gone for good (greedy online
    * semantics, like the dedup itself); a needle discovered later is a
    * retraction ([[IncrementalDedup.retract]] + sink rewrite), not a
    * re-ingest.
    */
  def runIngestAvailableNow(spark0: SparkSession, srcDir: String,
      indexPath: String, sinkPath: String, checkpointPath: String,
      idCol: String = "doc_id", textCol: String = "text",
      jaccardThreshold: Double = 0.5,
      params: IncrementalDedup.Params = IncrementalDedup.Params(3, 16, 4),
      shufflePartitions: Option[Int] = None,
      canonicalize: Boolean = false,
      bannedNeedles: Seq[Seq[String]] = Nil,
      maintain: IndexSuite = IndexSuite(),
      autoCompact: IndexMaintenance.AutoCompactPolicy =
        IndexMaintenance.AutoCompactPolicy()): DataFrame = {
    bannedNeedles.foreach { ph =>
      require(ph.nonEmpty && ph.forall(_.nonEmpty),
        "banned needles must be non-empty token sequences")
    }
    val prepare: DataFrame => DataFrame =
      if (canonicalize)
        _.withColumn(textCol, graft.operators.TextAnalysis.normalizeText(col(textCol)))
      else identity
    val roots = Seq(indexPath) ++ maintain.postingsPath ++ maintain.gramPostingsPath ++
      maintain.positionsPath ++ maintain.termStatsPath ++ maintain.driftGramsPath
    Drain.run(spark0, srcDir, sinkPath, checkpointPath, shufflePartitions, roots, prepare)(
      ingestBatch(_, _, indexPath, sinkPath, idCol, textCol, jaccardThreshold,
        params, bannedNeedles, maintain, autoCompact))
  }

  /** One micro-batch: dedup against the index, publish survivors
    * idempotently, append them to every maintained root under the batch's
    * replay guard. Stages into the caller's scope (the drain opens one per
    * micro-batch). Package-visible so the spec can replay a committed
    * batch and pin the exactly-once story.
    */
  private[graft] def ingestBatch(batch0: DataFrame, b: IndexMaintenance.Batch,
      indexPath: String, sinkPath: String, idCol: String, textCol: String,
      jaccardThreshold: Double, params: IncrementalDedup.Params,
      bannedNeedles: Seq[Seq[String]] = Nil,
      maintain: IndexSuite = IndexSuite(),
      autoCompact: IndexMaintenance.AutoCompactPolicy =
        IndexMaintenance.AutoCompactPolicy()): Unit = {
    import graft.operators.{CorpusCompare, Decontaminate, Retrieval}
    // one generation of the dedup root serves the whole batch's reads
    val snap = IndexMaintenance.snapshot(batch0.sparkSession, indexPath)
    // the BANNED-CONTENT door first: retracted-and-banned bytes drop
    // before the needle check, the dedup, the sink, and every index —
    // identity when no ban was ever issued
    val batchB = filterBanned(batch0, textCol, snap)
    val batch =
      if (bannedNeedles.isEmpty) batchB
      else {
        // one staged tokenize pass over the ARRIVAL; every needle checks
        // against the same attribute (the Staging HOF rule — an inline
        // expression would re-tokenize per start offset)
        val toksF = Staging.stage(batchB.select(col(idCol).as("id"),
          filter(graft.operators.TextAnalysis.tokens(col(textCol)),
            x => x =!= lit("")).as("toks")))
        val hitAny = bannedNeedles.map { ph =>
          val hit = (s: org.apache.spark.sql.Column) =>
            ph.zipWithIndex.map { case (t, i) =>
              element_at(col("toks"), (s + lit(i + 1)).cast("int")) === lit(t)
            }.reduce(_ && _)
          size(col("toks")) >= ph.length &&
            exists(sequence(lit(0), size(col("toks")) - lit(ph.length)), hit)
        }.reduce(_ || _)
        val bad = toksF.filter(hitAny).select("id")
        batchB.join(broadcast(bad), batchB(idCol) === bad("id"), "left_anti")
      }
    if (Drain.emptied(batch0, batch, sinkPath, b)) return
    val spark = batch.sparkSession
    // the batch signs ONCE: the staged (id, sh, sig) frame feeds the
    // pair search, and the survivor append reuses it — a standalone
    // newKeepList + appendBatch sequence would re-shingle and re-sign
    // the survivors. Params are the index's, or `params` before the
    // first append pins them.
    val p = if (snap.params.isEmpty) params else IncrementalDedup.paramsOf(snap)
    val base = IncrementalDedup.signed(batch, idCol, textCol, p)
    val kept = Drain.publish(batch, sinkPath, b) {
      // staged: the keep-list derivation consumes the pair set three
      // times (both drop directions + the batch-internal exemption) —
      // unpersisted, the exact-Jaccard verify join would re-run for each
      val pairs = IncrementalDedup.newBatchPairsFrom(base, snap, p,
        jaccardThreshold).stagePersist()
      IncrementalDedup.keepListFromPairs(batch, idCol, pairs)
    }
    val keptIds = kept.select(col(idCol).as("id"))
    // the dedup index takes the survivors' already-staged rows; the
    // configured standing indices take the survivors' sink text
    Drain.appendAll(spark, b,
      Seq(indexPath -> IncrementalDedup.appendSigned(
        base.join(broadcast(keptIds), Seq("id"), "left_semi"), p)) ++
      maintain.postingsPath.map(_ -> Retrieval.appendPostings(kept, idCol, textCol)) ++
      maintain.gramPostingsPath.map(_ ->
        Decontaminate.appendGramPostingsOrPin(kept, idCol, textCol, maintain.gramN)) ++
      maintain.positionsPath.map(_ -> Retrieval.appendPositions(kept, idCol, textCol)) ++
      maintain.termStatsPath.map(_ -> Retrieval.appendTermStats(kept, idCol, textCol)) ++
      maintain.driftGramsPath.map(_ -> CorpusCompare.appendGrams(kept, col(textCol))))
    // each family probes its own representative store, so a threshold
    // policy only pays for the family over it
    val bytes = autoCompact.targetFileBytes
    Drain.compactDue(spark, b.id, autoCompact,
      Seq((indexPath, "bands",
        () => IndexMaintenance.compactDedupIndex(spark, indexPath, bytes))) ++
      maintain.postingsPath.map(mp => (mp, "postings",
        () => Retrieval.compactPostingsIndex(spark, mp, bytes))) ++
      maintain.gramPostingsPath.map(mp => (mp, "grams",
        () => Decontaminate.compactGramPostingsIndex(spark, mp, bytes))) ++
      maintain.positionsPath.map(mp => (mp, "positions",
        () => Retrieval.compactPositionalIndex(spark, mp, bytes))) ++
      maintain.termStatsPath.map(mp => (mp, "terms",
        () => Retrieval.compactTermStatsIndex(spark, mp))) ++
      maintain.driftGramsPath.map(mp => (mp, "grams",
        () => CorpusCompare.compactGramIndex(spark, mp))))
  }

  /** The accumulated survivor set at `sinkPath` (empty-sink safe). The
    * `batch` partition column records which micro-batch kept each doc.
    */
  def survivors(spark: SparkSession, sinkPath: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val p = new Path(sinkPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("batch=")))
      spark.read.parquet(sinkPath)
    else
      spark.createDataFrame(new java.util.ArrayList[Row](),
        schema.add("batch", org.apache.spark.sql.types.IntegerType))
  }
}

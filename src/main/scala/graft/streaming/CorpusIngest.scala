package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
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
  * sinks with custom logic, with exactly-once output by the standard
  * batch-id idempotence argument:
  *
  *   - the CHECKPOINT records which source files each committed batch
  *     consumed — a restart never re-reads acknowledged input, and new
  *     arrivals drain as fresh batches;
  *   - the sink write is `overwrite` into a `batch=<id>` partition
  *     directory, so a replayed batch (crash after the sink write but
  *     before the checkpoint commit — foreachBatch is at-least-once)
  *     overwrites its own output instead of duplicating it;
  *   - the index append is replay-SAFE rather than idempotent: a replayed
  *     append duplicates band/shingle rows, which candidate generation
  *     and the verify path already dedup (IncrementalDedup's documented
  *     recovery contract), and the keep-list recomputed against the
  *     post-append index is IDENTICAL — a batch doc never pairs with its
  *     own indexed copy (id equality is excluded) and batch-internal
  *     pairs are resolved by the same min-id rule whether or not the
  *     partner's rows are already indexed. IngestSpec pins this replay.
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
    *     ([[graft.operators.Retrieval.appendToTermStatsIndexKeyed]]);
    *   - `driftGramsPath`: the monitoring gram-count index
    *     ([[graft.operators.CorpusCompare.appendToGramIndexKeyed]]).
    *
    * Replay posture: the postings/gram-postings/positions stores are
    * replay-TOLERANT by design (a re-run batch appends identical rows,
    * which their queries collapse and their compactions drop), so the
    * ingest's at-least-once foreachBatch window is safe there exactly as
    * it is for the dedup index. The two COUNTED stores (term stats,
    * drift grams) are different: their rows carry no replay identity, so
    * a plain re-appended batch would double-count — the ingest therefore
    * appends them BATCH-ID-KEYED (each batch's delta replaces its own
    * `b<id>` segment, the sink's `batch=<id>` idempotence pattern),
    * which makes the at-least-once window safe for counts too. Survivor
    * batches append with their SINK text (i.e. canonical when
    * `canonicalize` is on), so index content always matches the
    * published corpus.
    */
  final case class IndexSuite(postingsPath: Option[String] = None,
      gramPostingsPath: Option[String] = None,
      positionsPath: Option[String] = None,
      gramN: Int = 3,
      termStatsPath: Option[String] = None,
      driftGramsPath: Option[String] = None) {
    private[graft] def any: Boolean =
      postingsPath.isDefined || gramPostingsPath.isDefined ||
        positionsPath.isDefined || termStatsPath.isDefined ||
        driftGramsPath.isDefined
  }

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

  /** The ingest LINEAGE id — a stable fingerprint of the checkpoint
    * location, namespacing the counted stores' batch keys: streaming
    * batch ids restart at 0 for every fresh checkpoint, so without the
    * namespace a decommission-and-replace ingest pointed at the SAME
    * term-stats/drift stores would replace the previous lineage's b0,
    * b1, … deltas. Same checkpoint (and so same replay window) ⇒ same
    * lineage ⇒ the keyed-replace idempotence is untouched.
    */
  def lineageOf(checkpointPath: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(checkpointPath.getBytes("UTF-8"))
    d.take(4).map(b => f"${b & 0xff}%02x").mkString
  }

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
    // like EventStreams.drainSession: a bounded drain's exchanges should
    // be sized to ITS data, not the cluster default — a gate-scale batch
    // pays ~10 shuffles whose per-task overhead dwarfs the rows. A
    // production ingest sizes this to the arrival volume (or leaves the
    // session untouched).
    val spark = shufflePartitions.fold(spark0) { n =>
      val s = spark0.newSession()
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      s
    }
    val schema = spark.read.parquet(srcDir).schema
    val src0 = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(srcDir)
    val src =
      if (canonicalize)
        src0.withColumn(textCol, graft.operators.TextAnalysis.normalizeText(col(textCol)))
      else src0
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // staging frames (shingles, signatures, candidates) die with the
        // batch — a 10k-batch ingest must not accumulate 10k persists
        Staging.scoped(ingestBatch(batch, batchId, indexPath, sinkPath,
          idCol, textCol, jaccardThreshold, params, bannedNeedles, maintain,
          lineage = lineageOf(checkpointPath), autoCompact = autoCompact))
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    survivors(spark, sinkPath, schema)
  }

  /** One micro-batch: dedup against the index, publish survivors
    * idempotently, append them to the index. Stages into the caller's
    * scope (the stream opens one per micro-batch). Package-visible so the
    * spec can replay a committed batch and pin the at-least-once story.
    */
  private[graft] def ingestBatch(batch0: DataFrame, batchId: Long,
      indexPath: String, sinkPath: String, idCol: String, textCol: String,
      jaccardThreshold: Double, params: IncrementalDedup.Params,
      bannedNeedles: Seq[Seq[String]] = Nil,
      maintain: IndexSuite = IndexSuite(),
      lineage: String = "",
      autoCompact: IndexMaintenance.AutoCompactPolicy =
        IndexMaintenance.AutoCompactPolicy()): Unit = {
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
    if (batch.isEmpty) {
      // A batch the DOORS emptied (banned content / needles) must still
      // overwrite its own sink partition: a replay whose content was
      // banned between the original sink write and the checkpoint commit
      // would otherwise leave the STALE partition — now-banned content —
      // published forever. A genuinely empty source batch can have no
      // stale partition (batch content is deterministic from the
      // checkpoint), and the empty overwrite is harmless there too.
      if (!batch0.isEmpty)
        batch0.limit(0).write.mode("overwrite")
          .parquet(s"$sinkPath/batch=$batchId")
      return
    }
    val spark = batch.sparkSession
    // the batch signs ONCE: the staged (id, sh, sig) frame feeds the
    // pair search, and the survivor append reuses it — a standalone
    // newKeepList + appendBatch sequence would re-shingle and re-sign
    // the survivors. Params are the index's, or `params` before the
    // first append pins them.
    val p = if (snap.params.isEmpty) params else IncrementalDedup.paramsOf(snap)
    val base = IncrementalDedup.signed(batch, idCol, textCol, p)
    // the pair search's frames read the index stores the appends below
    // write, so they get a scope of their own, closed once the keep list
    // is published: a frame still cached at an append would be recached
    // by the write for nobody to read
    Staging.scoped {
      // staged: the keep-list derivation consumes the pair set three
      // times (both drop directions + the batch-internal exemption) —
      // unpersisted, the exact-Jaccard verify join would re-run for each
      val pairs = IncrementalDedup.newBatchPairsFrom(base, snap, p,
        jaccardThreshold).stagePersist()
      IncrementalDedup.keepListFromPairs(batch, idCol, pairs)
        .write.mode("overwrite").parquet(s"$sinkPath/batch=$batchId")
    }
    // append the survivors' already-staged rows, identified from the
    // sink read-back (the write above is the materialization point —
    // measured: broadcasting a CACHED keep list instead re-derives the
    // keep plan inside the broadcast build and costs 5× the tiny read);
    // schema pinned from the batch so the read skips footer inference
    val kept = spark.read.schema(batch.schema)
      .parquet(s"$sinkPath/batch=$batchId")
    val keptIds = kept.select(col(idCol).as("id"))
    // The core index append and every standing-store FAMILY append
    // mutate DISJOINT roots under their own leases — mutually
    // order-free, so they overlap (inParallelAll, the §2.6 rule the
    // paired writes already use) instead of summing up to six
    // job-scheduling + commit latencies per micro-batch. Each family's
    // INTERNAL build-if-missing → append order is preserved inside its
    // thunk — those orderings are crash-recovery invariants.
    val appends = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    appends += (() => IncrementalDedup.appendSigned(
      base.join(broadcast(keptIds), Seq("id"), "left_semi"),
      indexPath, p))
    // keep the configured standing indices current with the same
    // survivors (sink text, so canonical when the ingest is)
    if (maintain.any) {
      // KEYED append: the postings ptotals row is a count with no
      // replay identity once a compaction has summed it — the
      // batch-keyed form keeps the at-least-once window safe even when
      // the auto-compaction below folds the triggering batch before a
      // crash-and-replay
      maintain.postingsPath.foreach { mp =>
        appends += (() => graft.operators.Retrieval
          .appendToPostingsIndexKeyed(kept, idCol, textCol, mp, batchId,
            lineage))
      }
      maintain.gramPostingsPath.foreach { mp =>
        appends += (() => graft.operators.Decontaminate
          .appendToGramPostingsIndexOrPin(kept, idCol, textCol, mp, maintain.gramN))
      }
      maintain.positionsPath.foreach { mp =>
        appends += (() => graft.operators.Retrieval
          .appendToPositionalIndex(kept, idCol, textCol, mp))
      }
      // the COUNTED stores append batch-id-KEYED (replace-own-delta,
      // lineage-namespaced), so an at-least-once replay cannot
      // double-count
      maintain.termStatsPath.foreach { mp =>
        appends += (() => graft.operators.Retrieval.appendToTermStatsIndexKeyed(
          kept, idCol, textCol, mp, batchId, lineage))
      }
      maintain.driftGramsPath.foreach { mp =>
        appends += (() => graft.operators.CorpusCompare.appendToGramIndexKeyed(
          kept, col(textCol), mp, batchId, lineage))
      }
    }
    IndexMaintenance.inParallelAll(appends.toSeq)
    // AUTOMATIC MAINTENANCE: fold the appended deltas when the policy
    // says so — per family, under each compactor's own lease, after the
    // batch's appends (so the triggering batch's rows fold too). Runs
    // inside the foreachBatch: abort-safe by the lease, crash-safe by
    // the manifest commit, and a replayed triggering batch re-compacts
    // idempotently (the keyed stores' folded keys keep counts exact
    // across the replay). Each family probes its own representative
    // store so a threshold policy only pays for the family over it.
    if (autoCompact.enabled)
      maybeCompactSuite(spark, batchId, indexPath, maintain, autoCompact)
  }

  /** Run every due compaction for the document ingest's store families —
    * the dedup index plus whatever the [[IndexSuite]] maintains. A family
    * is due when the policy's batch cadence fires (all families compact
    * together) or its probe store's file backlog crosses the threshold
    * (only that family pays). Missing stores (no survivors yet) skip.
    */
  private[graft] def maybeCompactSuite(spark: SparkSession, batchId: Long,
      indexPath: String, maintain: IndexSuite,
      policy: IndexMaintenance.AutoCompactPolicy): Unit = {
    val im = IndexMaintenance
    def due(root: String, probeStore: String): Boolean = {
      val files = im.storeDataFiles(spark, root, probeStore)
      files > 0 && (policy.batchDue(batchId) ||
        (policy.fileThreshold > 0 && files > policy.fileThreshold))
    }
    if (due(indexPath, "bands"))
      im.compactDedupIndex(spark, indexPath, policy.targetFileBytes)
    maintain.postingsPath.foreach { mp =>
      if (due(mp, "postings"))
        graft.operators.Retrieval.compactPostingsIndex(spark, mp,
          policy.targetFileBytes)
    }
    maintain.gramPostingsPath.foreach { mp =>
      if (due(mp, "grams"))
        graft.operators.Decontaminate.compactGramPostingsIndex(spark, mp,
          policy.targetFileBytes)
    }
    maintain.positionsPath.foreach { mp =>
      if (due(mp, "positions"))
        graft.operators.Retrieval.compactPositionalIndex(spark, mp,
          policy.targetFileBytes)
    }
    maintain.termStatsPath.foreach { mp =>
      if (due(mp, "terms"))
        graft.operators.Retrieval.compactTermStatsIndex(spark, mp)
    }
    maintain.driftGramsPath.foreach { mp =>
      if (due(mp, "grams"))
        graft.operators.CorpusCompare.compactGramIndex(spark, mp)
    }
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

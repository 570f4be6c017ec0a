package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.util.control.NonFatal
import graft.queries.SessionScratch.rmTree

/** Scale-study runner: times a set of contract queries on an arbitrary
  * data directory and reports per-query wall seconds plus a task-skew
  * proxy (p100/p50 of task durations across the query's stages). Feeds
  * SCALE.md: run at two generated scales and compare ratios. Not part of
  * the driver contract.
  *
  * Usage: runMain graft.tools.ScaleBench <dir> [key ...]
  */
object ScaleBench {

  private final class TaskStats extends SparkListener {
    val durations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null) durations.add(t.taskInfo.duration)
    def reset(): Unit = durations.clear()
    def skew(): (Int, Double) = {
      import scala.jdk.CollectionConverters._
      val ds = durations.asScala.toArray.sorted
      if (ds.isEmpty) (0, 0.0)
      else (ds.length, ds.last.toDouble / math.max(ds(ds.length / 2), 1L))
    }
  }

  val defaultKeys: Seq[String] = Seq(
    "q_pipeline_hygiene", "q_dedup_clusters", "q_pipeline", "q_dedup_ngram",
    "q_dedup_substring", "q_dedup_minhash", "q_dedup_simhash", "q_dedup_text",
    "q_dedup_embed", "q_sim_lsh", "q_sim_ivf", "q_dedup_exact",
    "q_decontaminate", "q_quality_rep", "q_text_stats",
    "q_stream_tumble", "q_stream_session", "q_redact")

  /** Temp working dirs created by scale-only keys; deleted before exit. */
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Standing-index scratch: built ONCE PER PROCESS, never trusted across
    * JVMs. The old skip-if-exists probe reused whatever a crashed or
    * killed prior run left at the same tmp path — a regenerated fixture
    * at the same dir (or a hashCode collision between dirs) then silently
    * benchmarked against a stale index. The per-JVM set is the same
    * contract as the contract keys' SessionScratch: contents are a pure
    * function of the data dir WITHIN a process, and any leftover on disk
    * is debris to delete before building.
    */
  private val standingBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def standingIndex(tag: String, dir: String)(
      build: String => Unit): String = {
    val idx = graft.queries.SessionScratch.pathFor(tag, dir)
    if (standingBuilt.add(idx)) {
      rmTree(idx)
      scratchDirs.add(idx)
      build(idx)
    }
    idx
  }

  /** Scale-only keys with no driver-contract analogue (the contract keys
    * run bounded fixtures; these exercise the write path / path switch on
    * the big generated corpora).
    */
  private def extraKeys: Map[String, (SparkSession, String) => DataFrame] = Map(
    // physical ETL merge over the documents table: copy into a working
    // dir, then upsert a 1% change set (replacements + appends). Timed
    // work = post-state plan (broadcast anti-join; the table itself never
    // shuffles) + two distributed parquet writes + atomic commit.
    "x_etl_merge" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val t = new graft.model.Tables(s, dir)
      val work = java.nio.file.Files.createTempDirectory("graft_scale_etl_").toString
      scratchDirs.add(work)
      val etl = new graft.sources.Etl(s, work)
      etl.copy("documents", t.documents)
      val src = t.documents.filter(col("doc_id") % 200 === 0)
        .withColumn("text", concat(col("text"), lit(" merged")))
        .unionByName(t.documents.filter(col("doc_id") % 200 === 1)
          .withColumn("doc_id", col("doc_id") + lit(100000000L)))
      etl.merge("documents", src, Seq("doc_id"))
      etl.read("documents")
    },
    // auto-switching exact ngram pairs: logs the chosen path so the
    // SCALE.md hot-corpus run shows the flip with no caller change.
    // τ=0.6 is a near-dup threshold where per-doc prefixes are short
    // enough to exclude a 60-token boilerplate block entirely.
    "x_ngram_auto" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      val chosen = graft.operators.Dedup.ngramJaccardPairsAutoChosen(
        t.documents, "doc_id", "text", threshold = 0.6)
      System.err.println(f"[scale] ngram auto chose path=${chosen.path} " +
        f"avgPartners=${chosen.avgPartners}%.1f skew=${chosen.skew}%.1f " +
        f"cap=${chosen.cappedDf} droppedShingles=${chosen.droppedShingles} " +
        f"droppedPostings=${chosen.droppedPostings} on $dir")
      chosen.pairs
    },
    // the same auto path at a LOW threshold (τ=0.4): per-doc prefixes are
    // too long to exclude boilerplate, so on a hot corpus the probe must
    // land in the third (capped) tier — completing with a loud dropped
    // count instead of dying in either exact path
    "x_ngram_auto_lowt" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      val chosen = graft.operators.Dedup.ngramJaccardPairsAutoChosen(
        t.documents, "doc_id", "text", threshold = 0.4)
      System.err.println(f"[scale] ngram auto(lowt) chose path=${chosen.path} " +
        f"avgPartners=${chosen.avgPartners}%.1f skew=${chosen.skew}%.1f " +
        f"cap=${chosen.cappedDf} droppedShingles=${chosen.droppedShingles} " +
        f"droppedPostings=${chosen.droppedPostings} on $dir")
      chosen.pairs
    },
    // tier-C preview of the B→C warning regime: the full cluster build
    // (pairs → connected components → per-doc assignment) with the df cap
    // engaged, the designed escape for the hot-minority Σdf² slice
    "x_clusters_capped" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      graft.operators.Dedup.nearDupClusters(t.documents, "doc_id", "text",
        maxDf = Some(64))
    },
    "x_ngram_capped" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      graft.operators.Dedup.ngramJaccardPairs(t.documents, "doc_id", "text",
        maxDf = Some(64))
    },
    // BPE merge training at ladder scale: 30 merges against the corpus
    // word-frequency table — timed work is the one corpus scan plus
    // 30 × (pair-count agg + 1-row argmax + guarded vocabulary fold)
    "x_bpe" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      val merges = graft.operators.Bpe.train(t.documents, col("text"), numMerges = 30)
      System.err.println(s"[scale] bpe learned ${merges.size} merges; " +
        s"first=${merges.take(3).map(m => m.merged + ":" + m.nOcc).mkString(",")}")
      import s.implicits._
      merges.toDF()
    },
    // the production-vocabulary trainer: 300 merges batched (top-16
    // candidates per recount round, non-interacting subset applied per
    // round) vs x_bpe's 2-jobs-per-merge sequential path — the rounds
    // count printed below is the amortization proof
    "x_bpe_batched" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      val (merges, rounds) = graft.operators.Bpe.trainBatchedRounds(
        t.documents, col("text"), numMerges = 300, batchK = 16)
      System.err.println(s"[scale] bpe batched: ${merges.size} merges in " +
        s"$rounds rounds on $dir")
      import s.implicits._
      merges.toDF()
    },
    // applying a learned merge list corpus-wide: the vocabulary segments
    // once (distinct words), documents JOIN for subword counts — the
    // corpus is scanned but never folded. Merges come from a 1% training
    // slice so the key times the apply path, not a second training run.
    "x_bpe_tokens" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      val merges = graft.operators.Bpe.train(
        t.documents.filter(col("doc_id") % 100 === 0), col("text"), numMerges = 16)
      graft.operators.Bpe.tokenCount(t.documents, "doc_id", "text", merges)
    },
    // Bloom decontamination alone (the contract key times bloom+exact to
    // gate them against each other): filter build over the benchmark
    // slice + the corpus-wide membership probe
    "x_decontam_bloom" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      val bench = t.documents.filter(col("doc_id") % 97 === 0)
      val bloom = graft.operators.Decontaminate.benchmarkShingleBloom(
        bench, "text", n = 3, fpp = 1e-4)
      System.err.println(s"[scale] bloom filter bytes=${bloom.length}")
      graft.operators.Decontaminate.flagContaminatedBloom(
        t.documents, "doc_id", "text", bloom, n = 3, minOverlap = 2)
    },
    // fuzzy decontamination OPERATOR only (the q_ key's wall is dominated
    // by its exact-twin gate construction): banded near-dup flags vs a
    // fixed-size broadcast benchmark slice.
    "x_decontam_fuzzy" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      val bench = t.documents.filter(col("doc_id") % 97 === 0)
      graft.operators.Decontaminate.flagContaminatedFuzzy(
        t.documents, "doc_id", "text", bench, "doc_id", "text",
        threshold = 0.5)
    },
    // LM scoring with the production bigram count cutoff — measures what
    // pruning the df=1 tail does to the model-table joins.
    "x_lm_pruned" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      graft.operators.LanguageModel.lmScore(
        graft.operators.Staging.widen(t.documents), "doc_id", "text",
        minBigramCount = 2L)
    },
    // DURABLE streaming drain: the same append+watermark incremental run
    // as q_stream_append but into a parquet sink with a checkpoint — the
    // production output shape, no driver-side funnel. Fresh sink+ckpt per
    // run so every invocation drains the full fixture.
    "x_stream_durable" -> { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_scale_stream_").toString
      scratchDirs.add(work)
      graft.streaming.EventStreams.runTumblingAppendDurable(
        s, dir, s"$work/sink", s"$work/ckpt")
    },
    // CONTINUOUS ingest at ladder scale: the fixture's 16-part documents
    // dir drains one file per micro-batch through the incremental dedup
    // (fresh index/sink/checkpoint per run): 16 arrivals, each deduped
    // against the survivors of everything before it. Per-arrival cost
    // must track the ARRIVAL plus the growing index scan — the whole
    // point of the persisted-index shape.
    "x_stream_ingest" -> { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_scale_ingest_").toString
      scratchDirs.add(work)
      graft.streaming.CorpusIngest.runIngestAvailableNow(
        s, s"$dir/documents.parquet", s"$work/idx", s"$work/sink", s"$work/ckpt",
        jaccardThreshold = 0.5)
    },
    // the vector-side streaming ingest: drain the tier's embeddings
    // through the incremental ANN dedup (fresh work dir per invocation,
    // so the timing IS build+drain at the tier's volume)
    "x_embed_ingest" -> { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_scale_eingest_").toString
      scratchDirs.add(work)
      graft.streaming.EmbeddingIngest.runIngestAvailableNow(
        s, s"$dir/embeddings.parquet", s"$work/idx", s"$work/sink",
        s"$work/ckpt", dim = 64, threshold = 0.9, numPlanes = 18)
    },
    // incremental-dedup index build over the 90% historical slice: two
    // distributed writes (band keys + hashed shingles) — the one-time
    // cost an increment pipeline amortizes across every later batch
    "x_inc_build" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      val work = java.nio.file.Files.createTempDirectory("graft_scale_incb_").toString
      scratchDirs.add(work)
      graft.operators.IncrementalDedup.buildIndex(
        t.documents.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", work)
      graft.operators.IndexMaintenance.snapshot(s, work).read("bands")
    },
    // the per-increment cost: a 10% delta dedups against the persisted
    // index (sign the delta, join band keys against the 24 B/row index
    // scan, verify collided ids only) — vs x_inc_rebuild, the monolithic
    // rerun an index-less pipeline pays for the same answer. The index is
    // built once per data dir on the warm run and reused by the timed
    // runs, exactly like a standing production index.
    "x_inc_delta" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      val idx = standingIndex("inc_idx", dir) { p =>
        graft.operators.IncrementalDedup.buildIndex(
          t.documents.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", p)
      }
      graft.operators.IncrementalDedup.newBatchPairs(
        t.documents.filter(col("doc_id") % 10 === 0), "doc_id", "text", idx,
        jaccardThreshold = 0.2)
    },
    "x_inc_rebuild" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      graft.operators.Dedup.minhashPairs(t.documents, "doc_id", "text",
        jaccardThreshold = 0.2)
    },
    // the realistic ratio: a 1% increment against a 99% corpus — the
    // regime a daily batch actually runs in (the 10% variant above keeps
    // the comparison fixture-compatible with the r7 ladder rows)
    "x_inc_delta1" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      val idx = standingIndex("inc1_idx", dir) { p =>
        graft.operators.IncrementalDedup.buildIndex(
          t.documents.filter(col("doc_id") % 100 =!= 0), "doc_id", "text", p)
      }
      graft.operators.IncrementalDedup.newBatchPairs(
        t.documents.filter(col("doc_id") % 100 === 0), "doc_id", "text", idx,
        jaccardThreshold = 0.2)
    },
    "x_ann_delta1" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      val idx = standingIndex("ann1_idx", dir) { p =>
        graft.operators.IncrementalAnn.buildIndex(
          t.embeddings.filter(col("vec_id") % 100 =!= 0), "vec_id", "embedding",
          dim = 64, path = p)
      }
      graft.operators.IncrementalAnn.newBatchPairs(
        t.embeddings.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        idx, threshold = 0.9)
    },
    // the vector increment: same build/delta/rebuild triplet as the text
    // index, over the embeddings table (90% indexed, 10% delta)
    "x_ann_build" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      val work = java.nio.file.Files.createTempDirectory("graft_scale_annb_").toString
      scratchDirs.add(work)
      graft.operators.IncrementalAnn.buildIndex(
        t.embeddings.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
        dim = 64, path = work)
      graft.operators.IndexMaintenance.snapshot(s, work).read("sigs")
    },
    "x_ann_delta" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      val idx = standingIndex("ann_idx", dir) { p =>
        graft.operators.IncrementalAnn.buildIndex(
          t.embeddings.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
          dim = 64, path = p)
      }
      graft.operators.IncrementalAnn.newBatchPairs(
        t.embeddings.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
        idx, threshold = 0.9)
    },
    "x_ann_rebuild" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      graft.operators.Similarity.cosineNearDupPairs(
        t.embeddings, "vec_id", "embedding", dim = 64, threshold = 0.9)
    },
    // index fragmentation triplet: 20 appended increments leave ~20
    // segments per store — x_frag_query times the delta query
    // against the fragmented index, x_compact_run the compaction rewrite,
    // x_compact_query the same delta query after it (same answer, bounded
    // files). The standing index is built once per data dir, like
    // x_inc_delta's.
    "x_frag_query" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      val idx = fragIdx(s, dir, t)
      graft.operators.IncrementalDedup.newBatchPairs(
        t.documents.filter(col("doc_id") % 21 === 20), "doc_id", "text", idx,
        jaccardThreshold = 0.2)
    },
    "x_compact_run" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      val idx = fragIdx(s, dir, t)
      graft.operators.IndexMaintenance.compactDedupIndex(s, idx)
      graft.operators.IndexMaintenance.snapshot(s, idx).read("bands")
    },
    "x_compact_query" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      val idx = fragIdx(s, dir, t)
      graft.operators.IncrementalDedup.newBatchPairs(
        t.documents.filter(col("doc_id") % 21 === 20), "doc_id", "text", idx,
        jaccardThreshold = 0.2)
    },
    // snapshot diff at corpus scale: documents vs a deterministically
    // drifted snapshot (1% text updates, ~6% deletes, 2% re-keyed
    // inserts) — churn-shaped output, one full-outer key join
    "x_diff_docs" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val t = new graft.model.Tables(s, dir)
      val prev = t.documents
      val next = prev.filter(col("doc_id") % 17 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 100 === 0, concat(col("text"), lit(" drift")))
            .otherwise(col("text")))
        .unionByName(prev.filter(col("doc_id") % 50 === 7)
          .withColumn("doc_id", col("doc_id") + 100000000L))
      graft.operators.Diff.snapshotDiff(prev, next, Seq("doc_id"))
    },
    // sharded-export WRITE path (the contract key q_shard times only the
    // manifest aggregate): 16 content-addressed shard dirs + manifest
    "x_shard_write" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      val work = java.nio.file.Files.createTempDirectory("graft_scale_shard_").toString
      scratchDirs.add(work)
      graft.operators.Sharding.writeShards(t.documents,
        graft.operators.TextAnalysis.fingerprint(col("text")), col("doc_id"),
        16, work)
    },
    // HLL++ vocabulary vs the exact q_vocab: at tier C the exact distinct
    // rewrite's (gram, doc) shuffle is the dominant cost; the sketch
    // caps the shuffle at one buffer per (partition, gram)
    "x_vocab_approx" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      import graft.operators.Staging.Stageable
      val t = new graft.model.Tables(s, dir)
      val toks = graft.operators.Staging.widen(t.documents)
        .select(col("doc_id"),
          graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
        .stagePersist()
      graft.operators.TextAnalysis.vocabularyApprox(toks,
        graft.operators.Dedup.ngramsFromTokens(col("toks"), 2),
        col("doc_id"), 500)
    },
    // AUTO vocabulary: the occupancy probe picks exact/approx; the chosen
    // path prints so the ladder records the decision per fixture
    "x_vocab_auto" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      import graft.operators.Staging.Stageable
      val t = new graft.model.Tables(s, dir)
      val toks = graft.operators.Staging.widen(t.documents)
        .select(col("doc_id"),
          graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
        .stagePersist()
      val (table, choice) = graft.operators.TextAnalysis.vocabularyAutoChosen(
        toks, graft.operators.Dedup.ngramsFromTokens(col("toks"), 2),
        col("doc_id"), 500)
      System.err.println(s"[scale] vocabularyAuto chose '$choice' on $dir")
      table
    },
    // BM25 over the scale fixtures' own vocabulary (the contract key's
    // terms don't exist in the generated corpora)
    "x_bm25" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      graft.operators.Retrieval.bm25TopK(t.documents, "doc_id", "text",
        Seq("shuffle", "plan", "batch"), k = 10)
    },
    // the inverted-index BM25 form on a wide (30-term) lexicon — the
    // large-q regime where the scan form's per-row term loop loses
    "x_bm25_indexed" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      val wide = ("batch part spark line column order small sort fast value " +
        "scan hash slow group agg filter query big key window row table " +
        "stream merge data join shuffle plan stage task").split(' ').toSeq
      graft.operators.Retrieval.bm25TopKIndexed(t.documents, "doc_id",
        "text", wide, k = 10)
    },
    // the scan form on the SAME wide lexicon (the crossover comparison)
    "x_bm25_scan_wide" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      val wide = ("batch part spark line column order small sort fast value " +
        "scan hash slow group agg filter query big key window row table " +
        "stream merge data join shuffle plan stage task").split(' ').toSeq
      graft.operators.Retrieval.bm25TopK(t.documents, "doc_id",
        "text", wide, k = 10)
    },
    // k-means assignment at a production-ish IVF cell count (the contract
    // key's k=8 exercises the oracle, not the kernel's O(n·k·dim) span)
    "x_cluster256" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      graft.operators.Clustering.assignProfile(
        t.embeddings, "vec_id", "embedding", k = 256)
    },
    // frozen-ranker scoring: the term-stats index is the STANDING input
    // (built once per data dir, like the incremental-dedup keys), the
    // timed work is scoring a FIXED 5k-doc batch — across fixture tiers
    // this measures the claim that per-batch cost is independent of how
    // large the indexed corpus is
    "x_bm25_frozen" -> { (s, dir) =>
      import org.apache.spark.sql.functions.{col, concat_ws, lit}
      val idx = standingIndex("xtsi", dir) { p =>
        val t = new graft.model.Tables(s, dir)
        graft.operators.Retrieval.buildTermStatsIndex(
          t.documents, "doc_id", "text", p)
      }
      val batch = s.range(5000).toDF("doc_id")
        .withColumn("text", concat_ws(" ", lit("shuffle plan"),
          (col("doc_id") % 97).cast("string"), lit("batch scan table")))
      graft.operators.Retrieval.scoreAgainstTermIndex(batch, "doc_id",
        "text", Seq("shuffle", "plan", "batch"), idx, k = 10)
    },
    // TOP-K FROM THE POSTINGS INDEX: the store is the standing input;
    // timed work = the three terms' postings probe + df agg + TakeOrdered.
    // Across fixture tiers this measures the claim that an indexed-corpus
    // query costs the terms' postings (df-bound), never a corpus scan —
    // compare against x_bm25 (the scan route) at each tier.
    "x_bm25_index_topk" -> { (s, dir) =>
      val idx = standingIndex("xpost", dir) { p =>
        val t = new graft.model.Tables(s, dir)
        graft.operators.Retrieval.buildPostingsIndex(
          t.documents, "doc_id", "text", p)
      }
      graft.operators.Retrieval.topKFromIndex(s, idx,
        Seq("shuffle", "plan", "batch"), k = 10)
    },
    // RETRACTION, query side: the same postings probe with a standing
    // 500-doc takedown in place (tombstones present, pre-vacuum) — the
    // delta vs x_bm25_index_topk is the broadcast anti-join's cost at
    // query time
    "x_bm25_retract_query" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val idx = standingIndex("xpostr", dir) { p =>
        val t = new graft.model.Tables(s, dir)
        graft.operators.Retrieval.buildPostingsIndex(
          t.documents, "doc_id", "text", p)
        graft.operators.Retrieval.retractFromPostingsIndex(
          t.documents.filter(col("doc_id") < 500), "doc_id", "text", p)
      }
      graft.operators.Retrieval.topKFromIndex(s, idx,
        Seq("shuffle", "plan", "batch"), k = 10)
    },
    // RETRACTION, op side: re-run the SAME 500-doc takedown against the
    // standing index (replay-idempotent by contract — the negative
    // ptotals row collapses, duplicate tombstones are ignored), so the
    // timed work is the retraction itself: tokenize the retracted docs +
    // two small appends. The claim across tiers: flat — independent of
    // how large the indexed corpus is.
    "x_bm25_retract_op" -> { (s, dir) =>
      import org.apache.spark.sql.functions.{col, count, lit}
      val idx = standingIndex("xpostr", dir) { p =>
        val t = new graft.model.Tables(s, dir)
        graft.operators.Retrieval.buildPostingsIndex(
          t.documents, "doc_id", "text", p)
        graft.operators.Retrieval.retractFromPostingsIndex(
          t.documents.filter(col("doc_id") < 500), "doc_id", "text", p)
      }
      val t = new graft.model.Tables(s, dir)
      graft.operators.Retrieval.retractFromPostingsIndex(
        t.documents.filter(col("doc_id") < 500), "doc_id", "text", idx)
      graft.operators.IndexMaintenance.snapshot(s, idx).read("tombstones").agg(count(lit(1)).as("n_tombstones"))
    },
    // EXACT-PHRASE from the positional index vs the scan twin: the index
    // route probes the phrase tokens' position rows (df-bound), the scan
    // re-tokenizes the corpus per phrase — the claim is the same
    // flat-vs-linear split as the postings probe
    "x_phrase_index" -> { (s, dir) =>
      val idx = standingIndex("xpos", dir) { p =>
        val t = new graft.model.Tables(s, dir)
        graft.operators.Retrieval.buildPositionalIndex(
          t.documents, "doc_id", "text", p)
      }
      graft.operators.Retrieval.phraseMatches(s, idx,
        Seq("shuffle", "plan"))
    },
    "x_phrase_scan" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      graft.operators.Retrieval.phraseCountScan(t.documents, "doc_id",
        "text", Seq("shuffle", "plan"))
    },
    // gram-set decontamination AUDIT from the standing gram-postings
    // store (one broadcast semi-join + per-doc count) vs the scan form
    // (q_decontaminate: re-tokenize + re-shingle the corpus per audit)
    "x_decon_index" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val idx = standingIndex("xgpost", dir) { p =>
        val t = new graft.model.Tables(s, dir)
        graft.operators.Decontaminate.buildGramPostingsIndex(
          t.documents, "doc_id", "text", p, n = 3)
      }
      val t = new graft.model.Tables(s, dir)
      graft.operators.Decontaminate.flagContaminatedFromIndex(s, idx,
        t.documents.filter(col("doc_id") % 97 === 0), "text",
        minOverlap = 2)
    },
    // TOP-K from the persisted ANN index vs q_sim_lsh (which re-projects
    // the corpus banding per call): the standing-signature claim
    "x_ann_index_topk" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val idx = standingIndex("xannq", dir) { p =>
        val t = new graft.model.Tables(s, dir)
        graft.operators.IncrementalAnn.buildIndex(
          t.embeddings, "vec_id", "embedding", dim = 64, path = p)
      }
      val t = new graft.model.Tables(s, dir)
      graft.operators.IncrementalAnn.topK(
        t.embeddings.filter(col("vec_id") < 8), "vec_id", "embedding",
        idx, k = 3)
    },
    // TOP-K from the persisted IVF-CELL index — the trained-quantizer
    // complement of x_ann_index_topk: the probe reads nprobe of nlist
    // cells (pushed In over the cell-clustered store) + an exact re-rank,
    // never re-training or re-assigning the corpus
    "x_ann_ivf_index" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val idx = standingIndex("xivf", dir) { p =>
        val t = new graft.model.Tables(s, dir)
        graft.operators.IvfIndex.buildIndex(
          t.embeddings, "vec_id", "embedding", dim = 64, path = p,
          nlist = 64, iters = 2, assignReplicas = 3)
      }
      val t = new graft.model.Tables(s, dir)
      graft.operators.IvfIndex.topK(
        t.embeddings.filter(col("vec_id") < 8), "vec_id", "embedding",
        idx, k = 3, nprobe = 8)
    },
    // the in-memory IVF twin alone: trains + assigns the corpus per call
    "x_ivf_topk" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      graft.operators.Similarity.ivfTopK(t.embeddings,
        t.embeddings.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 3, nlist = 64, nprobe = 8)
    },
    // the in-memory twin alone (q_sim_lsh bundles its exact-recall gate):
    // re-projects + re-bands the corpus every call
    "x_lsh_topk" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      graft.operators.Similarity.lshTopK(t.embeddings,
        t.embeddings.filter(col("vec_id") < 8), "vec_id", "embedding",
        dim = 64, k = 3)
    },
    // 100-needle decontamination suite in ONE positions probe — against
    // 100× the single-phrase probe a per-needle loop would pay
    "x_phrase_batch100" -> { (s, dir) =>
      val idx = standingIndex("xpos", dir) { p =>
        val t = new graft.model.Tables(s, dir)
        graft.operators.Retrieval.buildPositionalIndex(
          t.documents, "doc_id", "text", p)
      }
      val lex = ("batch part spark line column order small sort fast value " +
        "scan hash slow group agg filter query big key window row table " +
        "stream merge data join shuffle plan stage task").split(' ')
      import s.implicits._
      val q = (0 until 100).flatMap { i =>
        Seq(lex(i % 30), lex((i * 7 + 1) % 30), lex((i * 13 + 2) % 30))
          .zipWithIndex.map { case (t, slot) => (s"p$i", slot, t) }
      }.toDF("phrase_id", "slot", "token")
      graft.operators.Retrieval.phraseMatchesBatch(s, idx, q,
        "phrase_id", "slot", "token")
    },
    // the GOVERNED form of the same 100-needle suite: on a saturated-
    // vocabulary fixture every needle's Σ occ blows the budget, so the
    // governor routes the whole suite to ONE corpus-scan pass — the
    // measured fix for the 61.8 s / skew-384 slot fan-out the ungoverned
    // key above pays at defC (rare-needle fixtures stay on the index)
    "x_phrase_batch100_auto" -> { (s, dir) =>
      val idx = standingIndex("xpos", dir) { p =>
        val t = new graft.model.Tables(s, dir)
        graft.operators.Retrieval.buildPositionalIndex(
          t.documents, "doc_id", "text", p)
      }
      val lex = ("batch part spark line column order small sort fast value " +
        "scan hash slow group agg filter query big key window row table " +
        "stream merge data join shuffle plan stage task").split(' ')
      import s.implicits._
      val q = (0 until 100).flatMap { i =>
        Seq(lex(i % 30), lex((i * 7 + 1) % 30), lex((i * 13 + 2) % 30))
          .zipWithIndex.map { case (t, slot) => (s"p$i", slot, t) }
      }.toDF("phrase_id", "slot", "token")
      val t = new graft.model.Tables(s, dir)
      val chosen = graft.operators.Retrieval.phraseMatchesBatchAutoChosen(
        s, idx, q, "phrase_id", "slot", "token",
        t.documents, "doc_id", "text")
      System.err.println(s"[scale] phrase governor: " +
        s"${chosen.scanned.size} scan-routed, ${chosen.indexed.size} indexed")
      chosen.matches
    },
    // MULTI-QUERY batched BM25 at suite scale: 100 queries × 3 terms from
    // the 30-word scale lexicon in ONE corpus pass — against ~100× the
    // x_bm25 single-query wall a per-query loop would pay
    "x_bm25_batch100" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      val lex = ("batch part spark line column order small sort fast value " +
        "scan hash slow group agg filter query big key window row table " +
        "stream merge data join shuffle plan stage task").split(' ')
      import s.implicits._
      val qs = (0 until 100).flatMap { i =>
        Seq(lex(i % 30), lex((i * 7 + 1) % 30), lex((i * 13 + 2) % 30))
          .distinct.map(term => (s"q$i", term))
      }.toDF("query_id", "term")
      graft.operators.Retrieval.bm25TopKBatch(t.documents, "doc_id",
        "text", qs, "query_id", "term", k = 10)
    },
    // HYBRID retrieval on the GOVERNED ANN family: BM25 top-60 fused with
    // the IVF top-60 (not the brute-force baseline) — the production
    // hybrid shape, laddered so the fused audit is proven at scale
    "x_hybrid_ivf" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      val lex = graft.operators.Retrieval.bm25TopK(t.documents, "doc_id",
        "text", Seq("shuffle", "plan", "batch"), k = 60)
      val sem = graft.operators.Similarity.ivfTopK(t.embeddings,
          t.embeddings.filter(col("vec_id") === 0), "vec_id", "embedding",
          k = 60, nlist = 64, nprobe = 8)
        .select(col("n_id").as("doc_id"), col("rank"))
      graft.operators.Retrieval.rrfFuse(lex, sem, "doc_id", "rank", k = 10)
    },
    // full Lloyd training + the two objective passes at a realistic
    // coarse-quantizer size (the q_cluster_train gate runs k=16 at sf0.01)
    "x_kmeans64" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      graft.operators.Clustering.kmeansSummary(
        t.embeddings, "vec_id", "embedding", k = 64, iters = 3)
    },
    // quality-distribution drift between the even/odd doc slices
    "x_drift_quality" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      graft.operators.CorpusCompare.qualityDrift(
        t.documents.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
        t.documents.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1),
        org.apache.spark.sql.functions.col("text"))
    },
    // trigram LM scoring (two backoff hops) + its trigram-table cutoff
    "x_lm_score3" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      graft.operators.LanguageModel.lmScore3(
        graft.operators.Staging.widen(t.documents), "doc_id", "text")
    },
    "x_lm3_pruned" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      graft.operators.LanguageModel.lmScore3(
        graft.operators.Staging.widen(t.documents), "doc_id", "text",
        minTrigramCount = 2L)
    },
    // dense-corpus escalation: 500k vectors in 32 tight clusters keep
    // colliding at ANY plane count the old 24-bit frame allowed — the
    // governor must be able to keep escalating PAST 24 (the r7 ceiling)
    "x_embed_dense" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      val (pairs, planes) = graft.operators.Similarity.cosineNearDupPairsChosen(
        t.embeddings, "vec_id", "embedding", dim = 64, threshold = 0.92,
        maxEscalations = 6)
      System.err.println(s"[scale] embed dense governor settled at planes=$planes on $dir")
      pairs
    },
    // the keywords df-join FALLBACK, observed deliberately: this
    // generator's vocabulary caps at ~200k tokens (~5 MB), so the df
    // table never outgrows broadcast on ANY tier — disabling broadcast
    // is the only way to measure the shuffle-join plan a 100 TB
    // vocabulary (10⁸+ tokens) would actually get
    "x_keywords_nobroadcast" -> { (s0, dir) =>
      val s = s0.newSession()
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.shuffle.partitions",
        s0.conf.get("spark.sql.shuffle.partitions"))
      val plan = graft.SparkEntry.queries("q_keywords")(s, dir)
      plan
    },
    // corpus drift between the even and odd document halves: two
    // vocabulary-sized aggregations + one full-outer join on the gram —
    // the per-gram report and the one-row summary share driftFrame, so
    // time the summary (it consumes every joined row)
    "x_drift" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      graft.operators.CorpusCompare.driftSummary(
        t.documents.filter(col("doc_id") % 2 === 0),
        t.documents.filter(col("doc_id") % 2 === 1), col("text"))
    },
    // exact content overlap vs a synthetic next crawl (1/3 re-crawled
    // identical, 1/5 edited): the distinct-digest shuffle is the cost
    "x_overlap_exact" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val t = new graft.model.Tables(s, dir)
      val b = t.documents.filter(col("doc_id") % 3 === 0).select(col("text"))
        .unionByName(t.documents.filter(col("doc_id") % 5 === 0)
          .select(concat(col("text"), lit(" v2")).as("text")))
      graft.operators.CorpusCompare.corpusOverlap(
        t.documents, b, col("text"), sampleMod = 16, tol = 0.2)
    },
    // the production mod-16 sampled estimator on the same fixture: the
    // digest filter sits below the shuffle, so the exchange carries
    // ~1/16 of the rows — the 100 TB default
    "x_overlap_sampled" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val t = new graft.model.Tables(s, dir)
      val b = t.documents.filter(col("doc_id") % 3 === 0).select(col("text"))
        .unionByName(t.documents.filter(col("doc_id") % 5 === 0)
          .select(concat(col("text"), lit(" v2")).as("text")))
      graft.operators.CorpusCompare.corpusOverlapSampled(
        t.documents, b, col("text"), 16)
    },
    // DSIR selection of the generated corpus against its own en slice:
    // two bucket aggregations (≤4096 rows each, broadcast) + one per-doc
    // quantized-sum groupBy + TakeOrdered
    "x_dsir" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      graft.operators.CorpusCompare.dsirSelectWithin(t.documents,
        "doc_id", col("text"), col("lang") === "en",
        buckets = 4096, k = 100)
    },
    // the general two-corpus form on the same fixture: pays the target's
    // own tokenize scan (the within form derives both tables from one
    // staged stream)
    "x_dsir_twocorpus" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      graft.operators.CorpusCompare.dsirSelect(t.documents,
        t.documents.filter(col("lang") === "en"), "doc_id", col("text"),
        buckets = 4096, k = 100)
    },
    // drift at monitoring cadence: a 1% delta checks against the
    // persisted gram-count index (vocab-sized scan) — vs the monolithic
    // recompute that re-tokenizes the 99% history (x_drift_inc_rebuild)
    "x_drift_inc" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      val idx = standingIndex("gram_idx", dir) { p =>
        graft.operators.CorpusCompare.buildGramIndex(
          t.documents.filter(col("doc_id") % 100 =!= 0), col("text"), p)
      }
      graft.operators.CorpusCompare.driftSummaryAgainstIndex(s, idx,
        t.documents.filter(col("doc_id") % 100 === 0), col("text"))
    },
    "x_drift_inc_rebuild" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val t = new graft.model.Tables(s, dir)
      graft.operators.CorpusCompare.driftSummary(
        t.documents.filter(col("doc_id") % 100 =!= 0),
        t.documents.filter(col("doc_id") % 100 === 0), col("text"))
    },
    // embedding-drift pair vs a planted sign-loss snapshot: occupancy
    // histogram (one bit-pack scan per corpus → ≤2^10-row join) and
    // per-dimension moments (posexplode → 64-row partial-agg'd tables)
    "x_drift_embed" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val t = new graft.model.Tables(s, dir)
      val e = t.embeddings
      val b = e.filter(col("vec_id") % 2 === 0).select(col("embedding"))
        .unionByName(e.filter(col("vec_id") % 2 === 1)
          .select(transform(col("embedding"), x => abs(x)).as("embedding")))
      graft.operators.CorpusCompare.embeddingDriftSummary(
        e, b, col("embedding"), signDims = 10)
    },
    "x_drift_embed_moments" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val t = new graft.model.Tables(s, dir)
      val e = t.embeddings
      val b = e.filter(col("vec_id") % 2 === 0).select(col("embedding"))
        .unionByName(e.filter(col("vec_id") % 2 === 1)
          .select(transform(col("embedding"), x => abs(x)).as("embedding")))
      graft.operators.CorpusCompare.embeddingMomentDrift(e, b, col("embedding"))
    },
    // SemDeDup AUTO mode at ladder scale: derived (replica/budget-aware)
    // cell count + the Σ m(m−1)/2 probe-and-escalate governor; runs the
    // full train→assign→probe→pair pipeline each timing pass. The chosen
    // cell count prints so the ladder records derivation + escalation.
    "x_sem_auto" -> { (s, dir) =>
      val t = new graft.model.Tables(s, dir)
      val (pairs, cells) = graft.operators.Similarity.semanticNearDupPairsChosen(
        t.embeddings, "vec_id", "embedding", threshold = 0.9)
      System.err.println(s"[scale] semantic governor settled at nlist=$cells on $dir")
      pairs
    })

  /** Standing 20-increment index for the fragmentation triplet: slice 0
    * builds, slices 1..19 append — the layout a daily pipeline has after
    * ~3 weeks without maintenance.
    */
  private def fragIdx(s: SparkSession, dir: String,
      t: graft.model.Tables): String = {
    import org.apache.spark.sql.functions.col
    standingIndex("frag_idx", dir) { p =>
      graft.operators.IncrementalDedup.buildIndex(
        t.documents.filter(col("doc_id") % 21 === 0), "doc_id", "text", p)
      (1 to 19).foreach { i =>
        graft.operators.IncrementalDedup.appendBatch(
          t.documents.filter(col("doc_id") % 21 === i), "doc_id", "text", p)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/scale/sf0.1")
    val keys = if (args.length > 1) args.drop(1).toSeq else defaultKeys
    val spark = graft.SparkEntry.session("graft-scalebench", graft.SparkEntry.envCpus(32))
    spark.sparkContext.setLogLevel("ERROR")
    val stats = new TaskStats
    spark.sparkContext.addSparkListener(stats)
    val out = keys.map { name =>
      val fn = extraKeys.getOrElse(name, graft.SparkEntry.queries(name))
      System.err.println(s"[scale] running $name")
      try graft.operators.Staging.scoped {
        graft.Bench.force(fn(spark, dir)) // warm: plan + staging caches
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          graft.Bench.force(fn(spark, dir))
          (System.nanoTime() - t0) / 1e9
        }
        stats.reset()
        val t0 = System.nanoTime()
        graft.Bench.force(fn(spark, dir))
        val cold = (System.nanoTime() - t0) / 1e9
        val (nTasks, skew) = stats.skew()
        val warm = times.min
        f"""{"key":"$name","sec":${warm}%.3f,"sec_last":${cold}%.3f,"tasks":$nTasks,"skew_p100_p50":${skew}%.2f}"""
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[scale] FAILED $name: ${e.getMessage}")
          s"""{"key":"$name","sec":-1}"""
      }
    }
    println(out.mkString("[", ",\n", "]"))
    spark.stop()
    scratchDirs.forEach(rmTree)
  }
}

package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.Staging
import graft.operators.Staging.Stageable
import graft.model.Tables
import graft.operators.{AsOf, Decontaminate, Dedup, Multimodal, RangeJoin, Redact, Sampling, Similarity, TextAnalysis}

/** Training-data-pipeline operators over `documents` / `embeddings` /
  * `events` (SURVEY.md §2 extension rows; no reference analogue — the
  * reference stops at relational navigation).
  *
  * Oracle SQL is supplied wherever DuckDB can reproduce the computation
  * bit-for-bit (exact dedup, n-gram Jaccard, text stats, fingerprints).
  * Hash-sketch operators (MinHash/SimHash/LSH/IVF — engine-specific
  * xxhash64 / RNG) are driver-GATED instead (round 6, the q_dist_approx
  * pattern): each emits precision/recall bound-check booleans against an
  * exact twin computed in the same plan, plus a cross-engine-checkable
  * count where DuckDB can reproduce one. The oracle emits the booleans as
  * literal TRUE — any bound violation flips a value and breaks the hash.
  * Every exact twin keeps a 100 TB-safe shape: the knn twin is the linear
  * production baseline, the ngram twin is the linear inverted index, and
  * the brute-force twins are BOUNDED to a fixed id<256 subset, so no gate
  * smuggles a quadratic corpus-scale plan. Raw-pair outputs stay pinned in
  * OperatorSpec.
  */
object ExtensionQueries extends QueryModule {

  def queries: Map[String, Q] = Map(
    // Exact dedup — hash-groupBy keep-list (Dedup.exact).
    "q_dedup_exact" -> { (s, dir) =>
      val t = new Tables(s, dir)
      Dedup.exact(t.documents, "doc_id", "text").orderBy("doc_id")
    },

    // C4-style duplicate-segment removal with a CANONICAL SURVIVOR: the
    // corpus keeps exactly one copy (first by document, position) of
    // every repeated 8-token segment — where q_dedup_substring's
    // removeRepeatedWindows drops repeated content everywhere. Per-doc
    // segment counts + the reassembled cleaned text are under the hash.
    "q_dedup_segment" -> { (s, dir) =>
      val t = new Tables(s, dir)
      Dedup.dedupSegmentsKeepFirst(t.documents, "doc_id", "text", w = 8)
        .orderBy("doc_id")
    },

    // Exact n-gram Jaccard near-dup pairs (inverted-index join).
    "q_dedup_ngram" -> { (s, dir) =>
      val t = new Tables(s, dir)
      Dedup.ngramJaccardPairs(t.documents, "doc_id", "text", n = 3,
        threshold = 0.2, minCommon = 2).orderBy("id_a", "id_b")
    },

    // SURVEY §2.2's canonical key for the near-dup text filter over
    // `documents`: MinHash+LSH candidates verified by exact Jaccard —
    // driver-GATED against the exact n-gram twin at threshold 0.5.
    "q_dedup_text" -> { (s, dir) =>
      val t = new Tables(s, dir)
      minhashGate(t.documents, jaccardThreshold = 0.5)
    },

    // MinHash + LSH verified pairs, gated at threshold 0.2. One staged
    // shingle frame feeds both the sketch and the exact inverted-index
    // twin; n_exact is cross-checked against DuckDB's own pair count,
    // precision_ok pins sketch ⊆ exact≥1-common set (the verify step is
    // exact Jaccard, so a false here is a bug, not bad luck), recall_ok
    // pins banding recall ≥ 0.75 (measured 0.96 at sf0.01, 1.0 at sf0.1).
    "q_dedup_minhash" -> { (s, dir) =>
      val t = new Tables(s, dir)
      minhashGate(t.documents, jaccardThreshold = 0.2)
    },

    // INCREMENTAL dedup against a persisted fingerprint index — the
    // 100 TB production shape (a daily increment dedups against the
    // historical corpus without re-shingling it). A deterministic 25%
    // slice (doc_id % 4 = 0) plays the new batch; the other 75% is
    // indexed to a temp dir; the batch's verified pairs are gated the
    // same way as q_dedup_minhash but against the exact pair set
    // RESTRICTED to pairs touching the batch. Band keys are
    // bit-identical to the in-memory path (shared bandedKeys), so this
    // also pins index round-trip fidelity.
    "q_dedup_incremental" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      // the persisted index is the operator's STANDING input (a daily
      // increment amortizes one build across every batch): built once per
      // data dir per session, so repeated bench invocations measure the
      // INCREMENT — the number a production pipeline actually pays
      val work = SessionScratch.cached("incidx", dir) { p =>
        graft.operators.IncrementalDedup.buildIndex(
          docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", p)
      }
      locally {
        val inc = graft.operators.IncrementalDedup.newBatchPairs(
            docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", work,
            jaccardThreshold = 0.2)
          .select("id_a", "id_b")
          .stagePersist()
        val sh = Dedup.shingleFrame(docs, "doc_id", "text", 3)
        val pairsAll = Dedup.ngramJaccardPairsFrom(sh, 0.2, minCommon = 1)
          .filter(col("id_a") % 4 === 0 || col("id_b") % 4 === 0)
          .stagePersist()
        val exact2 = pairsAll.filter(col("common") >= 2).select("id_a", "id_b")
        val nExact = exact2.agg(count(lit(1)).as("n_exact"))
        val nHit = inc.join(exact2, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
        val nPrecMiss = inc.join(pairsAll.select("id_a", "id_b"),
            Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1)).as("n_miss"))
        val out = broadcast(nExact).crossJoin(broadcast(nHit))
          .crossJoin(broadcast(nPrecMiss))
          .select(col("n_exact"),
            (col("n_miss") === 0).as("precision_ok"),
            (col("n_exact") === 0 ||
              col("n_hit") >= col("n_exact") * lit(0.75)).as("recall_ok"))
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      }
    },

    // INDEX HEALTH surface over the standing dedup index — the frame a
    // maintenance scheduler thresholds on (file backlog, delta count,
    // pending markers). The oracle pins the relationally-derivable
    // columns: per-store logical row counts (shingles = one row per
    // indexed doc, bands = `bands` rows per doc) and the generation
    // (exactly one completed mutation: the build). File/byte columns are
    // layout-dependent and spec-pinned instead (IndexStatsSpec).
    "q_index_stats" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      val work = SessionScratch.cached("incidx", dir) { p =>
        graft.operators.IncrementalDedup.buildIndex(
          docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", p)
      }
      graft.operators.IndexMaintenance.indexStats(s, work)
        .select(col("store"), col("rows").as("n_rows"), col("generation"))
        .orderBy("store")
    },

    // BANNED-CONTENT door (the right-to-be-forgotten closure): ban the
    // doc_id % 31 == 5 docs' canonical fingerprints into a standing ban
    // store, then filter the corpus through the ingest's door check —
    // one broadcast anti-join on the canonical content identity, so a
    // re-upload of banned bytes (same content under ANY doc_id, including
    // exact-duplicate texts of other ids) drops before dedup or any
    // index. Full-hash oracle: the anti-join replays as a NOT IN over
    // the normalized text (fingerprint injectivity is the dedup family's
    // standing budget).
    "q_ingest_banned" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      val work = SessionScratch.cached("banstore", dir) { p =>
        graft.streaming.CorpusIngest.banContent(s, p,
          docs.filter(col("doc_id") % 31 === 5), "text")
      }
      graft.streaming.CorpusIngest.filterBannedContent(
          docs.select("doc_id", "text"), "text", work)
        .select("doc_id").orderBy("doc_id")
    },

    // CONTINUOUS-ingest hygiene, hash-verified END-TO-END: the corpus
    // arrives as two id-ordered files; CorpusIngest drains them through
    // the incremental engine (foreachBatch dedup against the persisted
    // IncrementalDedup index → idempotent batch=<id> sink partitions →
    // checkpoint) at τ=1.0 — where exact-Jaccard "near-dup" is EQUALITY
    // of shingle sets, so greedy first-fit is transitive and the
    // surviving set is exactly "min doc_id per distinct 3-shingle set,
    // plus every short (<3-token) doc", which the DuckDB oracle
    // reproduces relationally. Unlike the bound-check gates this hashes
    // the whole stream→index→durable-sink loop row-for-row. (Lower
    // thresholds — where greedy first-fit is NOT transitive and no
    // relational oracle exists — are pinned by IngestSpec instead.)
    "q_dedup_stream_ingest" -> { (s, dir) =>
      val t = new Tables(s, dir)
      // deterministic 25% slice: the gate exercises the full multi-batch
      // stream→index→sink loop (two arrivals, growing index) without
      // paying a whole-corpus dedup per bench invocation — the corpus-
      // scale increment cost is measured on the event ladder instead
      // (x_stream_ingest, SCALE.md)
      val base = t.documents.select("doc_id", "text")
        .filter(col("doc_id") % 4 === 0)
      // planted RE-ENCODED duplicates: every 40th doc also arrives as a
      // byte-different NFC-equal clone (composed é on the source,
      // e + combining acute on the clone, id + 2 so the source arrives
      // first) — the in-stream canonicalize pass must dedup the pair;
      // without NFC the clone's shingle set differs and it would survive
      val docs = base
        .withColumn("text",
          when(col("doc_id") % 40 === 0, concat(col("text"), lit(" caf\u00e9")))
            .otherwise(col("text")))
        .unionByName(base.filter(col("doc_id") % 40 === 0)
          .select((col("doc_id") + 2L).as("doc_id"),
            concat(col("text"), lit(" cafe\u0301")).as("text")))
      // the ARRIVAL fixture (corpus split into two id-ordered files) is a
      // standing input, not part of the operator: built once per data dir
      // per session (shutdown-hook cleaned), so repeated bench runs
      // measure the ingest, not corpus-rewrite fixture prep
      val src = ingestFixture(docs, dir)
      val work = java.nio.file.Files.createTempDirectory("graft_ingest_").toString
      try {
        // bands=1 (16 rows/band): a candidate needs its FULL minhash
        // signature to match — guaranteed for the J=1 pairs this gate
        // dedups (identical shingle sets ⇒ identical signatures), and a
        // ~J^16 false-candidate rate keeps the verify join off the
        // corpus's merely-similar mass
        val kept = graft.streaming.CorpusIngest.runIngestAvailableNow(s, src,
          s"$work/idx", s"$work/sink", s"$work/ckpt", jaccardThreshold = 1.0,
          params = graft.operators.IncrementalDedup.Params(3, 16, 1),
          shufflePartitions = Some(8), canonicalize = true)
        val rows = kept.select("doc_id").orderBy("doc_id").collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*),
          kept.select("doc_id").schema)
      } finally
        try {
          val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(work))
          try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => java.nio.file.Files.delete(p))
          finally walk.close()
        } catch {
          case e: java.io.IOException =>
            System.err.println(s"[ingest] temp cleanup failed for $work: ${e.getMessage}")
        }
    },

    // CONTINUOUS EMBEDDING-side ingest, hash-verified end-to-end — the
    // vector twin of q_dedup_stream_ingest: the embedding corpus plus
    // planted EXACT clones (vec_id % 25 == 0 re-arrives as id + 10⁶)
    // drains in two id-ordered arrival files through EmbeddingIngest;
    // identical vectors share every hyperplane signature (collision
    // guaranteed at any banding) and verify at cosine ≈ 1 ≥ τ = 0.99,
    // while the fixture's max NATURAL pairwise cosine is 0.51 (measured)
    // — so the surviving set is exactly the original corpus, which the
    // oracle states relationally. A missed clone (LSH/verify false
    // negative) or a dropped original (false positive) breaks the hash.
    "q_embed_ingest" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val emb = t.embeddings.select(col("vec_id"), col("embedding"))
      val stream = emb.unionByName(emb.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      val src = embedIngestFixture(stream, dir)
      val work = java.nio.file.Files.createTempDirectory("graft_eingest_").toString
      try {
        val kept = graft.streaming.EmbeddingIngest.runIngestAvailableNow(
          s, src, s"$work/idx", s"$work/sink", s"$work/ckpt", dim = 64,
          threshold = 0.99, numPlanes = 18, numTables = 8,
          shufflePartitions = Some(8))
        val rows = kept.select("vec_id").orderBy("vec_id").collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*),
          kept.select("vec_id").schema)
      } finally
        try {
          val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(work))
          try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => java.nio.file.Files.delete(p))
          finally walk.close()
        } catch {
          case e: java.io.IOException =>
            System.err.println(s"[eingest] temp cleanup failed for $work: ${e.getMessage}")
        }
    },

    // Near-dup pairs → connected components → per-doc cluster + keep-list
    // (the step that actually dedups a corpus; min-id representative).
    "q_dedup_clusters" -> { (s, dir) =>
      val t = new Tables(s, dir)
      Dedup.nearDupClusters(t.documents, "doc_id", "text", n = 3,
        threshold = 0.2, minCommon = 2).orderBy("doc_id")
    },

    // Deterministic stratified content-hash sample (stable across runs,
    // partitioning, and cluster topology — unlike df.sample()).
    "q_sample" -> { (s, dir) =>
      val t = new Tables(s, dir)
      Sampling.stratifiedSample(t.documents,
        TextAnalysis.fingerprint(col("text")), col("lang"),
        Map("en" -> 0.25, "zh" -> 1.0), defaultRate = 0.5)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // Exact-k deterministic sample: the k smallest (scrambled-hash, id)
    // pairs — a row BUDGET, where rate sampling can only hit an
    // expectation. Plans as per-partition top-k (TakeOrderedAndProject).
    "q_sample_exactk" -> { (s, dir) =>
      val t = new Tables(s, dir)
      Sampling.exactKByHash(
          t.documents.select(col("doc_id"),
            TextAnalysis.fingerprint(col("text")).as("fp")),
          col("fp"), col("doc_id"), k = 200)
        .select("doc_id", "fp")
        .orderBy("doc_id")
    },

    // SimHash hamming-≤6 pairs — EXACT via the Manku 8-block/2-combo
    // construction (round 6; the old 4-chunk pigeonhole missed 39% of
    // true pairs at maxHamming=6). Gated: an independent brute-force
    // all-pairs pass over the bounded doc_id<256 subset must agree with
    // the op's output EXACTLY (both directions), the hamming bound must
    // hold corpus-wide, and the result must be non-empty. DuckDB cannot
    // compute xxhash64/SimHash, so the oracle emits the booleans as
    // literal TRUE — all four are deterministic (no RNG anywhere).
    "q_dedup_simhash" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      val pairs = Dedup.simhashPairsExact(docs, "doc_id", "text", maxHamming = 6)
        .stagePersist()
      val sigs = Dedup.simhashSigs(docs.filter(col("doc_id") < 256), "doc_id", "text")
      val a = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
      val b = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
      val bruteSub = a.join(broadcast(b), col("id_a") < col("id_b"))
        .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= 6)
        .select("id_a", "id_b")
        .stagePersist()
      val opSub = pairs.filter(col("id_a") < 256 && col("id_b") < 256)
        .select("id_a", "id_b")
      val nMissing = bruteSub.join(opSub, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("n_missing"))
      val nExtra = opSub.join(bruteSub, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("n_extra"))
      val bound = pairs.agg(
        coalesce(max(col("hamming")) <= 6, lit(true)).as("hamming_ok"),
        count(lit(1)).as("n_pairs"))
      broadcast(bound).crossJoin(broadcast(nMissing)).crossJoin(broadcast(nExtra))
        .select(
          (col("n_missing") === 0).as("subset_complete"),
          (col("n_extra") === 0).as("subset_exact"),
          col("hamming_ok"),
          (col("n_pairs") > 0).as("nonempty"))
    },

    // Embedding-cosine near-dup pairs via multi-table hyperplane LSH
    // (numPlanes=0 → adaptive from corpus size). Gated: n_strong = the
    // EXACT count of cos≥0.3 pairs inside the bounded vec_id<256 subset,
    // cross-checked against DuckDB's own sequential-fold arithmetic
    // (bit-exact — same construction the q_sim_knn oracle proves);
    // precision_ok pins every emitted pair's verified cosine ≥ threshold;
    // recall_ok pins subset recall on strong pairs ≥ 0.9 (measured 0.99
    // at sf0.01 with 8 tables; 16 tables since round 6).
    "q_dedup_embed" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val emb = t.embeddings
      val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
        dim = 64, threshold = 0.2).stagePersist()
      val sub = emb.filter(col("vec_id") < 256)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
        .stagePersist()
      val withNorm = sub.withColumn("nrm", Similarity.norm(col("vec")))
      val a = withNorm.select(col("id").as("id_a"), col("vec").as("va"), col("nrm").as("na"))
      val b = withNorm.select(col("id").as("id_b"), col("vec").as("vb"), col("nrm").as("nb"))
      val strong = a.join(broadcast(b), col("id_a") < col("id_b"))
        .withColumn("cos", graft.functions.VectorFunctions.vector_dot(col("va"), col("vb"))
          / (col("na") * col("nb")))
        .filter(col("cos") >= 0.3)
        .select("id_a", "id_b")
        .stagePersist()
      val nStrong = strong.agg(count(lit(1)).as("n_strong"))
      val nHit = pairs.filter(col("id_a") < 256 && col("id_b") < 256)
        .join(strong, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      val prec = pairs.agg(
        coalesce(min(col("cos")) >= 0.2, lit(true)).as("precision_ok"))
      broadcast(nStrong).crossJoin(broadcast(nHit)).crossJoin(broadcast(prec))
        .select(col("n_strong"), col("precision_ok"),
          (col("n_strong") === 0 ||
            col("n_hit") >= col("n_strong") * lit(0.9)).as("recall_ok"))
    },

    // SEMANTIC dedup (SemDeDup): k-means cells + within-cell exact cosine
    // — same gate construction as q_dedup_embed (bounded id<256 exact
    // twin at the STRONG threshold 0.3; the operator runs at 0.2).
    // Fixture note: these embeddings are ISOTROPIC (max pair cos ≈ 0.45),
    // the hardest case for cell-local dedup — the paper's actual regime
    // (tight semantic clusters, dup cos ≥ 0.9) co-cells near-trivially.
    // replicas=3 at the gate's nlist=8 holds recall at a measured 0.95 on
    // both the sf0.01 and sf0.1 fixtures (deterministic — the trainer and
    // assignment are seed-fixed); production runs scale nlist ≈ n/cell
    // with replicas constant, keeping in-cell pair work linear.
    "q_dedup_semantic" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val emb = t.embeddings
      val pairs = Similarity.semanticNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.2, nlist = 8, assignReplicas = 3).stagePersist()
      val sub = emb.filter(col("vec_id") < 256)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
        .stagePersist()
      val withNorm = sub.withColumn("nrm", Similarity.norm(col("vec")))
      val a = withNorm.select(col("id").as("id_a"), col("vec").as("va"), col("nrm").as("na"))
      val b = withNorm.select(col("id").as("id_b"), col("vec").as("vb"), col("nrm").as("nb"))
      val strong = a.join(broadcast(b), col("id_a") < col("id_b"))
        .withColumn("cos", graft.functions.VectorFunctions.vector_dot(col("va"), col("vb"))
          / (col("na") * col("nb")))
        .filter(col("cos") >= 0.3)
        .select("id_a", "id_b")
        .stagePersist()
      val nStrong = strong.agg(count(lit(1)).as("n_strong"))
      val nHit = pairs.filter(col("id_a") < 256 && col("id_b") < 256)
        .join(strong, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      val prec = pairs.agg(
        coalesce(min(col("cos")) >= 0.2, lit(true)).as("precision_ok"))
      broadcast(nStrong).crossJoin(broadcast(nHit)).crossJoin(broadcast(prec))
        .select(col("n_strong"), col("precision_ok"),
          (col("n_strong") === 0 ||
            col("n_hit") >= col("n_strong") * lit(0.9)).as("recall_ok"))
    },

    // INCREMENTAL embedding dedup: same construction as q_dedup_embed's
    // gate, but the pairs come from IncrementalAnn — a 25% delta slice
    // (vec_id % 4 = 0) queried against a persisted index of the other
    // 75%; the exact-twin comparison restricts to delta-touching pairs.
    "q_dedup_embed_incremental" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val emb = t.embeddings
      // standing input: the signature index builds once per data dir per
      // session (see SessionScratch) — bench measures the increment
      val work = SessionScratch.cached("incann", dir) { p =>
        graft.operators.IncrementalAnn.buildIndex(
          emb.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
          dim = 64, path = p)
      }
      locally {
        val pairs = graft.operators.IncrementalAnn.newBatchPairs(
            emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding", work,
            threshold = 0.2)
          .stagePersist()
        val sub = emb.filter(col("vec_id") < 256)
          .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
          .stagePersist()
        val withNorm = sub.withColumn("nrm", Similarity.norm(col("vec")))
        val strong = withNorm.select(col("id").as("id_a"), col("vec").as("va"), col("nrm").as("na"))
          .join(broadcast(withNorm.select(col("id").as("id_b"), col("vec").as("vb"),
            col("nrm").as("nb"))), col("id_a") < col("id_b"))
          .filter(col("id_a") % 4 === 0 || col("id_b") % 4 === 0)
          .withColumn("cos", graft.functions.VectorFunctions.vector_dot(col("va"), col("vb"))
            / (col("na") * col("nb")))
          .filter(col("cos") >= 0.3)
          .select("id_a", "id_b")
          .stagePersist()
        val nStrong = strong.agg(count(lit(1)).as("n_strong"))
        val nHit = pairs.filter(col("id_a") < 256 && col("id_b") < 256)
          .join(strong, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
        val prec = pairs.agg(
          coalesce(min(col("cos")) >= 0.2, lit(true)).as("precision_ok"))
        val out = broadcast(nStrong).crossJoin(broadcast(nHit)).crossJoin(broadcast(prec))
          .select(col("n_strong"), col("precision_ok"),
            (col("n_strong") === 0 ||
              col("n_hit") >= col("n_strong") * lit(0.9)).as("recall_ok"))
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      }
    },

    // BM25 ranked retrieval (targeted curation / retrieval-side
    // decontamination) — full-hash oracle: the rational idf and the
    // quantized-long score sum replay exactly in ANSI SQL (no libm).
    // Terms span the df spectrum of the synthetic vocabulary: 'dup' is
    // rare (df≈5%), 'vector' and 'batch' are common (df≈77/80%).
    "q_bm25" -> { (s, dir) =>
      val t = new Tables(s, dir)
      graft.operators.Retrieval.bm25TopK(t.documents, "doc_id", "text",
        Seq("dup", "vector", "batch"), k = 10)
    },

    // FROZEN-RANKER BM25 against the persisted term-stats index: new
    // docs (doc_id % 4 == 0) score with the HISTORICAL corpus's df/N/Σdl
    // (doc_id % 4 != 0), built in TWO batches so the merge-on-read sum
    // is under the full hash — the incremental-index backbone applied to
    // retrieval.
    "q_bm25_incremental" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      val hist = docs.filter(col("doc_id") % 4 =!= 0)
      val work = SessionScratch.cached("bm25idx", dir) { p =>
        graft.operators.Retrieval.buildTermStatsIndex(
          hist.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
        graft.operators.Retrieval.appendToTermStatsIndex(
          hist.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
      }
      graft.operators.Retrieval.scoreAgainstTermIndex(
        docs.filter(col("doc_id") % 4 === 0), "doc_id", "text",
        Seq("dup", "vector", "batch"), work, k = 10)
    },

    // TOP-K FROM THE POSTINGS INDEX — the key closing the retrieval
    // loop's last O(corpus) cost: the index is built in TWO batches
    // (merge-on-read additivity under the hash), and the query touches
    // only the three terms' postings (pushed In filter) + the ptotals
    // sum — never a corpus scan or tokenize. Row-for-row equal to the
    // scan-form bm25TopK at this k (every top-12 score is positive).
    "q_bm25_index_topk" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      val work = SessionScratch.cached("bm25post", dir) { p =>
        graft.operators.Retrieval.buildPostingsIndex(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
        graft.operators.Retrieval.appendToPostingsIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
      }
      graft.operators.Retrieval.topKFromIndex(s, work,
        Seq("dup", "vector", "batch"), k = 12)
    },

    // MULTI-QUERY batched BM25: two audit queries (overlapping df
    // spectra) scored in ONE corpus pass, per-query top-5 via the
    // window top-k shape — the benchmark-suite regime where a per-query
    // loop would pay q corpus scans.
    "q_bm25_batch" -> { (s, dir) =>
      val t = new Tables(s, dir)
      import s.implicits._
      val qs = Seq(
        ("qa", "dup"), ("qa", "vector"), ("qa", "batch"),
        ("qb", "table"), ("qb", "row"), ("qb", "scan"))
        .toDF("query_id", "term")
      graft.operators.Retrieval.bm25TopKBatch(t.documents, "doc_id",
        "text", qs, "query_id", "term", k = 5)
    },

    // The batched PROBE form: the same two queries answered from the
    // postings store with NO corpus pass at all (one In-filtered probe of
    // the union term set) — must equal q_bm25_batch exactly, which the
    // shared oracle SQL enforces under the hash.
    "q_bm25_index_batch" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      val work = SessionScratch.cached("bm25post", dir) { p =>
        graft.operators.Retrieval.buildPostingsIndex(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
        graft.operators.Retrieval.appendToPostingsIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
      }
      import s.implicits._
      val qs = Seq(
        ("qa", "dup"), ("qa", "vector"), ("qa", "batch"),
        ("qb", "table"), ("qb", "row"), ("qb", "scan"))
        .toDF("query_id", "term")
      graft.operators.Retrieval.topKFromIndexBatch(s, work,
        qs, "query_id", "term", k = 5)
    },

    // RETRACTION (takedown) under the full hash: the postings index is
    // built in two batches, then ~14% of the docs (doc_id % 7 = 3) are
    // RETRACTED — a negative ptotals correction + tombstones, never an
    // index rewrite — and the top-k must equal a scan over the surviving
    // corpus exactly (df from surviving postings, N/Σdl from the summed
    // correction). The production right-to-be-forgotten story.
    "q_bm25_retract" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      val work = SessionScratch.cached("bm25postr", dir) { p =>
        graft.operators.Retrieval.buildPostingsIndex(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
        graft.operators.Retrieval.appendToPostingsIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
        graft.operators.Retrieval.retractFromPostingsIndex(
          docs.filter(col("doc_id") % 7 === 3), "doc_id", "text", p)
      }
      graft.operators.Retrieval.topKFromIndex(s, work,
        Seq("dup", "vector", "batch"), k = 12)
    },

    // Retraction on the TERM-STATS store: the frozen ranker's history
    // loses a slice by a NEGATIVE stat delta (df/tl are additive), and
    // new-batch scores must equal a fresh index built on the surviving
    // history — the same IEEE tree, so the whole algebra is under the
    // hash.
    "q_bm25_stats_retract" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      val hist = docs.filter(col("doc_id") % 4 =!= 0)
      val work = SessionScratch.cached("bm25idxr", dir) { p =>
        graft.operators.Retrieval.buildTermStatsIndex(
          hist.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
        graft.operators.Retrieval.appendToTermStatsIndex(
          hist.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
        graft.operators.Retrieval.retractFromTermStatsIndex(
          hist.filter(col("doc_id") % 5 === 1), "doc_id", "text", p)
      }
      graft.operators.Retrieval.scoreAgainstTermIndex(
        docs.filter(col("doc_id") % 4 === 0), "doc_id", "text",
        Seq("dup", "vector", "batch"), work, k = 10)
    },

    // EXACT-PHRASE matches from the POSITIONAL index — the verbatim
    // decontamination question ("which indexed docs contain this exact
    // token sequence") answered from the phrase tokens' position rows
    // alone, never a corpus scan. Built in two batches (merge-on-read
    // under the hash); the phrase is PERIODIC ('a a') so the overlap
    // semantics — every start offset counts — are themselves under the
    // oracle hash.
    "q_phrase_index" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      val work = SessionScratch.cached("phraseidx", dir) { p =>
        graft.operators.Retrieval.buildPositionalIndex(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
        graft.operators.Retrieval.appendToPositionalIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
      }
      graft.operators.Retrieval.phraseMatches(s, work, Seq("a", "a"))
    },

    // The BATCHED phrase form: a 2-needle decontamination suite answered
    // from the positional store in ONE probe of the union token set —
    // per-phrase rows must equal the single-phrase loop, which the
    // composed oracle pins under the hash (one leg per needle).
    "q_phrase_batch" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      val work = SessionScratch.cached("phraseidx", dir) { p =>
        graft.operators.Retrieval.buildPositionalIndex(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
        graft.operators.Retrieval.appendToPositionalIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
      }
      import s.implicits._
      val q = Seq(("pa", 0, "a"), ("pa", 1, "a"),
        ("pb", 0, "vector"), ("pb", 1, "batch"))
        .toDF("phrase_id", "slot", "token")
      graft.operators.Retrieval.phraseMatchesBatch(s, work, q,
        "phrase_id", "slot", "token")
    },

    // The GOVERNED batched phrase form: the df probe routes the heavy
    // needle (3 periodic tokens ≈ 10% of the corpus token stream — the
    // near-uniform synthetic vocabulary makes LENGTH the cost axis) to
    // the one-pass scan twin and keeps the light bigram (≈ 6.6%) on the
    // index probe, at hotFraction 0.085 between the two bands (the
    // distribution is scale-free, so the split holds at every sf). The
    // oracle is route-blind scan SQL, so BOTH routes sit under the hash.
    "q_phrase_batch_auto" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      val work = SessionScratch.cached("phraseidx", dir) { p =>
        graft.operators.Retrieval.buildPositionalIndex(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
        graft.operators.Retrieval.appendToPositionalIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
      }
      import s.implicits._
      val q = Seq(("pa", 0, "a"), ("pa", 1, "a"), ("pa", 2, "a"),
        ("pb", 0, "vector"), ("pb", 1, "batch"))
        .toDF("phrase_id", "slot", "token")
      graft.operators.Retrieval.phraseMatchesBatchAuto(s, work, q,
        "phrase_id", "slot", "token", docs, "doc_id", "text",
        hotFraction = 0.085)
    },

    // INDEX-side decontamination: q_decontaminate's exact semantics
    // (distinct shared 3-grams vs the doc_id % 97 benchmark) answered
    // from the per-doc GRAM-POSTINGS store — the repeated-audit regime
    // where each new benchmark suite is one broadcast semi-join against
    // the standing store, never a corpus scan/tokenize/shingle. The
    // oracle is the q_decontaminate tree restricted to flagged docs, so
    // route equality sits under the hash. Built in two batches.
    "q_decontaminate_index" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      // tag must be unique ACROSS query modules: CompareQueries' Scratch
      // owns "gramidx" (the CorpusCompare gram-COUNT index, a different
      // layout) and both registries share the tmpdir naming scheme — a
      // shared tag means first-builder-wins and the second key reads the
      // wrong store (caught by the r11 full-suite bench: PATH_NOT_FOUND
      // on gparams)
      val work = SessionScratch.cached("gpostidx", dir) { p =>
        Decontaminate.buildGramPostingsIndex(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", p, n = 3)
        Decontaminate.appendToGramPostingsIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
      }
      val bench = docs.filter(col("doc_id") % 97 === 0)
      Decontaminate.flagContaminatedFromIndex(s, work, bench, "text",
        minOverlap = 2)
    },

    // SUITE-level ranking evaluation: per-query hits/precision/RR rows
    // for the batched retrieval run against per-query relevance sets —
    // the TREC shape whose mean is the suite MRR. Closes the
    // batch-retrieve → batch-eval loop in two operators.
    "q_retrieval_eval_batch" -> { (s, dir) =>
      val t = new Tables(s, dir)
      import s.implicits._
      val qs = Seq(
        ("qa", "dup"), ("qa", "vector"), ("qa", "batch"),
        ("qb", "table"), ("qb", "row"), ("qb", "scan"))
        .toDF("query_id", "term")
      val ranked = graft.operators.Retrieval.bm25TopKBatch(t.documents,
        "doc_id", "text", qs, "query_id", "term", k = 20)
      val toks = TextAnalysis.tokens(col("text"))
      val relevant = t.documents
        .filter(array_contains(toks, "dup"))
        .select(lit("qa").as("query_id"), col("doc_id"))
        .unionByName(t.documents
          .filter(array_contains(toks, "row"))
          .select(lit("qb").as("query_id"), col("doc_id")))
      graft.operators.Retrieval.evalRankingBatch(ranked, relevant,
        "query_id", "doc_id", "rank", n = 10)
    },

    // RANKING-quality evaluation closing the retrieval loop: MRR +
    // precision@10 of the BM25 top-20 against the docs that actually
    // contain the rare term 'dup' — the audit a decontamination ranker
    // gets before anyone trusts its keep/drop lists.
    "q_retrieval_eval" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val ranked = graft.operators.Retrieval.bm25TopK(t.documents,
        "doc_id", "text", Seq("dup", "vector", "batch"), k = 20)
      val relevant = t.documents
        .filter(array_contains(TextAnalysis.tokens(col("text")), "dup"))
        .select("doc_id")
      graft.operators.Retrieval.evalRanking(ranked, relevant,
        "doc_id", "rank", n = 10)
    },

    // HYBRID retrieval: reciprocal-rank fusion (Cormack 2009, c=60) of
    // the BM25 top-60 and the embedding-kNN top-60 around doc/vec 0 —
    // the lexical+semantic combiner a decontamination audit actually
    // runs. Both rankers are exact and oracle-proven; the fusion is
    // integer-quantized rank arithmetic, so the whole chain full-hashes.
    "q_hybrid_rank" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val lex = graft.operators.Retrieval.bm25TopK(t.documents, "doc_id",
        "text", Seq("dup", "vector", "batch"), k = 60)
      val sem = Similarity.bruteForceTopK(t.embeddings,
          t.embeddings.filter(col("vec_id") === 0), "vec_id", "embedding",
          k = 60)
        .select(col("n_id").as("doc_id"), col("rank"))
      graft.operators.Retrieval.rrfFuse(lex, sem, "doc_id", "rank", k = 10)
    },

    // k-means ASSIGNMENT as a first-class operator (topic bucketing /
    // IVF coarse quantization) — deterministic lowest-id centroids, the
    // CentroidTopCells kernel map-side, full-hash oracle via the proven
    // sequential-fold dot construction (the q_sim_knn twin).
    "q_cluster_assign" -> { (s, dir) =>
      val t = new Tables(s, dir)
      graft.operators.Clustering.assignProfile(
        t.embeddings, "vec_id", "embedding", k = 8)
    },

    // Full Lloyd TRAINING summary, driver-gated (centroid floats are
    // engine-specific iterative results no SQL engine replays): the
    // monotonicity theorem (objective non-decreasing vs seeds), the
    // partition invariant, and occupancy bounds ride as booleans.
    "q_cluster_train" -> { (s, dir) =>
      val t = new Tables(s, dir)
      graft.operators.Clustering.kmeansSummary(
        t.embeddings, "vec_id", "embedding", k = 16, iters = 3)
    },

    // Cluster-STRATIFIED quota — the mixture-design composition as one
    // full-hash key: fixed lowest-8-id centroids (the q_cluster_assign
    // oracle construction) assign every vector a cell via the public
    // `assignments` surface, then `groupQuota` keeps ≤20 per cell by the
    // deterministic content-hash order (fingerprint of the id digits —
    // the q_quota scramble, replayed char-fold in SQL). The per-cluster
    // sampling step every topic-balanced data card runs.
    "q_cluster_quota" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val emb = t.embeddings
      val cents = emb.orderBy(col("vec_id")).limit(8)
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val assigned = graft.operators.Clustering.assignments(
        emb, "vec_id", "embedding", cents)
      graft.operators.Sampling.groupQuota(assigned, col("cell"),
          TextAnalysis.fingerprint(col("id").cast("string")), col("id"),
          k = 20)
        .select(col("id").as("vec_id"), col("cell"))
        .orderBy("vec_id")
    },

    // Brute-force cosine top-k (exact ANN baseline) — ranks are
    // oracle-comparable because all arithmetic is sequential double folds
    // (native VectorDot loop == DuckDB list_reduce left fold, bit-exact).
    "q_sim_knn" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val queries = t.embeddings.filter(col("vec_id") < 8)
      Similarity.bruteForceTopK(t.embeddings, queries, "vec_id", "embedding", k = 5)
        .select("q_id", "n_id", "rank")
        .orderBy("q_id", "rank")
    },

    // Multi-table LSH ANN (the 100 TB scale path). Driver-gated: each
    // query's top-3 is scored against the EXACT brute-force top-3 (the
    // q_sim_knn production baseline — linear, query side broadcast);
    // recall_ok = at least 2 of 3 exact neighbors recovered per query
    // (measured 3/3 on every query at sf0.01; deterministic — fixed
    // seeds, no RNG at eval time). OperatorSpec keeps the ≥0.9 overall
    // recall pin.
    "q_sim_lsh" -> { (s, dir) =>
      val t = new Tables(s, dir)
      annRecallGate(t.embeddings,
        (emb, q) => Similarity.lshTopK(emb, q, "vec_id", "embedding", dim = 64, k = 3))
    },

    // Top-k similarity search against the PERSISTED ANN index — the
    // vector twin of q_bm25_index_topk: the standing signature store
    // answers neighbor queries without re-projecting the corpus (the
    // measured dominant cost of the in-memory form at scale). Same
    // recall gate as q_sim_lsh; row-for-row equality with lshTopK at the
    // pinned width is spec-pinned.
    "q_ann_index_topk" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val emb = t.embeddings
      val work = SessionScratch.cached("annidx", dir) { p =>
        graft.operators.IncrementalAnn.buildIndex(
          emb, "vec_id", "embedding", dim = 64, path = p)
      }
      annRecallGate(emb, (_, q) =>
        graft.operators.IncrementalAnn.topK(q, "vec_id", "embedding",
          work, k = 3))
    },

    // The capstone corpus-build pipeline, composed from the operators
    // above: language/quality filter → near-dup cluster keep-list →
    // deterministic content-hash sample. One declarative plan — Catalyst
    // fuses the per-row stages into the scan; only the dedup keep-list
    // shuffles.
    "q_pipeline" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      val keep = Dedup.nearDupClusters(docs, "doc_id", "text")
        .filter(col("keep")).select(col("doc_id").as("k_id"))
      // the four per-doc signals are STAGED before the filter: Catalyst
      // pushes the lang/alpha/rate predicate below the projection and
      // would otherwise duplicate every tokenizer-bearing expression into
      // BOTH the filter and the output row (the r13 q_pipeline plan read
      // ~40 split() runs per row — langId's CASE references each marker
      // count ~5×, each count re-tokenizes, and the filter doubled it
      // all); the narrow persisted frame computes each signal once per
      // row. (An expression-level let-binding inside langId was tried
      // instead and MEASURED SLOWER — nested-HOF interpretation overhead
      // beats the saved evaluations at fixture document lengths — so the
      // staging barrier, the house pattern, is the fix.)
      val sig = Staging.stage(Staging.widen(docs).select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.alphaRatio(col("text")).as("alpha_ratio"),
        TextAnalysis.fingerprint(col("text")).as("fp")))
      sig
        .join(keep, col("doc_id") === col("k_id"), "left_semi")
        .filter(col("lang_pred") === "en" && col("alpha_ratio") > 0.4 &&
          Sampling.keepByRate(col("fp"), 0.5))
        .select("doc_id", "lang_pred", "n_tokens")
        .orderBy("doc_id")
    },

    // Capstone v2 — the corpus HYGIENE pipeline, composing the round-5
    // operators end-to-end: repetition-quality filter → benchmark
    // decontamination (broadcast) → corpus-level substring removal →
    // exact dedup of the CLEANED text (min-id keep-list). One declarative
    // plan; per-row stages fuse, the only corpus shuffles carry digests,
    // ids, and counts.
    "q_pipeline_hygiene" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val base = t.documents
      // planted RE-ENCODED duplicate pair: every 50th doc gets a composed
      // é suffix, and a byte-different NFC-equal clone (e + combining
      // acute, id + 1000000) joins the corpus — the canonicalized content
      // identity below must collapse the pair at the exact-dedup stage
      // (raw-byte hashing would keep both).
      val docs0 = base
        .withColumn("text",
          when(col("doc_id") % 50 === 0, concat(col("text"), lit(" caf\u00e9")))
            .otherwise(col("text")))
        .unionByName(base.filter(col("doc_id") % 50 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L))
          .withColumn("text", concat(col("text"), lit(" cafe\u0301"))))
      // hygiene operates on the CANONICAL text (NFC + whitespace collapse)
      // — the content identity every downstream stage hashes
      val docs = docs0.select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("text"))
      // text is cached ONCE (in toks); the gram stage persists only what
      // its lambdas read, and survivors join the text back from the cache
      val toks = Staging.widen(docs)
        .select(col("doc_id"), col("text"), Dedup.tokens(col("text")).as("toks"))
        .stagePersist()
      val grams = toks
        .select(col("doc_id"), col("toks"),
          Dedup.ngramsFromTokens(col("toks"), 2).as("g2"))
        .stagePersist()
      val passRep = grams.filter(
          TextAnalysis.duplicateTokenFractionFromTokens(col("toks")) < 0.6 &&
          TextAnalysis.topNgramFractionFromGrams(col("g2")) < 0.15)
        .select("doc_id")
        .join(toks.select("doc_id", "text"), Seq("doc_id"))
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val cleanFlags = Decontaminate.flagContaminated(passRep, "doc_id", "text",
        bench, "text", n = 3, minOverlap = 2)
      val surviving = passRep.join(
        cleanFlags.filter(!col("contaminated")).select("doc_id"), Seq("doc_id"))
      // both the keep-list and the final projection read the cleaned frame:
      // persist it so the window-count shuffles run once, not twice
      val cleaned = Dedup.removeRepeatedWindows(surviving, "doc_id", "text", w = 10)
        .stagePersist()
      val keep = Dedup.exact(cleaned, "doc_id", "clean").select("doc_id")
      cleaned.join(keep, Seq("doc_id"), "left_semi")
        .select("doc_id", "clean", "n_removed")
        .orderBy("doc_id")
    },

    // Semi-structured extraction: JSON props column → typed value →
    // grouped stats (get_json_object is codegen'd; no UDF).
    // Data profiling — per-column row/null/distinct/min/max over
    // `documents` (Profile.profile, the exact surface; profileApprox is
    // the 100 TB default, spec-pinned). One scan, one aggregate job.
    "q_profile" -> { (s, dir) =>
      val t = new Tables(s, dir)
      graft.operators.Profile
        .profile(t.documents, Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy("column")
    },

    "q_json_props" -> { (s, dir) =>
      val t = new Tables(s, dir)
      t.events
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")
    },

    // Range join: for each error event, how many clicks the same user
    // made within ±5 minutes (bucketized equi-join, not a theta join).
    "q_range" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val errors = t.events.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id").as("e_id"))
      val clicks = t.events.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      val near = RangeJoin.pairsWithin(errors, clicks, Seq("user_id"), "ts", "ts", 300)
        .groupBy("e_id").agg(count(lit(1)).as("n_close"))
      errors.join(near, Seq("e_id"), "left")
        .select(col("e_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          coalesce(col("n_close"), lit(0L)).as("n_close"))
        .orderBy("e_id")
    },

    // As-of join: each purchase enriched with the user's most recent
    // prior-or-equal view. ts emitted as epoch micros (never raw nanos).
    "q_asof" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val purchases = t.events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_event_id"))
      val views = t.events.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("v_event_id"))
      AsOf.asofJoin(purchases, views, Seq("user_id"), "ts", Seq("v_event_id"))
        .select(col("p_event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("asof_v_event_id").as("v_event_id"))
        .orderBy("p_event_id")
    },

    // Int8 embedding quantization, verified through integer digests
    // (q-sum, saturation count) plus the rounded scale — array hashing
    // pitfalls avoided, arithmetic exact on both engines.
    "q_quantize" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val staged = t.embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .stagePersist()
        .withColumn("s", Similarity.quantScale(col("v")))
        .stagePersist()
      staged.withColumn("q", Similarity.quantizeInt8(col("v"), col("s")))
        .select(col("vec_id"), round(col("s"), 6).as("scale6"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          size(filter(col("q"), x => abs(x) === 127)).cast("long").as("n_sat"))
        .orderBy("vec_id")
    },

    // IVF ANN (coarse-quantizer scale path), gated like q_sim_lsh:
    // per-query ≥2-of-3 recall vs the exact brute-force ranking
    // (measured min 2/3 at sf0.01 — one boundary query probes past
    // nprobe=4 cells; deterministic seeding so no flap).
    "q_sim_ivf" -> { (s, dir) =>
      val t = new Tables(s, dir)
      annRecallGate(t.embeddings,
        (emb, q) => Similarity.ivfTopK(emb, q, "vec_id", "embedding",
          k = 3, nlist = 16, nprobe = 4))
    },

    // PERSISTED IVF-cell ANN over the full lifecycle — build on half the
    // vectors (the codebook freezes there), append the rest under the
    // frozen quantizer, RETRACT a slice (vec_id % 9 == 8 — keeps the
    // gate's query ids 0..7 indexed), then probe: the standard
    // high-recall ANN route (trained cells adapt where hyperplane
    // buckets skew), gated per query at ≥2-of-3 recall vs the exact
    // brute-force ranking over the SURVIVING corpus. Route equality with
    // ivfTopK at the same codebook is spec-pinned bitwise.
    "q_ann_ivf_index" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val emb = t.embeddings
      val work = SessionScratch.cached("ivfidx", dir) { p =>
        graft.operators.IvfIndex.buildIndex(
          emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
          dim = 64, path = p, nlist = 16, iters = 2, assignReplicas = 3)
        graft.operators.IvfIndex.appendBatch(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", p)
        graft.operators.IvfIndex.retract(s, p,
          emb.filter(col("vec_id") % 9 === 8).select("vec_id"))
      }
      // nprobe 6 (not the in-memory key's 4): the codebook here froze on
      // HALF the corpus, so cell boundaries sit slightly off the full
      // distribution — one sf0.1 query probes past 4 cells (measured);
      // widening the probe is exactly the recall knob IVF reserves for a
      // frozen quantizer
      annRecallGate(emb.filter(col("vec_id") % 9 =!= 8), (_, q) =>
        graft.operators.IvfIndex.topK(q, "vec_id", "embedding", work,
          k = 3, nprobe = 6))
    },

    // Trainable quality classifier GATE: plant a degradation (a 30×
    // repeated junk token wrecking the dup-fraction/stopword metrics) on
    // every doc_id%3==0 document, train logistic regression by
    // decimal-deterministic batch GD on the %5!=0 split, and require
    // ≥90% holdout accuracy on the %5==0 split. The oracle pins the
    // holdout size exactly and the accuracy bar as the contract.
    "q_quality_model" -> { (s, dir) =>
      val t = new Tables(s, dir)
      import graft.operators.QualityModel
      val degraded = concat(col("text"), lit(" "),
        array_join(array_repeat(lit("zzqj"), 60), " "))
      val labeled = t.documents.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, degraded).otherwise(col("text")).as("text"),
        (col("doc_id") % 3 === 0).cast("int").as("y"))
      val feat = labeled
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("toks"), col("y"))
        .stagePersist() // staging barrier: tokenize once per row
        .select(col("doc_id"),
          QualityModel.featuresFromTokens(col("text"), col("toks")).as("x"),
          col("y"))
      val w = QualityModel.trainLogistic(
        feat.filter(col("doc_id") % 5 =!= 0), col("x"), col("y"), dim = 6)
      val pred = feat.filter(col("doc_id") % 5 === 0)
        .select(col("y"),
          (QualityModel.score(col("x"), w) >= 0.5).cast("int").as("p"))
      pred.agg(count(lit(1)).as("n_test"),
          sum(when(col("p") === col("y"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("n_test"),
          (col("n_correct") >= col("n_test") * lit(0.9)).as("acc_ok"))
    },

    // Corpus-wide n-gram novelty: share of each doc's shingles unique to
    // it (df = 1) — the boilerplate detector's corpus-level complement.
    "q_novelty" -> { (s, dir) =>
      val t = new Tables(s, dir)
      TextAnalysis.novelty(t.documents, "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },

    // Stupid-backoff bigram LM scoring, self-trained on the corpus — the
    // CCNet-style LM quality filter: mean per-token transition score,
    // quantized to 1e-9 units so the mean is partition-order-independent.
    "q_lm_score" -> { (s, dir) =>
      val t = new Tables(s, dir)
      graft.operators.LanguageModel
        .lmScore(Staging.widen(t.documents), "doc_id", "text")
        .orderBy("doc_id")
    },

    // TRIGRAM stupid backoff, self-trained — the production LM-filter
    // order (two backoff hops: trigram → 0.4·bigram → 0.16·unigram);
    // the full model algebra is under the hash like q_lm_score's.
    "q_lm_score3" -> { (s, dir) =>
      val t = new Tables(s, dir)
      graft.operators.LanguageModel
        .lmScore3(Staging.widen(t.documents), "doc_id", "text")
        .orderBy("doc_id")
    },

    // CCNet head/middle/tail bucketing over the self-trained LM score +
    // per-bucket deterministic sampling (head kept whole, middle half,
    // tail trickle). Gate = canonical-fingerprint scramble, same as every
    // sampler/split, so a re-encoded re-crawl keeps identically.
    "q_lm_buckets" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = Staging.widen(t.documents)
      val scored = graft.operators.LanguageModel.lmScore(docs, "doc_id", "text")
      val fp = docs.select(col("doc_id"),
        TextAnalysis.canonicalFingerprint(col("text")).as("_fp"))
      graft.operators.LanguageModel.bucketSample(
          scored.join(fp, Seq("doc_id")), col("lm_score"), col("_fp"),
          tTail = 0.0335, tHead = 0.0344,
          rates = Map("head" -> 1.0, "middle" -> 0.5, "tail" -> 0.1))
        .select("doc_id", "n_tok", "lm_score", "bucket", "kept")
        .orderBy("doc_id")
    },

    // BPE trainer core surface: the level-0 adjacent-symbol-pair count
    // table (chars + </w>), weighted by word frequency — exactly the
    // aggregation every merge iteration argmaxes over. Top-50 under a
    // TOTAL order (count desc, l, r). The iterative trainer itself is
    // spec-pinned (Bpe.train on a hand-computed corpus) + laddered.
    "q_bpe" -> { (s, dir) =>
      val t = new Tables(s, dir)
      graft.operators.Bpe.pairCounts(Staging.widen(t.documents), col("text"))
        .orderBy(col("n_occ").desc, col("l"), col("r"))
        .limit(50)
    },

    // Language ID + quality metrics + token counts per document. Tokens
    // stage ONCE through a persisted projection; the four token-based
    // metrics read the attribute instead of re-splitting per metric.
    "q_text_stats" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val staged = Staging.widen(t.documents)
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("toks"))
        .stagePersist()
      staged.select(
        col("doc_id"),
        TextAnalysis.langIdFromTokens(col("toks")).as("lang_pred"),
        TextAnalysis.tokenCountFromTokens(col("toks")).as("n_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"),
        TextAnalysis.meanTokenLengthFromTokens(col("toks")).as("mean_tok_len"),
        TextAnalysis.stopwordRatioFromTokens(col("toks")).as("stop_ratio"),
        TextAnalysis.alphaRatio(col("text")).as("alpha_ratio")
      ).orderBy("doc_id")
    },

    // Sequence packing: shard-local fixed-token-budget bin assignment —
    // the batch-construction step of a training pipeline (bins never
    // cross shards; shard + order + bin all content-addressed, so the
    // packing is identical on every rerun and cluster layout).
    "q_pack" -> { (s, dir) =>
      val t = new Tables(s, dir)
      graft.operators.Packing.packByBudget(t.documents, "doc_id", "text",
        budget = 512, shards = 8).orderBy("doc_id")
    },

    // Deterministic train/val/test split by CANONICAL content hash
    // (98/1/1): a document lands in the same split on every rerun; exact
    // copies — including re-encoded (NFC-equal) ones — can never straddle
    // splits.
    "q_split" -> { (s, dir) =>
      val t = new Tables(s, dir)
      t.documents.select(col("doc_id"),
        Sampling.assignSplit(TextAnalysis.canonicalFingerprint(col("text")),
            0.98, 0.01)
          .as("split"))
        .orderBy("doc_id")
    },

    // Rolling-hash document fingerprint (content-defined identity).
    "q_text_fingerprint" -> { (s, dir) =>
      val t = new Tables(s, dir)
      t.documents.select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")
      ).orderBy("doc_id")
    },

    // Gopher-style repetition metrics (duplicate-token fraction, top
    // 2-/3-gram occupancy) — the looping-document pre-filter. Tokens and
    // gram arrays stage through persisted projections (the hot-path
    // staging rule): the occupancy lambdas read attributes per element,
    // never re-running the tokenizer.
    "q_quality_rep" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val toks = Staging.widen(t.documents)
        .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
        .stagePersist()
      val grams = toks
        .select(col("doc_id"), col("toks"),
          Dedup.ngramsFromTokens(col("toks"), 2).as("g2"),
          Dedup.ngramsFromTokens(col("toks"), 3).as("g3"))
        .stagePersist()
      grams.select(
        col("doc_id"),
        TextAnalysis.duplicateTokenFractionFromTokens(col("toks")).as("dup_tok_frac"),
        TextAnalysis.topNgramFractionFromGrams(col("g2")).as("top2_frac"),
        TextAnalysis.topNgramFractionFromGrams(col("g3")).as("top3_frac")
      ).orderBy("doc_id")
    },

    // Corpus-level repeated-window removal (Lee et al. 2022 substring
    // dedup at token-window granularity).
    "q_dedup_substring" -> { (s, dir) =>
      val t = new Tables(s, dir)
      Dedup.removeRepeatedWindows(t.documents, "doc_id", "text", w = 10)
        .orderBy("doc_id")
    },

    // Benchmark decontamination: corpus docs sharing ≥2 3-gram shingles
    // with the (broadcast) benchmark subset get flagged.
    "q_decontaminate" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val bench = t.documents.filter(col("doc_id") % 97 === 0)
      Decontaminate.flagContaminated(t.documents, "doc_id", "text",
        bench, "text", n = 3, minOverlap = 2).orderBy("doc_id")
    },

    // Overlap-FRACTION decontamination: the size-normalized form (an
    // absolute count over-flags long documents) — share of each doc's
    // own shingles found in the benchmark set, thresholded at 30%.
    "q_decontaminate_frac" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val bench = t.documents.filter(col("doc_id") % 97 === 0)
      Decontaminate.overlapFraction(t.documents, "doc_id", "text",
        bench, "text", n = 3, minFrac = 0.3).orderBy("doc_id")
    },

    // Bloom-filter decontamination GATE (cross-corpus shape: the probe
    // set as fixed-size bits instead of a broadcast set). Bloom has NO
    // false negatives, so recall vs the exact operator must be EXACTLY
    // total; the fpp tax is bounded by max(5, 1% of docs) over-flags.
    "q_decontaminate_bloom" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val bloom = Decontaminate.benchmarkShingleBloom(bench, "text",
        n = 3, fpp = 1e-4)
      val exact = Decontaminate.flagContaminated(docs, "doc_id", "text",
          bench, "text", n = 3, minOverlap = 2)
        .filter(col("contaminated")).select("doc_id").stagePersist()
      val flagged = Decontaminate.flagContaminatedBloom(docs, "doc_id", "text",
          bloom, n = 3, minOverlap = 2)
        .filter(col("contaminated")).select("doc_id").stagePersist()
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      val nFn = exact.join(flagged, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_fn"))
      val nFlag = flagged.agg(count(lit(1)).as("n_flagged"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      broadcast(nExact).crossJoin(broadcast(nFn))
        .crossJoin(broadcast(nFlag)).crossJoin(broadcast(nDocs))
        .select(col("n_exact"),
          (col("n_fn") === 0).as("recall_total"),
          (col("n_flagged") <= col("n_exact") +
            greatest(lit(5L), (col("n_docs") * lit(0.01)).cast("long")))
            .as("fp_bounded"))
    },

    // FUZZY decontamination gate: MinHash/LSH near-dup (corpus, bench)
    // pairs, exact-Jaccard verified at τ=0.5, vs DuckDB's exact cross
    // pair twin — precision must be total (the verify is exact), recall
    // ≥ 0.75 on the ≥2-common exact set (the q_dedup_minhash banding
    // contract, cross-corpus).
    "q_decontaminate_fuzzy" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val fz = Decontaminate.fuzzyContaminationPairs(docs, "doc_id", "text",
          bench, "doc_id", "text", threshold = 0.5)
        .select(col("id").as("id_a"), col("bench_id").as("id_b"))
        .stagePersist()
      // exact cross twin: inverted-index join, bench side broadcast
      val dsh = Dedup.shingleFrame(docs, "doc_id", "text", 3)
      val dinv = dsh.select(col("id").as("id_a"), col("n_sh").as("na"),
        explode(col("sh")).as("shingle"))
      val binv = dsh.filter(col("id") % 97 === 0)
        .select(col("id").as("id_b"), col("n_sh").as("nb"),
          explode(col("sh")).as("shingle"))
      val pairsAll = dinv.join(broadcast(binv), "shingle")
        .groupBy("id_a", "id_b", "na", "nb").agg(count(lit(1)).as("common"))
        .withColumn("jaccard", col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double"))
        .stagePersist()
      val exact = pairsAll.filter(col("jaccard") >= 0.5)
      val exact2 = exact.filter(col("common") >= 2).select("id_a", "id_b")
      val nExact = exact2.agg(count(lit(1)).as("n_exact"))
      val nHit = fz.join(exact2, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      val nPrecMiss = fz.join(exact.select("id_a", "id_b"),
          Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("n_miss"))
      broadcast(nExact).crossJoin(broadcast(nHit)).crossJoin(broadcast(nPrecMiss))
        .select(col("n_exact"),
          (col("n_miss") === 0).as("precision_ok"),
          (col("n_exact") === 0 ||
            col("n_hit") >= col("n_exact") * lit(0.75)).as("recall_ok"))
    },

    // Keep-BEST cluster representatives: near-dup clusters on a 25%
    // slice (the composition gate — the cluster build's own scale story
    // lives with q_dedup_clusters), then one partial-aggregating
    // groupBy keeps the longest member per cluster (ties → min id).
    "q_dedup_keepbest" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val docs = t.documents.filter(col("doc_id") % 4 === 1)
      val cl = Dedup.nearDupClusters(docs, "doc_id", "text",
          n = 3, threshold = 0.2, minCommon = 2)
        .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      Dedup.clusterRepresentatives(cl, "doc_id", "n_chars")
        .orderBy("cluster")
    },

    // PII redaction: deterministic synthetic PII (the corpus itself is
    // clean) appended per doc, then scrubbed + counted — verifies the
    // regex surface byte-for-byte against the oracle's RE2.
    "q_redact" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val piiText = concat(
        substring(col("text"), 1, 40),
        lit(" u"), col("doc_id").cast("string"),
        lit("@example.com call 555-010-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" ip 10."), (col("doc_id") % 256).cast("string"), lit(".0."),
        ((col("doc_id") * 7) % 256).cast("string"))
      t.documents.select(
        col("doc_id"),
        Redact.scrub(piiText).as("clean"),
        Redact.emailCount(piiText).cast("long").as("n_email"),
        Redact.phoneCount(piiText).cast("long").as("n_phone"),
        Redact.ipCount(piiText).cast("long").as("n_ip")
      ).orderBy("doc_id")
    },

    // Multimodal decode pipeline: binary payload + typed metadata →
    // per-partition (stubbed) decode → features. The stub features are a
    // pure function of the payload bytes (Java Arrays.hashCode), so the
    // DuckDB oracle replicates them byte-for-byte — the PLUMBING is what's
    // verified; a real codec swaps in via the MediaDecoder seam.
    "q_multimodal" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val media = Multimodal.documentsAsMedia(s, t.documents)
      Multimodal.decodeFeatures(media).toDF()
        .select(col("mediaId").as("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("nFrames").cast("long").as("n_frames"))
        .orderBy("media_id")
    },

    // resize + frame-sample stages over the decoded features (every third
    // doc plays a video so the multi-frame path is exercised); dimension
    // and frame-index math is codec-independent column arithmetic, so the
    // oracle checks it exactly
    "q_media_frames" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val media = Multimodal.documentsAsMedia(s, t.documents,
        when(col("doc_id") % 3 === 0, lit("video/mp4"))
          .otherwise(concat(lit("image/"), col("source"))))
      val feats = Multimodal.decodeFeatures(media).toDF()
      Multimodal.sampleFrames(Multimodal.resizeTo(feats, 256, 256), targetFrames = 4)
        .select(col("mediaId").as("media_id"), col("r_width"), col("r_height"),
          col("frame_idx"))
        .orderBy("media_id", "frame_idx")
    }
  )

  /** MinHash-vs-exact-twin bound-check gate (q_dist_approx pattern).
    *
    * One staged shingle frame feeds both sides; the exact twin is ONE
    * inverted-index pass at minCommon=1 keeping the `common` column, from
    * which both the ≥2-common exact set (recall denominator, matching the
    * q_dedup_ngram oracle) and the ≥1-common superset (precision
    * reference) derive. The 1-row aggregates broadcast-nested-loop join —
    * no unbroadcast cartesian.
    */
  private def minhashGate(docs: DataFrame, jaccardThreshold: Double): DataFrame = {
    val sh = Dedup.shingleFrame(docs, "doc_id", "text", 3)
    val pairsAll = Dedup.ngramJaccardPairsFrom(sh, jaccardThreshold, minCommon = 1)
      .stagePersist()
    val exact2 = pairsAll.filter(col("common") >= 2).select("id_a", "id_b")
    val mh = Dedup.minhashPairsFrom(sh, numHashes = 16, bands = 4,
      jaccardThreshold = jaccardThreshold)
      .select("id_a", "id_b")
      .stagePersist()
    val nExact = exact2.agg(count(lit(1)).as("n_exact"))
    val nHit = mh.join(exact2, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val nPrecMiss = mh.join(pairsAll.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("n_miss"))
    broadcast(nExact).crossJoin(broadcast(nHit)).crossJoin(broadcast(nPrecMiss))
      .select(col("n_exact"),
        (col("n_miss") === 0).as("precision_ok"),
        (col("n_exact") === 0 ||
          col("n_hit") >= col("n_exact") * lit(0.75)).as("recall_ok"))
  }

  /** ANN-vs-exact-knn recall gate: per query, recall_ok = the approximate
    * index recovered ≥2 of the exact top-3 (exact twin = bruteForceTopK,
    * the linear production baseline). Emits one row per query id so the
    * driver's hash covers each query's outcome, not just an average.
    */
  private def annRecallGate(emb: DataFrame,
      ann: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val q = emb.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 3)
      .select("q_id", "n_id")
      .stagePersist()
    val got = ann(emb, q).select("q_id", "n_id")
    val hits = exact.join(got, Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    q.select(col("vec_id").as("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        (coalesce(col("n_hit"), lit(0L)) >= 2).as("recall_ok"))
      .orderBy("q_id")
  }

  /** The two-file id-ordered arrival fixture for q_dedup_stream_ingest
    * (a standing input — see [[SessionScratch]]).
    */
  private def ingestFixture(docs: DataFrame, dir: String): String =
    SessionScratch.cached("ingest_src", dir) { path =>
      val b = docs.agg(min("doc_id"), max("doc_id")).head()
      val cut = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
      def arrive(part: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = s"$path/tmp_$name"
        part.coalesce(1).write.parquet(tmp)
        val pf = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(path, name)
        java.nio.file.Files.move(pf.toPath, dest.toPath)
        dest.setLastModified(mtime)
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.delete(f))
        finally walk.close()
      }
      val now = System.currentTimeMillis()
      arrive(docs.filter(col("doc_id") <= cut), "b0.parquet", now - 60000)
      arrive(docs.filter(col("doc_id") > cut), "b1.parquet", now)
    }

  /** The embedding twin of [[ingestFixture]]: the vector corpus split
    * into two id-ordered arrival files (a standing input, built once per
    * data dir per session).
    */
  private def embedIngestFixture(vecs: DataFrame, dir: String): String =
    SessionScratch.cached("eingest_src", dir) { path =>
      val b = vecs.agg(min("vec_id"), max("vec_id")).head()
      val cut = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
      def arrive(part: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = s"$path/tmp_$name"
        part.coalesce(1).write.parquet(tmp)
        val pf = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(path, name)
        java.nio.file.Files.move(pf.toPath, dest.toPath)
        dest.setLastModified(mtime)
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.delete(f))
        finally walk.close()
      }
      val now = System.currentTimeMillis()
      arrive(vecs.filter(col("vec_id") <= cut), "b0.parquet", now - 60000)
      arrive(vecs.filter(col("vec_id") > cut), "b1.parquet", now)
    }

  /** One tf column of the BM25 oracle trees (the q_bm25 tokenizer:
    * trim+lower, whitespace split, empties dropped by the non-empty
    * filter where it matters).
    */
  private def bmTfSql(term: String, i: Int): String =
    s"""CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
               x -> x = '$term')) AS BIGINT) AS tf_$i"""

  /** One quantized per-term BM25 contribution (the q_bm25 IEEE tree:
    * rational idf, k1=1.2, b=0.75, floor(x*1e9) longs).
    */
  private def bmContribSql(i: Int): String =
    s"""CAST(floor((n_docs - df_$i + 0.5) / (df_$i + 0.5)
               * (CAST(tf_$i AS DOUBLE) * 2.2 / (CAST(tf_$i AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT)"""

  private def minhashGateOracle(threshold: Double, extraWhere: String = ""): String =
    s"""WITH toks AS (
         SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
         FROM documents),
       sh AS (
         SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' '))) AS s
         FROM toks),
       inv AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb,
                count(*) AS common
         FROM inv a JOIN inv b
           ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4)
       SELECT count(*) AS n_exact, TRUE AS precision_ok, TRUE AS recall_ok
       FROM pairs
       WHERE common >= 2
         AND CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= $threshold
         $extraWhere"""

  /** The batched-BM25 oracle tree, shared by q_bm25_batch (the
    * one-corpus-pass form) and q_bm25_index_batch (the postings-probe
    * form) — one SQL pinning both routes to the same result.
    */
  private lazy val bm25BatchSql: String =
    s"""WITH base AS (
           SELECT doc_id,
             ${bmTfSql("dup", 0)},
             ${bmTfSql("vector", 1)},
             ${bmTfSql("batch", 2)},
             ${bmTfSql("table", 3)},
             ${bmTfSql("row", 4)},
             ${bmTfSql("scan", 5)},
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
               x -> x <> '')) AS BIGINT) AS dl
           FROM documents),
         stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) AS t_len,
             CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
             CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
             CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_2,
             CAST(sum(CASE WHEN tf_3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_3,
             CAST(sum(CASE WHEN tf_4 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_4,
             CAST(sum(CASE WHEN tf_5 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_5
           FROM base),
         scored_a AS (
           SELECT doc_id, dl,
             ${bmContribSql(0)}
             + ${bmContribSql(1)}
             + ${bmContribSql(2)} AS su
           FROM base CROSS JOIN stats
           WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0),
         top_a AS (
           SELECT doc_id, dl, su,
             row_number() OVER (ORDER BY su DESC, doc_id) AS "rank"
           FROM scored_a),
         scored_b AS (
           SELECT doc_id, dl,
             ${bmContribSql(3)}
             + ${bmContribSql(4)}
             + ${bmContribSql(5)} AS su
           FROM base CROSS JOIN stats
           WHERE tf_3 > 0 OR tf_4 > 0 OR tf_5 > 0),
         top_b AS (
           SELECT doc_id, dl, su,
             row_number() OVER (ORDER BY su DESC, doc_id) AS "rank"
           FROM scored_b)
         SELECT query_id, doc_id, dl, score, "rank" FROM (
           SELECT 'qa' AS query_id, doc_id, dl,
             CAST(su AS DOUBLE) / 1e9 AS score,
             CAST("rank" AS BIGINT) AS "rank"
           FROM top_a WHERE "rank" <= 5
           UNION ALL
           SELECT 'qb' AS query_id, doc_id, dl,
             CAST(su AS DOUBLE) / 1e9 AS score,
             CAST("rank" AS BIGINT) AS "rank"
           FROM top_b WHERE "rank" <= 5)
         ORDER BY query_id, "rank""""

  def oracleSql: Map[String, String] = Map(
    // operation-for-operation IEEE mirror of Retrieval.bm25TopK (terms
    // dup/vector/batch, k1=1.2, b=0.75, k=10): rational idf, quantized
    // floor(x*1e9) longs, ties on ascending doc_id
    "q_bm25" ->
      """WITH base AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'dup')) AS BIGINT) AS tf_0,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'vector')) AS BIGINT) AS tf_1,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'batch')) AS BIGINT) AS tf_2,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '')) AS BIGINT) AS dl
           FROM documents),
         stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) AS t_len,
             CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
             CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
             CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_2
           FROM base),
         scored AS (
           SELECT doc_id, dl,
             CAST(floor((n_docs - df_0 + 0.5) / (df_0 + 0.5)
               * (CAST(tf_0 AS DOUBLE) * 2.2 / (CAST(tf_0 AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT)
             + CAST(floor((n_docs - df_1 + 0.5) / (df_1 + 0.5)
               * (CAST(tf_1 AS DOUBLE) * 2.2 / (CAST(tf_1 AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT)
             + CAST(floor((n_docs - df_2 + 0.5) / (df_2 + 0.5)
               * (CAST(tf_2 AS DOUBLE) * 2.2 / (CAST(tf_2 AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT) AS su
           FROM base CROSS JOIN stats),
         top AS (
           SELECT doc_id, dl, su,
             row_number() OVER (ORDER BY su DESC, doc_id) AS "rank"
           FROM scored)
         SELECT doc_id, dl, CAST(su AS DOUBLE) / 1e9 AS score,
           CAST("rank" AS BIGINT) AS "rank"
         FROM top WHERE "rank" <= 10 ORDER BY "rank"""",
    // the BM25 k=20 chain + list_contains relevance + the quantized
    // MRR / precision@10 arithmetic
    "q_retrieval_eval" ->
      """WITH base AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'dup')) AS BIGINT) AS tf_0,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'vector')) AS BIGINT) AS tf_1,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'batch')) AS BIGINT) AS tf_2,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '')) AS BIGINT) AS dl
           FROM documents),
         stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) AS t_len,
             CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
             CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
             CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_2
           FROM base),
         bmscored AS (
           SELECT doc_id,
             CAST(floor((n_docs - df_0 + 0.5) / (df_0 + 0.5)
               * (CAST(tf_0 AS DOUBLE) * 2.2 / (CAST(tf_0 AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT)
             + CAST(floor((n_docs - df_1 + 0.5) / (df_1 + 0.5)
               * (CAST(tf_1 AS DOUBLE) * 2.2 / (CAST(tf_1 AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT)
             + CAST(floor((n_docs - df_2 + 0.5) / (df_2 + 0.5)
               * (CAST(tf_2 AS DOUBLE) * 2.2 / (CAST(tf_2 AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT) AS su
           FROM base CROSS JOIN stats),
         ranked AS (
           SELECT id, r FROM (
             SELECT doc_id AS id,
               row_number() OVER (ORDER BY su DESC, doc_id) AS r
             FROM bmscored) WHERE r <= 20),
         rel AS (
           SELECT DISTINCT doc_id AS id FROM documents
           WHERE list_contains(
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> ''), 'dup')),
         hits AS (
           SELECT r FROM ranked WHERE id IN (SELECT id FROM rel)),
         agg AS (
           SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM ranked) AS n_ranked,
             (SELECT CAST(count(*) AS BIGINT) FROM rel) AS n_relevant,
             (SELECT sum(CASE WHEN r <= 10 THEN 1 ELSE 0 END) FROM hits) AS h,
             (SELECT min(r) FROM hits) AS first_hit)
         SELECT n_ranked, n_relevant,
           CAST(COALESCE(h, 0) AS BIGINT) AS hits_at_n,
           CAST(CAST(floor(CAST(COALESCE(h, 0) AS DOUBLE) / 10.0 * 1e9)
             AS BIGINT) AS DOUBLE) / 1e9 AS precision_at_n,
           CAST(COALESCE(CAST(floor(1e9 / CAST(first_hit AS DOUBLE))
             AS BIGINT), 0) AS DOUBLE) / 1e9 AS mrr
         FROM agg""",
    // frozen-ranker replay: stats (N, Σdl, per-term df as distinct-doc
    // counts) from the historical slice, tf/dl from the new slice, the
    // q_bm25 IEEE tree otherwise
    "q_bm25_incremental" ->
      """WITH hist AS (
           SELECT
             len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '')) AS dl,
             len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'dup')) AS h0,
             len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'vector')) AS h1,
             len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'batch')) AS h2
           FROM documents WHERE doc_id % 4 <> 0),
         stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) AS t_len,
             CAST(sum(CASE WHEN h0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
             CAST(sum(CASE WHEN h1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
             CAST(sum(CASE WHEN h2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_2
           FROM hist),
         base AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'dup')) AS BIGINT) AS tf_0,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'vector')) AS BIGINT) AS tf_1,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'batch')) AS BIGINT) AS tf_2,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '')) AS BIGINT) AS dl
           FROM documents WHERE doc_id % 4 = 0),
         scored AS (
           SELECT doc_id, dl,
             CAST(floor((n_docs - df_0 + 0.5) / (df_0 + 0.5)
               * (CAST(tf_0 AS DOUBLE) * 2.2 / (CAST(tf_0 AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT)
             + CAST(floor((n_docs - df_1 + 0.5) / (df_1 + 0.5)
               * (CAST(tf_1 AS DOUBLE) * 2.2 / (CAST(tf_1 AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT)
             + CAST(floor((n_docs - df_2 + 0.5) / (df_2 + 0.5)
               * (CAST(tf_2 AS DOUBLE) * 2.2 / (CAST(tf_2 AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT) AS su
           FROM base CROSS JOIN stats),
         top AS (
           SELECT doc_id, dl, su,
             row_number() OVER (ORDER BY su DESC, doc_id) AS "rank"
           FROM scored)
         SELECT doc_id, dl, CAST(su AS DOUBLE) / 1e9 AS score,
           CAST("rank" AS BIGINT) AS "rank"
         FROM top WHERE "rank" <= 10 ORDER BY "rank"""",
    // postings-index top-k == the scan tree restricted to MATCHING docs
    // (the index never sees a doc containing no query term; at k=12 every
    // score is positive so the restriction is invisible — the stated
    // equality contract)
    "q_bm25_index_topk" ->
      s"""WITH base AS (
           SELECT doc_id,
             ${bmTfSql("dup", 0)},
             ${bmTfSql("vector", 1)},
             ${bmTfSql("batch", 2)},
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
               x -> x <> '')) AS BIGINT) AS dl
           FROM documents),
         stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) AS t_len,
             CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
             CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
             CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_2
           FROM base),
         scored AS (
           SELECT doc_id, dl,
             ${bmContribSql(0)}
             + ${bmContribSql(1)}
             + ${bmContribSql(2)} AS su
           FROM base CROSS JOIN stats
           WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0),
         top AS (
           SELECT doc_id, dl, su,
             row_number() OVER (ORDER BY su DESC, doc_id) AS "rank"
           FROM scored)
         SELECT doc_id, dl, CAST(su AS DOUBLE) / 1e9 AS score,
           CAST("rank" AS BIGINT) AS "rank"
         FROM top WHERE "rank" <= 12 ORDER BY "rank"""",
    // batched BM25: both queries' scan trees over ONE shared base/stats
    // CTE, each restricted to its own matching docs, per-query top-5
    "q_bm25_batch" -> bm25BatchSql,
    // the postings-probe form answers the SAME two queries from the
    // store — the shared SQL pins route-equality under the hash
    "q_bm25_index_batch" -> bm25BatchSql,
    // retraction: the index route must equal the scan tree over the
    // SURVIVING corpus (doc_id % 7 = 3 retracted) — df, N and Σdl all
    // reflect the takedown exactly
    "q_bm25_retract" ->
      s"""WITH base AS (
           SELECT doc_id,
             ${bmTfSql("dup", 0)},
             ${bmTfSql("vector", 1)},
             ${bmTfSql("batch", 2)},
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
               x -> x <> '')) AS BIGINT) AS dl
           FROM documents WHERE doc_id % 7 <> 3),
         stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) AS t_len,
             CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
             CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
             CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_2
           FROM base),
         scored AS (
           SELECT doc_id, dl,
             ${bmContribSql(0)}
             + ${bmContribSql(1)}
             + ${bmContribSql(2)} AS su
           FROM base CROSS JOIN stats
           WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0),
         top AS (
           SELECT doc_id, dl, su,
             row_number() OVER (ORDER BY su DESC, doc_id) AS "rank"
           FROM scored)
         SELECT doc_id, dl, CAST(su AS DOUBLE) / 1e9 AS score,
           CAST("rank" AS BIGINT) AS "rank"
         FROM top WHERE "rank" <= 12 ORDER BY "rank"""",
    // exact-phrase containment: every start offset where toks[s..s+1]
    // equals the phrase (overlapping starts count — the periodic 'a a'
    // needle makes that semantic load-bearing)
    "q_phrase_index" ->
      """WITH base AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '') AS toks
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(list_filter(range(1, len(toks) + 1 - 1),
               s -> toks[s] = 'a' AND toks[s+1] = 'a')) AS BIGINT)
               AS n_matches
           FROM base)
         SELECT doc_id, n_matches FROM m WHERE n_matches > 0
         ORDER BY doc_id""",
    // index-side decontamination: the q_decontaminate tree, flagged rows
    // only (the index route never enumerates zero-overlap docs)
    "q_decontaminate_index" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' '))) AS s
           FROM toks),
         bench AS (
           SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 97 = 0),
         inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
         ov AS (
           SELECT i.doc_id, count(*) AS overlap
           FROM inv i JOIN bench b ON i.shingle = b.shingle
           GROUP BY i.doc_id)
         SELECT doc_id, CAST(overlap AS BIGINT) AS overlap,
           overlap >= 2 AS contaminated
         FROM ov ORDER BY doc_id""",
    // batched phrase suite: one range-lambda leg per needle, UNION ALL
    "q_phrase_batch" ->
      """WITH base AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '') AS toks
           FROM documents),
         pa AS (
           SELECT 'pa' AS phrase_id, doc_id,
             CAST(len(list_filter(range(1, len(toks) + 1 - 1),
               s -> toks[s] = 'a' AND toks[s+1] = 'a')) AS BIGINT)
               AS n_matches
           FROM base),
         pb AS (
           SELECT 'pb' AS phrase_id, doc_id,
             CAST(len(list_filter(range(1, len(toks) + 1 - 1),
               s -> toks[s] = 'vector' AND toks[s+1] = 'batch')) AS BIGINT)
               AS n_matches
           FROM base)
         SELECT phrase_id, doc_id, n_matches FROM (
           SELECT * FROM pa UNION ALL SELECT * FROM pb)
         WHERE n_matches > 0
         ORDER BY phrase_id, doc_id""",
    // governed phrase suite: route-blind scan SQL — one leg per needle,
    // the 'a a a' leg counting OVERLAPPING starts like the operator
    "q_phrase_batch_auto" ->
      """WITH base AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '') AS toks
           FROM documents),
         pa AS (
           SELECT 'pa' AS phrase_id, doc_id,
             CAST(len(list_filter(range(1, len(toks) + 1 - 2),
               s -> toks[s] = 'a' AND toks[s+1] = 'a' AND toks[s+2] = 'a'))
               AS BIGINT) AS n_matches
           FROM base),
         pb AS (
           SELECT 'pb' AS phrase_id, doc_id,
             CAST(len(list_filter(range(1, len(toks) + 1 - 1),
               s -> toks[s] = 'vector' AND toks[s+1] = 'batch')) AS BIGINT)
               AS n_matches
           FROM base)
         SELECT phrase_id, doc_id, n_matches FROM (
           SELECT * FROM pa UNION ALL SELECT * FROM pb)
         WHERE n_matches > 0
         ORDER BY phrase_id, doc_id""",
    // term-stats retraction: the frozen ranker's history is the surviving
    // slice only (doc_id % 5 = 1 retracted by negative delta)
    "q_bm25_stats_retract" ->
      """WITH hist AS (
           SELECT
             len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '')) AS dl,
             len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'dup')) AS h0,
             len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'vector')) AS h1,
             len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'batch')) AS h2
           FROM documents WHERE doc_id % 4 <> 0 AND doc_id % 5 <> 1),
         stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) AS t_len,
             CAST(sum(CASE WHEN h0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
             CAST(sum(CASE WHEN h1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
             CAST(sum(CASE WHEN h2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_2
           FROM hist),
         base AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'dup')) AS BIGINT) AS tf_0,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'vector')) AS BIGINT) AS tf_1,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'batch')) AS BIGINT) AS tf_2,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '')) AS BIGINT) AS dl
           FROM documents WHERE doc_id % 4 = 0),
         scored AS (
           SELECT doc_id, dl,
             CAST(floor((n_docs - df_0 + 0.5) / (df_0 + 0.5)
               * (CAST(tf_0 AS DOUBLE) * 2.2 / (CAST(tf_0 AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT)
             + CAST(floor((n_docs - df_1 + 0.5) / (df_1 + 0.5)
               * (CAST(tf_1 AS DOUBLE) * 2.2 / (CAST(tf_1 AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT)
             + CAST(floor((n_docs - df_2 + 0.5) / (df_2 + 0.5)
               * (CAST(tf_2 AS DOUBLE) * 2.2 / (CAST(tf_2 AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT) AS su
           FROM base CROSS JOIN stats),
         top AS (
           SELECT doc_id, dl, su,
             row_number() OVER (ORDER BY su DESC, doc_id) AS "rank"
           FROM scored)
         SELECT doc_id, dl, CAST(su AS DOUBLE) / 1e9 AS score,
           CAST("rank" AS BIGINT) AS "rank"
         FROM top WHERE "rank" <= 10 ORDER BY "rank"""",
    // suite-level per-query metrics: both ranked lists (k=20) joined to
    // their own relevance sets; hits@10, quantized precision and RR
    "q_retrieval_eval_batch" ->
      s"""WITH base AS (
           SELECT doc_id,
             ${bmTfSql("dup", 0)},
             ${bmTfSql("vector", 1)},
             ${bmTfSql("batch", 2)},
             ${bmTfSql("table", 3)},
             ${bmTfSql("row", 4)},
             ${bmTfSql("scan", 5)},
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
               x -> x <> '')) AS BIGINT) AS dl
           FROM documents),
         stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) AS t_len,
             CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
             CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
             CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_2,
             CAST(sum(CASE WHEN tf_3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_3,
             CAST(sum(CASE WHEN tf_4 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_4,
             CAST(sum(CASE WHEN tf_5 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_5
           FROM base),
         ranked_a AS (
           SELECT doc_id, r FROM (
             SELECT doc_id, row_number() OVER (ORDER BY su DESC, doc_id) AS r
             FROM (
               SELECT doc_id,
                 ${bmContribSql(0)}
                 + ${bmContribSql(1)}
                 + ${bmContribSql(2)} AS su
               FROM base CROSS JOIN stats
               WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0))
           WHERE r <= 20),
         ranked_b AS (
           SELECT doc_id, r FROM (
             SELECT doc_id, row_number() OVER (ORDER BY su DESC, doc_id) AS r
             FROM (
               SELECT doc_id,
                 ${bmContribSql(3)}
                 + ${bmContribSql(4)}
                 + ${bmContribSql(5)} AS su
               FROM base CROSS JOIN stats
               WHERE tf_3 > 0 OR tf_4 > 0 OR tf_5 > 0))
           WHERE r <= 20),
         rel_a AS (SELECT DISTINCT doc_id FROM base WHERE tf_0 > 0),
         rel_b AS (SELECT DISTINCT doc_id FROM base WHERE tf_4 > 0),
         hits_a AS (SELECT r FROM ranked_a
           WHERE doc_id IN (SELECT doc_id FROM rel_a)),
         hits_b AS (SELECT r FROM ranked_b
           WHERE doc_id IN (SELECT doc_id FROM rel_b)),
         rows_ab AS (
           SELECT 'qa' AS query_id,
             (SELECT CAST(count(*) AS BIGINT) FROM ranked_a) AS n_ranked,
             (SELECT CAST(count(*) AS BIGINT) FROM rel_a) AS n_relevant,
             (SELECT sum(CASE WHEN r <= 10 THEN 1 ELSE 0 END) FROM hits_a) AS h,
             (SELECT min(r) FROM hits_a) AS first_hit
           UNION ALL
           SELECT 'qb' AS query_id,
             (SELECT CAST(count(*) AS BIGINT) FROM ranked_b),
             (SELECT CAST(count(*) AS BIGINT) FROM rel_b),
             (SELECT sum(CASE WHEN r <= 10 THEN 1 ELSE 0 END) FROM hits_b),
             (SELECT min(r) FROM hits_b))
         SELECT query_id, n_ranked, n_relevant,
           CAST(COALESCE(h, 0) AS BIGINT) AS hits_at_n,
           CAST(CAST(floor(CAST(COALESCE(h, 0) AS DOUBLE) / 10.0 * 1e9)
             AS BIGINT) AS DOUBLE) / 1e9 AS precision_at_n,
           CAST(COALESCE(CAST(floor(1e9 / CAST(first_hit AS DOUBLE))
             AS BIGINT), 0) AS DOUBLE) / 1e9 AS rr
         FROM rows_ab ORDER BY query_id""",
    // the BM25 (k=60) + kNN (query 0, k=60) chains composed, fused by
    // quantized reciprocal-rank arithmetic
    "q_hybrid_rank" ->
      """WITH base AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'dup')) AS BIGINT) AS tf_0,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'vector')) AS BIGINT) AS tf_1,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x = 'batch')) AS BIGINT) AS tf_2,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '')) AS BIGINT) AS dl
           FROM documents),
         stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) AS t_len,
             CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
             CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
             CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_2
           FROM base),
         bmscored AS (
           SELECT doc_id,
             CAST(floor((n_docs - df_0 + 0.5) / (df_0 + 0.5)
               * (CAST(tf_0 AS DOUBLE) * 2.2 / (CAST(tf_0 AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT)
             + CAST(floor((n_docs - df_1 + 0.5) / (df_1 + 0.5)
               * (CAST(tf_1 AS DOUBLE) * 2.2 / (CAST(tf_1 AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT)
             + CAST(floor((n_docs - df_2 + 0.5) / (df_2 + 0.5)
               * (CAST(tf_2 AS DOUBLE) * 2.2 / (CAST(tf_2 AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / t_len))))
               * 1e9) AS BIGINT) AS su
           FROM base CROSS JOIN stats),
         lex AS (
           SELECT id, r FROM (
             SELECT doc_id AS id,
               row_number() OVER (ORDER BY su DESC, doc_id) AS r
             FROM bmscored) WHERE r <= 60),
         v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
           FROM embeddings),
         nn AS (
           SELECT vec_id, vec,
             sqrt(list_reduce(
               list_prepend(CAST(0 AS DOUBLE), list_transform(vec, x -> x * x)),
               (acc, x) -> acc + x)) AS nrm
           FROM v),
         semscored AS (
           SELECT c.vec_id AS id,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list_transform(list_zip(q.vec, c.vec), p -> p[1] * p[2])),
               (acc, x) -> acc + x) / (q.nrm * c.nrm) AS cos
           FROM nn q JOIN nn c ON c.vec_id <> q.vec_id
           WHERE q.vec_id = 0),
         sem AS (
           SELECT id, r FROM (
             SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS r
             FROM semscored) WHERE r <= 60),
         fused AS (
           SELECT COALESCE(lex.id, sem.id) AS id,
             COALESCE(CAST(floor(1e9 / (CAST(60 AS DOUBLE)
               + CAST(lex.r AS DOUBLE))) AS BIGINT), 0)
             + COALESCE(CAST(floor(1e9 / (CAST(60 AS DOUBLE)
               + CAST(sem.r AS DOUBLE))) AS BIGINT), 0) AS su
           FROM lex FULL OUTER JOIN sem ON lex.id = sem.id),
         fr AS (
           SELECT id, su,
             row_number() OVER (ORDER BY su DESC, id) AS rrf_rank
           FROM fused)
         SELECT id, CAST(su AS DOUBLE) / 1e9 AS rrf,
           CAST(rrf_rank AS BIGINT) AS rrf_rank
         FROM fr WHERE rrf_rank <= 10 ORDER BY rrf_rank""",
    // Clustering.assignProfile twin: lowest-8-id centroids, argmax dot
    // with ties to the lower cell, quantized-mean cohesion
    "q_cluster_assign" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
           FROM embeddings),
         c AS (
           SELECT vec_id AS cluster, vec AS cvec,
             row_number() OVER (ORDER BY vec_id) AS cell
           FROM v ORDER BY vec_id LIMIT 8),
         scored AS (
           SELECT v.vec_id AS id, c.cluster, c.cell,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list_transform(list_zip(v.vec, c.cvec), p -> p[1] * p[2])),
               (acc, x) -> acc + x) AS dot
           FROM v CROSS JOIN c),
         best AS (
           SELECT id, cluster, dot,
             row_number() OVER (PARTITION BY id ORDER BY dot DESC, cell) AS rn
           FROM scored)
         SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CAST(floor(dot * 1e9) AS BIGINT)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) / 1e9 AS mean_dot,
           min(id) AS min_member, max(id) AS max_member
         FROM best WHERE rn = 1
         GROUP BY cluster ORDER BY cluster""",
    // cluster-stratified quota: the q_cluster_assign argmax construction
    // assigns cells, the q_quota scramble-rank keeps ≤20 per cell; fp is
    // the rolling-hash fold over the id's decimal digits
    "q_cluster_quota" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
           FROM embeddings),
         c AS (
           SELECT vec AS cvec,
             row_number() OVER (ORDER BY vec_id) AS cell
           FROM v ORDER BY vec_id LIMIT 8),
         scored AS (
           SELECT v.vec_id AS id, c.cell,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list_transform(list_zip(v.vec, c.cvec), p -> p[1] * p[2])),
               (acc, x) -> acc + x) AS dot
           FROM v CROSS JOIN c),
         best AS (
           SELECT id, cell,
             row_number() OVER (PARTITION BY id ORDER BY dot DESC, cell) AS rn
           FROM scored),
         a AS (SELECT id, CAST(cell AS INTEGER) AS cell FROM best WHERE rn = 1),
         f AS (
           SELECT id, cell,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(
                   list_filter(string_split(CAST(id AS VARCHAR), ''), ch -> ch <> ''),
                   ch -> CAST(ascii(ch) AS BIGINT))),
               (acc, ch) -> (acc * 31 + ch) % 1000000007) AS fp
           FROM a),
         r AS (
           SELECT id, cell, row_number() OVER (
             PARTITION BY cell
             ORDER BY (fp * 2654435761) % 1000000, id) AS rk
           FROM f)
         SELECT id AS vec_id, cell FROM r WHERE rk <= 20 ORDER BY vec_id""",
    // kmeansSummary gate: exact vector count + literal-TRUE invariants
    // (any violation flips a boolean and breaks the hash)
    "q_cluster_train" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           TRUE AS partition_ok, TRUE AS clusters_ok,
           TRUE AS objective_improved
         FROM embeddings""",
    "q_sim_knn" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
           FROM embeddings),
         n AS (
           SELECT vec_id, vec,
             sqrt(list_reduce(
               list_prepend(CAST(0 AS DOUBLE), list_transform(vec, x -> x * x)),
               (acc, x) -> acc + x)) AS nrm
           FROM v),
         scored AS (
           SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list_transform(list_zip(q.vec, c.vec), p -> p[1] * p[2])),
               (acc, x) -> acc + x) / (q.nrm * c.nrm) AS cos
           FROM n q JOIN n c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 8),
         ranked AS (
           SELECT q_id, n_id,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS "rank"
           FROM scored)
         SELECT q_id, n_id, "rank" FROM ranked WHERE "rank" <= 5
         ORDER BY q_id, "rank"""",
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS group_size
         FROM documents GROUP BY lower(text) ORDER BY doc_id""",
    // the q_chunk grid at window=stride=8, segment identity = the same
    // rolling-hash fold both engines run (collisions are symmetric),
    // keep = first (doc_id, chunk_id) of each digest group
    "q_dedup_segment" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '') AS t
           FROM documents),
         c AS (
           SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM toks
           WHERE len(t) > 0),
         ch AS (
           SELECT doc_id, t, n,
             unnest(range(0, CASE WHEN n <= 8 THEN 1
               ELSE CAST(ceil(CAST(n - 8 AS DOUBLE) / 8) AS BIGINT) + 1
               END)) AS chunk_id
           FROM c),
         seg AS (
           SELECT doc_id, chunk_id,
             array_to_string(list_slice(t, chunk_id * 8 + 1,
               least(chunk_id * 8 + 8, n)), ' ') AS chunk_text
           FROM ch),
         f AS (
           SELECT doc_id, chunk_id, chunk_text,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(
                   list_filter(string_split(chunk_text, ''), x -> x <> ''),
                   x -> CAST(ascii(x) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
           FROM seg),
         k AS (
           SELECT doc_id, chunk_id, chunk_text,
             row_number() OVER (PARTITION BY fp
               ORDER BY doc_id, chunk_id) = 1 AS kept
           FROM f)
         SELECT doc_id, count(*) AS n_seg,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN kept THEN chunk_text END, ' '
             ORDER BY chunk_id), '') AS clean
         FROM k GROUP BY doc_id ORDER BY doc_id""",
    // bound-check gates (round 6): n_exact is DuckDB's own exact-twin pair
    // count; the booleans are literal TRUE — a precision/recall violation
    // on the Spark side flips a value and breaks the driver's hash
    "q_dedup_minhash" -> minhashGateOracle(0.2),
    // the incremental gate counts the same exact pairs RESTRICTED to
    // pairs touching the 25% delta slice (doc_id % 4 = 0)
    "q_dedup_incremental" ->
      minhashGateOracle(0.2, "AND (id_a % 4 = 0 OR id_b % 4 = 0)"),
    "q_dedup_text" -> minhashGateOracle(0.5),
    // τ=1.0 greedy first-fit dedup IS relational: the survivor set is
    // min doc_id per distinct 3-shingle set, plus every short doc
    // the planted d0 union mirrors the key's re-encoded clones; the
    // nfc_normalize + whitespace-class fold replays the in-stream
    // canonicalize pass, so each (source, clone) pair shares one shingle
    // set and the min-id rule keeps the source
    // the planted clones (ids ≥ 10⁶) all drop against the indexed
    // originals; the fixture has no natural pair past τ (max 0.51), so
    // survivors == the original corpus, stated relationally
    "q_embed_ingest" ->
      """SELECT vec_id FROM embeddings ORDER BY vec_id""",
    // store row counts are relational over the indexed slice; the params
    // store holds exactly one row and the build is exactly one mutation
    "q_index_stats" ->
      """SELECT 'bands' AS store, 4*count(*) AS n_rows,
           CAST(1 AS BIGINT) AS generation
         FROM documents WHERE doc_id % 4 <> 0
         UNION ALL
         SELECT 'params', CAST(1 AS BIGINT), CAST(1 AS BIGINT)
         UNION ALL
         SELECT 'shingles', count(*), CAST(1 AS BIGINT)
         FROM documents WHERE doc_id % 4 <> 0
         ORDER BY store""",
    "q_ingest_banned" ->
      """WITH norm AS (
           SELECT doc_id,
             trim(regexp_replace(nfc_normalize(text),
               '[ \t\n\x0B\f\r]+', ' ', 'g')) AS n
           FROM documents)
         SELECT doc_id FROM norm
         WHERE n NOT IN (SELECT n FROM norm WHERE doc_id % 31 = 5)
         ORDER BY doc_id""",
    "q_dedup_stream_ingest" ->
      """WITH d0 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 40 = 0 THEN text || ' caf' || chr(233)
                  ELSE text END AS text
           FROM documents WHERE doc_id % 4 = 0
           UNION ALL
           SELECT doc_id + 2 AS doc_id, text || ' cafe' || chr(769) AS text
           FROM documents WHERE doc_id % 4 = 0 AND doc_id % 40 = 0),
         nrm AS (
           SELECT doc_id,
             trim(regexp_replace(nfc_normalize(text),
               '[ \t\n\x0B\f\r]+', ' ', 'g')) AS text
           FROM d0),
         toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM nrm),
         sh AS (
           SELECT doc_id, list_sort(list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' ')))) AS s
           FROM toks)
         SELECT doc_id FROM (
           SELECT min(doc_id) AS doc_id FROM sh WHERE len(s) > 0 GROUP BY s
           UNION ALL
           SELECT doc_id FROM sh WHERE len(s) = 0)
         ORDER BY doc_id""",
    "q_dedup_simhash" ->
      """SELECT TRUE AS subset_complete, TRUE AS subset_exact,
                TRUE AS hamming_ok, TRUE AS nonempty""",
    // n_strong mirrors the Spark side's bounded-subset exact twin with the
    // same sequential-fold double arithmetic (the q_sim_knn construction)
    "q_dedup_embed" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
           FROM embeddings WHERE vec_id < 256),
         n AS (
           SELECT vec_id, vec,
             sqrt(list_reduce(
               list_prepend(CAST(0 AS DOUBLE), list_transform(vec, x -> x * x)),
               (acc, x) -> acc + x)) AS nrm
           FROM v)
         SELECT count(*) AS n_strong, TRUE AS precision_ok, TRUE AS recall_ok
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         WHERE list_reduce(
             list_prepend(CAST(0 AS DOUBLE),
               list_transform(list_zip(a.vec, b.vec), p -> p[1] * p[2])),
             (acc, x) -> acc + x) / (a.nrm * b.nrm) >= 0.3""",
    // identical exact twin — the semantic path is gated against the same
    // bounded-subset strong-pair set as the LSH path
    "q_dedup_semantic" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
           FROM embeddings WHERE vec_id < 256),
         n AS (
           SELECT vec_id, vec,
             sqrt(list_reduce(
               list_prepend(CAST(0 AS DOUBLE), list_transform(vec, x -> x * x)),
               (acc, x) -> acc + x)) AS nrm
           FROM v)
         SELECT count(*) AS n_strong, TRUE AS precision_ok, TRUE AS recall_ok
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         WHERE list_reduce(
             list_prepend(CAST(0 AS DOUBLE),
               list_transform(list_zip(a.vec, b.vec), p -> p[1] * p[2])),
             (acc, x) -> acc + x) / (a.nrm * b.nrm) >= 0.3""",
    // same exact twin RESTRICTED to pairs touching the 25% delta slice
    "q_dedup_embed_incremental" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
           FROM embeddings WHERE vec_id < 256),
         n AS (
           SELECT vec_id, vec,
             sqrt(list_reduce(
               list_prepend(CAST(0 AS DOUBLE), list_transform(vec, x -> x * x)),
               (acc, x) -> acc + x)) AS nrm
           FROM v)
         SELECT count(*) AS n_strong, TRUE AS precision_ok, TRUE AS recall_ok
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         WHERE (a.vec_id % 4 = 0 OR b.vec_id % 4 = 0)
           AND list_reduce(
             list_prepend(CAST(0 AS DOUBLE),
               list_transform(list_zip(a.vec, b.vec), p -> p[1] * p[2])),
             (acc, x) -> acc + x) / (a.nrm * b.nrm) >= 0.3""",
    "q_sim_lsh" ->
      """SELECT vec_id AS q_id, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 8 ORDER BY q_id""",
    "q_ann_index_topk" ->
      """SELECT vec_id AS q_id, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 8 ORDER BY q_id""",
    "q_sim_ivf" ->
      """SELECT vec_id AS q_id, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 8 ORDER BY q_id""",
    "q_ann_ivf_index" ->
      """SELECT vec_id AS q_id, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 8 ORDER BY q_id""",
    "q_dedup_ngram" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' '))) AS s
           FROM toks),
         inv AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb,
                  count(*) AS common
           FROM inv a JOIN inv b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)
         SELECT id_a, id_b,
                CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) AS jaccard
         FROM pairs
         WHERE common >= 2
           AND CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.2
         ORDER BY id_a, id_b""",
    // Same shingle/pair pipeline as q_dedup_ngram, then transitive closure
    // (recursive CTE) → min reachable id per node; singletons self-map.
    "q_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' '))) AS s
           FROM toks),
         inv AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM inv a JOIN inv b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
           HAVING count(*) >= 2
              AND CAST(count(*) AS DOUBLE)
                  / CAST(a.n_sh + b.n_sh - count(*) AS DOUBLE) >= 0.2),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         reach(a, b) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         comp AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a)
         SELECT d.doc_id,
                coalesce(c.cluster, d.doc_id) AS cluster,
                d.doc_id = coalesce(c.cluster, d.doc_id) AS keep
         FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
         ORDER BY d.doc_id""",
    // Rates are binary-exact (0.25 / 0.5 / 1.0) so rate*1e6 needs no
    // rounding and Spark's truncating cast == DuckDB's trunc().
    "q_sample_exactk" ->
      """WITH f AS (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                   c -> CAST(ascii(c) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
           FROM documents),
         s AS (
           SELECT doc_id, fp FROM f
           ORDER BY (fp * 2654435761) % 1000000, doc_id LIMIT 200)
         SELECT doc_id, fp FROM s ORDER BY doc_id""",
    "q_sample" ->
      """WITH f AS (
           SELECT doc_id, lang, source,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                   c -> CAST(ascii(c) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
           FROM documents)
         SELECT doc_id, lang, source FROM f
         WHERE (fp * 2654435761) % 1000000 <
           CAST(trunc((CASE WHEN lang = 'en' THEN 0.25
                            WHEN lang = 'zh' THEN 1.0
                            ELSE 0.5 END) * 1000000) AS BIGINT)
         ORDER BY doc_id""",
    // Composes the clusters closure, the text-stats twin, and the
    // fingerprint sample — the same building blocks as the Spark side.
    "q_pipeline" ->
      (s"""WITH RECURSIVE toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' '))) AS s
           FROM toks),
         inv AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM inv a JOIN inv b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
           HAVING count(*) >= 2
              AND CAST(count(*) AS DOUBLE)
                  / CAST(a.n_sh + b.n_sh - count(*) AS DOUBLE) >= 0.2),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         reach(a, b) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         comp AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
         stats AS (${TextStatsOracle.sql}),
         f AS (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                   c -> CAST(ascii(c) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
           FROM documents)
         SELECT s.doc_id, s.lang_pred, s.n_tokens
         FROM stats s
         JOIN f ON f.doc_id = s.doc_id
         LEFT JOIN comp c ON c.id = s.doc_id
         WHERE coalesce(c.cluster, s.doc_id) = s.doc_id
           AND s.lang_pred = 'en' AND s.alpha_ratio > 0.4
           AND (f.fp * 2654435761) % 1000000 < 500000
         ORDER BY s.doc_id"""),
    // sum(BIGINT) is HUGEINT in DuckDB — cast back so the arrow schema
    // matches Spark's int64.
    // one UNION ALL branch per profiled column; counts cast back to
    // BIGINT (DuckDB count(*) is BIGINT already, arithmetic stays BIGINT)
    "q_profile" -> {
      val branches = Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
               count(*) - count($c) AS n_nulls,
               count(DISTINCT $c) AS n_distinct,
               CAST(min($c) AS VARCHAR) AS min_val,
               CAST(max($c) AS VARCHAR) AS max_val
             FROM documents"""
      }
      branches.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },
    "q_json_props" ->
      """SELECT event_type, count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
                min(k) AS min_k, max(k) AS max_k
         FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events)
         GROUP BY event_type ORDER BY event_type""",
    "q_quantize" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
           FROM embeddings),
         s AS (
           SELECT vec_id, vec,
             list_max(list_transform(vec, x -> abs(x))) / 127.0 AS sc
           FROM v),
         q AS (
           SELECT vec_id, sc,
             list_transform(vec, x -> CAST(round(x / sc) AS BIGINT)) AS qq
           FROM s)
         SELECT vec_id, round(sc, 6) AS scale6,
           CAST(list_sum(qq) AS BIGINT) AS q_sum,
           CAST(len(list_filter(qq, x -> abs(x) = 127)) AS BIGINT) AS n_sat
         FROM q ORDER BY vec_id""",
    // Exact-µs integer arithmetic on both sides (|Δµs| <= 300e6).
    "q_range" ->
      """SELECT e.event_id AS e_id, e.user_id, epoch_us(e.ts) AS ts_us,
           (SELECT count(*) FROM events c
             WHERE c.event_type = 'click' AND c.user_id = e.user_id
               AND abs(epoch_us(c.ts) - epoch_us(e.ts)) <= 300000000) AS n_close
         FROM events e WHERE e.event_type = 'error' ORDER BY e_id""",
    // DuckDB reads the nanos parquet ts truncated to micros — identical to
    // our loader — so ASOF ordering and epoch_us agree exactly.
    "q_asof" ->
      """SELECT p.event_id AS p_event_id, p.user_id,
                epoch_us(p.ts) AS ts_us, v.event_id AS v_event_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
           ON p.user_id = v.user_id AND p.ts >= v.ts
         ORDER BY p_event_id""",
    // holdout size is exact; the accuracy bar is the gate contract
    "q_quality_model" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_test, TRUE AS acc_ok
         FROM documents WHERE doc_id % 5 = 0""",
    // df over shingle STRINGS (the engine uses 64-bit digests — identical
    // modulo a ~2^-64 collision term, same accepted norm as the other
    // digest-keyed oracles)
    "q_novelty" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' '))) AS s
           FROM toks),
         inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
         dfx AS (SELECT shingle, count(*) AS df FROM inv GROUP BY shingle),
         nv AS (
           SELECT i.doc_id, count(*) FILTER (WHERE d.df = 1) AS n_novel
           FROM inv i JOIN dfx d USING (shingle) GROUP BY i.doc_id)
         SELECT s.doc_id, CAST(len(s.s) AS BIGINT) AS n_sh,
           CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
           CASE WHEN len(s.s) = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(coalesce(nv.n_novel, 0) AS DOUBLE)
                     / CAST(len(s.s) AS DOUBLE) END AS novelty
         FROM sh s LEFT JOIN nv ON s.doc_id = nv.doc_id
         ORDER BY s.doc_id""",
    // the same model algebra: per-doc (prev, w) pair counts → unigram/
    // bigram/total sums → one IEEE division per ratio → floor(p·1e9)
    // units, summed exactly as integers, one final double division chain
    "q_lm_score" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents),
         idx AS (
           SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks),
         occ AS (
           SELECT doc_id, t[i] AS w,
                  CASE WHEN i > 1 THEN t[i - 1] END AS prev
           FROM idx WHERE t[i] <> ''),
         oc AS (
           SELECT doc_id, prev, w, count(*) AS k FROM occ GROUP BY ALL),
         uni AS (SELECT w, CAST(sum(k) AS BIGINT) AS cw FROM oc GROUP BY w),
         tot AS (SELECT CAST(sum(k) AS BIGINT) AS tt FROM oc),
         big AS (
           SELECT prev, w, CAST(sum(k) AS BIGINT) AS cbw FROM oc
           WHERE prev IS NOT NULL GROUP BY prev, w),
         sc AS (
           SELECT oc.doc_id, oc.k,
             CASE WHEN oc.prev IS NULL
                    THEN CAST(uni.cw AS DOUBLE) / tot.tt
                  WHEN big.cbw IS NOT NULL
                    THEN CAST(big.cbw AS DOUBLE) / cu.cw
                  ELSE 0.4 * (CAST(uni.cw AS DOUBLE) / tot.tt) END AS p
           FROM oc
           JOIN uni ON oc.w = uni.w
           LEFT JOIN uni cu ON oc.prev = cu.w
           LEFT JOIN big ON oc.prev = big.prev AND oc.w = big.w
           CROSS JOIN tot),
         agg AS (
           SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tok,
             CAST(sum(k * CAST(floor(p * 1e9) AS BIGINT)) AS BIGINT) AS su
           FROM sc GROUP BY doc_id)
         SELECT d.doc_id, coalesce(a.n_tok, 0) AS n_tok,
           CASE WHEN a.doc_id IS NULL THEN CAST(0 AS DOUBLE)
                ELSE CAST(a.su AS DOUBLE) / a.n_tok / 1e9 END AS lm_score
         FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         ORDER BY d.doc_id""",
    // the trigram chain: same triple-count algebra, two LEFT-joined
    // backoff levels (numerators big/tri; denominators cu = c(v) and
    // cuv = c(u,v) from the UNPRUNED tables), the same floor(p·1e9) mean
    "q_lm_score3" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents),
         idx AS (
           SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks),
         occ AS (
           SELECT doc_id, t[i] AS w,
                  CASE WHEN i > 1 THEN t[i - 1] END AS prev,
                  CASE WHEN i > 2 THEN t[i - 2] END AS prev2
           FROM idx WHERE t[i] <> ''),
         oc AS (
           SELECT doc_id, prev2, prev, w, count(*) AS k FROM occ GROUP BY ALL),
         uni AS (SELECT w, CAST(sum(k) AS BIGINT) AS cw FROM oc GROUP BY w),
         tot AS (SELECT CAST(sum(k) AS BIGINT) AS tt FROM oc),
         big AS (
           SELECT prev, w, CAST(sum(k) AS BIGINT) AS cbw FROM oc
           WHERE prev IS NOT NULL GROUP BY prev, w),
         tri AS (
           SELECT prev2, prev, w, CAST(sum(k) AS BIGINT) AS ctw FROM oc
           WHERE prev2 IS NOT NULL GROUP BY prev2, prev, w),
         sc AS (
           SELECT oc.doc_id, oc.k,
             CASE WHEN oc.prev IS NULL
                    THEN CAST(uni.cw AS DOUBLE) / tot.tt
                  WHEN oc.prev2 IS NULL THEN
                    CASE WHEN big.cbw IS NOT NULL
                           THEN CAST(big.cbw AS DOUBLE) / cu.cw
                         ELSE 0.4 * (CAST(uni.cw AS DOUBLE) / tot.tt) END
                  WHEN tri.ctw IS NOT NULL
                    THEN CAST(tri.ctw AS DOUBLE) / cuv.cbw
                  ELSE 0.4 * (
                    CASE WHEN big.cbw IS NOT NULL
                           THEN CAST(big.cbw AS DOUBLE) / cu.cw
                         ELSE 0.4 * (CAST(uni.cw AS DOUBLE) / tot.tt) END)
             END AS p
           FROM oc
           JOIN uni ON oc.w = uni.w
           LEFT JOIN uni cu ON oc.prev = cu.w
           LEFT JOIN big ON oc.prev = big.prev AND oc.w = big.w
           LEFT JOIN big cuv ON oc.prev2 = cuv.prev AND oc.prev = cuv.w
           LEFT JOIN tri ON oc.prev2 = tri.prev2 AND oc.prev = tri.prev
                        AND oc.w = tri.w
           CROSS JOIN tot),
         agg AS (
           SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tok,
             CAST(sum(k * CAST(floor(p * 1e9) AS BIGINT)) AS BIGINT) AS su
           FROM sc GROUP BY doc_id)
         SELECT d.doc_id, coalesce(a.n_tok, 0) AS n_tok,
           CASE WHEN a.doc_id IS NULL THEN CAST(0 AS DOUBLE)
                ELSE CAST(a.su AS DOUBLE) / a.n_tok / 1e9 END AS lm_score
         FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         ORDER BY d.doc_id""",
    // the q_lm_score model algebra verbatim, then the CCNet CASE on the
    // bit-identical score doubles + the canonical-fingerprint scramble
    // gate; the keep cutoffs floor(rate·1e6) are precomputed integers so
    // neither engine's double→int cast semantics enter the hash
    "q_lm_buckets" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents),
         idx AS (
           SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks),
         occ AS (
           SELECT doc_id, t[i] AS w,
                  CASE WHEN i > 1 THEN t[i - 1] END AS prev
           FROM idx WHERE t[i] <> ''),
         oc AS (
           SELECT doc_id, prev, w, count(*) AS k FROM occ GROUP BY ALL),
         uni AS (SELECT w, CAST(sum(k) AS BIGINT) AS cw FROM oc GROUP BY w),
         tot AS (SELECT CAST(sum(k) AS BIGINT) AS tt FROM oc),
         big AS (
           SELECT prev, w, CAST(sum(k) AS BIGINT) AS cbw FROM oc
           WHERE prev IS NOT NULL GROUP BY prev, w),
         sc AS (
           SELECT oc.doc_id, oc.k,
             CASE WHEN oc.prev IS NULL
                    THEN CAST(uni.cw AS DOUBLE) / tot.tt
                  WHEN big.cbw IS NOT NULL
                    THEN CAST(big.cbw AS DOUBLE) / cu.cw
                  ELSE 0.4 * (CAST(uni.cw AS DOUBLE) / tot.tt) END AS p
           FROM oc
           JOIN uni ON oc.w = uni.w
           LEFT JOIN uni cu ON oc.prev = cu.w
           LEFT JOIN big ON oc.prev = big.prev AND oc.w = big.w
           CROSS JOIN tot),
         agg AS (
           SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tok,
             CAST(sum(k * CAST(floor(p * 1e9) AS BIGINT)) AS BIGINT) AS su
           FROM sc GROUP BY doc_id),
         scr AS (
           SELECT d.doc_id, coalesce(a.n_tok, 0) AS n_tok,
             CASE WHEN a.doc_id IS NULL THEN CAST(0 AS DOUBLE)
                  ELSE CAST(a.su AS DOUBLE) / a.n_tok / 1e9 END AS lm_score
           FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id),
         nrm AS (
           SELECT doc_id, trim(regexp_replace(nfc_normalize(text),
             '[ \t\n\x0B\f\r]+', ' ', 'g')) AS ctext
           FROM documents),
         f AS (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(
                   list_filter(string_split(ctext, ''), x -> x <> ''),
                   x -> CAST(ascii(x) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
           FROM nrm)
         SELECT s.doc_id, s.n_tok, s.lm_score,
           CASE WHEN s.lm_score >= 0.0344 THEN 'head'
                WHEN s.lm_score >= 0.0335 THEN 'middle'
                ELSE 'tail' END AS bucket,
           (f.fp * 2654435761) % 1000000 <
             CASE WHEN s.lm_score >= 0.0344 THEN 1000000
                  WHEN s.lm_score >= 0.0335 THEN 500000
                  ELSE 100000 END AS kept
         FROM scr s JOIN f ON s.doc_id = f.doc_id
         ORDER BY s.doc_id""",
    // same construction: word counts → chars+</w> → adjacent pairs
    // weighted by word frequency, total-ordered top-50
    "q_bpe" ->
      """WITH toks AS (
           SELECT string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents),
         w AS (SELECT unnest(t) AS word FROM toks),
         wc AS (
           SELECT word, count(*) AS n FROM w WHERE word <> '' GROUP BY word),
         syms AS (
           SELECT n, array_append(string_split(word, ''), '</w>') AS s
           FROM wc),
         pr AS (
           SELECT n, unnest(list_transform(range(1, len(s)),
             i -> struct_pack(l := s[i], r := s[i + 1]))) AS p
           FROM syms)
         SELECT p.l AS l, p.r AS r, CAST(sum(n) AS BIGINT) AS n_occ
         FROM pr GROUP BY p.l, p.r
         ORDER BY n_occ DESC, l, r LIMIT 50""",
    "q_text_stats" ->
      TextStatsOracle.sql,
    // Replicates FakeDecoder: Java Arrays.hashCode over the UTF-8 payload
    // (31·h + signed byte, 32-bit wrap), masked to 31 bits, then the same
    // width/height/frames arithmetic.
    "q_multimodal" ->
      """WITH b AS (
           SELECT doc_id, lower(hex(encode(text))) AS hx,
                  octet_length(encode(text)) AS nb, source
           FROM documents),
         bytes AS (
           SELECT doc_id, source,
             list_transform(range(1, nb + 1),
               i -> (strpos('0123456789abcdef', substr(hx, 2*i - 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1)) AS ub
           FROM b),
         h AS (
           SELECT doc_id, source,
             list_reduce(
               list_prepend(CAST(1 AS BIGINT),
                 list_transform(ub, v -> CAST(CASE WHEN v >= 128 THEN v - 256 ELSE v END AS BIGINT))),
               (acc, v) -> ((acc * 31 + v) % 4294967296 + 4294967296) % 4294967296) % 2147483648 AS hv
           FROM bytes)
         SELECT doc_id AS media_id,
           hv % 640 + 16 AS width,
           (hv // 640) % 480 + 16 AS height,
           CASE WHEN ('fake/' || source) LIKE 'video/%' THEN hv % 120 + 1 ELSE 1 END AS n_frames
         FROM h ORDER BY media_id""",
    "q_media_frames" ->
      """WITH b AS (
           SELECT doc_id, lower(hex(encode(text))) AS hx,
                  octet_length(encode(text)) AS nb, source
           FROM documents),
         bytes AS (
           SELECT doc_id, source,
             list_transform(range(1, nb + 1),
               i -> (strpos('0123456789abcdef', substr(hx, 2*i - 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1)) AS ub
           FROM b),
         h AS (
           SELECT doc_id, source,
             list_reduce(
               list_prepend(CAST(1 AS BIGINT),
                 list_transform(ub, v -> CAST(CASE WHEN v >= 128 THEN v - 256 ELSE v END AS BIGINT))),
               (acc, v) -> ((acc * 31 + v) % 4294967296 + 4294967296) % 4294967296) % 2147483648 AS hv
           FROM bytes),
         dims AS (
           SELECT doc_id AS media_id,
             hv % 640 + 16 AS width,
             (hv // 640) % 480 + 16 AS height,
             CASE WHEN (CASE WHEN doc_id % 3 = 0 THEN 'video/mp4'
                             ELSE 'image/' || source END) LIKE 'video/%'
                  THEN hv % 120 + 1 ELSE 1 END AS n_frames
           FROM h),
         rs AS (
           SELECT media_id, width, height, n_frames,
             least(1.0, 256.0 / width, 256.0 / height) AS f
           FROM dims),
         rr AS (
           SELECT media_id,
             CAST(greatest(1, CAST(round(width * f) AS BIGINT)) AS BIGINT) AS r_width,
             CAST(greatest(1, CAST(round(height * f) AS BIGINT)) AS BIGINT) AS r_height,
             CAST(greatest(1, CAST(ceil(n_frames / 4.0) AS BIGINT)) AS BIGINT) AS step,
             n_frames
           FROM rs)
         SELECT media_id, r_width, r_height,
           unnest(range(0, n_frames, step)) AS frame_idx
         FROM rr ORDER BY media_id, frame_idx""",
    // same fingerprint fold + scramble as q_sample; shard/order/bin are
    // pure integer arithmetic so the window cumsum matches bit-for-bit
    "q_pack" ->
      """WITH f AS (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                   c -> CAST(ascii(c) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS fp,
             CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         s AS (
           SELECT doc_id, fp % 8 AS shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY fp % 8 ORDER BY fp, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
           FROM f)
         SELECT doc_id, shard, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS pos,
           CAST(((cum - n_tokens) // 512) * 8 + shard AS BIGINT) AS bin
         FROM s ORDER BY doc_id""",
    // the fold runs over the CANONICAL text (nfc + whitespace collapse),
    // the canonicalFingerprint twin
    "q_split" ->
      """WITH nrm AS (
           SELECT doc_id, trim(regexp_replace(nfc_normalize(text),
             '[ \t\n\x0B\f\r]+', ' ', 'g')) AS text
           FROM documents),
         f AS (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                   c -> CAST(ascii(c) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
           FROM nrm)
         SELECT doc_id,
           CASE WHEN (fp * 2654435761) % 1000000 < 980000 THEN 'train'
                WHEN (fp * 2654435761) % 1000000 < 990000 THEN 'val'
                ELSE 'test' END AS split
         FROM f ORDER BY doc_id""",
    "q_text_fingerprint" ->
      """SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
         FROM documents ORDER BY doc_id""",
    // capstone v2: the four hygiene stages composed, each mirroring its
    // stand-alone oracle (repetition filter uses the distinct-count
    // formulation — value-identical to the run-length fold)
    "q_pipeline_hygiene" ->
      """WITH d0 AS (
           SELECT doc_id, trim(regexp_replace(nfc_normalize(
               CASE WHEN doc_id % 50 = 0 THEN text || ' caf' || chr(233)
                    ELSE text END),
             '[ \t\n\x0B\f\r]+', ' ', 'g')) AS text
           FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id,
             trim(regexp_replace(nfc_normalize(text || ' cafe' || chr(769)),
               '[ \t\n\x0B\f\r]+', ' ', 'g')) AS text
           FROM documents WHERE doc_id % 50 = 0),
         toks AS (
           SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM d0),
         grams AS (
           SELECT doc_id, text, t,
             list_transform(range(1, greatest(len(t) - 1, 0) + 1),
               i -> list_aggregate(list_slice(t, i, i + 1), 'string_agg', ' ')) AS g2
           FROM toks),
         rep AS (
           SELECT doc_id, text FROM grams
           WHERE (CASE WHEN len(t) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) END) < 0.6
             AND (CASE WHEN len(g2) = 0 THEN 0.0
                  ELSE CAST(coalesce(list_max(list_transform(list_distinct(g2),
                      x -> len(list_filter(g2, y -> y = x)))), 0) AS DOUBLE)
                    / CAST(len(g2) AS DOUBLE) END) < 0.15),
         btoks AS (
           SELECT string_split_regex(trim(lower(text)), '\s+') AS t
           FROM d0 WHERE doc_id % 97 = 0),
         bsh AS (
           SELECT DISTINCT unnest(list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' ')))) AS shingle
           FROM btoks),
         rsh AS (
           SELECT r.doc_id, r.text, list_distinct(list_transform(
             range(1, greatest(len(string_split_regex(trim(lower(r.text)), '\s+')) - 2, 0) + 1),
             i -> list_aggregate(list_slice(string_split_regex(trim(lower(r.text)), '\s+'), i, i + 2), 'string_agg', ' '))) AS s
           FROM rep r),
         ov AS (
           SELECT i.doc_id, count(*) AS overlap
           FROM (SELECT doc_id, unnest(s) AS shingle FROM rsh) i
           JOIN bsh USING (shingle) GROUP BY i.doc_id),
         surv AS (
           SELECT rs.doc_id, rs.text FROM rsh rs
           LEFT JOIN ov ON rs.doc_id = ov.doc_id
           WHERE coalesce(ov.overlap, 0) < 2),
         stoks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM surv),
         wins AS (
           SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 9, 0) + 1),
             i -> struct_pack(pos := i - 1,
               win := list_aggregate(list_slice(t, i, i + 9), 'string_agg', ' ')))) AS u
           FROM stoks),
         w2 AS (SELECT doc_id, u.pos AS pos, u.win AS win FROM wins),
         dupw AS (SELECT win FROM w2 GROUP BY win HAVING count(*) >= 2),
         cov AS (
           SELECT doc_id, list(DISTINCT pos) AS starts
           FROM w2 JOIN dupw USING (win) GROUP BY doc_id),
         kept AS (
           SELECT t.doc_id,
             CASE WHEN c.starts IS NULL THEN t.t
                  ELSE list_filter(t.t, (x, i) ->
                    len(list_filter(c.starts, s -> i - 1 >= s AND i - 1 < s + 10)) = 0)
             END AS k, t.t AS t
           FROM stoks t LEFT JOIN cov c USING (doc_id)),
         cleaned AS (
           SELECT doc_id, coalesce(list_aggregate(k, 'string_agg', ' '), '') AS clean,
                  CAST(len(t) - len(k) AS BIGINT) AS n_removed
           FROM kept),
         keepers AS (SELECT min(doc_id) AS doc_id FROM cleaned GROUP BY lower(clean))
         SELECT c.doc_id, c.clean, c.n_removed
         FROM cleaned c JOIN keepers USING (doc_id) ORDER BY c.doc_id""",
    // same token/gram construction as the Spark side, same double divisions
    "q_quality_rep" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents),
         grams AS (
           SELECT doc_id, t,
             list_transform(range(1, greatest(len(t) - 1, 0) + 1),
               i -> list_aggregate(list_slice(t, i, i + 1), 'string_agg', ' ')) AS g2,
             list_transform(range(1, greatest(len(t) - 2, 0) + 1),
               i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' ')) AS g3
           FROM toks)
         SELECT doc_id,
           CASE WHEN len(t) = 0 THEN 0.0 ELSE
             1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
           END AS dup_tok_frac,
           CASE WHEN len(g2) = 0 THEN 0.0 ELSE
             CAST(coalesce(list_max(list_transform(list_distinct(g2),
               x -> len(list_filter(g2, y -> y = x)))), 0) AS DOUBLE)
               / CAST(len(g2) AS DOUBLE)
           END AS top2_frac,
           CASE WHEN len(g3) = 0 THEN 0.0 ELSE
             CAST(coalesce(list_max(list_transform(list_distinct(g3),
               x -> len(list_filter(g3, y -> y = x)))), 0) AS DOUBLE)
               / CAST(len(g3) AS DOUBLE)
           END AS top3_frac
         FROM grams ORDER BY doc_id""",
    // same windows, grouped by TEXT oracle-side (digest-free), same
    // 0-based keep filter; empty results coalesce to '' like concat_ws
    "q_dedup_substring" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents),
         wins AS (
           SELECT doc_id, unnest(list_transform(
             range(1, greatest(len(t) - 9, 0) + 1),
             i -> struct_pack(pos := i - 1,
               win := list_aggregate(list_slice(t, i, i + 9), 'string_agg', ' ')))) AS u
           FROM toks),
         w2 AS (SELECT doc_id, u.pos AS pos, u.win AS win FROM wins),
         dup AS (SELECT win FROM w2 GROUP BY win HAVING count(*) >= 2),
         cov AS (
           SELECT doc_id, list(DISTINCT pos) AS starts
           FROM w2 JOIN dup USING (win) GROUP BY doc_id),
         kept AS (
           SELECT t.doc_id,
             CASE WHEN c.starts IS NULL THEN t.t
                  ELSE list_filter(t.t, (x, i) ->
                    len(list_filter(c.starts, s -> i - 1 >= s AND i - 1 < s + 10)) = 0)
             END AS k, t.t AS t
           FROM toks t LEFT JOIN cov c USING (doc_id))
         SELECT doc_id,
           coalesce(list_aggregate(k, 'string_agg', ' '), '') AS clean,
           CAST(len(t) - len(k) AS BIGINT) AS n_removed
         FROM kept ORDER BY doc_id""",
    "q_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' '))) AS s
           FROM toks),
         bench AS (
           SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 97 = 0),
         inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
         ov AS (
           SELECT i.doc_id, count(*) AS overlap
           FROM inv i JOIN bench b ON i.shingle = b.shingle
           GROUP BY i.doc_id)
         SELECT d.doc_id,
           coalesce(o.overlap, 0) AS overlap,
           coalesce(o.overlap, 0) >= 2 AS contaminated
         FROM documents d LEFT JOIN ov o ON d.doc_id = o.doc_id
         ORDER BY d.doc_id""",
    // same shingle/benchmark construction; frac is ONE double division
    "q_decontaminate_frac" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' '))) AS s
           FROM toks),
         bench AS (
           SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 97 = 0),
         inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
         ov AS (
           SELECT i.doc_id, count(*) AS overlap
           FROM inv i JOIN bench b ON i.shingle = b.shingle
           GROUP BY i.doc_id),
         base AS (
           SELECT s.doc_id, len(s.s) AS n_sh, coalesce(o.overlap, 0) AS overlap
           FROM sh s LEFT JOIN ov o ON s.doc_id = o.doc_id)
         SELECT doc_id, CAST(n_sh AS BIGINT) AS n_sh,
           CAST(overlap AS BIGINT) AS overlap,
           CASE WHEN n_sh = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(overlap AS DOUBLE) / CAST(n_sh AS DOUBLE) END AS frac,
           CASE WHEN n_sh = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(overlap AS DOUBLE) / CAST(n_sh AS DOUBLE) END
             >= 0.3 AS contaminated
         FROM base ORDER BY doc_id""",
    // exact contaminated count from the same CTE; the booleans are the
    // Bloom CONTRACT — zero false negatives (recall is total by
    // construction) and an fpp-bounded over-flag budget
    "q_decontaminate_bloom" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' '))) AS s
           FROM toks),
         bench AS (
           SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 97 = 0),
         inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
         ov AS (
           SELECT i.doc_id, count(*) AS overlap
           FROM inv i JOIN bench b ON i.shingle = b.shingle
           GROUP BY i.doc_id)
         SELECT count(*) AS n_exact,
           TRUE AS recall_total, TRUE AS fp_bounded
         FROM ov WHERE overlap >= 2""",
    // cross-corpus variant of the minhash gate twin: exact (doc, bench)
    // Jaccard pairs at τ=0.5 with ≥2 common shingles (string shingles —
    // the engine's 64-bit digests differ by the accepted ~2^-64 term)
    "q_decontaminate_fuzzy" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' '))) AS s
           FROM toks),
         inv AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.n_sh AS na, b.n_sh AS nb, count(*) AS common
           FROM inv a JOIN inv b
             ON a.shingle = b.shingle AND b.doc_id % 97 = 0
           GROUP BY 1, 2, 3, 4)
         SELECT count(*) AS n_exact, TRUE AS precision_ok, TRUE AS recall_ok
         FROM pairs
         WHERE common >= 2
           AND CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.5""",
    // the q_dedup_clusters recursive closure restricted to the 25% slice
    // + argmax by (n_chars DESC, doc_id ASC) per cluster
    "q_dedup_keepbest" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
           FROM documents WHERE doc_id % 4 = 1),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' '))) AS s
           FROM toks),
         inv AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM inv a JOIN inv b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
           HAVING count(*) >= 2
              AND CAST(count(*) AS DOUBLE)
                  / CAST(a.n_sh + b.n_sh - count(*) AS DOUBLE) >= 0.2),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         reach(a, b) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         comp AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
         cl AS (
           SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster, d.n_chars
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
           WHERE d.doc_id % 4 = 1),
         ranked AS (
           SELECT cluster, doc_id, n_chars,
             row_number() OVER (PARTITION BY cluster
               ORDER BY n_chars DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY cluster) AS n_members,
             max(n_chars) OVER (PARTITION BY cluster) AS keep_quality
           FROM cl)
         SELECT cluster, doc_id AS keep_id, keep_quality, n_members
         FROM ranked WHERE rn = 1 ORDER BY cluster""",
    // identical RE2-safe patterns, identical synthetic PII construction
    "q_redact" ->
      """WITH pii AS (
           SELECT doc_id,
             substring(text, 1, 40) || ' u' || CAST(doc_id AS VARCHAR)
               || '@example.com call 555-010-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
               || CAST((doc_id * 7) % 256 AS VARCHAR) AS s
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(s,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean,
           CAST(len(regexp_extract_all(s,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(regexp_replace(s,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(regexp_replace(regexp_replace(s,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip
         FROM pii ORDER BY doc_id"""
  )
}

/** DuckDB oracle for q_text_stats — kept separate for readability; mirrors
  * TextAnalysis column-for-column (same marker lists, same tie order, same
  * double divisions).
  */
object TextStatsOracle {
  private def inList(words: Seq[String]) = words.map(w => s"'$w'").mkString("(", ", ", ")")
  private val en = inList(TextAnalysis.markers("en"))
  private val es = inList(TextAnalysis.markers("es"))
  private val de = inList(TextAnalysis.markers("de"))
  private val fr = inList(TextAnalysis.markers("fr"))
  private val all = inList(
    TextAnalysis.markers.values.flatten.toSeq.distinct)

  val sql: String =
    s"""WITH base AS (
          SELECT doc_id, text,
                 string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents),
        c AS (
          SELECT doc_id, text, toks,
            CAST(len(list_filter(toks, t -> t IN $en)) AS BIGINT) AS c_en,
            CAST(len(list_filter(toks, t -> t IN $es)) AS BIGINT) AS c_es,
            CAST(len(list_filter(toks, t -> t IN $de)) AS BIGINT) AS c_de,
            CAST(len(list_filter(toks, t -> t IN $fr)) AS BIGINT) AS c_fr
          FROM base)
        SELECT doc_id,
          CASE WHEN greatest(c_en, c_es, c_de, c_fr) = 0 THEN 'und'
               WHEN c_en = greatest(c_en, c_es, c_de, c_fr) THEN 'en'
               WHEN c_es = greatest(c_en, c_es, c_de, c_fr) THEN 'es'
               WHEN c_de = greatest(c_en, c_es, c_de, c_fr) THEN 'de'
               ELSE 'fr' END AS lang_pred,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(length(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe,
          CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
            / greatest(len(toks), 1) AS mean_tok_len,
          CAST(len(list_filter(toks, t -> t IN $all)) AS DOUBLE)
            / greatest(len(toks), 1) AS stop_ratio,
          CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE)
            / greatest(length(text), 1) AS alpha_ratio
        FROM c ORDER BY doc_id"""
}

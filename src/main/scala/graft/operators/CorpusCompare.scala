package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-vs-corpus comparison operators — the monitoring / curation layer
  * of a training-data pipeline: how different is this crawl from the last
  * one (distribution drift), how much of it have we already got (content
  * overlap), and which slice of it looks most like the curated target
  * (importance-weighted data selection, Xie et al. 2023 "Data Selection
  * for Language Models via Importance Resampling" — DSIR). No reference
  * analogue: upstream htsql stops at relational navigation; these compare
  * whole corpora as distributions, the step a 100 TB pipeline runs before
  * committing a new snapshot to training.
  *
  * Determinism rule (the `LanguageModel.lmScore` precedent): every
  * per-gram / per-bucket contribution is a fixed tree of IEEE divisions,
  * multiplications, and subtractions — all correctly-rounded operations
  * that evaluate bit-identically in any engine — quantized to integer
  * units of 1e-9 with `floor` and summed as longs, so no result depends
  * on partition or merge order and no transcendental (log) can diverge
  * cross-engine by a ulp. `topKeywords`' linear idf and `lmScore`'s mean
  * score follow the same rule.
  *
  * 100 TB shape, common to every family here:
  *   - each corpus is tokenized ONCE and pre-aggregated map-side, so every
  *     shuffle carries one row per DISTINCT gram / bucket / digest — the
  *     Heaps-bounded vocabulary or the fixed bucket table, never the
  *     corpus bytes;
  *   - the model tables that join back onto per-document rows are
  *     aggregate-sized (≤ #buckets or 1 row) and broadcast;
  *   - nothing corpus-sized reaches the driver.
  */
object CorpusCompare {

  /** Unigram occurrence counts of a corpus: one row per distinct token.
    * Explode → partial-agg: the shuffle carries the distinct-token table
    * (Heaps' law: sublinear in corpus size), not token occurrences.
    * No `Staging.widen` here (or in the overlap digests): the per-row
    * work is a single tokenize/hash — too light to repay repartitioning
    * the text bytes (measured: drift 3.0 → 12.0 s at the 50k-doc ladder
    * tier with widen on a 16-split input). The dsir gram stream, whose
    * per-row work is bigram-concat + fingerprint per gram, DOES widen.
    */
  private def gramCounts(df: DataFrame, text: Column): DataFrame =
    df.select(explode(TextAnalysis.tokens(text)).as("gram"))
      .filter(col("gram") =!= "")
      .groupBy("gram").agg(count(lit(1)).as("n"))

  /** Quantified drift join over two (key, count) distributions: full-outer
    * join with rates against broadcast one-row totals, each row carrying
    * the quantized |p − q| and (p−q)²/(p+q) contributions. Rates are
    * single IEEE divisions; shared by the token and embedding drifts.
    * `ca` must carry (key, n_a), `cb` (key, n_b).
    */
  private def driftJoin(ca: DataFrame, cb: DataFrame, key: String): DataFrame = {
    val ta = ca.agg(sum("n_a").as("ta"))
    val tb = cb.agg(sum("n_b").as("tb"))
    val joined = ca.join(cb, Seq(key), "full_outer")
      .na.fill(0L, Seq("n_a", "n_b"))
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
    val p = col("n_a").cast("double") / col("ta")
    val q = col("n_b").cast("double") / col("tb")
    joined.select(col(key), col("n_a"), col("n_b"),
      floor(abs(p - q) * lit(1e9d)).cast("long").as("drift_q"),
      floor((p - q) * (p - q) / (p + q) * lit(1e9d)).cast("long").as("tri_q"))
  }

  /** One-row summary over a [[driftJoin]] frame — the type counts and the
    * exact quantized-long divergence sums. Drift against an EMPTY corpus
    * is ill-defined (its total is null, so rates and both divergences
    * come back null rather than a fabricated number — callers comparing
    * possibly-empty snapshots should count first).
    */
  private def summarize(j: DataFrame): DataFrame =
    j.agg(
      sum(when(col("n_a") > 0, 1L).otherwise(0L)).as("n_types_a"),
      sum(when(col("n_b") > 0, 1L).otherwise(0L)).as("n_types_b"),
      sum(when(col("n_a") > 0 && col("n_b") > 0, 1L).otherwise(0L))
        .as("n_types_common"),
      (sum("drift_q").cast("double") / lit(2e9d)).as("tvd"),
      (sum("tri_q").cast("double") / lit(1e9d)).as("tri"))

  /** Per-gram drift frame shared by [[driftByGram]] and [[driftSummary]]. */
  private def driftFrame(a: DataFrame, b: DataFrame, text: Column): DataFrame =
    driftJoin(
      gramCounts(a, text).withColumnRenamed("n", "n_a"),
      gramCounts(b, text).withColumnRenamed("n", "n_b"), "gram")

  /** Top-`k` drifting tokens between corpora `a` and `b`: the grams whose
    * rate |n_a/Ta − n_b/Tb| moved most, under the total order
    * (drift desc, gram asc). Output: (gram, n_a, n_b, drift_q) where
    * drift_q = floor(1e9·|p − q|) — an exact integer both engines agree
    * on. This is the "what changed between crawls" report: new
    * boilerplate, a language shift, or a scraper bug each surface as a
    * handful of grams owning the drift mass.
    *
    * Plan: two distinct-gram aggregations → one full-outer join on the
    * gram → TakeOrdered(k). The join is vocabulary-sized on both sides.
    */
  def driftByGram(a: DataFrame, b: DataFrame, text: Column, k: Int): DataFrame =
    driftFrame(a, b, text)
      .orderBy(col("drift_q").desc, col("gram"))
      .limit(k)
      .select("gram", "n_a", "n_b", "drift_q")

  /** One-row corpus drift summary:
    *   - `n_types_a` / `n_types_b` / `n_types_common` — vocabulary sizes
    *     and shared-type count;
    *   - `tvd` — total variation distance, ½·Σ|p−q| ∈ [0,1];
    *   - `tri` — triangular discrimination, Σ(p−q)²/(p+q) ∈ [0,2]
    *     (Topsøe 2000; bounds Jensen–Shannon divergence within constant
    *     factors) — a log-free f-divergence, so it obeys the
    *     no-transcendentals determinism rule where KL cannot.
    * Both sums aggregate the quantized per-gram longs: exact, order-free.
    */
  def driftSummary(a: DataFrame, b: DataFrame, text: Column): DataFrame =
    summarize(driftFrame(a, b, text))

  /** QUALITY-distribution drift — the third leg of the monitoring triad
    * (content grams, embedding geometry, and now the quality signal a
    * filtering pipeline actually thresholds on): bucket
    * [[TextAnalysis.qualityScore]] into `bins` fixed-width bins
    * (floor(q·bins) — one exact IEEE multiply both engines agree on,
    * since the score itself is the oracle-replayed datacard arithmetic)
    * and run the shared quantized TVD/triangular summary over the two
    * bucket histograms. Catches what gram drift can't see directly: a
    * scraper change that shortens documents or strips punctuation moves
    * the SCORE distribution even when the vocabulary barely shifts —
    * i.e. tomorrow's keep-rate under today's threshold changes.
    *
    * Scale shape: per-corpus cost is one map-side score + one ≤(bins+1)-
    * row partial aggregate; the drift join is bins-sized. Nothing
    * corpus-sized shuffles.
    */
  def qualityDrift(a: DataFrame, b: DataFrame, text: Column,
      bins: Int = 20): DataFrame = {
    require(bins >= 1, s"bins must be positive, got $bins")
    def counts(df: DataFrame, n: String) = df
      .select(floor(TextAnalysis.qualityScore(text) * lit(bins.toDouble))
        .cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as(n))
    summarize(driftJoin(counts(a, "n_a"), counts(b, "n_b"), "bucket"))
  }

  /** Sign-pattern bucket of an embedding: bit i set iff vec[i] ≥ 0 over
    * the first `dims` dimensions — the axis-aligned instance of
    * sign-random-projection hashing (Charikar 2002; SimHash with identity
    * projections), so nearby vectors share buckets and a distribution
    * shift moves bucket occupancy. IEEE `≥` is exact in any engine (−0.0
    * ≥ 0 is true in both; NaN ≥ 0 is TRUE in both — Spark SQL and DuckDB
    * order NaN greater than any number under their total float ordering,
    * so the bit is set either way; a missing dimension indexes to NULL →
    * bit 0 in both).
    */
  def signBucket(vec: Column, dims: Int): Column =
    (0 until dims).map { i =>
      when(element_at(vec, i + 1) >= 0f, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** Embedding-distribution drift between two VECTOR corpora — the
    * vector-side sibling of [[driftSummary]] ("did the embedding space
    * move between snapshots / sources"): corpora histogram into
    * ≤2^`signDims` sign-pattern buckets (one per-row bit-pack each, no
    * model to train, exactly replayable in SQL), then the same
    * quantized TVD / triangular-discrimination summary over bucket
    * occupancy. Output mirrors driftSummary with bucket counts as types.
    *
    * What it can and cannot see (measured on the isotropic fixture):
    * occupancy drift detects SHAPE/ASYMMETRY changes — a truncation, a
    * collapsed mode, an abs/clip bug upstream. A near-symmetric mixture
    * is ~uniform over sign buckets, so transformations that preserve
    * that symmetry (e.g. global negation) are INVISIBLE here, and
    * location/scale drift shows weakly; run [[embeddingMomentDrift]]
    * alongside for those. Sampling noise in tvd scales ~√(buckets/n):
    * choose 2^signDims ≪ corpus size (the 16-bit default assumes ≥10⁸
    * vectors; toy corpora want 4-6 bits).
    *
    * 100 TB shape: one narrow scan per corpus fused into a partial-agg'd
    * groupBy on a ≤65k-value key; the join and summary are
    * histogram-sized. Distinguishes distribution-level drift, not
    * per-item novelty — pair that question with the ANN/novelty ops.
    */
  def embeddingDriftSummary(a: DataFrame, b: DataFrame, vec: Column,
      signDims: Int = 16): DataFrame = {
    require(signDims > 0 && signDims <= 62,
      s"signDims must be in [1, 62], got $signDims")
    def counts(df: DataFrame, alias: String): DataFrame =
      df.select(signBucket(vec, signDims).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(alias))
    summarize(driftJoin(counts(a, "n_a"), counts(b, "n_b"), "bucket"))
  }

  /** Per-dimension MOMENT drift between two vector corpora — the
    * first-line embedding-drift monitor (location/scale changes that the
    * occupancy histogram sees weakly): for every dimension, both corpora's
    * count, mean, and the Welch z-score of the mean difference,
    *
    *   z_d = (m_a − m_b) / √(v_a/n_a + v_b/n_b),
    *
    * |z| ≫ 3 on any dimension = the embedding distribution moved (a new
    * encoder checkpoint, a normalization bug, a modality mix shift).
    *
    * Determinism: element values quantize to floor(x·1e6) (and x²·1e6)
    * longs summed into exact decimals — partition-order-free and exactly
    * SQL-replayable; means/variances/z are then a fixed tree of
    * correctly-rounded IEEE ops (divisions, one sqrt — IEEE 754 requires
    * sqrt exact, unlike log/exp), so both engines agree bitwise. The 1e-6
    * quantization step is far below any drift worth alarming on.
    *
    * 100 TB shape: one narrow scan per corpus, posexplode → partial-agg'd
    * groupBy on the ≤dims-value key (exchange = dims rows per partition);
    * the join and z computation are dims-sized. Decimal sums hold to 10³⁸
    * — no overflow at any corpus size (a quantized long sum would clip
    * past ~10¹² large-magnitude elements).
    */
  def embeddingMomentDrift(a: DataFrame, b: DataFrame, vec: Column): DataFrame = {
    def mom(df: DataFrame, sfx: String): DataFrame =
      df.select(posexplode(vec).as(Seq("dim", "x")))
        .groupBy("dim")
        .agg(count(lit(1)).as(s"n_$sfx"),
          sum(floor(col("x").cast("double") * lit(1e6d)).cast("decimal(38,0)"))
            .as(s"s1_$sfx"),
          sum(floor(col("x").cast("double") * col("x").cast("double") * lit(1e6d))
            .cast("decimal(38,0)")).as(s"s2_$sfx"))
    def mean(sfx: String): Column =
      col(s"s1_$sfx").cast("double") / lit(1e6d) / col(s"n_$sfx")
    def vr(sfx: String): Column = greatest(
      col(s"s2_$sfx").cast("double") / lit(1e6d) / col(s"n_$sfx")
        - mean(sfx) * mean(sfx), lit(0.0d))
    val denom = sqrt(vr("a") / col("n_a") + vr("b") / col("n_b"))
    mom(a, "a").join(mom(b, "b"), Seq("dim"))
      .select(col("dim"), col("n_a"), col("n_b"),
        mean("a").as("mean_a"), mean("b").as("mean_b"),
        when(denom === 0.0d, lit(0.0d))
          .otherwise((mean("a") - mean("b")) / denom).as("z"))
      .orderBy("dim")
  }

  // ---- incremental drift: persisted gram-count index -------------------

  /** Build a persisted gram-count index at `path` (overwrites): the
    * `grams/` store holds (gram, n) occurrence counts — the corpus's
    * token distribution, Heaps-bounded (vocabulary-sized, a few percent
    * of the text bytes), which is all drift ever reads. The incremental
    * pattern of `IncrementalDedup` applied to the monitoring family: a
    * DAILY drift check must not re-tokenize the historical corpus.
    *
    * Durability contract: an [[IndexMaintenance]] root, like the dedup
    * indices; appends add complete delta-count segments and reads SUM per
    * gram across them, so the layout is merge-on-read and a crashed
    * append commits nothing (re-run it). [[compactGramIndex]] folds
    * accumulated deltas into one segment.
    */
  def buildGramIndex(docs: DataFrame, text: Column, path: String): Unit =
    IndexMaintenance.withWriterLease(docs.sparkSession, path)(
      _.replace("grams", gramCounts(docs, text)))

  /** Append a delta batch's gram counts to an existing index (one
    * vocabulary-sized segment per append; reads merge by summing).
    * Exactly-once: count rows carry no replay identity, so a re-run
    * append double-counts. The streaming ingest's append is exactly-once
    * under replay because it runs under the root's batch watermark
    * ([[IndexMaintenance.withWriterLease]]).
    */
  def appendToGramIndex(delta: DataFrame, text: Column, path: String): Unit =
    IndexMaintenance.withWriterLease(delta.sparkSession, path)(
      appendGrams(delta, text))

  private[graft] def appendGrams(delta: DataFrame,
      text: Column): IndexMaintenance.Tx => Unit =
    _.append("grams", gramCounts(delta, text))

  /** RETRACT docs (takedown) from the gram-count index: append their
    * gram counts NEGATED — counts are additive, so merge-on-read sums
    * stay exact and drift checks afterwards equal a fresh index built on
    * the surviving corpus (grams a retraction zeroes out are filtered at
    * read and dropped by compaction). `docs` must be exactly the
    * indexed documents being removed. Exactly-once per retraction batch,
    * like this store's plain appends.
    */
  def retractFromGramIndex(docs: DataFrame, text: Column, path: String): Unit =
    IndexMaintenance.withWriterLease(docs.sparkSession, path)(
      _.append("grams", gramCounts(docs, text).select(col("gram"), (-col("n")).as("n"))))

  /** The index's merged distribution: SUM per gram across the build file
    * and every appended delta — exactly the counts a monolithic
    * [[driftSummary]] over the unioned corpus would compute. Grams a
    * retraction zeroed out drop here, so the merged view is row-identical
    * to a fresh build on the survivors.
    */
  private def indexCounts(spark: SparkSession, path: String): DataFrame =
    IndexMaintenance.snapshot(spark, path).read("grams")
      .groupBy("gram").agg(sum("n").as("n"))
      .filter(col("n") =!= 0)

  /** [[driftSummary]] of the INDEXED corpus vs a live corpus `b`: the
    * index side reads the vocabulary-sized gram store instead of
    * re-tokenizing the history — per-check cost is the delta scan + a
    * vocab-sized merge, regardless of how large the indexed corpus has
    * grown. Exactly equals the monolithic summary over the same corpora
    * (spec-pinned bit equality).
    */
  def driftSummaryAgainstIndex(spark: SparkSession, path: String,
      b: DataFrame, text: Column): DataFrame =
    summarize(driftJoin(
      indexCounts(spark, path).withColumnRenamed("n", "n_a"),
      gramCounts(b, text).withColumnRenamed("n", "n_b"), "gram"))

  /** [[driftByGram]] against the persisted index — the top-k report at
    * monitoring cadence.
    */
  def driftByGramAgainstIndex(spark: SparkSession, path: String,
      b: DataFrame, text: Column, k: Int): DataFrame =
    driftJoin(
      indexCounts(spark, path).withColumnRenamed("n", "n_a"),
      gramCounts(b, text).withColumnRenamed("n", "n_b"), "gram")
      .orderBy(col("drift_q").desc, col("gram"))
      .limit(k)
      .select("gram", "n_a", "n_b", "drift_q")

  /** Fold the accumulated delta segments into one pre-summed segment, in
    * one [[IndexMaintenance]] commit. Counts are bit-identical pre/post
    * (sum of sums).
    */
  def compactGramIndex(spark: SparkSession, path: String): Unit =
    IndexMaintenance.withWriterLease(spark, path) { tx =>
      tx.replace("grams", tx.snapshot.read("grams")
        .groupBy("gram").agg(sum("n").as("n"))
        // grams a retraction zeroed out fold away entirely (the
        // term-stats rule): the compacted store is row-identical to a
        // fresh build on the surviving corpus
        .filter(col("n") =!= 0))
    }

  /** Content overlap between two corpora, exact + gated sample estimate.
    *
    * Identity is the rolling-hash content fingerprint (the dedup /
    * mixture / split identity): a document is "shared" iff its exact
    * bytes (mod lowercasing by the caller's text expression) appear in
    * both corpora. One row out:
    *   - `n_a`, `n_b` — distinct contents per corpus;
    *   - `n_common` — distinct contents in both;
    *   - `jaccard` — n_common / (n_a + n_b − n_common), one division;
    *   - `est_ok` — |sampled estimate − exact| ≤ `tol`, the gate bit for
    *     the mod-`sampleMod` estimator below.
    *
    * Plan: union both corpora's fingerprints tagged by side → ONE
    * partial-agg'd groupBy on the 8-byte digest → one-row final aggregate
    * computing the exact counts and, from the same grouped frame, the
    * sampled counts (digests with hash(fp) mod sampleMod = 0). At 100 TB
    * the exact path's shuffle carries one row per distinct digest; the
    * production estimator [[corpusOverlapSampled]] pushes the mod filter
    * BELOW the shuffle instead, cutting the exchange by sampleMod×.
    */
  def corpusOverlap(a: DataFrame, b: DataFrame, text: Column,
      sampleMod: Int = 4, tol: Double = 0.2): DataFrame = {
    require(sampleMod > 0, s"sampleMod must be positive, got $sampleMod")
    val sides = overlapSides(a, b, text)
    val sampled = col("_smp")
    val estJ = overlapJaccard(
      sum(when(sampled && col("in_a"), 1L).otherwise(0L)),
      sum(when(sampled && col("in_b"), 1L).otherwise(0L)),
      sum(when(sampled && col("in_a") && col("in_b"), 1L).otherwise(0L)))
    sides
      .withColumn("_smp", pmod(xxhash64(col("fp")), lit(sampleMod.toLong)) === 0L)
      .agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("in_b"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L)).as("n_common"),
        overlapJaccard(
          sum(when(col("in_a"), 1L).otherwise(0L)),
          sum(when(col("in_b"), 1L).otherwise(0L)),
          sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L))).as("jaccard"),
        (abs(estJ - overlapJaccard(
          sum(when(col("in_a"), 1L).otherwise(0L)),
          sum(when(col("in_b"), 1L).otherwise(0L)),
          sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L)))) <= tol)
          .as("est_ok"))
  }

  /** Production overlap estimator: the mod-`sampleMod` digest sample,
    * filter pushed BELOW the distinct-digest shuffle — the exchange and
    * the aggregation state shrink by sampleMod× while the Jaccard
    * estimate stays unbiased (a uniform hash samples A∩B, A, B at the
    * same rate). Use when the corpora are too large to justify the exact
    * distinct pass; [[corpusOverlap]]'s gate bit bounds the error on
    * every run of the oracle suite.
    */
  def corpusOverlapSampled(a: DataFrame, b: DataFrame, text: Column,
      sampleMod: Int): DataFrame = {
    require(sampleMod > 0, s"sampleMod must be positive, got $sampleMod")
    overlapSidesFiltered(a, b, text, sampleMod).agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a_sampled"),
      sum(when(col("in_b"), 1L).otherwise(0L)).as("n_b_sampled"),
      sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L))
        .as("n_common_sampled"),
      overlapJaccard(
        sum(when(col("in_a"), 1L).otherwise(0L)),
        sum(when(col("in_b"), 1L).otherwise(0L)),
        sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L)))
        .as("jaccard_est"))
  }

  private def overlapJaccard(na: Column, nb: Column, nc: Column): Column =
    when(na + nb - nc === 0L, lit(0.0d))
      .otherwise(nc.cast("double") / (na + nb - nc).cast("double"))

  /** (fp, in_a, in_b): one row per distinct content digest with side
    * membership — a single partial-agg'd groupBy over the tagged union.
    */
  private def overlapSides(a: DataFrame, b: DataFrame, text: Column): DataFrame =
    a.select(TextAnalysis.fingerprint(text).as("fp"), lit(1).as("side"))
      .unionByName(
        b.select(TextAnalysis.fingerprint(text).as("fp"), lit(2).as("side")))
      .groupBy("fp")
      .agg(max(col("side") === 1).as("in_a"), max(col("side") === 2).as("in_b"))

  private def overlapSidesFiltered(a: DataFrame, b: DataFrame, text: Column,
      sampleMod: Int): DataFrame =
    a.select(TextAnalysis.fingerprint(text).as("fp"), lit(1).as("side"))
      .unionByName(
        b.select(TextAnalysis.fingerprint(text).as("fp"), lit(2).as("side")))
      .filter(pmod(xxhash64(col("fp")), lit(sampleMod.toLong)) === 0L)
      .groupBy("fp")
      .agg(max(col("side") === 1).as("in_a"), max(col("side") === 2).as("in_b"))

  /** Hashed-bigram bucket occurrence counts: (bucket, c) with ≤ `buckets`
    * rows. Grams keep duplicates (DSIR weights by occurrence); the bucket
    * is the rolling-hash fingerprint of the gram mod `buckets` — the
    * "hashed n-gram features" of the DSIR paper, with the engine's
    * cross-engine-exact hash so the oracle can replay the bucketing.
    */
  private def bucketCounts(df: DataFrame, text: Column, buckets: Int): DataFrame =
    df.select(TextAnalysis.tokens(text).as("_toks"))
      .select(explode(Dedup.ngramsFromTokens(col("_toks"), 2)).as("gram"))
      .groupBy(pmod(TextAnalysis.fingerprint(col("gram")), lit(buckets.toLong))
        .as("bucket"))
      .agg(count(lit(1)).as("c"))

  /** DSIR-style importance-weighted data selection: score every document
    * of `raw` by how much more typical its hashed-bigram features are of
    * `target` than of `raw` itself, and keep the top `k`.
    *
    * Per bucket b, with add-1 smoothing over `buckets` cells:
    *
    *   r_b = p_target(b) / p_raw(b)
    *       = ((ct_b + 1) / (Tt + B)) / ((cr_b + 1) / (Tr + B))
    *
    * and a document's score is the MEAN r over its gram occurrences —
    * the linearized form of DSIR's sum of log-ratios, for the same reason
    * `topKeywords` uses linear idf and `lmScore` uses mean probability:
    * log is not correctly-rounded, so a log-space score could differ
    * cross-engine by a ulp and flip a floor; the ratio tree here is all
    * IEEE divisions. Selection order under the mean-ratio score tracks
    * the log form whenever per-doc ratios are moderate (r within a few
    * orders of magnitude — guaranteed by smoothing), which is the regime
    * data selection runs in.
    *
    * Output: (idCol, n_gram, score) for the top `k` documents under
    * (score desc, id asc). Documents with no bigram (0- or 1-token texts)
    * carry no feature evidence and are excluded — a selector never picks
    * them.
    *
    * Plan shape: raw tokenizes and fingerprints ONCE into a staged
    * (id, bucket) gram stream — two longs per gram occurrence, the
    * lmScore staging rule (the tokenize+hash scan dominates every other
    * stage: ~6 s of an 8 s pass at the 500k-doc ladder tier, so a second
    * scan costs more than the narrow cache it avoids). Raw's bucket
    * table derives from the cache by one partial-agg'd groupBy (exchange
    * ≤ buckets rows per partition); target aggregates once to its own
    * ≤`buckets`-row table; the ratio table broadcasts back onto the
    * cached stream MAP-SIDE and the quantized sums partial-agg straight
    * to one row per document — no per-(doc, bucket) exchange ever exists
    * (the first shape shuffled that pair table: ~10⁸ exchanged rows at
    * the 500k-doc tier, task skew 73). A TakeOrdered(k) finishes it.
    * No corpus-sized join side, no driver funnel.
    */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
      text: Column, buckets: Int = 4096, k: Int = 100): DataFrame = {
    import Staging.Stageable
    require(buckets > 0 && k > 0, s"buckets=$buckets k=$k must be positive")
    val docGrams = gramBuckets(raw, idCol, text, buckets).stagePersist()
    val ct = bucketCounts(target, text, buckets)
      .withColumnRenamed("c", "ct")
    scoreFromGramStream(docGrams, ct, idCol, buckets, k)
  }

  /** [[dsirSelect]] for the common case where the target IS a slice of
    * raw (a language, a source, a quality band): `targetPred` marks the
    * target rows, BOTH bucket tables derive from the single staged gram
    * stream, and the corpus tokenizes exactly once — the two-corpus form
    * pays a second tokenize scan for the target that this form skips.
    */
  def dsirSelectWithin(raw: DataFrame, idCol: String, text: Column,
      targetPred: Column, buckets: Int = 4096, k: Int = 100): DataFrame = {
    import Staging.Stageable
    require(buckets > 0 && k > 0, s"buckets=$buckets k=$k must be positive")
    val docGrams = gramBuckets(
      raw.withColumn("_tgt", targetPred), idCol, text, buckets,
      extra = Seq(col("_tgt"))).stagePersist()
    val ct = docGrams.filter(col("_tgt"))
      .groupBy("bucket").agg(count(lit(1)).as("ct"))
    scoreFromGramStream(docGrams, ct, idCol, buckets, k)
  }

  /** The staged (id, bucket [, extra…]) gram-occurrence stream: tokenize,
    * bigram, fingerprint, bucket — the one pass that dominates the
    * operator's cost, run exactly once.
    */
  private def gramBuckets(df: DataFrame, idCol: String, text: Column,
      buckets: Int, extra: Seq[Column] = Nil): DataFrame =
    Staging.widen(df)
      .select(Seq(col(idCol), TextAnalysis.tokens(text).as("_toks")) ++ extra: _*)
      .select(Seq(col(idCol),
        explode(Dedup.ngramsFromTokens(col("_toks"), 2)).as("gram")) ++ extra: _*)
      .select(Seq(col(idCol),
        pmod(TextAnalysis.fingerprint(col("gram")), lit(buckets.toLong))
          .as("bucket")) ++ extra: _*)

  /** Shared scoring tail: raw's bucket table from the cached stream, the
    * broadcast ratio table, the per-doc quantized mean, TakeOrdered(k).
    */
  private def scoreFromGramStream(docGrams: DataFrame, ct: DataFrame,
      idCol: String, buckets: Int, k: Int): DataFrame = {
    val cr = docGrams.groupBy("bucket").agg(count(lit(1)).as("cr"))
    val tt = ct.agg(sum("ct").as("tt"))
    val tr = cr.agg(sum("cr").as("tr"))
    // cr covers every bucket any raw document can hit (the features come
    // from raw itself), so the gram-stream join below is total; ct may
    // miss buckets → coalesce to 0.
    val rates = cr.join(ct, Seq("bucket"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(tt)).crossJoin(broadcast(tr))
      .select(col("bucket"),
        (((col("ct") + 1L).cast("double") / (col("tt") + buckets.toLong)) /
          ((col("cr") + 1L).cast("double") / (col("tr") + buckets.toLong)))
          .as("r"))
    docGrams.join(broadcast(rates), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_gram"),
        sum(floor(col("r") * lit(1e9d)).cast("long")).as("_su"))
      .select(col(idCol), col("n_gram"),
        (col("_su").cast("double") / col("n_gram") / lit(1e9d)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }
}

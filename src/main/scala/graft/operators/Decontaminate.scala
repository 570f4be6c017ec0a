package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import Staging.Stageable

/** Benchmark decontamination — flag corpus documents that share n-gram
  * shingles with an evaluation set, the standard pre-training hygiene step
  * (n-gram overlap decontamination as published for GPT-3/PaLM training
  * corpora; no reference analogue — the reference stops at relational
  * navigation).
  *
  * Scale shape: the benchmark side is SMALL by nature (eval suites are
  * thousands of documents, the corpus is billions), so its distinct
  * shingle set broadcasts — the 100 TB corpus is scanned once, shingles
  * explode map-side into a broadcast hash join, and the per-document
  * overlap count partial-aggregates before the only shuffle (8-byte doc
  * ids + counts). Nothing corpus-sized ever shuffles on a string key.
  */
object Decontaminate {

  /** Per-document overlap with the benchmark shingle set:
    * (idCol, overlap = #distinct shared n-gram shingles,
    * contaminated = overlap ≥ minOverlap). Every input document appears
    * exactly once; zero-overlap documents report overlap = 0.
    */
  def flagContaminated(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 3,
      minOverlap: Int = 2): DataFrame = {
    // corpus side stages tokens/shingles through the persisted projection
    // (Dedup.shingleFrame) — the hot-path staging rule: an inline
    // shingle expression would re-run the tokenizer per shingle index
    val docSh = Dedup.shingleFrame(docs, idCol, textCol, n)
      .select(col("id").as(idCol), explode(col("sh")).as("shingle"))
    // this persist is a staging BARRIER, not a reuse cache: without it
    // CollapseProject inlines the tokenizer into the shingle lambda and
    // re-runs it per shingle index (O(len²) per doc). Staged into the
    // caller's scope, which releases it after the consuming action.
    val benchSh = benchmark
      .select(Dedup.tokens(col(benchTextCol)).as("toks"))
      .stagePersist()
      .select(explode(Dedup.shinglesFromTokens(col("toks"), n)).as("shingle"))
      .distinct()
    // doc shingles are distinct per doc (Dedup.shingles), so the join hits
    // each shared shingle once and count(*) IS the distinct-overlap count
    val overlap = docSh.join(broadcast(benchSh), "shingle")
      .groupBy(idCol).agg(count(lit(1)).as("overlap"))
    docs.select(col(idCol))
      .join(overlap, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        (coalesce(col("overlap"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** Overlap-FRACTION decontamination: flag a document when the share of
    * its own n-gram shingles that appear in the benchmark set reaches
    * `minFrac` — the thresholded-fraction form published for modern
    * pretraining corpora (an absolute overlap count over-flags long
    * documents, which touch many shingles by volume alone; a fraction
    * normalizes by document size). Output per input document:
    * (idCol, n_sh = #distinct shingles, overlap = #shared,
    * frac = overlap/n_sh, contaminated = frac ≥ minFrac).
    *
    * Same scale shape as [[flagContaminated]]: the benchmark shingle set
    * broadcasts, the corpus is scanned once, the only shuffle carries
    * (8-byte id, count) rows. The fraction is ONE double division per
    * row, bit-identical across IEEE engines.
    */
  def overlapFraction(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 3,
      minFrac: Double = 0.5): DataFrame = {
    val docSh = Dedup.shingleFrame(docs, idCol, textCol, n)
    val benchSh = benchmark
      .select(Dedup.tokens(col(benchTextCol)).as("toks"))
      .stagePersist()
      .select(explode(Dedup.shinglesFromTokens(col("toks"), n)).as("shingle"))
      .distinct()
    val overlap = docSh
      .select(col("id").as(idCol), explode(col("sh")).as("shingle"))
      .join(broadcast(benchSh), "shingle")
      .groupBy(idCol).agg(count(lit(1)).as("overlap"))
    val nSh = docSh.select(col("id").as(idCol), col("n_sh").cast("long").as("n_sh"))
    val frac = when(col("n_sh") === 0, lit(0.0d))
      .otherwise(coalesce(col("overlap"), lit(0L)) / col("n_sh"))
    nSh.join(overlap, Seq(idCol), "left")
      .select(col(idCol), col("n_sh"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        frac.as("frac"),
        (frac >= minFrac).as("contaminated"))
  }

  /** Build a Bloom filter over a probe corpus's shingle hashes — the
    * CROSS-CORPUS decontamination shape, for when the probe side
    * outgrows an exact broadcast set (screening a training corpus
    * against another full corpus, or a year of accumulated eval suites):
    * 10⁹ 64-bit digests are ~8 GB as an exact set but ~1.7 GB as Bloom
    * bits at fpp 1e-4, and the size is fpp-tunable. One-sided error —
    * NO false negatives — so a truly-contaminated document can never
    * slip through; the fpp tax is a few clean docs over-flagged.
    *
    * Sizing uses the RAW shingle occurrence count (no distinct shuffle
    * on the probe side — an overestimate only makes the filter more
    * conservative). Filters past the session's
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` need that conf
    * raised. Build is one distributed partial-aggregate; only the
    * filter's bits return to the driver.
    */
  def benchmarkShingleBloom(benchmark: DataFrame, benchTextCol: String,
      n: Int = 3, fpp: Double = 1e-4): Array[Byte] =
    benchmarkShingleBloomFrame(benchmark, benchTextCol, n, fpp)
      .head().getAs[Array[Byte]](0)

  /** [[benchmarkShingleBloom]] WITHOUT the driver collect: the filter
    * stays a one-row (bf: binary) frame — the build plan, not bytes in
    * the caller's hands. Feed it to [[flagContaminatedBloomFrame]], which
    * probes it as a scalar subquery; the filter bytes then never appear
    * in a logical plan tree (the route Catalyst's own `InjectRuntimeFilter`
    * uses for runtime join filters, which is what lets the cross-corpus
    * sizing in the KDoc above — ~1.7 GB at 10⁹ digests — actually run).
    */
  def benchmarkShingleBloomFrame(benchmark: DataFrame, benchTextCol: String,
      n: Int = 3, fpp: Double = 1e-4): DataFrame = {
    val benchSh = benchmark
      .select(Dedup.tokens(col(benchTextCol)).as("toks"))
      .stagePersist()
      .select(explode(Dedup.shinglesFromTokens(col("toks"), n)).as("shingle"))
      .select(xxhash64(col("shingle")).as("h"))
      .stagePersist()
    val nItems = math.max(benchSh.count(), 1L)
    val bits = graft.functions.BloomFunctions.optimalNumBits(nItems, fpp)
    benchSh
      .agg(graft.functions.BloomFunctions.bloom_agg(col("h"), nItems, bits).as("bf"))
  }

  /** [[flagContaminated]] with the probe set as a Bloom filter from
    * [[benchmarkShingleBloom]]: same single corpus scan, same
    * (8-byte id, count) shuffle; the membership test is a codegen'd bit
    * probe against plan-shipped filter bytes instead of a broadcast hash
    * join. `overlap` counts shingles the filter ACCEPTS, so it is ≥ the
    * true overlap per document (never below — no false negatives).
    *
    * The `lit(bloomBytes)` here embeds the filter in the expression tree,
    * which is fine up to low-tens-of-MB filters (~10⁸ bits / ~10⁷ digests
    * at fpp 1e-4) but NOT at the cross-corpus sizes the class KDoc
    * quotes — a GB-scale literal lands in every plan copy and task
    * binary. Past that ceiling use [[flagContaminatedBloomFrame]], which
    * probes the filter as a scalar subquery instead.
    */
  def flagContaminatedBloom(docs: DataFrame, idCol: String, textCol: String,
      bloomBytes: Array[Byte], n: Int = 3, minOverlap: Int = 2): DataFrame = {
    require(bloomBytes.length <= (64 << 20),
      s"${bloomBytes.length}-byte Bloom filter is too large for the " +
        "expression-tree lit() path — use flagContaminatedBloomFrame " +
        "(scalar-subquery probe) for filters past 64 MB")
    flagWithProbe(docs, idCol, textCol, n, minOverlap, lit(bloomBytes))
  }

  /** [[flagContaminatedBloom]] with the filter supplied as a one-row
    * (bf: binary) frame from [[benchmarkShingleBloomFrame]] and probed as
    * a SCALAR SUBQUERY (`Dataset.scalar()`): the subquery executes once
    * and its result feeds `bloom_might_contain` the way Catalyst's own
    * runtime join filters do, so the filter bytes never sit in a logical
    * plan tree or the caller's driver code — the route that survives the
    * ~1.7 GB cross-corpus sizing. Same output contract.
    */
  def flagContaminatedBloomFrame(docs: DataFrame, idCol: String, textCol: String,
      bloomFrame: DataFrame, n: Int = 3, minOverlap: Int = 2): DataFrame = {
    flagWithProbe(docs, idCol, textCol, n, minOverlap, bloomFrame.scalar())
  }

  private def flagWithProbe(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minOverlap: Int, filterCol: org.apache.spark.sql.Column): DataFrame = {
    val hits = Dedup.shingleFrame(docs, idCol, textCol, n)
      .select(col("id").as(idCol), explode(col("sh")).as("shingle"))
      .filter(graft.functions.BloomFunctions.bloom_might_contain(
        filterCol, xxhash64(col("shingle"))))
      .groupBy(idCol).agg(count(lit(1)).as("overlap"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        (coalesce(col("overlap"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** FUZZY (near-duplicate) decontamination pairs — the PARAPHRASE
    * contamination shape: (corpus doc, benchmark doc) pairs whose
    * n-gram-shingle Jaccard is ≥ `threshold`, found via MinHash/LSH
    * banding and verified with exact Jaccard. Shingle-overlap counts
    * ([[flagContaminated]]) catch verbatim inclusion; a lightly edited
    * benchmark item (word swaps, clause reorder, template re-fill) slides
    * under an absolute-overlap cut while keeping high set similarity, and
    * published decontamination pipelines treat it as contaminated (the
    * fuzzy-collision variant of GPT-3's n-gram filtering; the near-dup
    * member of the same family the dedup operators implement).
    *
    * Scale shape: both sides sign with the SAME MinHash params (shared
    * `Dedup.minhashSignature`/`bandedKeys` — bit-identical band keys);
    * the benchmark side is eval-suite-sized, so its band keys AND its
    * shingle sets broadcast. The corpus scans once, candidates fall out
    * of a map-side band join, and only colliding pairs pay the exact
    * verify — no corpus-side shuffle at all. Error is one-sided in the
    * LSH sense: precision is exact (every emitted pair passed the real
    * Jaccard), recall is the banding curve's (gated by the driver key).
    */
  def fuzzyContaminationPairs(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchIdCol: String, benchTextCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val dbase = Dedup.shingleFrame(docs, idCol, textCol, n)
      .withColumn("sig", Dedup.minhashSignature(col("sh"), numHashes))
      .stagePersist()
    val bbase = Dedup.shingleFrame(benchmark, benchIdCol, benchTextCol, n)
      .withColumn("sig", Dedup.minhashSignature(col("sh"), numHashes))
      .stagePersist()
    val dband = Dedup.bandedKeys(dbase, numHashes, bands)
    val bband = Dedup.bandedKeys(bbase, numHashes, bands)
      .select(col("band"), col("band_sig"), col("id").as("bench_id"))
    val cand = dband.join(broadcast(bband), Seq("band", "band_sig"))
      .select(col("id"), col("bench_id"))
      .dropDuplicates("id", "bench_id")
    cand
      .join(dbase.select(col("id"), col("sh").as("_shd"),
        col("n_sh").as("_nd")), "id")
      .join(broadcast(bbase.select(col("id").as("bench_id"),
        col("sh").as("_shb"), col("n_sh").as("_nb"))), "bench_id")
      .withColumn("_common", size(array_intersect(col("_shd"), col("_shb"))))
      .withColumn("jaccard", col("_common").cast("double") /
        (col("_nd") + col("_nb") - col("_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id"), col("bench_id"), col("jaccard"))
  }

  /** Per-document form of [[fuzzyContaminationPairs]]: every input
    * document appears once — (idCol, contaminated, n_matches,
    * best_jaccard, best_bench), where best_bench is the most-similar
    * benchmark id (ties: lower id). Requires a numeric benchmark id.
    */
  def flagContaminatedFuzzy(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchIdCol: String, benchTextCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val pairs = fuzzyContaminationPairs(docs, idCol, textCol,
      benchmark, benchIdCol, benchTextCol, n, numHashes, bands, threshold)
    val perDoc = pairs.groupBy("id").agg(
      count(lit(1)).as("n_matches"),
      max(col("jaccard")).as("best_jaccard"),
      max_by(col("bench_id"),
        struct(col("jaccard"), -col("bench_id"))).as("best_bench"))
    docs.select(col(idCol))
      .join(perDoc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        col("n_matches").isNotNull.as("contaminated"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("best_jaccard"), lit(0.0d)).as("best_jaccard"),
        col("best_bench"))
  }

  /** Per-document GRAM-POSTINGS index — the store that answers
    * SET-overlap decontamination (and any other "which docs contain
    * these grams" audit) without a corpus scan: one `grams/` store of
    * (gram, doc_id) rows, gram = xxhash64 of the n-gram string (8-byte
    * keys — the same injective-hash budget as the dedup family's hashed
    * shingles), gram-clustered + sorted; the root's params pin n at build
    * time so appends and queries can never sign with a different width.
    *
    * Why not the positional index: a benchmark's grams over ANY shared
    * vocabulary make the phrase route's slot fan-out combinatorial
    * (every occurrence of a hot token joins every needle slot wanting it
    * — measured 79.7 s at sf0.1 where this store reads ~1 s). Positional
    * intersection is for ARBITRARY phrase queries; bulk gram-set overlap
    * is a semi-join, and this store makes it one. Cost per audit: one
    * column-pruned 16 B/row store scan against the broadcast benchmark
    * hashes — no corpus read, tokenize, or shingle (where the scan
    * form's cost lives). Lifecycle: append/compact/tombstone
    * retract/vacuum, like every store.
    */
  def buildGramPostingsIndex(docs: DataFrame, idCol: String,
      textCol: String, path: String, n: Int = 3): Unit = {
    require(n >= 1 && n <= 32, s"n must be in [1, 32], got $n")
    IndexMaintenance.withWriterLease(docs.sparkSession, path) { tx =>
      // rebuild = new id space; stale tombstones must not filter it
      tx.drop(IndexMaintenance.TombstoneStore)
      tx.replace("grams", gramPostingsOf(docs, idCol, textCol, n))
      tx.params(Map("n" -> n.toLong))
    }
  }

  /** Append one batch (disjoint doc_ids); n comes from the index. */
  def appendToGramPostingsIndex(delta: DataFrame, idCol: String,
      textCol: String, path: String): Unit =
    IndexMaintenance.withWriterLease(delta.sparkSession, path) { tx =>
      tx.append("grams", gramPostingsOf(delta, idCol, textCol, gramN(tx.snapshot)))
    }

  /** [[appendToGramPostingsIndex]] that pins `n` on a root with no build
    * yet — the streaming ingest's first surviving batch.
    */
  private[graft] def appendGramPostingsOrPin(delta: DataFrame, idCol: String,
      textCol: String, n: Int): IndexMaintenance.Tx => Unit = { tx =>
    if (tx.params.isEmpty) tx.params(Map("n" -> n.toLong))
    tx.append("grams", gramPostingsOf(delta, idCol, textCol, tx.params("n").toInt))
  }

  /** RETRACT indexed docs (takedown): tombstones only — per-doc rows, no
    * cross-doc aggregate. Same contract as [[IncrementalDedup.retract]].
    */
  def retractFromGramPostingsIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame): Unit =
    IndexMaintenance.withWriterLease(spark, path)(IndexMaintenance.addTombstones(_, ids))

  /** Fold the store: replayed duplicates and tombstoned docs leave
    * physically; tombstones retire in the same commit.
    */
  def compactGramPostingsIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFileBytes: Long = 128L << 20): Unit =
      IndexMaintenance.withWriterLease(spark, path) { tx =>
    tx.replace("grams", tx.snapshot.live("grams", "doc_id")
      .dropDuplicates("gram", "doc_id")
      .repartition(tx.snapshot.targetFiles("grams", targetFileBytes), col("gram"))
      .sortWithinPartitions("gram", "doc_id"))
    tx.drop(IndexMaintenance.TombstoneStore)
  }

  private def gramN(snap: IndexMaintenance.Snapshot): Int = {
    require(snap.params.contains("n"),
      s"no gram-postings index at ${snap.root} (no committed build)")
    snap.params("n").toInt
  }

  private def gramPostingsOf(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    // shingleFrame's sh is DISTINCT per doc, so rows are unique per
    // (doc, gram) by construction — a replayed append duplicates them
    // exactly, and readers collapse before counting
    Dedup.shingleFrame(docs, idCol, textCol, n)
      .select(col("id").as("doc_id"), explode(col("sh")).as("g"))
      .select(xxhash64(col("g")).as("gram"), col("doc_id"))
      .repartition(col("gram"))
      .sortWithinPartitions("gram", "doc_id")

  /** [[flagContaminated]] answered from the gram-postings index instead
    * of a corpus scan — the repeated-audit regime: index the corpus
    * once, then each new benchmark suite costs its own distinct-gram
    * hashes (broadcast) semi-joined against the store. A doc's matched
    * count equals the scan form's distinct-overlap count MODULO 64-bit
    * collisions (the dedup family's standing injective-hash budget —
    * ~10⁹ distinct grams per doc/bench pair before collisions matter; a
    * collision between a corpus gram and a benchmark gram inflates
    * overlap by one and could flip `contaminated` at the threshold, so
    * the route equality is probabilistic where the postings/phrase
    * routes are structural) — oracle-pinned route equality on the
    * flagged rows. Output:
    * (doc_id, overlap, contaminated) for docs with overlap ≥ 1 only
    * (enumerating zero-overlap docs is what the scan form is for). n is
    * the index's, pinned at build time.
    */
  def flagContaminatedFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, benchmark: DataFrame, benchTextCol: String,
      minOverlap: Int = 2): DataFrame = {
    val snap = IndexMaintenance.snapshot(spark, path)
    val n = gramN(snap)
    val benchSh = benchmark
      .select(Dedup.tokens(col(benchTextCol)).as("toks"))
      .stagePersist()
      .select(explode(Dedup.shinglesFromTokens(col("toks"), n)).as("g"))
      .select(xxhash64(col("g")).as("gram"))
      .distinct()
    snap.live("grams", "doc_id")
      .join(broadcast(benchSh), Seq("gram"), "left_semi")
      .dropDuplicates("gram", "doc_id") // crash-replayed append rows
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("overlap"))
      .select(col("doc_id"), col("overlap"),
        (col("overlap") >= minOverlap).as("contaminated"))
      .orderBy("doc_id")
  }
}

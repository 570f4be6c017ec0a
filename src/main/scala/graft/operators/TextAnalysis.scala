package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * All pure column expressions (codegen'd, no UDFs), deterministic, and
  * embarrassingly parallel — per-row work only, so they scale linearly and
  * fuse into the scan's WholeStageCodegen span.
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Marker stopword lists per language for the n-gram/stopword language-ID
    * heuristic (public-domain lists, truncated to high-frequency markers).
    */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "y", "que", "los", "en", "un"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une")
  )

  private def markerCount(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isin(markers(lang): _*))).cast("long")

  /** Predicted language: argmax of marker-word counts; ties resolve in
    * fixed order en > es > de > fr; no markers at all → "und".
    */
  def langIdFromTokens(toks: Column): Column = {
    val counts = Seq("en", "es", "de", "fr").map(l => l -> markerCount(toks, l))
    val top = greatest(counts.map(_._2): _*)
    counts.foldLeft(when(top === 0L, lit("und"))) { case (acc, (l, c)) =>
      acc.when(c === top, lit(l))
    }.otherwise(lit("und"))
  }

  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** Whitespace token count. */
  def tokenCountFromTokens(toks: Column): Column = size(toks).cast("long")
  def tokenCount(text: Column): Column = tokenCountFromTokens(tokens(text))

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-alphanumeric symbols — the standard pre-tokenizer shape.
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long")

  /** Ratio of tokens that are (any-language) stopwords. */
  def stopwordRatioFromTokens(toks: Column): Column = {
    val all = markers.values.flatten.toSeq.distinct
    size(filter(toks, t => t.isin(all: _*))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  def stopwordRatio(text: Column): Column =
    stopwordRatioFromTokens(tokens(text))

  /** Mean token length. */
  def meanTokenLengthFromTokens(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")

  def meanTokenLength(text: Column): Column =
    meanTokenLengthFromTokens(tokens(text))

  /** Fraction of characters that are a-z or space (low → noisy doc). */
  def alphaRatio(text: Column): Column =
    length(regexp_replace(lower(text), lit("[^a-z ]"), lit(""))).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Composite quality score in [0,1]: weighted blend of length band,
    * alpha ratio and stopword presence — the usual cheap pre-filter before
    * expensive model-based scoring.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500d, lit(1d))
    val stop = stopwordRatio(text)
    val stopScore = when(stop > 0.02d, lit(1d)).otherwise(stop * 50d)
    lenScore * 0.4d + alphaRatio(text) * 0.4d + stopScore * 0.2d
  }

  /** SOURCE TRIAGE — the domain-statistics blocklist derivation of
    * RefinedWeb/FineWeb-class curation (Penedo et al. 2023/2024 drop
    * whole domains by aggregate signals before any per-document filter
    * sees them again): per-source mean quality + corpus-wide
    * repeated-segment fraction, FLAGGING sources that fail either bar.
    * A source hosting mostly boilerplate (high repeated-segment share)
    * or low-quality text is dropped wholesale — per-document filters
    * can't see the pattern because each individual page looks ordinary.
    *
    * mean_quality is the quantized floor(q·1e9) integer-sum mean (the
    * datacard determinism rule); a segment counts as repeated when its
    * w-token digest occurs ≥2× CORPUS-wide — every copy counts, the
    * source hosting the "original" boilerplate is as suspect as its
    * mirrors. Output one row per source: (source, n_docs, mean_quality,
    * n_seg, rep_fraction, flagged); filtering the corpus is then a
    * broadcast semi-join on the unflagged sources.
    *
    * Scale shape: quality partial-aggregates map-side to one row per
    * source; the segment grid shuffles (id, digest) pairs only (the
    * [[graft.operators.Dedup.dedupSegmentsKeepFirst]] discipline); the
    * repeated-digest table is digest-keyed; the final joins are
    * source-keyed over domain-cardinality rows. Nothing corpus-sized
    * crosses a non-digest exchange.
    */
  def sourceTriage(docs: org.apache.spark.sql.DataFrame, srcCol: String,
      idCol: String, textCol: String, w: Int,
      minMeanQuality: Double, maxRepFraction: Double): org.apache.spark.sql.DataFrame = {
    val base = graft.operators.Staging.widen(docs)
    import graft.operators.Staging.Stageable
    sourceTriageFromGrid(base, srcCol, idCol, textCol,
      chunkByTokens(base, idCol, textCol, window = w, stride = w)
        .select(col(idCol).as("id"),
          graft.functions.VectorFunctions.fingerprint64(col("chunk_text")).as("fp"))
        .stagePersist(),
      minMeanQuality, maxRepFraction)
  }

  /** [[sourceTriage]] over a prebuilt fingerprinted segment grid — the
    * From-pattern seam (ngramJaccardPairsFrom precedent) that lets a
    * composed pipeline (q_curate: triage → keep-first segment dedup)
    * compute the disjoint w-token grid ONCE and share the staged frame
    * between the stages instead of re-chunking the corpus. `grid` must
    * carry (id, fp) rows of the SAME (w, stride = w) grid over exactly
    * `docs` — the caller owns that contract (the one-arg form above
    * builds it itself).
    */
  def sourceTriageFromGrid(docs: org.apache.spark.sql.DataFrame, srcCol: String,
      idCol: String, textCol: String, grid: org.apache.spark.sql.DataFrame,
      minMeanQuality: Double, maxRepFraction: Double): org.apache.spark.sql.DataFrame = {
    val base = docs
    val qStats = base
      .select(col(srcCol).as("source"),
        floor(qualityScore(col(textCol)) * lit(1e9d)).cast("long").as("_qu"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("_qu").as("_squ"))
    val rep = grid.groupBy("fp").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= 2L)
      .select(col("fp"), lit(1L).as("_rep"))
    val segStats = grid.join(rep, Seq("fp"), "left")
      .join(base.select(col(idCol).as("id"), col(srcCol).as("source")), Seq("id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_seg"),
        sum(coalesce(col("_rep"), lit(0L))).as("_nrep"))
    val meanQ = col("_squ").cast("double") / col("n_docs") / lit(1e9d)
    val repFrac = when(coalesce(col("n_seg"), lit(0L)) === 0L, lit(0.0d))
      .otherwise(col("_nrep").cast("double") / col("n_seg").cast("double"))
    qStats.join(segStats, Seq("source"), "left")
      .select(col("source"), col("n_docs"), meanQ.as("mean_quality"),
        coalesce(col("n_seg"), lit(0L)).as("n_seg"),
        repFrac.as("rep_fraction"),
        (meanQ < lit(minMeanQuality) || repFrac > lit(maxRepFraction))
          .as("flagged"))
  }

  /** Fraction of tokens that repeat an earlier token (1 − distinct/total)
    * — the cheapest of the published repetition signals for filtering
    * looping/boilerplate documents (Gopher's repetition rules family,
    * Rae et al. 2021). `toks` must be an ALREADY-STAGED attribute (see
    * `Dedup.shinglesFromTokens`'s staging rule) on hot paths.
    */
  def duplicateTokenFractionFromTokens(toks: Column): Column =
    when(size(toks) === 0, lit(0d)).otherwise(
      lit(1d) - size(array_distinct(toks)).cast("double") /
        size(toks).cast("double"))

  /** One-shot convenience form — tokenizes inline; hot paths stage the
    * token array first (same rule as `Dedup.shingles`).
    */
  def duplicateTokenFraction(text: Column): Column =
    duplicateTokenFractionFromTokens(tokens(text))

  /** Fraction of n-gram occurrences claimed by the single most frequent
    * n-gram (Gopher's top-n-gram signal: near 1.0 ⇒ the document is one
    * phrase looping). `grams` must be an ALREADY-STAGED attribute holding
    * `Dedup.ngramsFromTokens(toks, n)` (the staging rule). Per-row compute
    * only — max frequency = longest equal run of the SORTED gram array,
    * one O(G log G) sort + one linear fold per row instead of the
    * distinct×grams comparison matrix; no shuffle, cost linear in corpus
    * size.
    */
  def topNgramFractionFromGrams(grams: Column): Column = {
    val sorted = array_sort(grams)
    val best = aggregate(sorted,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(size(grams) === 0, lit(0d)).otherwise(
      best.cast("double") / size(grams).cast("double"))
  }

  /** One-shot convenience form — builds tokens AND grams inline; ONLY for
    * literal/test evaluation, never a corpus scan (quadratic re-tokenize).
    */
  def topNgramFraction(text: Column, n: Int): Column =
    topNgramFractionFromGrams(
      graft.operators.Dedup.ngramsFromTokens(tokens(text), n))

  /** Polynomial rolling-hash fingerprint over characters:
    * h = fold(31·h + code(c)) mod 1e9+7. Stays far below Long overflow
    * ((1e9+7)·31 + 255 < 2^35), so the same fold is expressible in any
    * engine with 64-bit ints — used by the DuckDB oracle.
    *
    * Delegates to the native codegen'd kernel
    * [[graft.functions.Fingerprint64]] (one loop over UTF8String bytes) —
    * bit-identical to the former `split(text,"")` + `aggregate` fold, minus
    * the per-character array explosion and interpreted lambda. The kernel
    * is a row of `GraftExtensions.functions`, which every session built
    * with the extension has.
    */
  def fingerprint(text: Column): Column =
    graft.functions.VectorFunctions.fingerprint64(text)

  /** Corpus text canonicalization — run BEFORE any content-defined
    * identity (fingerprints, exact dedup, overlap digests): Unicode NFC
    * composition (the native [[graft.functions.UnicodeNormalize]] kernel —
    * a re-crawl through a different encoder pipeline must not count as new
    * content) followed by whitespace collapse + trim. Both steps are
    * per-row codegen'd expressions with exact cross-engine twins (DuckDB
    * `nfc_normalize` + the same explicit whitespace class). The class is
    * spelled out rather than `\s` because Java's `\s` includes vertical
    * tab `\x0B` while RE2/DuckDB's does not — an explicit
    * `[ \t\n\x0B\f\r]+` means both engines collapse the identical set.
    */
  private[graft] val WhitespaceRun = "[ \\t\\n\\x0B\\f\\r]+"

  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      graft.functions.VectorFunctions.nfcNormalize(text), WhitespaceRun, " "))

  /** CANONICAL content fingerprint — [[fingerprint]] over
    * [[normalizeText]]: the identity the content-defined seams (release /
    * hygiene capstones, stream ingest, corpus overlap, split/shard
    * assignment) hash, so a re-crawl of the same document through a
    * different encoder pipeline (NFD vs NFC, collapsed whitespace) maps
    * to the SAME split, shard, and dedup identity instead of counting as
    * new content. Use the raw [[fingerprint]] only when byte identity is
    * itself the point (`q_text_fingerprint`).
    */
  def canonicalFingerprint(text: Column): Column =
    fingerprint(normalizeText(text))

  /** The tokenizer-input fold: NFKC compatibility composition (what BPE
    * pipelines actually run before training — ligatures, fullwidth forms,
    * superscripts, width variants all merge, so the spam variant `ｓｐａｍ`
    * and `spam` count as the same token stream) + whitespace collapse +
    * trim. LOSSY by design; use [[normalizeText]] (NFC) for content
    * digests. No DuckDB twin exists for NFKC — spec-pinned, not
    * oracle-hashed.
    */
  def normalizeForTokens(text: Column): Column =
    trim(regexp_replace(
      graft.functions.VectorFunctions.nfkcNormalize(text), WhitespaceRun, " "))

  /** Corpus vocabulary: the top-`k` grams by occurrence count, with
    * document frequency — the tokenizer-training / stopword-discovery /
    * df-cap-calibration pass of a corpus build (`Dedup.ngramJaccardPairs`'
    * `maxDf` escape hatch needs exactly this table to pick its cap).
    *
    * `grams` must be an ALREADY-STAGED attribute (the staging rule —
    * `Dedup.ngramsFromTokens` over staged tokens); `docId` is the
    * document identity for df. Total order (count desc, gram asc) +
    * LIMIT keeps the result deterministic and plans as partial-agg →
    * shuffle on gram → TakeOrdered: the shuffle carries one row per
    * DISTINCT gram (map-side combined), not per occurrence, and the
    * top-k merge is per-partition — nothing quadratic, no collect, and
    * the result is k rows regardless of corpus size.
    */
  def vocabulary(df: org.apache.spark.sql.DataFrame, grams: Column,
      docId: Column, k: Int): org.apache.spark.sql.DataFrame =
    vocabularyWith(df, grams, docId, k, count_distinct(col("_doc")))

  /** Shared vocabulary plan — one copy of the explode/filter/rank so the
    * exact and approx df paths can never silently diverge; only the df
    * aggregate differs.
    */
  private def vocabularyWith(df: org.apache.spark.sql.DataFrame, grams: Column,
      docId: Column, k: Int, dfAgg: Column): org.apache.spark.sql.DataFrame =
    df.select(docId.as("_doc"), explode(grams).as("gram"))
      .filter(col("gram") =!= "")
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occ"), dfAgg.as("n_docs"))
      .orderBy(col("n_occ").desc, col("gram"))
      .limit(k)

  /** 100 TB default for [[vocabulary]]: HLL++ document frequency instead
    * of exact `count_distinct`. The exact form's distinct rewrite
    * shuffles one row per DISTINCT (gram, doc) pair — on a hot gram that
    * is one row per document containing it, i.e. the shuffle scales with
    * corpus size for exactly the grams a df table exists to find. The
    * sketch keeps the shuffle at one constant-size buffer per (partition,
    * gram): corpus-size-independent rows, same top-k surface. `n_occ`
    * (the ranking key) stays exact either way — only the df column is
    * approximate (±rsd), which is what calibrating a `maxDf` cap or a
    * stopword cut actually needs.
    */
  def vocabularyApprox(df: org.apache.spark.sql.DataFrame, grams: Column,
      docId: Column, k: Int, rsd: Double = 0.05): org.apache.spark.sql.DataFrame =
    vocabularyWith(df, grams, docId, k, approx_count_distinct(col("_doc"), rsd))

  /** AUTO path choice between [[vocabulary]] (exact df) and
    * [[vocabularyApprox]] (HLL df) by a cheap one-pass OCCUPANCY probe —
    * the tier-D finding that corrected the "HLL is the 100 TB default"
    * claim (SCALE.md): the sketch pays a ~constant buffer PER DISTINCT
    * GRAM, so on a pure long tail (df≈1 everywhere, ~1 occurrence per
    * distinct gram) its aggregation state EXCEEDS the exact path's
    * one-row-per-(gram,doc) shuffle, while on hot-gram skew the exact
    * path's shuffle scales with corpus size for exactly the grams a df
    * table exists to find.
    *
    * The probe: occupancy ratio r = gram occurrences / distinct grams
    * (HLL-estimated), ONE partial-agg'd pass with two counters of state
    * over a deterministic 1-in-`probeMod` DOCUMENT sample (hash of the
    * doc id — the gram explode is the probe's cost, so sampling cuts it
    * `probeMod`×; measured unsampled it cost as much as the build it was
    * choosing for). r is avg occurrences per distinct gram; the crossover
    * sits where the exact path's per-(gram,doc) rows out-byte the sketch
    * buffers, ≈ sketchBytes/rowBytes ≈ 10–16 at rsd=0.05. Sampling is
    * CONSERVATIVE: a doc sample keeps occurrences ∝ 1/probeMod while
    * distinct grams shrink by AT MOST that factor, so the sampled r only
    * ever under-reads hotness and the ambiguous middle resolves to exact
    * — the path that never catastrophically loses (tier D measured it
    * 1.5–2× ahead even on the regime HLL was built for; approx's win is
    * bounded, its loss on long tails is the state blowup).
    *
    * Measured at tier C (500k docs): the rare long-tail fixture probes
    * r ≈ 1.03 → exact (18.5 s vs approx 28.3 s — right); the
    * boilerplate-hot fixture probes r ≈ 1.4 (its rare BODY still owns the
    * distinct-gram count) → exact (22.0 vs 22.3 — a wash, right); the
    * saturated-vocabulary fixture (the r7 "benign sfB" regime: a bounded
    * token vocabulary at corpus scale) probes r ≫ 10³ → approx, the
    * regime the sketch exists for. `n_occ`, the ranking key, is exact on
    * both paths.
    *
    * Returns the table plus which path it chose (the
    * `ngramJaccardPairsAutoChosen` convention, so harnesses can log it).
    */
  def vocabularyAutoChosen(df: org.apache.spark.sql.DataFrame, grams: Column,
      docId: Column, k: Int, rsd: Double = 0.05,
      hotRatio: Double = 16.0, probeMod: Int = 16): (org.apache.spark.sql.DataFrame, String) = {
    require(probeMod >= 1, s"probeMod must be >= 1, got $probeMod")
    val probe = df.filter(pmod(xxhash64(docId), lit(probeMod.toLong)) === 0L)
      .select(explode(grams).as("gram"))
      .filter(col("gram") =!= "")
      .agg(count(lit(1)).as("occ"),
        approx_count_distinct(col("gram"), 0.05).as("d"))
      .head()
    val occ = if (probe.isNullAt(0)) 0L else probe.getLong(0)
    val d = math.max(1L, if (probe.isNullAt(1)) 0L else probe.getLong(1))
    if (occ.toDouble / d >= hotRatio)
      (vocabularyApprox(df, grams, docId, k, rsd), "approx")
    else
      (vocabulary(df, grams, docId, k), "exact")
  }

  def vocabularyAuto(df: org.apache.spark.sql.DataFrame, grams: Column,
      docId: Column, k: Int, rsd: Double = 0.05): org.apache.spark.sql.DataFrame =
    vocabularyAutoChosen(df, grams, docId, k, rsd)._1

  /** Per-document keyword extraction: the top-`k` tokens of each document
    * by tf·idf — the tagging / topic-indexing / boilerplate-spotting pass
    * (a token that ranks high in MANY documents is a template phrase).
    *
    * The score is the LINEAR idf form `tf · (N+1) / (df+1)`: one integer
    * product and ONE double division, so it is bit-identical across any
    * IEEE-754 engine (a log-damped idf would hang cross-engine equality
    * on libm ulp behavior — same ranking monotonicity per document
    * either way, since log is increasing). Ties break on the token, so
    * the cut is total.
    *
    * Shape at 100 TB: tf is a partial-agg'd groupBy on (doc, token); df
    * falls out of tf's rows with a second token-keyed agg (no re-scan);
    * N re-enters as a broadcast one-row aggregate; the final rank is a
    * window partitioned BY DOCUMENT — millions of independent partitions,
    * each a handful of rows, no global sort and no skew (a document's
    * token list is bounded by the document).
    */
  /** Corpus-wide n-gram NOVELTY per document: the share of a document's
    * distinct shingles that occur in NO other document (df = 1) — low
    * scores mark boilerplate/template-heavy documents, high scores mark
    * unique content; the corpus-level complement of the within-document
    * [[topNgramFraction]]. Output: (id, n_sh, n_novel, novelty), the
    * ratio ONE double division per row.
    *
    * Scale shape: shingles stage once, the df aggregate and the
    * membership join both shuffle 64-bit digests (never shingle text);
    * per-doc shingles are already distinct, so `count(*)` per digest IS
    * document frequency. Linear in shingle volume, same as the ngram
    * inverted index's benign path.
    */
  def novelty(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int = 3): org.apache.spark.sql.DataFrame = {
    val sh = Dedup.shingleFrame(docs, idCol, textCol, n)
    val inv = sh.select(col("id"), explode(col("sh")).as("shingle"))
      .select(col("id"), xxhash64(col("shingle")).as("d"))
    val dfc = inv.groupBy("d").agg(count(lit(1)).as("df"))
    val novel = inv.join(dfc, "d")
      .groupBy("id").agg(count(when(col("df") === 1, 1)).as("n_novel"))
    val ratio = when(col("n_sh") === 0, lit(0.0d))
      .otherwise(coalesce(col("n_novel"), lit(0L)) / col("n_sh"))
    sh.select(col("id"), col("n_sh").cast("long").as("n_sh"))
      .join(novel, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_sh"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        ratio.as("novelty"))
  }

  def topKeywords(df: org.apache.spark.sql.DataFrame, toks: Column,
      docId: Column, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.broadcast
    val occ = df.select(docId.as("doc_id"), explode(toks).as("token"))
      .filter(col("token") =!= "")
    // tf feeds BOTH the score join and the df aggregate — stage it so the
    // (doc, token) shuffle runs once (Staging rule; released by the
    // caller's scope after the action)
    val tf = Staging.stage(
      occ.groupBy("doc_id", "token").agg(count(lit(1)).as("tf")))
    val dft = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    val scored = tf.join(dft, "token").crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * (col("n") + 1L)).cast("double") / (col("df") + 1L))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("token"))).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "token", "tf", "df", "score", "rank")
  }

  /** Token-window document CHUNKING with overlap — the retrieval/context
    * preparation step (RAG indexing, long-document embedding, fixed-window
    * pretraining examples): each document splits into windows of `window`
    * tokens advancing by `stride` (overlap = window − stride), so content
    * near a boundary always appears whole in at least one chunk.
    *
    * Chunk i covers 0-based token positions [i·stride, i·stride + window);
    * the final chunk is the first one whose window reaches the document
    * end (it may be shorter). Documents with zero non-whitespace tokens
    * produce NO chunks — there is nothing to retrieve. Output:
    * (id, chunk_id, tok_start, n_tok, chunk_text), deterministic.
    *
    * Scale shape: per-row compute only — tokenize, one `sequence` of
    * ~n/stride chunk ids, explode, slice — no shuffle, fuses into the
    * scan's codegen span either side of the generator. Output text volume
    * is (window/stride)× the input by construction (the overlap is the
    * point); chunk counts are data-derived, so a 1M-token outlier document
    * emits its ~n/stride chunks without any driver involvement.
    */
  def chunkByTokens(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(stride >= 1 && stride <= window,
      s"stride must be in [1, window], got stride=$stride window=$window")
    val base = docs
      .select(col(idCol),
        filter(tokens(col(textCol)), t => t =!= "").as("_t"))
      .withColumn("_n", size(col("_t")).cast("long"))
      .filter(col("_n") > 0L)
    // ceil((n-window)/stride) + 1 full-or-final windows; n <= window → 1.
    val nChunks = when(col("_n") <= window, lit(1L))
      .otherwise(
        ceil((col("_n") - window).cast("double") / stride).cast("long") + 1L)
    base
      .withColumn("chunk_id", explode(sequence(lit(0L), nChunks - 1L)))
      .select(col(idCol), col("chunk_id"),
        (col("chunk_id") * stride).as("tok_start"),
        least(lit(window.toLong), col("_n") - col("chunk_id") * stride)
          .as("n_tok"),
        array_join(
          slice(col("_t"), (col("chunk_id") * stride + 1L).cast("int"),
            lit(window)), " ").as("chunk_text"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Staging.Stageable

/** Ranked lexical retrieval over a document corpus — BM25 (Robertson &
  * Zaragoza 2009, "The Probabilistic Relevance Framework: BM25 and
  * Beyond") with the Okapi saturation form. In a training-data pipeline
  * this is the targeted-curation / retrieval-side decontamination
  * primitive: given benchmark queries (or a curator's term list), pull
  * the corpus documents that best match so they can be audited, held out,
  * or up-weighted — the lexical complement of the embedding kNN family in
  * [[Similarity]].
  *
  * Scoring. For query term t and document d with term frequency tf,
  * document length dl and corpus stats (N docs, avgdl):
  *
  *   idf(t)    = (N − df(t) + 0.5) / (df(t) + 0.5)
  *   sat(t, d) = tf·(k1+1) / (tf + k1·((1−b) + b·dl/avgdl))
  *   score(d)  = Σ_t idf(t) · sat(t, d)
  *
  * The idf is the RATIONAL (un-logged) Robertson–Sparck-Jones form — the
  * same libm-avoidance rule as [[TextAnalysis.topKeywords]]'s linear idf
  * and [[LanguageModel]]'s ratio scores: `ln` would hang cross-engine
  * hash equality on libm ulps, while one IEEE division replays exactly in
  * ANSI SQL. Un-logging idf changes absolute scores but is monotone in
  * df, so single-term rankings are identical and multi-term rankings
  * sharpen the rare-term preference — acceptable for a curation tool
  * whose output is a ranked audit list, and stated here as the contract.
  *
  * Determinism. Per-term contributions are quantized to integer units of
  * 1e-9 with `floor` (the [[LanguageModel]] rule) and summed as longs, so
  * the document score is independent of term order and partition/merge
  * order; ranking ties break on ascending document id.
  *
  * Scale shape (100 TB corpus, q query terms, top k):
  *   - Per-document tf/dl are MAP-SIDE array scans over the tokenized
  *     text (`filter(tokens, _ = t)` per term) — no (doc, token) explode,
  *     no shuffle; the staged one-row-per-doc frame feeds both the stats
  *     aggregate and the scoring pass (Staging rule: the corpus tokenizes
  *     once).
  *   - Corpus stats (N, Σdl, df per term) are ONE partial aggregate to a
  *     single row, broadcast back via crossJoin.
  *   - Top-k is `orderBy(...).limit(k)` — Spark plans TakeOrderedAndProject
  *     (per-partition heaps + one k-row driver merge), never a global sort.
  *   - Nothing else shuffles: the whole query is two passes over the scan
  *     and one k-row result.
  */
object Retrieval {

  /** The scoring contract is stated over DISTINCT terms: the scan form
    * counts a duplicated term twice while the tf-grouped forms count it
    * once, so duplicates would silently break the row-for-row equality
    * every differential here pins. Callers pass a set.
    */
  private def requireDistinctTerms(name: String, terms: Seq[String]): Unit =
    require(terms.distinct.size == terms.size,
      s"$name terms must be distinct (the scan and inverted forms count " +
        s"a duplicated term differently); got $terms")

  /** Length-normalization factor dl·N/Σdl with the DEGENERATE-corpus rule
    * made explicit: an all-empty-text corpus has Σdl = 0 (and then every
    * tf is 0 too), and 0/0 would turn scores into NaN-then-null rows; the
    * guard pins the factor to 0 there, so every document scores exactly
    * 0.0 and the ranking degrades to ascending id — a documented zero-
    * score rule instead of silent nulls. On any real corpus (Σdl > 0) the
    * branch is identical to the raw division, so oracle mirrors of the
    * plain expression still hash-match.
    */
  private def lengthNorm(dl: Column, n: Column, tLen: Column): Column =
    when(tLen > 0d, dl * n / tLen).otherwise(lit(0d))

  /** One query term's contribution floor(idf·sat·1e9) as a long, from the
    * `tf` and `df` columns named and the shared `n_docs`, `dl` and `t_len`
    * columns — the one IEEE expression tree every scoring route here
    * evaluates, mirrored operation for operation by the SQL oracle (IEEE
    * ops only, no libm).
    */
  private def bm25Quantized(tf: String, df: String, k1: Double,
      b: Double): Column = {
    val tfD = col(tf).cast("double")
    val dfD = col(df).cast("double")
    val n = col("n_docs").cast("double")
    val dl = col("dl").cast("double")
    val tLen = col("t_len").cast("double")
    val idf = (n - dfD + lit(0.5)) / (dfD + lit(0.5))
    val sat = tfD * lit(k1 + 1.0) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * lengthNorm(dl, n, tLen)))
    floor(idf * sat * lit(1e9d)).cast("long")
  }

  /** The top-k tail over a (doc_id, dl, su) frame: TakeOrdered(k) on
    * (su desc, doc_id), then [[rankBounded]] over the k-row result only,
    * with the quantized sum replayed to a double score (su / 1e9).
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    rankBounded(scored.orderBy(col("su").desc, col("doc_id")).limit(k), "rank")
      .select(col("doc_id"), col("dl"),
        (col("su").cast("double") / lit(1e9d)).as("score"), col("rank"))
      .orderBy("rank")

  /** `sorted` (an `orderBy(...).limit(k)` result) with `rankCol`, its
    * rows' positions from 1. The limit runs as one sorted partition
    * (TakeOrderedAndProject), so `monotonically_increasing_id` counts the
    * rows in rank order. A `row_number()` window would give the same
    * numbers, but with no partition it logs a "No Partition Defined"
    * warning on every call.
    */
  private def rankBounded(sorted: DataFrame, rankCol: String): DataFrame =
    sorted.withColumn(rankCol, monotonically_increasing_id() + 1L)

  /** The per-query top-k tail over a (query_id, doc_id, dl, su) frame:
    * the per-group window top-k shape, over CANDIDATE rows only.
    */
  private def rankPerQuery(perDoc: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("su").desc, col("doc_id"))
    perDoc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("dl"),
        (col("su").cast("double") / lit(1e9d)).as("score"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Top-k documents by BM25 over `terms`. Output:
    * (doc_id, dl, score, rank) ordered by rank; `score` is the quantized
    * sum replayed to a double (su / 1e9), `rank` dense from 1 with ties
    * broken on ascending id.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(terms.size <= 64,
      s"bm25TopK is a per-row term scan — ${terms.size} terms would " +
        "better run as a join against an inverted index")
    requireDistinctTerms("bm25TopK", terms)
    require(k >= 1, s"k must be positive, got $k")
    val toks = TextAnalysis.tokens(col(textCol))
    val tfCols = terms.indices.map { i =>
      size(filter(toks, x => x === lit(terms(i)))).cast("long").as(s"tf_$i")
    }
    val dlCol = size(filter(toks, x => x =!= lit(""))).cast("long").as("dl")
    // one row per doc: id, tf per term, dl — staged so the stats pass and
    // the scoring pass tokenize the corpus ONCE
    val base = Staging.stage(docs.select(
      (col(idCol).as("doc_id") +: tfCols :+ dlCol): _*))
    val statCols = count(lit(1)).as("n_docs") +: sum(col("dl")).as("t_len") +:
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0L, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val su = terms.indices
      .map(i => bm25Quantized(s"tf_$i", s"df_$i", k1, b)).reduce(_ + _)
    rankTopK(base.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"), su.as("su")), k)
  }

  /** The INVERTED-INDEX form of [[bm25TopK]] — same scoring contract,
    * different plan shape for the large-q regime the scan form's ≤64-term
    * guard points at (a benchmark's full query set, a curator's long
    * lexicon): per-row array scans cost O(rows·q·tokens); here the corpus
    * explodes to (doc, token) ONCE, filters to query terms MAP-SIDE (an
    * `isin` literal set — Catalyst compiles a hash probe), and only the
    * MATCHING occurrences reach the (doc, term) tf aggregate, so shuffle
    * volume tracks term selectivity, not corpus size. df derives from the
    * tf rows; dl/N/avgdl come from the same staged one-row-per-doc frame
    * the scan form uses. Docs matching no term score 0 via the left join,
    * so output EQUALS [[bm25TopK]] row-for-row (spec-pinned differential).
    */
  def bm25TopKIndexed(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopKIndexed needs at least one query term")
    requireDistinctTerms("bm25TopKIndexed", terms)
    require(k >= 1, s"k must be positive, got $k")
    val toks = TextAnalysis.tokens(col(textCol))
    // one row per doc (id, dl), staged: feeds corpus stats AND the final
    // left join that gives unmatched docs their zero score
    val dls = Staging.stage(docs.select(col(idCol).as("doc_id"),
      size(filter(toks, x => x =!= lit(""))).cast("long").as("dl")))
    val nStats = dls.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("t_len"))
    // (doc, term) tf over MATCHING occurrences only — the one exchange
    // whose volume is term-selectivity-bound
    val tf = Staging.stage(docs
      .select(col(idCol).as("doc_id"), explode(toks).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).cast("long").as("tf")))
    // per-term df: a q-row aggregate of the tf rows, broadcast back
    val dfT = tf.groupBy("token").agg(count(lit(1)).cast("long").as("df"))
    val scored = tf.join(broadcast(dfT), "token")
      .join(dls, "doc_id")
      .crossJoin(broadcast(nStats))
    val perDoc = scored
      .withColumn("q", bm25Quantized("tf", "df", k1, b))
      .groupBy("doc_id").agg(sum(col("q")).as("su"))
    rankTopK(dls.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dl"),
        coalesce(col("su"), lit(0L)).as("su")), k)
  }

  /** Persisted corpus TERM-STATISTICS index — the incremental-index
    * backbone (the dedup/ANN/gram-store pattern) applied to retrieval: a
    * rolling crawl scores each INCOMING batch against the historical
    * corpus's BM25 statistics (df, N, Σdl) without re-tokenizing history.
    * This is the frozen-ranker contract a production retrieval audit
    * runs: idf and the length normalization come from the indexed corpus
    * as of its last append; the new batch contributes only its own tf/dl.
    *
    * Layout mirrors the gram index ([[CorpusCompare.buildGramIndex]]):
    * one `terms/` store of (token, df, tl) rows — merge-on-read, each
    * append adds one vocabulary-sized (Heaps-bounded) delta file, reads
    * SUM per token. df is additive across disjoint batches (count of docs
    * containing the token), so merged == monolithic by construction
    * (oracle-proven: the contract key builds in two batches). Corpus
    * totals ride a SENTINEL row (token = '', impossible for a real token
    * — the tokenizer drops empties): df = doc count, tl = token total;
    * one segment per batch, committed by the root's manifest
    * ([[IndexMaintenance]]).
    */
  def buildTermStatsIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
    IndexMaintenance.withWriterLease(docs.sparkSession, path)(
      _.replace("terms", termStats(docs, idCol, textCol)))

  /** Append one batch's term statistics (must be DISJOINT from the docs
    * already indexed — df additivity is the merge-on-read contract).
    * Exactly-once: stat rows carry no replay identity, so a re-run append
    * double-counts. The streaming ingest's append is exactly-once under
    * replay because it runs under the root's batch watermark
    * ([[IndexMaintenance.withWriterLease]]).
    */
  def appendToTermStatsIndex(delta: DataFrame, idCol: String,
      textCol: String, path: String): Unit =
    IndexMaintenance.withWriterLease(delta.sparkSession, path)(
      appendTermStats(delta, idCol, textCol))

  private[graft] def appendTermStats(delta: DataFrame, idCol: String,
      textCol: String): IndexMaintenance.Tx => Unit =
    _.append("terms", termStats(delta, idCol, textCol))

  /** RETRACT docs (takedown) from the term-stats index: append their
    * statistics NEGATED — df and tl are additive, so merge-on-read sums
    * stay exact and [[scoreAgainstTermIndex]] afterwards equals a fresh
    * index built on the surviving corpus (the integer sums make the
    * equality exact, not approximate; spec-pinned). `docs` must be
    * exactly the indexed documents being removed, tokenized here with the
    * same pipeline that indexed them. Cost: tokenize the retracted docs
    * only. A token whose df reaches zero keeps a (token, 0, 0) row until
    * [[compactTermStatsIndex]] folds it away; scoring treats a zero row
    * and an absent row identically (both coalesce to df = 0).
    *
    * Exactly-once per retraction batch — the same posture as this store's
    * appends (stat rows carry no replay identity, so a replayed write
    * double-counts); pipelines needing at-least-once retraction should
    * use the postings index, whose correction row replays safely.
    */
  def retractFromTermStatsIndex(docs: DataFrame, idCol: String,
      textCol: String, path: String): Unit =
    IndexMaintenance.withWriterLease(docs.sparkSession, path)(
      _.append("terms", termStats(docs, idCol, textCol)
        .select(col("token"), (-col("df")).as("df"), (-col("tl")).as("tl"))))

  private def termStats(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // df: per-doc tokens dedup MAP-SIDE (array_distinct — within-doc
    // repeats never leave the row), then the token count partial-aggs, so
    // the exchange carries each task's LOCAL vocabulary (Heaps-bounded),
    // not one row per distinct (doc, token) pair. The previous
    // distinct()-then-count plan shuffled the full (doc, token) pair set —
    // exactly the saturated-vocabulary regime this round's skew ladder
    // measured at 2.5× wall (SCALE.md r10 satC) — because distinct's
    // partial aggregate can't collapse across docs. df stays EXACT (the
    // merge-on-read additivity contract requires it).
    val dfRows = docs
      .select(explode(array_distinct(filter(toks, x => x =!= lit(""))))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).cast("long").as("df"))
      .select(col("token"), col("df"), lit(0L).as("tl"))
    val sentinel = docs
      .select(size(filter(toks, x => x =!= lit(""))).cast("long").as("dl"))
      .agg(count(lit(1)).cast("long").as("df"), sum(col("dl")).as("tl"))
      .select(lit("").as("token"), col("df"), col("tl"))
    dfRows.unionByName(sentinel)
  }

  /** Fold accumulated append deltas into one summed segment — the
    * small-files countermeasure. Sums are per token, so the compacted
    * store is bit-identical to merge-on-read by construction.
    */
  def compactTermStatsIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = IndexMaintenance.withWriterLease(spark, path) { tx =>
    tx.replace("terms", tx.snapshot.read("terms")
      .groupBy("token")
      .agg(sum(col("df")).as("df"), sum(col("tl")).as("tl"))
      // tokens a retraction zeroed out fold away entirely, so the
      // compacted store is row-identical to a fresh build on survivors
      .filter(col("df") =!= 0 || col("tl") =!= 0))
  }

  /** BM25-score a NEW batch against the index — the scan form's exact
    * arithmetic ([[bm25TopK]]'s IEEE tree, quantized-long sums, same tie
    * rule) with (N, Σdl, df) read from the store: the parquet scan is
    * filtered to the q query tokens + the sentinel (an `In` filter pushed
    * to the scan — q+1 of the vocabulary's rows are read), merged by one
    * tiny aggregate, and broadcast back over the batch's map-side tf/dl
    * frame. Per-query cost is the batch scan + a (q+1)-row index probe,
    * independent of how large the indexed corpus has grown.
    */
  def scoreAgainstTermIndex(newDocs: DataFrame, idCol: String,
      textCol: String, terms: Seq[String], path: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "scoreAgainstTermIndex needs at least one term")
    require(terms.forall(_.nonEmpty),
      "empty-string terms are reserved for the corpus-stats sentinel")
    requireDistinctTerms("scoreAgainstTermIndex", terms)
    require(k >= 1, s"k must be positive, got $k")
    val store = IndexMaintenance.snapshot(newDocs.sparkSession, path).read("terms")
    // fail fast on a pathological store: a missing or zero sentinel would
    // otherwise flow null/NaN corpus stats into every score row. The probe
    // is a pushed token='' filter — one row group, one tiny job.
    val sent = store
      .filter(col("token") === "")
      .agg(sum(col("df")).as("n"), sum(col("tl")).as("tl")).collect()(0)
    require(!sent.isNullAt(0) && sent.getLong(0) > 0L && sent.getLong(1) > 0L,
      s"term-stats index at $path has no usable corpus sentinel " +
        "(empty index, or an all-empty-text corpus was indexed)")
    val idx = store
      .filter(col("token").isin(terms :+ "": _*))
      .groupBy("token")
      .agg(sum(col("df")).as("df"), sum(col("tl")).as("tl"))
    val statCols = sum(when(col("token") === "", col("df"))).as("n_docs") +:
      sum(when(col("token") === "", col("tl"))).as("t_len") +:
      terms.indices.map(i =>
        coalesce(sum(when(col("token") === terms(i), col("df"))), lit(0L))
          .as(s"df_$i"))
    val stats = idx.agg(statCols.head, statCols.tail: _*)
    val toks = TextAnalysis.tokens(col(textCol))
    val tfCols = terms.indices.map { i =>
      size(filter(toks, x => x === lit(terms(i)))).cast("long").as(s"tf_$i")
    }
    val base = newDocs.select(
      (col(idCol).as("doc_id") +: tfCols :+
        size(filter(toks, x => x =!= lit(""))).cast("long").as("dl")): _*)
    val su = terms.indices
      .map(i => bm25Quantized(s"tf_$i", s"df_$i", k1, b)).reduce(_ + _)
    rankTopK(base.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"), su.as("su")), k)
  }

  /** Ranking-quality evaluation — MRR and precision@n of a ranked list
    * against a relevance set (Voorhees 1999, the TREC reciprocal-rank
    * measure): the audit step that closes the retrieval loop (is the
    * decontamination ranker actually surfacing the contaminated docs?
    * did the hybrid fusion beat either ranker alone?). One row out:
    *
    *   n_ranked, n_relevant, hits@n, precision@n (quantized),
    *   mrr (floor(1e9/first_hit_rank)/1e9 — exactly one IEEE division,
    *   0.0 when no relevant doc is ranked)
    *
    * `ranked` is a bounded top-k list (rank column dense from 1);
    * `relevant` is any frame of relevant ids — at corpus scale it joins
    * as a semi-join against the BOUNDED ranked list, so evaluation cost
    * is the relevance scan, never a corpus shuffle.
    */
  def evalRanking(ranked: DataFrame, relevant: DataFrame, idCol: String,
      rankCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    val rel = relevant.select(col(idCol).as("id")).distinct()
    val r = ranked.select(col(idCol).as("id"), col(rankCol).as("rank"))
    val hits = r.join(rel, Seq("id"), "left_semi")
    val nRanked = r.agg(count(lit(1)).as("n_ranked"))
    val nRel = rel.agg(count(lit(1)).as("n_relevant"))
    val hitAgg = hits.agg(
      sum(when(col("rank") <= n, 1L).otherwise(0L)).as("hits_at_n"),
      min(col("rank")).as("first_hit"))
    broadcast(nRanked).crossJoin(broadcast(nRel))
      .crossJoin(broadcast(hitAgg))
      .select(col("n_ranked"), col("n_relevant"),
        coalesce(col("hits_at_n"), lit(0L)).as("hits_at_n"),
        (floor(coalesce(col("hits_at_n"), lit(0L)).cast("double")
          / lit(n.toDouble) * lit(1e9d)).cast("long").cast("double")
          / lit(1e9d)).as("precision_at_n"),
        (coalesce(floor(lit(1e9d) / col("first_hit").cast("double"))
          .cast("long"), lit(0L)).cast("double") / lit(1e9d)).as("mrr"))
  }

  /** Persisted POSTINGS index — the structure that removes the last
    * O(corpus) cost from the retrieval loop: where the term-stats store
    * ([[buildTermStatsIndex]]) answers "score a NEW batch under frozen
    * idf", the postings store answers "top-k documents IN the indexed
    * corpus for query q" without re-scanning or re-tokenizing the corpus
    * — the query a curation/decontamination audit repeats hundreds of
    * times against the same frozen snapshot.
    *
    * Two stores of one [[IndexMaintenance]] root (merge-on-read appends,
    * compaction, readers on one snapshot):
    *
    *   - `postings/`: one row per (token, doc_id) with its tf and the
    *     doc's dl — dl DENORMALIZED onto the posting row so scoring a
    *     candidate never joins a per-doc side table (the per-posting cost
    *     is 8 extra bytes; the alternative is an O(N)-row dl store scan
    *     per query). Written token-clustered and (token, doc_id)-sorted,
    *     so a query's `In(token, …)` filter prunes at the parquet
    *     row-group level (PlanSpec pins the pushed filter).
    *   - `ptotals`: one (n_docs, t_len, min_id, max_id) row per appended
    *     batch; corpus N and Σdl are the SUM over batch rows (additive for
    *     disjoint batches), summed to one row by compaction. The id-range
    *     columns are the batch's REPLAY IDENTITY: batches hold disjoint
    *     doc_ids, so two legitimate batches can never produce identical
    *     rows, while a crash-replayed append reproduces its row exactly —
    *     readers dropDuplicates before summing and stay correct.
    *
    * df is NOT stored: it falls out of the query-term postings themselves
    * (group size per token over (token, doc_id) rows — exact, and exact
    * stays additive because disjoint batches contribute disjoint doc_ids).
    * This is the fix the term-stats store's KDoc boundary points at: the
    * BUILD here shuffles (token, doc_id, tf, dl) rows once — the index
    * write — and no query ever pays a corpus-shaped aggregate again.
    *
    * Query cost ([[topKFromIndex]]): the q terms' postings (pushed-filter
    * pruned scan) + a q-row df aggregate + a candidate-bound per-doc sum +
    * TakeOrdered(k). Independent of corpus size for fixed term
    * selectivity; grows with df(term) exactly as an inverted index should.
    *
    * Crash/replay posture: the streaming ingest appends under the root's
    * batch watermark ([[IndexMaintenance.withWriterLease]]), so a
    * replayed micro-batch lands once. A plain append re-run by hand can
    * still duplicate a batch's rows (the at-least-once contract every
    * store here shares), and queries TOLERATE that end to end —
    * [[topKFromIndex]] collapses (token, doc_id) posting repeats with
    * max(tf) and ptotals batch-row repeats with dropDuplicates on the
    * replay identity (exact replays are identical rows in both stores) —
    * and compaction drops them physically. Single writer at a time, like
    * every store.
    */
  def buildPostingsIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
    IndexMaintenance.withWriterLease(docs.sparkSession, path) { tx =>
      // a rebuild starts a new id space — stale tombstones would silently
      // filter fresh rows the fresh ptotals counts, skewing every query's
      // N vs df (see the IndexMaintenance tombstone contract)
      tx.drop(IndexMaintenance.TombstoneStore)
      val (post, tot) = postingsOf(docs, idCol, textCol)
      IndexMaintenance.inParallelAll(Seq(
        () => tx.replace("postings", post), () => tx.replace("ptotals", tot)))
    }

  /** Append one batch (disjoint doc_ids from what's indexed — the same
    * additivity contract as every merge-on-read store).
    */
  def appendToPostingsIndex(delta: DataFrame, idCol: String,
      textCol: String, path: String): Unit =
    IndexMaintenance.withWriterLease(delta.sparkSession, path)(
      appendPostings(delta, idCol, textCol))

  private[graft] def appendPostings(delta: DataFrame, idCol: String,
      textCol: String): IndexMaintenance.Tx => Unit = { tx =>
    val (post, tot) = postingsOf(delta, idCol, textCol)
    IndexMaintenance.inParallelAll(Seq(
      () => tx.append("postings", post), () => tx.append("ptotals", tot)))
  }

  /** RETRACT indexed docs (takedown) from the postings index — the exact
    * mirror of [[appendToPostingsIndex]], because BM25 statistics are
    * additive: `docs` must be exactly the indexed documents being removed
    * (id AND text — a takedown has the offending document in hand), and
    * the store stays score-exact without touching a single postings row:
    *
    *   1. a NEGATIVE ptotals row (−batch count, −batch Σdl) appends — N
    *     and Σdl correct on read because readers sum batch rows;
    *   2. the ids tombstone ([[IndexMaintenance.addTombstones]]) — query
    *     candidates drop them before df derivation, so per-term df (a
    *     posting-group size over SURVIVING rows) is exact too.
    *
    * [[topKFromIndex]] after a retraction is therefore row-for-row equal
    * to a fresh index built on the surviving corpus (spec + the
    * q_bm25_retract oracle pin it); the postings rows leave physically at
    * the next [[compactPostingsIndex]] (the vacuum). Cost: tokenize the
    * RETRACTED docs only — never an index or corpus scan.
    *
    * Crash/replay posture: the negative row carries the batch's id-range
    * replay identity like every ptotals row, so re-running an interrupted
    * retraction is safe end-to-end (the replayed row collapses under
    * dropDuplicates; replayed tombstones are ignored). Each doc is
    * retracted at most once and never re-appended — the same
    * stated-not-checked contract as append disjointness.
    */
  def retractFromPostingsIndex(docs: DataFrame, idCol: String,
      textCol: String, path: String): Unit = {
    val spark = docs.sparkSession
    IndexMaintenance.withWriterLease(spark, path) { tx =>
      val (_, tot) = postingsOf(docs, idCol, textCol)
      tx.append("ptotals", tot.select((-col("n_docs")).as("n_docs"),
        (-col("t_len")).as("t_len"), col("min_id"), col("max_id")))
      IndexMaintenance.addTombstones(tx, docs.select(col(idCol)))
    }
  }

  private def postingsOf(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val toks = TextAnalysis.tokens(col(textCol))
    val base = Staging.stage(docs.select(col(idCol).as("doc_id"),
      filter(toks, x => x =!= lit("")).as("toks")))
    // (token, doc_id, tf, dl): within-doc counting is map-side (explode +
    // the doc-keyed aggregate collapses in the partial because a doc's
    // tokens live in one row); the one exchange is the token-clustered
    // index write itself
    val post = base
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("token"))
      .groupBy("token", "doc_id", "dl")
      .agg(count(lit(1)).cast("long").as("tf"))
      .select(col("token"), col("doc_id"), col("tf"), col("dl"))
      .repartition(col("token"))
      .sortWithinPartitions("token", "doc_id")
    val tot = base.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(size(col("toks")).cast("long")).as("t_len"),
      min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    (post, tot)
  }

  /** Fold both stores: postings drop replayed (token, doc_id) duplicates
    * and tombstoned docs (the vacuum — their N/Σdl corrections are already
    * in the ptotals sum) and rewrite token-clustered at size-derived file
    * counts; ptotals sum to one row. Both stores and the tombstone drop
    * commit together; queries are bit-identical before and after
    * (spec-pinned).
    */
  def compactPostingsIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFileBytes: Long = 128L << 20): Unit =
      IndexMaintenance.withWriterLease(spark, path) { tx =>
    val snap = tx.snapshot
    tx.replace("postings", snap.live("postings", "doc_id")
      .dropDuplicates("token", "doc_id")
      .repartition(snap.targetFiles("postings", targetFileBytes), col("token"))
      .sortWithinPartitions("token", "doc_id"))
    tx.replace("ptotals", snap.read("ptotals")
      .dropDuplicates("n_docs", "t_len", "min_id", "max_id")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("t_len")).as("t_len"),
        min(col("min_id")).as("min_id"), max(col("max_id")).as("max_id")))
    tx.drop(IndexMaintenance.TombstoneStore)
  }

  /** Top-k documents IN the indexed corpus for `terms` — [[bm25TopK]]'s
    * exact arithmetic (same IEEE tree, same quantized-long sum, same
    * ascending-id tie rule) answered from the postings store alone:
    *
    *   1. postings scan filtered to the q terms (`In` pushed to parquet —
    *      the token-clustered layout prunes to the terms' row groups);
    *      replayed duplicates collapse via max(tf/dl) per (token, doc_id);
    *   2. df per term = posting-group sizes (a q-row aggregate, broadcast);
    *   3. N, Σdl = the ptotals sum (one ≤batches-row aggregate, broadcast);
    *   4. per-doc quantized contribution sum over the candidate rows;
    *   5. TakeOrdered(k) on (su desc, doc_id).
    *
    * EQUALITY CONTRACT vs the scan form: row-for-row equal to
    * [[bm25TopK]](corpus, terms, k) whenever the scan form's k-th score is
    * positive — i.e. at least k docs contain ≥1 query term (with rational
    * idf every match contributes > 0). Documents matching NO term never
    * appear here (they'd need the corpus scan this index exists to avoid);
    * if fewer than k docs match, the result is shorter than k rather than
    * padded with zero-score rows. Spec + the q_bm25_index_topk oracle pin
    * the equality on a two-batch build.
    *
    * The frame is planned on the session [[graft.Execution]] picks for the
    * root's manifest bytes: `spark`'s interpreted twin under the bound.
    */
  def topKFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "topKFromIndex needs at least one query term")
    require(terms.forall(_.nonEmpty), "query terms must be non-empty strings")
    requireDistinctTerms("topKFromIndex", terms)
    require(k >= 1, s"k must be positive, got $k")
    val snap0 = IndexMaintenance.snapshot(spark, path)
    val snap = snap0.on(graft.Execution.sessionFor(spark, snap0.bytes))
    val tot = snap.read("ptotals")
      .dropDuplicates("n_docs", "t_len", "min_id", "max_id")
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("t_len")).cast("long").as("t_len"))
    // candidate postings: pushed In(token) filter; (token, doc_id) replay
    // duplicates collapse here (exact replays are identical rows);
    // retracted docs drop BEFORE the df derivation (broadcast anti-join
    // against the tombstones, map-side) so df counts survivors only. Not
    // staged: the df aggregate and the scoring join share one plan, and
    // a read leaves no cached frame behind.
    val cand = snap.dropTombstoned(
        snap.read("postings").filter(col("token").isin(terms: _*)), "doc_id")
      .groupBy("token", "doc_id")
      .agg(max(col("tf")).as("tf"), max(col("dl")).as("dl"))
    val dfT = cand.groupBy("token").agg(count(lit(1)).cast("long").as("df"))
    val scored = cand.join(broadcast(dfT), "token")
      .crossJoin(broadcast(tot))
    rankTopK(scored
      .withColumn("q", bm25Quantized("tf", "df", k1, b))
      .groupBy("doc_id")
      .agg(max(col("dl")).as("dl"), sum(col("q")).as("su")), k)
  }

  /** [[bm25TopKBatch]] answered from the POSTINGS STORE — the
    * benchmark-suite regime with NO corpus pass at all: one probe of the
    * union of all queries' terms (pushed `In` filter), then per-query
    * scoring/top-k exactly as the batch form. The union term list
    * collects to the driver first (a query workload is driver-scale by
    * definition — hundreds of audit queries, not a corpus column); df
    * per term = posting-group sizes over the probed rows, so a term's df
    * is identical whichever queries ask for it.
    *
    * Per-query equality contract: equal to [[topKFromIndex]] per query
    * (and hence to the scan loop whenever each query's k-th score is
    * positive). Replay tolerance inherited from [[topKFromIndex]] — the
    * (token, doc_id) collapse and the ptotals replay identity.
    */
  def topKFromIndexBatch(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, queryIdCol: String, termCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val q = Staging.stage(queries
      .select(col(queryIdCol).as("query_id"), col(termCol).as("token"))
      .filter(col("token") =!= "").distinct())
    // bounded driver fetch: the union of the suite's DISTINCT terms (the
    // literal list is what pushes the In filter into the parquet scan)
    val terms = q.select("token").distinct().collect().map(_.getString(0))
    require(terms.nonEmpty, "topKFromIndexBatch needs at least one query term")
    val snap = IndexMaintenance.snapshot(spark, path)
    val tot = snap.read("ptotals")
      .dropDuplicates("n_docs", "t_len", "min_id", "max_id")
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("t_len")).cast("long").as("t_len"))
    val cand = Staging.stage(snap.dropTombstoned(
        snap.read("postings").filter(col("token").isin(terms.toIndexedSeq: _*)),
        "doc_id")
      .groupBy("token", "doc_id")
      .agg(max(col("tf")).as("tf"), max(col("dl")).as("dl")))
    val dfT = cand.groupBy("token").agg(count(lit(1)).cast("long").as("df"))
    val scored = cand
      .join(broadcast(q), "token")
      .join(broadcast(dfT), "token")
      .crossJoin(broadcast(tot))
    rankPerQuery(scored
      .withColumn("qv", bm25Quantized("tf", "df", k1, b))
      .groupBy("query_id", "doc_id")
      .agg(max(col("dl")).as("dl"), sum(col("qv")).as("su")), k)
  }

  /** POSITIONAL index — the exact-PHRASE complement of the postings
    * store: where postings answer ranked bag-of-words queries,
    * `positions/` answers "which indexed documents contain this exact
    * consecutive token sequence" — the decontamination question a
    * benchmark audit asks verbatim (a leaked test item is a phrase, not
    * a term bag), today answerable only by a corpus scan per phrase.
    *
    * One store, the established lifecycle: (token, doc_id, pos) — one row
    * per token OCCURRENCE (pos = 0-based offset in the tokenized doc),
    * token-clustered + (token, doc_id, pos)-sorted so a phrase's `In`
    * filter prunes to its tokens' row groups and parquet's delta/dict
    * encodings compress the sorted columns (the columnar analogue of a
    * classical delta-encoded positional postings list). ~1 row per corpus
    * token makes this the family's largest store (the KDoc trade: exact
    * phrase position queries cost position-resolution storage); build it
    * only when phrase queries are part of the workload.
    *
    * Replay posture: rows are unique per (doc_id, pos) by construction,
    * so a crash-replayed append duplicates rows exactly — queries
    * collapse them (dropDuplicates on the probed slice) and compaction
    * drops them physically. Retraction: tombstones only (per-occurrence
    * rows, no cross-doc aggregate) — `retractFromPositionalIndex`; one
    * index family per root, so vacuum lifecycles never race.
    */
  def buildPositionalIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
    IndexMaintenance.withWriterLease(docs.sparkSession, path) { tx =>
      // rebuild = new id space; stale tombstones must not filter it
      tx.drop(IndexMaintenance.TombstoneStore)
      tx.replace("positions", positionsOf(docs, idCol, textCol))
    }

  /** Append one batch (disjoint doc_ids — the standard contract). */
  def appendToPositionalIndex(delta: DataFrame, idCol: String,
      textCol: String, path: String): Unit =
    IndexMaintenance.withWriterLease(delta.sparkSession, path)(
      appendPositions(delta, idCol, textCol))

  private[graft] def appendPositions(delta: DataFrame, idCol: String,
      textCol: String): IndexMaintenance.Tx => Unit =
    _.append("positions", positionsOf(delta, idCol, textCol))

  /** RETRACT indexed docs (takedown): tombstones only — phrase queries
    * drop the ids before start-candidate generation; the next
    * [[compactPositionalIndex]] vacuums the rows. Same at-least-once
    * replay contract as [[IncrementalDedup.retract]].
    */
  def retractFromPositionalIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame): Unit =
    IndexMaintenance.withWriterLease(spark, path)(IndexMaintenance.addTombstones(_, ids))

  private def positionsOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"),
        posexplode(filter(toks, x => x =!= lit("")))
          .as(Seq("pos", "token")))
      .select(col("token"), col("doc_id"), col("pos").cast("long").as("pos"))
      .repartition(col("token"))
      .sortWithinPartitions("token", "doc_id", "pos")
  }

  /** Fold the store: drop replayed duplicates and tombstoned (retracted)
    * docs, rewrite token-clustered at size-derived file counts, retire
    * the tombstones in the same commit. Query results bit-identical
    * before and after (spec-pinned).
    */
  def compactPositionalIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFileBytes: Long = 128L << 20): Unit =
      IndexMaintenance.withWriterLease(spark, path) { tx =>
    tx.replace("positions", tx.snapshot.live("positions", "doc_id")
      .dropDuplicates("token", "doc_id", "pos")
      .repartition(tx.snapshot.targetFiles("positions", targetFileBytes), col("token"))
      .sortWithinPartitions("token", "doc_id", "pos"))
    tx.drop(IndexMaintenance.TombstoneStore)
  }

  /** Exact-phrase matches from the positional index: (doc_id, n_matches)
    * for every indexed doc containing `phrase` as a CONSECUTIVE token
    * sequence, n_matches counting ALL start offsets (overlapping
    * occurrences included — "a a a" contains "a a" twice). The classical
    * positional-intersection algorithm as one selectivity-bound plan:
    *
    *   1. positions scan filtered to the phrase's distinct tokens
    *      (pushed `In` — the phrase's row groups only), replayed
    *      duplicates collapsed on (doc_id, pos);
    *   2. each occurrence emits one candidate START per phrase slot its
    *      token could fill (pos − i for every i with phrase(i) == token
    *      — a literal token→offsets map, map-side);
    *   3. a (doc_id, start) group containing ALL |phrase| slots is a
    *      match (each slot's witness row is distinct, so count == k ⟺
    *      every slot matched);
    *   4. matches roll up per doc.
    *
    * Cost: Σ df(phrase tokens) rows probed + one (doc_id, start) shuffle
    * of the same volume — never a corpus scan or tokenize. Equality with
    * the scan twin [[phraseCountScan]] is oracle- and spec-pinned
    * (including periodic phrases, where overlap semantics bite).
    */
  def phraseMatches(spark: org.apache.spark.sql.SparkSession, path: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseMatches needs a non-empty phrase")
    require(phrase.forall(_.nonEmpty), "phrase tokens must be non-empty")
    require(phrase.length <= 32,
      s"phrase length ${phrase.length} > 32 — split the needle (an exact " +
        "match of any 32-token window implies containment for longer ones)")
    val distinctToks = phrase.distinct
    val snap = IndexMaintenance.snapshot(spark, path)
    val rows = snap.dropTombstoned(
        snap.read("positions").filter(col("token").isin(distinctToks: _*)), "doc_id")
      .dropDuplicates("doc_id", "pos") // crash-replayed append rows
    // token → the phrase slots it fills, as a literal map (driver-side
    // constant; the explode is map-side over the probed slice only)
    val slotOf = phrase.zipWithIndex.groupBy(_._1).toSeq
      .flatMap { case (t, is) => Seq(lit(t), lit(is.map(_._2).toArray)) }
    val starts = rows
      .select(col("doc_id"), col("pos"),
        explode(element_at(map(slotOf: _*), col("token"))).as("i"))
      .select(col("doc_id"), (col("pos") - col("i")).as("start"))
    starts.groupBy("doc_id", "start")
      .agg(count(lit(1)).as("slots"))
      .filter(col("slots") === phrase.length)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_matches"))
      .orderBy("doc_id")
  }

  /** MULTI-PHRASE batched matching — a whole benchmark suite's needles
    * against the positional index in ONE probe (the
    * [[topKFromIndexBatch]] regime applied to phrases): `phrases` is a
    * (phrase_id, slot, token) frame — slot is the token's 0-based offset
    * within its phrase; a phrase suite is driver-scale by definition, so
    * the union token list and the slot map broadcast.
    *
    * Plan: one positions probe of the UNION of all phrases' tokens
    * (pushed `In`), replay collapse, then each occurrence fans out to
    * every (phrase_id, slot) wanting its token (broadcast join), emits
    * (phrase_id, doc_id, start = pos − slot), and a group holding all of
    * its phrase's slots is a match (count == that phrase's length, via a
    * broadcast per-phrase length frame). Output: (phrase_id, doc_id,
    * n_matches) ordered — per-phrase rows equal [[phraseMatches]] run in
    * a loop (spec-pinned); phrases whose tokens are absent emit nothing.
    *
    * Duplicate (phrase_id, slot) rows collapse (the same distinctness
    * posture as the query-frame forms); slots must be exactly
    * 0..len−1 per phrase — enforced, since a gap would make count == len
    * unreachable and silently drop the phrase.
    */
  def phraseMatchesBatch(spark: org.apache.spark.sql.SparkSession,
      path: String, phrases: DataFrame, phraseIdCol: String,
      slotCol: String, tokenCol: String): DataFrame =
    phraseMatchesBatchAt(IndexMaintenance.snapshot(spark, path), phrases,
      phraseIdCol, slotCol, tokenCol)

  private def phraseMatchesBatchAt(snap: IndexMaintenance.Snapshot,
      phrases: DataFrame, phraseIdCol: String, slotCol: String,
      tokenCol: String): DataFrame = {
    val q = Staging.stage(phrases
      .select(col(phraseIdCol).as("phrase_id"),
        col(slotCol).cast("long").as("slot"), col(tokenCol).as("token"))
      .filter(col("token") =!= "").distinct())
    // bounded driver fetch: validate the slot layout + get the In list
    val lens = q.groupBy("phrase_id")
      .agg(count(lit(1)).as("len"), max(col("slot")).as("mx"),
        min(col("slot")).as("mn"))
      .collect()
    require(lens.nonEmpty, "phraseMatchesBatch needs at least one phrase")
    lens.foreach { r =>
      val (len, mx, mn) = (r.getLong(1), r.getLong(2), r.getLong(3))
      require(mn == 0L && mx == len - 1L,
        s"phrase ${r.get(0)} must cover slots 0..len-1 exactly (a gap " +
          s"or repeat would silently drop it); got min=$mn max=$mx count=$len")
      require(len <= 32L,
        s"phrase ${r.get(0)} longer than 32 tokens — split the needle")
    }
    val terms = q.select("token").distinct().collect().map(_.getString(0))
    val lenF = q.groupBy("phrase_id").agg(count(lit(1)).as("len"))
    val rows = snap.dropTombstoned(
        snap.read("positions").filter(col("token").isin(terms.toIndexedSeq: _*)),
        "doc_id")
      .dropDuplicates("doc_id", "pos")
    rows
      .join(broadcast(q), "token") // fan out to the slots wanting the token
      .select(col("phrase_id"), col("doc_id"),
        (col("pos") - col("slot")).as("start"))
      .groupBy("phrase_id", "doc_id", "start")
      .agg(count(lit(1)).as("slots"))
      .join(broadcast(lenF), "phrase_id")
      .filter(col("slots") === col("len"))
      .groupBy("phrase_id", "doc_id")
      .agg(count(lit(1)).cast("long").as("n_matches"))
      .orderBy("phrase_id", "doc_id")
  }

  /** Route report of [[phraseMatchesBatchAutoChosen]]: the matches frame
    * plus which phrases the governor sent to the corpus-scan twin
    * (`scanned`) vs the positional-index probe (`indexed`), and the
    * probe stats the decision used — the loud audit trail the ngram
    * governor ([[Dedup.ngramJaccardPairsAutoChosen]]) set the precedent
    * for. Routing changes COST, never output (both routes are equal on
    * the same corpus; spec-pinned).
    */
  final case class PhraseBatchPath(matches: DataFrame, scanned: Seq[String],
      indexed: Seq[String], totalPositions: Long, costByPhrase: Map[String, Long])

  /** [[phraseMatchesBatch]] with an AUTOMATIC route governor — the fix
    * for the batched form's one scale hazard: its slot fan-out joins
    * every occurrence of a token to every (phrase, slot) wanting it, so
    * a suite of SHARED-VOCABULARY needles over a saturated corpus builds
    * a combinatorial plan (measured 61.8 s / skew 384 at the saturated
    * defC tier, where rare-needle suites read under a second). "Benchmark
    * needles are rare by construction" is an assumption about the caller;
    * this probes it instead:
    *
    *   1. one tiny aggregate over the phrases' own pushed-`In` position
    *      rows gives occ(token) per needle token, and a footer-only
    *      count gives the store's total occurrence volume;
    *   2. a phrase's index-route cost is Σ_slots occ(token) — the exact
    *      row volume its slots would fan out to; phrases whose cost
    *      exceeds `hotFraction` of the total route to the SCAN twin
    *      ([[phraseCountScanBatch]] — ONE corpus pass shared by every
    *      hot phrase), the rest probe the index as before;
    *   3. outputs union; per-phrase rows are identical whichever route
    *      ran (OperatorSpec pins both extremes against
    *      [[phraseMatchesBatch]]).
    *
    * `docs` must be the corpus the index holds (its surviving rows, if
    * retractions happened) — the scan twin counts over what it is given.
    * Phrase ids must be strings (the two routes' outputs union by name).
    * Default `hotFraction` 0.05: a needle whose postings exceed ~5% of
    * the corpus token stream pays more in slot fan-out + the
    * (doc, start) exchange than its share of one linear corpus pass.
    */
  def phraseMatchesBatchAutoChosen(spark: org.apache.spark.sql.SparkSession,
      path: String, phrases: DataFrame, phraseIdCol: String, slotCol: String,
      tokenCol: String, docs: DataFrame, idCol: String, textCol: String,
      hotFraction: Double = 0.05): PhraseBatchPath = {
    require(hotFraction > 0.0 && hotFraction <= 1.0,
      s"hotFraction must be in (0, 1], got $hotFraction")
    require(phrases.schema(phraseIdCol).dataType ==
        org.apache.spark.sql.types.StringType,
      "phraseMatchesBatchAuto needs string phrase ids (the two routes' " +
        "outputs union by name)")
    // the suite is driver-scale by definition — collect and validate once
    val rows = phrases
      .select(col(phraseIdCol).cast("string").as("phrase_id"),
        col(slotCol).cast("long").as("slot"), col(tokenCol).as("token"))
      .filter(col("token") =!= "").distinct()
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    require(rows.nonEmpty, "phraseMatchesBatchAuto needs at least one phrase")
    val byPhrase: Seq[(String, Seq[String])] = rows.groupBy(_._1).toSeq
      .map { case (pid, rs) =>
        val slots = rs.sortBy(_._2)
        require(slots.head._2 == 0L && slots.last._2 == slots.length - 1L &&
            slots.map(_._2).distinct.length == slots.length,
          s"phrase $pid must cover slots 0..len-1 exactly; got " +
            slots.map(_._2).mkString(","))
        require(slots.length <= 32,
          s"phrase $pid longer than 32 tokens — split the needle")
        pid -> slots.map(_._3).toSeq
      }.sortBy(_._1)
    val terms = rows.map(_._3).distinct.toIndexedSeq
    // the probe: occ per needle token (pushed In — the same row groups
    // the index route would read) + the store's total occurrence volume
    // (a footer-only count). Occ counts tombstoned/replayed rows too —
    // an upper bound is exactly what a cost probe wants.
    val snap = IndexMaintenance.snapshot(spark, path)
    val positions = snap.read("positions")
    val occ = positions
      .filter(col("token").isin(terms: _*))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = positions.count()
    val budget = math.max(1L, (hotFraction * total).toLong)
    val cost = byPhrase.map { case (pid, toks) =>
      pid -> toks.map(t => occ.getOrElse(t, 0L)).sum
    }.toMap
    val (hot, cheap) = byPhrase.partition { case (pid, _) => cost(pid) > budget }
    import spark.implicits._
    val cheapDf =
      if (cheap.isEmpty) None
      else Some(phraseMatchesBatchAt(snap,
        cheap.flatMap { case (pid, toks) =>
          toks.zipWithIndex.map { case (t, i) => (pid, i, t) }
        }.toDF("phrase_id", "slot", "token"),
        "phrase_id", "slot", "token"))
    val hotDf =
      if (hot.isEmpty) None
      else Some(phraseCountScanBatch(docs, idCol, textCol, hot))
    val matches = (cheapDf, hotDf) match {
      case (Some(a), Some(b)) =>
        a.unionByName(b).orderBy("phrase_id", "doc_id")
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => throw new IllegalStateException("unreachable")
    }
    PhraseBatchPath(matches, hot.map(_._1), cheap.map(_._1), total, cost)
  }

  /** [[phraseMatchesBatchAutoChosen]] for callers that only want rows. */
  def phraseMatchesBatchAuto(spark: org.apache.spark.sql.SparkSession,
      path: String, phrases: DataFrame, phraseIdCol: String, slotCol: String,
      tokenCol: String, docs: DataFrame, idCol: String, textCol: String,
      hotFraction: Double = 0.05): DataFrame =
    phraseMatchesBatchAutoChosen(spark, path, phrases, phraseIdCol, slotCol,
      tokenCol, docs, idCol, textCol, hotFraction).matches

  /** The BATCHED scan twin — every phrase of a suite checked in ONE
    * corpus tokenize pass (the [[phraseCountScan]] overlap-correct slice
    * compare per phrase, stacked through a per-row struct array), no
    * index required. This is where the governor sends hot-token needles:
    * cost is one linear pass regardless of how saturated the needles'
    * tokens are, where the index route's fan-out grows with Σ occ(token).
    * Output: (phrase_id, doc_id, n_matches), matching docs only — equal
    * to a [[phraseCountScan]] loop and to [[phraseMatchesBatch]] on an
    * index of the same corpus.
    */
  def phraseCountScanBatch(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[(String, Seq[String])]): DataFrame = {
    require(phrases.nonEmpty, "phraseCountScanBatch needs at least one phrase")
    phrases.foreach { case (pid, ph) =>
      require(ph.nonEmpty && ph.forall(_.nonEmpty),
        s"phrase $pid tokens must be non-empty")
    }
    require(phrases.map(_._1).distinct.length == phrases.length,
      "phrase ids must be distinct")
    // INVERTED per-row loop: ONE pass over a document's start offsets,
    // candidates looked up by FIRST TOKEN (a literal token → phrase-index
    // map), each candidate verified by one slice compare. The naive form
    // (per-phrase start scans) materializes a fresh starts sequence and
    // runs a full-lambda pass PER PHRASE PER ROW — |suite|× the work and
    // |suite|× the per-row garbage; inverting makes per-row cost
    // O(tokens × avg candidates per token), which for a 100-needle suite
    // over a 30-word vocabulary is ~3 slice compares per start instead
    // of 100 lambda scans per row (measured 34.7 → see SCALE.md).
    val pids = phrases.map(_._1)
    val toksArr = phrases.map(_._2)
    // 1-based indices — element_at over the literal arrays is 1-based
    val byFirst = toksArr.zipWithIndex
      .groupBy(_._1.head).toSeq
      .map { case (t, xs) => t -> xs.map(_._2 + 1) }
    val firstMapLit = map(byFirst.flatMap { case (t, idxs) =>
      Seq(lit(t), typedlit(idxs))
    }: _*)
    val phrasesLit = typedlit(toksArr.map(_.toSeq))
    val lensLit = typedlit(toksArr.map(_.length))
    val pidsLit = typedlit(pids)
    val emptyInts = typedlit(Seq.empty[Int])
    val toksC = TextAnalysis.tokens(col(textCol))
    // staged projection (the Staging rule): the start-offset lambda sees
    // `toks` as an attribute, so the corpus tokenizes once for the suite
    val base = Staging.stage(docs.select(col(idCol).as("doc_id"),
      filter(toksC, x => x =!= lit("")).as("toks")))
    // per start s: the phrases whose first token sits at s, kept iff the
    // slice from s matches the whole phrase (a short tail slice never
    // equals the full phrase array — no length guard needed); flattening
    // gives one element per (start, phrase) MATCH, so the per-(doc,
    // phrase) count is the overlap-correct n_matches
    val matched = flatten(transform(
      sequence(lit(1), size(col("toks"))),
      s => filter(
        coalesce(element_at(firstMapLit, element_at(col("toks"), s)),
          emptyInts),
        pi => slice(col("toks"), s, element_at(lensLit, pi))
          === element_at(phrasesLit, pi))))
    base
      .select(col("doc_id"),
        // size == 0 → sequence(1, 0) would be a DESCENDING range, not
        // empty — guard the whole expression instead
        explode(when(size(col("toks")) > 0, matched).otherwise(emptyInts))
          .as("pi"))
      .groupBy("doc_id", "pi")
      .agg(count(lit(1)).cast("long").as("n_matches"))
      .select(element_at(pidsLit, col("pi")).as("phrase_id"), col("doc_id"),
        col("n_matches"))
      .orderBy("phrase_id", "doc_id")
  }

  /** The scan twin of [[phraseMatches]] — one map-side pass over the raw
    * corpus checking every start offset (the overlap-correct slice
    * compare), no index required. Serves as the phrase oracle and the
    * one-shot path when no positional index exists.
    */
  def phraseCountScan(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseCountScan needs a non-empty phrase")
    require(phrase.forall(_.nonEmpty), "phrase tokens must be non-empty")
    val k = phrase.length
    val toksC = TextAnalysis.tokens(col(textCol))
    // staged projection: the HOF lambda below must see `toks` as an
    // attribute, not re-tokenize per start offset (the Staging rule)
    val base = Staging.stage(docs.select(col(idCol).as("doc_id"),
      filter(toksC, x => x =!= lit("")).as("toks")))
    val hit = (s: Column) => phrase.zipWithIndex.map { case (t, i) =>
      element_at(col("toks"), (s + lit(i + 1)).cast("int")) === lit(t)
    }.reduce(_ && _)
    base
      .withColumn("n_matches",
        when(size(col("toks")) >= k,
          size(filter(sequence(lit(0), size(col("toks")) - lit(k)), hit)))
          .otherwise(lit(0)).cast("long"))
      .filter(col("n_matches") > 0)
      .select(col("doc_id"), col("n_matches"))
      .orderBy("doc_id")
  }

  /** MULTI-QUERY batched BM25 — a whole benchmark suite's queries scored
    * in ONE corpus pass instead of one pass per query (the shape
    * [[graft.operators.Decontaminate]] proves for shingles, applied to
    * ranked retrieval). `queries` is a (query_id, term) frame — hundreds
    * of audit queries are driver-scale by construction, so both the term
    * set and the per-(query, term) map broadcast.
    *
    * Plan: the corpus explodes to (doc, token) once, filters to the UNION
    * of all query terms map-side (broadcast semi-join — the only
    * corpus-shaped work, shared by every query), aggregates (doc, token)
    * tf; df per term derives from those rows; each query then joins its
    * own terms against the shared tf frame (broadcast), sums quantized
    * contributions per (query_id, doc_id), and takes its top-k via the
    * per-group window top-k shape (the window runs over CANDIDATE rows —
    * term-selectivity-bound, never the corpus).
    *
    * Output: (query_id, doc_id, dl, score, rank), ordered by (query_id,
    * rank). Same per-query equality contract as [[topKFromIndex]]:
    * row-for-row equal to a [[bm25TopK]] loop whenever each query's k-th
    * scan-form score is positive; docs matching none of a query's terms
    * don't appear under that query. Per-query duplicate terms in `queries`
    * collapse (tf groups by token), matching the distinct-terms contract.
    */
  def bm25TopKBatch(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, termCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val q = Staging.stage(queries
      .select(col(queryIdCol).as("query_id"), col(termCol).as("token"))
      .filter(col("token") =!= "").distinct())
    val allTerms = q.select("token").distinct()
    val toks = TextAnalysis.tokens(col(textCol))
    // the corpus tokenizes ONCE into a staged (doc_id, tokens) frame (the
    // LanguageModel staging rule); stats, tf, and dl all read it back
    val base = Staging.stage(docs.select(col(idCol).as("doc_id"),
      filter(toks, x => x =!= lit("")).as("toks")))
    val nStats = base.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks")).cast("long")).as("t_len"))
    // dl rides the exploded rows (8 bytes per occurrence), so candidates
    // never join a corpus-sized per-doc side table — every exchange below
    // is term-selectivity-bound; only occurrences of SOME query's term
    // survive the broadcast semi-join
    val tf = Staging.stage(base
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("token"))
      .join(broadcast(allTerms), Seq("token"), "left_semi")
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).cast("long").as("tf"), max(col("dl")).as("dl")))
    val dfT = tf.groupBy("token").agg(count(lit(1)).cast("long").as("df"))
    val scored = tf
      .join(broadcast(q), "token") // fan out to the queries wanting the term
      .join(broadcast(dfT), "token")
      .crossJoin(broadcast(nStats))
    // per-query top-k over candidate rows only (the q_topk_group shape)
    rankPerQuery(scored
      .withColumn("qv", bm25Quantized("tf", "df", k1, b))
      .groupBy("query_id", "doc_id")
      .agg(max(col("dl")).as("dl"), sum(col("qv")).as("su")), k)
  }

  /** Per-query ranking evaluation over a SUITE — [[evalRanking]]'s
    * metrics for every query of a batched retrieval run in one plan (the
    * TREC shape: MRR is the MEAN of per-query reciprocal ranks; this
    * emits the per-query rows the mean aggregates, plus hits/precision,
    * so the suite report and any per-query drill-down read off the same
    * frame). Inputs are (query_id, id, rank) ranked lists — bounded per
    * query by construction from the top-k rankers — and a (query_id, id)
    * relevance frame. One row per query, ordered by query_id:
    *
    *   query_id, n_ranked, n_relevant, hits_at_n, precision_at_n, rr
    *
    * rr = floor(1e9/first_hit_rank)/1e9 (exactly one IEEE division,
    * 0.0 when no relevant doc is ranked — queries with relevance
    * judgments but no ranked rows still appear, via the relevance side
    * of the outer join). Suite MRR = avg over the rr column, left to the
    * caller so the quantization story stays per-row.
    *
    * Scale shape: both sides group to one row per query before the
    * bounded joins; the relevance set joins the ranked lists on
    * (query_id, id) — cost tracks the judgment file, never a corpus.
    */
  def evalRankingBatch(ranked: DataFrame, relevant: DataFrame,
      queryIdCol: String, idCol: String, rankCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    val r = ranked.select(col(queryIdCol).as("query_id"),
      col(idCol).as("id"), col(rankCol).as("rank"))
    val rel = relevant.select(col(queryIdCol).as("query_id"),
      col(idCol).as("id")).distinct()
    val nRanked = r.groupBy("query_id")
      .agg(count(lit(1)).as("n_ranked"))
    val nRel = rel.groupBy("query_id")
      .agg(count(lit(1)).as("n_relevant"))
    val hitAgg = r.join(rel, Seq("query_id", "id"), "left_semi")
      .groupBy("query_id")
      .agg(sum(when(col("rank") <= n, 1L).otherwise(0L)).as("hits_at_n"),
        min(col("rank")).as("first_hit"))
    nRanked.join(nRel, Seq("query_id"), "full_outer")
      .join(hitAgg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_ranked"), lit(0L)).as("n_ranked"),
        coalesce(col("n_relevant"), lit(0L)).as("n_relevant"),
        coalesce(col("hits_at_n"), lit(0L)).as("hits_at_n"),
        (floor(coalesce(col("hits_at_n"), lit(0L)).cast("double")
          / lit(n.toDouble) * lit(1e9d)).cast("long").cast("double")
          / lit(1e9d)).as("precision_at_n"),
        (coalesce(floor(lit(1e9d) / col("first_hit").cast("double"))
          .cast("long"), lit(0L)).cast("double") / lit(1e9d)).as("rr"))
      .orderBy("query_id")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009, "Reciprocal Rank Fusion
    * outperforms Condorcet and individual Rank Learning Methods") of two
    * BOUNDED ranked lists — the standard hybrid-retrieval combiner for a
    * lexical (BM25) and a semantic (embedding kNN) ranker:
    *
    *   rrf(d) = Σ_lists 1/(c + rank_list(d)),   c = 60 (the paper's value)
    *
    * Ranks come in as columns; a document missing from a list contributes
    * 0 (the top-L truncation semantics real fusion runs on). Contributions
    * quantize as floor(1e9/(c+rank)) longs — list- and partition-order
    * independent, exactly replayable in SQL. Both inputs are top-L lists
    * (bounded by construction from TakeOrdered rankers), so the fusion
    * join is driver-scale however large the corpus; output keeps the
    * quantized score as a double (su/1e9), ties on ascending id.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, rankCol: String,
      k: Int, c: Int = 60): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(c >= 0, s"c must be non-negative, got $c")
    def contrib(r: Column): Column =
      coalesce(floor(lit(1e9d) / (lit(c).cast("double") + r.cast("double")))
        .cast("long"), lit(0L))
    val left = a.select(col(idCol).as("id"), col(rankCol).as("rank_a"))
    val right = b.select(col(idCol).as("id"), col(rankCol).as("rank_b"))
    val fused = left.join(right, Seq("id"), "full_outer")
      .select(col("id"),
        (contrib(col("rank_a")) + contrib(col("rank_b"))).as("su"))
    rankBounded(fused.orderBy(col("su").desc, col("id")).limit(k), "rrf_rank")
      .select(col("id"), (col("su").cast("double") / lit(1e9d)).as("rrf"),
        col("rrf_rank"))
      .orderBy("rrf_rank")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Staging.Stageable

/** Large-scale text deduplication operators (training-data pipeline block).
  *
  * No reference analogue (the reference stops at relational navigation);
  * these follow the standard public MinHash/SimHash constructions
  * (Broder 1997, Charikar 2002) expressed as pure Spark column pipelines:
  * every stage is codegen'd built-ins (`transform`/`aggregate`/`xxhash64`),
  * candidate generation is a band-bucket shuffle join — the same shape that
  * scales to 100 TB (shuffle volume is O(docs × bands), never O(docs²);
  * the quadratic step only runs inside a bucket).
  */
object Dedup {

  /** Lower-cased whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Distinct word n-gram shingles over an ALREADY-MATERIALIZED token
    * array column. Spark evaluates lambda bodies per element, so any
    * non-attribute subexpression inside them (like a fresh `split`) would
    * re-run per shingle — pass an attribute, not an expression. Guarded:
    * texts shorter than n tokens produce an empty shingle set (Spark
    * `sequence(1,0)` would otherwise count DOWN).
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(ngramsFromTokens(toks, n))

  /** Word n-grams WITH duplicates (repetition analysis needs the
    * occurrence counts shingling throws away). Same staging rule and
    * same `sequence(1,0)`-counts-down guard as [[shinglesFromTokens]].
    */
  def ngramsFromTokens(toks: Column, n: Int): Column = {
    val idx = when(size(toks) < n, array().cast("array<int>"))
      .otherwise(sequence(lit(1), size(toks) - (n - 1)))
    transform(idx, i => concat_ws(" ", slice(toks, i, lit(n))))
  }

  /** Convenience single-expression form — ONLY for one-shot evaluation
    * contexts; hot paths stage tokens first (see shinglesFromTokens).
    */
  def shingles(text: Column, n: Int): Column = shinglesFromTokens(tokens(text), n)

  /** Stage (id, sh, n_sh) with tokens and shingles materialized: two
    * narrow persisted projections so each array is computed once per row
    * and every downstream lambda sees a cheap attribute reference. The
    * frames are row-count-linear; persist spills to disk at scale.
    */
  def shingleFrame(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val toksDf = Staging.widen(docs)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .stagePersist()
    toksDf
      .select(col("id"), shinglesFromTokens(col("toks"), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .stagePersist()
  }

  /** Exact dedup: keep the lowest-id row per identical (normalized) text.
    * The hash-groupBy shape: one shuffle on a 64-bit digest, never on the
    * full text bytes — at 100 TB the shuffle carries 8-byte keys.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), xxhash64(lower(col(textCol))).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("group_size"))
      .select(idCol, "group_size")

  /** MinHash signature: `numHashes` independent minimums over shingle
    * hashes, seeded by the hash index (`xxhash64(seed, shingle)`).
    * Empty shingle sets get Long.MaxValue sentinels.
    */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      j => coalesce(array_min(transform(sh, x => xxhash64(j, x))), lit(Long.MaxValue)))

  /** MinHash + LSH near-duplicate pairs.
    *
    * bands×rows = numHashes; two docs collide when one band of their
    * signatures matches exactly (collision prob ≈ 1-(1-j^rows)^bands for
    * Jaccard j). Candidates are verified with exact Jaccard over shingles.
    *
    * Scale shape: explode to (band, bandSig) keys → the shuffle groups only
    * docs sharing a 64-bit band signature; the quadratic step runs per
    * bucket, and `dropDuplicates` collapses multi-band collisions before
    * the expensive verify.
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      jaccardThreshold: Double = 0.5
  ): DataFrame =
    minhashPairsFrom(shingleFrame(docs, idCol, textCol, shingleSize),
      numHashes, bands, jaccardThreshold)

  /** [[minhashPairs]] over a prebuilt [[shingleFrame]] — lets a gate query
    * share ONE staged shingle frame between the sketch and its exact twin
    * instead of tokenizing the corpus twice.
    */
  def minhashPairsFrom(
      sh: DataFrame,
      numHashes: Int = 16,
      bands: Int = 4,
      jaccardThreshold: Double = 0.5
  ): DataFrame = {
    // staged + persisted: the signature lambda iterates `sh` numHashes
    // times, so `sh` must be a materialized attribute, not an expression
    val base = sh
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .stagePersist()
    val pairIds = minhashCandidates(base, numHashes, bands)

    pairIds
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("common")).cast("double"))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** LSH candidate id pairs from a staged (id, sh, n_sh, sig) frame.
    *
    * Empty shingle sets are excluded from candidate generation: their
    * sentinel signature is a constant, so at corpus scale ALL short docs
    * would share every band key — one quadratic hot bucket. They can't be
    * near-dups by Jaccard (0/0 union) anyway, so dropping them leaves the
    * output unchanged.
    *
    * The band join carries (band, band_sig, id) ONLY — candidate shuffle
    * bytes stay O(docs × bands × 24 B) regardless of document size (pinned
    * by a PlanSpec assertion); shingle arrays join back per deduped pair
    * for the exact-Jaccard verify.
    */
  def minhashCandidates(base: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val banded = bandedKeys(base, numHashes, bands)
    val a = banded.select(col("band"), col("band_sig"), col("id").as("id_a"))
    val b = banded.select(col("band").as("band_r"), col("band_sig").as("band_sig_r"),
      col("id").as("id_b"))
    a.join(b, col("band") === col("band_r") && col("band_sig") === col("band_sig_r") &&
        col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** The LSH band keys of a staged (id, sh, n_sh, sig) frame: one
    * (id, band, band_sig) row per band, empty shingle sets excluded (their
    * sentinel signature is a corpus-wide constant — one quadratic hot
    * bucket; they can't be Jaccard near-dups anyway). Shared by the
    * in-memory pair search and the persisted incremental index so both
    * produce bit-identical bucket keys.
    */
  def bandedKeys(base: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    base.filter(col("n_sh") > 0).select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))).as(Seq("band", "band_sig")))
  }

  /** 64-bit SimHash (Charikar): bit i is the sign of the summed ±1 votes
    * from each token's hash bit i. Written as a SQL expression because the
    * shift amount is the lambda variable (the Scala `shiftright` helper
    * only takes literal shifts).
    */
  def simhashFoldSql(hashesCol: String): String =
    s"""aggregate(sequence(0, 63), 0L, (acc, i) ->
          acc | IF(aggregate($hashesCol, 0L,
                     (s, h) -> s + IF((shiftrightunsigned(h, i) & 1) = 1, 1L, -1L)
                   ) >= 0L, shiftleft(1L, i), 0L))"""

  /** Staged (id, sig) SimHash signature frame. The whole tokenize →
    * xxhash64-per-token → SimHash64 chain is ONE per-row expression (each
    * array argument evaluates once per row), so the only persist worth
    * paying is the 16-byte-per-row signature frame itself — both join
    * sides of a pair search read it. (Round 5 persisted the token-hash
    * ARRAYS and recomputed the kernel per side: bigger cache, double
    * kernel work — the r05→r06 simhash fix.)
    */
  def simhashSigs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // native codegen'd SimHash64 kernel (graft.functions.SimHash64) —
    // bit-identical to simhashFoldSql but one tight pass instead of 64
    // interpreted lambda iterations per token
    graft.functions.VectorFunctions.ensureRegistered(docs.sparkSession)
    Staging.widen(docs)
      .select(col(idCol).as("id"),
        graft.functions.VectorFunctions.simhash64(
          transform(tokens(col(textCol)), t => xxhash64(t))).as("sig"))
      .stagePersist()
  }

  /** SimHash near-duplicate pairs with hamming distance ≤ maxHamming —
    * APPROXIMATE candidate generation by single-chunk pigeonhole banding:
    * split the 64-bit signature into `chunks` chunks and join per chunk.
    * The superset guarantee ("some chunk matches exactly") only holds for
    * maxHamming ≤ chunks − 1; beyond that recall is partial (measured
    * 0.61 at maxHamming=6, chunks=4). [[simhashPairsExact]] is the exact
    * construction; this form survives as the cheaper wide-chunk mode.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, chunks: Int = 4): DataFrame = {
    val width = 64 / chunks
    val mask = (1L << width) - 1
    val sigs = simhashSigs(docs, idCol, textCol)
      .select(col("id"), col("sig"),
        posexplode(expr(s"transform(sequence(0, ${chunks - 1}), " +
          s"c -> shiftrightunsigned(sig, c * $width) & ${mask}L)"))
          .as(Seq("chunk", "chunk_val")))
    val a = sigs.select(col("chunk"), col("chunk_val"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("chunk").as("chunk_r"), col("chunk_val").as("chunk_val_r"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, col("chunk") === col("chunk_r") && col("chunk_val") === col("chunk_val_r") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** EXACT SimHash pair search for hamming ≤ 6 — the multi-block
    * construction of Manku et al. 2007 ("Detecting Near-Duplicates for Web
    * Crawling"): split the signature into 8 blocks of 8 bits; a pair with
    * ≤ 6 differing bits has ≥ 2 clean blocks, so it matches exactly on at
    * least one of the 28 two-block COMBINATIONS. Joining on
    * (combo, block_i ⧺ block_j) keys gives a guaranteed candidate superset
    * with 16-bit key entropy — narrow 8-bit single-block keys would put
    * corpus/256 docs in every bucket (quadratic in-bucket work at scale),
    * while combo keys keep expected bucket population corpus/65536 per
    * combo. Shuffle carries (key, id, sig) = 24 B × 28 rows/doc; the
    * `bit_count` verify makes the output exactly the hamming ≤ maxHamming
    * pair set.
    */
  def simhashPairsExact(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6): DataFrame = {
    require(maxHamming <= 6,
      s"8-block/2-combo construction guarantees maxHamming ≤ 6, got $maxHamming")
    val sigs = simhashSigs(docs, idCol, textCol)
    def block(k: Int): Column =
      shiftrightunsigned(col("sig"), k * 8).bitwiseAND(lit(0xFFL))
    val combos = for { i <- 0 until 8; j <- i + 1 until 8 } yield (i, j)
    val keys = array(combos.zipWithIndex.map { case ((i, j), c) =>
      lit(c.toLong << 16) + block(i) * lit(256L) + block(j)
    }: _*)
    val exploded = sigs.select(col("id"), col("sig"), explode(keys).as("k"))
    val a = exploded.select(col("k"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = exploded.select(col("k").as("k_r"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, col("k") === col("k_r") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over an undirected pair graph — the step that
    * turns near-dup PAIRS into dedup CLUSTERS (a, b) + (b, c) must collapse
    * to ONE kept document, which pairwise output alone can't express.
    *
    * Min-label propagation with DEFERRED POINTER JUMPING: each round every
    * node adopts the minimum label among itself and its neighbors (one
    * shuffle join + one partial-aggregating groupBy, fused via a message
    * union); from round `jumpAfter` on, label paths additionally halve via
    * `comp := comp(comp)` (one node-sized self-join) — so chain-shaped
    * graphs converge in O(log diameter) rounds, not O(diameter), while
    * near-clique dup clusters pay nothing for the jump they never need
    * (they finish in 1-2 plain rounds). The convergence
    * check FOLDS into the round's single job: the next frame is a lazy
    * `localCheckpoint` and the changed-count aggregate is the action that
    * materializes it, so the driver sees one counter per round and no
    * second pass. Lineage stays O(1) via the checkpoint; the staged edges
    * belong to a scope of the call's own, released when it returns or
    * throws (non-convergence).
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 25,
      jumpAfter: Int = 3): DataFrame = Staging.scoped {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .stagePersist()
    // seed labels with the first propagation fused in (min over self and
    // direct neighbors) — initial comp(id)=id makes round 1 a plain groupBy
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__m"))
      .select(col("id"), least(col("id"), col("__m")).as("comp"))
      .localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      // fused round: each edge forwards comp(src) to dst (edges are
      // bidirectional, so neighbor minima flow both ways) and the union
      // with the self rows min-aggregates — ONE shuffle join + ONE
      // partial-aggregating groupBy. The self row doubles as the
      // old-label carrier for the convergence counter; every node has
      // exactly one (labels are seeded from both edge endpoints).
      val msgs = edges
        .join(labels.select(col("id").as("src_id"), col("comp")),
          col("src") === col("src_id"))
        .select(col("dst").as("id"), col("comp").as("cand"),
          // typed to the actual label column so non-long id types don't
          // get widened (or rejected) by the union
          lit(null).cast(labels.schema("comp").dataType).as("self_comp"))
      val self = labels.select(col("id"), col("comp").as("cand"),
        col("comp").as("self_comp"))
      val stepped = msgs.union(self).groupBy("id")
        .agg(min(col("cand")).as("comp"), min(col("self_comp")).as("old_comp"))
      // pointer jump (comp := comp(comp)) halves label paths, but its
      // node-sized self-join is pure overhead on the near-clique graphs
      // dup clusters actually form (done in 2-3 plain rounds) — engage it
      // only once plain propagation has had `jumpAfter` rounds, after
      // which chain-shaped graphs still converge in O(log diameter). The
      // checkpoint lets the join read `stepped` once instead of
      // recomputing the whole round's lineage per side.
      val next0 =
        if (i < jumpAfter) stepped
        else {
          val s = stepped.localCheckpoint(eager = false)
          val byId = s.select(col("id").as("j_id"), col("comp").as("j_comp"))
          s.join(byId, s("comp") === col("j_id"), "left")
            .select(s("id"), s("old_comp"),
              least(s("comp"), coalesce(col("j_comp"), s("comp"))).as("comp"))
        }
      val next = next0.localCheckpoint(eager = false)
      // the ONE action of the round: materializes the checkpoint and
      // computes the convergence counter in the same pass
      changed = next.agg(count(when(col("comp") =!= col("old_comp"), 1)))
        .collect()(0).getLong(0)
      labels = next.select("id", "comp")
      i += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Corpus-level repeated-window removal — the substring-dedup step of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better") at token-window granularity: every token covered by a
    * w-token window whose text occurs ≥2 times anywhere in the corpus
    * (including twice inside one document) is dropped; the cleaned text
    * and removed-token count come back per document.
    *
    * Scale shape: windows explode map-side to (id, pos, 64-bit digest);
    * the global occurrence count and the join-back both shuffle 8-byte
    * digests + ints, never window text; covered start positions aggregate
    * per document (bounded by the document's own token count). The final
    * keep-filter is a per-row lambda over the staged token attribute.
    * Digest collisions can only remove a genuinely-unique window
    * (P ≈ windows²/2⁶⁴ corpus-wide — negligible), never corrupt text.
    */
  def removeRepeatedWindows(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 10): DataFrame = {
    val toksDf = Staging.widen(docs)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .stagePersist()
    val wins = toksDf
      .select(col("id"),
        posexplode(ngramsFromTokens(col("toks"), w)).as(Seq("pos", "win")))
      .select(col("id"), col("pos"), xxhash64(col("win")).as("h"))
    // Occurrence count via partial-aggregating groupBy + hash join-back —
    // NOT count().over(Window.partitionBy(h)): the window form saves one
    // shuffle but buffers each digest's whole partition, and a boilerplate
    // window repeated millions of times (the dup-heavy corpora this
    // operator exists for) becomes a single spilling straggler task. The
    // join streams hot keys against the tiny dup table instead; the second
    // wins evaluation is a map-side explode over the persisted tokens.
    val dup = wins.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val covered = wins.join(dup, "h")
      .groupBy("id").agg(array_sort(collect_set(col("pos"))).as("starts"))
    val joined = toksDf.join(covered, Seq("id"), "left")
    // Merge the sorted starts into disjoint covered INTERVALS (a start s
    // covers [s, s+w)), then rebuild the kept tokens as the slices between
    // intervals. A per-token `exists(starts, …)` scan would be
    // O(tokens × starts) — quadratic for exactly the looping documents this
    // operator targets (a doc that is one repeated phrase has ~every
    // position in `starts`); the merged-interval form collapses that case
    // to ONE interval and costs O(starts + tokens) per row.
    val intervals = aggregate(col("starts"),
      array().cast("array<struct<lo:int,hi:int>>"),
      (acc, s) => {
        val newIv = array(struct(s.as("lo"), (s + lit(w - 1)).as("hi")))
        // the empty-acc case branches FIRST so no path can evaluate
        // element_at on an empty array (ANSI INVALID_ARRAY_INDEX) —
        // guarding via `size(acc) > 0 && …` worked only through And's
        // short-circuit, which a refactor could silently drop
        when(size(acc) === 0, newIv).otherwise {
          val last = element_at(acc, -1)
          when(s <= last.getField("hi") + 1,
            concat(slice(acc, lit(1), size(acc) - 1),
              array(struct(last.getField("lo").as("lo"),
                greatest(last.getField("hi"), s + lit(w - 1)).as("hi")))))
            .otherwise(concat(acc, newIv))
        }
      })
    // gap k spans [prev_hi+1, next_lo): slice bounds from the interval list
    val gapLo = concat(array(lit(0)), transform(intervals, iv => iv.getField("hi") + 1))
    val gapHi = concat(transform(intervals, iv => iv.getField("lo")),
      array(size(col("toks"))))
    val kept = when(col("starts").isNull, col("toks")).otherwise(
      flatten(zip_with(gapLo, gapHi, (lo, hi) =>
        slice(col("toks"), lo + 1, greatest(hi - lo, lit(0))))))
    joined.select(col("id").as(idCol),
      concat_ws(" ", kept).as("clean"),
      (size(col("toks")) - size(kept)).cast("long").as("n_removed"))
  }

  /** C4-style duplicate-segment removal with a CANONICAL SURVIVOR (Raffel
    * et al. 2020 §2.2: "discard all but one of any three-sentence span
    * occurring more than once", generalized to disjoint token windows —
    * this corpus is unpunctuated): the corpus keeps exactly ONE copy of
    * every repeated w-token segment, the occurrence with the smallest
    * (document, position), where [[removeRepeatedWindows]] drops repeated
    * content EVERYWHERE (the Lee-2022 semantics). Use this form when the
    * content itself must survive once — licence headers, quoted passages,
    * boilerplate whose first occurrence is legitimate.
    *
    * Segments are the disjoint `chunkByTokens(w, stride = w)` grid, so
    * "keep first" is well defined (sliding windows overlap; dropping one
    * occurrence of an overlapping window tears tokens shared with its
    * survivors). Segment identity is the rolling-hash fingerprint of the
    * canonical segment text (single-spaced lower-cased tokens) — the
    * DuckDB oracle replays the identical byte fold, so a digest collision
    * changes BOTH engines the same way instead of flapping the gate.
    *
    * Scale shape: the grid is projected to (id, chunk_id, digest) as it
    * explodes, so segment TEXT never leaves its map task — the winner
    * table is a partial-aggregating groupBy over the 8-byte digest
    * carrying one 12-byte min-struct per DISTINCT segment, the join-back
    * and the per-doc keep summary shuffle fixed-width ids/positions only
    * (the [[removeRepeatedWindows]] join-vs-window rationale applies
    * unchanged: a boilerplate segment repeated millions of times is one
    * GROUP BY row, not one window-buffered straggler partition), and the
    * cleaned text is rebuilt map-side from each document's OWN tokens
    * after the doc-keyed summary join — the single exchange that carries
    * text, the same one-corpus-shuffle cost as exact dedup.
    */
  def dedupSegmentsKeepFirst(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 10): DataFrame = {
    val base = Staging.widen(docs)
    dedupSegmentsKeepFirstFromGrid(base, idCol, textCol, w,
      graft.operators.TextAnalysis
        .chunkByTokens(base, idCol, textCol, window = w, stride = w)
        .select(col(idCol).as("id"), col("chunk_id"),
          graft.functions.VectorFunctions.fingerprint64(col("chunk_text")).as("fp"))
        .stagePersist())
  }

  /** [[dedupSegmentsKeepFirst]] over a prebuilt fingerprinted segment
    * grid — the From-pattern seam that lets a composed pipeline (q_curate)
    * chunk + fingerprint the corpus ONCE and share the staged grid with
    * the triage stage. `grid` must carry (id, chunk_id, fp) rows of the
    * SAME (w, stride = w) grid over exactly `docs` — winners are a
    * corpus-wide min, so a grid covering MORE documents than `docs` would
    * let an outside occurrence steal a survivor's win (the caller filters
    * the shared grid to the surviving ids first).
    */
  def dedupSegmentsKeepFirstFromGrid(docs: DataFrame, idCol: String,
      textCol: String, w: Int, grid: DataFrame): DataFrame = {
    val base = docs
    val winners = grid.groupBy("fp")
      .agg(min(struct(col("id"), col("chunk_id"))).as("first"))
    // collect_list drops the nulls of the un-kept branch; sorted, the
    // kept positions are the document's own order, independent of
    // partition/merge order
    val perDoc = grid.join(winners, Seq("fp"))
      .withColumn("kept",
        col("first.id") === col("id") && col("first.chunk_id") === col("chunk_id"))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_seg"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(when(col("kept"), col("chunk_id"))))
          .as("kept_ids"))
    base
      .select(col(idCol).as("id"),
        filter(tokens(col(textCol)), t => t =!= "").as("_t"))
      .join(perDoc, Seq("id"))
      .select(col("id").as(idCol), col("n_seg"), col("n_kept"),
        array_join(transform(col("kept_ids"), ci =>
          array_join(slice(col("_t"), (ci * w + 1L).cast("int"), lit(w)), " ")),
          " ").as("clean"))
  }

  /** Cluster assignment for EVERY document: near-dup pairs (exact n-gram
    * Jaccard) → connected components → (id, cluster) with singletons
    * mapping to themselves. `keep = (id == cluster)` is the dedup keep-list
    * (the min-id representative per cluster).
    */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.2, minCommon: Int = 2,
      maxDf: Option[Int] = None): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, n, threshold, minCommon, maxDf)
    val cc = connectedComponents(pairs)
    docs.select(col(idCol))
      .join(cc, docs(idCol) === cc("id"), "left")
      .select(docs(idCol), coalesce(col("comp"), docs(idCol)).as("cluster"))
      .withColumn("keep", col(idCol) === col("cluster"))
  }

  /** Representative (keep-best) selection over a cluster assignment:
    * one row per cluster keeping the member with the HIGHEST quality
    * (ties → lowest id) — the production dedup policy when members are
    * not byte-identical ("keep the longest / cleanest copy"), versus
    * [[nearDupClusters]]'s positional min-id `keep` flag. `clustered`
    * carries (idCol, cluster, qualityCol); any monotone score works
    * (n_chars, a quality model output, ...).
    *
    * Scale shape: ONE partial-aggregating groupBy on the cluster id —
    * `max_by` reduces map-side, so the shuffle carries one candidate row
    * per (partition, cluster), never the membership. No window, no sort.
    */
  def clusterRepresentatives(clustered: DataFrame, idCol: String,
      qualityCol: String): DataFrame =
    clustered.groupBy("cluster").agg(
      max_by(col(idCol), struct(col(qualityCol), -col(idCol))).as("keep_id"),
      max(col(qualityCol)).as("keep_quality"),
      count(lit(1)).as("n_members"))

  /** Exact n-gram Jaccard near-dup pairs (the brute-exact baseline the
    * sketch variants approximate; exact to within a ~2⁻⁶⁴ digest-collision
    * term — see the inline note). Inverted-index join on the shingles'
    * 64-bit digests: ONE 8-byte-keyed shuffle + a partial-aggregating
    * groupBy — the minimal-shuffle shape when shingle frequencies are
    * benign (measured: the prefix-filtered variant's extra df-join and
    * per-doc window cost 5× more here). When a corpus has stop-shingles
    * (Σ df² blowup), switch to [[ngramJaccardPairsPrefix]] — same output,
    * pruned candidates, string-keyed (strictly exact) — or cap lossily
    * with `maxDf`.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.2, minCommon: Int = 2,
      maxDf: Option[Int] = None): DataFrame =
    ngramJaccardPairsFrom(shingleFrame(docs, idCol, textCol, n),
      threshold, minCommon, maxDf)
      .select("id_a", "id_b", "jaccard")

  /** [[ngramJaccardPairs]] over a prebuilt [[shingleFrame]], keeping the
    * `common` overlap count in the output — the gate queries share one
    * staged shingle frame between this exact twin and the sketch under
    * test, and derive both the minCommon≥2 and the ≥1 pair sets from one
    * inverted-index pass.
    *
    * EXACT-DUPLICATE COLLAPSE (r13): a dedup operator's input is, by the
    * operator's own premise, dup-heavy — and every group of documents with
    * IDENTICAL shingle sets multiplies the inverted index's in-bucket pair
    * work by m² while contributing pairs whose (common, na, nb) are all
    * equal to the representative's. When a cheap one-pass probe (HLL over
    * a per-doc set digest — estimate only, correctness never rides it)
    * finds ≥ 25 % duplicate-set mass, pair generation runs over ONE
    * representative per distinct set (grouped by the sorted shingle-digest
    * ARRAY, so group identity adds no new collision class beyond the
    * per-shingle hashing the verify already accepts) and the result
    * expands back: cross-group member pairs inherit the rep pair's exact
    * (jaccard, common), intra-group pairs are the C(m,2) identical-set
    * pairs (jaccard ≡ n/n = 1.0, common = n_sh) that the direct join
    * would have emitted — output-identical by construction (spec-pinned),
    * pair work collapses from Σ(m·df)² to Σdf² over distinct sets
    * (measured at the 10×-replicated sf1 fixture: OPTIMIZATION_r13.md).
    * Benign corpora pay one cached-frame aggregate and keep the direct
    * path. The lossy `maxDf` tier never
    * collapses: the cap prices shingles by DOC frequency, which the
    * collapse would redefine (and so change the capped output).
    *
    * `dupCollapse`: None = probe (production default); Some(true/false)
    * forces the path — the spec's A/B hook, also handy for isolating the
    * collapse in a bench.
    *
    * INPUT CONTRACT: `sh` must carry DISTINCT shingle sets per row
    * ([[shingleFrame]] / [[shinglesFromTokens]] output — `array_distinct`
    * applied). A multiset `sh` (raw [[ngramsFromTokens]]) would make the
    * collapsed intra-pair `common = n_sh` overcount vs the direct join's
    * distinct-posting count. Every current caller goes through
    * [[shingleFrame]]; a new caller bypassing it owns this contract.
    */
  def ngramJaccardPairsFrom(sh: DataFrame,
      threshold: Double = 0.2, minCommon: Int = 2,
      maxDf: Option[Int] = None,
      dupCollapse: Option[Boolean] = None): DataFrame = {
    val collapse = maxDf.isEmpty &&
      dupCollapse.getOrElse(heavyDupSetMass(sh))
    if (collapse) dupCollapsedPairs(sh, threshold, minCommon)
    else invertedIndexPairs(sh, threshold, minCommon, maxDf)
  }

  /** One-pass probe: does the corpus carry ≥ 25 % duplicate-shingle-set
    * mass? Partial-aggregated HLL over a 64-bit set digest — the estimate
    * gates a PLAN choice only (both plans are output-identical), so the
    * sketch's ±5 % rsd and the digest's collision term are harmless.
    *
    * Two r14 cost fixes (the r13 probe taxed every caller — both full
    * suites measured the dedup family 0.61-0.76×):
    *   - the probe digest is `xxhash64(sh)` over the RAW array — one
    *     codegen'd hash traversal per row instead of the interpreted
    *     per-shingle `transform` + `array_sort` the exact group key needs.
    *     Order-sensitive, so a reordered-but-equal set counts as distinct
    *     HERE (the estimate errs toward the direct path — harmless; real
    *     clone groups are byte-identical texts and hash equal), while
    *     [[dupCollapsedPairs]] keeps the exact sorted key;
    *   - the decision memoizes on the frame's canonicalized plan in the
    *     current staging scope ([[Staging.probe]]) and is released with
    *     that scope's frames: the gate queries probe the SAME staged
    *     shingle frame several times per query (twin pair sets, warm +
    *     measured bench runs in one harness scope), and a memo hit costs
    *     zero jobs. Same-canonical-plan ⇒ same source data within one
    *     scope, and even a stale hit could only pick the other
    *     output-identical plan.
    */
  private def heavyDupSetMass(sh: DataFrame): Boolean =
    Staging.probe(sh) {
      val r = sh.agg(count(lit(1)).as("n"),
        approx_count_distinct(xxhash64(col("sh"))).as("d")).head()
      val n = r.getLong(0)
      n > 0L && r.getLong(1).toDouble / n <= 0.75
    }

  /** The sorted per-document shingle-DIGEST array — identical shingle
    * sets (in any order; `sh` is first-occurrence-ordered) produce equal
    * arrays. The exact group key of [[dupCollapsedPairs]] (the PROBE uses
    * the cheaper order-sensitive raw-array hash — see above).
    */
  private def sortedSetKey: Column =
    array_sort(transform(col("sh"), s => xxhash64(s)))

  /** Pair generation over distinct-set representatives + exact expansion
    * (see [[ngramJaccardPairsFrom]]). Every frame here carries ids,
    * counts, and digest arrays — the same byte classes the verify join
    * already ships; nothing text-sized shuffles.
    */
  private def dupCollapsedPairs(sh: DataFrame, threshold: Double,
      minCommon: Int): DataFrame = {
    val keyed = sh
      .select(col("id"), col("sh"), col("n_sh"), sortedSetKey.as("_set"))
      .stagePersist()
    // one row per distinct set: min-id representative, member count, set
    // size (max = any; members are identical by construction)
    val groups = keyed.groupBy(col("_set"))
      .agg(min(col("id")).as("rid"), count(lit(1)).as("m"),
        max(col("n_sh")).as("g_nsh"))
    val mem = keyed.select(col("_set"), col("id"))
      .join(groups, Seq("_set"))
      .select(col("rid"), col("id"), col("m"), col("g_nsh"))
      .stagePersist()
    val reps = keyed
      .join(mem.filter(col("id") === col("rid")).select(col("id")),
        Seq("id"), "left_semi")
      .select(col("id"), col("sh"), col("n_sh"))
    val repPairs = invertedIndexPairs(reps, threshold, minCommon, None)
    // cross-group: member pairs inherit the rep pair's exact numbers
    // (identical sets ⇒ identical common/na/nb ⇒ bit-identical jaccard)
    val cross = repPairs
      .join(mem.select(col("rid").as("id_a"), col("id").as("a")), Seq("id_a"))
      .join(mem.select(col("rid").as("id_b"), col("id").as("b")), Seq("id_b"))
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"),
        col("jaccard"), col("common"))
    // intra-group: identical non-empty sets pair at jaccard n/n (= 1.0,
    // written as the direct path's division for bit-identity). The ≥1
    // floor mirrors the direct path, where a shared posting must exist
    // for a pair to appear at all (empty sets can never pair).
    val iMin = math.max(minCommon, 1)
    val ia = mem.filter(col("m") >= 2)
      .select(col("rid"), col("id").as("id_a"), col("g_nsh"))
    val ib = mem.filter(col("m") >= 2)
      .select(col("rid").as("rid_r"), col("id").as("id_b"))
    val iCommon = col("g_nsh").cast("long")
    val intra = ia
      .join(ib, col("rid") === col("rid_r") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (iCommon.cast("double") /
          (col("g_nsh") + col("g_nsh") - iCommon).cast("double")).as("jaccard"),
        iCommon.as("common"))
      .filter(col("common") >= iMin)
      .filter(col("jaccard") >= threshold)
    cross.unionByName(intra)
  }

  /** The direct inverted-index construction (the pre-r13 body of
    * [[ngramJaccardPairsFrom]] — which see for the scale rationale).
    */
  private def invertedIndexPairs(sh: DataFrame,
      threshold: Double, minCommon: Int,
      maxDf: Option[Int]): DataFrame = {
    // persisted (inside shingleFrame): the inverted index reads the frame
    // twice (both join sides). The join key is the shingle's 64-bit digest,
    // computed map-side before the exchange — the one corpus-sized shuffle
    // carries 8-byte keys, never shingle strings. A cross-shingle collision
    // inside a candidate pair (P ≈ pair_shingles²/2⁶⁴) could inflate a
    // common count by one; at any realistic corpus that is ~10⁻¹⁰-grade —
    // the strictly-exact string-keyed path remains [[ngramJaccardPairsPrefix]].
    val invAll = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("shingle"))
      .select(col("id"), col("n_sh"), xxhash64(col("shingle")).as("sh_h"))
    val inv = maxDf match {
      case Some(cap) =>
        // broadcast the HOT side: over-cap shingles are few by
        // construction (they're the stop-shingle minority being excluded),
        // while the under-cap side IS the vocabulary — broadcasting that
        // would ship the whole token space to every executor
        val hot = invAll.groupBy("sh_h").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("sh_h")
        invAll.join(broadcast(hot), Seq("sh_h"), "left_anti")
      case None => invAll
    }
    val a = inv.select(col("sh_h"), col("id").as("id_a"), col("n_sh").as("na"))
    val b = inv.select(col("sh_h").as("sh_h_r"), col("id").as("id_b"), col("n_sh").as("nb"))
    a.join(b, col("sh_h") === col("sh_h_r") && col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard", "common")
  }

  /** [[ngramJaccardPairs]] with LOSSLESS prefix filtering (Chaudhuri
    * SSJoin / Bayardo all-pairs): under a global (df asc, shingle asc)
    * order, two sets with Jaccard ≥ t MUST share an element among each
    * set's first `n - ⌊t·n⌋ + 1` shingles — the overlap is ≥ ⌈t·n⌉ per
    * side, and the smallest common element can be preceded only by
    * non-shared elements, of which there are ≤ n - ⌈t·n⌉. Indexing ONLY
    * prefixes (the rarest shingles) collapses the Σ df² pair work that
    * stop-shingles cause at corpus scale to Σ df_prefix², with zero missed
    * pairs (⌊⌋ not ⌈⌉ so float rounding can only LENGTHEN a prefix, never
    * lose one — pinned by an OperatorSpec equality test). Costs two extra
    * shuffles (df join + per-doc window), so it wins only when pair work
    * dominates — the 100 TB regime, not the benchmark's uniform corpus.
    */
  def ngramJaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.2, minCommon: Int = 2): DataFrame =
    ngramJaccardPairsPrefixFrom(shingleFrame(docs, idCol, textCol, n),
      threshold, minCommon)

  /** The SSJoin prefix index — the `n − ⌊t·n⌋ + 1` globally-rarest
    * shingles per document, as (shingle, id) postings. PERSISTED in the
    * staging cache: [[ngramJaccardPairsAutoChosen]] probes this exact
    * frame's pair work before choosing the prefix path, and the chosen
    * path's candidate join then reuses the same blocks instead of
    * re-running the df join + per-doc window.
    */
  private def prefixIndexFrom(sh: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inv = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("shingle"))
    val dfs = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df").asc, col("shingle").asc)
    inv.join(dfs, "shingle")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= col("n_sh") - floor(col("n_sh") * lit(threshold)) + 1)
      .select("shingle", "id")
      .stagePersist()
  }

  /** [[ngramJaccardPairsPrefix]] over a prebuilt [[shingleFrame]] (shared
    * with the df probe in [[ngramJaccardPairsAutoChosen]]).
    */
  def ngramJaccardPairsPrefixFrom(sh: DataFrame,
      threshold: Double = 0.2, minCommon: Int = 2): DataFrame = {
    val prefix = prefixIndexFrom(sh, threshold)
    val a = prefix.select(col("shingle"), col("id").as("id_a"))
    val b = prefix.select(col("shingle").as("shingle_r"), col("id").as("id_b"))
    val cand = a
      .join(b, col("shingle") === col("shingle_r") && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a"), col("n_sh").as("na")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b"), col("n_sh").as("nb")), "id_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .filter(col("common") >= minCommon)
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** The chosen pair path plus why — `avgPartners` is Σdf²/Σdf over the
    * shingle document-frequency histogram (the expected join partners per
    * posting, i.e. the plain path's pair-generation blowup); `skew` is
    * Σdf²·D/P² — the ratio of actual pair work to the pair work a UNIFORM
    * df distribution with the same postings P and distinct-shingle count D
    * would cost (≈1 when every shingle is equally common, ≫1 when a hot
    * minority dominates). When `path == "capped"` the result is LOSSY:
    * `cappedDf` is the df ceiling applied and `droppedShingles` /
    * `droppedPostings` say exactly how many distinct shingles / index
    * postings were excluded — the loud audit trail a silent cap would owe.
    */
  final case class NgramPath(pairs: DataFrame, path: String,
      avgPartners: Double, skew: Double, cappedDf: Option[Int] = None,
      droppedShingles: Long = 0L, droppedPostings: Long = 0L)

  /** Exact n-gram Jaccard pairs with AUTOMATIC path selection: probe the
    * shingle df histogram (one digest-keyed partial-aggregating pass over
    * the postings — the same pass the plain path's dup-count shape costs)
    * and pick the plain inverted index when frequencies are benign, or the
    * lossless SSJoin prefix filter when a HOT MINORITY of stop-shingles
    * makes Σ df² dominate. Both paths produce the identical pair set
    * (OperatorSpec pins the equality), so the switch changes cost, never
    * output. The SCALE.md Σdf² analysis previously required the CALLER to
    * know their corpus was boilerplate-heavy; this folds that judgment
    * into the operator.
    *
    * Two conditions must BOTH hold to flip (measured on the scale
    * fixtures — an avg-partners trigger alone chose prefix on a corpus
    * that killed it):
    *  - `avgPartners > hotFactor`: the plain join would emit more than
    *    hotFactor rows per posting, so pair work dominates everything
    *    else (default 32; benign corpora stay on the plain path, where
    *    prefix's extra df-join + per-doc window cost ~5× more).
    *  - `skew > skewFactor`: the blowup is driven by a df-skewed MINORITY
    *    that per-doc prefixes can actually exclude. A SATURATED shingle
    *    space (tiny vocabulary, df uniformly high → skew ≈ 1) defeats
    *    prefix selection — every prefix is as hot as the corpus — and the
    *    prefix path's array verify join then materializes shingle arrays
    *    for ~Σdf_prefix² candidate pairs (measured: spilled a 79 GB disk
    *    at 50k docs), while the plain path's digest groupBy degrades
    *    gracefully. Uniform saturation stays on the plain path; truly
    *    intractable corpora need the lossy `maxDf` cap or MinHash.
    *
    * Prefix pruning is threshold-sensitive: the prefix keeps the
    * ⌈(1−t)·n⌉+1 RAREST shingles per doc, so hot shingles only fall out
    * of the index when the boilerplate block is shorter than t·n of the
    * document — at very low thresholds even a flipped corpus keeps some
    * hot shingles in-prefix, and the prefix verify join (which
    * materializes shingle ARRAYS per candidate) explodes exactly where
    * it was chosen to help. The selector therefore MEASURES instead of
    * guessing: when the df stats nominate prefix, it builds the actual
    * prefix index (staged — the chosen path reuses the blocks) and
    * probes THAT frame's Σdf². A THIRD tier backstops the cases where no
    * exact path is tractable — prefix's own pair work over budget, or a
    * non-skewed corpus whose plain-path pair work exceeds `capFactor`
    * partners per posting: the operator degrades EXPLICITLY to the lossy
    * df cap (`maxDf`), where the df HISTOGRAM (one more aggregate over
    * the probe's own groupBy, collected at ≤ max-df rows) picks the
    * largest cap whose residual Σdf² fits capFactor·P, and the result
    * reports the cap and the exact dropped-shingle/posting counts.
    * Capped semantics: pairs whose overlap lives in dropped stop-shingles
    * can be missed (Jaccard is computed against FULL set sizes, so
    * reported values are never inflated) — the same trade `maxDf` callers
    * opt into by hand, now chosen by measurement and reported loudly.
    * Uniform-SATURATED corpora past capFactor have no useful exact or
    * capped tier (every shingle is equally hot, so the cap drops them
    * all); the report's dropped counts say so, and MinHash remains the
    * designed alternative.
    */
  def ngramJaccardPairsAutoChosen(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.2, minCommon: Int = 2,
      hotFactor: Double = 32.0, skewFactor: Double = 4.0,
      capFactor: Double = 256.0): NgramPath = {
    val sh = shingleFrame(docs, idCol, textCol, n)
    val dfs = sh.select(explode(col("sh")).as("s"))
      .select(xxhash64(col("s")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
    val stats = dfs
      .agg(sum(col("df").cast("double") * col("df")).as("df2"),
        sum(col("df")).as("p"), count(lit(1)).as("d"))
      .collect()(0)
    val df2 = if (stats.isNullAt(0)) 0.0 else stats.getDouble(0)
    val postings = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val distinct = if (stats.isNullAt(2)) 0L else stats.getLong(2)
    val avgPartners = if (postings == 0L) 0.0 else df2 / postings
    val skew =
      if (postings == 0L) 0.0
      else df2 * distinct / (postings.toDouble * postings.toDouble)
    val budget = capFactor * postings

    def capped(): NgramPath = {
      // pick the largest df cap whose residual pair work fits the budget.
      // The histogram is tiny (one row per distinct df value ≤ max df) —
      // the driver-side scan is exact.
      val hist = dfs.groupBy("df").agg(count(lit(1)).as("nsh"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      var acc = 0.0
      var cap = 2L // df=1 shingles generate no pairs; 2 is the lossless floor
      hist.foreach { case (d, nsh) =>
        acc += d.toDouble * d * nsh
        if (acc <= budget && d > cap) cap = d
      }
      val (droppedSh, droppedPost) = hist.filter(_._1 > cap)
        .foldLeft((0L, 0L)) { case ((s, p), (d, nsh)) => (s + nsh, p + d * nsh) }
      NgramPath(ngramJaccardPairsFrom(sh, threshold, minCommon, Some(cap.toInt))
        .select("id_a", "id_b", "jaccard"), "capped", avgPartners, skew,
        Some(cap.toInt), droppedSh, droppedPost)
    }

    if (avgPartners <= hotFactor)
      NgramPath(ngramJaccardPairsFrom(sh, threshold, minCommon, None)
        .select("id_a", "id_b", "jaccard"), "inverted", avgPartners, skew)
    else if (skew > skewFactor) {
      // prefix nominated — probe the REAL prefix index's pair work (the
      // staged frame is reused by the chosen path, so the probe's heavy
      // lifting is not thrown away)
      val pref = prefixIndexFrom(sh, threshold)
      val prow = pref.groupBy("shingle").agg(count(lit(1)).as("df"))
        .agg(sum(col("df").cast("double") * col("df")).as("df2p"))
        .collect()(0)
      val df2p = if (prow.isNullAt(0)) 0.0 else prow.getDouble(0)
      if (df2p <= budget)
        NgramPath(ngramJaccardPairsPrefixFrom(sh, threshold, minCommon),
          "prefix", avgPartners, skew)
      else capped()
    } else if (avgPartners > capFactor) capped()
    else
      // hot but uniform (saturated shingle space): prefix can't exclude
      // anything and the plain digest groupBy degrades gracefully
      NgramPath(ngramJaccardPairsFrom(sh, threshold, minCommon, None)
        .select("id_a", "id_b", "jaccard"), "inverted", avgPartners, skew)
  }

  /** [[ngramJaccardPairsAutoChosen]] for callers that only want the pairs. */
  def ngramJaccardPairsAuto(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.2, minCommon: Int = 2,
      hotFactor: Double = 32.0, skewFactor: Double = 4.0): DataFrame =
    ngramJaccardPairsAutoChosen(docs, idCol, textCol, n, threshold,
      minCommon, hotFactor, skewFactor).pairs
}

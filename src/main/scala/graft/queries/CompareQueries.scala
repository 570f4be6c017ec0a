package graft.queries

import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators.CorpusCompare

/** Corpus-vs-corpus comparison keys (operators/CorpusCompare.scala): token
  * distribution drift between two corpora (direct, and at monitoring
  * cadence against a persisted gram-count index), content-overlap
  * measurement with a gated sample estimator, DSIR-style importance-
  * weighted data selection, embedding-distribution drift (occupancy
  * histograms + per-dimension moment z-scores), and the NFC text
  * canonicalization those content identities depend on. The monitoring /
  * curation layer a pipeline runs on every new crawl BEFORE committing it
  * to training; no reference analogue (upstream stops at relational
  * navigation).
  *
  * All eight keys are exactly SQL-expressible under the engine's
  * determinism rule (quantized IEEE-division sums, correctly-rounded ops
  * only — sqrt yes, log no), so each gets a full-hash DuckDB oracle; the
  * one sketch (the mod-sampled overlap estimator) rides as a gate bit
  * inside `q_corpus_overlap`.
  */
object CompareQueries extends QueryModule {

  def queries: Map[String, Q] = Map(

    // Token-distribution drift report: the 20 grams whose occurrence RATE
    // moved most between the English and German slices — the "what
    // changed between crawls" diagnostic (here the two slices differ by
    // language, so the top drifters are the language marker words).
    "q_drift" -> { (s, dir) =>
      val t = new Tables(s, dir)
      CorpusCompare.driftByGram(
        t.documents.filter(col("lang") === "en"),
        t.documents.filter(col("lang") === "de"),
        col("text"), k = 20)
    },

    // One-row drift summary: vocabulary sizes, shared types, total
    // variation distance, triangular discrimination (the log-free
    // f-divergence — KL would hang cross-engine equality on libm ulps).
    "q_drift_summary" -> { (s, dir) =>
      val t = new Tables(s, dir)
      CorpusCompare.driftSummary(
        t.documents.filter(col("lang") === "en"),
        t.documents.filter(col("lang") === "de"),
        col("text"))
    },

    // QUALITY-distribution drift: the odd-id slice replays as a degraded
    // "next crawl" (texts truncated to 100 chars — the scraper-change
    // failure mode), so the score histogram shifts while the vocabulary
    // barely moves. Buckets = floor(score·20); shared TVD/tri summary.
    "q_drift_quality" -> { (s, dir) =>
      val t = new Tables(s, dir)
      CorpusCompare.qualityDrift(
        t.documents.filter(col("doc_id") % 2 === 0),
        t.documents.filter(col("doc_id") % 2 === 1)
          .withColumn("text", substring(col("text"), 1, 100)),
        col("text"))
    },

    // Content overlap between the current corpus and a synthetic "next
    // crawl" (every 3rd document re-crawled byte-identical; every 5th
    // re-crawled with an edit, so its content digest moves; every 7th —
    // planted with a composed-é marker on the A side — re-crawled through
    // a DIFFERENT ENCODER, i.e. the decomposed combining-acute form:
    // byte-different, content-identical): exact distinct-digest counts +
    // Jaccard over the CANONICAL identity (the re-encoded slice must
    // count as overlap — raw-byte digests would call it new content),
    // plus the gate bit bounding the mod-4 sampled estimator.
    "q_corpus_overlap" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val a = t.documents.select(col("text"))
        .unionByName(t.documents.filter(col("doc_id") % 7 === 0)
          .select(concat(col("text"), lit(" r\u00e9")).as("text")))
      val b = t.documents.filter(col("doc_id") % 3 === 0)
        .select(col("text"))
        .unionByName(t.documents.filter(col("doc_id") % 5 === 0)
          .select(concat(col("text"), lit(" v2")).as("text")))
        .unionByName(t.documents.filter(col("doc_id") % 7 === 0)
          .select(concat(col("text"), lit(" re\u0301")).as("text")))
      CorpusCompare.corpusOverlap(a, b,
        graft.operators.TextAnalysis.normalizeText(col("text")),
        sampleMod = 4, tol = 0.2)
    },

    // DSIR importance selection: score every document by how much more
    // typical its hashed-bigram features are of the English slice (the
    // "curated target") than of the whole corpus, keep the top 100.
    "q_dsir" -> { (s, dir) =>
      val t = new Tables(s, dir)
      CorpusCompare.dsirSelectWithin(t.documents, "doc_id", col("text"),
        col("lang") === "en", buckets = 4096, k = 100)
    },

    // Embedding-space drift vs a snapshot with a planted upstream bug
    // (half the vectors abs()-transformed — a lost sign bit; abs is exact
    // on floats in any engine, so the fixture carries no rounding risk):
    // sign-pattern occupancy histograms + the quantized TVD/triangular
    // summary. The fixture embeddings are isotropic, so NATURAL slices
    // (labels, parity) are indistinguishable by construction — drift
    // must be planted to be detectable, which is also what makes the
    // key's expected values stable. signDims=6 sizes the 64-bucket
    // histogram to the gate corpus (the 16-bit default assumes ≥1e8
    // vectors; occupancy ≫ 1 is the noise rule).
    "q_drift_embed" -> { (s, dir) =>
      val t = new Tables(s, dir)
      CorpusCompare.embeddingDriftSummary(
        t.embeddings, absHalf(t.embeddings), col("embedding"), signDims = 6)
    },

    // Per-dimension moment drift on the same planted fixture: the
    // abs-half corpus moves every dimension's mean by ~E|x|/2, so the
    // Welch z-scores flag all 64 dimensions — the location/scale
    // detector the occupancy histogram complements.
    "q_drift_embed_moments" -> { (s, dir) =>
      val t = new Tables(s, dir)
      CorpusCompare.embeddingMomentDrift(
        t.embeddings, absHalf(t.embeddings), col("embedding"))
    },

    // Drift at monitoring cadence: the historical corpus lives in a
    // persisted gram-count index (built in TWO batches — build + append —
    // so the merge-on-read sum is itself under the hash), and the check
    // reads the vocabulary-sized store instead of re-tokenizing history.
    // Oracle = the monolithic drift summary over the same corpora, so the
    // hash proves index route == direct route exactly.
    "q_drift_incremental" -> { (s, dir) =>
      val t = new Tables(s, dir)
      val idx = SessionScratch.cached("gramidx", dir) { p =>
        CorpusCompare.buildGramIndex(
          t.documents.filter(col("doc_id") % 2 === 0), col("text"), p)
        CorpusCompare.appendToGramIndex(
          t.documents.filter(col("doc_id") % 2 =!= 0), col("text"), p)
      }
      CorpusCompare.driftSummaryAgainstIndex(s, idx,
        t.documents.filter(col("lang") === "en"), col("text"))
    },

    // Text canonicalization: Unicode NFC (native kernel) + whitespace
    // collapse + trim, over text with planted non-NFC content (a
    // combining acute after 'cafe' — exactly the decomposed form a
    // different encoder pipeline would emit) and planted tab/multi-space
    // runs. Output is the normalized STRING, so the hash proves the
    // JDK's NFC equals DuckDB's byte-for-byte on this corpus.
    "q_normalize" -> { (s, dir) =>
      val t = new Tables(s, dir)
      t.documents.select(col("doc_id"),
        graft.operators.TextAnalysis.normalizeText(
          concat(col("text"), lit("  cafe\u0301\tx"))).as("norm"))
        .orderBy("doc_id")
    }
  )

  /** The planted-drift snapshot: even vec_ids unchanged, odd vec_ids
    * abs()-transformed (sign bit cleared — bit-exact in both engines).
    */
  private def absHalf(e: org.apache.spark.sql.DataFrame) =
    e.filter(col("vec_id") % 2 === 0).select(col("embedding"))
      .unionByName(e.filter(col("vec_id") % 2 === 1)
        .select(transform(col("embedding"), x => abs(x)).as("embedding")))

  /** The canonicalizer over an arbitrary SQL expression — the oracle twin
    * of `TextAnalysis.normalizeText` (NFC + explicit whitespace class).
    */
  private def normOf(expr: String): String =
    // concatenation, not s-interpolation: the interpolator processes
    // escapes even in triple quotes, and \x is not a Scala escape
    "trim(regexp_replace(nfc_normalize(" + expr + "), '" +
      """[ \t\n\x0B\f\r]+""" + "', ' ', 'g'))"

  /** The rolling-hash fingerprint fold over an arbitrary SQL expression
    * (PipelineQueries.fpSql generalized from the `text` column).
    */
  private def fpOf(expr: String): String =
    s"""list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(list_filter(string_split($expr, ''), c -> c <> ''),
             c -> CAST(ascii(c) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % 1000000007)"""

  /** Sign-pattern bucket over the first 6 embedding dimensions, the
    * oracle twin of `CorpusCompare.signBucket` at the gate key's width
    * (−0.0 ≥ 0 and NULL→0 agree across engines; see the operator KDoc).
    */
  private val signBucketSql =
    """CAST(list_sum(list_transform(range(1, 7),
         i -> CASE WHEN embedding[i] >= 0
                THEN (CAST(1 AS BIGINT) << (i - 1))
                ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"""

  /** The planted-drift snapshot twin: abs is exact on floats. */
  private val absHalfSql =
    """SELECT embedding FROM embeddings WHERE vec_id % 2 = 0
       UNION ALL
       SELECT list_transform(embedding, x -> abs(x)) AS embedding
       FROM embeddings WHERE vec_id % 2 = 1"""

  /** The shared one-row drift summary over a `q`-named quantified CTE. */
  private val summarySelect =
    """SELECT
         CAST(sum(CASE WHEN n_a > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types_a,
         CAST(sum(CASE WHEN n_b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types_b,
         CAST(sum(CASE WHEN n_a > 0 AND n_b > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_types_common,
         CAST(sum(drift_q) AS DOUBLE) / 2e9 AS tvd,
         CAST(sum(tri_q) AS DOUBLE) / 1e9 AS tri
       FROM q"""

  private def driftJoinedSql(whereA: String, whereB: String) =
    s"""WITH a AS (
         SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS gram
         FROM documents WHERE $whereA),
       ca AS (
         SELECT gram, count(*) AS n_a FROM a WHERE gram <> '' GROUP BY gram),
       b AS (
         SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS gram
         FROM documents WHERE $whereB),
       cb AS (
         SELECT gram, count(*) AS n_b FROM b WHERE gram <> '' GROUP BY gram),
       ta AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta FROM ca),
       tb AS (SELECT CAST(sum(n_b) AS BIGINT) AS tb FROM cb),
       j AS (
         SELECT coalesce(ca.gram, cb.gram) AS gram,
           coalesce(ca.n_a, 0) AS n_a, coalesce(cb.n_b, 0) AS n_b
         FROM ca FULL OUTER JOIN cb ON ca.gram = cb.gram),
       q AS (
         SELECT gram, n_a, n_b,
           CAST(floor(abs(CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
             * 1e9) AS BIGINT) AS drift_q,
           CAST(floor(
             (CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
             * (CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
             / (CAST(n_a AS DOUBLE) / ta + CAST(n_b AS DOUBLE) / tb)
             * 1e9) AS BIGINT) AS tri_q
         FROM j CROSS JOIN ta CROSS JOIN tb)"""

  private val driftJoined = driftJoinedSql("lang = 'en'", "lang = 'de'")

  /** The any-language stopword IN-list (the PipelineQueries replay). */
  private val stopInList: String =
    graft.operators.TextAnalysis.markers.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString("(", ", ", ")")

  def oracleSql: Map[String, String] = Map(

    // the proven datacard quality arithmetic per (possibly truncated)
    // doc, bucketed floor(q·20), through the shared drift join/summary
    "q_drift_quality" ->
      s"""WITH d AS (
           SELECT doc_id % 2 AS side,
             CASE WHEN doc_id % 2 = 1 THEN substr(text, 1, 100)
                  ELSE text END AS text
           FROM documents),
         t AS (
           SELECT side, text,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
           FROM d),
         s AS (
           SELECT side, CAST(floor((
             least(CAST(length(text) AS DOUBLE) / 500, 1.0) * 0.4
             + (CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE)
                / greatest(length(text), 1)) * 0.4
             + (CASE WHEN (CAST(len(list_filter(toks, t -> t IN $stopInList)) AS DOUBLE)
                           / greatest(len(toks), 1)) > 0.02
                     THEN 1.0
                     ELSE (CAST(len(list_filter(toks, t -> t IN $stopInList)) AS DOUBLE)
                           / greatest(len(toks), 1)) * 50 END) * 0.2
           ) * 20.0) AS BIGINT) AS bucket FROM t),
         ca AS (SELECT bucket, count(*) AS n_a FROM s WHERE side = 0 GROUP BY bucket),
         cb AS (SELECT bucket, count(*) AS n_b FROM s WHERE side = 1 GROUP BY bucket),
         ta AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta FROM ca),
         tb AS (SELECT CAST(sum(n_b) AS BIGINT) AS tb FROM cb),
         j AS (
           SELECT coalesce(ca.bucket, cb.bucket) AS bucket,
             coalesce(ca.n_a, 0) AS n_a, coalesce(cb.n_b, 0) AS n_b
           FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket),
         q AS (
           SELECT bucket, n_a, n_b,
             CAST(floor(abs(CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
               * 1e9) AS BIGINT) AS drift_q,
             CAST(floor(
               (CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
               * (CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
               / (CAST(n_a AS DOUBLE) / ta + CAST(n_b AS DOUBLE) / tb)
               * 1e9) AS BIGINT) AS tri_q
           FROM j CROSS JOIN ta CROSS JOIN tb)
         $summarySelect""",

    "q_drift" ->
      s"""$driftJoined
         SELECT gram, n_a, n_b, drift_q FROM q
         ORDER BY drift_q DESC, gram LIMIT 20""",

    "q_normalize" ->
      """SELECT doc_id,
           trim(regexp_replace(
             nfc_normalize(text || '  cafe' || chr(769) || chr(9) || 'x'),
             '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
         FROM documents ORDER BY doc_id""",

    "q_drift_summary" ->
      s"""$driftJoined
         $summarySelect""",

    // the monolithic twin of the index route: all documents vs the en
    // slice — hash equality proves index == direct
    "q_drift_incremental" ->
      s"""${driftJoinedSql("1 = 1", "lang = 'en'")}
         $summarySelect""",

    "q_drift_embed" ->
      s"""WITH bsnap AS ($absHalfSql),
         ba AS (
           SELECT $signBucketSql AS bucket FROM embeddings),
         ca AS (SELECT bucket, count(*) AS n_a FROM ba GROUP BY bucket),
         bb AS (
           SELECT $signBucketSql AS bucket FROM bsnap),
         cb AS (SELECT bucket, count(*) AS n_b FROM bb GROUP BY bucket),
         ta AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta FROM ca),
         tb AS (SELECT CAST(sum(n_b) AS BIGINT) AS tb FROM cb),
         j AS (
           SELECT coalesce(ca.n_a, 0) AS n_a, coalesce(cb.n_b, 0) AS n_b
           FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket),
         q AS (
           SELECT n_a, n_b,
             CAST(floor(abs(CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
               * 1e9) AS BIGINT) AS drift_q,
             CAST(floor(
               (CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
               * (CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
               / (CAST(n_a AS DOUBLE) / ta + CAST(n_b AS DOUBLE) / tb)
               * 1e9) AS BIGINT) AS tri_q
           FROM j CROSS JOIN ta CROSS JOIN tb)
         $summarySelect""",

    "q_drift_embed_moments" ->
      s"""WITH bsnap AS ($absHalfSql),
         ea AS (
           SELECT unnest(embedding) AS x,
             generate_subscripts(embedding, 1) - 1 AS dim
           FROM embeddings),
         eb AS (
           SELECT unnest(embedding) AS x,
             generate_subscripts(embedding, 1) - 1 AS dim
           FROM bsnap),
         ma AS (
           SELECT dim, CAST(count(*) AS BIGINT) AS n_a,
             sum(CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS s1a,
             sum(CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e6)
               AS BIGINT)) AS s2a
           FROM ea GROUP BY dim),
         mb AS (
           SELECT dim, CAST(count(*) AS BIGINT) AS n_b,
             sum(CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS s1b,
             sum(CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e6)
               AS BIGINT)) AS s2b
           FROM eb GROUP BY dim),
         z AS (
           SELECT ma.dim, n_a, n_b,
             CAST(s1a AS DOUBLE) / 1e6 / n_a AS mean_a,
             CAST(s1b AS DOUBLE) / 1e6 / n_b AS mean_b,
             greatest(CAST(s2a AS DOUBLE) / 1e6 / n_a
               - (CAST(s1a AS DOUBLE) / 1e6 / n_a)
               * (CAST(s1a AS DOUBLE) / 1e6 / n_a), 0.0) AS v_a,
             greatest(CAST(s2b AS DOUBLE) / 1e6 / n_b
               - (CAST(s1b AS DOUBLE) / 1e6 / n_b)
               * (CAST(s1b AS DOUBLE) / 1e6 / n_b), 0.0) AS v_b
           FROM ma JOIN mb ON ma.dim = mb.dim)
         SELECT dim, n_a, n_b, mean_a, mean_b,
           CASE WHEN sqrt(v_a / n_a + v_b / n_b) = 0.0 THEN CAST(0 AS DOUBLE)
                ELSE (mean_a - mean_b) / sqrt(v_a / n_a + v_b / n_b) END AS z
         FROM z ORDER BY dim""",

    "q_corpus_overlap" ->
      s"""WITH fa AS (
           SELECT DISTINCT fp FROM (
             SELECT ${fpOf(normOf("text"))} AS fp FROM documents
             UNION ALL
             SELECT ${fpOf(normOf("text || ' r' || chr(233)"))} AS fp
             FROM documents WHERE doc_id % 7 = 0)),
         fb AS (
           SELECT DISTINCT fp FROM (
             SELECT ${fpOf(normOf("text"))} AS fp FROM documents
             WHERE doc_id % 3 = 0
             UNION ALL
             SELECT ${fpOf(normOf("text || ' v2'"))} AS fp FROM documents
             WHERE doc_id % 5 = 0
             UNION ALL
             SELECT ${fpOf(normOf("text || ' re' || chr(769)"))} AS fp
             FROM documents WHERE doc_id % 7 = 0)),
         m AS (
           SELECT fa.fp IS NOT NULL AS in_a, fb.fp IS NOT NULL AS in_b
           FROM fa FULL OUTER JOIN fb ON fa.fp = fb.fp),
         c AS (
           SELECT
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_common
           FROM m)
         SELECT n_a, n_b, n_common,
           CASE WHEN n_a + n_b - n_common = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(n_common AS DOUBLE)
                  / CAST(n_a + n_b - n_common AS DOUBLE) END AS jaccard,
           TRUE AS est_ok
         FROM c""",

    "q_dsir" ->
      s"""WITH toks AS (
           SELECT doc_id, lang,
             string_split_regex(trim(lower(text)), '\\s+') AS t
           FROM documents),
         g AS (
           SELECT doc_id, lang, unnest(list_transform(
             range(1, greatest(len(t) - 1, 0) + 1),
             i -> list_aggregate(list_slice(t, i, i + 1), 'string_agg', ' ')))
             AS gram
           FROM toks),
         gb AS (
           SELECT doc_id, lang, ${fpOf("gram")} % 4096 AS bucket FROM g),
         ct AS (
           SELECT bucket, CAST(count(*) AS BIGINT) AS ct FROM gb
           WHERE lang = 'en' GROUP BY bucket),
         cr AS (
           SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM gb
           GROUP BY bucket),
         tt AS (SELECT CAST(sum(ct) AS BIGINT) AS tt FROM ct),
         tr AS (SELECT CAST(sum(cr) AS BIGINT) AS tr FROM cr),
         rates AS (
           SELECT cr.bucket,
             (CAST(coalesce(ct.ct, 0) + 1 AS DOUBLE) / (tt + 4096))
               / (CAST(cr.cr + 1 AS DOUBLE) / (tr + 4096)) AS r
           FROM cr LEFT JOIN ct ON cr.bucket = ct.bucket
           CROSS JOIN tt CROSS JOIN tr),
         db AS (
           SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS kb FROM gb
           GROUP BY doc_id, bucket),
         sc AS (
           SELECT doc_id, CAST(sum(kb) AS BIGINT) AS n_gram,
             CAST(sum(kb * CAST(floor(r * 1e9) AS BIGINT)) AS BIGINT) AS su
           FROM db JOIN rates ON db.bucket = rates.bucket
           GROUP BY doc_id)
         SELECT doc_id, n_gram, CAST(su AS DOUBLE) / n_gram / 1e9 AS score
         FROM sc ORDER BY score DESC, doc_id LIMIT 100"""
  )
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CorpusCompare, IndexMaintenance}

/** Properties of the corpus-comparison operators (CompareQueries) beyond
  * the single-fixture DuckDB hash: identity and disjointness laws for
  * drift and overlap, the sampled-estimator gate, and the DSIR selector's
  * self-consistency (raw == target → every score is exactly 1) and
  * target-recovery behavior.
  */
class CorpusCompareSpec extends AnyFunSuite with StagingScope {

  lazy val spark: SparkSession = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"
  private def docs = new graft.model.Tables(spark, dir).documents

  // ---- drift ----------------------------------------------------------

  test("driftSummary: a corpus has zero drift against itself") {
    val r = CorpusCompare.driftSummary(docs, docs, col("text")).head()
    assert(r.getAs[Double]("tvd") == 0.0)
    assert(r.getAs[Double]("tri") == 0.0)
    assert(r.getAs[Long]("n_types_common") == r.getAs[Long]("n_types_a"))
    assert(r.getAs[Long]("n_types_a") == r.getAs[Long]("n_types_b"))
  }

  test("driftSummary: disjoint-vocabulary corpora have maximal tvd") {
    import spark.implicits._
    val a = Seq("aa bb cc", "aa bb").toDF("text")
    val b = Seq("xx yy", "yy zz").toDF("text")
    val r = CorpusCompare.driftSummary(a, b, col("text")).head()
    assert(r.getAs[Long]("n_types_common") == 0L)
    // Each side contributes Σp = 1 of one-sided mass → tvd = 1 up to the
    // 1e-9 quantization floor.
    assert(math.abs(r.getAs[Double]("tvd") - 1.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("tri") - 2.0) < 1e-6)
  }

  test("qualityDrift: zero on identity; truncation shifts the score histogram") {
    val same = CorpusCompare.qualityDrift(docs, docs, col("text")).head()
    assert(same.getAs[Double]("tvd") == 0.0)
    assert(same.getAs[Double]("tri") == 0.0)
    // the scraper-change failure mode: truncated texts lose length score,
    // so the bucket mass moves even though the vocabulary barely does
    import org.apache.spark.sql.functions.substring
    val truncated = docs.withColumn("text", substring(col("text"), 1, 60))
    val moved = CorpusCompare.qualityDrift(docs, truncated, col("text")).head()
    assert(moved.getAs[Double]("tvd") > 0.1,
      s"truncation should shift the histogram, tvd=${moved.getAs[Double]("tvd")}")
    // bins clamp: a one-bucket comparison still answers
    val one = CorpusCompare.qualityDrift(docs, truncated, col("text"),
      bins = 1).head()
    assert(one.getAs[Long]("n_types_a") >= 1L)
    intercept[IllegalArgumentException] {
      CorpusCompare.qualityDrift(docs, docs, col("text"), bins = 0)
    }
  }

  test("driftByGram en-vs-de surfaces language marker words first") {
    val top = CorpusCompare.driftByGram(
      docs.filter(col("lang") === "en"), docs.filter(col("lang") === "de"),
      col("text"), k = 10).collect().map(_.getAs[String]("gram")).toSet
    val markers = (graft.operators.TextAnalysis.markers("en") ++
      graft.operators.TextAnalysis.markers("de")).toSet
    assert(top.exists(markers.contains),
      s"expected a language marker in top drift grams, got $top")
  }

  test("driftByGram is symmetric in |p - q|") {
    val ab = CorpusCompare.driftByGram(
      docs.filter(col("lang") === "en"), docs.filter(col("lang") === "de"),
      col("text"), k = 10).collect()
    val ba = CorpusCompare.driftByGram(
      docs.filter(col("lang") === "de"), docs.filter(col("lang") === "en"),
      col("text"), k = 10).collect()
    assert(ab.map(r => (r.getString(0), r.getLong(3))).toSeq ==
      ba.map(r => (r.getString(0), r.getLong(3))).toSeq)
  }

  test("embeddingDriftSummary: a vector corpus has zero drift vs itself") {
    val emb = new graft.model.Tables(spark, dir).embeddings
    val r = CorpusCompare.embeddingDriftSummary(emb, emb, col("embedding")).head()
    assert(r.getAs[Double]("tvd") == 0.0)
    assert(r.getAs[Double]("tri") == 0.0)
    assert(r.getAs[Long]("n_types_common") == r.getAs[Long]("n_types_a"))
  }

  test("embeddingDriftSummary: planted sign-loss drifts far above sampling noise") {
    val emb = new graft.model.Tables(spark, dir).embeddings
    def absHalf = emb.filter(col("vec_id") % 2 === 0).select(col("embedding"))
      .unionByName(emb.filter(col("vec_id") % 2 === 1)
        .select(transform(col("embedding"), x => abs(x)).as("embedding")))
    val planted = CorpusCompare.embeddingDriftSummary(
      emb, absHalf, col("embedding"), signDims = 6).head().getAs[Double]("tvd")
    // Noise floor: two disjoint samples of the SAME distribution. (The
    // fixture is isotropic, so natural slices — labels, parity — are
    // indistinguishable by construction; drift must be planted.)
    val parity = CorpusCompare.embeddingDriftSummary(
      emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1),
      col("embedding"), signDims = 6).head().getAs[Double]("tvd")
    // Half the snapshot collapses to the all-signs-positive bucket:
    // structural tvd ≈ 0.5·(1 − 1/64) ≈ 0.49 ≫ the ~0.15 parity noise.
    assert(planted > parity + 0.15,
      s"expected planted drift ≫ parity noise, got $planted vs $parity")
  }

  test("embeddingMomentDrift: identical corpora give z = 0 on every dim") {
    val emb = new graft.model.Tables(spark, dir).embeddings
    val zs = CorpusCompare.embeddingMomentDrift(emb, emb, col("embedding"))
      .collect()
    assert(zs.length == 64)
    assert(zs.forall(_.getAs[Double]("z") == 0.0))
    assert(zs.forall(r => r.getAs[Double]("mean_a") == r.getAs[Double]("mean_b")))
  }

  test("embeddingMomentDrift flags the planted sign-loss on most dimensions") {
    val emb = new graft.model.Tables(spark, dir).embeddings
    val absHalf = emb.filter(col("vec_id") % 2 === 0).select(col("embedding"))
      .unionByName(emb.filter(col("vec_id") % 2 === 1)
        .select(transform(col("embedding"), x => abs(x)).as("embedding")))
    val planted = CorpusCompare.embeddingMomentDrift(emb, absHalf, col("embedding"))
      .collect().count(r => math.abs(r.getAs[Double]("z")) > 3.0)
    // the abs-half snapshot moves every dim's mean by ~E|x|/2 ≈ 0.4σ
    val noise = CorpusCompare.embeddingMomentDrift(
      emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1),
      col("embedding")).collect().count(r => math.abs(r.getAs[Double]("z")) > 3.0)
    assert(planted >= 48, s"expected most dims flagged, got $planted/64")
    assert(noise <= 8, s"parity-split false alarms: $noise/64")
  }

  test("signBucket packs sign bits deterministically and in range") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, -1.0f, 0.0f, -0.0f)),
      (2L, Array(-1.0f, -1.0f, -1.0f, -1.0f)),
      (3L, Array(1.0f, 1.0f, 1.0f, 1.0f))
    ).toDF("id", "v")
    val got = df.select(col("id"), CorpusCompare.signBucket(col("v"), 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bit i set iff v[i] >= 0; -0.0 >= 0 is true in IEEE comparison
    assert(got == Map(1L -> (1 + 4 + 8).toLong, 2L -> 0L, 3L -> 15L))
  }

  // ---- generative differential: DataFrame path vs raw-SQL twin ---------

  test("20 random slice pairs: driftSummary matches an independent SQL rendering") {
    docs.createOrReplaceTempView("cc_docs")
    val rnd = new scala.util.Random(4242)
    for (i <- 1 to 20) {
      val (predDf, predSql) = rnd.nextInt(3) match {
        case 0 =>
          val m = 2 + rnd.nextInt(5); val r = rnd.nextInt(m)
          (col("doc_id") % m === r, s"doc_id % $m = $r")
        case 1 =>
          val l = Seq("en", "de", "es", "fr", "zh")(rnd.nextInt(5))
          (col("lang") === l, s"lang = '$l'")
        case _ =>
          val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
          (col("doc_id") % m =!= r, s"doc_id % $m <> $r")
      }
      val (predDf2, predSql2) = {
        val m = 2 + rnd.nextInt(5); val r = rnd.nextInt(m)
        (col("doc_id") % m === r, s"doc_id % $m = $r")
      }
      val viaDf = graft.operators.CorpusCompare.driftSummary(
        docs.filter(predDf), docs.filter(predDf2), col("text")).head()
      val viaSql = spark.sql(
        s"""WITH a AS (
              SELECT explode(split(trim(lower(text)), '\\\\s+')) AS gram
              FROM cc_docs WHERE $predSql),
            ca AS (
              SELECT gram, count(*) AS n_a FROM a WHERE gram != ''
              GROUP BY gram),
            b AS (
              SELECT explode(split(trim(lower(text)), '\\\\s+')) AS gram
              FROM cc_docs WHERE $predSql2),
            cb AS (
              SELECT gram, count(*) AS n_b FROM b WHERE gram != ''
              GROUP BY gram),
            ta AS (SELECT sum(n_a) AS ta FROM ca),
            tb AS (SELECT sum(n_b) AS tb FROM cb),
            j AS (
              SELECT coalesce(ca.n_a, 0L) AS n_a, coalesce(cb.n_b, 0L) AS n_b
              FROM ca FULL OUTER JOIN cb ON ca.gram = cb.gram),
            q AS (
              SELECT n_a, n_b,
                CAST(floor(abs(CAST(n_a AS DOUBLE) / ta
                  - CAST(n_b AS DOUBLE) / tb) * 1e9) AS BIGINT) AS drift_q,
                CAST(floor(
                  (CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
                  * (CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
                  / (CAST(n_a AS DOUBLE) / ta + CAST(n_b AS DOUBLE) / tb)
                  * 1e9) AS BIGINT) AS tri_q
              FROM j CROSS JOIN ta CROSS JOIN tb)
            SELECT
              sum(CASE WHEN n_a > 0 THEN 1L ELSE 0L END) AS n_types_a,
              sum(CASE WHEN n_b > 0 THEN 1L ELSE 0L END) AS n_types_b,
              sum(CASE WHEN n_a > 0 AND n_b > 0 THEN 1L ELSE 0L END)
                AS n_types_common,
              CAST(sum(drift_q) AS DOUBLE) / 2e9 AS tvd,
              CAST(sum(tri_q) AS DOUBLE) / 1e9 AS tri
            FROM q""").head()
      assert(viaDf == viaSql,
        s"draw $i: a=[$predSql] b=[$predSql2]\ndf : $viaDf\nsql: $viaSql")
    }
  }

  test("15 random snapshot pairs: corpusOverlap matches an independent SQL rendering") {
    docs.createOrReplaceTempView("cc_docs")
    val rnd = new scala.util.Random(777)
    for (i <- 1 to 15) {
      val m = 2 + rnd.nextInt(5); val r = rnd.nextInt(m)
      val m2 = 2 + rnd.nextInt(6); val r2 = rnd.nextInt(m2)
      val suffix = Seq(" v2", " rev", "!")(rnd.nextInt(3))
      val bDf = docs.filter(col("doc_id") % m === r).select(col("text"))
        .unionByName(docs.filter(col("doc_id") % m2 === r2)
          .select(concat(col("text"), lit(suffix)).as("text")))
      val viaDf = graft.operators.CorpusCompare
        .corpusOverlap(docs, bDf, col("text")).head()
      val viaSql = spark.sql(
        s"""WITH fa AS (SELECT DISTINCT fingerprint64(text) AS fp FROM cc_docs),
            fb AS (
              SELECT DISTINCT fp FROM (
                SELECT fingerprint64(text) AS fp FROM cc_docs
                WHERE doc_id % $m = $r
                UNION ALL
                SELECT fingerprint64(text || '$suffix') AS fp FROM cc_docs
                WHERE doc_id % $m2 = $r2))
            SELECT
              sum(CASE WHEN fa.fp IS NOT NULL THEN 1L ELSE 0L END) AS n_a,
              sum(CASE WHEN fb.fp IS NOT NULL THEN 1L ELSE 0L END) AS n_b,
              sum(CASE WHEN fa.fp IS NOT NULL AND fb.fp IS NOT NULL
                THEN 1L ELSE 0L END) AS n_common
            FROM fa FULL OUTER JOIN fb ON fa.fp = fb.fp""").head()
      assert(viaDf.getAs[Long]("n_a") == viaSql.getAs[Long]("n_a") &&
        viaDf.getAs[Long]("n_b") == viaSql.getAs[Long]("n_b") &&
        viaDf.getAs[Long]("n_common") == viaSql.getAs[Long]("n_common"),
        s"draw $i: m=$m r=$r m2=$m2 r2=$r2 suffix='$suffix'\ndf : $viaDf\nsql: $viaSql")
    }
  }

  // ---- text canonicalization -------------------------------------------

  test("nfcNormalize composes decomposed sequences; identity on NFC input") {
    import spark.implicits._
    val df = Seq(
      (1L, "café"),         // e + combining acute -> precomposed
      (2L, "café"),          // already NFC
      (3L, ""),                   // empty
      (4L, "Å")             // A + ring -> Å
    ).toDF("id", "s")
    val got = df.select(col("id"),
        graft.functions.VectorFunctions.nfcNormalize(col("s")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "café")
    assert(got(2L) == "café")
    assert(got(3L) == "")
    assert(got(4L) == "Å")
    // null propagates
    val n = df.select(graft.functions.VectorFunctions
      .nfcNormalize(lit(null).cast("string"))).head().isNullAt(0)
    assert(n)
  }

  test("nfcNormalize survives CODEGEN_ONLY (no silent interpreted fallback)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    import s2.implicits._
    val out = Seq("café").toDF("s")
      .select(graft.functions.VectorFunctions.nfcNormalize(col("s")))
      .head().getString(0)
    assert(out == "café")
  }

  test("NFKC folds ligatures, fullwidth forms, and superscripts; NFC does not") {
    import spark.implicits._
    val df = Seq(
      (1L, "ﬁle"),          // LATIN SMALL LIGATURE FI + "le" -> "file"
      (2L, "ｓｐａｍ"), // fullwidth "spam" -> "spam"
      (3L, "x²")            // superscript two -> "x2"
    ).toDF("id", "s")
    val nfkc = df.select(col("id"),
        graft.functions.VectorFunctions.nfkcNormalize(col("s")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(nfkc == Map(1L -> "file", 2L -> "spam", 3L -> "x2"))
    // NFC is identity-safe: none of these compatibility variants change
    val nfc = df.select(col("id"),
        graft.functions.VectorFunctions.nfcNormalize(col("s")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(nfc == Map(1L -> "ﬁle",
      2L -> "ｓｐａｍ", 3L -> "x²"))
    // the tokenizer-input fold merges the spam variant's token stream
    val merged = Seq(("ｓｐａｍ  ham", "spam ham")).toDF("a", "b")
      .select(graft.operators.TextAnalysis.normalizeForTokens(col("a")).as("na"),
        graft.operators.TextAnalysis.normalizeForTokens(col("b")).as("nb"))
      .head()
    assert(merged.getString(0) == merged.getString(1))
  }

  test("normalizeText collapses whitespace, trims, and composes NFC") {
    import spark.implicits._
    val got = Seq("  a \t b\n\ncafé  ").toDF("s")
      .select(graft.operators.TextAnalysis.normalizeText(col("s")))
      .head().getString(0)
    assert(got == "a b café")
  }

  test("canonicalFingerprint: re-encoded (NFC-equal) text maps to the same identity") {
    import spark.implicits._
    // composed \u00e9 vs e + combining acute, plus reflowed whitespace —
    // the content-identity seams (release/hygiene/ingest/overlap/split/
    // shard) must treat these as ONE document; the raw fingerprint must not
    val df = Seq(
      ("caf\u00e9 du monde", "cafe\u0301  du\tmonde"),
      ("plain ascii text", "plain ascii text")).toDF("a", "b")
    val r = df.select(
      graft.operators.TextAnalysis.canonicalFingerprint(col("a")).as("ca"),
      graft.operators.TextAnalysis.canonicalFingerprint(col("b")).as("cb"),
      graft.operators.TextAnalysis.fingerprint(col("a")).as("ra"),
      graft.operators.TextAnalysis.fingerprint(col("b")).as("rb")).collect()
    r.foreach(row => assert(row.getLong(0) == row.getLong(1),
      s"canonical identities differ: $row"))
    assert(r(0).getLong(2) != r(0).getLong(3),
      "raw fingerprints should differ on the re-encoded pair")
    assert(r(1).getLong(2) == r(1).getLong(3))
  }

  // ---- incremental drift (persisted gram-count index) -----------------

  private def freshIdx(): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_gramidx_").toString
    p
  }

  test("driftSummaryAgainstIndex == monolithic driftSummary (build + append)") {
    val idx = freshIdx()
    CorpusCompare.buildGramIndex(
      docs.filter(col("doc_id") % 2 === 0), col("text"), idx)
    CorpusCompare.appendToGramIndex(
      docs.filter(col("doc_id") % 2 =!= 0), col("text"), idx)
    val viaIndex = CorpusCompare.driftSummaryAgainstIndex(spark, idx,
      docs.filter(col("lang") === "en"), col("text")).head()
    val direct = CorpusCompare.driftSummary(docs,
      docs.filter(col("lang") === "en"), col("text")).head()
    assert(viaIndex == direct)
    val top = CorpusCompare.driftByGramAgainstIndex(spark, idx,
      docs.filter(col("lang") === "en"), col("text"), 10).collect().toSeq
    val topDirect = CorpusCompare.driftByGram(docs,
      docs.filter(col("lang") === "en"), col("text"), 10).collect().toSeq
    assert(top == topDirect)
  }

  test("compactGramIndex: counts bit-identical, append files folded, crash heals") {
    val idx = freshIdx()
    CorpusCompare.buildGramIndex(
      docs.filter(col("doc_id") % 3 === 0), col("text"), idx)
    CorpusCompare.appendToGramIndex(
      docs.filter(col("doc_id") % 3 === 1), col("text"), idx)
    CorpusCompare.appendToGramIndex(
      docs.filter(col("doc_id") % 3 === 2), col("text"), idx)
    def counts() = IndexMaintenance.snapshot(spark, idx).read("grams")
      .groupBy("gram").agg(sum("n").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = counts()
    val filesBefore = IndexMaintenance.storeDataFiles(spark, idx, "grams")
    CorpusCompare.compactGramIndex(spark, idx)
    val filesAfter = IndexMaintenance.storeDataFiles(spark, idx, "grams")
    assert(counts() == before)
    assert(filesAfter < filesBefore,
      s"expected fewer files after compaction, got $filesBefore -> $filesAfter")
    // crash state: a compaction wrote a replacement segment and its tmp
    // manifest, and died before the rename — readers must see the
    // committed generation and identical counts
    IndexStates.crashBeforeCommit(spark, idx)(tx => tx.replace("grams", tx.snapshot.read("grams").limit(1)))
    val resolved = CorpusCompare.driftSummaryAgainstIndex(spark, idx,
      docs.filter(col("lang") === "en"), col("text")).head()
    val direct = CorpusCompare.driftSummary(docs,
      docs.filter(col("lang") === "en"), col("text")).head()
    assert(resolved == direct)
  }

  test("buildGramIndex over a pending stale compaction does not get reverted") {
    val idx = freshIdx()
    val oldDocs = docs.filter(col("doc_id") % 2 === 0)
    val newDocs = docs.filter(col("doc_id") % 2 =!= 0)
    CorpusCompare.buildGramIndex(oldDocs, col("text"), idx)
    // Simulate a compaction that crashed before its commit: the STALE
    // store sits in an unnamed segment beside a tmp manifest. The
    // rebuild's lease must discard both BEFORE the build commits —
    // otherwise a later writer could publish the stale store over the
    // fresh build, silently reverting it.
    IndexStates.crashBeforeCommit(spark, idx)(tx => tx.replace("grams", tx.snapshot.read("grams")))
    CorpusCompare.buildGramIndex(newDocs, col("text"), idx)
    IndexMaintenance.withWriterLease(spark, idx)(_ => ())
    val viaIndex = CorpusCompare.driftSummaryAgainstIndex(spark, idx,
      newDocs, col("text")).head()
    val direct = CorpusCompare.driftSummary(newDocs, newDocs, col("text")).head()
    assert(viaIndex == direct,
      "rebuild over a pending stale compaction was reverted by a later writer")
  }

  // ---- overlap --------------------------------------------------------

  test("corpusOverlap rejects non-positive sampleMod loudly") {
    intercept[IllegalArgumentException] {
      CorpusCompare.corpusOverlap(docs, docs, col("text"), sampleMod = 0)
    }
    intercept[IllegalArgumentException] {
      CorpusCompare.corpusOverlapSampled(docs, docs, col("text"), sampleMod = 0)
    }
  }

  test("corpusOverlap: a corpus overlaps itself completely") {
    val r = CorpusCompare.corpusOverlap(docs, docs, col("text")).head()
    assert(r.getAs[Long]("n_a") == r.getAs[Long]("n_common"))
    assert(r.getAs[Double]("jaccard") == 1.0)
    assert(r.getAs[Boolean]("est_ok"))
  }

  test("corpusOverlap: disjoint corpora have zero overlap") {
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    val r = CorpusCompare.corpusOverlap(a, b, col("text")).head()
    assert(r.getAs[Long]("n_common") == 0L)
    assert(r.getAs[Double]("jaccard") == 0.0)
  }

  test("corpusOverlapSampled estimate lands inside the gate tolerance") {
    val a = docs
    val b = docs.filter(col("doc_id") % 3 === 0).select(col("text"))
      .unionByName(docs.filter(col("doc_id") % 5 === 0)
        .select(concat(col("text"), lit(" v2")).as("text")))
    val exact = CorpusCompare.corpusOverlap(a, b, col("text")).head()
    val est = CorpusCompare.corpusOverlapSampled(a, b, col("text"), 4).head()
    assert(exact.getAs[Boolean]("est_ok"))
    assert(math.abs(est.getAs[Double]("jaccard_est") -
      exact.getAs[Double]("jaccard")) <= 0.2)
  }

  // ---- DSIR selection -------------------------------------------------

  test("dsirSelect: raw == target makes every bucket ratio exactly 1") {
    val sel = CorpusCompare.dsirSelect(docs, docs, "doc_id", col("text"),
      buckets = 512, k = 50)
    val scores = sel.collect().map(_.getAs[Double]("score")).toSet
    // ct == cr and tt == tr per bucket → r = 1.0 exactly; the quantized
    // mean of all-ones is exactly 1.0.
    assert(scores == Set(1.0), s"expected all scores exactly 1.0, got $scores")
  }

  test("dsirSelect recovers the target slice from the mixed corpus") {
    val sel = CorpusCompare.dsirSelect(docs,
      docs.filter(col("lang") === "en"), "doc_id", col("text"),
      buckets = 4096, k = 40)
    val selected = sel.join(docs, Seq("doc_id"))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val en = selected.getOrElse("en", 0L)
    assert(en * 2 > selected.values.sum,
      s"expected en-majority selection, got $selected")
  }

  test("dsirSelect excludes documents with no bigram evidence") {
    import spark.implicits._
    val raw = Seq((1L, "alpha beta gamma"), (2L, "single"), (3L, ""))
      .toDF("doc_id", "text")
    val target = Seq(Tuple1("alpha beta")).toDF("text")
    val ids = CorpusCompare.dsirSelect(raw, target, "doc_id", col("text"),
      buckets = 64, k = 10).collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L))
  }

  test("dsirSelectWithin equals the two-corpus form on a raw-slice target") {
    val within = CorpusCompare.dsirSelectWithin(docs, "doc_id", col("text"),
      col("lang") === "en", buckets = 4096, k = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val general = CorpusCompare.dsirSelect(docs,
      docs.filter(col("lang") === "en"), "doc_id", col("text"),
      buckets = 4096, k = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(within == general)
  }

  test("dsirSelect is deterministic across partitionings") {
    val a = CorpusCompare.dsirSelect(docs.repartition(1),
      docs.filter(col("lang") === "en"), "doc_id", col("text"), 4096, 25)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val b = CorpusCompare.dsirSelect(docs.repartition(17),
      docs.filter(col("lang") === "en"), "doc_id", col("text"), 4096, 25)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(a == b)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionScratch.rmTree
import graft.operators.{Dedup, Diff, Sampling, Sharding, Staging, TextAnalysis}

/** Properties of the corpus-lifecycle operators (PipelineQueries) the
  * DuckDB oracle doesn't cover: leakage-safety as an invariant (not just
  * a hash match on one fixture), mixture proportion bounds, diff
  * round-trip semantics, and the shard write → manifest-verify loop.
  */
class PipelineOpsSpec extends AnyFunSuite with StagingScope {

  lazy val spark: SparkSession = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"
  private def docs = new graft.model.Tables(spark, dir).documents

  // ---- snapshot diff -------------------------------------------------

  test("snapshotDiff: identical snapshots diff to empty") {
    val d = docs
    assert(Diff.snapshotDiff(d, d, Seq("doc_id")).isEmpty)
  }

  test("snapshotDiff reports adds/removes/changes with exact column sets") {
    import spark.implicits._
    val prev = Seq(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, null, 40.0)
    ).toDF("id", "s", "v")
    val next = Seq(
      (1L, "a", 10.0),          // unchanged → absent from the diff
      (2L, "B", 21.0),          // both value columns changed
      (4L, "now", 40.0),        // null → value counts as a change
      (5L, "new", 50.0)         // added
    ).toDF("id", "s", "v")      // 3 removed
    val out = Diff.snapshotDiff(prev, next, Seq("id"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.toSeq == Seq(
      (2L, "changed", "s,v"),
      (3L, "removed", ""),
      (4L, "changed", "s"),
      (5L, "added", "")))
  }

  test("snapshotDiff is anti-symmetric: swapping snapshots swaps add/remove") {
    val prev = docs
    val next = docs.filter(col("doc_id") % 7 =!= 0)
    val fwd = Diff.snapshotDiff(prev, next, Seq("doc_id"))
    val rev = Diff.snapshotDiff(next, prev, Seq("doc_id"))
    val removed = fwd.filter(col("change") === "removed")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val added = rev.filter(col("change") === "added")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(removed == added && removed.nonEmpty)
    assert(fwd.filter(col("change") =!= "removed").isEmpty)
  }

  test("snapshotDiff supports composite keys") {
    import spark.implicits._
    val prev = Seq((1L, 1L, "a"), (1L, 2L, "b"), (2L, 1L, "c"))
      .toDF("k1", "k2", "v")
    val next = Seq((1L, 1L, "a"), (1L, 2L, "B"), (3L, 1L, "d"))
      .toDF("k1", "k2", "v")
    val out = Diff.snapshotDiff(prev, next, Seq("k1", "k2"))
      .orderBy("k1", "k2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, "changed", "v"),
      (2L, 1L, "removed", ""),
      (3L, 1L, "added", "")))
  }

  // ---- mixture sampling ----------------------------------------------

  test("mixtureSample hits target proportions within hash-sampling noise") {
    val weights = Map("en" -> 0.5, "de" -> 0.125, "es" -> 0.125,
      "fr" -> 0.125, "zh" -> 0.125)
    val out = Sampling.mixtureSample(docs,
      TextAnalysis.fingerprint(col("text")), col("lang"), weights)
    val got = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = got.values.sum.toDouble
    // the binding stratum is exact (kept whole); the others are rate-
    // sampled so allow binomial noise on a few-hundred-row fixture
    weights.foreach { case (k, w) =>
      val frac = got.getOrElse(k, 0L) / total
      assert(math.abs(frac - w) < 0.08, s"$k: got $frac want $w")
    }
    // deterministic: a second evaluation is row-identical
    val again = Sampling.mixtureSample(docs,
      TextAnalysis.fingerprint(col("text")), col("lang"), weights)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("mixtureSample keeps the binding stratum whole and drops unlisted strata") {
    import spark.implicits._
    // zh is binding: 4 rows at weight 0.5 → T = 8; en supplies 0.5*8/8 = 4 of 8
    val df = ((1 to 8).map(i => (i.toLong, "en")) ++
      (9 to 12).map(i => (i.toLong, "zh")) ++
      Seq((13L, "xx"))).toDF("id", "lang")
    val out = Sampling.mixtureSample(df, col("id") * 7919L, col("lang"),
      Map("en" -> 0.5, "zh" -> 0.5))
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.getOrElse("zh", 0L) == 4L) // binding stratum: all kept
    assert(!byLang.contains("xx"))           // unlisted stratum: dropped
    assert(byLang("en") <= 8L)               // en downsampled toward 4
  }

  test("groupQuota caps each group at k and keeps small groups whole") {
    val fp = TextAnalysis.fingerprint(col("text"))
    val out = Sampling.groupQuota(docs, col("source"), fp, col("doc_id"), 2)
    val byGroup = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGroup.values.forall(_ <= 2))
    // small groups survive intact: every source with ≤2 docs keeps all
    val sizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.filter(_._2 <= 2).foreach { case (src, n) =>
      assert(byGroup.getOrElse(src, 0L) == n, s"small group $src shrank")
    }
    // deterministic across evaluations
    val again = Sampling.groupQuota(docs, col("source"), fp, col("doc_id"), 2)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("mixtureSample keeps the binding stratum whole under NON-dyadic weights") {
    import spark.implicits._
    // 0.9/0.1 are not exactly representable: the binding stratum's rate
    // solves to 1±ulp and an unclamped truncating cut could drop its
    // bucket-999999 rows — the clamp guarantees the contract regardless
    val df = ((1 to 10).map(i => (i.toLong, "a")) ++
      (11 to 110).map(i => (i.toLong, "b"))).toDF("id", "lang")
    val out = Sampling.mixtureSample(df, col("id") * 104729L, col("lang"),
      Map("a" -> 0.9, "b" -> 0.1))
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // binding = a (10/0.9 = 11.1 < 100/0.1 = 1000): all 10 kept
    assert(byLang.getOrElse("a", 0L) == 10L)
  }

  test("mixtureByTokens hits TOKEN proportions; binding stratum kept whole") {
    val weights = Map("en" -> 0.5, "de" -> 0.125, "es" -> 0.125,
      "fr" -> 0.125, "zh" -> 0.125)
    val fp = TextAnalysis.fingerprint(col("text"))
    val tok = TextAnalysis.tokenCount(col("text"))
    val out = Sampling.mixtureByTokens(docs, fp, col("lang"), tok, weights)
      .select(col("lang"), tok.as("n_tok"))
    val got = out.groupBy("lang").agg(sum("n_tok").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = got.values.sum.toDouble
    weights.foreach { case (k, w) =>
      val frac = got.getOrElse(k, 0L) / total
      assert(math.abs(frac - w) < 0.08, s"$k: token frac $frac want $w")
    }
    // binding stratum (min tokens_k/w_k) kept whole, by token count
    val inTok = docs.select(col("lang"), tok.as("n_tok"))
      .groupBy("lang").agg(sum("n_tok").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val binding = weights.keys.minBy(k => inTok(k) / weights(k))
    assert(got(binding) == inTok(binding), s"binding $binding not whole")
    // and the DOC-count mixture picks different rows than the token one
    // on this fixture (the two units genuinely disagree: en is token-
    // richer than its doc share, so every token-solve rate sits strictly
    // below its doc-solve rate and the doc mixture keeps rows the token
    // mixture cuts)
    val byDocs = Sampling.mixtureSample(docs, fp, col("lang"), weights)
    assert(byDocs.select("doc_id").exceptAll(
      Sampling.mixtureByTokens(docs, fp, col("lang"), tok, weights)
        .select("doc_id")).count() > 0)
  }

  test("tokenQuota: greedy prefix fill, overshoot ≤ one doc, oversize first doc kept") {
    import spark.implicits._
    val fp = TextAnalysis.fingerprint(col("text"))
    val tok = TextAnalysis.tokenCount(col("text"))
    val budget = 700L
    val out = Sampling.tokenQuota(docs, col("lang"), fp, col("doc_id"), tok, budget)
      .select(col("doc_id"), col("lang"), tok.as("n_tok"))
    val kept = out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byLang = kept.groupBy(_._2)
    val inTotals = docs.select(col("lang"), tok.as("n_tok"))
      .groupBy("lang").agg(sum("n_tok").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byLang.foreach { case (lang, rows) =>
      val total = rows.map(_._3).sum
      val maxDoc = rows.map(_._3).max
      // budget reached (within the crossing doc) or group exhausted
      assert(total < budget + maxDoc, s"$lang overshot: $total")
      assert(total >= math.min(budget, inTotals(lang)),
        s"$lang underfilled: $total of ${inTotals(lang)} (budget $budget)")
    }
    // kept set is a PREFIX of the deterministic hash order per group
    val ordered = docs.select(col("doc_id"), col("lang"),
        Sampling.uniformBucket(fp).as("b")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val keptIds = kept.map(_._1).toSet
    ordered.groupBy(_._2).foreach { case (lang, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1)).map(_._1)
      val keptPrefix = sorted.takeWhile(keptIds)
      assert(sorted.filter(keptIds).toSeq == keptPrefix.toSeq,
        s"$lang kept set is not a prefix of the hash order")
    }
    // a first document larger than the whole budget is still kept: id=2
    // hashes first (bucket 582718 < 791359), carries 50 tokens against a
    // budget of 10 — kept (greedy fill guarantees progress), and the
    // budget is then exhausted before id=1
    val tiny = Seq((1L, "g", 5L), (2L, "g", 50L)).toDF("id", "grp", "n")
    val t2 = Sampling.tokenQuota(tiny, col("grp"), col("id") * 7919L,
      col("id"), col("n"), budget = 10L)
    assert(t2.select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // determinism under a different physical layout
    val repart = Sampling.tokenQuota(docs.repartition(7), col("lang"), fp,
      col("doc_id"), tok, budget).select("doc_id")
    assert(repart.exceptAll(out.select("doc_id")).isEmpty &&
      out.select("doc_id").exceptAll(repart).isEmpty)
  }

  // ---- leakage-safe split --------------------------------------------

  test("group-keyed split never straddles a near-dup cluster") {
    val cl = Dedup.nearDupClusters(docs, "doc_id", "text",
      n = 3, threshold = 0.2, minCommon = 2)
      .withColumn("split", Sampling.assignSplitByGroup(col("cluster"), 0.8, 0.1))
    val perCluster = cl.groupBy("cluster")
      .agg(count_distinct(col("split")).as("n_splits"),
        count(lit(1)).as("n_docs"))
    assert(perCluster.filter(col("n_splits") > 1).isEmpty)
    // and the fixture actually exercises it: some cluster has >1 member
    assert(perCluster.filter(col("n_docs") > 1).count() > 0)
    // all three splits appear across clusters (the split is real)
    assert(cl.select("split").distinct().count() == 3)
  }

  test("uniformBucketKey stays in range for keys that would overflow uniformBucket") {
    import spark.implicits._
    val big = Seq(Long.MaxValue, Long.MaxValue - 1, 4000000000L, 0L)
      .toDF("k")
      .select(Sampling.uniformBucketKey(col("k")).as("b"))
      .collect().map(_.getLong(0))
    assert(big.forall(b => b >= 0 && b < 1000000L))
  }

  // ---- vocabulary ----------------------------------------------------

  test("vocabulary counts match a hand-computed corpus") {
    import spark.implicits._
    val df = Seq((1L, "a b a b c"), (2L, "a b x"), (3L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val v = TextAnalysis.vocabulary(df,
      Dedup.ngramsFromTokens(col("toks"), 2), col("doc_id"), 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // doc1 bigrams: "a b","b a","a b","b c"; doc2: "a b","b x"
    assert(v.toSet == Set(
      ("a b", 3L, 2L), ("b a", 1L, 1L), ("b c", 1L, 1L), ("b x", 1L, 1L)))
  }

  test("vocabulary top-k cut is by (count desc, gram asc)") {
    import spark.implicits._
    val df = Seq((1L, "z z y y x")).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    // bigrams: "z z","z y","y y","y x" — all count 1; k=2 keeps the two
    // lexicographically smallest
    val v = TextAnalysis.vocabulary(df,
      Dedup.ngramsFromTokens(col("toks"), 2), col("doc_id"), 2)
      .collect().map(_.getString(0)).toSet
    assert(v == Set("y x", "y y"))
  }

  test("vocabularyApprox agrees with exact vocabulary within the sketch bound") {
    val toks = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val grams = Dedup.ngramsFromTokens(col("toks"), 2)
    val exact = TextAnalysis.vocabulary(toks, grams, col("doc_id"), 200)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val approx = TextAnalysis.vocabularyApprox(toks, grams, col("doc_id"), 200)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // n_occ ranks both, so the gram list and occurrence counts are identical
    assert(exact.map(t => (t._1, t._2)).toSeq == approx.map(t => (t._1, t._2)).toSeq)
    // df is sketched: ±15% (looser than rsd to absorb small-range bias)
    val dfByGram = approx.map(t => t._1 -> t._3).toMap
    exact.foreach { case (g, _, nd) =>
      val ad = dfByGram(g)
      assert(math.abs(ad - nd) <= math.max(2L, (0.15 * nd).toLong),
        s"$g: approx df $ad vs exact $nd")
    }
  }

  test("trainset packing: every epoch copy packs exactly once, bins never cross shards") {
    import graft.operators.Packing
    val base = docs
      .withColumn("text", TextAnalysis.normalizeText(col("text")))
      .select(col("doc_id"), col("lang"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val mixed = Sampling.mixtureByTokens(base, col("fp"), col("lang"),
      col("n_tokens"),
      Map("en" -> 0.5, "de" -> 0.125, "es" -> 0.125,
        "fr" -> 0.125, "zh" -> 0.125))
    val plan = Sampling.epochPlan(mixed, col("fp"), col("lang"),
      Map("en" -> 1.5, "de" -> 2.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 0.25))
      .persist()
    val packed = Packing.packPlan(plan, col("fp"),
      Seq(col("ord"), col("doc_id"), col("epoch")), col("n_tokens"),
      budget = 512, shards = 8).persist()
    assert(packed.count() == plan.count(), "packing dropped or duplicated copies")
    // every epoch copy appears exactly once
    assert(packed.groupBy("doc_id", "epoch").count()
      .filter(col("count") > 1).count() == 0, "an epoch copy packed twice")
    // a bin belongs to exactly one shard (shard-local packing)
    assert(packed.groupBy("bin")
      .agg(count_distinct(col("shard")).as("s"))
      .filter(col("s") > 1).count() == 0, "a bin crossed shards")
    // pos is a gapless running token sum within each shard: the last
    // copy's pos + n_tokens equals the shard's token total (no holes, so
    // bins are never left short of the budget by construction)
    val gaps = packed.groupBy("shard")
      .agg(max(col("pos") + col("n_tokens")).as("end"),
        sum("n_tokens").as("tot"))
      .filter(col("end") =!= col("tot")).count()
    assert(gaps == 0, "per-shard running sums have holes")
    // bin index tracks pos/budget exactly
    assert(packed.filter(
      col("bin") =!= expr("(pos div 512L) * 8L") + col("shard"))
      .count() == 0)
    plan.unpersist(); packed.unpersist()
  }

  test("vocabularyAuto: occupancy probe picks exact on long tails, approx on hot skew") {
    import spark.implicits._
    // LONG TAIL: every bigram distinct (df = 1 everywhere) → occupancy
    // ratio ≈ 1 → the sketch's per-distinct-gram buffers would exceed the
    // exact path's rows → exact
    val rare = (0 until 50).map(i => (i.toLong,
        (0 until 40).map(j => s"t${i * 1000 + j}").mkString(" ")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val grams = Dedup.ngramsFromTokens(col("toks"), 2)
    // probeMod=1 (unsampled) on the 50-doc fixtures — the sampled form is
    // pinned separately below
    val (rareTable, rareChoice) =
      TextAnalysis.vocabularyAutoChosen(rare, grams, col("doc_id"), 100,
        probeMod = 1)
    assert(rareChoice == "exact", s"long tail chose $rareChoice")
    // exact path → df values equal the exact form's bit-for-bit
    assert(rareTable.collect().toSeq ==
      TextAnalysis.vocabulary(rare, grams, col("doc_id"), 100).collect().toSeq)
    // HOT SKEW: a 5-token vocabulary repeated across every doc → a few
    // distinct grams with corpus-scale occurrence counts → approx
    val hot = (0 until 50).map(i => (i.toLong,
        (0 until 40).map(j => s"w${j % 5}").mkString(" ")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val (hotTable, hotChoice) =
      TextAnalysis.vocabularyAutoChosen(hot, grams, col("doc_id"), 100,
        probeMod = 1)
    assert(hotChoice == "approx", s"hot skew chose $hotChoice")
    // the SAMPLED probe (default probeMod=16) agrees on fixtures big
    // enough to sample: saturation survives any doc sample (distinct
    // grams don't shrink), and the long tail stays r≈1 in any sample
    val bigHot = (0 until 800).map(i => (i.toLong,
        (0 until 40).map(j => s"w${j % 5}").mkString(" ")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    assert(TextAnalysis.vocabularyAutoChosen(
      bigHot, grams, col("doc_id"), 100)._2 == "approx")
    val bigRare = (0 until 800).map(i => (i.toLong,
        (0 until 40).map(j => s"t${i * 1000 + j}").mkString(" ")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    assert(TextAnalysis.vocabularyAutoChosen(
      bigRare, grams, col("doc_id"), 100)._2 == "exact")
    // the ranking key n_occ stays exact on the approx path
    val hotOcc = hotTable.collect().map(r => (r.getString(0), r.getLong(1)))
    val hotExact = TextAnalysis.vocabulary(hot, grams, col("doc_id"), 100)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hotOcc.toSeq == hotExact.toSeq)
  }

  test("topKeywords ranks by tf·idf with token tie-break") {
    import spark.implicits._
    val df = Seq((1L, "a a b"), (2L, "b c"), (3L, "c c c a"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val out = TextAnalysis.topKeywords(df, col("toks"), col("doc_id"), 3)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(5)))
    // N=3; score = tf·4/(df+1), df: a=2 b=2 c=2 → score = tf·4/3
    // doc2: b and c tie at 4/3 → token asc breaks it
    assert(out.toSeq == Seq(
      (1L, "a", 1L), (1L, "b", 2L),
      (2L, "b", 1L), (2L, "c", 2L),
      (3L, "c", 1L), (3L, "a", 2L)))
  }

  // ---- sharding ------------------------------------------------------

  test("writeShards → verifyShards round-trips; shard dirs are pure") {
    val work = java.nio.file.Files.createTempDirectory("graft_shard_").toString
    try {
      val fp = TextAnalysis.fingerprint(col("text"))
      val m = Sharding.writeShards(docs, fp, col("doc_id"), 4, work)
      // loader-side verification: recomputed manifest == stored manifest
      assert(Sharding.verifyShards(spark, work, col("doc_id")).isEmpty)
      // every shard directory holds only its own rows
      val back = spark.read.parquet(work)
      val wrong = back.filter(
        Sharding.assignShard(col("_fp"), 4) =!= col("shard"))
      assert(wrong.isEmpty)
      // nothing lost: counts add back up to the corpus
      assert(back.count() == docs.count())
      assert(m.agg(sum("n_rows")).head.getLong(0) == docs.count())
      // a corrupted export is DETECTED: drop one data file, re-verify
      val aFile = java.nio.file.Files.walk(java.nio.file.Paths.get(work))
        .filter(p => p.toString.contains("shard=") && p.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.delete(aFile)
      assert(!Sharding.verifyShards(spark, work, col("doc_id")).isEmpty)
    } finally rmTree(work)
  }

  test("shuffled shard export bakes in the deterministic read order") {
    val work = java.nio.file.Files.createTempDirectory("graft_shard_shuf_").toString
    try {
      val fp = TextAnalysis.fingerprint(col("text"))
      Sharding.writeShards(docs, fp, col("doc_id"), 4, work, shuffled = true)
      // the manifest (order-independent) still verifies
      assert(Sharding.verifyShards(spark, work, col("doc_id")).isEmpty)
      // each shard file's ROW ORDER is the scrambled-hash order, not id
      // order — the loader streams sequentially and still trains shuffled
      val s0 = spark.read.parquet(s"$work/shard=0")
      val gotKeys = s0.select(
          pmod(pmod(col("_fp") * lit(48271L), lit(1000000007L)),
            lit(1000000L)).as("k"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(gotKeys.size > 2)
      // file row order IS the scrambled-key order…
      assert(gotKeys.map(_._1) == gotKeys.map(_._1).sorted)
      // …which is actually shuffled, not id order
      val ids = gotKeys.map(_._2)
      assert(ids != ids.sorted)
    } finally rmTree(work)
  }

  test("shard assignment is decorrelated from the split assignment") {
    // if shard were keyed on the same scramble as split, shard 0 would be
    // all-train: check every shard sees >1 split on the fixture
    val fp = TextAnalysis.fingerprint(col("text"))
    val joint = docs.select(Sharding.assignShard(fp, 4).as("shard"),
        Sampling.assignSplit(fp, 0.5, 0.25).as("split"))
      .groupBy("shard").agg(count_distinct(col("split")).as("n"))
    assert(joint.filter(col("n") < 2).isEmpty)
  }

  // ---- token-window chunking ------------------------------------------

  private def chunkRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq

  test("chunkByTokens: hand-computed windows, overlap, and final short chunk") {
    import spark.implicits._
    val d = Seq(
      (1L, "t1 t2 t3 t4 t5"),    // 5 toks, w=3 s=2 → [0..2], [2..4]
      (2L, "u1 u2 u3 u4 u5 u6"), // 6 toks → [0..2], [2..4], [4..5] short
      (3L, "v1 v2"),             // under window → one whole chunk
      (4L, "  ")                 // zero tokens → no chunks
    ).toDF("doc_id", "text")
    val got = chunkRows(TextAnalysis.chunkByTokens(d, "doc_id", "text", 3, 2))
    assert(got == Seq(
      (1L, 0L, 0L, 3L, "t1 t2 t3"), (1L, 1L, 2L, 3L, "t3 t4 t5"),
      (2L, 0L, 0L, 3L, "u1 u2 u3"), (2L, 1L, 2L, 3L, "u3 u4 u5"),
      (2L, 2L, 4L, 2L, "u5 u6"),
      (3L, 0L, 0L, 2L, "v1 v2")))
  }

  test("chunkByTokens: stride == window partitions tokens exactly") {
    // no overlap → the chunks tile the document: token counts re-add to
    // the doc's token count and every start lands on the stride grid
    val out = TextAnalysis.chunkByTokens(docs, "doc_id", "text", 8, 8)
    val toks = docs.select(col("doc_id"),
      size(filter(split(trim(lower(col("text"))), "\\s+"), t => t =!= ""))
        .cast("long").as("n"))
    val sums = out.groupBy("doc_id").agg(sum("n_tok").as("s"))
      .join(toks, "doc_id")
    assert(sums.filter(col("s") =!= col("n")).isEmpty)
    assert(out.filter(pmod(col("tok_start"), lit(8L)) =!= 0L).isEmpty)
  }

  test("chunkByTokens: every token position is covered by some chunk") {
    val out = TextAnalysis.chunkByTokens(docs, "doc_id", "text", 24, 16)
    // per doc: max(tok_start + n_tok) == token count and chunks advance
    // by exactly the stride
    val toks = docs.select(col("doc_id"),
      size(filter(split(trim(lower(col("text"))), "\\s+"), t => t =!= ""))
        .cast("long").as("n"))
    val cover = out.groupBy("doc_id")
      .agg(max(col("tok_start") + col("n_tok")).as("covered"),
        count(lit(1)).as("k"), max("chunk_id").as("maxc"))
      .join(toks.filter(col("n") > 0), "doc_id")
    assert(cover.filter(col("covered") =!= col("n")).isEmpty)
    assert(cover.filter(col("maxc") =!= col("k") - 1).isEmpty)
  }

  // ---- multi-epoch curriculum plan ------------------------------------

  test("epochPlan: integer factors replicate exactly, fractional by rate") {
    import spark.implicits._
    val rows = (1L to 4000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "g")
    val plan = Sampling.epochPlan(rows, col("id"), col("g"),
      Map("a" -> 2.0, "b" -> 0.25))
    val byG = plan.groupBy("g").agg(count(lit(1)).as("n"),
        count_distinct(col("epoch")).as("ne"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exactly 2 copies of every 'a' row (epochs 0 and 1, nothing kept at 2)
    assert(byG("a") == ((4000L, 2L)))
    // 'b' keeps ~25% of one epoch: binomial(2000, .25) stays in ±5σ
    val (nb, _) = byG("b")
    assert(nb > 400 && nb < 600, s"fractional epoch kept $nb of 2000")
    // epoch ids are exactly {0,1} for a and {0} for b
    assert(plan.filter(col("g") === "a" && !col("epoch").isin(0L, 1L)).isEmpty)
    assert(plan.filter(col("g") === "b" && col("epoch") =!= 0L).isEmpty)
    // unlisted strata are dropped, ord lands in [0, 1e6)
    assert(plan.filter(!col("g").isin("a", "b")).isEmpty)
    assert(plan.filter(col("ord") < 0L || col("ord") >= 1000000L).isEmpty)
  }

  test("epochPlan is deterministic and per-epoch decisions are independent") {
    import spark.implicits._
    val rows = (1L to 2000L).map(i => (i, "x")).toDF("id", "g")
    def run() = Sampling.epochPlan(rows, col("id"), col("g"), Map("x" -> 2.5))
      .select("id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = run()
    assert(a == run())
    // everyone has epochs 0 and 1; epoch 2 holds ~half, and its keep set
    // is NOT the low-id prefix (hash-scrambled)
    val e2 = a.filter(_._2 == 2L).map(_._1)
    assert(a.count(_._2 == 0L) == 2000 && a.count(_._2 == 1L) == 2000)
    assert(e2.size > 850 && e2.size < 1150, s"epoch-2 kept ${e2.size}")
    assert(e2.exists(_ > 1900) && !(1L to 100L).forall(e2.contains))
  }

  test("datacard query: shares sum to 1, dup counts bounded, quality in [0,1]") {
    val dc = graft.SparkEntry.queries("q_datacard")(spark, dir)
    val rows = dc.collect()
    assert(rows.nonEmpty)
    val share = rows.map(_.getAs[Double]("token_share")).sum
    assert(math.abs(share - 1.0) < 1e-9, s"token shares sum to $share")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_exact_dup") >= 0L)
      assert(r.getAs[Long]("n_exact_dup") < r.getAs[Long]("n_docs"))
      val q = r.getAs[Double]("mean_quality")
      assert(q >= 0.0 && q <= 1.0, s"mean_quality $q")
    }
  }

  // ---- source triage ---------------------------------------------------

  test("sourceTriage: hand-computed repeated-segment fractions flag the boilerplate source") {
    import spark.implicits._
    val d = Seq(
      (1L, "A", "a1 b1 c1 d1"), // 2 unique segments
      (2L, "A", "e1 f1 g1 h1"), // 2 unique segments → A: rep 0/4
      (3L, "B", "aa bb xx yy"), // "xx yy" shared with doc 4
      (4L, "B", "xx yy zz ww")  // → B: rep 2/4 = 0.5
    ).toDF("doc_id", "source", "text")
    // minMeanQuality = 0 isolates the repeated-segment leg
    val out = Staging.scoped(TextAnalysis.sourceTriage(d, "source", "doc_id", "text",
        w = 2, minMeanQuality = 0.0, maxRepFraction = 0.3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3), r.getDouble(4), r.getBoolean(5)))).toMap)
    assert(out("A") == ((2L, 4L, 0.0, false)))
    assert(out("B") == ((2L, 4L, 0.5, true)))
  }

  test("sourceTriage: a source of empty docs gets n_seg 0, rep_fraction 0, and the quality flag") {
    import spark.implicits._
    val d = Seq(
      (1L, "A", "alpha beta gamma delta"),
      (2L, "E", "   ")) // zero tokens → no segments
    .toDF("doc_id", "source", "text")
    val out = Staging.scoped(TextAnalysis.sourceTriage(d, "source", "doc_id", "text",
        w = 2, minMeanQuality = 1.0, maxRepFraction = 1.1)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3), r.getDouble(4), r.getBoolean(5)))).toMap)
    // both flagged by the (impossible) quality bar; the empty source's
    // segment stats are the guarded zeros, never null or NaN
    assert(out("E") == ((1L, 0L, 0.0, true)))
    assert(out("A")._4 && out("A")._2 == 2L)
  }

  test("the round-10 curation operators are deterministic under repartitioning") {
    val d = docs.limit(120)
    def seg(df: org.apache.spark.sql.DataFrame) = Staging.scoped {
      Dedup.dedupSegmentsKeepFirst(df, "doc_id", "text", w = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    }
    assert(seg(d) == seg(d.repartition(7)))
    def tri(df: org.apache.spark.sql.DataFrame) = Staging.scoped {
      TextAnalysis.sourceTriage(df, "source", "doc_id", "text",
          w = 6, minMeanQuality = 0.8, maxRepFraction = 0.1)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getDouble(4), r.getBoolean(5))).toSet
    }
    assert(tri(d) == tri(d.repartition(7)))
  }

  test("sourceTriage mean_quality equals the per-doc quantized quality mean") {
    import spark.implicits._
    val d = docs.limit(60)
    val expected = d
      .select(col("source"),
        floor(TextAnalysis.qualityScore(col("text")) * lit(1e9d))
          .cast("long").as("qu"))
      .groupBy("source").agg(avg(col("qu")).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1) / 1e9).toMap
    val out = Staging.scoped(TextAnalysis.sourceTriage(d, "source", "doc_id", "text",
        w = 8, minMeanQuality = 0.5, maxRepFraction = 0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap)
    assert(out.keySet == expected.keySet)
    out.foreach { case (s, q) =>
      assert(math.abs(q - expected(s)) < 1e-12, s"$s: $q vs ${expected(s)}")
    }
  }

  // ---- cluster-stratified mixture design --------------------------------

  test("composed: train quantizer -> bucket corpus -> per-cluster quota + mixture") {
    import graft.operators.{Clustering, Sampling}
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val total = emb.count()
    // the public quantizer surface: train once, bucket the corpus with the
    // returned matrix (the data-card "topic balance" loop)
    val m = Staging.scoped(Clustering.trainCentroidMatrix(emb, "vec_id", "embedding",
      k = 4, iters = 2))
    val bucketed = Clustering.assignments(emb, "vec_id", "embedding", m)
      .withColumnRenamed("id", "vec_id")
    // every vector lands in exactly one cell, cells within [1, k]
    val perCell = bucketed.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perCell.values.sum == total)
    assert(perCell.keySet.subsetOf((1 to 4).toSet))
    // per-cluster QUOTA: at most 20 per cell, deterministic, a subset
    val quotaed = Sampling.groupQuota(bucketed, col("cell"),
      pmod(xxhash64(col("vec_id")), lit(1000000007L)), col("vec_id"), k = 20)
    val qCells = quotaed.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(qCells.forall { case (c, n) => n == math.min(20L, perCell(c)) })
    val q2 = Sampling.groupQuota(bucketed.repartition(7), col("cell"),
      pmod(xxhash64(col("vec_id")), lit(1000000007L)), col("vec_id"), k = 20)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(q2 == quotaed.select("vec_id").collect().map(_.getLong(0)).toSet)
    // cluster-stratified MIXTURE: equal shares across the 4 cells — the
    // binding (smallest) cell is kept whole, every cell contributes ≤ its
    // share, and the realized mix is bounded by the hash-rate tolerance
    val weights = (1 to 4).map(c => c.toString -> 0.25).toMap
    val mixed = Sampling.mixtureSample(bucketed,
      pmod(xxhash64(col("vec_id")), lit(1000000007L)), col("cell").cast("string"), weights)
    val mixCells = mixed.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val binding = perCell.minBy(_._2)
    assert(mixCells(binding._1) == binding._2,
      "the binding cluster must be kept whole")
    // rate-sampling is exact in expectation: each stratum lands within
    // ~4/sqrt(n) of the binding count (hash-uniform membership)
    mixCells.foreach { case (c, n) =>
      val tol = math.max(4.0, 4.0 * math.sqrt(binding._2.toDouble))
      assert(math.abs(n.toDouble - binding._2.toDouble) <= tol,
        s"cell $c kept $n vs binding ${binding._2} (tol $tol)")
    }
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionScratch.rmTree
import graft.operators.{Dedup, Multimodal, Similarity, Staging, TextAnalysis}

/** Invariant tests for the training-data operators — properties the DuckDB
  * oracle can't check (hash-sketch outputs are engine-specific):
  * approximation quality bounds against the exact baselines, determinism
  * across runs, and plumbing correctness.
  */
class OperatorSpec extends AnyFunSuite with StagingScope {

  lazy val spark: SparkSession = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"
  private def t(name: String) = spark.read.parquet(s"$dir/$name.parquet")

  test("events reads in a fresh session with no prior Tables load") {
    // the nanos conf lives in every session BUILDER now (Tables used to set
    // it as a load side effect, making direct events reads order-dependent)
    val fresh = spark.newSession()
    val ev = new graft.model.Tables(fresh, dir).events
    assert(ev.count() > 0)
    assert(ev.schema("ts").dataType.typeName == "timestamp")
  }

  test("event ts normalizes identically across fixture vintages") {
    // the driver has shipped events.ts as epoch-nanos INT64 (and as
    // TIMESTAMP(NANOS), which the nanosAsLong conf surfaces as the same
    // LongType) and as TIMESTAMP(MICROS) — Tables.normalizeEventTs must
    // land every vintage on the same session-zoned timestamps
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_tsvintage_").toString
    try {
      val micros = Seq(1706659032194062L, 0L, 1700000000123456L)
      micros.map(u => Tuple1(u * 1000L)).toDF("ts")
        .write.parquet(s"$work/longs/events.parquet")
      micros.map(u => Tuple1(new java.sql.Timestamp(u / 1000)))
        .toDF("ts").withColumn("ts", col("ts").cast("timestamp_ntz"))
        .write.parquet(s"$work/ntz/events.parquet")
      def readBack(sub: String): Seq[Long] = {
        val df = new graft.model.Tables(spark, s"$work/$sub").events
        assert(df.schema("ts").dataType.typeName == "timestamp", sub)
        df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq
      }
      // the NTZ fixture only carries millis through java.sql.Timestamp here,
      // so compare at milli precision (the long fixture keeps full micros)
      assert(readBack("longs") == micros.sorted)
      assert(readBack("ntz") == micros.map(u => u / 1000 * 1000).sorted)
    } finally rmTree(work)
  }

  test("incremental index equals the monolithic minhash run on the delta slice") {
    import graft.operators.IncrementalDedup
    val docs = t("documents")
    val work = java.nio.file.Files.createTempDirectory("graft_incidx_spec_").toString
    try {
      val corpus0 = docs.filter(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 3)
      val delta1 = docs.filter(col("doc_id") % 4 === 2)
      val delta2 = docs.filter(col("doc_id") % 4 === 0)

      def monolithicTouching(batchMod: Int): Set[(Long, Long, Double)] =
        Dedup.minhashPairs(docs, "doc_id", "text", jaccardThreshold = 0.2)
          .filter(col("id_a") % 4 === batchMod || col("id_b") % 4 === batchMod)
          // restrict the OTHER side to ids already ingested at that point:
          // delta1 queries corpus0+delta1 (mod 0 not yet ingested)
          .filter(if (batchMod == 2)
            col("id_a") % 4 =!= 0 && col("id_b") % 4 =!= 0 else lit(true))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

      IncrementalDedup.buildIndex(corpus0, "doc_id", "text", work)
      val inc1 = IncrementalDedup
        .newBatchPairs(delta1, "doc_id", "text", work, jaccardThreshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(inc1 == monolithicTouching(2),
        s"delta1 pairs diverge: inc=${inc1.size} mono=${monolithicTouching(2).size}")
      assert(inc1.nonEmpty, "fixture self-check: the delta slice has near-dups")

      // appending delta1 must make it visible to delta2's query — the
      // composed result again equals the monolithic run's restriction
      IncrementalDedup.appendBatch(delta1, "doc_id", "text", work)
      val inc2 = IncrementalDedup
        .newBatchPairs(delta2, "doc_id", "text", work, jaccardThreshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(inc2 == monolithicTouching(0),
        s"delta2 pairs diverge: inc=${inc2.size} mono=${monolithicTouching(0).size}")

      // keep-list: a kept doc has no pair at all; a dropped doc pairs with
      // an indexed id or a lower batch id
      val kept = IncrementalDedup
        .newKeepList(delta2, "doc_id", "text", work, jaccardThreshold = 0.2)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val deltaIds = delta2.select("doc_id").collect().map(_.getLong(0)).toSet
      val dropped = deltaIds -- kept
      dropped.foreach { id =>
        assert(inc2.exists(p =>
          (p._2 == id && (p._1 % 4 != 0 || deltaIds.contains(p._1))) ||
            (p._1 == id && p._2 % 4 != 0)), s"doc $id dropped without cause")
      }
      kept.foreach { id =>
        assert(!inc2.exists(p => p._2 == id || (p._1 == id && p._2 % 4 != 0)),
          s"doc $id kept despite a dup pair")
      }
    } finally rmTree(work)
  }

  test("incremental ANN index equals the monolithic cosine run on the delta slice") {
    import graft.operators.{IncrementalAnn, Similarity}
    val emb = t("embeddings")
    val work = java.nio.file.Files.createTempDirectory("graft_incann_spec_").toString
    try {
      val corpus0 = emb.filter(col("vec_id") % 4 === 1 || col("vec_id") % 4 === 3)
      val delta1 = emb.filter(col("vec_id") % 4 === 2)
      val delta2 = emb.filter(col("vec_id") % 4 === 0)

      // explicit numPlanes on both sides: the monolithic run then skips
      // its governor and bands at the same width as the index, so the
      // candidate sets (and the exact-cosine verify) must agree exactly
      def monolithicTouching(batchMod: Int): Set[(Long, Long, Double)] =
        Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", dim = 64,
            threshold = 0.2, numPlanes = 8)
          .filter(col("id_a") % 4 === batchMod || col("id_b") % 4 === batchMod)
          .filter(if (batchMod == 2)
            col("id_a") % 4 =!= 0 && col("id_b") % 4 =!= 0 else lit(true))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

      IncrementalAnn.buildIndex(corpus0, "vec_id", "embedding", dim = 64,
        path = work, numPlanes = 8)
      val inc1 = IncrementalAnn
        .newBatchPairs(delta1, "vec_id", "embedding", work, threshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(inc1 == monolithicTouching(2),
        s"ann delta1 diverges: inc=${inc1.size} mono=${monolithicTouching(2).size}")
      assert(inc1.nonEmpty, "fixture self-check: the delta slice has near-dups")

      IncrementalAnn.appendBatch(delta1, "vec_id", "embedding", work)
      val inc2 = IncrementalAnn
        .newBatchPairs(delta2, "vec_id", "embedding", work, threshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(inc2 == monolithicTouching(0),
        s"ann delta2 diverges: inc=${inc2.size} mono=${monolithicTouching(0).size}")
    } finally rmTree(work)
  }

  /** Runs `body` on a new thread, which starts with no staging scope. */
  private def onFreshThread[T](body: => T): Either[Throwable, T] = {
    var out: Either[Throwable, T] = null
    val th = new Thread(() =>
      out = try Right(body) catch { case e: Throwable => Left(e) })
    th.start()
    th.join()
    out
  }

  test("staging persists register and release through Staging") {
    val docs = t("documents")
    val scope = Staging.scoped {
      Dedup.shingleFrame(docs, "doc_id", "text", 3).count()
      assert(Staging.currentScope.frames.size >= 2) // toks + shingles stages
      assert(Staging.liveCount == Staging.currentScope.frames.size)
      Staging.currentScope
    }
    assert(scope.frames.isEmpty)
    assert(Staging.liveCount == 0)
    // outside a scope staging throws; a new thread inherits no scope
    onFreshThread(Dedup.shingleFrame(docs, "doc_id", "text", 3)) match {
      case Left(e: IllegalStateException) =>
        assert(e.getMessage.contains("Staging.scoped"), e.getMessage)
      case other => fail(s"staging outside a scope gave $other")
    }
    assert(Staging.liveCount == 0)
  }

  test("a nested staging scope releases only its own frames") {
    import Staging.Stageable
    val outer = spark.range(10).toDF("id").stagePersist()
    val (innerScope, inner) = Staging.scoped {
      val inner = spark.range(20).toDF("id").stagePersist()
      // a plan the outer scope already holds is read from its cache, not
      // taken over: the inner exit must leave it cached
      spark.range(10).toDF("id").stagePersist().count()
      assert(Staging.currentScope.frames == Seq(inner))
      (Staging.currentScope, inner)
    }
    assert(innerScope.frames.isEmpty)
    assert(inner.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(outer.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    assert(Staging.currentScope.frames == Seq(outer))
  }

  test("public index writers called outside any scope leave no staged frame") {
    import graft.operators.{IncrementalDedup, IndexMaintenance, Retrieval}
    val docs = t("documents")
    val work = java.nio.file.Files.createTempDirectory("graft_unscoped_").toString
    try {
      val live = onFreshThread {
        Retrieval.buildPostingsIndex(docs, "doc_id", "text", s"$work/post")
        IncrementalDedup.buildIndex(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", s"$work/d")
        IncrementalDedup.appendBatch(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", s"$work/d")
        IncrementalDedup.retract(spark, s"$work/d",
          docs.filter(col("doc_id") < 5).select("doc_id"))
        IndexMaintenance.compactDedupIndex(spark, s"$work/d")
        Staging.liveCount
      }
      assert(live == Right(0), s"after the writers: $live")
    } finally rmTree(work)
  }

  test("heavyDupSetMass's probe memo does not outlive its scope") {
    val docs = t("documents")
    val scope = Staging.scoped {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text").count()
      assert(Staging.currentScope.memoSize == 1)
      Staging.currentScope
    }
    assert(scope.memoSize == 0 && scope.frames.isEmpty)
    assert(Staging.currentScope.memoSize == 0)
  }

  test("one way to persist: src/main persists and releases only through Staging") {
    import scala.jdk.CollectionConverters._
    val raw = "\\.persist\\(|\\.cache\\(\\)|unpersist\\(|releaseAll\\(\\)".r
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft"))
    val offenders = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Staging.scala")
      .filter(p => raw.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toList.sorted
    finally walk.close()
    assert(offenders.isEmpty, s"persist or release outside Staging in: $offenders")
  }

  test("widen raises LARGE narrow scans to the core count; small and wide frames pass through") {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    // a coalesce(1) frame models the single-file / single-row-group scan:
    // every narrow stage downstream would run as ONE task without the
    // floor. 10M longs ≈ 80 MB of stats — far past the 4 MB floor.
    val narrow = spark.range(10000000L).toDF("id").coalesce(1)
    assert(narrow.rdd.getNumPartitions == 1)
    val widened = graft.operators.Staging.widen(narrow)
    assert(widened.rdd.getNumPartitions == cores)
    // rows survive the round-robin exchange untouched
    assert(widened.agg(sum("id")).as[Long].head() == 9999999L * 10000000L / 2)
    // a SMALL narrow frame stays narrow: the repartition (plus the probe
    // itself) costs more than gate-scale serialization — the r8 bench
    // regression this threshold fixed (q_pipeline_hygiene 1.71 → 1.00 s)
    val small = spark.range(1000).toDF("id").coalesce(1)
    assert(graft.operators.Staging.widen(small).rdd.getNumPartitions == 1)
    // the sf1 regime the 4 MB floor exists for: a mid-size (~8 MB)
    // narrow frame widens — the original 64 MB floor left exactly this
    // shape serialized (q_dedup_semantic 520 s at sf1)
    val mid = spark.range(1000000L).toDF("id").coalesce(1)
    assert(graft.operators.Staging.widen(mid).rdd.getNumPartitions == cores)
    // ... and a half-wide frame (cores/2 splits — sf1's 16-file scans on
    // 32 cores) widens too under the strict splits < cores condition
    val half = spark.range(10000000L).toDF("id").repartition(cores / 2)
    assert(graft.operators.Staging.widen(half).rdd.getNumPartitions == cores)
    // an already-wide frame is returned as-is (identity at cluster scale)
    val wide = spark.range(10000000L).toDF("id").repartition(cores)
    assert(graft.operators.Staging.widen(wide).rdd.getNumPartitions == cores)
  }

  test("minhash candidates ⊇ high-jaccard exact pairs (recall on strong dups)") {
    val docs = t("documents")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashPairs(docs, "doc_id", "text", jaccardThreshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every minhash-verified pair IS an exact pair (verification is exact)…
    assert(mh.subsetOf(exact))
    // …and banding recalls the majority of strong duplicates
    if (exact.nonEmpty)
      assert(mh.size.toDouble / exact.size >= 0.5,
        s"minhash recalled ${mh.size}/${exact.size}")
  }

  test("prefix filtering is lossless: equals the full inverted-index join") {
    val docs = t("documents")
    for (th <- Seq(0.2, 0.5)) {
      val got = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", threshold = th)
        .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
      val exp = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = th)
        .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
      assert(got == exp, s"prefix filter lost/invented pairs at t=$th")
    }
  }

  test("segment dedup over a shared pre-filtered grid equals the direct form") {
    // the q_curate seam: one grid over ALL docs, filtered to a survivor
    // subset, must give exactly the direct per-subset computation —
    // including winners that the excluded docs must NOT steal
    val docs = t("documents")
    val survivors = docs.filter(col("doc_id") % 3 =!= 0)
    val direct = Dedup.dedupSegmentsKeepFirst(survivors, "doc_id", "text", w = 8)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val gridAll = graft.operators.TextAnalysis
      .chunkByTokens(docs, "doc_id", "text", window = 8, stride = 8)
      .select(col("doc_id").as("id"), col("chunk_id"),
        graft.functions.VectorFunctions.fingerprint64(col("chunk_text")).as("fp"))
    val gridSurv = gridAll.join(
      survivors.select(col("doc_id").as("id")), Seq("id"), "left_semi")
    val shared = Dedup.dedupSegmentsKeepFirstFromGrid(survivors, "doc_id",
        "text", w = 8, grid = gridSurv)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(shared == direct)
  }

  test("ngram pairs: exact-dup-set collapse is output-identical (both orders)") {
    // a dup-heavy corpus: clone groups (identical text, distinct ids, with
    // the clone's id sometimes LOWER than a cross-group partner's so the
    // expansion's least/greatest reordering is exercised), genuine
    // near-dups ACROSS groups, short docs (1 shingle) and empty docs
    // (0 shingles) — the intra-pair floor cases
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 1
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // clone of 1
      (11L, "alpha beta gamma delta epsilon zeta eta theta"), // clone of 1
      (3L, "one two three"), // exactly 1 shingle
      (4L, "one two three"), // its clone (1-shingle group)
      (5L, "x y"), // 0 shingles (< n tokens)
      (6L, "x y"), // 0-shingle clone group
      (7L, "completely different text about other things entirely"))
    import spark.implicits._
    val docs = base.toDF("doc_id", "text")
    for (mc <- Seq(1, 2)) Staging.scoped {
      val sh = Dedup.shingleFrame(docs, "doc_id", "text", 3)
      def run(collapse: Boolean) =
        Dedup.ngramJaccardPairsFrom(sh, threshold = 0.2, minCommon = mc,
            maxDf = None, dupCollapse = Some(collapse))
          .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
      val direct = run(false)
      val collapsed = run(true)
      // compact diff in the message: the driver environment keeps only a
      // short stdout tail, so a bare "was not equal" is undiagnosable
      // there — name the rows each side is missing instead
      if (collapsed != direct) {
        val d = direct.toSet
        val c = collapsed.toSet
        fail(s"collapse changed the pair set at minCommon=$mc: " +
          s"missing=${(d -- c).take(3)} extra=${(c -- d).take(3)} " +
          s"nDirect=${direct.size} nCollapsed=${collapsed.size}")
      }
      // the fixture's clone groups MUST produce intra pairs (1,10),(1,11),
      // (10,11) at jaccard 1.0 — guard against a vacuous equality
      val ones = direct.filter(_(2) == 1.0d).map(r => (r(0), r(1))).toSet
      assert(Set((1L, 10L), (1L, 11L), (10L, 11L)).subsetOf(
        ones.asInstanceOf[Set[(Long, Long)]]))
      // 1-shingle clones pair only when minCommon admits them; 0-shingle
      // clones never pair (no shared posting exists on the direct path)
      val pairIds = direct.map(r => (r(0), r(1))).toSet
      assert(pairIds.contains((3L, 4L)) == (mc <= 1))
      assert(!pairIds.contains((5L, 6L)))
    }
    // the PROBE fires on this dup-heavy corpus and the auto path still
    // matches the forced-direct path end-to-end
    val auto = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        threshold = 0.2, minCommon = 2)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val sh2 = Dedup.shingleFrame(docs, "doc_id", "text", 3)
    val direct2 = Dedup.ngramJaccardPairsFrom(sh2, 0.2, 2, None, Some(false))
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    if (auto != direct2) {
      val d = direct2.toSet
      val a = auto.toSet
      fail(s"auto path diverged from forced-direct: " +
        s"missing=${(d -- a).take(3)} extra=${(a -- d).take(3)} " +
        s"nDirect=${direct2.size} nAuto=${auto.size}")
    }
  }

  test("ngram maxDf candidates are a subset of the unfiltered pairs") {
    val docs = t("documents")
    def pairs(cap: Option[Int]) =
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.3, maxDf = cap)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(None)
    val capped = pairs(Some(20))
    assert(capped.subsetOf(full))
  }

  test("minhash: empty/short docs generate no candidate pairs (no sentinel hot bucket)") {
    // Before the fix, every doc with < shingleSize tokens got the constant
    // Long.MaxValue sentinel signature, so a corpus of 10k short docs would
    // collapse into ONE quadratic bucket (~50M pairs). They must be excluded
    // from candidate generation entirely.
    val docs = spark.range(10000).select(col("id").as("doc_id"),
      when(col("id") % 2 === 0, lit("")).otherwise(lit("word")).as("text"))
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", jaccardThreshold = 0.0)
    assert(pairs.count() == 0)
  }

  test("IVF ANN recall ≥ 0.9 vs brute force (sf0.01) and deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def ivf() = Similarity.ivfTopK(emb, q, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ivf()
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.9, s"IVF recalled ${(brute & got).size}/${brute.size} = $recall")
    assert(got == ivf()) // centroid build + probe is run-to-run stable
  }

  test("IVF-cell index: route == ivfTopK; lifecycle append/retract/compact") {
    import spark.implicits._
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 8)
    val work = java.nio.file.Files.createTempDirectory("graft_ivfidx_").toString
    def rows(df: => org.apache.spark.sql.DataFrame) = Staging.scoped {
      df.orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    }
    try {
      // ROUTE EQUALITY: same corpus, same nlist/iters/replicas →
      // deterministic training gives the same codebook, so the store
      // probe equals the in-memory operator row-for-row (incl. cosines)
      IvfIndex.buildIndex(emb, "vec_id", "embedding", dim = 64,
        path = s"$work/a", nlist = 16, iters = 2, assignReplicas = 3)
      val viaIndex = rows(IvfIndex.topK(q, "vec_id", "embedding",
        s"$work/a", k = 3, nprobe = 4))
      val viaOp = rows(Similarity.ivfTopK(emb, q, "vec_id", "embedding",
        k = 3, nlist = 16, nprobe = 4))
      assert(viaIndex == viaOp, "store route must equal ivfTopK bitwise")

      // LIFECYCLE: build half, append half under the frozen codebook,
      // replay the append (must change nothing), retract the second
      // half (must restore the pre-append answer), compact (bit-identical
      // + physical vacuum)
      val h1 = emb.filter(col("vec_id") % 2 === 1)
      val h2 = emb.filter(col("vec_id") % 2 === 0 && col("vec_id") >= 8)
      IvfIndex.buildIndex(h1, "vec_id", "embedding", 64, s"$work/b",
        nlist = 16, iters = 2, assignReplicas = 3)
      val only1 = rows(IvfIndex.topK(q, "vec_id", "embedding", s"$work/b", k = 3))
      IvfIndex.appendBatch(h2, "vec_id", "embedding", s"$work/b")
      val both = rows(IvfIndex.topK(q, "vec_id", "embedding", s"$work/b", k = 3))
      assert(both != only1, "fixture self-check: the append changes neighbors")
      IvfIndex.appendBatch(h2, "vec_id", "embedding", s"$work/b") // replay
      assert(rows(IvfIndex.topK(q, "vec_id", "embedding", s"$work/b", k = 3))
        == both, "a replayed append must not change probes")
      IvfIndex.retract(spark, s"$work/b", h2.select("vec_id"))
      assert(rows(IvfIndex.topK(q, "vec_id", "embedding", s"$work/b", k = 3))
        == only1, "retracting the appended batch must restore the old answer")
      IvfIndex.compact(spark, s"$work/b")
      assert(rows(IvfIndex.topK(q, "vec_id", "embedding", s"$work/b", k = 3))
        == only1, "compaction must be bit-identical")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$work/b/tombstones")))
      val h2ids = h2.select("vec_id").collect().map(_.getLong(0)).toSet
      assert(spark.read.parquet(s"$work/b/cells")
        .filter(col("id").isin(h2ids.toSeq: _*)).count() == 0L,
        "vacuum must drop retracted assignment rows physically")

      // torn build (no iparams) fails loudly
      val torn = s"$work/torn"
      new java.io.File(torn).mkdirs()
      spark.read.parquet(s"$work/a/cells").limit(1)
        .write.parquet(s"$torn/cells")
      val e = intercept[IllegalArgumentException] {
        IvfIndex.topK(q, "vec_id", "embedding", torn, k = 3)
      }
      assert(e.getMessage.contains("iparams missing"))
    } finally rmTree(work)
  }

  test("IVF Lloyd update collects ≤ nlist rows; seeding is bounded and stable") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val c = emb.select(col("vec_id").as("n_id"),
      col("embedding").cast("array<double>").as("n_vec"))
    val nlist = 16
    val seeds = Similarity.farthestPointSeeds(c, nlist)
    assert(seeds.length == nlist)
    assert(seeds.map(_.toSeq).distinct.length == nlist) // greedy never repeats a seed
    // seeding is content-addressed → identical on a re-run
    assert(Similarity.farthestPointSeeds(c, nlist).map(_.toSeq).toSeq ==
      seeds.map(_.toSeq).toSeq)
    // the ONLY frame the trainer collects: one mean row per non-empty cluster
    val assigned = c.withColumn("cluster",
      (abs(xxhash64(col("n_id"))) % nlist + 1).cast("int"))
    val means = Similarity.lloydMeans(assigned)
    assert(means.count() <= nlist)
    // means carry full-dim arrays (no per-coordinate rows reach the driver)
    assert(means.head().getSeq[Double](1).length == 64)
  }

  test("multi-table LSH ANN recall ≥ 0.9 vs brute force (sf0.01)") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, q, "vec_id", "embedding", dim = 64, k = 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"LSH recalled ${(brute & lsh).size}/${brute.size} = $recall")
  }

  test("minhash signatures are deterministic across runs") {
    val docs = t("documents")
    def sigs() = Dedup.shingleFrame(docs, "doc_id", "text", 3)
      .withColumn("sig", Dedup.minhashSignature(col("sh"), 16))
      .select("id", "sig").collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(sigs() == sigs())
  }

  test("simhash pairs respect the hamming bound") {
    val pairs = Dedup.simhashPairs(t("documents"), "doc_id", "text", maxHamming = 6)
      .collect()
    pairs.foreach(r => assert(r.getAs[Int]("hamming") <= 6))
  }

  test("exact simhash (8-block/2-combo) equals brute-force hamming pairs") {
    val docs = t("documents")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val op = pairSet(Dedup.simhashPairsExact(docs, "doc_id", "text", maxHamming = 6))
    // independent reference: all-pairs bit_count over the signature frame
    val sigs = Dedup.simhashSigs(docs, "doc_id", "text")
    val a = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
    val brute = pairSet(a.join(b, col("id_a") < col("id_b"))
      .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= 6))
    assert(op == brute, s"op=${op.size} brute=${brute.size} " +
      s"missing=${(brute -- op).size} extra=${(op -- brute).size}")
    // the cheap wide-chunk mode is a subset (its recall is partial by design)
    val approx = pairSet(Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6))
    assert(approx.subsetOf(op))
  }

  test("public percentile surface plans the sketch, never the exact buffer") {
    val ev = new graft.model.Tables(spark, dir).events
    val df = graft.operators.Quantiles.groupPercentiles(
      ev, col("event_type"), col("value"), Seq(0.5, 0.9))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("percentile_approx"), s"sketch missing:\n$plan")
    // exact `percentile(` must not appear (negative-lookbehind excludes
    // the sketch's own `percentile_approx(`, which cannot match `(`)
    assert("(?<![_a-z])percentile\\(".r.findFirstIn(plan).isEmpty,
      s"exact percentile in public plan:\n$plan")
  }

  test("exact percentile is confined to the gate harness file") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val txt = java.nio.file.Files.readString(p)
        "(?<![_a-z])percentile\\(".r.findFirstIn(txt).isDefined
      }
      .map(_.getFileName.toString).toList.sorted
    // the ONLY file allowed to plan the exact aggregate is the driver-gate
    // harness that judges the sketch at bounded gate scale
    assert(offenders == List("StreamQueries.scala"),
      s"exact percentile leaked into: $offenders")
  }

  test("sequence packing: bins are shard-local, ordered, and budget-bounded") {
    val docs = t("documents")
    val packed = graft.operators.Packing
      .packByBudget(docs, "doc_id", "text", budget = 256, shards = 4)
      .collect()
    assert(packed.length == docs.count())
    // a bin never crosses shards (bin ≡ shard mod shards)
    packed.foreach(r =>
      assert(r.getAs[Long]("bin") % 4L == r.getAs[Long]("shard")))
    // within a bin, the FIRST doc starts below the budget boundary (a doc
    // may overflow past it, but a bin is never opened past the boundary)
    packed.groupBy(_.getAs[Long]("bin")).foreach { case (bin, rows) =>
      val localStart = rows.map(_.getAs[Long]("pos")).min
      assert(localStart / 256 == bin / 4L,
        s"bin $bin opened at pos $localStart")
    }
    // deterministic
    val again = graft.operators.Packing
      .packByBudget(docs, "doc_id", "text", budget = 256, shards = 4)
      .collect().map(_.toSeq).toSet
    assert(again == packed.map(_.toSeq).toSet)
  }

  test("ngram auto path stays on the inverted index for a benign corpus") {
    val chosen = Dedup.ngramJaccardPairsAutoChosen(t("documents"), "doc_id", "text")
    assert(chosen.path == "inverted", s"avgPartners=${chosen.avgPartners}")
    assert(chosen.avgPartners > 0.0)
  }

  test("ngram auto path flips to prefix on a hot-shingle corpus, same output") {
    import spark.implicits._
    // 60 docs sharing a 44-token boilerplate + 3 unique tokens each:
    // every boilerplate shingle has df=60, so Σdf²/Σdf ≈ 55 ≫ 32
    val boiler = (1 to 44).map(i => s"w$i").mkString(" ")
    val docs = (1L to 60L).map(i => (i, s"$boiler u${i}a u${i}b u${i}c"))
      .toDF("doc_id", "text")
    val chosen = Dedup.ngramJaccardPairsAutoChosen(docs, "doc_id", "text",
      n = 3, threshold = 0.2)
    assert(chosen.path == "prefix",
      s"avgPartners=${chosen.avgPartners} skew=${chosen.skew}")
    assert(chosen.skew > 4.0, "hot minority must register as df skew")
    val auto = chosen.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == plain, "prefix and inverted paths must agree exactly")
    assert(auto.nonEmpty)
  }

  test("ngram auto path degrades to the df cap on an intractable corpus, loudly") {
    import spark.implicits._
    // 300 docs share a 44-token boilerplate (42 pure-boiler shingles at
    // df=300 — hot AND df-skewed, so prefix gets nominated; at τ=0.2 the
    // per-doc prefix keeps ~38 of 46 shingles, so the PROBED prefix
    // index still carries the boilerplate and its Σdf² blows the
    // capFactor=64 budget: both exact paths are intractable BY
    // MEASUREMENT), plus 10 twin pairs whose bodies are unique (df=2
    // shingles — under any cap). The capped tier must (a) report the cap
    // and the exact dropped counts, (b) still find the pairs whose
    // overlap survives the cap, (c) never inflate a Jaccard.
    val boiler = (1 to 44).map(i => s"w$i").mkString(" ")
    val hot = (1L to 300L).map(i => (i, s"$boiler u${i}a u${i}b u${i}c u${i}d"))
    val twins = (1L to 10L).flatMap(j => Seq(
      (1000L + 2 * j, s"t${j}a t${j}b t${j}c t${j}d t${j}e t${j}f"),
      (1001L + 2 * j, s"t${j}a t${j}b t${j}c t${j}d t${j}e t${j}f")))
    val docs = (hot ++ twins).toDF("doc_id", "text")
    val chosen = Dedup.ngramJaccardPairsAutoChosen(docs, "doc_id", "text",
      n = 3, threshold = 0.2, capFactor = 64.0)
    assert(chosen.path == "capped", s"avgPartners=${chosen.avgPartners}")
    assert(chosen.cappedDf.exists(_ >= 2))
    assert(chosen.droppedShingles == 42L, s"dropped=${chosen.droppedShingles}")
    assert(chosen.droppedPostings == 42L * 300, s"dropped=${chosen.droppedPostings}")
    val pairs = chosen.pairs.collect()
    val twinPairs = (1L to 10L).map(j => (1000L + 2 * j, 1001L + 2 * j)).toSet
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == twinPairs,
      "the cap must keep exactly the pairs whose overlap is under-cap")
    // full set sizes in the denominator: identical twins score exactly 1.0
    assert(pairs.forall(_.getDouble(2) == 1.0))
  }

  test("packing bin ids never alias across shards, past any bin count") {
    import graft.operators.Packing.binId
    // the exact case a fixed-width encoding (shard*1e6+idx) got wrong:
    // shard 0 at index 1_000_001 collided with shard 1 at index 1
    assert(binId(0L, 1000001L, 32) != binId(1L, 1L, 32))
    // injectivity across a grid spanning the 1e6-bins-per-shard boundary
    val shards = 32
    val grid = for {
      s <- 0L until shards.toLong
      i <- Seq(0L, 1L, 999999L, 1000000L, 1000001L, 1L << 40, (1L << 40) + 7)
    } yield (s, i)
    val ids = grid.map { case (s, i) => binId(s, i, shards) }
    assert(ids.distinct.length == grid.length, "bin id aliasing detected")
    // id recovers both coordinates
    grid.foreach { case (s, i) =>
      val id = binId(s, i, shards)
      assert(id % shards == s && id / shards == i)
    }
  }

  test("split assignment is a pure function of content (copies co-travel)") {
    import org.apache.spark.sql.functions.lit
    val docs = t("documents")
    val s1 = docs.select(col("doc_id"),
      graft.operators.Sampling.assignSplit(
        TextAnalysis.fingerprint(col("text")), 0.9, 0.05).as("split"))
    val frac = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(frac("train") / n > 0.8 && frac("train") / n < 0.97)
    assert(frac.getOrElse("val", 0L) + frac.getOrElse("test", 0L) > 0)
    // identical text ⇒ identical split, regardless of id
    val dup = docs.limit(1).select(lit(999999L).as("doc_id"), col("text"))
    val orig = s1.filter(col("doc_id") === 0).collect()(0).getString(1)
    val copy = dup.select(graft.operators.Sampling.assignSplit(
      TextAnalysis.fingerprint(col("text")), 0.9, 0.05).as("split"))
      .collect()(0).getString(0)
    assert(orig == copy)
  }

  test("exact dedup keeps one row per distinct text") {
    val docs = t("documents")
    val kept = Dedup.exact(docs, "doc_id", "text")
    assert(kept.count() == docs.select(lower(col("text"))).distinct().count())
  }

  test("brute-force knn: rank 1 is the max-cosine neighbor") {
    val emb = t("embeddings")
    val q = emb.filter(col("vec_id") === 0)
    val top = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
    assert(top.length == 3)
    assert(top.map(_.getAs[Double]("cos")).sliding(2).forall(p => p(0) >= p(1)))
    assert(top.forall(_.getAs[Long]("n_id") != 0L)) // self excluded
  }

  test("LSH ANN results ⊆ brute-force rankable set and self-consistent") {
    val emb = t("embeddings")
    val q = emb.filter(col("vec_id") < 4)
    val lsh = Similarity.lshTopK(emb, q, "vec_id", "embedding", dim = 64, k = 3,
      numPlanes = 4).collect()
    // same-bucket by construction: each query finds itself rank-excluded
    assert(lsh.forall(r => r.getAs[Long]("q_id") != r.getAs[Long]("n_id")))
    // ranks are 1..k contiguous per query
    lsh.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.sameElements(1L to rows.length))
    }
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val pairs = Similarity.cosineNearDupPairs(t("embeddings"), "vec_id", "embedding",
      dim = 64, threshold = 0.5, numPlanes = 4).collect()
    pairs.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      assert(r.getAs[Double]("cos") >= 0.5)
    }
  }

  test("LSH signature frame: any plane count is the low bits of the wide frame") {
    // the escalation governor relies on this: widening the persisted
    // frame (24 → 40 for headroom) must NOT change the bucket at any
    // smaller plane count — plane p draws the same gaussians regardless
    // of how many planes follow it (row-major fill from one seed), so
    // the p-plane bucket is exactly the low p bits. Pin the boundary
    // (24), the old default's interior, and a past-the-old-ceiling width.
    val emb = t("embeddings").limit(50)
    val frame = Similarity.hyperplaneBucket(col("embedding").cast("array<double>"),
      dim = 64, numPlanes = 40, seed = 42L)
    Seq(4, 17, 24, 31).foreach { p =>
      val direct = Similarity.hyperplaneBucket(col("embedding").cast("array<double>"),
        dim = 64, numPlanes = p, seed = 42L)
      val mismatches = emb.select(
        (frame.bitwiseAND(lit((1L << p) - 1)) =!= direct).as("bad"))
        .filter(col("bad")).count()
      assert(mismatches == 0, s"low-$p bits of the 40-plane frame diverge")
    }
  }

  test("native hyperplane kernel is bit-identical to the composed construction") {
    // the codegen'd HyperplaneSigs kernel (plane matrix as a reference
    // object) must reproduce the literal-composed column exactly — same
    // per-table RNG stream, same row-major fill, same sequential dot fold
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val emb = t("embeddings").limit(100)
    Seq((40, 16), (4, 2), (31, 3)).foreach { case (p, tbl) =>
      val mismatches = emb.select(
        (Similarity.bucketTables(col("embedding").cast("array<double>"), 64, p, tbl, 42L)
          =!= Similarity.bucketTablesComposed(
            col("embedding").cast("array<double>"), 64, p, tbl, 42L)).as("bad"))
        .filter(col("bad")).count()
      assert(mismatches == 0, s"native != composed at planes=$p tables=$tbl")
    }
  }

  test("explicit numPlanes above the old 24-plane ceiling works end-to-end") {
    // governor headroom: callers (and escalation) may now band past 24
    // planes; the signature stays a single long up to 62
    val pairs = Similarity.cosineNearDupPairs(t("embeddings"), "vec_id", "embedding",
      dim = 64, threshold = 0.9, numPlanes = 30).collect()
    pairs.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      assert(r.getAs[Double]("cos") >= 0.9)
    }
  }

  test("connected components: chains collapse, islands stay separate") {
    import spark.implicits._
    // path 1-2-3-4 (one component, min label 1), island pair 10-11,
    // triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L).forall(cc(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(cc(_) == 20L))
  }

  test("connected components fails loudly when rounds are exhausted") {
    import spark.implicits._
    // even with pointer jumping, label reach after 2 rounds is bounded by a
    // small constant — a 4000-node path cannot finish; it must throw rather
    // than silently return partial components
    val chain = (1L to 4000L).sliding(2).map(s => (s.head, s(1))).toSeq
      .toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2).collect()
    }
  }

  test("connected components: 64-node path converges in O(log d) rounds") {
    import spark.implicits._
    // diameter 63 — plain min-propagation would need >25 rounds and throw;
    // pointer jumping must land it comfortably inside the default budget
    val chain = (1L to 64L).sliding(2).map(s => (s.head, s(1))).toSeq
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 64L).forall(cc(_) == 1L))
  }

  test("media resize bounds dimensions; frame sampling stays within target") {
    import org.apache.spark.sql.functions.{concat, lit, when}
    val docs = t("documents")
    val media = graft.operators.Multimodal.documentsAsMedia(spark, docs,
      when(col("doc_id") % 3 === 0, lit("video/mp4"))
        .otherwise(concat(lit("image/"), col("source"))))
    val feats = graft.operators.Multimodal.decodeFeatures(media).toDF()
    val sampled = graft.operators.Multimodal.sampleFrames(
      graft.operators.Multimodal.resizeTo(feats, 256, 256), targetFrames = 4)
    val rows = sampled.collect()
    // resize never exceeds the box and never upscales past the original
    rows.foreach { r =>
      assert(r.getAs[Long]("r_width") <= 256 && r.getAs[Long]("r_height") <= 256)
      assert(r.getAs[Long]("r_width") <= r.getAs[Int]("width"))
    }
    // ≤ target frames per media row; videos (doc_id % 3 == 0) may have many
    val perMedia = rows.groupBy(_.getAs[Long]("mediaId")).view.mapValues(_.length)
    assert(perMedia.values.forall(_ <= 4))
    assert(rows.exists(r => r.getAs[Long]("mediaId") % 3 == 0 && r.getAs[Long]("frame_idx") > 0),
      "no video sampled more than one frame")
  }

  test("nearDupClusters covers every doc and keep-list is one per cluster") {
    val docs = t("documents")
    val cl = Dedup.nearDupClusters(docs, "doc_id", "text")
    assert(cl.count() == docs.count())
    val perCluster = cl.groupBy("cluster")
      .agg(sum(col("keep").cast("long")).as("n_keep")).collect()
    assert(perCluster.forall(_.getAs[Long]("n_keep") == 1L))
  }

  test("deterministic sampling: stable across runs and rate-monotone") {
    import graft.operators.Sampling
    val docs = t("documents")
    val fp = TextAnalysis.fingerprint(col("text"))
    def ids(rate: Double) = docs.filter(Sampling.keepByRate(fp, rate))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val half = ids(0.5)
    assert(half == ids(0.5)) // run-to-run stable
    assert(ids(0.25).subsetOf(half)) // nested: lower rate ⊆ higher rate
    val n = docs.count().toDouble
    assert(math.abs(half.size / n - 0.5) < 0.15) // roughly the asked rate
  }

  test("as-of join equals the correlated most-recent-prior row") {
    import graft.operators.AsOf
    val ev = new graft.model.Tables(spark, dir)("events")
    val l = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
    val r = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("v_id"))
    val got = AsOf.asofJoin(l, r, Seq("user_id"), "ts", Seq("v_id"))
      .select(col("p_id"), col("asof_v_id")).orderBy("p_id").collect()
      .map(x => (x.getLong(0), Option(x.get(1)))).toMap
    // reference computed the quadratic way: theta-join + argmax(ts, v_id)
    val exp = l.join(r.select(col("user_id").as("u2"), col("ts").as("ts2"), col("v_id")),
        col("user_id") === col("u2") && col("ts2") <= col("ts"), "left")
      .groupBy(col("p_id"))
      .agg(max_by(col("v_id"), struct(col("ts2"), col("v_id"))).as("v_id"))
      .collect().map(x => (x.getLong(0), Option(x.get(1)))).toMap
    assert(got.keySet == exp.keySet)
    assert(got == exp)
  }

  test("range join equals the quadratic theta-join reference") {
    import graft.operators.RangeJoin
    val ev = new graft.model.Tables(spark, dir)("events")
    val l = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id").as("e_id"))
    val r = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
    val got = RangeJoin.pairsWithin(l, r, Seq("user_id"), "ts", "ts", 300)
      .groupBy("e_id").agg(count(lit(1)).as("n")).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val exp = l.select(col("user_id").as("u"), unix_micros(col("ts")).as("us_l"), col("e_id"))
      .join(r.select(col("user_id").as("u2"), unix_micros(col("ts")).as("us_r")),
        col("u") === col("u2") && abs(col("us_l") - col("us_r")) <= 300000000L)
      .groupBy("e_id").agg(count(lit(1)).as("n")).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == exp && got.nonEmpty)
  }

  test("HLL approx distinct within relative-error bounds of the exact twin") {
    val events = new graft.model.Tables(spark, dir)("events")
    val approx = events.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("a")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("e")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      val rel = math.abs(approx(k) - e).toDouble / e
      // default rsd is 5%; allow 3σ
      assert(rel <= 0.15, s"HLL estimate for $k off by ${rel * 100}%: ${approx(k)} vs $e")
    }
    // deterministic: same input → same sketch estimate
    val again = events.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("a")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx == again)
  }

  test("approx percentile within rank-error bounds of the exact percentile") {
    val events = new graft.model.Tables(spark, dir)("events")
    val cmp = events.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("exact"),
        expr("approx_percentile(value, 0.5, 100)").as("approx"),
        expr("percentile(value, 0.40)").as("lo"),
        expr("percentile(value, 0.60)").as("hi"))
      .collect()
    // approx_percentile guarantees rank error <= 1/accuracy = 1%; allow
    // the [p40, p60] envelope — generous but catches a broken sketch
    cmp.foreach { r =>
      val a = r.getAs[Double]("approx")
      assert(a >= r.getAs[Double]("lo") && a <= r.getAs[Double]("hi"),
        s"approx p50 ${a} outside [p40, p60] for ${r.getString(0)}")
    }
  }

  test("q_percentile_approx contract query emits all-true bound checks") {
    // mirrors the driver gate exactly: the oracle emits TRUE per group from
    // its own quantile_cont rank windows, so the hash matches iff every
    // Spark-side approx value lands inside its exact ±5%-rank window
    val rows = graft.SparkEntry.queries("q_percentile_approx")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(1) && r.getBoolean(2),
        s"approx percentile outside rank window for ${r.getString(0)}")
    }
  }

  test("langId picks a marker language deterministically") {
    val out = t("documents").select(TextAnalysis.langId(col("text")).as("l"))
      .groupBy("l").count().collect().map(r => r.getString(0)).toSet
    assert(out.subsetOf(Set("en", "es", "de", "fr", "und")))
  }

  test("quality score bounded in [0,1]") {
    val s = t("documents").select(TextAnalysis.qualityScore(col("text")).as("q"))
      .agg(min("q"), max("q")).collect().head
    assert(s.getDouble(0) >= 0.0 && s.getDouble(1) <= 1.0)
  }

  test("repetition metrics: hand-computed fractions on crafted docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a b"),        // 6 toks, 2 distinct; g2 = 5, "a b"×3
      (2L, "x y z"),              // no repetition; each 2-gram unique
      (3L, "w")                   // single token: no 2-grams at all
    ).toDF("id", "text")
    val out = df.select(col("id"),
        TextAnalysis.duplicateTokenFraction(col("text")).as("dup"),
        TextAnalysis.topNgramFraction(col("text"), 2).as("top2"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(math.abs(out(1L)._1 - (1.0 - 2.0 / 6.0)) < 1e-12)
    assert(math.abs(out(1L)._2 - 3.0 / 5.0) < 1e-12)
    assert(out(2L)._1 == 0.0 && math.abs(out(2L)._2 - 0.5) < 1e-12)
    assert(out(3L)._1 == 0.0 && out(3L)._2 == 0.0)
  }

  test("repeated-window removal drops cross-doc and intra-doc repeats, keeps unique text") {
    import spark.implicits._
    val repeat = (1 to 4).map(i => s"w$i").mkString(" ") // 4-token window
    val docs = Seq(
      (1L, s"alpha $repeat omega"),          // shares the window with doc 2
      (2L, s"beta $repeat gamma delta"),
      (3L, s"$repeat x $repeat"),            // intra-doc repetition
      (4L, "totally unique words here only") // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedWindows(docs, "doc_id", "text", w = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("alpha omega", 4L)))
    assert(out(2L) == (("beta gamma delta", 4L)))
    // doc 3: both window starts (0 and 5) covered; token 'x' at index 4 —
    // covered by neither start? start 0 covers 0..3, start 5 covers 5..8;
    // but the window "w2 w3 w4 x" etc. are unique, so only exact repeats go
    assert(out(3L) == (("x", 8L)))
    assert(out(4L) == (("totally unique words here only", 0L)))
  }

  test("top-n-gram run-length fold equals the count-based model on random docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (0 until 60).map { id =>
      val len = rnd.nextInt(25)
      (id.toLong, Seq.fill(len)(s"t${rnd.nextInt(3)}").mkString(" "))
    }
    val n = 2
    val model = docs.map { case (id, t) =>
      val ts = t.trim.toLowerCase.split("\\s+").toSeq
      val grams = if (ts.length < n) Nil
        else (0 to ts.length - n).map(p => ts.slice(p, p + n).mkString(" "))
      val frac = if (grams.isEmpty) 0.0
        else grams.groupBy(identity).values.map(_.size).max.toDouble / grams.size
      id -> frac
    }.toMap
    val staged = docs.toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .select(col("doc_id"), Dedup.ngramsFromTokens(col("toks"), n).as("g"))
    val out = staged
      .select(col("doc_id"), TextAnalysis.topNgramFractionFromGrams(col("g")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    docs.foreach { case (id, _) =>
      assert(math.abs(out(id) - model(id)) < 1e-12, s"doc $id: ${out(id)} vs ${model(id)}")
    }
  }

  test("repeated-window removal matches a brute-force model on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(123)
    (1 to 6).foreach { trial =>
      val w = 2 + rnd.nextInt(3) // 2..4
      val docs = (0 until 15).map { id =>
        val len = rnd.nextInt(30)
        (id.toLong, Seq.fill(len)(s"t${rnd.nextInt(4)}").mkString(" "))
      }
      // reference model: per-token exists() over raw covered starts — the
      // formulation the merged-interval rewrite must stay equal to
      val model: Map[Long, (String, Long)] = {
        val toks = docs.map { case (id, t) =>
          id -> t.trim.toLowerCase.split("\\s+").toSeq
        }.toMap
        val wins = toks.toSeq.flatMap { case (id, ts) =>
          if (ts.length < w) Nil
          else (0 to ts.length - w).map(p => (id, p, ts.slice(p, p + w).mkString(" ")))
        }
        val counts = wins.groupBy(_._3).view.mapValues(_.size).toMap
        val covered = wins.filter(x => counts(x._3) >= 2)
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        toks.map { case (id, ts) =>
          val cov = covered.getOrElse(id, Set.empty[Int])
          val kept = ts.zipWithIndex.collect {
            case (t, i) if !cov.exists(s => i >= s && i < s + w) => t
          }
          id -> (kept.mkString(" "), (ts.length - kept.length).toLong)
        }
      }
      val out = Dedup.removeRepeatedWindows(docs.toDF("doc_id", "text"), "doc_id", "text", w)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(out == model, s"trial $trial (w=$w): mismatch\n got $out\n exp $model")
    }
  }

  private def segRows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, String)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

  test("keep-first segment dedup keeps one canonical copy, drops later occurrences") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),   // both segments are the corpus-first of their text
      (2L, "a b x y"),   // "a b" already seen at (1,0) → dropped; "x y" kept
      (3L, "c d c d"),   // both occurrences lose to (1,1) — doc emptied
      (4L, "z"),         // short doc: one final segment, kept
      (5L, "   ")        // zero tokens → no segments → no output row
    ).toDF("doc_id", "text")
    val out = Staging.scoped(segRows(Dedup.dedupSegmentsKeepFirst(docs, "doc_id", "text", w = 2)))
    assert(out == Map(
      1L -> ((2L, 2L, "a b c d")),
      2L -> ((2L, 1L, "x y")),
      3L -> ((2L, 0L, "")),
      4L -> ((1L, 1L, "z"))))
  }

  test("keep-first segment dedup matches a brute-force model on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(321)
    (1 to 6).foreach { trial =>
      val w = 2 + rnd.nextInt(3) // 2..4
      val docs = (0 until 15).map { id =>
        val len = rnd.nextInt(30)
        (id.toLong, Seq.fill(len)(s"t${rnd.nextInt(4)}").mkString(" "))
      }
      // reference model: the disjoint w-grid per doc, global first
      // occurrence by (doc, chunk) lexicographic order survives
      val model: Map[Long, (Long, Long, String)] = {
        val segs = docs.flatMap { case (id, t) =>
          val ts = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
          ts.grouped(w).zipWithIndex.map { case (g, ci) =>
            (id, ci.toLong, g.mkString(" "))
          }
        }
        val first = segs.groupBy(_._3).view
          .mapValues(_.map(s => (s._1, s._2)).min).toMap
        segs.groupBy(_._1).view.mapValues { ss =>
          val kept = ss.sortBy(_._2).filter(s => first(s._3) == ((s._1, s._2)))
          (ss.size.toLong, kept.size.toLong, kept.map(_._3).mkString(" "))
        }.toMap
      }
      val out = Staging.scoped(segRows(Dedup.dedupSegmentsKeepFirst(
        docs.toDF("doc_id", "text"), "doc_id", "text", w)))
      assert(out == model, s"trial $trial (w=$w): mismatch\n got $out\n exp $model")
    }
  }

  test("decontamination flags exactly the overlapping docs, with counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"), // shares 3 shingles with bench
      (2L, "alpha beta gamma zeta eta"),      // shares 1 shingle
      (3L, "one two three four five")         // shares none
    ).toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma delta epsilon theta").toDF("text")
    val out = graft.operators.Decontaminate
      .flagContaminated(docs, "doc_id", "text", bench, "text", n = 3, minOverlap = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == (3L, true))
    assert(out(2L) == (1L, false))
    assert(out(3L) == (0L, false))
    assert(out.size == 3) // every doc reported exactly once
  }

  test("overlap-fraction decontamination normalizes by document size") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"), // 3 shingles, all 3 shared
      (2L, "alpha beta gamma zeta eta one two three four"), // 7 sh, 1 shared
      (3L, "one two three four five"),        // 3 shingles, 0 shared
      (4L, "tiny doc")                        // 0 shingles → frac 0
    ).toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma delta epsilon theta").toDF("text")
    val out = graft.operators.Decontaminate
      .overlapFraction(docs, "doc_id", "text", bench, "text", n = 3, minFrac = 0.5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(out(1L) == ((3L, 3L, 1.0, true)))
    assert(out(2L) == ((7L, 1L, 1.0 / 7.0, false)))
    assert(out(3L) == ((3L, 0L, 0.0, false)))
    assert(out(4L) == ((0L, 0L, 0.0, false)))
    assert(out.size == 4)
  }

  test("quality model: separable toy trains to 100%, bit-deterministic") {
    import spark.implicits._
    import graft.operators.QualityModel
    // one feature separates the classes cleanly (plus bias)
    val rows = (0 until 40).map { i =>
      val y = i % 2
      (Array(1.0, if (y == 1) 0.9 else 0.1), y)
    }
    val df = rows.toDF("x", "y")
    val w1 = Staging.scoped(QualityModel.trainLogistic(df, col("x"), col("y"), dim = 2))
    val w2 = Staging.scoped(QualityModel.trainLogistic(df, col("x"), col("y"), dim = 2))
    // decimal gradient sums → bit-identical training runs
    assert(w1.toSeq == w2.toSeq)
    assert(w1(1) > 0.0) // the separating feature earns positive weight
    val acc = df.select(
        (when(QualityModel.score(col("x"), w1) >= 0.5, 1).otherwise(0) === col("y"))
          .cast("int").as("ok"))
      .agg(avg(col("ok"))).head().getDouble(0)
    assert(acc == 1.0, s"toy accuracy $acc")
  }

  test("quality model: malformed feature rows fail loudly, not silently") {
    import spark.implicits._
    import graft.operators.QualityModel
    // wrong-length vector → would null out of zip_with and silently drop
    val wrongLen = Seq((Array(1.0, 0.5), 1), (Array(1.0), 0)).toDF("x", "y")
    val e1 = intercept[IllegalArgumentException] {
      QualityModel.trainLogistic(wrongLen, col("x"), col("y"), dim = 2, iters = 1)
    }
    assert(e1.getMessage.contains("size != 2"))
    // null feature element → same guard
    val nullElem = Seq((Array[java.lang.Double](1.0, null), 1),
        (Array[java.lang.Double](1.0, 0.2), 0))
      .toDF("x", "y").select(col("x").cast("array<double>").as("x"), col("y"))
    intercept[IllegalArgumentException] {
      QualityModel.trainLogistic(nullElem, col("x"), col("y"), dim = 2, iters = 1)
    }
  }

  test("novelty scores the share of corpus-unique shingles per doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),   // shingles: a-b-g (shared), b-g-d (unique)
      (2L, "alpha beta gamma epsilon"), // a-b-g (shared), b-g-e (unique)
      (3L, "one two")                   // no shingles
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.novelty(docs, "doc_id", "text", n = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((0L, 0L, 0.0)))
    assert(out.size == 3)
  }

  test("bpe trainer learns the hand-computed merge sequence") {
    import spark.implicits._
    import graft.operators.Bpe
    // low×5, lower×2, newest×6, widest×3 — level-0 top pair count is a
    // 3-way tie at 9 between (e,s), (s,t), (t,</w>); the deterministic
    // (count desc, l, r) order resolves e < s < t, and the next two
    // rounds re-tie at 9 as the merged symbol chains rightward
    val docs = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower newest newest"),
      (3L, "newest newest newest newest"),
      (4L, "widest widest widest")
    ).toDF("doc_id", "text")
    val merges = Bpe.train(docs, col("text"), numMerges = 3)
    assert(merges.map(m => (m.rank, m.left, m.right, m.merged, m.nOcc)) == Seq(
      (0, "e", "s", "es", 9L),
      (1, "es", "t", "est", 9L),
      (2, "est", "</w>", "est</w>", 9L)))
    // application: distinct words segment under the learned merges
    val seg = Bpe.segmentWords(
        Seq("newest", "widest", "low", "lowest").toDF("word"), "word", merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(seg("newest") == Seq("n", "e", "w", "est</w>"))
    assert(seg("widest") == Seq("w", "i", "d", "est</w>"))
    assert(seg("low") == Seq("l", "o", "w", "</w>"))
    assert(seg("lowest") == Seq("l", "o", "w", "est</w>")) // unseen word
    // roundtrip: subword concatenation reconstructs word + </w>
    seg.foreach { case (wrd, sub) =>
      assert(sub.mkString == wrd + Bpe.EOW)
    }
    // per-doc counts under the learned vocabulary: "newest low" = 4 + 4;
    // a doc with zero tokenizable words still appears, with n_bpe = 0
    val counted = Bpe.tokenCount(
        Seq((7L, "newest low"), (8L, "   "), (9L, "")).toDF("doc_id", "text"),
        "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counted(7L) == 8L)
    assert(counted(8L) == 0L)
    assert(counted(9L) == 0L)
    assert(counted.size == 3)
  }

  test("batched bpe: equals sequential on disjoint corpora, K=1 lockstep, conflicts defer") {
    import spark.implicits._
    import graft.operators.Bpe
    // three letter-disjoint pair groups with strictly decreasing counts,
    // each pair split across two word contexts so its CHAINED products
    // (count ≤ 5) rank below the next group's pair — the regime where the
    // batched and sequential merge SEQUENCES must be identical
    def rep(w: String, k: Int) = Seq.fill(k)(w).mkString(" ")
    val disjoint = Seq(
      (1L, rep("xabz", 5) + " " + rep("yabw", 4)), // (a,b): 9
      (2L, rep("ucdv", 4) + " " + rep("mcdn", 4)), // (c,d): 8
      (3L, rep("gefh", 4) + " " + rep("iefj", 3))  // (e,f): 7
    ).toDF("doc_id", "text")
    val seq3 = Bpe.train(disjoint, col("text"), numMerges = 3)
    assert(seq3.map(_.merged) == Seq("ab", "cd", "ef"), s"fixture self-check: $seq3")
    val (bat3, rounds3) = Bpe.trainBatchedRounds(disjoint, col("text"),
      numMerges = 3, batchK = 8)
    assert(bat3 == seq3, s"batched diverged on the disjoint corpus: $bat3")
    assert(rounds3 == 1, s"disjoint top-3 should land in ONE round, took $rounds3")

    // interaction conflict: "ab"×9 puts (a,b) and (b,</w>) both at 9 —
    // they share b, so the batch accepts only (a,b) and the chained
    // (ab,</w>) waits for round 2; the resulting sequence still equals
    // sequential because the conflict rule deferred, not reordered
    val chained = Seq((1L, rep("ab", 9))).toDF("doc_id", "text")
    val seqC = Bpe.train(chained, col("text"), numMerges = 2)
    val (batC, roundsC) = Bpe.trainBatchedRounds(chained, col("text"),
      numMerges = 2, batchK = 8)
    assert(batC == seqC, s"conflict corpus diverged: $batC vs $seqC")
    assert(roundsC == 2, s"shared-symbol candidates must defer a round, took $roundsC")

    // batchK = 1 degenerates to the sequential trainer exactly
    val mixed = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower newest newest"),
      (3L, "newest newest newest newest"),
      (4L, "widest widest widest")
    ).toDF("doc_id", "text")
    assert(Bpe.trainBatched(mixed, col("text"), numMerges = 6, batchK = 1) ==
      Bpe.train(mixed, col("text"), numMerges = 6))
  }

  test("bpe greedy fold is left-to-right; early stop below count 2") {
    import spark.implicits._
    import graft.operators.Bpe
    // "aaa aaa": pair (a,a) count 4 → merged left-to-right as [aa, a]
    val docs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val m1 = Bpe.train(docs, col("text"), numMerges = 1)
    assert(m1 == Seq(Bpe.Merge(0, "a", "a", "aa", 4L)))
    val seg = Bpe.segmentWords(Seq("aaa").toDF("word"), "word", m1)
      .collect().head.getSeq[String](1)
    assert(seg == Seq("aa", "a", "</w>")) // greedy left-to-right, no overlap
    // unconstrained, the trainer keeps compressing (the word repeats, so
    // pair counts hold at 2) until the word is ONE symbol, then stops by
    // itself with no pairs left: exactly 3 merges, not 10
    val m = Bpe.train(docs, col("text"), numMerges = 10)
    assert(m.map(_.merged) == Seq("aa", "a</w>", "aaa</w>"))
    val segFull = Bpe.segmentWords(Seq("aaa").toDF("word"), "word", m)
      .collect().head.getSeq[String](1)
    assert(segFull == Seq("aaa</w>"))
    val tiny = Seq((1L, "ab cd")).toDF("doc_id", "text")
    assert(Bpe.train(tiny, col("text"), numMerges = 5).isEmpty) // all counts 1
  }

  test("bloom decontamination: overlap never undercounts, flags match exact") {
    import spark.implicits._
    import graft.operators.Decontaminate
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma zeta eta"),
      (3L, "one two three four five"),
      (4L, "six seven eight nine ten eleven")
    ).toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma delta epsilon theta").toDF("text")
    val bloom = Decontaminate.benchmarkShingleBloom(bench, "text", n = 3, fpp = 1e-4)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val exact = asMap(Decontaminate.flagContaminated(
      docs, "doc_id", "text", bench, "text", n = 3, minOverlap = 2))
    val viaBloom = asMap(Decontaminate.flagContaminatedBloom(
      docs, "doc_id", "text", bloom, n = 3, minOverlap = 2))
    assert(viaBloom.keySet == exact.keySet)
    // the Bloom contract is ONE-SIDED: the accepted count can exceed the
    // true overlap (deterministic on this fixture: doc 3 takes a single
    // false-positive shingle) but can NEVER undercount — and at the
    // minOverlap threshold the flag decisions agree with exact
    exact.foreach { case (id, (ov, flag)) =>
      assert(viaBloom(id)._1 >= ov, s"doc $id undercounted")
      assert(viaBloom(id)._2 == flag, s"doc $id flag diverged")
    }
    // the scalar-subquery route (the GB-scale path: filter never enters a
    // plan tree) produces the identical result row-for-row
    val bloomFrame = Decontaminate.benchmarkShingleBloomFrame(
      bench, "text", n = 3, fpp = 1e-4)
    val viaFrame = asMap(Decontaminate.flagContaminatedBloomFrame(
      docs, "doc_id", "text", bloomFrame, n = 3, minOverlap = 2))
    assert(viaFrame == viaBloom)
  }

  test("cluster representatives keep the best member, ties to min id") {
    import spark.implicits._
    // cluster 10: quality tie at 7 between ids 3 and 5 → keep 3;
    // cluster 20: strict max at id 9; singleton cluster 30
    val cl = Seq(
      (3L, 10L, 7L), (5L, 10L, 7L), (8L, 10L, 2L),
      (9L, 20L, 4L), (11L, 20L, 1L),
      (12L, 30L, 0L)
    ).toDF("doc_id", "cluster", "q")
    val out = Dedup.clusterRepresentatives(cl, "doc_id", "q")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(10L) == ((3L, 7L, 3L)))
    assert(out(20L) == ((9L, 4L, 2L)))
    assert(out(30L) == ((12L, 0L, 1L)))
    assert(out.size == 3)
  }

  test("redaction scrubs emails/phones/ips and leaves clean text alone") {
    import spark.implicits._
    import graft.operators.Redact
    val df = Seq(
      (1L, "mail bob.smith+x@mail.example.org now"),
      (2L, "call 415-555-0199 or visit 192.168.0.1 twice: 10.0.0.7"),
      (3L, "no pii here, just words and 42 numbers 3.14"),
      // digit runs inside an email attribute to EMAIL, never phone/ip —
      // counters reconcile with the placeholders scrub actually emits
      (4L, "x 555-010-1234@example.com y")
    ).toDF("id", "text")
    val out = df.select(col("id"), Redact.scrub(col("text")).as("c"),
        Redact.emailCount(col("text")).as("e"),
        Redact.phoneCount(col("text")).as("p"),
        Redact.ipCount(col("text")).as("i"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(out(1L) == (("mail <EMAIL> now", 1, 0, 0)))
    assert(out(2L) == (("call <PHONE> or visit <IP> twice: <IP>", 0, 1, 2)))
    assert(out(3L) == (("no pii here, just words and 42 numbers 3.14", 0, 0, 0)))
    assert(out(4L) == (("x <EMAIL> y", 1, 0, 0)))
  }

  test("fingerprint is order-sensitive (rolling, not bag-of-chars)") {
    import spark.implicits._
    val df = Seq((1L, "ab"), (2L, "ba")).toDF("id", "text")
    val fps = df.select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(_.getLong(0))
    assert(fps(0) != fps(1))
  }

  test("native VectorDot/CosineSim match the lambda folds bit-for-bit") {
    import graft.functions.VectorFunctions
    VectorFunctions.ensureRegistered(spark)
    val emb = t("embeddings").select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val a = emb.limit(50).select(col("vec_id").as("ida"), col("v").as("va"))
    val b = emb.limit(50).select(col("vec_id").as("idb"), col("v").as("vb"))
    val pairs = a.crossJoin(b).filter(col("ida") < col("idb"))
    val cmp = pairs.select(
      VectorFunctions.vector_dot(col("va"), col("vb")).as("nd"),
      Similarity.dot(col("va"), col("vb")).as("ld"),
      VectorFunctions.cosine_sim(col("va"), col("vb")).as("nc"),
      Similarity.cosine(col("va"), col("vb")).as("lc"))
      .filter(col("nd") =!= col("ld") || col("nc") =!= col("lc"))
    assert(cmp.count() == 0)
  }

  test("native Fingerprint64 matches the split+aggregate fold bit-for-bit") {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    // the pre-round-4 formulation: per-character array + interpreted lambda
    val foldFp = {
      val chars = filter(split(col("text"), ""), c => c =!= "")
      aggregate(chars, lit(0L), (acc, c) => (acc * 31L + ascii(c)) % 1000000007L)
    }
    val cmp = t("documents").select(
      TextAnalysis.fingerprint(col("text")).as("native"), foldFp.as("folded"))
      .filter(col("native") =!= col("folded"))
    assert(cmp.count() == 0)
    // multi-byte code points decode identically to ascii() (codePointAt)
    import spark.implicits._
    val uni = Seq((1L, "héllo wörld"), (2L, "日本語テキスト"), (3L, ""), (4L, "a€b"))
      .toDF("id", "text")
    val uniCmp = uni.select(
      TextAnalysis.fingerprint(col("text")).as("native"), foldFp.as("folded"))
      .filter(col("native") =!= col("folded"))
    assert(uniCmp.count() == 0)
  }

  test("native SimHash64 matches the SQL fold bit-for-bit") {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val hashed = t("documents")
      .select(col("doc_id"), transform(Dedup.tokens(col("text")), x => xxhash64(x)).as("hs"))
    val cmp = hashed.select(
      graft.functions.VectorFunctions.simhash64(col("hs")).as("native"),
      expr(Dedup.simhashFoldSql("hs")).as("folded"))
      .filter(col("native") =!= col("folded"))
    assert(cmp.count() == 0)
  }

  test("cosine_sim usable from plain SQL via function registration") {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    t("embeddings").select(col("embedding").cast("array<double>").as("v"))
      .limit(3).createOrReplaceTempView("emb_sql_test")
    val r = spark.sql(
      "SELECT cosine_sim(a.v, b.v) AS c FROM emb_sql_test a CROSS JOIN emb_sql_test b")
      .collect()
    assert(r.nonEmpty && r.forall(x => math.abs(x.getDouble(0)) <= 1.0 + 1e-9))
  }

  test("salted aggregation equals direct aggregation") {
    import graft.operators.Skew
    val li = t("lineitem")
    val salted = Skew.saltedCountSum(li, Seq("l_returnflag"), "l_quantity")
      .orderBy("l_returnflag").collect()
    val direct = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(30,2)")).cast("double").as("sum"))
      .orderBy("l_returnflag").collect()
    assert(salted.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq)
    // events MUST load via Tables (nanos-timestamp handling) — a raw
    // parquet read only works if another suite already set the legacy conf
    val events = new graft.model.Tables(spark, dir)("events")
    val sd = Skew.saltedCountDistinct(events, Seq("event_type"), "user_id")
      .orderBy("event_type").collect()
    val dd = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_distinct"))
      .orderBy("event_type").collect()
    assert(sd.map(_.toSeq).toSeq == dd.map(_.toSeq).toSeq)
  }

  test("multimodal decode: deterministic fake features with real plumbing") {
    val media = Multimodal.documentsAsMedia(spark, t("documents"))
    val feats = Multimodal.decodeFeatures(media)
    val rows = feats.orderBy("mediaId").limit(5).collect()
    assert(rows.forall(f => f.width >= 16 && f.height >= 16 && f.embedding.length == 8))
    // re-running produces identical features (stub is deterministic)
    val again = Multimodal.decodeFeatures(media).orderBy("mediaId").limit(5).collect()
    assert(rows.map(_.embedding.toSeq).toSeq == again.map(_.embedding.toSeq).toSeq)
  }

  test("profile: exact counts on a crafted frame; approx agrees on everything but distincts") {
    import spark.implicits._
    import graft.operators.Profile
    val df = Seq(
      (Some(1L), Some("a")), (Some(1L), Some("b")), (Some(2L), None),
      (None, Some("b")), (None, None)
    ).toDF("k", "s")
    val p = Profile.profile(df, Seq("k", "s")).orderBy("column").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    assert(p.toSeq == Seq(
      ("k", 5L, 2L, 2L, "1", "2"),
      ("s", 5L, 2L, 2L, "a", "b")))
    // approx surface: identical rows/nulls/min/max; distincts within HLL
    // error on a real column (doc_id is unique — the worst case for Σ
    // distincts, exactly why the approx path exists)
    val docs = t("documents")
    val exact = Profile.profile(docs, Seq("doc_id", "lang")).orderBy("column").collect()
    val approx = Profile.profileApprox(docs, Seq("doc_id", "lang")).orderBy("column").collect()
    exact.zip(approx).foreach { case (e, a) =>
      assert(e.getString(0) == a.getString(0))
      assert(e.getLong(1) == a.getLong(1) && e.getLong(2) == a.getLong(2))
      assert(e.getString(4) == a.getString(4) && e.getString(5) == a.getString(5))
      val rel = math.abs(a.getLong(3) - e.getLong(3)).toDouble / math.max(e.getLong(3), 1L)
      assert(rel <= 0.15, s"${e.getString(0)}: approx ${a.getLong(3)} vs exact ${e.getLong(3)}")
    }
  }

  test("index compaction: bit-identical queries, bounded files, crash-state heal") {
    import graft.operators.{IncrementalDedup, IndexMaintenance}
    val docs = t("documents")
    val work = java.nio.file.Files.createTempDirectory("graft_compact_spec_").toString
    def pairsOf(delta: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      IncrementalDedup.newBatchPairs(delta, "doc_id", "text", work,
        jaccardThreshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def fileCount(store: String): Int = {
      val d = new java.io.File(s"$work/$store")
      d.listFiles().count(f => f.getName.endsWith(".parquet"))
    }
    try {
      // build + 3 appends (one REPLAYED — the crash-recovery duplicate
      // compaction must physically drop) → many small append sets
      IncrementalDedup.buildIndex(docs.filter(col("doc_id") % 4 === 1), "doc_id", "text", work)
      IncrementalDedup.appendBatch(docs.filter(col("doc_id") % 4 === 2), "doc_id", "text", work)
      IncrementalDedup.appendBatch(docs.filter(col("doc_id") % 4 === 3), "doc_id", "text", work)
      IncrementalDedup.appendBatch(docs.filter(col("doc_id") % 4 === 3), "doc_id", "text", work)
      val delta = docs.filter(col("doc_id") % 4 === 0)
      val before = pairsOf(delta)
      assert(before.nonEmpty, "fixture self-check: the delta slice has near-dups")
      val filesBefore = fileCount("bands")
      assert(filesBefore >= 4, s"expected ≥4 band append sets, saw $filesBefore")

      IndexMaintenance.compactDedupIndex(spark, work)
      assert(fileCount("bands") === 1 && fileCount("shingles") === 1)
      assert(pairsOf(delta) == before, "compaction changed query results")
      // replayed append rows are physically gone: ids are unique again
      val shingleIds = spark.read.parquet(s"$work/shingles").select("id").collect().map(_.getLong(0))
      assert(shingleIds.length == shingleIds.distinct.length)

      // crash state A: staged store + marker present (commit point passed,
      // swap lost) — a reader resolves to the staged store; results
      // unchanged
      val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val live = new org.apache.hadoop.fs.Path(s"$work/bands")
      val staged = new org.apache.hadoop.fs.Path(s"$work/bands.compact")
      val marker = new org.apache.hadoop.fs.Path(s"$work/_compact_bands")
      assert(f.rename(live, staged))
      val out = f.create(marker, true); out.writeBytes("bands"); out.close()
      assert(pairsOf(delta) == before, "read after crashed swap changed results")

      // compacting an already-compact index is a no-op for results; its
      // lease rolls crash state A FORWARD first
      IndexMaintenance.compactDedupIndex(spark, work)
      assert(f.exists(live) && !f.exists(staged) && !f.exists(marker))
      assert(pairsOf(delta) == before)

      // crash state B: staged debris WITHOUT marker (crash before commit
      // point) — the live store answers; the next writer's lease deletes it
      val junk = spark.read.parquet(s"$work/bands").limit(1)
      junk.write.parquet(staged.toString)
      assert(pairsOf(delta) == before)
      IndexMaintenance.compactDedupIndex(spark, work)
      assert(!f.exists(staged), "uncommitted staged dir not cleaned")
      assert(pairsOf(delta) == before)
    } finally rmTree(work)
  }

  test("ann index compaction preserves incremental embedding pairs bit-for-bit") {
    import graft.operators.{IncrementalAnn, IndexMaintenance}
    val emb = t("embeddings")
    val work = java.nio.file.Files.createTempDirectory("graft_anncompact_spec_").toString
    def pairsOf(delta: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      IncrementalAnn.newBatchPairs(delta, "vec_id", "embedding", work, threshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    try {
      IncrementalAnn.buildIndex(emb.filter(col("vec_id") % 4 === 1), "vec_id",
        "embedding", dim = 64, path = work)
      IncrementalAnn.appendBatch(emb.filter(col("vec_id") % 4 === 2), "vec_id", "embedding", work)
      IncrementalAnn.appendBatch(emb.filter(col("vec_id") % 4 === 2), "vec_id", "embedding", work)
      val delta = emb.filter(col("vec_id") % 4 === 0)
      val before = pairsOf(delta)
      assert(before.nonEmpty)
      IndexMaintenance.compactAnnIndex(spark, work)
      assert(pairsOf(delta) == before, "ann compaction changed query results")
      val vecIds = spark.read.parquet(s"$work/vecs").select("id").collect().map(_.getLong(0))
      assert(vecIds.length == vecIds.distinct.length, "replayed vec rows survived compaction")
    } finally rmTree(work)
  }

  test("centroid top-cells kernel is bit-identical to the literal-composed form") {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val emb = t("embeddings")
      .select(col("vec_id").as("n_id"), col("embedding").cast("array<double>").as("n_vec"))
    // trained centroids (unit vectors, data-dependent) + a crafted matrix
    // with EXACT score ties (duplicate centroid rows) to pin the tie rule
    val trained = Similarity.trainCentroids(
      graft.operators.Staging.widen(emb), nlist = 8, iters = 2)
    val dup = trained ++ Array(trained(2).clone(), trained(0).clone())
    for (cents <- Seq(trained, dup); r <- Seq(1, 3, cents.length)) {
      val both = emb.limit(200).select(
          graft.functions.VectorFunctions.centroid_top_cells(
            col("n_vec"), Similarity.flatCentroids(cents),
            cents(0).length, r).as("kernel"),
          Similarity.topCellsComposed(col("n_vec"), cents, r).as("composed"))
        .collect()
      both.foreach { row =>
        assert(row.getSeq[Int](0) == row.getSeq[Int](1),
          s"kernel/composed diverged at r=$r, cells=${cents.length}")
      }
    }
  }

  test("nested top-cells kernel: full probing equals flat; partial probing high-recall") {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val emb = t("embeddings")
      .select(col("vec_id").as("n_id"), col("embedding").cast("array<double>").as("n_vec"))
    // a 300-cell matrix (past NestedCellThreshold) from sampled seeds
    val cents = Similarity.sampleSeeds(emb, 300)
    val grp = Similarity.groupCells(cents, groupProbes = 8)
    val g = grp.offsets.length - 1
    for (r <- Seq(1, 3)) {
      val rows = emb.select(
          graft.functions.VectorFunctions.centroid_top_cells(
            col("n_vec"), Similarity.flatCentroids(cents), cents(0).length, r)
            .as("flat"),
          graft.functions.VectorFunctions.centroid_top_cells_nested(
            col("n_vec"), grp.flatGroups, grp.flatCells, grp.offsets, grp.ids,
            cents(0).length, g, r).as("full"),
          graft.functions.VectorFunctions.centroid_top_cells_nested(
            col("n_vec"), grp.flatGroups, grp.flatCells, grp.offsets, grp.ids,
            cents(0).length, 8, r).as("partial"))
        .collect()
      // probing ALL groups scores every cell → bit-identical to flat
      rows.foreach { row =>
        assert(row.getSeq[Int](0) == row.getSeq[Int](1),
          s"full-probe nested != flat at r=$r")
      }
      // partial probing: the TOP cell agrees with flat on the large
      // majority of vectors (the standard IVF recall trade — precision
      // downstream is exact regardless). 0.8 bound, not higher, because
      // THIS fixture is adversarially dense: 300 cells over 500 vectors
      // makes cells near-singletons and group centroids noisy; at the
      // operator's real density (targetCell ≈ 10²-10³ members/cell —
      // the x_sem_auto ladder) groups are cluster-sized and agreement is
      // far higher, with replica assignment absorbing the remainder
      val agree = rows.count(row => row.getSeq[Int](2).headOption ==
        row.getSeq[Int](0).headOption)
      assert(agree >= (rows.length * 8) / 10,
        s"partial-probe top-cell agreement $agree/${rows.length} at r=$r")
    }
  }

  test("semantic auto mode derives nlist from the corpus and escalates under a tight budget") {
    val emb = t("embeddings")
    val n = emb.count()
    // BALANCED auto derivation (replicas R=2 default, iters=2, p=8, γ=2):
    // k* = (γ·n·R²/((iters+1)·2√p))^(2/3), then the granularity cap
    // (m ≤ targetCell), the degenerate-cell floor (m ≥ 16), and the
    // [16, 2¹⁶] clamp — independent arithmetic, not the operator's own
    val kStar = math.pow(2.0 * n * 4.0 / (3.0 * 2.0 * math.sqrt(8.0)), 2.0 / 3.0)
    val expected = math.max(16, math.min(1 << 16, math.ceil(
      math.min(math.max(16.0, n * 2.0 / 16.0),
        math.max(kStar, n * 2.0 / 32.0))).toInt))
    val (pairsAuto, chosen) = Similarity.semanticNearDupPairsChosen(
      emb, "vec_id", "embedding", threshold = 0.2, targetCell = 32)
    val autoSet = pairsAuto.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(chosen == expected, s"derived nlist $chosen != expected $expected")
    assert(chosen == Similarity.balancedNlist(n, 2, 32, 2))
    // an explicit candidateBudget the realized cell sizes can't meet: the
    // hard verify ceiling drives k to the m≥16 floor, then the governor
    // escalates ×2 per try
    val k0 = math.max(16, math.ceil(n.toDouble * 2 / 16).toInt)
    val (pairsEsc, escalated) = Similarity.semanticNearDupPairsChosen(
      emb, "vec_id", "embedding", threshold = 0.2, targetCell = 32,
      candidateBudget = 1.0, maxEscalations = 2)
    assert(escalated == k0 * 4,
      s"expected two ×2 escalations from $k0, got $escalated")
    // precision stays exact on both paths: every emitted pair clears τ
    // against brute-force cosine
    val v = emb.select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val brute = v.select(col("id").as("id_a"), col("vec").as("va"))
      .join(v.select(col("id").as("id_b"), col("vec").as("vb")), col("id_a") < col("id_b"))
      .withColumn("cos", graft.functions.VectorFunctions.vector_dot(col("va"), col("vb"))
        / (Similarity.norm(col("va")) * Similarity.norm(col("vb"))))
      .filter(col("cos") >= 0.2)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(autoSet.nonEmpty && autoSet.subsetOf(brute))
    val escSet = pairsEsc.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(escSet.subsetOf(brute))
    // explicit nlist pins the partition: derivation and probing skipped
    val (_, pinned) = Similarity.semanticNearDupPairsChosen(
      emb, "vec_id", "embedding", threshold = 0.2, nlist = 4,
      candidateBudget = 1.0)
    assert(pinned == 4)
  }

  test("semantic governor futility: clamped escalation skipped only when it can't meet the budget") {
    import graft.operators.Similarity.escalationFutile
    // un-clamped doublings are never futile — remaining headroom compounds
    assert(!escalationFutile(cand = 1e9, k = 1024, kNext = 2048,
      clamp = 65536, budget = 1.0))
    // the tier-D shape: 61,539 → 65,536 is a 6% cell increase; a 1.4e8
    // candidate count cannot reach a 1.28e8 budget even ∝1/k → skip
    assert(escalationFutile(cand = 1.4e8, k = 61539, kNext = 65536,
      clamp = 65536, budget = 1.28e8))
    // the same clamped step IS taken when the reduction clears the budget
    assert(!escalationFutile(cand = 1.30e8, k = 61539, kNext = 65536,
      clamp = 65536, budget = 1.28e8))
  }

  test("semantic pairs: exact-cosine precision, brute-force subset, replica monotonicity") {
    val emb = t("embeddings")
    val sem = Similarity.semanticNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.2, nlist = 4, assignReplicas = 2)
    val rows = sem.collect()
    assert(rows.nonEmpty)
    // precision is exact by construction: every emitted cos clears τ and
    // matches the brute-force cosine for that pair bit-for-bit
    val v = emb.select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val brute = v.select(col("id").as("id_a"), col("vec").as("va"))
      .join(v.select(col("id").as("id_b"), col("vec").as("vb")), col("id_a") < col("id_b"))
      .withColumn("cos", graft.functions.VectorFunctions.vector_dot(col("va"), col("vb"))
        / (Similarity.norm(col("va")) * Similarity.norm(col("vb"))))
      .filter(col("cos") >= 0.2)
      .select("id_a", "id_b", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(r.getDouble(2) >= 0.2)
      assert(brute.contains(key), s"pair $key not in brute-force set")
      assert(brute(key) == r.getDouble(2), s"cos mismatch at $key")
    }
    // top-2 cells ⊆ top-3 cells per vector, so the pair set is monotone
    // in assignReplicas (same trained centroids — seeding is fixed)
    val sem3 = Similarity.semanticNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.2, nlist = 4, assignReplicas = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem2 = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem2.subsetOf(sem3))
    // determinism: a second run returns the identical pair set
    val again = Similarity.semanticNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.2, nlist = 4, assignReplicas = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == sem2)
  }

  test("centroid kernels codegen-compile — no silent interpreter fallback") {
    // regression: a generated continuation line must never BEGIN with '|'
    // — downstream codegen templates re-stripMargin the assembled source,
    // eating a leading '||' into a janino syntax error and silently
    // dropping the whole stage to interpreted execution (the HyperplaneSigs
    // failure class, caught here by forbidding the fallback entirely)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    graft.functions.VectorFunctions.ensureRegistered(s2)
    val emb = s2.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = Similarity.sampleSeeds(
      emb.select(col("vec_id").as("n_id"), col("v").as("n_vec")), 300)
    val grp = Similarity.groupCells(cents, groupProbes = 8)
    val g = grp.offsets.length - 1
    val rows = emb.select(
        graft.functions.VectorFunctions.centroid_top_cells(
          col("v"), Similarity.flatCentroids(cents), cents(0).length, 2)
          .as("flat"),
        graft.functions.VectorFunctions.centroid_top_cells_nested(
          col("v"), grp.flatGroups, grp.flatCells, grp.offsets, grp.ids,
          cents(0).length, g, 2).as("full"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Int](0) == r.getSeq[Int](1)))
  }

  // ---- stupid-backoff LM scoring --------------------------------------

  private def lmRows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

  test("lmScore: hand-computed stupid-backoff scores on a 3-doc corpus") {
    import spark.implicits._
    import graft.operators.LanguageModel
    // corpus: T=7; c(a)=3 c(b)=2 c(c)=2; bigrams (a,b)=(b,a)=(a,c)=(c,b)=1
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "c b"), (4L, "   "))
      .toDF("doc_id", "text")
    val out = lmRows(LanguageModel.lmScore(docs, "doc_id", "text"))
    def u(p: Double): Long = math.floor(p * 1e9).toLong
    // d1: a|∅=3/7, b|a=1/3, a|b=1/2
    val d1 = (u(3.0 / 7) + u(1.0 / 3) + u(1.0 / 2)).toDouble / 3 / 1e9
    // d2: a|∅=3/7, c|a=1/3
    val d2 = (u(3.0 / 7) + u(1.0 / 3)).toDouble / 2 / 1e9
    // d3: c|∅=2/7, b|c=1/2
    val d3 = (u(2.0 / 7) + u(1.0 / 2)).toDouble / 2 / 1e9
    assert(out(1L) == ((3L, d1)))
    assert(out(2L) == ((2L, d2)))
    assert(out(3L) == ((2L, d3)))
    // whitespace-only doc still present: zero tokens, score 0
    assert(out(4L) == ((0L, 0.0)))
  }

  test("scoreAgainst: unseen bigram backs off at 0.4, unseen word scores 0") {
    import spark.implicits._
    import graft.operators.LanguageModel
    val ref = Seq((1L, "a b a"), (2L, "a c"), (3L, "c b")).toDF("rid", "text")
    val docs = Seq((10L, "b b"), (11L, "z a")).toDF("doc_id", "text")
    val out = lmRows(LanguageModel.scoreAgainst(
      docs, "doc_id", "text", ref, "text"))
    def u(p: Double): Long = math.floor(p * 1e9).toLong
    // "b b": b|∅=2/7; (b,b) unseen → 0.4·(2/7)
    val bb = (u(2.0 / 7) + u(0.4 * (2.0 / 7))).toDouble / 2 / 1e9
    // "z a": z unseen → 0; (z,a) unseen bigram AND unseen context →
    // backoff to 0.4·c(a)/T
    val za = (0L + u(0.4 * (3.0 / 7))).toDouble / 2 / 1e9
    assert(out(10L) == ((2L, bb)))
    assert(out(11L) == ((2L, za)))
  }

  test("lmScore: minBigramCount prunes bigrams to the backoff path") {
    import spark.implicits._
    import graft.operators.LanguageModel
    // every bigram in this corpus has count 1 → a cutoff of 2 prunes ALL
    // bigrams: every non-first token scores through 0.4·c(w)/T
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "c b"))
      .toDF("doc_id", "text")
    val out = lmRows(LanguageModel.lmScore(docs, "doc_id", "text",
      minBigramCount = 2L))
    def u(p: Double): Long = math.floor(p * 1e9).toLong
    val d1 = (u(3.0 / 7) + u(0.4 * (2.0 / 7)) + u(0.4 * (3.0 / 7)))
      .toDouble / 3 / 1e9
    val d2 = (u(3.0 / 7) + u(0.4 * (2.0 / 7))).toDouble / 2 / 1e9
    val d3 = (u(2.0 / 7) + u(0.4 * (2.0 / 7))).toDouble / 2 / 1e9
    assert(out(1L) == ((3L, d1)))
    assert(out(2L) == ((2L, d2)))
    assert(out(3L) == ((2L, d3)))
  }

  test("scoreAgainst3: hand-computed trigram chain exercises both backoff hops") {
    import spark.implicits._
    import graft.operators.LanguageModel
    // ref: T=5; c(a)=1 c(b)=2 c(c)=1 c(d)=1; bigrams (a,b)=(b,c)=(b,d)=1;
    // trigram (a,b,c)=1
    val ref = Seq((1L, "a b c"), (2L, "b d")).toDF("rid", "text")
    val docs = Seq((10L, "a b c"), (11L, "a b d"), (12L, "c d b"))
      .toDF("doc_id", "text")
    val out = lmRows(LanguageModel.scoreAgainst3(
      docs, "doc_id", "text", ref, "text"))
    def u(p: Double): Long = math.floor(p * 1e9).toLong
    // trigram HIT: c|a,b = c(abc)/c(ab) = 1/1
    val d10 = (u(1.0 / 5) + u(1.0 / 1) + u(1.0 / 1)).toDouble / 3 / 1e9
    // FIRST hop: (a,b,d) unseen → 0.4·(c(bd)/c(b)) = 0.4·(1/2)
    val d11 = (u(1.0 / 5) + u(1.0 / 1) + u(0.4 * (1.0 / 2))).toDouble / 3 / 1e9
    // BOTH hops: (c,d) unseen bigram → 0.4·c(d)/T; (c,d,b) unseen trigram
    // over unseen bigram (d,b) → 0.4·(0.4·c(b)/T)
    val d12 = (u(1.0 / 5) + u(0.4 * (1.0 / 5)) + u(0.4 * (0.4 * (2.0 / 5))))
      .toDouble / 3 / 1e9
    assert(out(10L) == ((3L, d10)))
    assert(out(11L) == ((3L, d11)))
    assert(out(12L) == ((3L, d12)))
  }

  test("lmScore3: minTrigramCount prunes trigrams to the bigram hop; bigram context stays unpruned") {
    import spark.implicits._
    import graft.operators.LanguageModel
    // self-trained on one doc: every trigram count is 1 → cutoff 2 prunes
    // ALL trigrams; third+ tokens score 0.4·(c(v,w)/c(v)) with the
    // UNPRUNED bigram denominators
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val out = lmRows(LanguageModel.lmScore3(docs, "doc_id", "text",
      minTrigramCount = 2L))
    def u(p: Double): Long = math.floor(p * 1e9).toLong
    // T=3, c(a)=c(b)=c(c)=1, bigrams (a,b)=(b,c)=1
    val d1 = (u(1.0 / 3) + u(1.0 / 1) + u(0.4 * (1.0 / 1))).toDouble / 3 / 1e9
    assert(out(1L) == ((3L, d1)))
    // unpruned: the trigram hit scores 1/c(ab) = 1
    val full = lmRows(LanguageModel.lmScore3(docs, "doc_id", "text"))
    val d1full = (u(1.0 / 3) + u(1.0 / 1) + u(1.0 / 1)).toDouble / 3 / 1e9
    assert(full(1L) == ((3L, d1full)))
  }

  // ---- fuzzy (near-dup) decontamination --------------------------------

  test("fuzzy decontamination: exact copy flagged, disjoint not, verify exact") {
    import spark.implicits._
    import graft.operators.Decontaminate
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // jaccard 1 — always banded
      (2L, "alpha beta gamma delta epsilon eta"),  // jaccard 3/5 — banding may
      (3L, "one two three four five six seven")    // jaccard 0 — never banded
    ).toDF("doc_id", "text")
    val flags = Decontaminate.flagContaminatedFuzzy(
        docs, "doc_id", "text", bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(flags(1L).getBoolean(1))
    assert(flags(1L).getDouble(3) == 1.0)
    assert(flags(1L).getLong(4) == 100L)
    assert(!flags(3L).getBoolean(1) && flags(3L).getLong(2) == 0L)
    // if banding surfaced the paraphrase, the exact verify scored it:
    // emitted jaccard must be the true 3/5 — never a false positive
    if (flags(2L).getBoolean(1)) assert(flags(2L).getDouble(3) == 0.6)
  }

  test("fuzzy decontamination pairs: precision total, self-pairs complete") {
    import graft.operators.Decontaminate
    val docs = t("documents")
    val bench = docs.filter(col("doc_id") % 11 === 0)
    val fz = Decontaminate.fuzzyContaminationPairs(docs, "doc_id", "text",
        bench, "doc_id", "text", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(fz.nonEmpty)
    assert(fz.forall(_._3 >= 0.4), "verified jaccard below threshold")
    assert(fz.forall(_._2 % 11 == 0), "bench id outside the benchmark slice")
    // identical sets band identically: every bench doc with ≥1 shingle
    // must self-match at jaccard exactly 1
    val selfIds = fz.filter(p => p._1 == p._2)
    assert(selfIds.forall(_._3 == 1.0))
    val benchWithShingles = bench
      .select(col("doc_id"),
        size(graft.operators.Dedup.shinglesFromTokens(
          graft.operators.Dedup.tokens(col("text")), 3)).as("n"))
      .filter(col("n") > 0).collect().map(_.getLong(0)).toSet
    assert(selfIds.map(_._1).toSet == benchWithShingles)
  }

  test("lmScore is deterministic under repartitioning") {
    import graft.operators.LanguageModel
    val docs = t("documents")
    val a = Staging.scoped(lmRows(LanguageModel.lmScore(docs, "doc_id", "text")))
    val b = Staging.scoped(lmRows(LanguageModel.lmScore(docs.repartition(7), "doc_id", "text")))
    assert(a == b)
    assert(a.values.forall { case (_, s) => s >= 0.0 && s <= 1.0 })
  }

  // ---- CCNet perplexity bucketing --------------------------------------

  test("perplexityBucket + bucketSample: hand-computed buckets and keep gates") {
    import spark.implicits._
    import graft.operators.LanguageModel
    // the independent model of the whole gate chain: the rolling-hash
    // fold over the (already-canonical) text, the Knuth scramble, and the
    // floor(rate·1e6) cutoff — reimplemented here, not shared with prod
    def fp(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 31 + (b & 0xff)) % 1000000007L)
    def bucketOf(score: Double): String =
      if (score >= 0.6) "head" else if (score >= 0.3) "middle" else "tail"
    val rates = Map("head" -> 1.0, "middle" -> 0.5, "tail" -> 0.0)
    val rows = Seq(
      (1L, "alpha beta", 0.75), // head: always kept
      (2L, "gamma delta", 0.60), // boundary: score == tHead is head
      (3L, "epsilon zeta", 0.45), // middle: hash decides at 500000
      (4L, "eta theta", 0.30), // boundary: score == tTail is middle
      (5L, "iota kappa", 0.10)) // tail: rate 0 never keeps
    val scored = rows.toDF("doc_id", "text", "lm_score")
      .withColumn("_fp", TextAnalysis.canonicalFingerprint(col("text")))
    val out = LanguageModel.bucketSample(scored, col("lm_score"), col("_fp"),
        tTail = 0.3, tHead = 0.6, rates)
      .select("doc_id", "bucket", "kept")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    rows.foreach { case (id, text, score) =>
      val b = bucketOf(score)
      val cut = math.floor(rates(b) * 1e6).toLong
      val kept = (fp(text) * 2654435761L) % 1000000L < cut
      assert(out(id) == ((b, kept)), s"doc $id: ${out(id)} vs ($b, $kept)")
    }
    // the middle hash gate actually exercises both outcomes across seeds
    assert(out(1L)._2 && !out(5L)._2)
  }

  test("bucketSample rejects unknown bucket names; perplexityBucket rejects inverted cuts") {
    import spark.implicits._
    import graft.operators.LanguageModel
    val df = Seq((1L, 0.5, 1L)).toDF("doc_id", "lm_score", "_fp")
    intercept[IllegalArgumentException] {
      LanguageModel.bucketSample(df, col("lm_score"), col("_fp"),
        0.3, 0.6, Map("hea" -> 1.0))
    }
    intercept[IllegalArgumentException] {
      LanguageModel.perplexityBucket(col("lm_score"), tTail = 0.6, tHead = 0.3)
    }
  }

  test("bucketThresholds lands near the tercile ranks of the scored corpus") {
    import graft.operators.LanguageModel
    val docs = t("documents")
    val scored = LanguageModel.lmScore(docs, "doc_id", "text")
    val (tTail, tHead) = LanguageModel.bucketThresholds(scored, col("lm_score"))
    assert(tTail <= tHead)
    val scores = scored.select("lm_score").collect().map(_.getDouble(0)).sorted
    val n = scores.length
    // rank error of the sketch at accuracy 10000 on this corpus is far
    // under 5% of n; assert the cuts sit within that band of the terciles
    def rankOf(v: Double): Int = scores.count(_ <= v)
    assert(math.abs(rankOf(tTail) - n / 3) <= math.max(2, n / 20),
      s"tTail rank ${rankOf(tTail)} vs ${n / 3}")
    assert(math.abs(rankOf(tHead) - 2 * n / 3) <= math.max(2, n / 20),
      s"tHead rank ${rankOf(tHead)} vs ${2 * n / 3}")
  }

  // ---- BM25 ranked retrieval -------------------------------------------

  test("bm25TopK: hand-computed single-doc corpus and ranking invariants") {
    import spark.implicits._
    import graft.operators.Retrieval
    // two docs, one term: doc 1 has tf=2 of 'x' in dl=4, doc 2 has tf=0.
    // N=2, df=1 → idf = (2-1+0.5)/1.5 = 1.0; avgdl = (4+2)/2 = 3.
    // doc1: sat = 2*2.2/(2 + 1.2*(0.25+0.75*(4*2/6.0))) = 4.4/3.5
    val docs = Seq((1L, "x y x z"), (2L, "y z")).toDF("doc_id", "text")
    val rows = Staging.scoped(Retrieval.bm25TopK(docs, "doc_id", "text", Seq("x"), k = 2)
      .collect())
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.map(_.getLong(3)).toSeq == Seq(1L, 2L)) // ranks dense from 1
    val expected = math.floor(1.0 * (2 * 2.2 / (2 + 1.2 *
      (0.25 + 0.75 * (4.0 * 2.0 / 6.0)))) * 1e9) / 1e9
    assert(rows(0).getDouble(2) == expected)
    assert(rows(1).getDouble(2) == 0.0) // absent term scores exactly 0
  }

  test("bm25TopK is deterministic under repartitioning and rare terms rank up") {
    import graft.operators.Retrieval
    val docs = t("documents")
    def run(df: => org.apache.spark.sql.DataFrame) = Staging.scoped {
      Retrieval.bm25TopK(df, "doc_id", "text",
        Seq("dup", "vector", "batch"), k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(3))).toSeq
    }
    val a = run(docs)
    assert(a == run(docs.repartition(7)))
    assert(a.map(_._3) == (1L to a.length))
    // scores are non-increasing in rank, and the winner contains the rare
    // term (idf('dup') ≈ 19 dwarfs the common terms' ≈ 0.25)
    assert(a.sliding(2).forall { case Seq(x, y) => x._2 >= y._2; case _ => true })
    val winners = docs.filter(col("doc_id") === a.head._1)
      .select(graft.operators.TextAnalysis.tokens(col("text")))
      .collect().head.getSeq[String](0)
    assert(winners.contains("dup"))
  }

  // ---- k-means assignment profile ----------------------------------------

  test("assignProfile partitions the corpus and matches the composed argmax") {
    import graft.operators.{Clustering, Similarity}
    val emb = t("embeddings")
    val total = emb.count()
    val prof = Clustering.assignProfile(emb, "vec_id", "embedding", k = 4)
      .collect()
    // every vector lands in exactly one cluster; clusters are centroid ids
    assert(prof.map(_.getLong(1)).sum == total)
    assert(prof.map(_.getLong(0)).toSet.subsetOf((0L until 4L).toSet))
    // composed-form twin: literal per-centroid dot columns + greatest()
    val cents = emb.orderBy(col("vec_id")).limit(4)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val scored = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
    val withDots = cents.zipWithIndex.foldLeft(scored) { case (df, ((_, c), i)) =>
      df.withColumn(s"d_$i", Similarity.dot(col("vec"),
        lit(c.map(java.lang.Double.valueOf))))
    }
    val composed = withDots.collect().map { r =>
      val dots = (0 until 4).map(i => r.getDouble(r.fieldIndex(s"d_$i")))
      val best = dots.zipWithIndex.maxBy { case (d, i) => (d, -i) }._2
      (r.getLong(0), cents(best)._1)
    }.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(prof.map(r => r.getLong(0) -> r.getLong(1)).toMap == composed)
  }

  test("bm25TopKIndexed equals the scan form row-for-row") {
    import graft.operators.Retrieval
    val docs = t("documents")
    // small list AND a list wider than is sane for the scan form's
    // per-row term loop — the indexed plan's home regime
    val wide = Seq("dup", "vector", "batch", "spark", "merge", "window",
      "table", "row", "agg", "scan", "the", "a", "key", "fast", "line",
      "value", "column", "query", "group", "part")
    for (terms <- Seq(Seq("dup", "vector", "batch"), wide)) {
      def rows(df: => org.apache.spark.sql.DataFrame) = Staging.scoped {
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getLong(3))).toSeq
      }
      assert(rows(Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 15))
        == rows(Retrieval.bm25TopKIndexed(docs, "doc_id", "text", terms, k = 15)))
    }
  }

  test("term-stats index: hand-computed frozen-ranker scores; append == build") {
    import spark.implicits._
    import graft.operators.Retrieval
    val work = java.nio.file.Files.createTempDirectory("graft_tsi_").toString
    try {
      // history: 'x' in 1 of 2 docs, Σdl = 6, N = 2 → idf = 1.0, avgdl = 3
      val hist = Seq((1L, "x y x z"), (2L, "y z")).toDF("doc_id", "text")
      // new batch: doc 10 has tf=1 in dl=2; doc 11 none
      val fresh = Seq((10L, "x w"), (11L, "w w w")).toDF("doc_id", "text")
      Retrieval.buildTermStatsIndex(hist, "doc_id", "text", s"$work/a")
      val rows = Retrieval.scoreAgainstTermIndex(fresh, "doc_id", "text",
        Seq("x"), s"$work/a", k = 2).collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(10L, 11L))
      val expected = math.floor(1.0 * (1 * 2.2 / (1 + 1.2 *
        (0.25 + 0.75 * (2.0 * 2.0 / 6.0)))) * 1e9) / 1e9
      assert(rows(0).getDouble(2) == expected)
      assert(rows(1).getDouble(2) == 0.0)
      // two-batch append merges to the same statistics as one build
      Retrieval.buildTermStatsIndex(hist.filter($"doc_id" === 1L),
        "doc_id", "text", s"$work/b")
      Retrieval.appendToTermStatsIndex(hist.filter($"doc_id" === 2L),
        "doc_id", "text", s"$work/b")
      val viaAppend = Retrieval.scoreAgainstTermIndex(fresh, "doc_id",
        "text", Seq("x"), s"$work/b", k = 2).collect()
      assert(viaAppend.map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
        rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq)
      // empty-string query terms are reserved for the sentinel
      intercept[IllegalArgumentException] {
        Retrieval.scoreAgainstTermIndex(fresh, "doc_id", "text",
          Seq("x", ""), s"$work/a", k = 1)
      }
      // compaction folds deltas bit-identically; reads resolve a crash state
      Retrieval.compactTermStatsIndex(spark, s"$work/b")
      val afterCompact = Retrieval.scoreAgainstTermIndex(fresh, "doc_id",
        "text", Seq("x"), s"$work/b", k = 2).collect()
      assert(afterCompact.map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
        rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq)
      // plant the worst crash state (published marker + staged store from
      // an interrupted compaction) — the next read must resolve and agree
      val stagedDir = java.nio.file.Paths.get(s"$work/b/terms.compact")
      val marker = java.nio.file.Paths.get(s"$work/b/_compact_terms")
      val live = java.nio.file.Paths.get(s"$work/b/terms")
      java.nio.file.Files.move(live, stagedDir)
      java.nio.file.Files.createFile(marker)
      val resolved = Retrieval.scoreAgainstTermIndex(fresh, "doc_id",
        "text", Seq("x"), s"$work/b", k = 2).collect()
      assert(resolved.map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
        rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq)
    } finally rmTree(work)
  }

  test("postings index: topKFromIndex == scan bm25TopK; replay/compact/crash-safe") {
    import graft.operators.Retrieval
    val docs = t("documents")
    val terms = Seq("dup", "vector", "batch")
    val work = java.nio.file.Files.createTempDirectory("graft_post_").toString
    def rows(df: => org.apache.spark.sql.DataFrame) = Staging.scoped {
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSeq
    }
    try {
      // two-batch build (odd then even ids) — merge-on-read additivity
      Retrieval.buildPostingsIndex(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", work)
      Retrieval.appendToPostingsIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", work)
      val scan = rows(Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 12))
      val idx = rows(Retrieval.topKFromIndex(spark, work, terms, k = 12))
      assert(idx == scan, "index route must equal the scan form row-for-row")
      // REPLAYED append (the at-least-once crash contract): postings
      // collapse on (token, doc_id), ptotals on the batch replay identity
      Retrieval.appendToPostingsIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", work)
      assert(rows(Retrieval.topKFromIndex(spark, work, terms, k = 12)) == scan,
        "a replayed append must not change query results")
      // compaction folds both stores bit-identically (and drops the replay)
      Retrieval.compactPostingsIndex(spark, work)
      assert(rows(Retrieval.topKFromIndex(spark, work, terms, k = 12)) == scan)
      assert(spark.read.parquet(s"$work/ptotals").count() == 1L)
      // worst crash state: published marker + staged store — reads resolve
      val staged = java.nio.file.Paths.get(s"$work/postings.compact")
      val marker = java.nio.file.Paths.get(s"$work/_compact_postings")
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$work/postings"), staged)
      java.nio.file.Files.createFile(marker)
      assert(rows(Retrieval.topKFromIndex(spark, work, terms, k = 12)) == scan)
      // duplicate query terms break the distinctness contract loudly
      intercept[IllegalArgumentException] {
        Retrieval.topKFromIndex(spark, work, Seq("dup", "dup"), k = 2)
      }
    } finally rmTree(work)
  }

  test("retraction: postings index == fresh survivor build; vacuum is physical") {
    import graft.operators.{IndexMaintenance, Retrieval}
    import spark.implicits._
    val docs = t("documents")
    val terms = Seq("dup", "vector", "batch")
    val work = java.nio.file.Files.createTempDirectory("graft_retract_").toString
    def rows(df: => org.apache.spark.sql.DataFrame) = Staging.scoped {
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSeq
    }
    try {
      val removed = docs.filter(col("doc_id") % 7 === 3)
      val survivors = docs.filter(col("doc_id") % 7 =!= 3)
      Retrieval.buildPostingsIndex(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", s"$work/a")
      Retrieval.appendToPostingsIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", s"$work/a")
      val before = rows(Retrieval.topKFromIndex(spark, s"$work/a", terms, k = 12))
      val scanSurv = rows(Retrieval.bm25TopK(survivors, "doc_id", "text",
        terms, k = 12))
      assert(scanSurv != before,
        "fixture self-check: the retracted slice must change the top-12")
      Retrieval.retractFromPostingsIndex(removed, "doc_id", "text", s"$work/a")
      assert(rows(Retrieval.topKFromIndex(spark, s"$work/a", terms, k = 12))
        == scanSurv,
        "after retraction the index must equal the scan over survivors")
      // the batch probe form sees the retraction through the same filter
      val qs = terms.map(("qa", _)).toDF("query_id", "term")
      val viaBatch = Staging.scoped(Retrieval.topKFromIndexBatch(spark, s"$work/a", qs,
          "query_id", "term", k = 12)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getLong(4))).toSeq)
      assert(viaBatch == scanSurv)
      // replaying an interrupted retraction is safe end to end: the
      // negative ptotals row collapses on its replay identity, duplicate
      // tombstones are ignored
      Retrieval.retractFromPostingsIndex(removed, "doc_id", "text", s"$work/a")
      assert(rows(Retrieval.topKFromIndex(spark, s"$work/a", terms, k = 12))
        == scanSurv, "a replayed retraction must not change query results")
      // vacuum: compaction drops the rows physically, retires tombstones,
      // and leaves exactly a fresh survivor build's postings rows
      Retrieval.compactPostingsIndex(spark, s"$work/a")
      assert(rows(Retrieval.topKFromIndex(spark, s"$work/a", terms, k = 12))
        == scanSurv)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$work/a/tombstones")),
        "vacuum must retire the tombstone store")
      assert(spark.read.parquet(s"$work/a/postings")
        .filter(col("doc_id") % 7 === 3).count() == 0L,
        "vacuum must drop retracted postings physically")
      Retrieval.buildPostingsIndex(survivors, "doc_id", "text", s"$work/b")
      def postRows(p: String) = spark.read.parquet(s"$p/postings")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(postRows(s"$work/a") == postRows(s"$work/b"),
        "vacuumed postings rows must equal a fresh survivor build's")
      def totSums(p: String) = spark.read.parquet(s"$p/ptotals")
        .agg(sum(col("n_docs")), sum(col("t_len"))).collect()(0)
      assert(totSums(s"$work/a") == totSums(s"$work/b"),
        "folded corpus totals must equal a fresh survivor build's")
    } finally rmTree(work)
  }

  test("retraction: term-stats negative delta == fresh index on survivors") {
    import spark.implicits._
    import graft.operators.Retrieval
    val work = java.nio.file.Files.createTempDirectory("graft_tsretract_").toString
    try {
      val hist = Seq((1L, "x y x z"), (2L, "y z"), (3L, "x q q"))
        .toDF("doc_id", "text")
      val fresh = Seq((10L, "x w"), (11L, "q w")).toDF("doc_id", "text")
      Retrieval.buildTermStatsIndex(hist, "doc_id", "text", s"$work/a")
      Retrieval.retractFromTermStatsIndex(hist.filter($"doc_id" === 3L),
        "doc_id", "text", s"$work/a")
      Retrieval.buildTermStatsIndex(hist.filter($"doc_id" =!= 3L),
        "doc_id", "text", s"$work/b")
      def scores(p: String) = Retrieval.scoreAgainstTermIndex(fresh,
          "doc_id", "text", Seq("x", "q"), p, k = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      // bit-identical doubles: integer df/N/Σdl feed the same IEEE tree;
      // 'q' survives only in retracted doc 3, so its df is 0 both ways
      // (a zero-stat row and an absent row score identically)
      assert(scores(s"$work/a") == scores(s"$work/b"),
        "retracted index must score exactly like a fresh survivor build")
      // compaction folds the zeroed token away: store rows match a fresh
      // survivor build row-for-row
      Retrieval.compactTermStatsIndex(spark, s"$work/a")
      def stored(p: String) = spark.read.parquet(s"$p/terms")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(stored(s"$work/a") == stored(s"$work/b"),
        "folded store must hold exactly the survivor statistics")
      assert(!stored(s"$work/a").exists(_._1 == "q"),
        "a token whose df reached zero must fold away")
      assert(scores(s"$work/a") == scores(s"$work/b"))
    } finally rmTree(work)
  }

  test("retraction: incremental dedup + ANN indices == rebuilt on survivors") {
    import spark.implicits._
    import graft.operators.{IncrementalAnn, IncrementalDedup, IndexMaintenance}
    val docs = t("documents")
    val emb = t("embeddings")
    val work = java.nio.file.Files.createTempDirectory("graft_incretract_").toString
    try {
      // --- text index: retract exactly the indexed ids the delta pairs
      // with, so the assertion bites by construction
      val corpus0 = docs.filter(col("doc_id") % 4 =!= 2)
      val delta = docs.filter(col("doc_id") % 4 === 2)
      IncrementalDedup.buildIndex(corpus0, "doc_id", "text", s"$work/d")
      // one scope per query: holding the staged frames would let a
      // post-vacuum query (whose plan is again tombstone-free, like the
      // pre-retraction one) hit the stale cache
      def pairs(p: String) = Staging.scoped {
        IncrementalDedup
          .newBatchPairs(delta, "doc_id", "text", p, jaccardThreshold = 0.2)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      }
      val inc1 = pairs(s"$work/d")
      val hitIds = inc1.flatMap(p => Seq(p._1, p._2)).filter(_ % 4 != 2)
      assert(hitIds.nonEmpty, "fixture self-check: delta pairs with the index")
      IncrementalDedup.retract(spark, s"$work/d",
        hitIds.toSeq.toDF("doc_id"))
      val inc2 = pairs(s"$work/d")
      assert(inc2.forall(p => !hitIds.contains(p._1) && !hitIds.contains(p._2)),
        "no pair may touch a retracted doc")
      IncrementalDedup.buildIndex(
        corpus0.filter(!col("doc_id").isin(hitIds.toSeq: _*)),
        "doc_id", "text", s"$work/d2")
      assert(inc2 == pairs(s"$work/d2"),
        "retracted index must pair exactly like a rebuild on survivors")
      // vacuum both stores physically, retire the tombstones
      IndexMaintenance.compactDedupIndex(spark, s"$work/d")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$work/d/tombstones")))
      assert(spark.read.parquet(s"$work/d/bands")
        .filter(col("id").isin(hitIds.toSeq: _*)).count() == 0L)
      assert(spark.read.parquet(s"$work/d/shingles")
        .filter(col("id").isin(hitIds.toSeq: _*)).count() == 0L)
      assert(pairs(s"$work/d") == inc2)

      // --- vector index: same story at a pinned banding width
      val vcorpus0 = emb.filter(col("vec_id") % 4 =!= 2)
      val vdelta = emb.filter(col("vec_id") % 4 === 2)
      IncrementalAnn.buildIndex(vcorpus0, "vec_id", "embedding", dim = 64,
        path = s"$work/v", numPlanes = 8)
      def vpairs(p: String) = Staging.scoped {
        IncrementalAnn
          .newBatchPairs(vdelta, "vec_id", "embedding", p, threshold = 0.2)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      }
      val vinc1 = vpairs(s"$work/v")
      val vhit = vinc1.flatMap(p => Seq(p._1, p._2)).filter(_ % 4 != 2)
      assert(vhit.nonEmpty, "fixture self-check: vector delta pairs with the index")
      IncrementalAnn.retract(spark, s"$work/v", vhit.toSeq.toDF("vec_id"))
      val vinc2 = vpairs(s"$work/v")
      assert(vinc2.forall(p => !vhit.contains(p._1) && !vhit.contains(p._2)))
      IncrementalAnn.buildIndex(
        vcorpus0.filter(!col("vec_id").isin(vhit.toSeq: _*)),
        "vec_id", "embedding", dim = 64, path = s"$work/v2", numPlanes = 8)
      assert(vinc2 == vpairs(s"$work/v2"),
        "retracted ANN index must pair exactly like a rebuild on survivors")
      IndexMaintenance.compactAnnIndex(spark, s"$work/v")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$work/v/tombstones")))
      assert(spark.read.parquet(s"$work/v/vecs")
        .filter(col("id").isin(vhit.toSeq: _*)).count() == 0L)
      assert(vpairs(s"$work/v") == vinc2)
    } finally rmTree(work)
  }

  test("positional index: phrase matches == scan twin; overlap/replay/vacuum") {
    import spark.implicits._
    import graft.operators.Retrieval
    val work = java.nio.file.Files.createTempDirectory("graft_phrase_").toString
    def rows(df: => org.apache.spark.sql.DataFrame) = Staging.scoped {
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    try {
      // hand fixture: periodic phrase "a a" must count OVERLAPPING starts
      val hand = Seq((1L, "a a a b"), (2L, "b a a"), (3L, "x y"),
        (4L, "a b a a b")).toDF("doc_id", "text")
      Retrieval.buildPositionalIndex(hand, "doc_id", "text", s"$work/h")
      assert(rows(Retrieval.phraseMatches(spark, s"$work/h", Seq("a", "a")))
        == Seq((1L, 2L), (2L, 1L), (4L, 1L)),
        "overlapping occurrences must all count (doc 1: starts 0 and 1)")
      assert(rows(Retrieval.phraseMatches(spark, s"$work/h", Seq("a", "a", "b")))
        == Seq((1L, 1L), (4L, 1L)))
      assert(rows(Retrieval.phraseCountScan(hand, "doc_id", "text",
        Seq("a", "a"))) == Seq((1L, 2L), (2L, 1L), (4L, 1L)),
        "the scan twin must share overlap semantics")
      // phrase longer than any doc matches nothing (no negative-start leak)
      assert(rows(Retrieval.phraseMatches(spark, s"$work/h",
        Seq("a", "a", "b", "a", "a", "b"))).isEmpty)

      // fixture corpus: index route == scan twin, two-batch build, for a
      // periodic and a 3-token phrase
      val docs = t("documents")
      Retrieval.buildPositionalIndex(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", s"$work/p")
      Retrieval.appendToPositionalIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", s"$work/p")
      for (ph <- Seq(Seq("a", "a"), Seq("fast", "table", "value"))) {
        val scan = rows(Retrieval.phraseCountScan(docs, "doc_id", "text", ph))
        assert(scan.nonEmpty, s"fixture self-check: $ph occurs")
        assert(rows(Retrieval.phraseMatches(spark, s"$work/p", ph)) == scan,
          s"index route must equal the scan twin for $ph")
      }
      // replayed append collapses on (doc_id, pos)
      Retrieval.appendToPositionalIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", s"$work/p")
      val expect = rows(Retrieval.phraseCountScan(docs, "doc_id", "text",
        Seq("a", "a")))
      assert(rows(Retrieval.phraseMatches(spark, s"$work/p", Seq("a", "a")))
        == expect, "a replayed append must not change matches")
      // retraction drops a matching doc immediately; vacuum is physical
      val victim = expect.head._1
      Retrieval.retractFromPositionalIndex(spark, s"$work/p",
        Seq(victim).toDF("doc_id"))
      val afterRetract = rows(Retrieval.phraseMatches(spark, s"$work/p",
        Seq("a", "a")))
      assert(afterRetract == expect.filterNot(_._1 == victim))
      Retrieval.compactPositionalIndex(spark, s"$work/p")
      assert(rows(Retrieval.phraseMatches(spark, s"$work/p", Seq("a", "a")))
        == afterRetract, "compaction must be bit-identical")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$work/p/tombstones")))
      assert(spark.read.parquet(s"$work/p/positions")
        .filter(col("doc_id") === victim).count() == 0L,
        "vacuum must drop the retracted doc's occurrence rows")
      // worst crash state: published marker + staged store — reads resolve
      val staged = java.nio.file.Paths.get(s"$work/p/positions.compact")
      val marker = java.nio.file.Paths.get(s"$work/p/_compact_positions")
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$work/p/positions"), staged)
      java.nio.file.Files.createFile(marker)
      assert(rows(Retrieval.phraseMatches(spark, s"$work/p", Seq("a", "a")))
        == afterRetract)
      // guards
      intercept[IllegalArgumentException] {
        Retrieval.phraseMatches(spark, s"$work/p", Seq.empty)
      }
      intercept[IllegalArgumentException] {
        Retrieval.phraseMatches(spark, s"$work/p", Seq.fill(33)("a"))
      }
      // an EMPTY retraction must be a no-op, not a poisoned tombstone
      // store (a zero-file parquet dir fails schema inference on read)
      Retrieval.retractFromPositionalIndex(spark, s"$work/p",
        Seq.empty[Long].toDF("doc_id"))
      assert(rows(Retrieval.phraseMatches(spark, s"$work/p", Seq("a", "a")))
        == afterRetract, "empty retraction must change nothing")
    } finally rmTree(work)
  }

  test("phraseMatchesBatch == per-phrase loop; ghosts empty; slot gaps loud") {
    import spark.implicits._
    import graft.operators.Retrieval
    val docs = t("documents")
    val work = java.nio.file.Files.createTempDirectory("graft_phb_").toString
    try {
      Retrieval.buildPositionalIndex(docs, "doc_id", "text", work)
      val suite = Seq(
        "pa" -> Seq("a", "a"),                  // periodic
        "pb" -> Seq("vector", "batch"),         // plain bigram
        "pc" -> Seq("fast", "table", "value"),  // 3-gram
        "pg" -> Seq("zzz", "qqq"))              // ghost: tokens absent
      val q = suite.flatMap { case (id, ph) =>
        ph.zipWithIndex.map { case (t, i) => (id, i, t) }
      }.toDF("phrase_id", "slot", "token")
      val batch = Staging.scoped(Retrieval.phraseMatchesBatch(spark, work, q,
          "phrase_id", "slot", "token")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
      val loop = suite.flatMap { case (id, ph) =>
        val r = Staging.scoped(Retrieval.phraseMatches(spark, work, ph)
          .collect().map(r => (id, r.getLong(0), r.getLong(1))).toSeq)
        r
      }
      assert(batch == loop,
        s"batch=${batch.size} rows, loop=${loop.size} rows")
      assert(!batch.exists(_._1 == "pg"), "ghost phrase must emit nothing")
      assert(batch.exists(_._1 == "pa") && batch.exists(_._1 == "pc"),
        "fixture self-check: the real phrases match")
      // a slot gap (0,2) would make the phrase silently unmatchable
      intercept[IllegalArgumentException] {
        Retrieval.phraseMatchesBatch(spark, work,
          Seq(("bad", 0, "a"), ("bad", 2, "a")).toDF("phrase_id", "slot", "token"),
          "phrase_id", "slot", "token")
      }
    } finally rmTree(work)
  }

  test("phrase-batch governor: routes by probed df, output identical either way") {
    import spark.implicits._
    import graft.operators.Retrieval
    val docs = t("documents")
    val work = java.nio.file.Files.createTempDirectory("graft_phg_").toString
    try {
      Retrieval.buildPositionalIndex(docs, "doc_id", "text", work)
      val suite = Seq(
        "pa" -> Seq("a", "a"),                  // hot: 'a' saturates the corpus
        "pb" -> Seq("vector", "batch"),         // rare-ish bigram
        "pg" -> Seq("zzz", "qqq"))              // ghost
      val q = suite.flatMap { case (id, ph) =>
        ph.zipWithIndex.map { case (t, i) => (id, i, t) }
      }.toDF("phrase_id", "slot", "token")
      def rows(df: => org.apache.spark.sql.DataFrame) = Staging.scoped {
        df.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      }
      val reference = rows(Retrieval.phraseMatchesBatch(spark, work, q,
        "phrase_id", "slot", "token"))
      // extreme 1: every MATCHING needle scan-routed (budget = 1 position
      // row); the ghost's probed cost is 0, so it can never exceed a
      // budget — it stays on the (empty) index probe by design
      val allScan = Retrieval.phraseMatchesBatchAutoChosen(spark, work, q,
        "phrase_id", "slot", "token", docs, "doc_id", "text",
        hotFraction = 1e-12)
      assert(allScan.scanned.sorted == Seq("pa", "pb") &&
        allScan.indexed == Seq("pg"))
      assert(rows(allScan.matches) == reference,
        "scan route must equal the index route row-for-row")
      // extreme 2: everything index-routed (budget = the whole store)
      val allIdx = Retrieval.phraseMatchesBatchAutoChosen(spark, work, q,
        "phrase_id", "slot", "token", docs, "doc_id", "text",
        hotFraction = 1.0)
      assert(allIdx.scanned.isEmpty)
      assert(rows(allIdx.matches) == reference)
      // mid threshold: the saturated needle flips to the scan twin, the
      // rare needle and the ghost (cost 0) stay on the index probe —
      // picked between the measured costs so the split is deterministic
      val costA = allIdx.costByPhrase("pa").toDouble
      val costB = allIdx.costByPhrase("pb").toDouble
      assert(costA > costB, "fixture self-check: 'a a' is the hot needle")
      val midFrac = ((costA + costB) / 2.0) / allIdx.totalPositions
      val mid = Retrieval.phraseMatchesBatchAutoChosen(spark, work, q,
        "phrase_id", "slot", "token", docs, "doc_id", "text",
        hotFraction = midFrac)
      assert(mid.scanned == Seq("pa") && mid.indexed.sorted == Seq("pb", "pg"),
        s"expected pa scan-routed; got scanned=${mid.scanned}")
      assert(rows(mid.matches) == reference,
        "the mixed-route union must equal the single-route outputs")
      // non-string phrase ids are rejected loudly (the union contract)
      intercept[IllegalArgumentException] {
        Retrieval.phraseMatchesBatchAutoChosen(spark, work,
          Seq((1, 0, "a"), (1, 1, "a")).toDF("phrase_id", "slot", "token"),
          "phrase_id", "slot", "token", docs, "doc_id", "text")
      }
    } finally rmTree(work)
  }

  test("index-side decontamination == the scan form's flagged rows") {
    import spark.implicits._
    import graft.operators.Decontaminate
    val docs = t("documents")
    val work = java.nio.file.Files.createTempDirectory("graft_decidx_").toString
    def flagged(p: String, bench: => org.apache.spark.sql.DataFrame) = Staging.scoped {
      Decontaminate.flagContaminatedFromIndex(spark, p,
          bench, "text", minOverlap = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    }
    try {
      // two-batch build: merge-on-read additivity under the differential
      Decontaminate.buildGramPostingsIndex(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", work, n = 3)
      Decontaminate.appendToGramPostingsIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", work)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val viaIndex = flagged(work, bench)
      val viaScan = Staging.scoped(Decontaminate.flagContaminated(docs, "doc_id", "text",
          bench, "text", n = 3, minOverlap = 2)
        .filter(col("overlap") > 0).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq)
      assert(viaIndex == viaScan,
        s"index route ${viaIndex.size} rows vs scan ${viaScan.size}")
      assert(viaIndex.exists(_._3) && viaIndex.exists(!_._3),
        "fixture self-check: both flagged and sub-threshold rows exist")
      // replayed append tolerated; retraction + vacuum physical
      Decontaminate.appendToGramPostingsIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", work)
      assert(flagged(work, bench) == viaScan,
        "a replayed append must not change overlap counts")
      val victim = viaIndex.head._1
      Decontaminate.retractFromGramPostingsIndex(spark, work,
        Seq(victim).toDF("doc_id"))
      val afterRetract = flagged(work, bench)
      assert(afterRetract == viaScan.filterNot(_._1 == victim))
      Decontaminate.compactGramPostingsIndex(spark, work)
      assert(flagged(work, bench) == afterRetract,
        "compaction must be bit-identical")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$work/tombstones")))
      assert(spark.read.parquet(s"$work/grams")
        .filter(col("doc_id") === victim).count() == 0L,
        "vacuum must drop the retracted doc's gram rows")
    } finally rmTree(work)
  }

  test("ANN index topK == lshTopK at the pinned width; respects retraction") {
    import spark.implicits._
    import graft.operators.{IncrementalAnn, Similarity}
    val emb = t("embeddings")
    val work = java.nio.file.Files.createTempDirectory("graft_annq_").toString
    def rows(df: => org.apache.spark.sql.DataFrame) = Staging.scoped {
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSeq.sorted
    }
    try {
      IncrementalAnn.buildIndex(emb, "vec_id", "embedding", dim = 64,
        path = work, numPlanes = 8)
      val q = emb.filter(col("vec_id") < 8)
      val viaIdx = rows(IncrementalAnn.topK(q, "vec_id", "embedding",
        work, k = 3))
      val viaLsh = rows(Similarity.lshTopK(emb, q, "vec_id", "embedding",
        dim = 64, k = 3, numPlanes = 8))
      assert(viaIdx == viaLsh,
        s"index route ${viaIdx.size} rows vs in-memory ${viaLsh.size}")
      assert(viaIdx.nonEmpty, "fixture self-check: neighbors exist")
      // retract the first result's neighbor: it must vanish, and the
      // route must equal lshTopK over the surviving corpus
      val victim = viaIdx.head._2
      IncrementalAnn.retract(spark, work, Seq(victim).toDF("vec_id"))
      val after = rows(IncrementalAnn.topK(q, "vec_id", "embedding",
        work, k = 3))
      assert(after.forall(_._2 != victim), "retracted vector still ranked")
      val lshSurv = rows(Similarity.lshTopK(
        emb.filter(col("vec_id") =!= victim), q, "vec_id", "embedding",
        dim = 64, k = 3, numPlanes = 8))
      assert(after == lshSurv,
        "retracted index must rank exactly like the surviving corpus")
    } finally rmTree(work)
  }

  test("bm25TopKBatch equals the per-query scan loop (overlapping + disjoint)") {
    import spark.implicits._
    import graft.operators.Retrieval
    val docs = t("documents")
    // qa/qb share 'vector'; qc is disjoint from both
    val perQuery = Seq(
      "qa" -> Seq("dup", "vector", "batch"),
      "qb" -> Seq("vector", "table"),
      "qc" -> Seq("scan", "row"))
    val qFrame = perQuery.flatMap { case (q, ts) => ts.map(q -> _) }
      .toDF("query_id", "term")
    val batched = Staging.scoped(Retrieval.bm25TopKBatch(docs, "doc_id", "text",
      qFrame, "query_id", "term", k = 5)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq)
    for ((q, ts) <- perQuery) {
      val loop = Staging.scoped(Retrieval.bm25TopK(docs, "doc_id", "text", ts, k = 5)
        .collect()
        .map(r => (q, r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSeq)
      assert(batched.filter(_._1 == q) == loop,
        s"batched result for $q must equal its scan-form loop iteration")
    }
  }

  test("topKFromIndexBatch == per-query index route == the one-pass corpus batch") {
    import spark.implicits._
    import graft.operators.Retrieval
    val docs = t("documents")
    val perQuery = Seq(
      "qa" -> Seq("dup", "vector", "batch"),
      "qb" -> Seq("vector", "table"),
      "qc" -> Seq("scan", "row"))
    val qFrame = perQuery.flatMap { case (q, ts) => ts.map(q -> _) }
      .toDF("query_id", "term")
    val work = java.nio.file.Files.createTempDirectory("graft_postb_").toString
    try {
      Retrieval.buildPostingsIndex(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", work)
      Retrieval.appendToPostingsIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", work)
      def rows5(df: => org.apache.spark.sql.DataFrame) = Staging.scoped {
        df.collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getDouble(3), r.getLong(4))).toSeq
      }
      val probe = rows5(Retrieval.topKFromIndexBatch(spark, work,
        qFrame, "query_id", "term", k = 5))
      // == the one-pass corpus batch form
      val corpus = rows5(Retrieval.bm25TopKBatch(docs, "doc_id", "text",
        qFrame, "query_id", "term", k = 5))
      assert(probe == corpus,
        "postings-probe batch must equal the corpus-pass batch")
      // == the single-query index route, per query
      for ((q, ts) <- perQuery) {
        val one = Staging.scoped(Retrieval.topKFromIndex(spark, work, ts, k = 5)
          .collect().map(r => (q, r.getLong(0), r.getLong(1),
            r.getDouble(2), r.getLong(3))).toSeq)
        assert(probe.filter(_._1 == q) == one,
          s"batched probe for $q must equal its single-query route")
      }
      // a query whose terms are ALL absent from the corpus emits NO rows
      // under that query_id (the stated matching-docs contract), without
      // disturbing its suite-mates
      val withGhost = (perQuery :+ ("qz" -> Seq("zzznope", "qqqnever")))
        .flatMap { case (q, ts) => ts.map(q -> _) }.toDF("query_id", "term")
      val ghosted = rows5(Retrieval.topKFromIndexBatch(spark, work,
        withGhost, "query_id", "term", k = 5))
      assert(!ghosted.exists(_._1 == "qz"))
      assert(ghosted == probe)
      val ghostedCorpus = rows5(Retrieval.bm25TopKBatch(docs, "doc_id",
        "text", withGhost, "query_id", "term", k = 5))
      assert(ghostedCorpus == corpus)
    } finally rmTree(work)
  }

  test("bm25TopKBatch == scan loop on seeded random term suites (generative)") {
    import spark.implicits._
    import graft.operators.Retrieval
    val docs = t("documents")
    // candidate terms drawn from the corpus itself (deterministic: top-12
    // by occurrence, ties on token) so every suite spans the df spectrum
    val vocab = docs
      .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").count()
      .orderBy(col("count").desc, col("tok"))
      .limit(12).collect().map(_.getString(0)).toSeq
    val rnd = new scala.util.Random(7L)
    for (trial <- 1 to 3) {
      val suite = (0 until 4).map { qi =>
        s"t${trial}q$qi" -> rnd.shuffle(vocab).take(2 + rnd.nextInt(3))
      }
      val qFrame = suite.flatMap { case (q, ts) => ts.map(q -> _) }
        .toDF("query_id", "term")
      val batched = Staging.scoped(Retrieval.bm25TopKBatch(docs, "doc_id", "text",
        qFrame, "query_id", "term", k = 4)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4))).toSeq)
      for ((q, ts) <- suite) {
        val loop = Staging.scoped(Retrieval.bm25TopK(docs, "doc_id", "text", ts, k = 4)
          .collect().map(r => (q, r.getLong(0), r.getLong(1),
            r.getDouble(2), r.getLong(3))).toSeq)
        assert(batched.filter(_._1 == q) == loop, s"trial $trial query $q " +
          s"terms $ts: batched != loop")
      }
    }
  }

  test("evalRankingBatch: hand-computed per-query rows incl. no-hit and unranked queries") {
    import spark.implicits._
    import graft.operators.Retrieval
    val ranked = Seq(
      ("qa", 7L, 1L), ("qa", 2L, 2L), ("qa", 5L, 3L),
      ("qb", 9L, 1L)).toDF("query_id", "id", "rank")
    // qa: judged {2, 99}, hit at rank 2; qb: judged {4}, no hit;
    // qc: judged {42} but produced NO ranked rows (appears with zeros)
    val rel = Seq(("qa", 2L), ("qa", 99L), ("qb", 4L), ("qc", 42L))
      .toDF("query_id", "id")
    val out = Retrieval.evalRankingBatch(ranked, rel, "query_id", "id",
      "rank", n = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    val p1of2 = math.floor(1.0 / 2.0 * 1e9) / 1e9
    val rr2 = math.floor(1e9 / 2.0) / 1e9
    assert(out == Seq(
      ("qa", 3L, 2L, 1L, p1of2, rr2),
      ("qb", 1L, 1L, 0L, 0.0, 0.0),
      ("qc", 0L, 1L, 0L, 0.0, 0.0)))
    // suite MRR is the caller's mean over rr — matches evalRanking's
    // per-query quantized values by construction
    assert(math.abs(out.map(_._6).sum / 3 - rr2 / 3) < 1e-15)
  }

  test("bm25 degenerate corpus: all-empty texts score a documented zero, not null") {
    import spark.implicits._
    import graft.operators.Retrieval
    val empty = Seq((1L, ""), (2L, "  "), (3L, "")).toDF("doc_id", "text")
    val r = Staging.scoped(Retrieval.bm25TopK(empty, "doc_id", "text", Seq("x"), k = 3)
      .collect())
    // Σdl = 0 → the lengthNorm guard pins every score to exactly 0.0 and
    // the ranking degrades to ascending id — no NaN/null rows
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(r.forall(row => !row.isNullAt(2) && row.getDouble(2) == 0.0))
    // the scan and inverted forms reject duplicated terms loudly
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(empty, "doc_id", "text", Seq("x", "x"), k = 1)
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopKIndexed(empty, "doc_id", "text", Seq("x", "x"), k = 1)
    }
  }

  test("evalRanking: hand-computed MRR and precision, hit and no-hit cases") {
    import spark.implicits._
    import graft.operators.Retrieval
    val ranked = Seq((7L, 1L), (2L, 2L), (5L, 3L)).toDF("id", "rank")
    val rel = Seq(Tuple1(2L), Tuple1(99L)).toDF("id")
    val r = Retrieval.evalRanking(ranked, rel, "id", "rank", n = 2)
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 2L, 1L)))
    assert(r.getDouble(3) == math.floor(1.0 / 2.0 * 1e9) / 1e9) // p@2
    assert(r.getDouble(4) == math.floor(1e9 / 2.0) / 1e9) // first hit rank 2
    val none = Retrieval.evalRanking(ranked,
      Seq(Tuple1(42L)).toDF("id"), "id", "rank", n = 2).collect()(0)
    assert(none.getLong(2) == 0L && none.getDouble(3) == 0.0
      && none.getDouble(4) == 0.0)
  }

  test("rrfFuse: hand-computed fusion with a one-sided and a two-sided doc") {
    import spark.implicits._
    import graft.operators.Retrieval
    // doc 1 ranks 1st lexically and 2nd semantically; doc 2 only lexical;
    // doc 3 only semantic (1st)
    val lex = Seq((1L, 1L), (2L, 2L)).toDF("id", "rank")
    val sem = Seq((3L, 1L), (1L, 2L)).toDF("id", "rank")
    val out = Retrieval.rrfFuse(lex, sem, "id", "rank", k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    def qr(r: Long) = math.floor(1e9 / (60.0 + r)).toLong
    val expect = Seq(
      (1L, (qr(1) + qr(2)).toDouble / 1e9, 1L),
      (3L, qr(1).toDouble / 1e9, 2L),
      (2L, qr(2).toDouble / 1e9, 3L))
    assert(out.toSeq == expect)
  }

  test("trained-quantizer surface: matrix == frame, assignments match the argmax twin") {
    import spark.implicits._
    import graft.operators.{Clustering, Similarity}
    // the kmeansSummary planted fixture: two tight orthogonal clusters
    val rows = (0 until 40).map { i =>
      val base = Array.fill(8)(0.001 * (i % 3))
      base(if (i % 2 == 0) 0 else 4) = 1.0
      (i.toLong, base.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val m = Staging.scoped(Clustering.trainCentroidMatrix(emb, "vec_id", "embedding",
      k = 2, iters = 3))
    // the (cell, centroid) frame is the same training, as data (and proves
    // train-twice determinism); cells are 1-based row indices
    val frame = Staging.scoped(Clustering.trainedCentroids(emb, "vec_id", "embedding",
      k = 2, iters = 3).collect())
    assert(frame.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(frame.map(_.getSeq[Double](1).toSeq).toSeq == m.map(_.toSeq).toSeq)
    // trained centroids are unit vectors (the spherical contract)
    assert(m.forall(v => math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9))
    // assignments with the PUBLIC matrix == the composed literal-dot argmax
    val assigned = Clustering.assignments(emb, "vec_id", "embedding", m)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val withDots = m.zipWithIndex.foldLeft(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))) {
      case (df, (c, i)) =>
        df.withColumn(s"d_$i", Similarity.dot(col("vec"),
          lit(c.map(java.lang.Double.valueOf))))
    }
    val twin = withDots.collect().map { r =>
      val dots = m.indices.map(i => r.getDouble(r.fieldIndex(s"d_$i")))
      r.getLong(0) -> (dots.zipWithIndex.maxBy { case (d, i) => (d, -i) }._2 + 1)
    }.toMap
    assert(assigned == twin)
    // and the planted structure separates: even ids one cell, odd the other
    assert(assigned.filter(_._1 % 2 == 0).values.toSet.size == 1)
    assert(assigned.filter(_._1 % 2 == 1).values.toSet.size == 1)
    assert(assigned(0L) != assigned(1L))
  }

  test("codebook round-trip: save -> load -> assign == direct assignment") {
    import spark.implicits._
    import graft.operators.Clustering
    val rows = (0 until 40).map { i =>
      val base = Array.fill(8)(0.001 * (i % 3))
      base(if (i % 2 == 0) 0 else 4) = 1.0
      (i.toLong, base.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val work = java.nio.file.Files.createTempDirectory("graft_codebook_").toString
    try {
      val trained = Staging.scoped(Clustering.trainedCentroids(emb, "vec_id", "embedding",
        k = 2, iters = 3))
      Clustering.saveCentroids(trained, work)
      val loaded = Clustering.loadCentroidMatrix(spark, work)
      val direct = Staging.scoped(Clustering.trainCentroidMatrix(emb, "vec_id", "embedding",
        k = 2, iters = 3))
      // bit-exact round-trip (doubles through parquet are lossless)
      assert(loaded.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq)
      val a = Clustering.assignments(emb, "vec_id", "embedding", loaded)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      val b = Clustering.assignments(emb, "vec_id", "embedding", direct)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(a == b)
      // a non-contiguous codebook (partial copy) fails loudly
      spark.read.parquet(s"$work/codebook").filter(col("cell") === 2)
        .write.mode("overwrite").parquet(s"$work/partial/codebook")
      val e = intercept[IllegalArgumentException] {
        Clustering.loadCentroidMatrix(spark, s"$work/partial")
      }
      assert(e.getMessage.contains("non-contiguous"))
    } finally rmTree(work)
  }

  test("kmeansSummary seeds once: job count stays under the single-seeding budget") {
    import spark.implicits._
    import graft.operators.Clustering
    val rows = (0 until 60).map { i =>
      val base = Array.fill(8)(0.001 * (i % 5))
      base(i % 4) = 1.0
      (i.toLong, base.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def measured(work: => Unit): Int = {
      jobs.set(0)
      spark.sparkContext.addSparkListener(listener)
      try {
        Staging.scoped(work)
        // drain the async listener bus: poll until the count is stable
        var last = -1
        var stable = 0
        while (stable < 3) {
          Thread.sleep(150)
          val now = jobs.get()
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      jobs.get()
    }
    // warm the staging/kernel/codegen paths so measured runs are steady;
    // each run stages in a scope of its own, so none reads another's cache
    Staging.scoped(Clustering.kmeansSummary(emb, "vec_id", "embedding",
      k = 4, iters = 2).collect())
    val summaryJobs = measured {
      val out = Clustering.kmeansSummary(emb, "vec_id", "embedding",
        k = 4, iters = 2).collect()(0)
      assert(out.getLong(0) == 60L && out.getBoolean(1))
    }
    // the seeding pass alone, measured the same way (iters=0 IS the seed
    // computation): the OLD kmeansSummary ran it twice (once per
    // trainCentroids call) plus a separate c.count() job, so its total
    // would exceed summaryJobs by at least seedJobs. Requiring
    // summaryJobs + seedJobs to stay OVER the bound proves the margin is
    // real, and the absolute pin catches a re-seeding regression.
    val seedJobs = measured {
      Clustering.trainCentroidMatrix(emb, "vec_id", "embedding",
        k = 4, iters = 0)
    }
    assert(seedJobs >= 2, s"seeding measured only $seedJobs jobs — " +
      "the pin below would no longer discriminate a re-seeding regression")
    // measured 18 on the seed-once path; the old double-seeding +
    // count() structure lands at ≥ 18 + seedJobs + 1, safely over the pin
    assert(summaryJobs <= 18,
      s"kmeansSummary ran $summaryJobs jobs (seeding alone is $seedJobs) — " +
        "the seed matrix is being recomputed (or a new job crept in)")
  }

  test("hybrid fusion over the governed ANN ranker == fusion over exact kNN at recall 1.0") {
    import graft.operators.{Retrieval, Similarity}
    val docs = t("documents")
    val emb = t("embeddings")
    val q0 = emb.filter(col("vec_id") === 0)
    def rows(df: => org.apache.spark.sql.DataFrame) = Staging.scoped {
      df.collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getLong(2))).toSeq
    }
    val lex = Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("dup", "vector", "batch"), k = 60)
    // nprobe == nlist probes EVERY cell: the IVF candidate set is the full
    // corpus and recall is exactly 1.0 — the same exact-cosine verify and
    // the same (cos desc, id asc) tie rule make the ranked list identical
    // to brute force, so fusing the ANN ranker must reproduce the exact
    // hybrid bit for bit (the rank column is the only thing rrfFuse reads)
    val ivf = Similarity.ivfTopK(emb, q0, "vec_id", "embedding",
      k = 60, nlist = 8, nprobe = 8, iters = 2)
      .select(col("n_id").as("doc_id"), col("rank"))
    val exact = Similarity.bruteForceTopK(emb, q0, "vec_id", "embedding",
      k = 60).select(col("n_id").as("doc_id"), col("rank"))
    val fusedIvf = rows(Retrieval.rrfFuse(lex, ivf, "doc_id", "rank", k = 10))
    val fusedExact = rows(Retrieval.rrfFuse(lex, exact, "doc_id", "rank", k = 10))
    assert(fusedIvf == fusedExact,
      "hybrid fusion over the exhaustive-probe IVF list must equal the exact hybrid")
    assert(fusedIvf.map(_._3) == (1L to fusedIvf.length))
  }

  test("kmeansSummary: gates hold and training separates planted clusters") {
    import spark.implicits._
    import graft.operators.Clustering
    // two tight planted clusters around orthogonal axes — training must
    // keep the partition/occupancy/monotonicity gates AND actually
    // separate them (seeds are hash-drawn, so this exercises real moves)
    val rows = (0 until 40).map { i =>
      val base = Array.fill(8)(0.001 * (i % 3))
      base(if (i % 2 == 0) 0 else 4) = 1.0
      (i.toLong, base.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = Staging.scoped(Clustering.kmeansSummary(emb, "vec_id", "embedding",
      k = 2, iters = 4).collect()(0))
    assert(out.getLong(0) == 40L)
    assert(out.getBoolean(1) && out.getBoolean(2) && out.getBoolean(3))
    // the corpus fixture: gates hold there too, and repeat runs agree
    val emb2 = t("embeddings")
    def run(df: => org.apache.spark.sql.DataFrame) = Staging.scoped {
      val r = Clustering.kmeansSummary(df, "vec_id", "embedding",
        k = 8, iters = 2).collect()(0)
      (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))
    }
    val a = run(emb2)
    assert(a == run(emb2.repartition(5)))
    assert(a._2 && a._3 && a._4)
  }

  test("assignProfile is deterministic under repartitioning") {
    import graft.operators.Clustering
    val emb = t("embeddings")
    def run(df: org.apache.spark.sql.DataFrame) =
      Clustering.assignProfile(df, "vec_id", "embedding", k = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getLong(4))).toSeq
    assert(run(emb) == run(emb.repartition(5)))
  }
}

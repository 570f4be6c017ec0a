package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionScratch.rmTree
import graft.operators.{IncrementalDedup, Staging}
import graft.streaming.CorpusIngest

/** Continuous-ingest corpus hygiene (streaming/CorpusIngest.scala):
  * arriving doc files → per-micro-batch incremental dedup against the
  * persisted index → survivors appended to index + durable sink.
  *
  * Pins: (1) the streamed drain equals the sequential IncrementalDedup
  * fold it orchestrates, with greedy first-fit semantics (A~B, B~C, A≁C
  * keeps {A, C}); (2) checkpoint resume processes ONLY new files and
  * never rewrites published batches; (3) a replayed batch (foreachBatch's
  * at-least-once window) is harmless: same sink bytes, and the duplicated
  * index rows change no later decision.
  */
class IngestSpec extends AnyFunSuite with StagingScope {

  lazy val spark: SparkSession = SparkTestSession.get

  // 20-token texts; one substituted token flips 3 of the 18 3-shingles,
  // so one edit → J = 15/21 ≈ 0.714 ≥ τ=0.6, two edits → J = 12/24 = 0.5 < τ.
  private def toks(i: Int): IndexedSeq[String] = (0 until 20).map(j => s"w${j}")
  private val textA = toks(0).mkString(" ")
  private val textB = toks(0).updated(3, "bx").mkString(" ")
  private val textC = toks(0).updated(3, "bx").updated(16, "cx").mkString(" ")
  private def fresh(i: Int): String = (0 until 20).map(j => s"t${i}_$j").mkString(" ")

  private val params = IncrementalDedup.Params(3, 16, 8)
  private val tau = 0.6

  private def writeDocFile(dir: String, rows: Seq[(Long, String)],
      name: String, mtime: Long): Unit = {
    import spark.implicits._
    val tmp = s"$dir/tmp_$name"
    rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dest = new java.io.File(dir, name)
    java.nio.file.Files.move(part.toPath, dest.toPath)
    assert(dest.setLastModified(mtime))
  }

  private val f1 = Seq(1L -> textA, 2L -> fresh(2), 3L -> textA, 4L -> "one two")
  private val f2 = Seq(11L -> textB, 12L -> fresh(12))
  private val f3 = Seq(21L -> textC, 22L -> fresh(22), 23L -> textA)
  // 3 drops within its batch (exact copy of 1); 11 drops against kept 1;
  // 21 is a near-dup of DROPPED 11 but not of anything kept → kept
  // (greedy first-fit); 23 drops against the indexed 1; 4 is short
  // (no 3-shingle) and always survives
  private val expectedKept = Set(1L, 2L, 4L, 12L, 21L, 22L)

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_ingest_$tag").toString

  private def keptIds(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("streamed ingest equals the sequential incremental fold (greedy first-fit)") {
    import spark.implicits._
    val root = scratch("fold")
    try {
      val src = s"$root/src"; new java.io.File(src).mkdirs()
      val now = System.currentTimeMillis()
      writeDocFile(src, f1, "f1.parquet", now - 120000)
      writeDocFile(src, f2, "f2.parquet", now - 60000)
      writeDocFile(src, f3, "f3.parquet", now)

      val streamed = CorpusIngest.runIngestAvailableNow(spark, src,
        s"$root/idx", s"$root/sink", s"$root/ckpt",
        jaccardThreshold = tau, params = params)
      assert(keptIds(streamed) == expectedKept,
        s"streamed=${keptIds(streamed).toSeq.sorted}")

      // the same three batches folded by hand through IncrementalDedup
      val idx2 = s"$root/idx2"
      IncrementalDedup.buildIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", "text", idx2, params)
      val fold = Seq(f1, f2, f3).flatMap { rows =>
        val batch = rows.toDF("doc_id", "text")
        // the keep list's staged frames read idx2: their scope closes
        // before the append writes it, as in the ingest
        val ids = Staging.scoped(keptIds(
          IncrementalDedup.newKeepList(batch, "doc_id", "text", idx2, tau)))
        IncrementalDedup.appendBatch(batch.filter(col("doc_id").isin(ids.toSeq: _*)),
          "doc_id", "text", idx2)
        ids
      }.toSet
      assert(fold == expectedKept, s"fold=${fold.toSeq.sorted}")
    } finally rmTree(root)
  }

  test("banned needles drop at the door: not in the sink, not in the index") {
    import spark.implicits._
    val root = scratch("needle")
    try {
      val src = s"$root/src"; new java.io.File(src).mkdirs()
      val now = System.currentTimeMillis()
      // doc 2 carries the banned phrase mid-text; doc 31 carries the
      // other needle; doc 1 contains 'w3 w4' (a SUBSET overlap with
      // neither needle) and must survive
      val g1 = Seq(1L -> textA, 2L -> (fresh(2) + " leaked item alpha tail"),
        3L -> textA)
      val g2 = Seq(31L -> "beta leak marker", 32L -> fresh(32))
      writeDocFile(src, g1, "g1.parquet", now - 60000)
      writeDocFile(src, g2, "g2.parquet", now)
      val needles = Seq(Seq("leaked", "item", "alpha"),
        Seq("beta", "leak", "marker"))
      val streamed = CorpusIngest.runIngestAvailableNow(spark, src,
        s"$root/idx", s"$root/sink", s"$root/ckpt",
        jaccardThreshold = tau, params = params,
        bannedNeedles = needles)
      // 2 and 31 blocked at the door; 3 still dedups against kept 1
      assert(keptIds(streamed) == Set(1L, 32L),
        s"got ${keptIds(streamed).toSeq.sorted}")
      // the blocked docs left NO trace in the index either: a later
      // batch identical to doc 2's text is judged fresh (no near-dup)
      val probe = Seq(100L -> (fresh(2) + " leaked item alpha tail"))
        .toDF("doc_id", "text")
      val pairs = IncrementalDedup.newBatchPairs(probe, "doc_id", "text",
        s"$root/idx", tau)
      assert(pairs.isEmpty,
        "a blocked doc's signatures must never reach the index")
    } finally rmTree(root)
  }

  test("ingest maintains the standing index suite: every store == survivors") {
    import graft.operators.{Decontaminate, Retrieval}
    val root = scratch("suite")
    try {
      val src = s"$root/src"; new java.io.File(src).mkdirs()
      val now = System.currentTimeMillis()
      writeDocFile(src, f1, "f1.parquet", now - 120000)
      writeDocFile(src, f2, "f2.parquet", now - 60000)
      writeDocFile(src, f3, "f3.parquet", now)
      val streamed = CorpusIngest.runIngestAvailableNow(spark, src,
        s"$root/idx", s"$root/sink", s"$root/ckpt",
        jaccardThreshold = tau, params = params,
        maintain = CorpusIngest.IndexSuite(
          postingsPath = Some(s"$root/post"),
          gramPostingsPath = Some(s"$root/gram"),
          positionsPath = Some(s"$root/pos"),
          termStatsPath = Some(s"$root/terms"),
          driftGramsPath = Some(s"$root/drift")))
      val survivors = streamed.select("doc_id", "text")
      assert(keptIds(streamed) == expectedKept)
      // postings: index-route BM25 == scan over the published survivors
      def bmRows(df: => org.apache.spark.sql.DataFrame) = Staging.scoped {
        df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .toSeq
      }
      assert(bmRows(Retrieval.topKFromIndex(spark, s"$root/post",
          Seq("w3"), k = 1))
        == bmRows(Retrieval.bm25TopK(survivors, "doc_id", "text",
          Seq("w3"), k = 1)),
        "postings store must equal a scan over the survivors")
      // gram postings: audit == the scan form over the survivors
      val bench = survivors.filter(col("doc_id") === 1L)
      val viaIdx = Staging.scoped {
        Decontaminate.flagContaminatedFromIndex(spark, s"$root/gram", bench,
          "text", minOverlap = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      val viaScan = Staging.scoped {
        Decontaminate.flagContaminated(survivors, "doc_id", "text", bench,
          "text", n = 3, minOverlap = 2)
          .filter(col("overlap") > 0).orderBy("doc_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      assert(viaIdx == viaScan, "gram store must equal the survivor scan")
      // positions: phrase route == the scan twin over the survivors
      def phRows(df: => org.apache.spark.sql.DataFrame) = Staging.scoped {
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      val needle = Seq("w3", "w4", "w5")
      assert(phRows(Retrieval.phraseMatches(spark, s"$root/pos", needle))
        == phRows(Retrieval.phraseCountScan(survivors, "doc_id", "text",
          needle)),
        "positional store must equal the survivor scan twin")
      assert(phRows(Retrieval.phraseMatches(spark, s"$root/pos",
        needle)).nonEmpty, "fixture self-check: the needle occurs")
      // COUNTED stores (batch-id-keyed appends): term stats == a fresh
      // batch-built index over the same survivors, drift summary ditto
      import spark.implicits._
      val probeDocs = Seq(51L -> fresh(51), 52L -> textA).toDF("doc_id", "text")
      def scoreRows(path: String) = Staging.scoped {
        Retrieval.scoreAgainstTermIndex(probeDocs, "doc_id", "text",
            Seq("w3", "t12_0"), path, k = 2)
          .collect().map(_.toSeq).toSeq
      }
      Retrieval.buildTermStatsIndex(survivors, "doc_id", "text", s"$root/terms2")
      assert(scoreRows(s"$root/terms") == scoreRows(s"$root/terms2"),
        "ingest-maintained term stats must equal a batch build on survivors")
      import graft.operators.CorpusCompare
      def driftRow(path: String) = Staging.scoped {
        CorpusCompare.driftSummaryAgainstIndex(spark, path,
          probeDocs, col("text")).collect().map(_.toSeq).toSeq
      }
      CorpusCompare.buildGramIndex(survivors, col("text"), s"$root/drift2")
      assert(driftRow(s"$root/drift") == driftRow(s"$root/drift2"),
        "ingest-maintained drift grams must equal a batch build on survivors")
      // FORCED REPLAY of the last committed batch: at-least-once
      // foreachBatch must leave the counted stores' answers unchanged
      // (keyed overwrite) and the row stores' queries unchanged (collapse)
      // the replay carries the STREAM's lineage (counted-store keys are
      // lineage-namespaced; a replay is by definition same-checkpoint)
      CorpusIngest.ingestBatch(f3.toDF("doc_id", "text"), 2L,
        s"$root/idx", s"$root/sink", "doc_id", "text", tau, params,
        maintain = CorpusIngest.IndexSuite(
          postingsPath = Some(s"$root/post"),
          gramPostingsPath = Some(s"$root/gram"),
          positionsPath = Some(s"$root/pos"),
          termStatsPath = Some(s"$root/terms"),
          driftGramsPath = Some(s"$root/drift")),
        lineage = CorpusIngest.lineageOf(s"$root/ckpt"))
      assert(scoreRows(s"$root/terms") == scoreRows(s"$root/terms2"),
        "a replayed batch must not double-count term stats")
      assert(driftRow(s"$root/drift") == driftRow(s"$root/drift2"),
        "a replayed batch must not double-count drift grams")
      // re-read the sink: the replay overwrote batch=2's part files, so
      // the pre-replay frame's snapshotted file index is stale
      val survivors2 = spark.read.parquet(s"$root/sink")
        .select("doc_id", "text")
      assert(bmRows(Retrieval.topKFromIndex(spark, s"$root/post",
          Seq("w3"), k = 1))
        == bmRows(Retrieval.bm25TopK(survivors2, "doc_id", "text",
          Seq("w3"), k = 1)),
        "replayed postings rows must collapse on read")
    } finally rmTree(root)
  }

  test("auto-compaction mid-drain: answers bit-identical, files bounded, replay safe") {
    import graft.operators.{CorpusCompare, Decontaminate, IndexMaintenance, Retrieval}
    import spark.implicits._
    val root = scratch("autocompact")
    try {
      // two ingests over the same three arrivals: one compacts every 2nd
      // batch (fires after batch 1, mid-drain), the control never does
      def drain(tag: String,
          policy: IndexMaintenance.AutoCompactPolicy): DataFrame = {
        val src = s"$root/src_$tag"; new java.io.File(src).mkdirs()
        val now = System.currentTimeMillis()
        writeDocFile(src, f1, "f1.parquet", now - 120000)
        writeDocFile(src, f2, "f2.parquet", now - 60000)
        writeDocFile(src, f3, "f3.parquet", now)
        CorpusIngest.runIngestAvailableNow(spark, src,
          s"$root/idx_$tag", s"$root/sink_$tag", s"$root/ckpt_$tag",
          jaccardThreshold = tau, params = params,
          maintain = CorpusIngest.IndexSuite(
            postingsPath = Some(s"$root/post_$tag"),
            gramPostingsPath = Some(s"$root/gram_$tag"),
            positionsPath = Some(s"$root/pos_$tag"),
            termStatsPath = Some(s"$root/terms_$tag"),
            driftGramsPath = Some(s"$root/drift_$tag")),
          autoCompact = policy)
      }
      val auto = drain("a", IndexMaintenance.AutoCompactPolicy(everyBatches = 2))
      val ctrl = drain("c", IndexMaintenance.AutoCompactPolicy())
      assert(keptIds(auto) == expectedKept && keptIds(ctrl) == expectedKept)

      // every query route answers bit-identically across the compaction
      def answers(tag: String): Seq[Seq[Any]] = Staging.scoped {
        val probeDocs = Seq(51L -> fresh(51), 52L -> textA).toDF("doc_id", "text")
        val bench = spark.read.parquet(s"$root/sink_$tag")
          .filter(col("doc_id") === 1L).select("doc_id", "text")
        Retrieval.topKFromIndex(spark, s"$root/post_$tag", Seq("w3"), k = 1)
          .collect().map(_.toSeq).toSeq ++
        Retrieval.phraseMatches(spark, s"$root/pos_$tag", Seq("w3", "w4", "w5"))
          .collect().map(_.toSeq).toSeq ++
        Decontaminate.flagContaminatedFromIndex(spark, s"$root/gram_$tag",
          bench, "text", minOverlap = 2).collect().map(_.toSeq).toSeq ++
        Retrieval.scoreAgainstTermIndex(probeDocs, "doc_id", "text",
          Seq("w3", "t12_0"), s"$root/terms_$tag", k = 2)
          .collect().map(_.toSeq).toSeq ++
        CorpusCompare.driftSummaryAgainstIndex(spark, s"$root/drift_$tag",
          probeDocs, col("text")).collect().map(_.toSeq).toSeq
      }
      assert(answers("a") == answers("c"),
        "compacted stores must answer bit-identically to uncompacted ones")

      // the backlog is bounded: the compacted run's stores hold strictly
      // fewer data files than the append-per-batch control
      for (st <- Seq("idx" -> "bands", "post" -> "postings",
          "pos" -> "positions", "gram" -> "grams")) {
        val fa = IndexMaintenance.storeDataFiles(spark, s"$root/${st._1}_a", st._2)
        val fc = IndexMaintenance.storeDataFiles(spark, s"$root/${st._1}_c", st._2)
        assert(fa < fc, s"${st._1}/${st._2}: auto=$fa vs control=$fc")
      }
      // counted stores: the fired compaction folded batches 0-1 into root
      // files and recorded them in the ledger; batch 2 is the remaining
      // keyed delta
      assert(IndexMaintenance.foldedBatches(spark, s"$root/terms_a", "terms").nonEmpty)
      assert(IndexMaintenance.keyedSubdirs(spark, s"$root/terms_a", "terms").size
        < IndexMaintenance.keyedSubdirs(spark, s"$root/terms_c", "terms").size)

      // REPLAY the triggering batch (id 1): the at-least-once window's
      // worst case re-runs the append AND the compaction — answers and
      // the sink must not move
      val before = answers("a")
      CorpusIngest.ingestBatch(f2.toDF("doc_id", "text"), 1L,
        s"$root/idx_a", s"$root/sink_a", "doc_id", "text", tau, params,
        maintain = CorpusIngest.IndexSuite(
          postingsPath = Some(s"$root/post_a"),
          gramPostingsPath = Some(s"$root/gram_a"),
          positionsPath = Some(s"$root/pos_a"),
          termStatsPath = Some(s"$root/terms_a"),
          driftGramsPath = Some(s"$root/drift_a")),
        lineage = CorpusIngest.lineageOf(s"$root/ckpt_a"),
        autoCompact = IndexMaintenance.AutoCompactPolicy(everyBatches = 2))
      assert(answers("a") == before,
        "replaying the compaction-triggering batch must change no answer")
      assert(keptIds(spark.read.parquet(s"$root/sink_a")) == expectedKept)
    } finally rmTree(root)
  }

  test("file-threshold auto-compaction fires only past the backlog and folds it") {
    import graft.operators.IndexMaintenance
    import spark.implicits._
    val root = scratch("threshold")
    try {
      val maintain = CorpusIngest.IndexSuite()
      val policy = IndexMaintenance.AutoCompactPolicy(fileThreshold = 3)
      // each ingested batch appends one file set per store; the
      // threshold policy folds the backlog whenever it crosses 3,
      // keeping the end state bounded where the control grows linearly
      for (b <- 0 until 6) {
        val batch = Seq((100L * b + 1) -> fresh(100 * b + 1),
          (100L * b + 2) -> fresh(100 * b + 2)).map { case (i, t) => (i.toLong, t) }
        CorpusIngest.ingestBatch(batch.toDF("doc_id", "text"), b.toLong,
          s"$root/idx", s"$root/sink", "doc_id", "text", tau, params,
          maintain = maintain, lineage = "t",
          autoCompact = policy)
        CorpusIngest.ingestBatch(batch.toDF("doc_id", "text"), b.toLong,
          s"$root/idx2", s"$root/sink2", "doc_id", "text", tau, params,
          maintain = maintain, lineage = "t")
      }
      val end = IndexMaintenance.storeDataFiles(spark, s"$root/idx", "bands")
      val ctrl = IndexMaintenance.storeDataFiles(spark, s"$root/idx2", "bands")
      assert(ctrl > 3, s"control fixture must exceed the threshold, saw $ctrl")
      assert(end <= 3, s"end backlog $end must be back under the threshold")
      // and the index still answers: all 12 distinct docs survived
      assert(keptIds(spark.read.parquet(s"$root/sink")).size == 12)
      assert(keptIds(spark.read.parquet(s"$root/sink2")).size == 12)
    } finally rmTree(root)
  }

  test("retracted-and-banned content cannot re-enter through the ingest") {
    import spark.implicits._
    val root = scratch("ban")
    try {
      val src = s"$root/src"; new java.io.File(src).mkdirs()
      val now = System.currentTimeMillis()
      writeDocFile(src, f1, "f1.parquet", now - 120000)
      val first = CorpusIngest.runIngestAvailableNow(spark, src,
        s"$root/idx", s"$root/sink", s"$root/ckpt",
        jaccardThreshold = tau, params = params)
      assert(keptIds(first) == Set(1L, 2L, 4L))

      // TAKEDOWN of doc 1: tombstone its index rows AND ban its content.
      // Without the ban, a re-upload of the same bytes would no longer
      // collide with its own (tombstoned) history and would re-enter.
      CorpusIngest.retractContent(spark, s"$root/idx",
        Seq(1L -> textA).toDF("doc_id", "text"), "doc_id", "text")

      // the same bytes re-arrive (new id), plus a whitespace-mangled
      // variant (canonical identity is NFC + whitespace collapse) and a
      // genuinely fresh doc
      writeDocFile(src, Seq(41L -> textA, 42L -> ("  " + textA + "\t "),
        43L -> fresh(43)), "f2.parquet", now)
      val after = CorpusIngest.runIngestAvailableNow(spark, src,
        s"$root/idx", s"$root/sink", s"$root/ckpt",
        jaccardThreshold = tau, params = params)
      assert(keptIds(after) == Set(1L, 2L, 4L, 43L),
        s"banned re-uploads must drop at the door; got ${keptIds(after)}")
      // ...and the banned docs never polluted the index with signatures
      assert(spark.read.parquet(s"$root/idx/bands")
        .filter(col("id").isin(41L, 42L)).count() == 0L,
        "banned content must not reach the index")
      // the ban survives a replay of the arrival batch
      CorpusIngest.ingestBatch(
        Seq(41L -> textA, 43L -> fresh(43)).toDF("doc_id", "text"), 1L,
        s"$root/idx", s"$root/sink", "doc_id", "text", tau, params)
      assert(keptIds(CorpusIngest.survivors(spark, s"$root/sink",
        Seq.empty[(Long, String)].toDF("doc_id", "text").schema))
        == Set(1L, 2L, 4L, 43L))
      // a replay whose ENTIRE content is now banned must still overwrite
      // its sink partition (emptying it) — otherwise the stale partition
      // keeps publishing banned bytes forever
      CorpusIngest.retractContent(spark, s"$root/idx",
        Seq(43L -> fresh(43)).toDF("doc_id", "text"), "doc_id", "text")
      CorpusIngest.ingestBatch(
        Seq(41L -> textA, 43L -> fresh(43)).toDF("doc_id", "text"), 1L,
        s"$root/idx", s"$root/sink", "doc_id", "text", tau, params)
      assert(keptIds(CorpusIngest.survivors(spark, s"$root/sink",
        Seq.empty[(Long, String)].toDF("doc_id", "text").schema))
        == Set(1L, 2L, 4L),
        "a fully-banned replay must empty its own sink partition")
    } finally rmTree(root)
  }

  test("counted-store lifecycle: compaction+replay can't double-count; lineages don't clobber; mid-swap crash can't wipe") {
    import spark.implicits._
    import graft.operators.{IndexMaintenance, Retrieval}
    val root = scratch("counted")
    val terms = s"$root/terms"
    val suite = CorpusIngest.IndexSuite(termStatsPath = Some(terms))
    val linA = CorpusIngest.lineageOf(s"$root/ckptA")
    def score() = Staging.scoped {
      val probe = Seq(900L -> textA).toDF("doc_id", "text")
      Retrieval.scoreAgainstTermIndex(probe, "doc_id", "text",
        Seq("w3"), terms, k = 1).collect().map(_.toSeq).toSeq
    }
    try {
      // lineage A ingests two batches
      CorpusIngest.ingestBatch(f1.toDF("doc_id", "text"), 0L,
        s"$root/idxA", s"$root/sinkA", "doc_id", "text", tau, params,
        maintain = suite, lineage = linA)
      CorpusIngest.ingestBatch(f2.toDF("doc_id", "text"), 1L,
        s"$root/idxA", s"$root/sinkA", "doc_id", "text", tau, params,
        maintain = suite, lineage = linA)
      val before = score()

      // COMPACTION inside the at-least-once window, then the replay of
      // batch 1: the folded ledger must make the replayed keyed append a
      // no-op — without it the replay re-creates its subdirectory and
      // every count doubles
      Retrieval.compactTermStatsIndex(spark, terms)
      assert(score() == before, "compaction must be count-identical")
      CorpusIngest.ingestBatch(f2.toDF("doc_id", "text"), 1L,
        s"$root/idxA", s"$root/sinkA", "doc_id", "text", tau, params,
        maintain = suite, lineage = linA)
      assert(score() == before,
        "a replay after compaction must not double-count (folded ledger)")

      // a FRESH ingest lineage (new checkpoint ⇒ batch ids restart at 0)
      // against the SAME store must add its deltas, not overwrite
      // lineage A's b0 — the score must equal a fresh batch build over
      // BOTH lineages' survivors
      val linB = CorpusIngest.lineageOf(s"$root/ckptB")
      CorpusIngest.ingestBatch(f3.toDF("doc_id", "text"), 0L,
        s"$root/idxB", s"$root/sinkB", "doc_id", "text", tau, params,
        maintain = suite, lineage = linB)
      val allSurvivors = spark.read.parquet(s"$root/sinkA")
        .unionByName(spark.read.parquet(s"$root/sinkB"))
        .select("doc_id", "text")
      Retrieval.buildTermStatsIndex(allSurvivors, "doc_id", "text",
        s"$root/terms_ref")
      val ref = {
        val probe = Seq(900L -> textA).toDF("doc_id", "text")
        Staging.scoped(Retrieval.scoreAgainstTermIndex(probe, "doc_id", "text",
          Seq("w3"), s"$root/terms_ref", k = 1).collect().map(_.toSeq).toSeq)
      }
      assert(score() == ref,
        "a second lineage must accumulate, not clobber, the counted store")

      // CRASH MID-SWAP: a compaction that died between its two renames
      // leaves marker+staged and NO live store dir — the ingest's
      // bootstrap probe must resolve the staged store as built, not
      // misread the store as unbuilt and wipe the history with an empty
      // build; the keyed append's lease then rolls the swap forward
      val live = java.nio.file.Paths.get(s"$terms/terms")
      val staged = java.nio.file.Paths.get(s"$terms/terms.compact")
      java.nio.file.Files.move(live, staged)
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(s"$terms/_compact_terms"))
      CorpusIngest.ingestBatch(
        Seq(61L -> fresh(61)).toDF("doc_id", "text"), 2L,
        s"$root/idxA", s"$root/sinkA", "doc_id", "text", tau, params,
        maintain = suite, lineage = linA)
      // history survived AND the new batch counted
      Retrieval.appendToTermStatsIndexKeyed(
        Seq(61L -> fresh(61)).toDF("doc_id", "text"), "doc_id", "text",
        s"$root/terms_ref", 2L, linA)
      val ref2 = {
        val probe = Seq(900L -> textA).toDF("doc_id", "text")
        Staging.scoped(Retrieval.scoreAgainstTermIndex(probe, "doc_id", "text",
          Seq("w3"), s"$root/terms_ref", k = 1).collect().map(_.toSeq).toSeq)
      }
      assert(score() == ref2,
        "a mid-swap crash before the bootstrap probe must be read as built, not wiped")
    } finally rmTree(root)
  }

  test("checkpoint resume drains only new files and keeps published batches intact") {
    val root = scratch("resume")
    try {
      val src = s"$root/src"; new java.io.File(src).mkdirs()
      val now = System.currentTimeMillis()
      writeDocFile(src, f1, "f1.parquet", now - 120000)
      writeDocFile(src, f2, "f2.parquet", now - 60000)

      val first = CorpusIngest.runIngestAvailableNow(spark, src,
        s"$root/idx", s"$root/sink", s"$root/ckpt",
        jaccardThreshold = tau, params = params)
      assert(keptIds(first) == Set(1L, 2L, 4L, 12L))
      val publishedMtimes = new java.io.File(s"$root/sink").listFiles()
        .filter(_.getName.startsWith("batch=")).map(d => d.getName -> d.lastModified).toMap

      writeDocFile(src, f3, "f3.parquet", now + 60000)
      val second = CorpusIngest.runIngestAvailableNow(spark, src,
        s"$root/idx", s"$root/sink", s"$root/ckpt",
        jaccardThreshold = tau, params = params)
      assert(keptIds(second) == expectedKept,
        s"resumed=${keptIds(second).toSeq.sorted}")
      // exactly one new batch directory; the old ones were not rewritten
      val dirsAfter = new java.io.File(s"$root/sink").listFiles()
        .filter(_.getName.startsWith("batch=")).map(d => d.getName -> d.lastModified).toMap
      assert(dirsAfter.size == publishedMtimes.size + 1)
      publishedMtimes.foreach { case (name, m) =>
        assert(dirsAfter(name) == m, s"$name was rewritten on resume")
      }
      // the batch partition column tracks arrival order
      assert(second.filter(col("doc_id") === 21L).select("batch")
        .collect().head.getAs[Number](0).longValue == 2L)
    } finally rmTree(root)
  }

  test("replaying a committed batch changes neither the sink nor later decisions") {
    import spark.implicits._
    val root = scratch("replay")
    try {
      val src = s"$root/src"; new java.io.File(src).mkdirs()
      val now = System.currentTimeMillis()
      writeDocFile(src, f1, "f1.parquet", now - 120000)
      writeDocFile(src, f2, "f2.parquet", now - 60000)
      val drained = CorpusIngest.runIngestAvailableNow(spark, src,
        s"$root/idx", s"$root/sink", s"$root/ckpt",
        jaccardThreshold = tau, params = params)
      assert(keptIds(drained) == Set(1L, 2L, 4L, 12L))

      // foreachBatch is at-least-once: simulate the crash-replay of batch 1
      CorpusIngest.ingestBatch(f2.toDF("doc_id", "text"), 1L,
        s"$root/idx", s"$root/sink", "doc_id", "text", tau, params)
      val after = CorpusIngest.survivors(spark, s"$root/sink",
        Seq.empty[(Long, String)].toDF("doc_id", "text").schema)
      assert(keptIds(after) == Set(1L, 2L, 4L, 12L), "replay changed the sink")

      // the duplicated index rows change no later decision: an A-copy
      // still drops, a fresh doc still survives
      val probe = IncrementalDedup.newKeepList(
        Seq(31L -> textA, 32L -> fresh(32)).toDF("doc_id", "text"),
        "doc_id", "text", s"$root/idx", tau)
      assert(keptIds(probe) == Set(32L))
    } finally rmTree(root)
  }

  test("same-JVM index rebuild with different params is observed by later batches") {
    import spark.implicits._
    val root = scratch("rebuild")
    try {
      val idx = s"$root/idx"
      // run 1: seed the index with shingle n=3 params and warm the
      // params cache with one drained batch
      IncrementalDedup.buildIndex(Seq(100L -> textA).toDF("doc_id", "text"),
        "doc_id", "text", idx, params)
      val src1 = s"$root/src1"; new java.io.File(src1).mkdirs()
      writeDocFile(src1, Seq(41L -> fresh(41)), "f1.parquet",
        System.currentTimeMillis())
      val first = CorpusIngest.runIngestAvailableNow(spark, src1,
        idx, s"$root/sink1", s"$root/ckpt1",
        jaccardThreshold = tau, params = params)
      assert(keptIds(first) == Set(41L))

      // REBUILD the index at the SAME path with DIFFERENT params
      // (2-shingles): signatures from the two parameterizations share no
      // band keys, so a batch signing with the STALE cached n=3 params
      // would miss every near-dup against the rebuilt index — the silent
      // class the (path, mtime) cache key exists to kill
      rmTree(idx)
      val p2 = IncrementalDedup.Params(2, params.numHashes, params.bands)
      IncrementalDedup.buildIndex(Seq(100L -> textA).toDF("doc_id", "text"),
        "doc_id", "text", idx, p2)
      val src2 = s"$root/src2"; new java.io.File(src2).mkdirs()
      writeDocFile(src2, Seq(51L -> textA, 52L -> fresh(52)), "f1.parquet",
        System.currentTimeMillis())
      val second = CorpusIngest.runIngestAvailableNow(spark, src2,
        idx, s"$root/sink2", s"$root/ckpt2",
        jaccardThreshold = tau, params = p2)
      // 51 is an exact copy of the seeded doc — it must DROP, which only
      // happens if the batch signed with the rebuilt index's fresh params
      assert(keptIds(second) == Set(52L),
        s"stale params cache: kept=${keptIds(second).toSeq.sorted}")
    } finally rmTree(root)
  }
}

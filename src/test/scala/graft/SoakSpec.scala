package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionScratch.rmTree
import graft.operators.Staging
import graft.streaming.{CorpusIngest, EventStreams}

/** Long-running streaming soak — the evidence the bounded AvailableNow
  * fixtures can't give: state-store size, checkpoint-log growth, and
  * per-batch wall across HUNDREDS of micro-batches (a production drain
  * runs forever; a 3-file fixture never exercises state eviction,
  * offset-log retention, or state-store snapshot maintenance).
  *
  * Both soaks run bounded wall-clock (~2-3 min combined) by keeping each
  * micro-batch tiny and the drain's shuffle width at 2.
  */
class SoakSpec extends AnyFunSuite with StagingScope {

  lazy val spark: SparkSession = SparkTestSession.get

  private def median(xs: Seq[Long]): Long = {
    val s = xs.sorted
    if (s.isEmpty) 0L else s(s.length / 2)
  }

  /** CPU time this JVM has used so far, in ms. The flat-cost checks
    * below compare CPU, not wall time: wall time grows whenever other
    * processes load the host (the checks failed that way under a loaded
    * 32-core run), CPU time grows only with the work done.
    */
  private def cpuMs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1000000L

  /** `f`'s wall and CPU seconds. */
  private def timed(f: => Unit): (Double, Double) = {
    val (t0, c0) = (System.nanoTime(), cpuMs())
    f
    ((System.nanoTime() - t0) / 1e9, (cpuMs() - c0) / 1e3)
  }

  test("tumbling drain soak: 240 micro-batches, watermark-bounded state, flat cost") {
    val fixture = java.nio.file.Files.createTempDirectory("graft_soak_drain_").toString
    try {
      import spark.implicits._
      val n = 240
      // one hour of event time per file; range-partitioning on ts makes
      // part-file path order == event-time order, and FileStreamSource
      // (maxFilesPerTrigger=1, equal mtimes) processes in path order —
      // so the watermark advances monotonically batch by batch
      val rows = (0 until n).flatMap { i =>
        Seq(((i * 3600L + 600) * 1000000000L, "click", 1.0),
          ((i * 3600L + 1800) * 1000000000L, "view", 2.0))
      }
      rows.toDF("ts", "event_type", "value")
        .repartitionByRange(n, col("ts"))
        .write.parquet(s"$fixture/events.parquet")
      // the parallel write finishes part files in TASK order, not
      // partition order — FileStreamSource drains by mtime, so scrambled
      // mtimes would regress the watermark and drop mid-stream windows.
      // Pin mtimes ascending by part index (== ts range order).
      val parts = new java.io.File(s"$fixture/events.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val t0 = System.currentTimeMillis() - parts.length * 1000L
      parts.zipWithIndex.foreach { case (f, i) =>
        assert(f.setLastModified(t0 + i * 1000L))
      }

      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "2")
      s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "300")
      // the JVM's CPU clock at each batch's progress event
      val cpuAt = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          cpuAt.put(e.progress.batchId, cpuMs())
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      }
      s.streams.addListener(listener)
      val agg = EventStreams.tumblingAgg(EventStreams.readEventStream(s, fixture))
      val q = agg.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", s"$fixture/sink")
        .option("checkpointLocation", s"$fixture/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination()
        // progress events reach listeners asynchronously
        val last = q.lastProgress.batchId
        val until = System.currentTimeMillis() + 30000L
        while (!cpuAt.containsKey(last) && System.currentTimeMillis() < until)
          Thread.sleep(50)
      } finally s.streams.removeListener(listener)

      val prog = q.recentProgress.filter(_.numInputRows > 0)
      assert(prog.length >= 200, s"expected 200+ data batches, saw ${prog.length}")

      // STATE IS WATERMARK-BOUNDED, NOT STREAM-BOUNDED: 220 hours flowed
      // through, but the store may only ever hold the windows the 1-hour
      // allowance keeps open (~2-3 windows × 2 event types; 12 = generous
      // slack). An unbounded-state bug would show hundreds of rows here.
      val stateRows = prog.flatMap(_.stateOperators.map(_.numRowsTotal))
      assert(stateRows.max <= 12,
        s"state grew to ${stateRows.max} rows — not watermark-bounded")

      // PER-BATCH COST IS FLAT: the mean CPU per batch over the last 50
      // batches stays within 3× of batches 10-60 (skipping codegen
      // warmup). Linear state or log growth would trend this upward.
      assert(prog.forall(p => cpuAt.containsKey(p.batchId)),
        "a batch's progress event never reached the listener")
      def cpuPerBatch(from: Int, until: Int): Long =
        (cpuAt.get(prog(until - 1).batchId) - cpuAt.get(prog(from - 1).batchId)) /
          (until - from)
      val early = cpuPerBatch(10, 60)
      val late = cpuPerBatch(prog.length - 50, prog.length)
      val durs = prog.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      val wall = s"median walls ${median(durs.slice(10, 60))} → ${median(durs.takeRight(50))} ms"
      assert(late <= math.max(3 * early, early + 200),
        s"per-batch CPU grew: early=$early ms late=$late ms ($wall)")
      // observability for the SCALE.md soak row (sbt test prints info)
      info(f"drain soak: batches=${prog.length} stateRowsMax=${stateRows.max} " +
        f"cpuPerBatch=${early}ms → ${late}ms, $wall")

      // CHECKPOINT LOGS ARE PURGED, NOT ACCUMULATED FOREVER: retention
      // keeps minBatchesToRetain (100) entries, but the purge itself is
      // ASYNC in the engine and lags behind these sub-100ms batches
      // (measured: 240 batches left ~200 offset files — purging, just
      // not caught up). The soak invariant is therefore "strictly fewer
      // log files than committed batches": unbounded growth shows one
      // file per batch, a live purge shows a widening gap that converges
      // to the retention floor at production batch cadences.
      def fileCount(p: String): Long = {
        val path = java.nio.file.Paths.get(p)
        if (!java.nio.file.Files.exists(path)) 0L
        else {
          val walk = java.nio.file.Files.walk(path)
          try walk.filter(java.nio.file.Files.isRegularFile(_)).count()
          finally walk.close()
        }
      }
      val offsetFiles = fileCount(s"$fixture/ckpt/offsets")
      val commitFiles = fileCount(s"$fixture/ckpt/commits")
      assert(offsetFiles < prog.length - 10,
        s"offsets log not purging: $offsetFiles files for ${prog.length} batches")
      assert(commitFiles < prog.length - 10,
        s"commits log not purging: $commitFiles files for ${prog.length} batches")
      // state-store maintenance produced snapshots (delta replay stays
      // bounded on restart instead of replaying every batch since 0)
      val stateDir = java.nio.file.Paths.get(s"$fixture/ckpt/state")
      val walk = java.nio.file.Files.walk(stateDir)
      val snapshots =
        try walk.filter(p => p.toString.endsWith(".snapshot")).count()
        finally walk.close()
      assert(snapshots > 0, "no state-store snapshots after 220 batches")

      // and the drain is still CORRECT end to end: every window except
      // the trailing watermark-open ones reached the sink exactly once
      val out = spark.read.parquet(s"$fixture/sink")
      val emitted = out.count()
      assert(emitted >= (n - 3) * 2L && emitted <= n * 2L,
        s"emitted $emitted of ${n * 2} window rows")
      assert(out.groupBy("bucket_start", "event_type").count()
        .filter(col("count") > 1).count() == 0, "a window emitted twice")
    } finally rmTree(fixture)
  }

  test("ProcessingTime soak: live timer trigger, gradual arrivals, empty batches harmless") {
    // The AvailableNow drains above share the state machinery but never
    // exercise the one mode a production job actually runs: a REAL timer
    // trigger firing whether or not input arrived. This case runs the
    // tumbling drain under Trigger.ProcessingTime against a source that
    // keeps receiving files WHILE the query is live, then idles — so the
    // run covers trigger-idle interaction (empty/no-data batches) and
    // mid-flight arrivals, with the same invariants: bounded state, no
    // re-emits, every closed window in the sink exactly once.
    val fixture = java.nio.file.Files.createTempDirectory("graft_soak_pt_").toString
    try {
      import spark.implicits._
      val evDir = s"$fixture/events.parquet"
      val nInit = 30
      val nLive = 20
      def hourRows(i: Int) =
        Seq(((i * 3600L + 600) * 1000000000L, "click", 1.0),
          ((i * 3600L + 1800) * 1000000000L, "view", 2.0))
      (0 until nInit).flatMap(hourRows).toDF("ts", "event_type", "value")
        .repartitionByRange(nInit, col("ts"))
        .write.parquet(evDir)
      // mtime discipline (see the drain soak above): path order == ts
      // order must also be mtime order, or the watermark regresses
      val parts = new java.io.File(evDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val t0 = System.currentTimeMillis() - (nInit + 60) * 1000L
      parts.zipWithIndex.foreach { case (f, i) =>
        assert(f.setLastModified(t0 + i * 1000L))
      }

      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "2")
      s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "400")
      val agg = EventStreams.tumblingAgg(EventStreams.readEventStream(s, fixture))
      val q = agg.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", s"$fixture/sink")
        .option("checkpointLocation", s"$fixture/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
        .start()

      // LIVE arrivals: 20 more event-hours land while the timer runs —
      // real wall-clock arrival order matches event-time order, so the
      // watermark keeps advancing monotonically
      (0 until nLive).foreach { j =>
        val i = nInit + j
        val tmp = s"$fixture/tmp_$i"
        hourRows(i).toDF("ts", "event_type", "value")
          .coalesce(1).write.parquet(tmp)
        val pf = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(pf.toPath,
          java.nio.file.Paths.get(evDir, f"live-$i%05d.parquet"))
        rmTree(tmp)
        Thread.sleep(150)
      }
      // drain the backlog (maxFilesPerTrigger=1 → one file per trigger),
      // then idle long enough that guaranteed-EMPTY triggers fire
      val deadline = System.currentTimeMillis() + 120000L
      while (System.currentTimeMillis() < deadline &&
          q.recentProgress.count(_.numInputRows > 0) < nInit + nLive)
        Thread.sleep(250)
      Thread.sleep(1500)
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      assert(q.isActive, "timer query died before stop()")
      q.stop()
      q.awaitTermination()

      val prog = q.recentProgress
      val data = prog.filter(_.numInputRows > 0)
      val empty = prog.filter(_.numInputRows == 0)
      assert(data.length >= nInit + nLive - 2,
        s"expected ~${nInit + nLive} data batches, saw ${data.length}")
      assert(empty.nonEmpty,
        "no empty trigger observed — the idle path never ran")
      // state stays watermark-bounded across live arrivals and idle fires
      val stateRows = prog.flatMap(_.stateOperators.map(_.numRowsTotal))
      assert(stateRows.max <= 12,
        s"state grew to ${stateRows.max} rows — not watermark-bounded")
      info(s"pt soak: dataBatches=${data.length} emptyTriggers=${empty.length} " +
        s"stateRowsMax=${stateRows.max}")

      // every closed window reached the sink exactly once; the trailing
      // watermark-open windows stay in state
      val n = nInit + nLive
      val out = spark.read.parquet(s"$fixture/sink")
      val emitted = out.count()
      assert(emitted >= (n - 3) * 2L && emitted <= n * 2L,
        s"emitted $emitted of ${n * 2} window rows")
      assert(out.groupBy("bucket_start", "event_type").count()
        .filter(col("count") > 1).count() == 0, "a window emitted twice")
    } finally rmTree(fixture)
  }

  test("ingest soak: 200 micro-batches in 4 resumed chunks, flat chunk wall, dedup across the whole span") {
    val root = java.nio.file.Files.createTempDirectory("graft_soak_ingest_").toString
    try {
      import spark.implicits._
      val src = s"$root/src"
      val perChunk = 50
      val docsPerFile = 2
      def freshText(i: Int): String = (0 until 20).map(j => s"s${i}_$j").mkString(" ")
      // chunk 0 doc 0's text — duplicated by the LAST file of chunk 3, so
      // the final batch must consult an index built ~199 batches earlier
      val dupSource = freshText(0)
      val chunkWalls = (0 until 4).map { chunk =>
        val base = chunk * perChunk * docsPerFile
        val rows = (0 until perChunk * docsPerFile).map { j =>
          val id = (base + j).toLong
          val text =
            if (chunk == 3 && j == perChunk * docsPerFile - 1) dupSource
            else freshText(base + j)
          (id, text)
        }
        // one append write, range-partitioned on doc_id → `perChunk` new
        // part files; each is its own micro-batch on the next drain
        rows.toDF("doc_id", "text")
          .repartitionByRange(perChunk, col("doc_id"))
          .write.mode("append").parquet(src)
        timed(CorpusIngest.runIngestAvailableNow(spark, src,
          s"$root/idx", s"$root/sink", s"$root/ckpt",
          jaccardThreshold = 0.6, shufflePartitions = Some(2)))
      }
      // FLAT PER-CHUNK COST: every chunk drains the same 50 batches; the
      // index quadruples over the soak but per-batch work must stay
      // delta-sized (3× bound absorbs measurement noise, not growth
      // trends). Measured in CPU seconds, which host load leaves alone.
      val walls = chunkWalls.map(w => f"${w._1}%.1f/${w._2}%.1f").mkString(", ")
      assert(chunkWalls.last._2 <= chunkWalls.head._2 * 3,
        s"chunk CPU grew (wall/CPU s per chunk): $walls")
      info(s"ingest soak chunk wall/CPU s (50 batches each): $walls")

      // the one duplicate planted 199 batches after its source dropped;
      // everything else survived
      val survivors = CorpusIngest.survivors(spark, s"$root/sink",
        Seq.empty[(Long, String)].toDF("doc_id", "text").schema)
      val total = 4 * perChunk * docsPerFile
      assert(survivors.count() == total - 1,
        s"expected ${total - 1} survivors of $total docs")
      assert(survivors.filter(col("doc_id") === (total - 1)).count() == 0,
        "the cross-soak duplicate survived — index not consulted")
      // exactly one sink partition per processed batch, none rewritten
      val batchDirs = new java.io.File(s"$root/sink").listFiles()
        .count(_.getName.startsWith("batch="))
      assert(batchDirs >= 199, s"expected ~200 batch dirs, saw $batchDirs")
    } finally rmTree(root)
  }

  test("index-suite soak: 60 batches maintaining 5 stores, mid-soak compaction + takedown, flat wall, route equality") {
    import graft.operators.{CorpusCompare, Decontaminate, Retrieval}
    val root = java.nio.file.Files.createTempDirectory("graft_soak_suite_").toString
    try {
      import spark.implicits._
      val src = s"$root/src"
      val perChunk = 20
      def freshText(i: Int): String = (0 until 20).map(j => s"s${i}_$j").mkString(" ")
      val suite = CorpusIngest.IndexSuite(
        postingsPath = Some(s"$root/post"),
        gramPostingsPath = Some(s"$root/gram"),
        positionsPath = Some(s"$root/pos"),
        termStatsPath = Some(s"$root/terms"),
        driftGramsPath = Some(s"$root/drift"))
      // the soak drains under a LIVE auto-compaction policy: whenever a
      // store family's backlog crosses 15 append sets the ingest folds it
      // in-stream, so the 60-batch drain exercises compaction at its
      // natural production cadence (the manual mid-soak compactAll below
      // additionally pins the maintenance-window form)
      def drain(): Unit =
        CorpusIngest.runIngestAvailableNow(spark, src,
          s"$root/idx", s"$root/sink", s"$root/ckpt",
          jaccardThreshold = 0.6, shufflePartitions = Some(2),
          maintain = suite,
          autoCompact = graft.operators.IndexMaintenance
            .AutoCompactPolicy(fileThreshold = 15))
      def addChunk(chunk: Int, extra: Seq[(Long, String)] = Nil): Unit = {
        val base = chunk * perChunk * 2
        val rows = (0 until perChunk * 2).map { j =>
          ((base + j).toLong, freshText(base + j))
        } ++ extra
        rows.toDF("doc_id", "text")
          .repartitionByRange(perChunk, col("doc_id"))
          .write.mode("append").parquet(src)
      }
      // the survivors minus any takedown — the scan side of every
      // route-equality check below
      def corpus() = {
        val s0 = CorpusIngest.survivors(spark, s"$root/sink",
          Seq.empty[(Long, String)].toDF("doc_id", "text").schema)
        s0.filter(col("doc_id") =!= 0L).select("doc_id", "text")
      }
      def routesEqual(label: String): Unit = {
        val c = corpus()
        // k = 1: exactly one doc contains the probe term, and the
        // equality contract holds only while the scan form's k-th score
        // is positive (the index never pads with zero-score docs)
        val viaPost = Staging.scoped(Retrieval.topKFromIndex(spark,
          s"$root/post", Seq("s1_3"), k = 1).collect().map(_.toSeq).toSeq)
        val viaScan = Staging.scoped(Retrieval.bm25TopK(c, "doc_id", "text",
          Seq("s1_3"), k = 1).collect().map(_.toSeq).toSeq)
        assert(viaPost == viaScan, s"$label: postings route diverged")
        val needle = Seq("s2_4", "s2_5")
        val viaPos = Staging.scoped(Retrieval.phraseMatches(spark,
          s"$root/pos", needle).collect().map(_.toSeq).toSeq)
        val viaPosScan = Staging.scoped(Retrieval.phraseCountScan(c,
          "doc_id", "text", needle).collect().map(_.toSeq).toSeq)
        assert(viaPos == viaPosScan, s"$label: positional route diverged")
        val bench = c.filter(col("doc_id") === 3L)
        val viaGram = Staging.scoped {
          Decontaminate.flagContaminatedFromIndex(spark, s"$root/gram", bench,
            "text", minOverlap = 2).collect().map(_.toSeq).toSeq
        }
        val viaGramScan = Staging.scoped {
          Decontaminate.flagContaminated(c, "doc_id", "text", bench, "text",
            n = 3, minOverlap = 2)
            .filter(col("overlap") > 0).orderBy("doc_id")
            .collect().map(_.toSeq).toSeq
        }
        assert(viaGram == viaGramScan, s"$label: gram route diverged")
        Retrieval.buildTermStatsIndex(c, "doc_id", "text", s"$root/terms_fresh")
        val probe = Seq(901L -> freshText(1)).toDF("doc_id", "text")
        def sc(p: String) = Staging.scoped {
          Retrieval.scoreAgainstTermIndex(probe, "doc_id", "text",
            Seq("s1_3", "s2_4"), p, k = 1).collect().map(_.toSeq).toSeq
        }
        assert(sc(s"$root/terms") == sc(s"$root/terms_fresh"),
          s"$label: term-stats route diverged")
        CorpusCompare.buildGramIndex(c, col("text"), s"$root/drift_fresh")
        def dr(p: String) = Staging.scoped {
          CorpusCompare.driftSummaryAgainstIndex(spark, p, probe,
            col("text")).collect().map(_.toSeq).toSeq
        }
        assert(dr(s"$root/drift") == dr(s"$root/drift_fresh"),
          s"$label: drift-gram route diverged")
      }
      def compactAll(): Unit = {
        Retrieval.compactPostingsIndex(spark, s"$root/post")
        Retrieval.compactPositionalIndex(spark, s"$root/pos")
        Decontaminate.compactGramPostingsIndex(spark, s"$root/gram")
        Retrieval.compactTermStatsIndex(spark, s"$root/terms")
        CorpusCompare.compactGramIndex(spark, s"$root/drift")
        graft.operators.IndexMaintenance.compactDedupIndex(spark, s"$root/idx")
      }

      addChunk(0)
      val w0 = timed(drain())
      // TAKEDOWN of doc 0 across the whole suite: dedup tombstone + ban
      // at the door, postings stat correction, per-row tombstones on the
      // positional/gram stores, negative term-stats delta
      val victim = Seq(0L -> freshText(0)).toDF("doc_id", "text")
      CorpusIngest.retractContent(spark, s"$root/idx", victim, "doc_id", "text")
      Retrieval.retractFromPostingsIndex(victim, "doc_id", "text", s"$root/post")
      Retrieval.retractFromPositionalIndex(spark, s"$root/pos", victim.select("doc_id"))
      Decontaminate.retractFromGramPostingsIndex(spark, s"$root/gram",
        victim.select("doc_id"))
      Retrieval.retractFromTermStatsIndex(victim, "doc_id", "text", s"$root/terms")
      CorpusCompare.retractFromGramIndex(victim, col("text"), s"$root/drift")
      routesEqual("post-takedown")

      // chunk 1 includes a RE-UPLOAD of the taken-down bytes (id 990) —
      // the banned door must drop it before any store sees it
      addChunk(1, Seq(990L -> freshText(0)))
      val w1 = timed(drain())
      assert(corpus().filter(col("doc_id") === 990L).count() == 0L,
        "banned re-upload re-entered mid-soak")
      // MID-SOAK compaction of every store: queries bit-identical after
      routesEqual("pre-compaction")
      compactAll()
      routesEqual("post-compaction")

      addChunk(2)
      val w2 = timed(drain())
      routesEqual("end-of-soak")
      // flat per-chunk CPU, as in the ingest soak
      val walls = Seq(w0, w1, w2).map(w => f"${w._1}%.1f/${w._2}%.1f").mkString(", ")
      assert(w2._2 <= w0._2 * 3,
        s"suite-maintaining chunk CPU grew (wall/CPU s per chunk): $walls")
      info(s"suite soak chunk wall/CPU s (20 batches each): $walls")
      // the live policy kept every family's backlog bounded across the
      // 60-batch drain — the small-files growth auto-compaction exists
      // to stop (without it each store would hold ~60 append sets here)
      for ((r, st) <- Seq(("idx", "bands"), ("post", "postings"),
          ("pos", "positions"), ("gram", "grams"))) {
        val files = graft.operators.IndexMaintenance
          .storeDataFiles(spark, s"$root/$r", st)
        assert(files <= 16, s"$r/$st backlog unbounded: $files files")
      }
    } finally rmTree(root)
  }
}

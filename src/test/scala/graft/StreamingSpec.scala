package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionScratch.rmTree
import graft.operators.Staging
import graft.streaming.EventStreams
import graft.model.Tables

/** Structured Streaming behavior: the streaming tumbling aggregation must
  * converge to the batch answer once all input is processed (same
  * `groupBy(window(...))` core — SURVEY.md §2.9 upgrade path).
  */
class StreamingSpec extends AnyFunSuite with StagingScope {

  lazy val spark: SparkSession = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"

  test("streaming tumbling agg converges to the batch result") {
    val q = EventStreams.startTumbling(spark, dir, "stream_tumble_test")
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT count(*) AS n, sum(n_events) AS total FROM stream_tumble_test")
        .collect().head
      val batch = EventStreams.tumblingAgg(new Tables(spark, dir).events)
        .agg(count(lit(1)).as("n"), sum(col("n_events")).as("total"))
        .collect().head
      // watermark: closed windows must match the batch aggregation; the
      // append-mode memory sink emits only finalized windows, so allow the
      // tail window(s) to still be open
      assert(streamed.getLong(0) <= batch.getLong(0))
      assert(streamed.getLong(0) >= batch.getLong(0) - 2,
        s"streamed ${streamed.getLong(0)} windows vs batch ${batch.getLong(0)}")
    } finally q.stop()
  }

  test("AvailableNow one-shot run equals the batch aggregate exactly") {
    val live = EventStreams.runTumblingAvailableNow(spark, dir, "stream_live_test")
      .collect().map(_.toSeq).toSet
    val batch = EventStreams.tumblingAgg(new Tables(spark, dir).events)
      .collect().map(_.toSeq).toSet
    assert(live == batch, s"live=${live.size} rows vs batch=${batch.size}")
    // and it re-runs cleanly (the sink view is dropped on entry)
    val again = EventStreams.runTumblingAvailableNow(spark, dir, "stream_live_test")
    assert(again.count() == batch.size)
  }

  test("streaming dedup converges to the batch distinct count") {
    val q = EventStreams.startDedup(spark, dir, "stream_dedup_test",
      Seq("user_id", "event_type"))
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT count(*) AS n FROM stream_dedup_test")
        .collect().head.getLong(0)
      val batch = new Tables(spark, dir).events
        .select("user_id", "event_type").distinct().count()
      // single-file replay: nothing is late, so dedup must match exactly
      assert(streamed == batch, s"streamed $streamed distinct keys vs batch $batch")
    } finally q.stop()
  }

  test("custom-state user profiles converge to the batch aggregate") {
    val q = EventStreams.startUserProfiles(spark, dir, "stream_profile_test")
    try {
      q.processAllAvailable()
      // update-mode memory sink appends one row per (trigger, user); the
      // LAST emit per user is the final state
      val streamed = spark.sql(
        """SELECT userId, nEvents FROM (
             SELECT userId, nEvents,
                    row_number() OVER (PARTITION BY userId ORDER BY nEvents DESC) AS r
             FROM stream_profile_test) WHERE r = 1""")
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      val batch = new Tables(spark, dir).events
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream interval join converges to the batch range join") {
    val q = EventStreams.startRangeJoin(spark, dir, "stream_range_test")
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT count(*) AS n FROM stream_range_test")
        .collect().head.getLong(0)
      val ev = new Tables(spark, dir).events
      val l = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id").as("l_id"))
      val r = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      val batch = graft.operators.RangeJoin
        .pairsWithin(l, r, Seq("user_id"), "ts", "ts", 300).count()
      assert(streamed == batch,
        s"streamed $streamed interval pairs vs batch $batch")
    } finally q.stop()
  }

  private def ns(h: Int, m: Int): Long = (h * 3600L + m * 60L) * 1000000000L

  /** Write one single-file micro-batch into the fixture's events dir with
    * a controlled mtime (readEventStream sets maxFilesPerTrigger=1, so
    * each file is its own micro-batch in mtime order).
    */
  private def writeFixtureFile(fixture: String, rows: Seq[(Long, String, Double)],
      name: String, mtime: Long): Unit = {
    import spark.implicits._
    val evDir = new java.io.File(s"$fixture/events.parquet")
    val tmp = s"$fixture/tmp_$name"
    rows.toDF("ts", "event_type", "value").coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    evDir.mkdirs()
    val dest = new java.io.File(evDir, name)
    java.nio.file.Files.move(part.toPath, dest.toPath)
    assert(dest.setLastModified(mtime))
  }

  /** The three-file late-data fixture. Hours are epoch-relative;
    * watermark delay 1h.
    * NOTE the engine's actual late-drop guarantee (measured on 4.1.2):
    * batch N filters late rows with the watermark COMMITTED at batch N-1
    * (`watermarkForLateEvents` lags `watermarkForEviction` by one batch),
    * so a guaranteed-drop fixture must deliver the late row two batches
    * after the data that raised the watermark.
    *   file1: 01:10 / 01:20 (click), 03:30 (view) → commits watermark
    *          02:30 at the end of batch 0
    *   file2: 02:40 view (late but inside the allowance → counted),
    *          05:10 click (raises the watermark to 04:10; its own 05:00
    *          window never closes and must NOT emit). Eviction watermark
    *          02:30 closes the 01:00 window WITHOUT file3's late row.
    *   file3: 01:40 click — LATE beyond the batch-1-committed watermark
    *          (window end 02:00 < 02:30) → guaranteed dropped, and the
    *          closed 01:00 window must NOT re-emit; 06:30 view is the
    *          on-time row that makes batch 2 a DATA batch (eviction
    *          04:10 closes 02:00/03:00 — emission must not depend on the
    *          engine scheduling a trailing no-data flush batch)
    */
  private def writeLateFixture(): String = {
    val fixture = java.nio.file.Files.createTempDirectory("graft_stream_fix_").toString
    val now = System.currentTimeMillis()
    writeFixtureFile(fixture, Seq((ns(1, 10), "click", 1.0), (ns(1, 20), "click", 2.0),
      (ns(3, 30), "view", 3.0)), "f1.parquet", now - 120000)
    writeFixtureFile(fixture, Seq((ns(2, 40), "view", 4.0),
      (ns(5, 10), "click", 5.0)), "f2.parquet", now - 60000)
    writeFixtureFile(fixture, Seq((ns(1, 40), "click", 10.0), (ns(6, 30), "view", 6.0)),
      "f3.parquet", now)
    fixture
  }

  test("append-mode AvailableNow drain equals the batch oracle on a late-data fixture") {
    val fixture = writeLateFixture()
    val evDir = new java.io.File(s"$fixture/events.parquet")
    try {
      val emitted = EventStreams
        .runTumblingAppendAvailableNow(spark, fixture, "stream_append_test")
        .collect().map(_.toSeq).toSet

      // the batch oracle under watermark semantics: every event except the
      // beyond-watermark one, restricted to windows the final watermark
      // (05:10 - 1h = 04:10) closed
      val batch = EventStreams.tumblingAgg(
        spark.read.parquet(evDir.toString)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          .filter(col("value") =!= 10.0))
        .filter(col("bucket_start") < expr("timestamp_micros(14400000000)")) // < 04:00
        .collect().map(_.toSeq).toSet
      assert(batch.size == 3, s"fixture self-check: $batch")
      assert(emitted == batch,
        s"append drain != batch oracle\n  emitted=$emitted\n  batch=$batch")
    } finally rmTree(fixture)
  }

  test("durable drain with zero closed windows returns an empty frame, not a throw") {
    // every event sits inside the final watermark allowance (all within
    // one hour of the max ts), so the append drain closes NOTHING — the
    // sink has no data files and a naive read-back dies on schema
    // inference ("unable to infer schema"); the drain must instead hand
    // back an empty frame with the aggregation's schema
    val fixture = java.nio.file.Files.createTempDirectory("graft_empty_fix_").toString
    try {
      writeFixtureFile(fixture, Seq((ns(1, 10), "click", 1.0),
        (ns(1, 20), "view", 2.0)), "f1.parquet", System.currentTimeMillis())
      val durable = EventStreams.runTumblingAppendDurable(
        spark, fixture, s"$fixture/sink", s"$fixture/ckpt")
      assert(durable.count() == 0)
      assert(durable.columns.toSeq ==
        Seq("bucket_start", "event_type", "n_events", "sum_value"))
      val sessFixture = java.nio.file.Files
        .createTempDirectory("graft_empty_sess_fix_").toString
      try {
        writeSessionFile(sessFixture, Seq((ns(1, 10), 1L, 1.0),
          (ns(1, 20), 1L, 2.0)), "f1.parquet", System.currentTimeMillis())
        val sess = EventStreams.runSessionAppendDurable(
          spark, sessFixture, s"$sessFixture/sink", s"$sessFixture/ckpt")
        assert(sess.count() == 0)
      } finally rmTree(sessFixture)
    } finally rmTree(fixture)
  }

  test("durable parquet sink matches the memory-sink gate and resumes from its checkpoint") {
    val fixture = writeLateFixture()
    try {
      // sink-equivalence on the late-data fixture: the distributed
      // parquet sink must emit exactly the finalized windows the
      // memory-sink gate (q_stream_append's shape) emits
      val mem = EventStreams
        .runTumblingAppendAvailableNow(spark, fixture, "stream_durable_mem")
        .collect().map(_.toSeq).toSet
      val out = s"$fixture/sink"; val ckpt = s"$fixture/ckpt"
      val durable = EventStreams.runTumblingAppendDurable(spark, fixture, out, ckpt)
        .collect().map(_.toSeq).toSet
      assert(durable == mem,
        s"durable sink != memory gate\n  durable=$durable\n  memory=$mem")

      // RESTART: a fourth file arrives; the checkpoint resumes the drain —
      // it must process ONLY the new file and append ONLY the windows the
      // advanced watermark (09:00 − 1h = 08:00) newly closed (05:00 and
      // 06:00), never re-emitting the three already-finalized ones
      writeFixtureFile(fixture, Seq((ns(9, 0), "view", 7.0)), "f4.parquet",
        System.currentTimeMillis())
      val resumed = EventStreams.runTumblingAppendDurable(spark, fixture, out, ckpt)
      val resumedSet = resumed.collect().map(_.toSeq).toSet
      assert(resumedSet.size == 5, s"expected 3 + 2 newly closed windows: $resumedSet")
      assert(mem.subsetOf(resumedSet))
      val starts = resumed.select(hour(col("bucket_start")))
        .collect().map(_.getInt(0)).sorted.toSeq
      assert(starts == Seq(1, 2, 3, 5, 6), s"window hours: $starts")
      // exactly-once across the restart: no window emitted twice
      val dups = resumed.groupBy("bucket_start", "event_type").count()
        .filter(col("count") > 1).count()
      assert(dups == 0)
    } finally rmTree(fixture)
  }

  test("watermark drops late data; on-time windows finalize exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(hhmm: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00")
    val ms = MemoryStream[(java.sql.Timestamp, Int)]
    val agg = ms.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes")).agg(sum(col("v")).as("s"))
      .select(col("window.start").cast("string").as("w"), col("s"))
    val q = agg.writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    try {
      ms.addData((ts("10:00"), 1), (ts("10:05"), 2))
      q.processAllAvailable()
      ms.addData((ts("11:00"), 5)) // watermark → 10:50; 10:00 window closes
      q.processAllAvailable()
      ms.addData((ts("10:01"), 100)) // LATE beyond watermark: dropped
      q.processAllAvailable()
      ms.addData((ts("12:00"), 7)) // close the 11:00 window
      q.processAllAvailable()
      val rows = spark.sql("SELECT w, s FROM late_test").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // the finalized 10:00 window holds only the on-time rows — the late
      // +100 never reappears and the window is emitted exactly once
      assert(rows("2026-01-01 10:00:00") == 3L, s"late row leaked: $rows")
      assert(rows("2026-01-01 11:00:00") == 5L)
      assert(spark.sql("SELECT count(*) FROM late_test WHERE w = '2026-01-01 10:00:00'")
        .collect().head.getLong(0) == 1L)
    } finally q.stop()
  }

  /** Session fixture writer: rows are (ts_nanos, user_id, value). */
  private def writeSessionFile(fixture: String, rows: Seq[(Long, Long, Double)],
      name: String, mtime: Long): Unit = {
    import spark.implicits._
    val evDir = new java.io.File(s"$fixture/events.parquet")
    val tmp = s"$fixture/tmp_$name"
    rows.toDF("ts", "user_id", "value").coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    evDir.mkdirs()
    val dest = new java.io.File(evDir, name)
    java.nio.file.Files.move(part.toPath, dest.toPath)
    assert(dest.setLastModified(mtime))
  }

  /** Append-mode sessionization across micro-batches: the part of
    * sessionization only STATE can do — an event arriving in a later
    * batch must MERGE into the open session before the watermark
    * finalizes it, a finalized session must never re-emit, and a
    * beyond-watermark row must not reopen anything. Watermark delay 1h,
    * gap 30m; same batch-lag convention as the tumbling fixture (the
    * late-row guarantee needs delivery two batches after the row that
    * raised the watermark).
    *   f1 (batch 0): user1 01:00 v1, 01:10 v2 (open session);
    *                 user9 03:30 v3 → commits watermark 02:30
    *   f2 (batch 1): user1 01:25 v4 — arrives a batch later but within
    *                 the gap: MERGES into the open [01:00..01:10] session;
    *                 user9 06:00 v5 → commits watermark 05:00. Eviction
    *                 (02:30) closes user1's merged session
    *                 (end 01:25+30m = 01:55 ≤ 02:30) → emits
    *                 (user1, 01:00, 3 events, 7.0) EXACTLY ONCE
    *   f3 (batch 2): user1 01:30 v100 — LATE beyond the batch-guaranteed
    *                 watermark (02:30): dropped; must NOT reopen or
    *                 re-emit user1's session. user9 08:00 v6 keeps batch 2
    *                 a data batch; eviction (05:00) closes user9's 03:30
    *                 session (end 04:00) → (user9, 03:30, 1, 3.0)
    */
  test("append-mode session drain merges across batches, emits once, drops late rows") {
    val fixture = java.nio.file.Files.createTempDirectory("graft_sess_fix_").toString
    try {
      val now = System.currentTimeMillis()
      writeSessionFile(fixture, Seq((ns(1, 0), 1L, 1.0), (ns(1, 10), 1L, 2.0),
        (ns(3, 30), 9L, 3.0)), "f1.parquet", now - 120000)
      writeSessionFile(fixture, Seq((ns(1, 25), 1L, 4.0),
        (ns(6, 0), 9L, 5.0)), "f2.parquet", now - 60000)
      writeSessionFile(fixture, Seq((ns(1, 30), 1L, 100.0),
        (ns(8, 0), 9L, 6.0)), "f3.parquet", now)

      val emitted = EventStreams
        .runSessionAppendAvailableNow(spark, fixture, "stream_session_append_test")
        .select(col("user_id"), hour(col("sess_start")).as("h"),
          minute(col("sess_start")).as("m"), col("n_events"), col("sum_value"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getLong(3), r.getDouble(4))).toSet

      // user1: ONE session, starting 01:00, holding all three on-time
      // events (the batch-1 arrival merged before finalization); the late
      // v=100 row neither re-emits nor extends it
      val u1 = emitted.filter(_._1 == 1L)
      assert(u1 == Set((1L, 1, 0, 3L, 7.0)), s"user1 sessions: $u1")
      // user9: the 03:30 singleton finalized (end 04:00 ≤ eviction 05:00)
      assert(emitted.contains((9L, 3, 30, 1L, 3.0)), s"emitted: $emitted")
      // the 08:00 session's end (08:30) is past the final watermark
      // (07:00) — still open, must NOT emit on the bounded drain
      assert(!emitted.exists(e => e._1 == 9L && e._2 == 8), s"emitted: $emitted")
    } finally rmTree(fixture)
  }

  /** The durable session sink's restart path: the checkpoint persists OPEN
    * sessions, and an event arriving after the restart must MERGE into the
    * restored session — the state round-trip a tumbling window never
    * exercises. Timeline (gap 30m, delay 1h):
    *   drain 1 = the merge fixture above but with user9's second event at
    *   06:45 (commit after f3 = 07:00, so the [06:45..07:15) session is
    *   GUARANTEED still open at shutdown, along with 08:00);
    *   drain 2 = f4: user9 07:10 (≥ restored watermark 07:00, within the
    *   gap of the restored session → merges to [06:45..07:40)); f5: user1
    *   10:00 raises the watermark to 09:00 → the merged session AND the
    *   08:00 singleton finalize. Exactly two new rows, no re-emits.
    */
  test("durable session sink merges a post-restart event into the checkpointed open session") {
    val fixture = java.nio.file.Files.createTempDirectory("graft_sessdur_fix_").toString
    try {
      val now = System.currentTimeMillis()
      writeSessionFile(fixture, Seq((ns(1, 0), 1L, 1.0), (ns(1, 10), 1L, 2.0),
        (ns(3, 30), 9L, 3.0)), "f1.parquet", now - 240000)
      writeSessionFile(fixture, Seq((ns(1, 25), 1L, 4.0),
        (ns(6, 45), 9L, 5.0)), "f2.parquet", now - 180000)
      writeSessionFile(fixture, Seq((ns(1, 30), 1L, 100.0),
        (ns(8, 0), 9L, 6.0)), "f3.parquet", now - 120000)
      val out = s"$fixture/sink"; val ckpt = s"$fixture/ckpt"

      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("user_id"), hour(col("sess_start")).as("h"),
          minute(col("sess_start")).as("m"), col("n_events"), col("sum_value"))
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
            r.getLong(3), r.getDouble(4))).toSet

      val first = rows(EventStreams.runSessionAppendDurable(spark, fixture, out, ckpt))
      assert(first == Set((1L, 1, 0, 3L, 7.0), (9L, 3, 30, 1L, 3.0)),
        s"first drain: $first")

      writeSessionFile(fixture, Seq((ns(7, 10), 9L, 9.0)), "f4.parquet", now - 60000)
      writeSessionFile(fixture, Seq((ns(10, 0), 1L, 8.0)), "f5.parquet", now)
      val resumed = EventStreams.runSessionAppendDurable(spark, fixture, out, ckpt)
      val second = rows(resumed)
      // the restored [06:45] session absorbed the post-restart 07:10 event:
      // ONE merged row with both halves (2 events, 5.0 + 9.0)
      assert(second == first + ((9L, 6, 45, 2L, 14.0)) + ((9L, 8, 0, 1L, 6.0)),
        s"resumed sink: $second")
      // exactly-once across the restart: no session emitted twice
      val dups = resumed.groupBy("user_id", "sess_start").count()
        .filter(col("count") > 1).count()
      assert(dups == 0)
    } finally rmTree(fixture)
  }

  test("session aggregation plan works on batch input") {
    val out = EventStreams.sessionAgg(new Tables(spark, dir).events)
    assert(out.count() > 0)
    // session starts are unique per user
    val users = out.groupBy("user_id", "sess_start").count()
      .filter(col("count") > 1).count()
    assert(users == 0)
  }

  test("streaming batches score against the frozen term index like static frames") {
    // the rolling-crawl composition: a document STREAM scores per batch
    // against the persisted historical BM25 stats (foreachBatch +
    // scoreAgainstTermIndex) — each batch's ranking must equal scoring
    // the same rows as a static frame, and the frozen stats must not
    // move as batches arrive (the frozen-ranker contract)
    import spark.implicits._
    import graft.operators.Retrieval
    val work = java.nio.file.Files.createTempDirectory("graft_stream_tsi_").toString
    try {
      val hist = new Tables(spark, dir).documents
      Retrieval.buildTermStatsIndex(hist, "doc_id", "text", s"$work/idx")
      val batch1 = Seq((1000L, "dup batch dup"), (1001L, "vector table"))
      val batch2 = Seq((2000L, "dup"), (2001L, "window window window"))
      val now = System.currentTimeMillis()
      new java.io.File(s"$work/in").mkdirs()
      Seq(batch1, batch2).zipWithIndex.foreach { case (b, i) =>
        // single FLAT part file with controlled mtime (FileStreamSource
        // lists leaf files and drains by mtime — the TESTDATA gotcha)
        val tmp = s"$work/tmp_$i"
        b.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(f => f.getName.endsWith(".parquet")).head
        val dest = new java.io.File(s"$work/in/f$i.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        assert(dest.setLastModified(now - 60000 + i * 1000))
      }
      val got = scala.collection.mutable.Map.empty[Long, Seq[(Long, Double)]]
      val q = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$work/in")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val scored = Staging.scoped {
            Retrieval.scoreAgainstTermIndex(df, "doc_id", "text",
              Seq("dup", "vector", "batch"), s"$work/idx", k = 10)
              .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
          }
          got.synchronized { got(id) = scored }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ckpt")
        .start()
      q.awaitTermination(120000)
      assert(got.size == 2, s"expected 2 batches, got ${got.keySet}")
      // each streamed batch == the static scoring of the same rows
      val allStatic = Seq(batch1, batch2).map { b =>
        Staging.scoped {
          Retrieval.scoreAgainstTermIndex(b.toDF("doc_id", "text"), "doc_id",
            "text", Seq("dup", "vector", "batch"), s"$work/idx", k = 10)
            .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
        }
      }
      // batch→file order under maxFilesPerTrigger=1 follows mtime; match
      // by content (the id set), then require exact score equality
      assert(got.values.toSet == allStatic.toSet,
        s"streamed $got vs static $allStatic")
    } finally rmTree(work)
  }
}

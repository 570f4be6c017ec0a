package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionScratch.rmTree
import graft.operators.{Decontaminate, IncrementalDedup, IndexMaintenance, Retrieval, Staging}

/** Concurrent-writer protection and the manifest commit of the
  * persisted-index family. The interleavings here are constructed BY HAND
  * (the EtlSpec two-writer precedent): a foreign writer's fresh lease is
  * planted at the root, and the mutation under test must abort loudly
  * instead of interleaving with it (the silent failure this forecloses:
  * an append landing between a compaction's read and its commit would be
  * missing from the compaction's manifest). Crash states are manifest
  * states: segments no manifest names, a tmp manifest never renamed.
  * Readers take no lease and change nothing under the root, so they may
  * run beside any writer.
  */
class IndexLeaseSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll with StagingScope {

  lazy val spark = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"

  private val scratch = scala.collection.mutable.ListBuffer[String]()

  private def fresh(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_lease_${tag}_").toString
    scratch += p
    p
  }

  override def afterAll(): Unit = scratch.foreach(rmTree)

  private def docs = spark.read.parquet(s"$dir/documents.parquet")
    .limit(200)

  test("append racing a live compaction aborts loudly (postings index)") {
    val root = fresh("post")
    Retrieval.buildPostingsIndex(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", root)
    // writer 1 (the "compactor") holds a fresh lease
    IndexMaintenance.acquireLease(spark, root, "w1", leaseMs = 600000L)
    val e = intercept[IllegalStateException] {
      Retrieval.appendToPostingsIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", root)
    }
    assert(e.getMessage.contains("concurrent index writer holds the lease"))
    // the aborted append must not have touched the store: query equals
    // the single-batch build
    val before = Retrieval.topKFromIndex(spark, root,
      Seq("dup", "vector"), k = 5).collect().map(_.toSeq).toSeq
    IndexMaintenance.releaseLease(spark, root, "w1")
    // after release the same append succeeds and changes the result set
    Retrieval.appendToPostingsIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", root)
    val after = Retrieval.topKFromIndex(spark, root,
      Seq("dup", "vector"), k = 5).collect().map(_.toSeq).toSeq
    assert(before.nonEmpty && after.nonEmpty)
  }

  test("compaction racing a compaction aborts loudly; retract too") {
    val root = fresh("compact")
    Retrieval.buildPostingsIndex(docs, "doc_id", "text", root)
    IndexMaintenance.acquireLease(spark, root, "other-compactor", 600000L)
    val e1 = intercept[IllegalStateException] {
      Retrieval.compactPostingsIndex(spark, root)
    }
    assert(e1.getMessage.contains("concurrent index writer holds the lease"))
    val e2 = intercept[IllegalStateException] {
      Retrieval.retractFromPostingsIndex(docs.limit(5), "doc_id", "text", root)
    }
    assert(e2.getMessage.contains("concurrent index writer holds the lease"))
    IndexMaintenance.releaseLease(spark, root, "other-compactor")
    Retrieval.compactPostingsIndex(spark, root) // now fine
  }

  test("stale lease (crashed writer) is reclaimed and the mutation proceeds") {
    val root = fresh("stale")
    IncrementalDedup.buildIndex(docs, "doc_id", "text", root)
    // plant a crashed writer's lease: age it past leaseMs
    IndexMaintenance.acquireLease(spark, root, "crashed", 600000L)
    val lock = new java.io.File(root, IndexMaintenance.LockFile)
    assert(lock.exists)
    lock.setLastModified(System.currentTimeMillis() - 3600L * 1000)
    // default leaseMs = 10 min < 1 h age → reclaimed, append succeeds
    IncrementalDedup.appendBatch(
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")),
      "doc_id", "text", root)
    // and the lease was released after the mutation
    assert(!lock.exists)
  }

  test("racing reclaimers: the loser restores the winner's fresh lock and aborts") {
    // The TOCTOU the rename-aside alone does not close: L0 is stale; A
    // completes its full reclaim (rename aside + recreate) INSIDE B's
    // check-to-rename window. B's rename then moves A's FRESH lock aside;
    // without the instance verify B would recreate its own lock, read it
    // back, and proceed — two writers. With the verify, B sees the aside
    // holder is not the stale holder it measured, restores A's lock, and
    // aborts loudly.
    val root = fresh("toctou")
    new java.io.File(root).mkdirs()
    // plant the crashed writer's stale lock L0
    IndexMaintenance.acquireLease(spark, root, "crashed0", 600000L)
    val lock = new java.io.File(root, IndexMaintenance.LockFile)
    lock.setLastModified(System.currentTimeMillis() - 3600L * 1000)
    // B measures L0 stale; in its check-to-rename window A runs its FULL
    // reclaim (the beforeReclaim seam executes A synchronously there)
    val e = intercept[IllegalStateException] {
      IndexMaintenance.acquireLease(spark, root, "writerB", 600000L,
        beforeReclaim = () =>
          IndexMaintenance.acquireLease(spark, root, "writerA", 600000L))
    }
    assert(e.getMessage.contains("fresh lock"), e.getMessage)
    // A's lock survived B's abort: present, fresh, and held by A
    assert(lock.exists)
    val holder = new String(
      java.nio.file.Files.readAllBytes(lock.toPath), "UTF-8").trim
    assert(holder == "writerA")
    // no reclaim debris left behind
    assert(!new java.io.File(root).listFiles.exists(
      _.getName.contains(".reclaim_")))
    // and a later writer still blocks on A's live lease (lock is fresh)
    val e2 = intercept[IllegalStateException] {
      IndexMaintenance.acquireLease(spark, root, "writerC", 600000L)
    }
    assert(e2.getMessage.contains("holds the lease"))
    IndexMaintenance.releaseLease(spark, root, "writerA")
  }

  test("a reclaimed writer's release leaves its reclaimer's lease in place") {
    // A outlives its lease and B reclaims it; A finishing afterwards must
    // not free B's lease, or C could take it while B still writes
    val root = fresh("release")
    new java.io.File(root).mkdirs()
    IndexMaintenance.acquireLease(spark, root, "writerA", 50L)
    Thread.sleep(200)
    IndexMaintenance.acquireLease(spark, root, "writerB", 50L)
    IndexMaintenance.releaseLease(spark, root, "writerA")
    val e = intercept[IllegalStateException] {
      IndexMaintenance.acquireLease(spark, root, "writerC", 600000L)
    }
    assert(e.getMessage.contains("holds the lease"))
    val lock = new java.io.File(root, IndexMaintenance.LockFile)
    assert(new String(java.nio.file.Files.readAllBytes(lock.toPath), "UTF-8").trim == "writerB")
    assert(!new java.io.File(root).listFiles.exists(_.getName.contains(".release_")))
    // B's own release frees the lease
    IndexMaintenance.releaseLease(spark, root, "writerB")
    assert(!lock.exists)
    IndexMaintenance.acquireLease(spark, root, "writerC", 600000L)
    IndexMaintenance.releaseLease(spark, root, "writerC")
  }

  test("a manifest written before batch watermarks reads and takes appends") {
    import spark.implicits._
    val root = fresh("legacy")
    Retrieval.buildTermStatsIndex(docs, "doc_id", "text", root)
    // the previous manifest layout: a `folded` list per store, a `key`
    // per segment, no `applied`
    IndexStates.legacyManifest(spark, root)
    val before = IndexMaintenance.snapshot(spark, root)
    assert(before.applied.isEmpty)
    val rows = before.read("terms").count()
    assert(rows > 0L)
    val delta = Seq(900001L -> "zzlegacy token").toDF("doc_id", "text")
    Retrieval.appendToTermStatsIndex(delta, "doc_id", "text", root)
    IndexMaintenance.withWriterLease(spark, root,
      batch = Some(IndexMaintenance.Batch("q", 0L)))(
      Retrieval.appendTermStats(delta, "doc_id", "text"))
    val after = IndexMaintenance.snapshot(spark, root)
    assert(after.generation == before.generation + 2)
    assert(after.applied == Map("q" -> 0L))
    assert(after.read("terms").filter($"token" === "zzlegacy").count() == 2L)
    assert(after.read("terms").count() > rows)
  }

  test("racing acquirers: exactly one takes a free lease") {
    // four writers start together on a free root, round after round (the
    // server's four request threads committing at once): the create must
    // be exclusive, or two of them both hold the lease
    val root = fresh("race")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try (1 to 200).foreach { round =>
      val start = new java.util.concurrent.CountDownLatch(1)
      val tries = (1 to 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Option[String]] {
          def call(): Option[String] = {
            start.await()
            val id = s"r$round-w$i"
            try { IndexMaintenance.acquireLease(spark, root, id, 60000L); Some(id) }
            catch { case _: IllegalStateException => None }
          }
        })
      }
      start.countDown()
      val holders = tries.flatMap(_.get())
      assert(holders.size == 1, s"round $round: ${holders.size} writers hold the lease")
      IndexMaintenance.releaseLease(spark, root, holders.head)
    } finally pool.shutdown()
  }

  test("single reclaimer still wins an undisturbed stale takeover") {
    // the instance-verify must not break the plain reclaim path
    val root = fresh("reclaim1")
    new java.io.File(root).mkdirs()
    IndexMaintenance.acquireLease(spark, root, "crashed1", 600000L)
    val lock = new java.io.File(root, IndexMaintenance.LockFile)
    lock.setLastModified(System.currentTimeMillis() - 3600L * 1000)
    IndexMaintenance.acquireLease(spark, root, "writerA", 600000L)
    val holder = new String(
      java.nio.file.Files.readAllBytes(lock.toPath), "UTF-8").trim
    assert(holder == "writerA")
    IndexMaintenance.releaseLease(spark, root, "writerA")
  }

  test("generation survives a tmp manifest that was never renamed") {
    val root = fresh("gencrash")
    new java.io.File(root).mkdirs()
    IndexMaintenance.withWriterLease(spark, root)(_ => ())
    IndexMaintenance.withWriterLease(spark, root)(_ => ())
    assert(IndexMaintenance.generation(spark, root) == 2L)
    // the crash window of the commit: manifest 3 was written to its tmp
    // file and never renamed — mutation 3 did not commit
    val tmp = new java.io.File(root, "_manifest_3.tmp")
    java.nio.file.Files.copy(new java.io.File(root, "_manifest_2").toPath, tmp.toPath)
    assert(IndexMaintenance.generation(spark, root) == 2L)
    // the next completed mutation publishes 3 and clears the tmp
    IndexMaintenance.withWriterLease(spark, root)(_ => ())
    assert(IndexMaintenance.generation(spark, root) == 3L)
    assert(new java.io.File(root, "_manifest_3").exists && !tmp.exists)
  }

  test("generation bumps once per completed mutation, not on abort") {
    val root = fresh("gen")
    assert(IndexMaintenance.generation(spark, root) == 0L)
    Decontaminate.buildGramPostingsIndex(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", root, n = 3)
    assert(IndexMaintenance.generation(spark, root) == 1L)
    Decontaminate.appendToGramPostingsIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", root)
    assert(IndexMaintenance.generation(spark, root) == 2L)
    IndexMaintenance.acquireLease(spark, root, "w9", 600000L)
    intercept[IllegalStateException] {
      Decontaminate.compactGramPostingsIndex(spark, root)
    }
    assert(IndexMaintenance.generation(spark, root) == 2L) // no bump on abort
    IndexMaintenance.releaseLease(spark, root, "w9")
    Decontaminate.compactGramPostingsIndex(spark, root)
    assert(IndexMaintenance.generation(spark, root) == 3L)
  }

  test("rebuild at a retracted root drops stale tombstones (new generation)") {
    val root = fresh("rebuild")
    val half = docs.filter(col("doc_id") % 2 === 1)
    Retrieval.buildPostingsIndex(half, "doc_id", "text", root)
    Retrieval.retractFromPostingsIndex(half.limit(20), "doc_id", "text", root)
    // rebuild IN PLACE over the full corpus: without the dropTombstones
    // the fresh ptotals would count docs the stale tombstones filter out
    // of df/candidates — every query's scores would skew
    Retrieval.buildPostingsIndex(docs, "doc_id", "text", root)
    assert(!IndexMaintenance.snapshot(spark, root).has(IndexMaintenance.TombstoneStore))
    val viaIndex = Retrieval.topKFromIndex(spark, root,
      Seq("dup", "vector", "batch"), k = 8).collect().map(_.toSeq).toSeq
    val viaScan = Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("dup", "vector", "batch"), k = 8).collect().map(_.toSeq).toSeq
    assert(viaIndex == viaScan)
  }

  test("readers beside a running compaction leave its staged store alone") {
    // The compactor holds the lease and has written its replacement
    // segment, but crashes before its manifest. Readers — beside it and
    // after it — answer from the committed generation and touch nothing;
    // only the next writer's lease deletes the unnamed segment as debris.
    val post = fresh("race_post")
    val pos = fresh("race_pos")
    val dedup = fresh("race_dedup")
    val half = docs.filter(col("doc_id") % 2 === 1)
    val delta = docs.filter(col("doc_id") % 2 === 0)
    Retrieval.buildPostingsIndex(half, "doc_id", "text", post)
    Retrieval.buildPositionalIndex(half, "doc_id", "text", pos)
    IncrementalDedup.buildIndex(half, "doc_id", "text", dedup)
    def answers() = (
      Retrieval.topKFromIndex(spark, post, Seq("dup", "vector"), k = 5)
        .collect().map(_.toSeq).toSeq,
      Retrieval.phraseMatches(spark, pos, Seq("batch", "batch"))
        .collect().map(_.toSeq).toSeq,
      IncrementalDedup.newBatchPairs(delta, "doc_id", "text", dedup,
        jaccardThreshold = 0.2).collect().map(_.toSeq).toSet)
    val before = answers()
    assert(before._1.nonEmpty && before._2.nonEmpty,
      s"fixture self-check: ${before._1.size} top-k rows, " +
        s"${before._2.size} phrase rows")
    val planted = Seq(post -> "postings", pos -> "positions", dedup -> "bands")
    def segments(root: String, store: String) =
      new java.io.File(s"$root/$store").listFiles().map(_.getName).toSet
    val debris = planted.map { case (root, store) =>
      val live = segments(root, store)
      intercept[IllegalStateException] {
        IndexMaintenance.withWriterLease(spark, root) { tx =>
          // a partial store: a reader that read it would answer differently
          tx.replace(store, tx.snapshot.read(store).limit(1))
          assert(answers() == before, "a reader beside a compaction changed its answer")
          throw new IllegalStateException("compactor crashed before its manifest")
        }
      }
      val left = segments(root, store) -- live
      assert(left.nonEmpty, s"fixture self-check: no uncommitted segment at $root")
      (root, store, left)
    }
    assert(answers() == before, "an uncommitted segment changed a reader's answer")
    debris.foreach { case (root, store, left) =>
      assert(segments(root, store).intersect(left) == left,
        s"a reader deleted the uncommitted $store segment at $root")
    }
    // the next append's lease deletes the debris
    Retrieval.appendToPostingsIndex(delta, "doc_id", "text", post)
    Retrieval.appendToPositionalIndex(delta, "doc_id", "text", pos)
    IncrementalDedup.appendBatch(delta, "doc_id", "text", dedup)
    debris.foreach { case (root, store, left) =>
      assert(segments(root, store).intersect(left).isEmpty,
        s"the next writer left the uncommitted $store segment at $root")
    }
  }

  test("frames planned before an append and a compaction answer from their generation") {
    // A read plans its file list from one snapshot; the append and the
    // compaction after it commit generations g+1 and g+2, and neither may
    // delete the files generation g names.
    val post = fresh("pinned_post")
    val dedup = fresh("pinned_dedup")
    val half = docs.filter(col("doc_id") % 2 === 1)
    val delta = docs.filter(col("doc_id") % 2 === 0)
    Retrieval.buildPostingsIndex(half, "doc_id", "text", post)
    IncrementalDedup.buildIndex(half, "doc_id", "text", dedup)
    // the answers before the mutations, in a scope of their own so that
    // no staged frame of theirs serves the planned frames below
    val expected = Staging.scoped((
      Retrieval.topKFromIndex(spark, post, Seq("dup", "vector"), k = 5)
        .collect().map(_.toSeq).toSeq,
      IncrementalDedup.newBatchPairs(delta, "doc_id", "text", dedup,
        jaccardThreshold = 0.2).collect().map(_.toSeq).toSet))
    val topK = Retrieval.topKFromIndex(spark, post, Seq("dup", "vector"), k = 5)
    val pairs = IncrementalDedup.newBatchPairs(delta, "doc_id", "text", dedup,
      jaccardThreshold = 0.2)
    assert(expected._1.nonEmpty && expected._2.nonEmpty,
      s"fixture self-check: ${expected._1.size} top-k rows, ${expected._2.size} pairs")
    Retrieval.appendToPostingsIndex(delta, "doc_id", "text", post)
    Retrieval.compactPostingsIndex(spark, post)
    IncrementalDedup.appendBatch(delta.select((col("doc_id") + 1000000L).as("doc_id"),
      col("text")), "doc_id", "text", dedup)
    IndexMaintenance.compactDedupIndex(spark, dedup)
    assert((topK.collect().map(_.toSeq).toSeq, pairs.collect().map(_.toSeq).toSet)
      == expected, "a planned frame changed its answer after later commits")
  }

  test("a paired append commits the segments of both of its threads") {
    val root = fresh("paired")
    Retrieval.buildPostingsIndex(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", root)
    Retrieval.appendToPostingsIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", root)
    val snap = IndexMaintenance.snapshot(spark, root)
    assert(snap.generation == 2L)
    Seq("postings", "ptotals").foreach { store =>
      val segs = snap.files(store).map(_._1.getParent.getName).distinct
      assert(segs.size == 2 && segs.exists(_.startsWith("g2-")),
        s"$store: the append's segment is missing from the manifest: $segs")
    }
  }

  test("a root with stores but no manifest is refused with a rebuild message") {
    val root = fresh("legacy")
    spark.range(3).toDF("id").write.parquet(s"$root/postings")
    val e = intercept[IllegalStateException](IndexMaintenance.snapshot(spark, root))
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    val e2 = intercept[IllegalStateException] {
      Retrieval.appendToPostingsIndex(docs, "doc_id", "text", root)
    }
    assert(e2.getMessage.contains("rebuild"), e2.getMessage)
  }

  test("an index read leaves no staged frame behind") {
    val root = fresh("nostage")
    Retrieval.buildPostingsIndex(docs, "doc_id", "text", root)
    val live = Staging.liveCount
    val rows = Retrieval.topKFromIndex(spark, root, Seq("dup", "vector"),
      k = 10).collect()
    assert(rows.nonEmpty)
    assert(Staging.liveCount == live,
      s"topKFromIndex left ${Staging.liveCount - live} staged frame(s)")
  }

  test("one writer lease: only IndexMaintenance creates a lock") {
    import scala.jdk.CollectionConverters._
    // the retired ETL lock file, and any atomic create-if-absent — the
    // primitive a second lease implementation would be built on
    val lock = ("_txn_lock|\\.create\\([^()]*,\\s*false\\)|createNewFile|CREATE_NEW").r
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft"))
    val offenders = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "IndexMaintenance.scala")
      .flatMap(p => lock.findFirstIn(java.nio.file.Files.readString(p))
        .map(m => s"${p.getFileName}: $m"))
      .toList.sorted
    finally walk.close()
    assert(offenders.isEmpty, s"a lock outside IndexMaintenance: $offenders")
  }
}

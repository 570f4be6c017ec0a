package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionScratch.rmTree
import graft.operators.{Decontaminate, IncrementalDedup, IndexMaintenance, Retrieval, Staging}

/** Concurrent-writer protection for the persisted-index family — the ETL
  * `_txn_lock` lease applied to every store mutation. The interleavings
  * here are constructed BY HAND (the EtlSpec two-writer precedent): a
  * foreign writer's fresh lease is planted at the root, and the mutation
  * under test must abort loudly instead of interleaving with it (the
  * silent failure this forecloses: an append landing between a
  * compaction's read snapshot and its swap renames vanishes in the swap).
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
    IndexMaintenance.releaseLease(spark, root)
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
    IndexMaintenance.releaseLease(spark, root)
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
    IndexMaintenance.releaseLease(spark, root)
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
    IndexMaintenance.releaseLease(spark, root)
  }

  test("generation survives a crash between the gen file's delete and rename") {
    val root = fresh("gencrash")
    new java.io.File(root).mkdirs()
    IndexMaintenance.withWriterLease(spark, root) { () }
    IndexMaintenance.withWriterLease(spark, root) { () }
    assert(IndexMaintenance.generation(spark, root) == 2L)
    // simulate the crash window: the published file is deleted and only
    // the tmp (holding the completed mutation's number) remains
    val gen = new java.io.File(root, IndexMaintenance.GenFile)
    val tmp = new java.io.File(root, IndexMaintenance.GenFile + ".tmp")
    java.nio.file.Files.write(tmp.toPath, "3 crashed".getBytes("UTF-8"))
    gen.delete()
    assert(IndexMaintenance.generation(spark, root) == 3L) // not reset to 0
    // the next completed mutation publishes 4 normally
    IndexMaintenance.withWriterLease(spark, root) { () }
    assert(IndexMaintenance.generation(spark, root) == 4L)
    assert(gen.exists && !tmp.exists)
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
    IndexMaintenance.releaseLease(spark, root)
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
    assert(IndexMaintenance.tombstones(spark, root).isEmpty)
    val viaIndex = Retrieval.topKFromIndex(spark, root,
      Seq("dup", "vector", "batch"), k = 8).collect().map(_.toSeq).toSeq
    val viaScan = Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("dup", "vector", "batch"), k = 8).collect().map(_.toSeq).toSeq
    assert(viaIndex == viaScan)
  }

  test("readers beside a running compaction leave its staged store alone") {
    // The compactor holds the lease and is still writing its staged store
    // (no marker yet). Readers must answer from the live stores and touch
    // nothing; only the next writer's lease, taken once the compactor's
    // is released, may delete the unmarked staged directory as debris.
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
    def staged(root: String, store: String) =
      new java.io.File(s"$root/$store.compact")
    planted.foreach { case (root, store) =>
      IndexMaintenance.acquireLease(spark, root, "compactor", 600000L)
      // a partial store: a reader that read it would answer differently
      spark.read.parquet(s"$root/$store").limit(1)
        .write.parquet(staged(root, store).toString)
    }
    try {
      assert(answers() == before, "a reader beside a compaction changed its answer")
      planted.foreach { case (root, store) =>
        assert(staged(root, store).exists,
          s"a reader deleted the in-flight $store.compact at $root")
      }
    } finally planted.foreach { case (root, _) =>
      IndexMaintenance.releaseLease(spark, root)
    }
    // the next append's lease heals each root: the debris goes
    Retrieval.appendToPostingsIndex(delta, "doc_id", "text", post)
    Retrieval.appendToPositionalIndex(delta, "doc_id", "text", pos)
    IncrementalDedup.appendBatch(delta, "doc_id", "text", dedup)
    planted.foreach { case (root, store) =>
      assert(!staged(root, store).exists,
        s"the next writer left the unmarked $store.compact at $root")
    }
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
}

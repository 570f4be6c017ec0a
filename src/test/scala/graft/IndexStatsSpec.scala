package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionScratch.rmTree
import graft.operators.{IncrementalDedup, IndexMaintenance}

/** The index health surface ([[IndexMaintenance.indexStats]]) — the one
  * frame a maintenance scheduler thresholds on. Pinned across the full
  * store lifecycle: build, append, retraction, compaction, and the
  * keyed-counted-store bookkeeping columns.
  */
class IndexStatsSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll with StagingScope {

  lazy val spark = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"

  private val scratch = scala.collection.mutable.ListBuffer[String]()

  private def fresh(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_stats_${tag}_").toString
    scratch += p
    p
  }

  override def afterAll(): Unit = scratch.foreach(rmTree)

  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  private def statsMap(root: String) =
    IndexMaintenance.indexStats(spark, root).collect()
      .map(r => r.getString(0) -> r).toMap

  test("stats across build, append, retract, compact (dedup index)") {
    val root = fresh("lifecycle")
    val base = docs.filter(col("doc_id") % 4 =!= 0).limit(150).cache()
    val n0 = base.count()
    IncrementalDedup.buildIndex(base, "doc_id", "text", root)

    val s1 = statsMap(root)
    assert(s1.keySet == Set("bands", "shingles", "params"))
    // one row per doc in shingles, `bands` rows per doc in bands (4 by
    // default) — the relational contract the driver oracle also pins
    assert(s1("shingles").getLong(3) == n0)
    assert(s1("bands").getLong(3) == 4 * n0)
    assert(s1("params").getAs[String]("params") != null)
    assert(s1("params").getAs[String]("params").contains("\"bands\":4"))
    assert(s1("shingles").getAs[String]("params") == null)
    assert(s1.values.forall(_.getAs[Long]("generation") == 1L))
    assert(s1.values.forall(!_.getAs[Boolean]("pending_compaction")))
    assert(s1.values.forall(_.getAs[Long]("keyed_batches") == 0L))
    assert(s1("bands").getAs[Long]("files") > 0)
    assert(s1("bands").getAs[Long]("bytes") > 0)

    // append grows rows and bumps the generation; file count grows too
    // (one more append set) — the backlog signal auto-compaction watches
    val delta = docs.filter(col("doc_id") % 4 === 0).limit(50)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")).cache()
    val nd = delta.count()
    IncrementalDedup.appendBatch(delta, "doc_id", "text", root)
    val s2 = statsMap(root)
    assert(s2("shingles").getLong(3) == n0 + nd)
    assert(s2("bands").getLong(3) == 4 * (n0 + nd))
    assert(s2("shingles").getAs[Long]("files") > s1("shingles").getAs[Long]("files"))
    assert(s2.values.forall(_.getAs[Long]("generation") == 2L))

    // retraction surfaces as a tombstones store row; data stores unchanged
    import spark.implicits._
    IndexMaintenance.withWriterLease(spark, root) {
      IndexMaintenance.addTombstones(root,
        base.limit(10).select("doc_id"))
    }
    val s3 = statsMap(root)
    assert(s3.contains("tombstones"))
    assert(s3("tombstones").getLong(3) == 10L)
    assert(s3("shingles").getLong(3) == n0 + nd)

    // compaction vacuums the tombstoned rows, drops the tombstone store,
    // and lands each store at its byte-derived target file count
    IndexMaintenance.compactDedupIndex(spark, root)
    val s4 = statsMap(root)
    assert(!s4.contains("tombstones"))
    assert(s4("shingles").getLong(3) == n0 + nd - 10)
    assert(s4("bands").getLong(3) == 4 * (n0 + nd - 10))
    assert(s4("shingles").getAs[Long]("files") ==
      s4("shingles").getAs[Long]("target_files"))
    assert(s4.values.forall(_.getAs[Long]("generation") == 4L))

    // a committed-but-unswapped compaction marker reads as pending
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_compact_bands"),
      "bands".getBytes("UTF-8"))
    assert(statsMap(root)("bands").getAs[Boolean]("pending_compaction"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "_compact_bands"))
  }

  test("keyed counted stores report delta backlog and folded ledger") {
    val root = fresh("keyed")
    import spark.implicits._
    // a batch-keyed counted store: two delta subdirectories, one folded
    Seq(("a", 3L), ("b", 1L)).toDF("term", "n")
      .write.parquet(s"$root/terms/b1")
    Seq(("a", 2L)).toDF("term", "n")
      .write.parquet(s"$root/terms/b2")
    IndexMaintenance.recordFolded(spark, root, "terms", Seq("b0"))
    val s = statsMap(root)
    assert(s("terms").getAs[Long]("keyed_batches") == 2L)
    assert(s("terms").getAs[Long]("folded_batches") == 1L)
    assert(s("terms").getLong(3) == 3L) // recursive row count over deltas
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionScratch.rmTree
import graft.operators.{IncrementalDedup, IndexMaintenance}

/** The index health surface ([[IndexMaintenance.indexStats]]) — the one
  * frame a maintenance scheduler thresholds on. Pinned across the full
  * store lifecycle: build, append, retraction, compaction — and the
  * root's batch watermark, which a compaction carries forward.
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
    IndexMaintenance.withWriterLease(spark, root) {
      IndexMaintenance.addTombstones(_, base.limit(10).select("doc_id"))
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
  }

  test("the applied watermark survives a compaction") {
    val root = fresh("applied")
    import spark.implicits._
    // a counted store fed by one streaming query: batch 0's only token
    // sums to zero, so the compaction folds it away
    def append(id: Long, rows: Seq[(String, Long)]): Unit =
      IndexMaintenance.withWriterLease(spark, root,
        batch = Some(IndexMaintenance.Batch("q", id)))(
        _.append("terms", rows.toDF("term", "n")))
    append(0L, Seq(("z", 0L)))
    IndexMaintenance.withWriterLease(spark, root) { tx =>
      tx.replace("terms", tx.snapshot.read("terms").filter($"n" =!= 0L))
    }
    assert(IndexMaintenance.snapshot(spark, root).applied == Map("q" -> 0L))
    append(1L, Seq(("a", 3L), ("b", 1L)))
    append(2L, Seq(("a", 2L)))
    // a replay of either batch, after the compaction or not, is skipped:
    // no row, no generation
    val g = IndexMaintenance.generation(spark, root)
    append(0L, Seq(("z", 0L)))
    append(2L, Seq(("a", 2L)))
    assert(IndexMaintenance.generation(spark, root) == g)
    val s = statsMap(root)
    assert(s("terms").getLong(3) == 3L) // row count over the live deltas
    assert(IndexMaintenance.snapshot(spark, root).applied == Map("q" -> 2L))
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionScratch.rmTree
import graft.operators.{IncrementalAnn, IncrementalDedup, IndexMaintenance, IvfIndex, Staging}
import graft.streaming.EmbeddingIngest

/** Continuous embedding-side hygiene (streaming/EmbeddingIngest.scala):
  * arriving embedding files → per-micro-batch cosine near-dup dedup
  * against the persisted ANN signature index → survivors appended to the
  * signature index, the durable sink, and (optionally) the IVF-cell
  * store. Pins the same contracts as the document ingest: streamed ==
  * the sequential incremental fold, greedy first-fit, replay harmless,
  * checkpoint resume drains only new files.
  */
class EmbeddingIngestSpec extends AnyFunSuite with StagingScope {

  lazy val spark: SparkSession = SparkTestSession.get

  private val dim = 8
  // deterministic unit-ish vectors: basis direction b plus a small fixed
  // tilt — exact CLONES share the array bitwise (cos == 1); distinct
  // bases are near-orthogonal (cos ≈ 0); a NEAR pair is the same basis
  // with a small second component (cos ≈ 0.995)
  private def basis(b: Int): Seq[Double] =
    (0 until dim).map(j => if (j == b % dim) 1.0 else 0.0)
  private def near(b: Int): Seq[Double] = {
    val v = (0 until dim).map(j =>
      if (j == b % dim) 1.0 else if (j == (b + 1) % dim) 0.1 else 0.0)
    v
  }

  private def writeVecFile(dir: String, rows: Seq[(Long, Seq[Double])],
      name: String, mtime: Long): Unit = {
    import spark.implicits._
    val tmp = s"$dir/tmp_$name"
    rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dest = new java.io.File(dir, name)
    java.nio.file.Files.move(part.toPath, dest.toPath)
    assert(dest.setLastModified(mtime))
  }

  private def keptIds(df: DataFrame): Set[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSet

  /** The streaming query that drained into `root` (the one key of its
    * batch watermark).
    */
  private def queryOf(root: String): String =
    IndexMaintenance.snapshot(spark, root).applied.keys.toSeq match {
      case Seq(q) => q
      case qs => fail(s"expected one query in the watermark of $root, got $qs")
    }

  /** Row count of each of `stores` at `root`. */
  private def rowCounts(root: String, stores: String*): Seq[Long] = {
    val snap = IndexMaintenance.snapshot(spark, root)
    stores.map(snap.read(_).count())
  }

  // f1: 1 and 3 are exact clones (3 drops in-batch); 2 fresh; f2: 11 is
  // a near-dup of KEPT 1 (drops against the index at τ=0.9), 12 fresh;
  // f3: 21 near-dups DROPPED 11 — wait: 21 = near(0) too, which also
  // near-dups KEPT 1 → drops; 22 clones DROPPED 3's vector == 1's → drops;
  // 23 fresh. Greedy first-fit: kept = {1, 2, 12, 23}.
  private val f1 = Seq(1L -> basis(0), 2L -> basis(2), 3L -> basis(0))
  private val f2 = Seq(11L -> near(0), 12L -> basis(3))
  private val f3 = Seq(21L -> near(0), 22L -> basis(0), 23L -> basis(5))
  private val expectedKept = Set(1L, 2L, 12L, 23L)

  test("streamed embedding ingest equals the sequential incremental fold") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_eing_fold_").toString
    try {
      val src = s"$root/src"; new java.io.File(src).mkdirs()
      val now = System.currentTimeMillis()
      writeVecFile(src, f1, "f1.parquet", now - 120000)
      writeVecFile(src, f2, "f2.parquet", now - 60000)
      writeVecFile(src, f3, "f3.parquet", now)
      val streamed = EmbeddingIngest.runIngestAvailableNow(spark, src,
        s"$root/idx", s"$root/sink", s"$root/ckpt", dim = dim,
        threshold = 0.9, numPlanes = 8, numTables = 8,
        shufflePartitions = Some(2))
      assert(keptIds(streamed) == expectedKept,
        s"streamed kept ${keptIds(streamed).toSeq.sorted}")

      // the sequential fold over the same batches with the same params
      val idx2 = s"$root/idx2"
      IncrementalAnn.buildIndex(f1.take(0).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dim, idx2, numPlanes = 8, numTables = 8)
      var kept = Set.empty[Long]
      for (batch <- Seq(f1, f2, f3)) Staging.scoped {
        val b = batch.toDF("vec_id", "embedding")
        val pairs = IncrementalAnn.newBatchPairs(b, "vec_id", "embedding",
          idx2, threshold = 0.9)
        val keep = IncrementalDedup.keepListFromPairs(b, "vec_id", pairs)
        kept ++= keptIds(keep)
        IncrementalAnn.appendBatch(keep, "vec_id", "embedding", idx2)
      }
      assert(kept == expectedKept, s"sequential fold kept ${kept.toSeq.sorted}")
    } finally rmTree(root)
  }

  test("replaying a committed batch changes neither sink nor later decisions; resume drains only new files") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_eing_replay_").toString
    try {
      val src = s"$root/src"; new java.io.File(src).mkdirs()
      val now = System.currentTimeMillis()
      writeVecFile(src, f1, "f1.parquet", now - 120000)
      writeVecFile(src, f2, "f2.parquet", now - 60000)
      val first = EmbeddingIngest.runIngestAvailableNow(spark, src,
        s"$root/idx", s"$root/sink", s"$root/ckpt", dim = dim,
        threshold = 0.9, numPlanes = 8, numTables = 8,
        shufflePartitions = Some(2))
      assert(keptIds(first) == Set(1L, 2L, 12L))

      // at-least-once: replay batch 1 (f2) — sink overwritten in place,
      // survivors unchanged, no row appended and nothing committed (the
      // root's watermark holds batch 1), and a later probe decides
      // identically
      val countsBefore = rowCounts(s"$root/idx", "sigs", "vecs")
      val genBefore = IndexMaintenance.generation(spark, s"$root/idx")
      EmbeddingIngest.ingestBatch(f2.toDF("vec_id", "embedding"),
        IndexMaintenance.Batch(queryOf(s"$root/idx"), 1L),
        s"$root/idx", s"$root/sink", "vec_id", "embedding", dim, 0.9, 8, 8, None)
      val after = graft.streaming.CorpusIngest.survivors(spark, s"$root/sink",
        Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding").schema)
      assert(keptIds(after) == Set(1L, 2L, 12L), "replay changed the sink")
      assert(rowCounts(s"$root/idx", "sigs", "vecs") == countsBefore,
        "replay appended to the signature index")
      assert(IndexMaintenance.generation(spark, s"$root/idx") == genBefore,
        "replay committed a generation")
      val dropped = Staging.scoped {
        IncrementalAnn.newBatchPairs(
          Seq(31L -> basis(0), 32L -> basis(6)).toDF("vec_id", "embedding"),
          "vec_id", "embedding", s"$root/idx", threshold = 0.9)
          .select("id_b").collect().map(_.getLong(0)).toSet
      }
      assert(dropped == Set(31L), "the replay changed a decision")

      // resume: only the new file drains; published batches untouched
      // (snapshot AFTER the replay — the replay itself legitimately
      // rewrote batch=1, which is exactly its idempotence contract)
      val published = new java.io.File(s"$root/sink").listFiles()
        .filter(_.getName.startsWith("batch="))
        .map(d => d.getName -> d.lastModified).toMap
      writeVecFile(src, f3, "f3.parquet", now + 60000)
      val second = EmbeddingIngest.runIngestAvailableNow(spark, src,
        s"$root/idx", s"$root/sink", s"$root/ckpt", dim = dim,
        threshold = 0.9, numPlanes = 8, numTables = 8,
        shufflePartitions = Some(2))
      assert(keptIds(second) == expectedKept)
      val dirsAfter = new java.io.File(s"$root/sink").listFiles()
        .filter(_.getName.startsWith("batch="))
        .map(d => d.getName -> d.lastModified).toMap
      assert(dirsAfter.size == published.size + 1)
      published.foreach { case (name, m) =>
        assert(dirsAfter(name) == m, s"$name was rewritten on resume")
      }
    } finally rmTree(root)
  }

  test("retracted-and-banned vectors cannot re-enter through the ingest") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_eing_ban_").toString
    try {
      val src = s"$root/src"; new java.io.File(src).mkdirs()
      val now = System.currentTimeMillis()
      writeVecFile(src, f1, "f1.parquet", now - 120000)
      val first = EmbeddingIngest.runIngestAvailableNow(spark, src,
        s"$root/idx", s"$root/sink", s"$root/ckpt", dim = dim,
        threshold = 0.9, numPlanes = 8, numTables = 8,
        shufflePartitions = Some(2))
      assert(keptIds(first) == Set(1L, 2L))

      // TAKEDOWN of vector 1: tombstone + ban. Without the ban, the same
      // vector re-arriving would no longer collide with its (tombstoned)
      // history and would re-enter.
      EmbeddingIngest.retractVectors(spark, s"$root/idx",
        Seq(1L -> basis(0)).toDF("vec_id", "embedding"), "vec_id", "embedding")
      // the same vector re-arrives under a new id, plus a fresh one
      writeVecFile(src, Seq(41L -> basis(0), 42L -> basis(6)),
        "f2.parquet", now)
      val after = EmbeddingIngest.runIngestAvailableNow(spark, src,
        s"$root/idx", s"$root/sink", s"$root/ckpt", dim = dim,
        threshold = 0.9, numPlanes = 8, numTables = 8,
        shufflePartitions = Some(2))
      assert(keptIds(after) == Set(1L, 2L, 42L),
        s"banned re-upload must drop at the door; got ${keptIds(after)}")
      assert(IndexMaintenance.snapshot(spark, s"$root/idx").read("sigs")
        .filter(col("id") === 41L).count() == 0L,
        "banned vector must not reach the signature index")
      // and the retracted id never ranks: a probe for basis(0) sees only
      // surviving content
      val probe = Staging.scoped {
        IncrementalAnn.topK(Seq(999L -> basis(0)).toDF("vec_id", "embedding"),
          "vec_id", "embedding", s"$root/idx", k = 3)
          .select("n_id").collect().map(_.getLong(0)).toSet
      }
      assert(!probe.contains(1L) && !probe.contains(41L),
        s"retracted/banned content ranked: $probe")
    } finally rmTree(root)
  }

  test("ingest maintains the IVF-cell store: probes see exactly the survivors") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_eing_ivf_").toString
    try {
      val src = s"$root/src"; new java.io.File(src).mkdirs()
      val now = System.currentTimeMillis()
      writeVecFile(src, f1, "f1.parquet", now - 120000)
      writeVecFile(src, f2, "f2.parquet", now - 60000)
      writeVecFile(src, f3, "f3.parquet", now)
      // the IVF store must be PRE-BUILT (frozen codebook); seed it with a
      // small training corpus that is NOT part of the stream (ids ≥ 900)
      val seed = (900L until 908L).map(i => i -> basis((i % 8).toInt))
      IvfIndex.buildIndex(seed.toDF("vec_id", "embedding"), "vec_id",
        "embedding", dim, s"$root/ivf", nlist = 4, iters = 1)
      val streamed = EmbeddingIngest.runIngestAvailableNow(spark, src,
        s"$root/idx", s"$root/sink", s"$root/ckpt", dim = dim,
        threshold = 0.9, numPlanes = 8, numTables = 8,
        shufflePartitions = Some(2), ivfPath = Some(s"$root/ivf"))
      assert(keptIds(streamed) == expectedKept)
      // the cell store holds the seeds + exactly the survivors
      val cellIds = IndexMaintenance.snapshot(spark, s"$root/ivf").read("cells")
        .select("id").distinct().collect().map(_.getLong(0)).toSet
      assert(cellIds == expectedKept ++ seed.map(_._1),
        s"cell store holds $cellIds")
      // and a probe for basis(0) finds the kept vector 1 (never the
      // dropped clones/near-dups, which were never assigned)
      val top = Staging.scoped {
        IvfIndex.topK(Seq(999L -> basis(0)).toDF("vec_id", "embedding"),
          "vec_id", "embedding", s"$root/ivf", k = 1, nprobe = 4)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      assert(top.nonEmpty && Set(1L, 900L).contains(top.head._2),
        s"probe found ${top.headOption}") // 900 is the seed clone of basis(0)
      // a missing IVF store fails loudly BEFORE the stream starts
      val e = intercept[IllegalArgumentException] {
        EmbeddingIngest.runIngestAvailableNow(spark, src,
          s"$root/idx_b", s"$root/sink_b", s"$root/ckpt_b", dim = dim,
          numPlanes = 8, ivfPath = Some(s"$root/no_such_ivf"))
      }
      assert(e.getMessage.contains("no committed build"))
    } finally rmTree(root)
  }

  test("auto-compaction folds the ANN and IVF stores mid-drain, answers unchanged") {
    import graft.operators.IndexMaintenance
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_eing_ac_").toString
    try {
      def drain(tag: String,
          policy: IndexMaintenance.AutoCompactPolicy): DataFrame = {
        val src = s"$root/src_$tag"; new java.io.File(src).mkdirs()
        val now = System.currentTimeMillis()
        writeVecFile(src, f1, "f1.parquet", now - 120000)
        writeVecFile(src, f2, "f2.parquet", now - 60000)
        writeVecFile(src, f3, "f3.parquet", now)
        val seed = (900L until 908L).map(i => i -> basis((i % 8).toInt))
        IvfIndex.buildIndex(seed.toDF("vec_id", "embedding"), "vec_id",
          "embedding", dim, s"$root/ivf_$tag", nlist = 4, iters = 1)
        EmbeddingIngest.runIngestAvailableNow(spark, src,
          s"$root/idx_$tag", s"$root/sink_$tag", s"$root/ckpt_$tag",
          dim = dim, threshold = 0.9, numPlanes = 8, numTables = 8,
          shufflePartitions = Some(2), ivfPath = Some(s"$root/ivf_$tag"),
          autoCompact = policy)
      }
      val auto = drain("a", IndexMaintenance.AutoCompactPolicy(everyBatches = 2))
      val ctrl = drain("c", IndexMaintenance.AutoCompactPolicy())
      assert(keptIds(auto) == expectedKept && keptIds(ctrl) == expectedKept)
      // both ANN routes answer identically across the compaction
      def probes(tag: String): Seq[(Long, Long)] = Staging.scoped {
        val q = Seq(999L -> basis(0)).toDF("vec_id", "embedding")
        IncrementalAnn.topK(q, "vec_id", "embedding",
          s"$root/idx_$tag", k = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ++
        IvfIndex.topK(q, "vec_id", "embedding", s"$root/ivf_$tag",
          k = 2, nprobe = 4)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      assert(probes("a") == probes("c"),
        "compacted ANN/IVF stores must answer identically to uncompacted")
      // the compacted run's backlog is strictly smaller
      for ((r, st) <- Seq(("idx", "sigs"), ("idx", "vecs"), ("ivf", "cells"))) {
        val fa = IndexMaintenance.storeDataFiles(spark, s"$root/${r}_a", st)
        val fc = IndexMaintenance.storeDataFiles(spark, s"$root/${r}_c", st)
        assert(fa < fc, s"$r/$st: auto=$fa vs control=$fc")
      }
      // replay of the triggering batch (id 1): the appends are skipped
      // (both roots' watermarks hold it) and the compaction re-runs;
      // answers and row counts must not move
      val before = probes("a")
      def counts = rowCounts(s"$root/idx_a", "sigs", "vecs") ++
        rowCounts(s"$root/ivf_a", "cells")
      val countsBefore = counts
      EmbeddingIngest.ingestBatch(f2.toDF("vec_id", "embedding"),
        IndexMaintenance.Batch(queryOf(s"$root/idx_a"), 1L),
        s"$root/idx_a", s"$root/sink_a", "vec_id", "embedding",
        dim, 0.9, 8, 8, Some(s"$root/ivf_a"),
        IndexMaintenance.AutoCompactPolicy(everyBatches = 2))
      assert(probes("a") == before,
        "replaying the compaction-triggering batch must change no answer")
      assert(counts == countsBefore,
        "replaying the compaction-triggering batch must append no row")
      assert(keptIds(spark.read.parquet(s"$root/sink_a")) == expectedKept)
    } finally rmTree(root)
  }
}

package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import graft.operators.{IncrementalDedup, IndexMaintenance, Retrieval, Staging}
import graft.streaming.CorpusIngest

/** `ingest_index`: id-ordered arrival files drained one at a time by
  * [[CorpusIngest.runIngestAvailableNow]] at the exact-dedup settings
  * (Jaccard 1.0 over canonicalized text), keeping a BM25 postings index
  * current with periodic auto-compaction. One round = one arrival, its
  * drain, then the round's seeded `Retrieval.topKFromIndex` reads. The
  * first round is untimed set-up (JVM warm-up, first index contents); the
  * plan fixes how many timed rounds follow.
  */
object Ingest {

  def run(spark: SparkSession, arrivals: String, work: String, out: String,
      plan: JsonNode, res: Main.Result): Unit = {
    val fileDocs = Json.seq(plan.get("file_docs")).map(_.asLong)
    val nFiles = fileDocs.size
    val reads = Json.seq(plan.get("reads")).map(r => Json.seq(r).map(Json.strings))
    val k = plan.get("k").asInt
    val every = plan.get("compact_every").asInt
    val mtime0 = System.currentTimeMillis() - 3600000L
    val readLog = mutable.ArrayBuffer.empty[Map[String, Any]]
    val drainMs = mutable.ArrayBuffer.empty[Double]
    val frames, bytes = mutable.ArrayBuffer.empty[Double]
    val drainOps, readOps = mutable.ArrayBuffer.empty[String]

    val src = s"$work/src"; val idx = s"$work/idx"; val sink = s"$work/sink"
    val ckpt = s"$work/ckpt"; val post = s"$work/post"
    new File(src).mkdirs()

    def arrive(j: Int): Unit = {
      val name = f"a$j%05d.parquet"
      val dest = new File(src, name)
      Files.copy(new File(arrivals, name).toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
      dest.setLastModified(mtime0 + j * 1000L)
    }
    def drain(op: String): Double =
      Main.withOp(spark, op) {
        Trace.timed("ingest.drain", op) {
          CorpusIngest.runIngestAvailableNow(spark, src, idx, sink, ckpt,
            jaccardThreshold = 1.0, params = IncrementalDedup.Params(3, 16, 1),
            shufflePartitions = Some(8), canonicalize = true,
            maintain = CorpusIngest.IndexSuite(postingsPath = Some(post)),
            autoCompact = IndexMaintenance.AutoCompactPolicy(everyBatches = every))
        }._2
      }
    def read(terms: Seq[String], op: String): (String, Double) =
      Main.withOp(spark, op) {
        Trace.timed("read.topKFromIndex", op) {
          Retrieval.topKFromIndex(spark, post, terms, k).collect()
            .map(_.json).mkString("[", ",", "]")
        }
      }
    /** One round: arrival `j`, its drain, then its reads. */
    def round(j: Int, timed: Boolean): Unit = {
      arrive(j)
      val op = s"drain-$j"
      val ms = drain(op)
      if (timed) { drainMs += ms; drainOps += op }
      reads(j % reads.size).zipWithIndex.foreach { case (terms, r) =>
        val rop = s"read-$j-$r"
        val (rows, ms) = read(terms, rop)
        if (timed) { res.latencies += ms; readOps += rop }
        readLog += Map("arrival" -> j, "terms" -> terms, "rows" -> Json.read(rows))
      }
      if (timed) {
        val (f, b) = Main.stagingSample(spark)
        frames += f; bytes += b.toDouble
      }
      Staging.releaseAll()
    }

    // set-up: the first arrival (untimed) warms the JVM and seeds the index
    round(0, timed = false)
    val jvm = new Main.JvmProbe
    val t0 = System.nanoTime()
    res.firstOpMs = System.currentTimeMillis()
    val last = plan.get("rounds").asInt min (nFiles - 1)
    var j = 1
    var docs = 0L
    while (j <= last) {
      round(j, timed = true)
      docs += fileDocs(j)
      j += 1
    }
    res.windowS = (System.nanoTime() - t0) / 1e9
    jvm.report(res)
    res.attempted = (drainOps.size + readOps.size).toLong
    res.workUnits = docs.toDouble
    res.workS = drainMs.sum / 1000.0
    res.info("arrivals") = j.toString

    val survivors = CorpusIngest.survivors(spark, sink, spark.read.parquet(src).schema)
      .select("doc_id", "batch").collect().map(r => Seq(r.getLong(0), r.getInt(1).toLong))
    val storeSizes = Seq("dedup" -> idx, "postings" -> post).flatMap { case (fam, root) =>
      Option(new File(root).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && !f.getName.endsWith(".compact"))
        .map(f => (fam, f.getName, IndexMaintenance.storeDataFiles(spark, root, f.getName), dirBytes(f)))
    }
    val totalBytes = storeSizes.map(_._4).sum.toDouble
    res.layer("index.bytes_per_doc") = totalBytes / survivors.length.max(1)
    res.info("survivors") = survivors.length.toString
    if (Trace.enabled) {
      Trace.drainEvents(spark, "ingest")
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (Trace.terminated.get < j && System.nanoTime() < deadline) Thread.sleep(10)
      val batches = Trace.batches.asScala.toSeq
      val perDrain = batches.map(_._1).distinct // drains in order; the warm-up ran first
        .map(run => batches.filter(_._1 == run).map(_._2)).drop(1)
      res.layer("ingest.batch_ms") = Main.median(perDrain.flatten.map(_.toDouble))
      res.layer("ingest.drain_ms") = Main.median(drainMs)
      res.layer("ingest.start_ms") = Main.median(drainMs.zip(perDrain).map { case (d, bs) => d - bs.sum })
      res.layer("read.ms") = Main.median(res.latencies)
      res.layer("read.jobs") = readOps.map(o => Trace.execByOp.get(o).map(_.jobs).getOrElse(0L).toDouble).sum /
        readOps.size.max(1)
      res.layer("index.files") = storeSizes.map(_._3).sum.toDouble
      storeSizes.foreach { case (fam, st, _, b) => res.layer(s"index.bytes.$fam.$st") = b.toDouble }
      res.layer("staging.frames") = Main.median(frames)
      res.layer("staging.bytes") = Main.median(bytes)
      Main.catalystLayer(res, drainOps.toSeq)
      Main.execLayer(res, drainOps.toSeq)
    }
    Main.write(s"$out/answers.json", Json.write(Map(
      "arrivals" -> j,
      "survivors" -> survivors.toSeq,
      "reads" -> readLog.toSeq)))
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length
}

package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionScratch.rmTree
import graft.operators.Staging
import graft.streaming.CorpusIngest

/** Staging scopes under the concurrency one session already has: two
  * streaming ingests drain on their own threads while a staging query
  * holds its frames in a scope of its own.
  */
class StagingConcurrencySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** Three arrival files of the documents with `doc_id % 2 == parity`,
    * mtimes ascending in id order (the source drains by mtime).
    */
  private def writeSource(src: String, parity: Int): Unit = {
    spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 2 === parity).select("doc_id", "text")
      .repartitionByRange(3, col("doc_id")).write.parquet(src)
    val now = System.currentTimeMillis()
    new java.io.File(src).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).zipWithIndex
      .foreach { case (f, i) => assert(f.setLastModified(now - 60000L + i * 1000L)) }
  }

  private def drain(root: String, run: String): Seq[Row] =
    rows(CorpusIngest.runIngestAvailableNow(spark, s"$root/src",
      s"$root/idx_$run", s"$root/sink_$run", s"$root/ckpt_$run",
      jaccardThreshold = 0.6, shufflePartitions = Some(2)))

  private def cached(df: DataFrame): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState
      .cacheManager.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .isDefined

  test("two ingests and a staging query at once: no scope releases another's frames") {
    val roots = Seq(0, 1).map { parity =>
      val r = java.nio.file.Files.createTempDirectory(s"graft_scopes_$parity").toString
      writeSource(s"$r/src", parity)
      r
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val q = SparkEntry.queries("q_dedup_minhash")
      val soloQuery = Staging.scoped(rows(q(spark, dir)))
      val soloIngests = roots.map(drain(_, "solo"))
      assert(Staging.liveCount == 0, "solo runs left staged frames")
      val (got, frames, kept, again, live, ingests) = Staging.scoped {
        val fs = roots.map(r => pool.submit(() => drain(r, "together")))
        val got = rows(q(spark, dir))
        val frames = Staging.currentScope.frames
        // every batch scope of both ingests closes while this one is open
        val ingests = fs.map(_.get())
        (got, frames, frames.map(cached), rows(q(spark, dir)), Staging.liveCount, ingests)
      }
      assert(frames.nonEmpty, "the query staged nothing: the check is vacuous")
      assert(kept.forall(identity), s"${kept.count(!_)} of ${frames.size} " +
        "frames of the query's scope were released by another scope")
      assert(live == frames.size, s"$live frames live, the query owns ${frames.size}")
      assert(got == soloQuery && again == soloQuery, "the query changed beside the ingests")
      assert(ingests == soloIngests, "an ingest changed beside the other and the query")
      assert(!frames.exists(cached) && Staging.liveCount == 0, "the query's scope leaked")
    } finally {
      pool.shutdown()
      roots.foreach(rmTree)
    }
  }
}

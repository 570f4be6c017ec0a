package graft

import org.apache.spark.sql.SparkSession
import graft.operators.IndexMaintenance

/** Crash states of an index root, built the way a crashed writer leaves
  * them: a writer that wrote its segments and its tmp manifest and died
  * before the rename that commits generation g+1.
  */
object IndexStates {

  def crashBeforeCommit(spark: SparkSession, root: String)(
      write: IndexMaintenance.Tx => Unit): Unit = {
    val g = IndexMaintenance.generation(spark, root)
    try IndexMaintenance.withWriterLease(spark, root) { tx =>
      write(tx)
      java.nio.file.Files.copy(java.nio.file.Paths.get(root, s"_manifest_$g"),
        java.nio.file.Paths.get(root, s"_manifest_${g + 1}.tmp"))
      throw new Crash
    } catch { case _: Crash => }
    assert(IndexMaintenance.generation(spark, root) == g,
      s"a crashed writer changed the generation of $root")
  }

  /** The segment directories under `root/store`, committed or not. */
  def segments(root: String, store: String): Set[String] =
    Option(new java.io.File(s"$root/$store").listFiles()).toSeq.flatten
      .map(_.getName).toSet

  private final class Crash extends RuntimeException("writer crashed before its commit")
}

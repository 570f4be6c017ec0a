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

  /** Rewrite the newest manifest of `root` in the layout written before
    * batch watermarks: each store carries a `folded` list of batch keys,
    * each segment a `key`, and there is no `applied` field.
    */
  def legacyManifest(spark: SparkSession, root: String): Unit = {
    import scala.jdk.CollectionConverters._
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    val g = new java.io.File(root).list().collect {
      case n if n.matches("_manifest_\\d+") => n.stripPrefix("_manifest_").toLong
    }.max
    val path = java.nio.file.Paths.get(root, s"_manifest_$g")
    val json = new ObjectMapper
    val o = json.readTree(java.nio.file.Files.readString(path)).asInstanceOf[ObjectNode]
    o.remove("applied")
    o.get("stores").elements().asScala.map(_.asInstanceOf[ObjectNode]).foreach { st =>
      st.putArray("folded").add("b0")
      st.get("segments").elements().asScala
        .foreach(_.asInstanceOf[ObjectNode].put("key", "b1"))
    }
    // through the root's filesystem, so the checksum file matches
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path.toString), true)
    try out.write(json.writeValueAsString(o).getBytes("UTF-8")) finally out.close()
  }

  /** The segment directories under `root/store`, committed or not. */
  def segments(root: String, store: String): Set[String] =
    Option(new java.io.File(s"$root/$store").listFiles()).toSeq.flatten
      .map(_.getName).toSet

  private final class Crash extends RuntimeException("writer crashed before its commit")
}

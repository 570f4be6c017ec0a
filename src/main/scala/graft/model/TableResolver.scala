package graft.model

import java.io.FileNotFoundException
import java.lang.ref.SoftReference
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A session's resolved tables, shared by every [[Tables]] over it (the
  * contract is on [[Tables]]).
  *
  * An entry is the resolved relation of `(dir, table, format)` — the
  * DataFrame `spark.read` built, which holds the inferred schema, the
  * analyzed plan and the file index — stamped with the table path's
  * modification time and length. A path that is gone evicts the entry and
  * fails as reading it always has (`spark.read` raises the missing path).
  *
  * Entries are per session: inference depends on session confs (the
  * parquet `nanosAsLong` reading, say), so a `spark.newSession()` child
  * resolves its own. Sessions are weak keys, and since a resolved relation
  * references its session, entries are soft: a session no one holds any
  * more is collected with its entries. Resolution is safe from many
  * threads; two threads that miss at once both resolve, and the later
  * resolution is kept.
  */
private[model] final class TableResolver private () {
  private final class Entry(val stamp: (Long, Long), val df: SoftReference[DataFrame])

  private val entries = new ConcurrentHashMap[(String, String, String), Entry]()

  /** Table `name` of the `format` mount at `dir`, resolved on `spark` (the
    * session this resolver belongs to).
    */
  def resolve(spark: SparkSession, dir: String, name: String,
      format: String): DataFrame = {
    val key = (dir, name, format)
    val path = new Path(Tables.path(dir, name, format))
    val stamp =
      try {
        val st = path.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(path)
        Some((st.getModificationTime, st.getLen))
      } catch {
        case _: FileNotFoundException => entries.remove(key); None
      }
    val kept = stamp.flatMap(s => Option(entries.get(key)).filter(_.stamp == s))
      .flatMap(e => Option(e.df.get))
    kept.getOrElse {
      val df = Tables.load(spark, dir, name, format)
      stamp.foreach(s => entries.put(key, new Entry(s, new SoftReference(df))))
      df
    }
  }
}

private[model] object TableResolver {
  private val bySession = new java.util.WeakHashMap[SparkSession, TableResolver]()

  /** The session's resolver, made on first use. */
  def of(spark: SparkSession): TableResolver = bySession.synchronized {
    bySession.computeIfAbsent(spark, _ => new TableResolver)
  }
}

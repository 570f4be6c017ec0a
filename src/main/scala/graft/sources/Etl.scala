package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.IndexMaintenance

/** ETL write commands over a directory of parquet tables — the analogue of
  * the reference's `tweak.etl` addon (`src/htsql/tweak/etl/cmd/insert.py`
  * (ProduceInsert), `update.py`, `delete.py`, `merge.py`, `copy.py`, and
  * the multi-command `do()` routine in `src/htsql/tweak/etl/cmd/command.py`).
  *
  * Parquet is immutable, so every mutating command is COPY-ON-WRITE: plan
  * the post-state declaratively (the write itself is a distributed job —
  * nothing ever collects), write it to a shadow directory, then swap the
  * directories. The swap is driver-side metadata work, O(1) regardless of
  * table size.
  *
  * CRASH ATOMICITY is a write-ahead commit-marker protocol:
  *
  *   1. STAGE    every post-state writes to `<name>.parquet.stage`,
  *               private to this commit; then recovery runs (below) and
  *               each `.stage` is renamed to `<name>.parquet.swap`. The
  *               live directories are never touched.
  *   2. COMMIT   a `_txn_commit` marker naming the staged tables is
  *               published with a create-then-rename (atomic on
  *               POSIX/HDFS). This is the commit point.
  *   3. SWAP     per table: rename live → `.bak`, rename `.swap` → live,
  *               then drop the `.bak`s and the marker.
  *
  * READS NEVER WRITE. [[read]] resolves the committed state of a table from
  * whatever an interrupted commit left: the `.swap` a marker names (the
  * commit point was reached), else the live directory, else a `.bak` (the
  * live directory renamed away). So every crash state reads as exactly the
  * old or the new generation.
  *
  * ONE WRITER: a commit holds the working directory's writer lease — the
  * lease of an index root, `IndexMaintenance.acquireLease` — from before
  * its staging to after its swap, so no two commits interleave, and a
  * second writer inside the lease window aborts loudly. Recovery (heal)
  * runs only there: if a marker exists, every shadow it names was fully
  * written, so the crashed transaction ROLLS FORWARD — each listed swap is
  * completed idempotently and its generation published. Without a marker
  * the commit point was never reached, so stray `.swap` and `.stage` dirs
  * are uncommitted debris (deleted) and a `.bak` without its live dir
  * restores. At no step can a crash lose the pre-state AND the post-state.
  * Recovery follows the commit's staging because the post-states read
  * what [[read]] resolved — possibly a crashed commit's `.swap` or `.bak`,
  * which recovery moves.
  * A lease older than `leaseMs` belongs to a crashed writer and is
  * reclaimed; the reclaimer's recovery heals what it left.
  *
  * LOST UPDATES are DETECTED, not isolated: a transaction snapshots the
  * committed generation (`_txn_gen`, bumped by every commit; the
  * generation in a marker's header when a marker exists) before it reads
  * anything, and its commit, under the lease, aborts loudly if the
  * committed state moved since — a writer that committed in between fails
  * the other transaction instead of letting it overwrite state it never
  * saw.
  *
  * A production deployment would layer a transactional table format's
  * commit log over the same shape; the sandbox has no such dependency, so
  * this is the minimal honest equivalent.
  *
  * Tables live at `<workDir>/<name>.parquet` — the same layout
  * `graft.model.Tables` reads, so an Etl working directory IS a queryable
  * data directory.
  */
final class Etl(val spark: SparkSession, val workDir: String,
    val leaseMs: Long = 10 * 60 * 1000L) {

  /** This writer's identity — stamped into the lease and the commit
    * marker so interleaved writers are attributable in the failure.
    */
  val writerId: String = java.util.UUID.randomUUID().toString.take(8)

  private def tablePath(name: String): String = s"$workDir/$name.parquet"
  private def livePath(name: String) = new Path(tablePath(name))
  private def stagePath(name: String) = new Path(tablePath(name) + ".stage")
  private def swapPath(name: String) = new Path(tablePath(name) + ".swap")
  private def bakPath(name: String) = new Path(tablePath(name) + ".bak")
  private val markerPath = new Path(s"$workDir/_txn_commit")
  private val markerTmpPath = new Path(s"$workDir/_txn_commit.tmp")
  private val genPath = new Path(s"$workDir/_txn_gen")
  private val genTmpPath = new Path(s"$workDir/_txn_gen.tmp")

  private def fs: FileSystem =
    new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read the committed state of table `name`; writes nothing. The common
    * case (no marker, live dir present) costs two filesystem calls.
    */
  def read(name: String): DataFrame = {
    val f = fs
    val path =
      if (readMarker(f).exists(_._2.contains(name)) && f.exists(swapPath(name))) swapPath(name)
      else if (!f.exists(livePath(name)) && f.exists(bakPath(name))) bakPath(name)
      else livePath(name)
    spark.read.parquet(path.toString)
  }

  /** `copy.py`: materialize `df` as table `name` (replacing any previous
    * state atomically).
    */
  def copy(name: String, df: DataFrame): Unit = transact(_.copy(name, df))

  /** `insert.py`: append rows (schema-aligned, type-coerced). */
  def insert(name: String, rows: DataFrame): Unit = transact(_.insert(name, rows))

  /** `update.py`: SET col := expr for rows matching `condition`; every
    * other row and column passes through unchanged.
    */
  def update(name: String, condition: Column, assignments: Map[String, Column]): Unit =
    transact(_.update(name, condition, assignments))

  /** `delete.py`: drop rows matching `condition`. */
  def delete(name: String, condition: Column): Unit = transact(_.delete(name, condition))

  /** `merge.py`: key-based upsert — matched rows are REPLACED by the
    * source row, unmatched source rows append (delete-matching + union:
    * one anti join, broadcast-able when the change set is small — the
    * common case — so the table shuffles zero rows).
    */
  def merge(name: String, source: DataFrame, keys: Seq[String]): Unit =
    transact(_.merge(name, source, keys))

  /** The reference's `do()` command: run several write commands as ONE
    * transaction. Commands inside `f` see each other's effects (reads go
    * through the overlay) but stage NO bytes until `f` returns; then all
    * post-states write to one shadow generation and commit at a single
    * marker. An exception anywhere inside `f` — validation, a failed
    * shadow write, a crash — leaves every live table in its pre-`f` state.
    */
  def transact(f: EtlTx => Unit): Unit = {
    // snapshot the committed state BEFORE the transaction reads anything:
    // the commit verifies it under the lease, so a writer that commits
    // while this transaction runs fails THIS commit loudly (lost update)
    val snapshot = committedState(fs)
    val tx = new EtlTx(this)
    f(tx)
    val staged = tx.staged
    if (staged.nonEmpty) commit(staged, snapshot)
  }

  // ---- commit protocol --------------------------------------------------

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** The published generation; 0 before the first commit. */
  private def readGen(f: FileSystem): Long =
    try readText(f, genPath).trim.split("\\s+").head.toLong
    catch { case _: java.io.FileNotFoundException => 0L }

  private def writeGen(f: FileSystem, gen: Long): Unit = {
    val out = f.create(genTmpPath, true)
    try out.write(s"$gen $writerId".getBytes("UTF-8")) finally out.close()
    f.delete(genPath, false)
    if (!f.rename(genTmpPath, genPath))
      throw new IllegalStateException(s"generation publish failed in $workDir")
  }

  /** The marker a commit past its commit point left (in flight, or
    * crashed): the generation it commits and the tables it names.
    */
  private def readMarker(f: FileSystem): Option[(Long, Seq[String])] =
    try {
      // header "<writerId> <generation>", then one staged name per line
      val lines = readText(f, markerPath).split("\n").filter(_.nonEmpty).toSeq
      Some((lines.head.split("\\s+")(1).toLong, lines.tail))
    } catch { case _: java.io.FileNotFoundException => None }

  /** What a transaction snapshots: the committed generation, and whether
    * a marker (a commit in flight, or one a crash left) carries it.
    */
  private def committedState(f: FileSystem): (Long, Boolean) =
    readMarker(f).fold((readGen(f), false))(m => (m._1, true))

  private def commit(staged: Seq[(String, DataFrame)], snapshot: (Long, Boolean)): Unit = {
    val f = fs
    IndexMaintenance.acquireLease(spark, workDir, writerId, leaseMs)
    var committed = false
    try {
      val now = committedState(f)
      if (now != snapshot) {
        val unfinished = if (snapshot._2) " from an unfinished commit" else ""
        throw new IllegalStateException(
          s"concurrent ETL writer committed generation ${now._1} under this " +
            s"transaction (writer $writerId read generation ${snapshot._1}$unfinished) — " +
            "aborting instead of overwriting state this transaction never saw")
      }
      // 1. STAGE: distributed writes to this commit's own shadow dirs, then
      //    heal, then move them into the `.swap` slots recovery has freed
      staged.foreach { case (n, df) =>
        df.write.mode("overwrite").parquet(stagePath(n).toString)
      }
      recover(f, keep = staged.map(_._1).toSet)
      staged.foreach { case (n, _) =>
        if (!f.rename(stagePath(n), swapPath(n)))
          throw new IllegalStateException(s"shadow rename failed for $n")
      }
      // 2. COMMIT POINT: publish the marker (create tmp + atomic rename)
      val gen = now._1 + 1
      val out = f.create(markerTmpPath, true)
      try out.write((s"$writerId $gen" +: staged.map(_._1)).mkString("\n").getBytes("UTF-8"))
      finally out.close()
      if (!f.rename(markerTmpPath, markerPath))
        throw new IllegalStateException(s"commit-marker publish failed in $workDir")
      committed = true
      // 3. SWAP each table; every step is idempotently re-runnable
      staged.foreach { case (n, _) => rollForward(f, n) }
      writeGen(f, gen)
      f.delete(markerPath, false)
    } finally {
      // a failure before the commit point drops this commit's staged dirs;
      // any `.swap` it renamed is debris the next writer's recovery deletes
      if (!committed) staged.foreach { case (n, _) => f.delete(stagePath(n), true) }
      IndexMaintenance.releaseLease(spark, workDir, writerId)
    }
  }

  /** Complete one table's swap; callable any number of times from any
    * intermediate state (commit path and recovery share it).
    */
  private def rollForward(f: FileSystem, name: String): Unit = {
    val live = livePath(name); val swap = swapPath(name); val bak = bakPath(name)
    if (f.exists(swap)) {
      if (f.exists(live)) {
        if (f.exists(bak)) f.delete(live, true) // bak already holds the pre-state
        else if (!f.rename(live, bak))
          throw new IllegalStateException(s"backup rename failed for $name")
      }
      if (!f.rename(swap, live))
        throw new IllegalStateException(s"swap rename failed for $name")
    } else if (!f.exists(live) && f.exists(bak)) {
      // defensive: cannot arise from this protocol, but never strand data
      f.rename(bak, live)
    }
    if (f.exists(live) && f.exists(bak)) f.delete(bak, true)
  }

  /** Heal the directory after an interrupted commit (see class doc),
    * keeping the `.stage` dirs of this commit's tables. Runs only under the
    * lease: it deletes shadows, which would destroy a live writer's staged
    * post-state.
    */
  private def recover(f: FileSystem, keep: Set[String]): Unit = {
    // commit point reached → every named shadow is complete: roll FORWARD,
    // and finish the generation bump the crash may have missed
    readMarker(f).foreach { case (gen, names) =>
      names.foreach(rollForward(f, _))
      if (readGen(f) < gen) writeGen(f, gen)
      f.delete(markerPath, false)
    }
    // no marker → commit point never reached: live dirs are pristine,
    // leftover shadows are uncommitted debris, a live-less .bak restores
    val base = new Path(workDir)
    f.listStatus(base).foreach { st =>
      val p = st.getPath
      if (p.getName == markerTmpPath.getName) f.delete(p, false)
      else if (p.getName.endsWith(".parquet.swap")) f.delete(p, true)
      else if (p.getName.endsWith(".parquet.stage") &&
        !keep.contains(p.getName.stripSuffix(".parquet.stage"))) f.delete(p, true)
      else if (p.getName.endsWith(".parquet.bak")) {
        val live = new Path(base, p.getName.stripSuffix(".bak"))
        if (f.exists(live)) f.delete(p, true)
        else f.rename(p, live)
      }
    }
  }
}

/** The overlay a `transact` block mutates: reads see staged post-states,
  * writes replace them — nothing touches disk until the block completes.
  */
final class EtlTx private[sources] (etl: Etl) {
  private val dirty = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]

  private[sources] def staged: Seq[(String, DataFrame)] = dirty.toSeq

  /** Current state of `name` as this transaction sees it. */
  def read(name: String): DataFrame = dirty.getOrElse(name, etl.read(name))

  def copy(name: String, df: DataFrame): Unit = dirty(name) = df

  def insert(name: String, rows: DataFrame): Unit = {
    val cur = read(name)
    dirty(name) = cur.unionByName(Etl.aligned(cur, rows))
  }

  def update(name: String, condition: Column, assignments: Map[String, Column]): Unit = {
    val cur = read(name)
    val unknown = assignments.keySet -- cur.columns.toSet
    require(unknown.isEmpty, s"unknown columns: ${unknown.mkString(", ")}")
    dirty(name) = cur.select(cur.columns.map { c =>
      assignments.get(c)
        .map(v => when(condition, v.cast(cur.schema(c).dataType)).otherwise(col(c)).as(c))
        .getOrElse(col(c))
    }: _*)
  }

  def delete(name: String, condition: Column): Unit = {
    val cur = read(name)
    dirty(name) = cur.filter(!coalesce(condition, lit(false)))
  }

  def merge(name: String, source: DataFrame, keys: Seq[String]): Unit = {
    val cur = read(name)
    dirty(name) = Etl.mergedState(cur, Etl.aligned(cur, source), keys)
  }
}

object Etl {
  /** The merge post-state plan, exposed for plan-shape tests: table-side
    * rows pass through a BROADCAST anti join (the table never shuffles)
    * and the source appends.
    */
  private[graft] def mergedState(cur: DataFrame, src: DataFrame,
      keys: Seq[String]): DataFrame =
    cur.join(broadcast(src.select(keys.map(col): _*)), keys, "left_anti")
      .unionByName(src)

  /** Align `rows` to the table's column set by NAME (the reference's
    * insert validates fields against the catalog and rejects unknowns —
    * `src/htsql/tweak/etl/cmd/insert.py`, BuildExtractNode).
    */
  private[sources] def aligned(cur: DataFrame, rows: DataFrame): DataFrame = {
    val unknown = rows.columns.toSet -- cur.columns.toSet
    require(unknown.isEmpty, s"unknown columns: ${unknown.mkString(", ")}")
    val missing = cur.columns.toSet -- rows.columns.toSet
    require(missing.isEmpty, s"missing columns: ${missing.mkString(", ")}")
    rows.select(cur.columns.map(c => col(c).cast(cur.schema(c).dataType)): _*)
  }
}

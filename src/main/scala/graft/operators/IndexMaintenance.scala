package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Compaction for the persisted incremental indices ([[IncrementalDedup]],
  * [[IncrementalAnn]]) — the small-files countermeasure every append-only
  * store needs at production cadence: N daily increments leave N parquet
  * append sets per store, so scan task count (and open/footer overhead)
  * grows linearly with ingest HISTORY rather than data size. At 10¹⁰ docs
  * × 365 increments the band scan would plan ~10⁵ splits of a few MB each.
  *
  * `compact*Index` rewrites each store to `ceil(bytes / targetFileBytes)`
  * files, hash-clustered on its join key (band / sig) and sorted within
  * partitions, and DEDUPS replayed append rows (the crash-recovery
  * contract lets a re-run append duplicate a batch — queries tolerate the
  * duplicates; compaction is where they physically leave). Query results
  * are bit-identical before and after (spec-pinned): the stores hold the
  * same logical rows, just fewer files.
  *
  * The swap is crash-safe by WRITE-AHEAD MARKER, the same roll-forward
  * protocol as [[graft.sources.Etl]] scoped to one store directory:
  *
  *   1. the compacted store is fully written to `<store>.compact`;
  *   2. `_compact_<store>` publishes (create tmp + atomic rename) — the
  *      commit point;
  *   3. live store deletes, staged renames over it, marker deletes.
  *
  * The protocol is known HERE only. WRITERS heal: [[withWriterLease]]
  * lists the index root once after taking the lease and makes every
  * crash state consistent before the mutation runs. READERS never write:
  * they resolve a store's directory with [[storePath]] and change
  * nothing under the root, so a reader running beside a compaction can
  * never delete the `.compact` store that compaction is still writing
  * (an HTSQL query is a GET and has no side effects; the same holds
  * for index reads). The crash states, and what each side does:
  *
  * {{{
  *   marker  staged  live    storePath reads   lease-time heal
  *   -       -       yes     live              nothing
  *   -       yes     yes     live              deletes staged (debris)
  *   yes     yes     either  staged            deletes live, renames staged
  *   yes     -       yes     live              deletes marker
  * }}}
  */
object IndexMaintenance {

  /** Filesystem of the index root itself — NOT the default filesystem.
    * Lease/generation/ledger/heal files must live next to the stores they
    * protect: resolving `FileSystem.get(conf)` would put the lock on the
    * default scheme while the stores sit on (say) `s3a://`, and the lease
    * would silently provide no mutual exclusion there.
    */
  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    fsOf(spark, new Path(root))

  // ---- concurrent-writer lease -----------------------------------------
  //
  // The ETL `_txn_lock` + generation protocol (graft.sources.Etl) applied
  // to the persisted-index family: every STORE MUTATION — append, build,
  // compact-swap, retract — runs under a fail-loud lease at the index
  // root, so a continuous ingest racing a maintenance compaction ABORTS
  // LOUDLY instead of losing an append between `swapCompacted`'s two
  // renames (the compactor's read snapshot predates the append; the swap
  // would erase it). Isolation, not interleaving: the whole
  // read-fold-swap of a compaction sits inside one lease, so there is no
  // window for a lost update and no generation-check-at-commit is needed
  // — the generation here is bumped per completed mutation purely as an
  // attributable audit trail (who mutated last, how many times), the
  // same stamp the ETL marker header carries.
  //
  // A lease older than `leaseMs` belongs to a crashed writer and is
  // reclaimed: the stale lock is RENAMED aside (atomic — exactly one
  // reclaimer wins a given lock-file instance), the reclaimer re-creates
  // the lock, and a read-back verifies ownership before proceeding —
  // losers abort loudly. The crashed writer may have left a compaction
  // half done; [[withWriterLease]] heals the root after every acquire,
  // reclaims included, before the mutation body runs. Healing is safe
  // only under the lease: a compaction holds it for its whole
  // read-fold-swap, so an unmarked `.compact` store seen there cannot
  // belong to a compaction still in flight. Like the ETL lease, a
  // mutation that legitimately outlives `leaseMs` is exposed to a
  // takeover; size `leaseMs` to the slowest expected compaction.

  val LockFile = "_index_lock"
  val GenFile = "_index_gen"

  private def lockPath(root: String) = new Path(s"$root/$LockFile")
  private def genPath(root: String) = new Path(s"$root/$GenFile")

  /** Take the index root's writer lease or throw. Public so specs (and
    * external maintenance tooling) can construct interleavings by hand;
    * operator entry points go through [[withWriterLease]].
    *
    * `beforeReclaim` is an interleaving seam for specs ONLY: it fires
    * after this writer has measured a lock as stale and recorded its
    * holder, immediately before the rename-aside — the check-to-rename
    * window in which a competing reclaimer can complete its own takeover.
    */
  def acquireLease(spark: SparkSession, root: String, writerId: String,
      leaseMs: Long, beforeReclaim: () => Unit = () => ()): Unit = {
    val f = fsOf(spark, root)
    def tryCreate(): Boolean = {
      val created =
        try Some(f.create(lockPath(root), false))
        catch { case _: java.io.IOException => None }
      created match {
        case None => false
        case Some(out) =>
          // the create succeeded — a write/close failure must not leave
          // an ownerless fresh lock blocking every writer for leaseMs
          try { out.write(writerId.getBytes("UTF-8")); out.close(); true }
          catch {
            case e: java.io.IOException =>
              try out.close() catch { case _: java.io.IOException => }
              f.delete(lockPath(root), false)
              throw new IllegalStateException(
                s"lease stamp failed at $root after create — released", e)
          }
      }
    }
    def holder(): Option[String] =
      try {
        val in = f.open(lockPath(root))
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        Some(text.trim)
      } catch { case _: java.io.IOException => None }
    if (!tryCreate()) {
      // read the holder BEFORE measuring age: if a reclaimer replaces the
      // lock between the two, the age we measure is the FRESH lock's and
      // we abort; if it replaces after, the aside verify below catches it.
      // Either way the instance we reclaim is the instance we measured.
      val observedHolder = holder()
      val age =
        try System.currentTimeMillis() -
          f.getFileStatus(lockPath(root)).getModificationTime
        catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      if (age < leaseMs)
        throw new IllegalStateException(
          s"concurrent index writer holds the lease on $root " +
            s"(lock age ${age}ms < lease ${leaseMs}ms) — refusing to " +
            "interleave store mutations")
      // stale lease: the holder crashed. Store writes are individually
      // crash-safe (marker protocol), so reclaim RENAMES the stale lock
      // aside (atomic — exactly one reclaimer wins a given lock-file
      // instance; a plain delete would let a second reclaimer delete the
      // first one's FRESH lock) and re-creates. The rename alone is NOT
      // enough: a second reclaimer that measured L0's staleness before
      // our takeover completes would rename OUR fresh lock aside and its
      // own read-back would verify its own lock — two writers. So the
      // reclaim is anchored to the lock-file INSTANCE, not the path: we
      // record the stale holder's id at measurement time, and after
      // winning the rename we READ the aside file — if its content is not
      // the holder we measured as stale, we renamed a FRESH lock by
      // mistake: restore it and abort loudly. (Holder ids are one-shot
      // UUIDs, so instance identity == holder identity; a lock whose
      // holder crashed between create and stamp reads as empty on both
      // sides and still matches.)
      val staleHolder = observedHolder.getOrElse(
        throw new IllegalStateException(
          s"concurrent index writer raced the stale-lease takeover on $root"))
      beforeReclaim()
      val aside = new Path(lockPath(root).toString + s".reclaim_$writerId")
      if (!f.rename(lockPath(root), aside))
        throw new IllegalStateException(
          s"concurrent index writer raced the stale-lease takeover on $root")
      val asideHolder =
        try {
          val in = f.open(aside)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        } catch { case _: java.io.IOException => "" }
      if (asideHolder != staleHolder) {
        // the lock we renamed is not the stale instance we measured — a
        // live writer holds it. Put it back and abort; if the restore
        // itself loses a race, still abort (we never proceed unlocked).
        if (!f.rename(aside, lockPath(root)))
          throw new IllegalStateException(
            s"stale-lease takeover on $root renamed a FRESH lock " +
              s"(holder $asideHolder) and could not restore it — " +
              "manual intervention required: restore " + aside)
        throw new IllegalStateException(
          s"concurrent index writer raced the stale-lease takeover on " +
            s"$root — fresh lock (holder $asideHolder) restored")
      }
      f.delete(aside, false)
      if (!tryCreate() || !holder().contains(writerId))
        throw new IllegalStateException(
          s"concurrent index writer raced the stale-lease takeover on $root")
    }
  }

  /** Release the lease (delete the lock file). */
  def releaseLease(spark: SparkSession, root: String): Unit =
    fsOf(spark, root).delete(lockPath(root), false)

  /** The root's mutation generation — 0 before any leased mutation
    * completes, then +1 per completed mutation (audit surface).
    */
  def generation(spark: SparkSession, root: String): Long = {
    val f = fsOf(spark, root)
    // a crash between `bumpGeneration`'s delete and rename leaves only the
    // tmp file; it holds the COMPLETED mutation's number (the bump runs
    // after the body), so reading it — rather than resetting to 0 — keeps
    // the audit counter truthful across that window. When both exist the
    // published file wins (the tmp is an uncommitted draft).
    val p =
      if (f.exists(genPath(root))) Some(genPath(root))
      else {
        val tmp = new Path(genPath(root).toString + ".tmp")
        if (f.exists(tmp)) Some(tmp) else None
      }
    p match {
      case None => 0L
      case Some(gp) =>
        val in = f.open(gp)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        text.trim.split("\\s+").head.toLong
    }
  }

  private def bumpGeneration(spark: SparkSession, root: String,
      writerId: String): Unit = {
    val f = fsOf(spark, root)
    val next = generation(spark, root) + 1
    val tmp = new Path(genPath(root).toString + ".tmp")
    val out = f.create(tmp, true)
    try out.write(s"$next $writerId".getBytes("UTF-8")) finally out.close()
    f.delete(genPath(root), false)
    if (!f.rename(tmp, genPath(root)))
      throw new IllegalStateException(s"generation publish failed at $root")
  }

  /** Run one store mutation under the root's writer lease; bump the
    * generation iff the mutation completes. Every mutating entry point of
    * the index family (build/append/retract/compact in [[Retrieval]],
    * [[Decontaminate]], [[CorpusCompare]], [[IncrementalDedup]],
    * [[IncrementalAnn]], [[IvfIndex]], and the compactions below) wraps
    * its body in this. The root heals once, under the lease, before the
    * body runs, so every body sees consistent stores at their live paths.
    */
  def withWriterLease[A](spark: SparkSession, root: String,
      leaseMs: Long = 10 * 60 * 1000L)(body: => A): A = {
    val writerId = java.util.UUID.randomUUID().toString.take(8)
    acquireLease(spark, root, writerId, leaseMs)
    try {
      healRoot(spark, root)
      val r = body
      bumpGeneration(spark, root, writerId)
      r
    } finally releaseLease(spark, root)
  }

  /** Run two INDEPENDENT store writes concurrently and wait for both —
    * the guide's overlap-independent-jobs rule (§2.6) applied to the
    * paired-store appends (bands‖shingles, sigs‖vecs, postings‖ptotals):
    * their relative order carries no crash-consistency meaning (every
    * pair's recovery contract is "re-run the append; duplicates collapse
    * on read"), so serializing them only sums two job-scheduling +
    * file-commit latencies. Concurrent first-touch of a shared staged
    * frame is safe: the block manager's per-block write lock makes the
    * second job's task wait for, then read, the first's cached block.
    * NOT for order-SENSITIVE sequences (a store before its
    * params/discriminator, a correction row before its tombstones) —
    * those encode crash-recovery invariants and stay sequential.
    * `b` runs on a pool thread; `a` stays on the caller's thread (keeps
    * its thread-local job group/description). The first failure
    * propagates after both settle (never abandons an in-flight write).
    */
  private[graft] def inParallel(a: => Unit, b: => Unit): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fb = Future(b)
    val ea = try { a; None } catch { case e: Throwable => Some(e) }
    val eb = try { Await.result(fb, Duration.Inf); None } catch {
      case e: Throwable => Some(e)
    }
    ea.orElse(eb).foreach(e => throw e)
  }

  /** [[inParallel]] for N independent store mutations — the ingest's
    * standing-index suite: each family appends to its OWN root under its
    * OWN lease, so the mutations are mutually order-free and overlap the
    * same way the paired writes do (each family's INTERNAL build/
    * append sequence stays sequential inside its thunk — those orderings
    * are crash-recovery invariants). The first thunk runs on the caller's
    * thread; every failure is awaited before the first one propagates
    * (never abandons an in-flight write).
    */
  private[graft] def inParallelAll(thunks: Seq[() => Unit]): Unit =
    thunks match {
      case Seq() => ()
      case Seq(one) => one()
      case head +: tail =>
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val fs = tail.map(t => Future(t()))
        val eh = try { head(); None } catch { case e: Throwable => Some(e) }
        val es = fs.map { f =>
          try { Await.result(f, Duration.Inf); None } catch {
            case e: Throwable => Some(e)
          }
        }
        (eh +: es).flatten.headOption.foreach(e => throw e)
    }

  // ---- auto-compaction policy ------------------------------------------

  /** When a continuous ingest should fold its appended deltas — the knob
    * that stops the small-files growth the compaction protocol exists to
    * price out (one parquet append set per micro-batch, forever, without
    * it). Two triggers, either sufficient:
    *
    *   - `everyBatches > 0`: compact on every Nth batch id ((id+1) % N
    *     == 0) — deterministic under replay, so a re-run triggering
    *     batch just re-compacts (idempotent: same logical rows, the
    *     folded-batch ledger keeps counted stores exact);
    *   - `fileThreshold > 0`: compact a store family whose probe store
    *     has accumulated more than this many data files — the
    *     [[indexStats]] backlog signal, one directory listing per batch.
    *
    * Disabled (the default) preserves the manual-maintenance contract.
    */
  final case class AutoCompactPolicy(everyBatches: Int = 0,
      fileThreshold: Int = 0, targetFileBytes: Long = 128L << 20) {
    private[graft] def enabled: Boolean = everyBatches > 0 || fileThreshold > 0
    private[graft] def batchDue(batchId: Long): Boolean =
      everyBatches > 0 && (batchId + 1) % everyBatches == 0
  }

  /** Data-file count of one store (recursive; `_`/`.` metadata excluded);
    * 0 when the store does not exist. The backlog probe for
    * [[AutoCompactPolicy.fileThreshold]] and the `files` column of
    * [[indexStats]].
    */
  def storeDataFiles(spark: SparkSession, root: String,
      store: String): Long = {
    val f = fsOf(spark, root)
    val p = new Path(s"$root/$store")
    if (!f.exists(p)) 0L
    else {
      var files = 0L
      val it = f.listFiles(p, true)
      while (it.hasNext) {
        val s = it.next(); val nm = s.getPath.getName
        if (!nm.startsWith("_") && !nm.startsWith(".")) files += 1L
      }
      files
    }
  }

  // ---- observability ---------------------------------------------------

  /** One frame describing every store under an index root — the health
    * surface a maintenance scheduler, pager, or auto-compaction policy
    * thresholds on. One row per store subdirectory (including
    * `tombstones` when present), with the root-level generation repeated
    * on every row:
    *
    *   - `files` / `bytes`: data files (recursive, `_`/`.` metadata
    *     excluded) and their total size — the small-files backlog signal
    *     for append stores;
    *   - `target_files`: what a compaction at `targetFileBytes` would
    *     rewrite the store to; `files` far above it = compact now;
    *   - `rows`: parquet row count (footer-derived — no data scan);
    *   - `keyed_batches` / `folded_batches`: delta subdirectories present
    *     / already folded, for the batch-keyed counted stores (0/0 for
    *     plain append stores);
    *   - `pending_compaction`: a committed-but-unswapped compaction
    *     marker exists (the next writer's lease rolls it forward);
    *   - `params`: the single params row rendered as JSON for `*params`
    *     stores, null elsewhere.
    *
    * Driver-side listing + per-store footer counts: cost is O(stores ×
    * files), the same metadata the next scan planning pays anyway; no
    * store data is read. Read-only — takes no lease (a concurrent
    * mutation can skew a row; a scheduler reads again next tick).
    */
  def indexStats(spark: SparkSession, root: String,
      targetFileBytes: Long = 128L << 20): DataFrame = {
    import spark.implicits._
    val f = fsOf(spark, root)
    val rootP = new Path(root)
    val stores =
      if (!f.exists(rootP)) Seq.empty[String]
      else f.listStatus(rootP).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(_.endsWith(".compact")).sorted
    val gen = generation(spark, root)
    val rows = stores.map { st =>
      val p = new Path(s"$root/$st")
      val files = storeDataFiles(spark, root, st)
      var bytes = 0L
      val it = f.listFiles(p, true)
      while (it.hasNext) {
        val s = it.next(); val nm = s.getPath.getName
        if (!nm.startsWith("_") && !nm.startsWith(".")) bytes += s.getLen
      }
      val rowCount =
        try spark.read.option("recursiveFileLookup", "true")
          .parquet(p.toString).count()
        catch { case _: org.apache.spark.sql.AnalysisException => 0L }
      val keyed = keyedSubdirs(spark, root, st)
      val folded = foldedBatches(spark, root, st)
      val pending = f.exists(markerPath(root, st))
      val params =
        if (st.endsWith("params") && rowCount == 1L)
          spark.read.parquet(p.toString).toJSON.head()
        else null
      (st, files, bytes, rowCount,
        targetFileCount(spark, root, st, targetFileBytes).toLong,
        keyed.size.toLong, folded.size.toLong, pending, params, gen)
    }
    rows.toDF("store", "files", "bytes", "rows", "target_files",
      "keyed_batches", "folded_batches", "pending_compaction", "params",
      "generation")
  }

  private def stagedPath(root: String, store: String) = new Path(s"$root/$store.compact")
  private val MarkerPrefix = "_compact_"
  private def markerPath(root: String, store: String) = new Path(s"$root/$MarkerPrefix$store")

  /** The directory a reader should read `store` from, resolved without
    * touching the filesystem's state: the staged `<store>.compact` when
    * its marker is published (the swap has committed; the live directory
    * may already be gone), the live `<store>` otherwise (an unmarked
    * staged directory is either debris or a compaction still writing).
    */
  def storePath(spark: SparkSession, root: String, store: String): String = {
    val f = fsOf(spark, root)
    val staged = stagedPath(root, store)
    if (f.exists(markerPath(root, store)) && f.exists(staged)) staged.toString
    else s"$root/$store"
  }

  /** Make every store under `root` consistent: each published marker
    * rolls its store forward, each `<store>.compact` without a marker is
    * uncommitted debris and deletes. One listing of the root; runs only
    * inside [[withWriterLease]], where no compaction can be in flight.
    */
  private def healRoot(spark: SparkSession, root: String): Unit = {
    val f = fsOf(spark, root)
    val names = f.listStatus(new Path(root)).map(_.getPath.getName).toSet
    val marked = names.collect {
      case n if n.startsWith(MarkerPrefix) && !n.endsWith(".tmp") =>
        n.stripPrefix(MarkerPrefix)
    }
    marked.foreach { store =>
      val live = new Path(s"$root/$store")
      val staged = stagedPath(root, store)
      if (names(staged.getName)) {
        if (names(store)) f.delete(live, true)
        if (!f.rename(staged, live))
          throw new IllegalStateException(s"compaction heal: rename failed for $staged")
      }
      f.delete(markerPath(root, store), false)
    }
    names.filter(n => n.endsWith(".compact") &&
        !marked(n.stripSuffix(".compact")))
      .foreach(n => f.delete(new Path(s"$root/$n"), true))
  }

  /** The ONE copy of the crash-safe staged-store swap, shared by every
    * compaction (incl. [[CorpusCompare.compactGramIndex]], which folds by
    * aggregation rather than dedup): has `writeStaged` materialize the
    * replacement at `<store>.compact`, then publishes the write-ahead
    * marker and swaps. Runs under the writer lease, whose heal left no
    * prior interrupted state; a crash anywhere leaves a state the next
    * lease heals and [[storePath]] resolves.
    */
  def swapCompacted(spark: SparkSession, root: String, store: String)(
      writeStaged: String => Unit): Unit = {
    val f = fsOf(spark, root)
    val live = new Path(s"$root/$store")
    val staged = stagedPath(root, store)
    writeStaged(staged.toString)
    // commit point: marker publishes via create-then-rename
    val marker = markerPath(root, store)
    val tmp = new Path(marker.toString + ".tmp")
    val out = f.create(tmp, true)
    try out.writeBytes(store) finally out.close()
    if (!f.rename(tmp, marker))
      throw new IllegalStateException(s"compaction commit: marker rename failed for $store")
    // roll forward (identical to healRoot's marker branch)
    f.delete(live, true)
    if (!f.rename(staged, live))
      throw new IllegalStateException(s"compaction swap: rename failed for $staged")
    f.delete(marker, false)
  }

  /** RETRACTION (takedown) support shared by every persisted index — the
    * production "remove these documents from everything" story (copyright
    * takedown, PII discovery, opt-out) at 100 TB, where rebuilding an
    * index to drop 0.01% of its rows is not an option:
    *
    *   - [[addTombstones]] appends the retracted ids to a `tombstones/`
    *     store under the index root — one small parquet append, no touch
    *     of the data stores;
    *   - readers drop tombstoned rows with [[filterTombstoned]] — a
    *     BROADCAST anti-join (a takedown list is orders of magnitude
    *     smaller than the corpus: millions of ids = tens of MB; a list
    *     too large to broadcast should be applied as a rebuild instead);
    *   - the index's `compact*` pass physically drops tombstoned rows
    *     while rewriting (the vacuum), then deletes the tombstone store —
    *     retraction cost is thereby amortized into the compaction the
    *     lifecycle already pays.
    *
    * Crash posture: tombstone appends are at-least-once (duplicate id
    * rows are harmless — the filter is an anti-join); vacuum deletes the
    * tombstone store only AFTER every data-store swap commits, so a crash
    * anywhere leaves either extra tombstones whose rows still exist
    * (still filtered — correct) or extra tombstones whose rows are gone
    * (filter is a no-op — correct). Contract: an id is retracted at most
    * once and never re-appended afterwards — the same stated-not-checked
    * id-space discipline as the append disjointness contract. A REBUILD
    * (any overwrite-mode build entry point) starts a new index
    * generation: it drops the tombstone store first (a stale tombstone
    * would silently filter fresh rows the new build's stats count — the
    * postings ptotals would then disagree with df/candidates on every
    * query), and thereby RESETS the retract-at-most-once contract for
    * the new generation's id space.
    */
  val TombstoneStore = "tombstones"

  private def tombstonePath(root: String) = new Path(s"$root/$TombstoneStore")

  /** Append retraction ids (any single-column frame; the column is
    * renamed `id` in the store). Idempotent under replay: re-running an
    * interrupted retraction appends duplicate rows, which the anti-join
    * read ignores and vacuum drops.
    */
  def addTombstones(root: String, ids: DataFrame): Unit = {
    require(ids.columns.length == 1,
      s"tombstone frame must have exactly one id column, got " +
        ids.columns.mkString("(", ", ", ")"))
    val t = ids.select(col(ids.columns.head).as("id")).distinct()
      .coalesce(1).persist()
    try {
      // an empty retraction is a no-op — writing it would leave a
      // zero-file parquet dir that breaks every later tombstone read
      // ("unable to infer schema"), poisoning the whole index
      if (!t.isEmpty)
        t.write.mode("append").parquet(tombstonePath(root).toString)
    } finally t.unpersist(false)
  }

  /** The tombstone id set at `root`, if any retraction has happened. */
  def tombstones(spark: SparkSession, root: String): Option[DataFrame] = {
    val p = tombstonePath(root)
    if (fsOf(spark, root).exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** Drop `df` rows whose `idCol` is tombstoned at `root` — a broadcast
    * anti-join when a tombstone store exists, the identity otherwise (the
    * common case: no retraction has ever touched this index).
    */
  def filterTombstoned(spark: SparkSession, root: String, df: DataFrame,
      idCol: String): DataFrame =
    tombstones(spark, root) match {
      case Some(t) =>
        df.join(broadcast(t), df(idCol) === t("id"), "left_anti")
      case None => df
    }

  /** Delete the tombstone store — called by vacuum after every data-store
    * swap has committed (the rows the tombstones pointed at are gone).
    */
  def dropTombstones(spark: SparkSession, root: String): Unit = {
    val p = tombstonePath(root)
    if (fsOf(spark, root).exists(p)) fsOf(spark, root).delete(p, true)
  }

  // ---- folded-batch ledger (keyed counted stores) ------------------------
  //
  // The batch-id-keyed counted stores (term stats, drift grams) get their
  // replay idempotence from "a replayed batch OVERWRITES its own b<key>
  // subdirectory". Compaction breaks that on its own: it folds the keyed
  // subdirectories into root files and deletes them, so a post-compaction
  // replay of a batch whose delta was already folded would re-CREATE its
  // subdirectory and double-count. The ledger closes the window: before
  // the compaction swap commits, the names of the subdirectories being
  // folded are recorded in a `_folded_<store>` file at the index root
  // (atomic tmp+rename, merged with prior entries), and keyed appends
  // SKIP a batch whose subdirectory name is in the ledger — its counts
  // are already in the folded store. Crash anywhere stays consistent:
  // ledger written but swap not committed → the subdirectory still
  // exists and the replay skip is still correct (the delta is present
  // once, via the subdirectory, and a later compaction folds it).

  private def foldedPath(root: String, store: String) =
    new Path(s"$root/_folded_$store")

  /** The set of keyed-subdirectory names already folded into `store`. */
  def foldedBatches(spark: SparkSession, root: String,
      store: String): Set[String] = {
    val f = fsOf(spark, root)
    val p = foldedPath(root, store)
    if (!f.exists(p)) Set.empty
    else {
      val in = f.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSet
    }
  }

  /** Record keyed subdirectories as folded (union with prior entries;
    * atomic publish). Call BEFORE the compaction swap commits.
    */
  def recordFolded(spark: SparkSession, root: String, store: String,
      names: Iterable[String]): Unit = {
    val all = foldedBatches(spark, root, store) ++ names
    if (all.nonEmpty) {
      val f = fsOf(spark, root)
      val tmp = new Path(foldedPath(root, store).toString + ".tmp")
      val out = f.create(tmp, true)
      try out.write(all.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      f.delete(foldedPath(root, store), false)
      if (!f.rename(tmp, foldedPath(root, store)))
        throw new IllegalStateException(s"folded-ledger publish failed at $root")
    }
  }

  /** The keyed subdirectory names currently present under a store. */
  def keyedSubdirs(spark: SparkSession, root: String,
      store: String): Seq[String] = {
    val f = fsOf(spark, root)
    val p = new Path(s"$root/$store")
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("b"))
      .map(_.getPath.getName)
  }

  /** Size-derived file count for a store rewrite. */
  def targetFileCount(spark: SparkSession, root: String, store: String,
      targetFileBytes: Long): Int = {
    val bytes = fsOf(spark, root).getContentSummary(new Path(s"$root/$store")).getLength
    math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
  }

  /** Rewrite one store: `ceil(bytes/targetFileBytes)` files, clustered on
    * `clusterCols`, sorted by `sortCols`, exact-duplicate rows dropped,
    * tombstoned ids (column `id`) physically vacuumed.
    */
  private def compactStore(spark: SparkSession, root: String, store: String,
      clusterCols: Seq[Column], sortCols: Seq[Column], dedupCols: Seq[String],
      targetFileBytes: Long): Unit = {
    val nFiles = targetFileCount(spark, root, store, targetFileBytes)
    val df = filterTombstoned(spark, root,
        spark.read.parquet(s"$root/$store"), "id")
      .dropDuplicates(dedupCols.head, dedupCols.tail: _*)
      .repartition(nFiles, clusterCols: _*)
      .sortWithinPartitions(sortCols: _*)
    swapCompacted(spark, root, store) { staged =>
      df.write.mode("overwrite").parquet(staged)
    }
  }

  /** Compact an [[IncrementalDedup]] index: `bands` clusters on the band
    * join key, `shingles` on id (one row per doc — replayed appends drop
    * here).
    */
  def compactDedupIndex(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Unit = withWriterLease(spark, path) {
    compactStore(spark, path, "bands",
      clusterCols = Seq(col("band")),
      sortCols = Seq(col("band"), col("band_sig"), col("id")),
      dedupCols = Seq("id", "band", "band_sig"),
      targetFileBytes = targetFileBytes)
    compactStore(spark, path, "shingles",
      clusterCols = Seq(col("id")),
      sortCols = Seq(col("id")),
      dedupCols = Seq("id"),
      targetFileBytes = targetFileBytes)
    dropTombstones(spark, path) // vacuum complete: both stores swapped
  }

  /** Compact an [[IncrementalAnn]] index: `sigs` clusters on the signature
    * (bucket keys are its low bits — co-located at any banding width),
    * `vecs` on id.
    */
  def compactAnnIndex(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Unit = withWriterLease(spark, path) {
    compactStore(spark, path, "sigs",
      clusterCols = Seq(col("sig")),
      sortCols = Seq(col("tbl"), col("sig"), col("id")),
      dedupCols = Seq("id", "tbl", "sig"),
      targetFileBytes = targetFileBytes)
    compactStore(spark, path, "vecs",
      clusterCols = Seq(col("id")),
      sortCols = Seq(col("id")),
      dedupCols = Seq("id"),
      targetFileBytes = targetFileBytes)
    dropTombstones(spark, path) // vacuum complete: both stores swapped
  }
}

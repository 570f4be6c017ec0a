package graft.operators

import java.io.FileNotFoundException
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The on-disk layout of every persisted index root ([[IncrementalDedup]],
  * [[IncrementalAnn]], [[IvfIndex]], the [[Retrieval]] postings,
  * positional and term-stats stores, the [[CorpusCompare]] and
  * [[Decontaminate]] gram stores, tombstones and banned stores). No other
  * module builds a path under an index root.
  *
  * Layout: every write goes to a new SEGMENT directory,
  * `<root>/<store>/<segment>/part-*.parquet`, that nothing modifies
  * afterwards. A root's state is one MANIFEST file, `<root>/_manifest_<g>`,
  * whose number `g` is the root's generation. The manifest is JSON:
  *
  * {{{
  *   {"generation": g, "writer": "<lease holder>",
  *    "params": {"<name>": <long>, ...},            // the family's pinned params
  *    "applied": {"<query id>": <batch id>, ...},   // streaming batches landed
  *    "stores": {"<store>": {
  *       "schema": <Spark StructType json>,
  *       "segments": [{"id": "<segment>",
  *                     "files": [{"name": "part-…", "bytes": n}, ...]}]}}}
  * }}}
  *
  * COMMIT POINT: a mutation runs under [[withWriterLease]], which hands
  * its body a [[Tx]]; the body's writes land in fresh segments, and the
  * lease publishes manifest g+1 (written to `_manifest_<g+1>.tmp`, then
  * renamed) only after the body returns. A crash at any point therefore
  * leaves generation g or g+1 visible, never a mix: segments written
  * without a manifest, or a tmp manifest never renamed, name nothing a
  * reader sees, and the next writer deletes them.
  *
  * READERS take one [[snapshot]] per entry point (one listing of the
  * root, one manifest read, no write) and read every store as a parquet
  * relation over the manifest's file list with its recorded schema: all
  * stores of one query come from one generation, and no read lists a
  * directory, checks a file or infers a schema.
  *
  * RETENTION: a writer, under the lease, deletes every segment that
  * neither the current nor the previous manifest names (a crashed
  * writer's debris included) and every older manifest. A frame planned on
  * generation g therefore stays readable until the writer of g+3 starts.
  *
  * REPLAY GUARD: `applied` is the root's batch watermark, one entry per
  * streaming query (its persistent id, stable across restarts from one
  * checkpoint): the last batch id of that query whose append this root
  * committed. A mutation given a [[Batch]] runs only when the id is past
  * the watermark, and its manifest records the id, so a streaming batch
  * lands in a root at most once however often `foreachBatch` replays it.
  * Builds, replacements and compactions carry `applied` forward
  * unchanged. A manifest written before the watermark existed (each store
  * with a list of compacted batch keys, each segment with its batch key)
  * decodes with those fields ignored and an empty `applied`: a batch
  * replayed across that upgrade is not guarded, and lands again under the
  * stores' at-least-once read-time collapse.
  *
  * A root that holds store directories but no manifest was written before
  * manifests existed; it is refused loudly and must be rebuilt.
  */
object IndexMaintenance {

  /** Filesystem of the index root itself — NOT the default filesystem.
    * Lease and manifest files must live next to the stores they protect:
    * resolving `FileSystem.get(conf)` would put the lock on the default
    * scheme while the stores sit on (say) `s3a://`, and the lease would
    * silently provide no mutual exclusion there.
    */
  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- concurrent-writer lease -----------------------------------------
  //
  // The engine's one writer lease: a fail-loud lock file at the root of
  // what it protects. Every index mutation — append, build, compaction,
  // retract — runs under it at the index root, so a continuous ingest
  // racing a maintenance compaction ABORTS LOUDLY instead of losing an
  // append (the compactor's manifest would not name it). Isolation, not
  // interleaving: the whole read-fold-commit of a compaction sits inside
  // one lease. An ETL commit (graft.sources.Etl) takes the same lease on
  // its working directory, and heals a crashed commit only while holding
  // it. No other module creates a lock (an IndexLeaseSpec lint).
  //
  // A lease older than `leaseMs` belongs to a crashed writer and is
  // reclaimed: the stale lock is RENAMED aside (atomic — exactly one
  // reclaimer wins a given lock-file instance), the reclaimer re-creates
  // the lock, and a read-back verifies ownership before proceeding —
  // losers abort loudly. A mutation that legitimately outlives `leaseMs`
  // is exposed to a takeover; size `leaseMs` to the slowest expected
  // compaction or commit.

  val LockFile = "_index_lock"

  private def lockPath(root: String) = new Path(s"$root/$LockFile")

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
        try Some(createExclusive(f, lockPath(root)))
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
      try Some(readText(f, lockPath(root)).trim)
      catch { case _: java.io.IOException => None }
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
      // stale lease: the holder crashed. Its writes never reached a
      // manifest, so reclaim RENAMES the stale lock aside (atomic —
      // exactly one reclaimer wins a given lock-file instance; a plain
      // delete would let a second reclaimer delete the first one's FRESH
      // lock) and re-creates. The rename alone is NOT enough: a second
      // reclaimer that measured L0's staleness before our takeover
      // completes would rename OUR fresh lock aside and its own read-back
      // would verify its own lock — two writers. So the reclaim is
      // anchored to the lock-file INSTANCE, not the path: we record the
      // stale holder's id at measurement time, and after winning the
      // rename we READ the aside file — if its content is not the holder
      // we measured as stale, we renamed a FRESH lock by mistake: restore
      // it and abort loudly. (Holder ids are one-shot UUIDs, so instance
      // identity == holder identity; a lock whose holder crashed between
      // create and stamp reads as empty on both sides and still matches.)
      val staleHolder = observedHolder.getOrElse(
        throw new IllegalStateException(
          s"concurrent index writer raced the stale-lease takeover on $root"))
      beforeReclaim()
      val aside = new Path(lockPath(root).toString + s".reclaim_$writerId")
      // (the local filesystem throws, rather than returning false, when
      // the lock is already gone)
      val renamed =
        try f.rename(lockPath(root), aside) catch { case _: FileNotFoundException => false }
      if (!renamed)
        throw new IllegalStateException(
          s"concurrent index writer raced the stale-lease takeover on $root")
      val asideHolder =
        try readText(f, aside).trim catch { case _: java.io.IOException => "" }
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

  /** Create `p` only if nothing is there, atomically. Hadoop's local
    * filesystem checks for the file and then opens it, so two writers can
    * both create one lock; on `file:` the create is an exclusive open.
    */
  private def createExclusive(f: FileSystem, p: Path): java.io.OutputStream =
    if (f.getScheme != "file") f.create(p, false)
    else {
      val q = f.makeQualified(p)
      f.mkdirs(q.getParent)
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(q.toUri),
        java.nio.file.StandardOpenOption.CREATE_NEW)
    }

  /** The owner recorded at `marker`, recording `owner` first when the
    * file is absent: one exclusive create, so of racing claimants exactly
    * one records itself and every one reads the same owner back. The
    * ingests' sinks are claimed this way by their streaming query.
    */
  private[graft] def claimOwner(spark: SparkSession, marker: String, owner: String): String = {
    val p = new Path(marker)
    val f = fsOf(spark, marker)
    try {
      val out = createExclusive(f, p)
      try out.write(owner.getBytes("UTF-8")) finally out.close()
      owner
    } catch {
      case _: java.io.IOException if f.exists(p) => readText(f, p).trim
    }
  }

  /** Release `writerId`'s lease: delete the lock only while this writer
    * still holds it. A writer that outlived `leaseMs` may have been
    * reclaimed; the lock at the root is then its reclaimer's, and stays.
    * Closed like the reclaim's own check-to-rename window: the lock is
    * RENAMED aside (fixing the instance), its holder read, and a lock
    * that is not ours is restored.
    */
  def releaseLease(spark: SparkSession, root: String, writerId: String): Unit = {
    val f = fsOf(spark, root)
    val aside = new Path(lockPath(root).toString + s".release_$writerId")
    val renamed =
      try f.rename(lockPath(root), aside) catch { case _: FileNotFoundException => false }
    if (renamed) {
      val holder = try readText(f, aside).trim catch { case _: java.io.IOException => "" }
      if (holder == writerId) f.delete(aside, false)
      else if (!f.rename(aside, lockPath(root)))
        throw new IllegalStateException(
          s"releasing $writerId's lease on $root moved the lock of $holder aside " +
            "and could not restore it — manual intervention required: restore " + aside)
    }
  }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  // ---- manifests ---------------------------------------------------------

  /** One immutable segment: its directory name under the store and its
    * data files with their sizes.
    */
  private final case class Segment(id: String, files: Seq[(String, Long)])

  private final case class Store(schema: StructType, segments: Seq[Segment])

  private final case class Manifest(generation: Long, writer: String,
      params: Map[String, Long], applied: Map[String, Long],
      stores: Map[String, Store])

  /** One streaming batch: the query's persistent id and the batch id. */
  private[graft] final case class Batch(query: String, id: Long)

  private val Empty = Manifest(0L, "", Map.empty, Map.empty, Map.empty)
  private val ManifestPrefix = "_manifest_"
  private val ManifestName = "_manifest_(\\d+)".r
  private val json = new ObjectMapper

  private def manifestPath(root: String, g: Long) = new Path(s"$root/$ManifestPrefix$g")

  private def hidden(name: String) = name.startsWith("_") || name.startsWith(".")

  private def encode(m: Manifest): String = {
    val o = json.createObjectNode()
    o.put("generation", m.generation).put("writer", m.writer)
    val ps = o.putObject("params")
    m.params.toSeq.sortBy(_._1).foreach { case (k, v) => ps.put(k, v) }
    val ap = o.putObject("applied")
    m.applied.toSeq.sortBy(_._1).foreach { case (q, id) => ap.put(q, id) }
    val ss = o.putObject("stores")
    m.stores.toSeq.sortBy(_._1).foreach { case (name, st) =>
      val so = ss.putObject(name)
      so.set[JsonNode]("schema", json.readTree(st.schema.json))
      val sa = so.putArray("segments")
      st.segments.foreach { seg =>
        val go = sa.addObject().put("id", seg.id)
        val fa = go.putArray("files")
        seg.files.foreach { case (n, b) => fa.addObject().put("name", n).put("bytes", b) }
      }
    }
    json.writerWithDefaultPrettyPrinter().writeValueAsString(o)
  }

  private def decode(text: String): Manifest = {
    val o = json.readTree(text)
    def elems(n: JsonNode) = n.elements().asScala.toSeq
    def longs(n: JsonNode) = Option(n).toSeq
      .flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue.asLong)).toMap
    Manifest(o.get("generation").asLong, o.get("writer").asText,
      longs(o.get("params")), longs(o.get("applied")),
      o.get("stores").properties().asScala.map { e =>
        val so = e.getValue
        e.getKey -> Store(
          DataType.fromJson(so.get("schema").toString).asInstanceOf[StructType],
          elems(so.get("segments")).map { g =>
            Segment(g.get("id").asText,
              elems(g.get("files")).map(f => f.get("name").asText -> f.get("bytes").asLong))
          })
      }.toMap)
  }

  private def listRoot(f: FileSystem, root: String): Seq[FileStatus] =
    try f.listStatus(new Path(root)).toSeq
    catch { case _: FileNotFoundException => Nil }

  private def generations(listing: Seq[FileStatus]): Seq[Long] =
    listing.map(_.getPath.getName).collect { case ManifestName(g) => g.toLong }.sorted

  /** The newest published manifest in `listing` (the empty generation 0
    * when there is none), refusing a root written before manifests.
    */
  private def newest(f: FileSystem, root: String, listing: Seq[FileStatus]): Manifest =
    generations(listing).lastOption match {
      case Some(g) => decode(readText(f, manifestPath(root, g)))
      case None =>
        if (listing.exists(s => s.isDirectory && !hidden(s.getPath.getName)))
          throw new IllegalStateException(
            s"index root $root holds store directories but no manifest: it " +
              "was written before index manifests — delete it and rebuild the index")
        Empty
    }

  private def publish(f: FileSystem, root: String, m: Manifest): Unit = {
    val target = manifestPath(root, m.generation)
    val tmp = new Path(target.toString + ".tmp")
    val out = f.create(tmp, true)
    try out.write(encode(m).getBytes("UTF-8")) finally out.close()
    if (f.exists(target) || !f.rename(tmp, target))
      throw new IllegalStateException(
        s"index commit at $root: generation ${m.generation} already published " +
          "by another writer")
  }

  /** One generation of an index root, read-only: what a reader plans
    * every store of one query against.
    */
  final class Snapshot private[IndexMaintenance] (spark: SparkSession,
      val root: String, m: Manifest) {

    def generation: Long = m.generation

    /** The family's params pinned at build time (empty before a build). */
    def params: Map[String, Long] = m.params

    def stores: Seq[String] = m.stores.keys.toSeq.sorted

    def has(store: String): Boolean = m.stores.contains(store)

    /** The live data files of `store` with their sizes in bytes. */
    def files(store: String): Seq[(Path, Long)] =
      m.stores.get(store).toSeq.flatMap(_.segments.flatMap { seg =>
        seg.files.map { case (n, b) => (new Path(s"$root/$store/${seg.id}/$n"), b) }
      })

    /** The live data bytes of every store: what a read of the whole
      * generation scans, from the manifest alone.
      */
    def bytes: Long = m.stores.keys.toSeq.flatMap(files).map(_._2).sum

    /** This generation, read through `session` (the session a reader's
      * plans run on, [[graft.Execution.sessionFor]]).
      */
    def on(session: SparkSession): Snapshot = new Snapshot(session, root, m)

    /** The root's batch watermark: the last batch id of each streaming
      * query that landed here.
      */
    def applied: Map[String, Long] = m.applied

    /** `store` as `spark.read.schema(s).parquet(files: _*)` would read it,
      * minus that call's per-file existence checks and listing: the file
      * statuses come from the manifest, so a store of hundreds of segments
      * (past Spark's 32-path threshold) never starts a listing job.
      */
    def readOpt(store: String): Option[DataFrame] = m.stores.get(store).map { st =>
      val fs = fsOf(spark, root)
      val statuses = files(store).map { case (p, b) =>
        new FileStatus(b, false, 1, b, 0L, fs.makeQualified(p))
      }
      if (statuses.isEmpty) spark.createDataFrame(java.util.List.of[Row](), st.schema)
      else {
        val known = statuses.map(s => s.getPath -> Array(s)).toMap
        val index = new InMemoryFileIndex(spark, statuses.map(_.getPath), Map.empty,
          Some(st.schema), new FileStatusCache {
            override def getLeafFiles(path: Path) = known.get(path)
            override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
            override def invalidateAll(): Unit = ()
          })
        spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
          st.schema, None, new ParquetFileFormat, Map.empty)(spark))
      }
    }

    def read(store: String): DataFrame = readOpt(store).getOrElse(
      throw new IllegalStateException(
        s"no store '$store' in generation $generation of the index at $root"))

    /** `store` without the rows whose `idCol` is tombstoned. */
    def live(store: String, idCol: String): DataFrame = dropTombstoned(read(store), idCol)

    /** Drop `df` rows whose `idCol` is tombstoned — a broadcast anti-join
      * when the root has tombstones, the identity otherwise.
      */
    def dropTombstoned(df: DataFrame, idCol: String): DataFrame =
      readOpt(TombstoneStore) match {
        case Some(t) => df.join(broadcast(t), df(idCol) === t("id"), "left_anti")
        case None => df
      }

    /** Size-derived file count for a rewrite of `store`. */
    def targetFiles(store: String, targetFileBytes: Long): Int =
      math.max(1L, (files(store).map(_._2).sum + targetFileBytes - 1) / targetFileBytes).toInt
  }

  /** The newest committed generation of `root`: one listing of the root
    * and one manifest read; writes nothing. A root with no manifest reads
    * as the empty generation 0.
    */
  def snapshot(spark: SparkSession, root: String): Snapshot = {
    val f = fsOf(spark, root)
    // a writer deletes manifests two generations old; a listing that
    // named one just before it went is retried
    var m: Option[Manifest] = None
    while (m.isEmpty)
      m = try Some(newest(f, root, listRoot(f, root)))
        catch { case _: FileNotFoundException => None }
    new Snapshot(spark, root, m.get)
  }

  /** The root's generation — 0 before any leased mutation completes, then
    * +1 per completed mutation.
    */
  def generation(spark: SparkSession, root: String): Long =
    snapshot(spark, root).generation

  /** One mutation of an index root. Reads go through [[snapshot]] (the
    * generation the lease started from); every write lands in a new
    * segment and reaches readers only when the lease commits. Safe to
    * write from several threads at once (paired stores write in parallel).
    */
  final class Tx private[IndexMaintenance] (spark: SparkSession, root: String,
      base: Manifest, writerId: String) {

    val snapshot: Snapshot = new Snapshot(spark, root, base)
    private val generation = base.generation + 1
    private val written = new AtomicInteger
    private var stores = base.stores
    private var pinned = base.params

    def params: Map[String, Long] = synchronized(pinned)

    def params(p: Map[String, Long]): Unit = synchronized { pinned = p }

    /** Add `df` to `store` as one more segment. */
    def append(store: String, df: DataFrame): Unit = {
      val seg = write(store, df)
      update(store, df)(st => st.copy(segments = st.segments :+ seg))
    }

    /** Make `df` the whole of `store` (a build or a compaction). */
    def replace(store: String, df: DataFrame): Unit = {
      val seg = write(store, df)
      update(store, df)(_ => Store(readSchema(df), Seq(seg)))
    }

    def drop(store: String): Unit = synchronized { stores -= store }

    private def write(store: String, df: DataFrame): Segment = {
      val id = s"g$generation-$writerId-${written.incrementAndGet()}"
      val dir = new Path(s"$root/$store/$id")
      df.write.parquet(dir.toString)
      val files = fsOf(spark, root).listStatus(dir).toSeq
        .filterNot(s => hidden(s.getPath.getName))
        .map(s => s.getPath.getName -> s.getLen).sortBy(_._1)
      Segment(id, files)
    }

    private def update(store: String, df: DataFrame)(f: Store => Store): Unit =
      synchronized {
        stores += store -> f(stores.getOrElse(store, Store(readSchema(df), Nil)))
      }

    private[IndexMaintenance] def commit(batch: Option[Batch]): Unit = synchronized {
      publish(fsOf(spark, root), root, Manifest(generation, writerId, pinned,
        base.applied ++ batch.map(b => b.query -> b.id), stores))
    }
  }

  /** The schema a parquet read of `df`'s files reports: every field,
    * element and value nullable.
    */
  private def readSchema(df: DataFrame): StructType = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
      case other => other
    }
    nullable(df.schema).asInstanceOf[StructType]
  }

  /** Open the mutation under the lease: publish the empty generation 0 on
    * a fresh root, then delete every segment that neither the current nor
    * the previous manifest names, every older manifest and every tmp
    * manifest.
    */
  private def begin(spark: SparkSession, root: String, writerId: String): Tx = {
    val f = fsOf(spark, root)
    val listing = listRoot(f, root)
    val current = newest(f, root, listing)
    val gens = generations(listing)
    if (gens.isEmpty) publish(f, root, Empty)
    val previous = gens.dropRight(1).lastOption.map(g => decode(readText(f, manifestPath(root, g))))
    val kept = (current +: previous.toSeq).flatMap(_.stores.toSeq)
      .groupMapReduce(_._1)(_._2.segments.map(_.id).toSet)(_ ++ _)
    listing.foreach { s =>
      val name = s.getPath.getName
      name match {
        case ManifestName(g) if g.toLong < gens.dropRight(1).lastOption.getOrElse(0L) =>
          f.delete(s.getPath, false)
        case _ if name.startsWith(ManifestPrefix) && name.endsWith(".tmp") =>
          f.delete(s.getPath, false)
        case _ if s.isDirectory && !hidden(name) => kept.get(name) match {
          case None => f.delete(s.getPath, true)
          case Some(ids) => f.listStatus(s.getPath).foreach { seg =>
            if (!ids(seg.getPath.getName)) f.delete(seg.getPath, true)
          }
        }
        case _ =>
      }
    }
    new Tx(spark, root, current, writerId)
  }

  /** Run one mutation of the index at `root` under its writer lease and
    * commit it by publishing the next manifest. Every mutating entry
    * point of the index family (build/append/retract/compact in
    * [[Retrieval]], [[Decontaminate]], [[CorpusCompare]],
    * [[IncrementalDedup]], [[IncrementalAnn]], [[IvfIndex]], and the
    * compactions below) runs its body here. A body that throws commits
    * nothing. The body runs in a [[Staging.scoped]] scope of its own: the
    * frames it stages are released once its writes are done, whether or
    * not the caller has a scope open.
    *
    * With a `batch` (the streaming ingests' appends), the mutation is
    * guarded by the root's watermark: a batch id at or below the query's
    * `applied` entry has already landed here, so the body is skipped and
    * nothing commits; otherwise the committed manifest records the id.
    */
  def withWriterLease(spark: SparkSession, root: String,
      leaseMs: Long = 10 * 60 * 1000L, batch: Option[Batch] = None)(
      body: Tx => Unit): Unit = {
    val writerId = java.util.UUID.randomUUID().toString.take(8)
    acquireLease(spark, root, writerId, leaseMs)
    try {
      val tx = begin(spark, root, writerId)
      if (!batch.exists(b => tx.snapshot.applied.get(b.query).exists(b.id <= _))) {
        Staging.scoped(body(tx))
        tx.commit(batch)
      }
    } finally releaseLease(spark, root, writerId)
  }

  /** Run N INDEPENDENT writes concurrently and wait for all of them — the
    * guide's overlap-independent-jobs rule (§2.6): the paired stores of
    * one transaction (bands‖shingles, sigs‖vecs, postings‖ptotals) and
    * the ingest's standing-index families (each its own root under its
    * own lease). Their order carries no crash-consistency meaning — a
    * transaction commits all of its segments at once — so serializing
    * them only sums job-scheduling and file-commit latencies. Concurrent
    * first-touch of a shared staged frame is safe: the block manager's
    * per-block write lock makes the second job's task wait for, then
    * read, the first's cached block. The first thunk runs on the caller's
    * thread (keeps its thread-local job group/description); every failure
    * is awaited before the first one propagates (never abandons an
    * in-flight write).
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
    * that stops the small-files growth (one segment per micro-batch,
    * forever, without it). Two triggers, either sufficient:
    *
    *   - `everyBatches > 0`: compact on every Nth batch id ((id+1) % N
    *     == 0) — deterministic under replay, so a re-run triggering
    *     batch just re-compacts (idempotent: same logical rows, and the
    *     root's watermark keeps the replayed appends out);
    *   - `fileThreshold > 0`: compact a store family whose probe store
    *     has accumulated more than this many data files — the
    *     [[indexStats]] backlog signal, one manifest read per batch.
    *
    * Disabled (the default) preserves the manual-maintenance contract.
    */
  final case class AutoCompactPolicy(everyBatches: Int = 0,
      fileThreshold: Int = 0, targetFileBytes: Long = 128L << 20) {
    /** Whether batch `batchId` should compact the family whose probe
      * store is `probeStore` at `root`: the store has data files, and the
      * batch cadence fires or the backlog is past the threshold.
      */
    private[graft] def due(spark: SparkSession, root: String, probeStore: String,
        batchId: Long): Boolean = (everyBatches > 0 || fileThreshold > 0) && {
      val files = storeDataFiles(spark, root, probeStore)
      files > 0 && ((everyBatches > 0 && (batchId + 1) % everyBatches == 0) ||
        (fileThreshold > 0 && files > fileThreshold))
    }
  }

  /** Data-file count of one store in the root's current generation; 0
    * when the store does not exist. The backlog probe for
    * [[AutoCompactPolicy.fileThreshold]] and the `files` column of
    * [[indexStats]].
    */
  def storeDataFiles(spark: SparkSession, root: String, store: String): Long =
    snapshot(spark, root).files(store).size.toLong

  // ---- observability ---------------------------------------------------

  /** One frame describing every store of an index root's current
    * generation — the health surface a maintenance scheduler, pager, or
    * auto-compaction policy thresholds on. One row per store (including
    * `tombstones` when present), plus one `params` row carrying the
    * family's pinned params, with the generation repeated on every row:
    *
    *   - `files` / `bytes`: live data files and their total size — the
    *     small-files backlog signal for append stores;
    *   - `target_files`: what a compaction at `targetFileBytes` would
    *     rewrite the store to; `files` far above it = compact now;
    *   - `rows`: parquet row count (footer-derived — no data scan);
    *   - `params`: the params rendered as JSON on the `params` row, null
    *     elsewhere.
    *
    * Read-only — takes no lease and reads one snapshot.
    */
  def indexStats(spark: SparkSession, root: String,
      targetFileBytes: Long = 128L << 20): DataFrame = {
    import spark.implicits._
    val snap = snapshot(spark, root)
    val stores = snap.stores.map { st =>
      val files = snap.files(st)
      (st, files.size.toLong, files.map(_._2).sum, snap.read(st).count(),
        snap.targetFiles(st, targetFileBytes).toLong, null: String, snap.generation)
    }
    val params = Option.when(snap.params.nonEmpty) {
      val o = json.createObjectNode()
      snap.params.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
      ("params", 0L, 0L, 1L, 0L, json.writeValueAsString(o), snap.generation)
    }
    (stores ++ params).sortBy(_._1).toDF("store", "files", "bytes", "rows",
      "target_files", "params", "generation")
  }

  /** RETRACTION (takedown) support shared by every persisted index — the
    * production "remove these documents from everything" story (copyright
    * takedown, PII discovery, opt-out) at 100 TB, where rebuilding an
    * index to drop 0.01% of its rows is not an option:
    *
    *   - [[addTombstones]] appends the retracted ids to a `tombstones`
    *     store of the root — one small segment, no touch of the data
    *     stores;
    *   - readers drop tombstoned rows with [[Snapshot.live]] — a
    *     BROADCAST anti-join (a takedown list is orders of magnitude
    *     smaller than the corpus: millions of ids = tens of MB; a list
    *     too large to broadcast should be applied as a rebuild instead);
    *   - the index's `compact*` pass physically drops tombstoned rows
    *     while rewriting (the vacuum) and drops the tombstone store in the
    *     same commit — retraction cost is thereby amortized into the
    *     compaction the lifecycle already pays.
    *
    * Tombstone appends are at-least-once (duplicate id rows are harmless —
    * the filter is an anti-join). Contract: an id is retracted at most
    * once and never re-appended afterwards — the same stated-not-checked
    * id-space discipline as the append disjointness contract. A REBUILD
    * (any build entry point) starts a new id space: it drops the
    * tombstone store (a stale tombstone would silently filter fresh rows
    * the new build's stats count — the postings ptotals would then
    * disagree with df/candidates on every query), and thereby RESETS the
    * retract-at-most-once contract.
    */
  val TombstoneStore = "tombstones"

  /** Append retraction ids (any single-column frame; the column is
    * renamed `id` in the store).
    */
  def addTombstones(tx: Tx, ids: DataFrame): Unit = {
    require(ids.columns.length == 1,
      s"tombstone frame must have exactly one id column, got " +
        ids.columns.mkString("(", ", ", ")"))
    tx.append(TombstoneStore,
      ids.select(col(ids.columns.head).as("id")).distinct().coalesce(1))
  }

  /** Compact an [[IncrementalDedup]] index: `bands` clusters on the band
    * join key, `shingles` on id (one row per doc — replayed appends drop
    * here).
    */
  def compactDedupIndex(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Unit =
    compactStores(spark, path, targetFileBytes,
      ("bands", "band", Seq("band", "band_sig", "id")), ("shingles", "id", Seq("id")))

  /** Compact an [[IncrementalAnn]] index: `sigs` clusters on the signature
    * (bucket keys are its low bits — co-located at any banding width),
    * `vecs` on id.
    */
  def compactAnnIndex(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Unit =
    compactStores(spark, path, targetFileBytes,
      ("sigs", "sig", Seq("tbl", "sig", "id")), ("vecs", "id", Seq("id")))

  /** Rewrite each (store, cluster column, key columns) store in one
    * commit: `ceil(bytes/targetFileBytes)` files clustered on the cluster
    * column and sorted by the key columns, rows repeating a key dropped,
    * tombstoned ids (column `id`) physically vacuumed and the tombstones
    * retired.
    */
  private def compactStores(spark: SparkSession, path: String, targetFileBytes: Long,
      stores: (String, String, Seq[String])*): Unit = withWriterLease(spark, path) { tx =>
    stores.foreach { case (store, cluster, keys) =>
      tx.replace(store, tx.snapshot.live(store, "id")
        .dropDuplicates(keys)
        .repartition(tx.snapshot.targetFiles(store, targetFileBytes), col(cluster))
        .sortWithinPartitions(keys.map(col): _*))
    }
    tx.drop(TombstoneStore)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionScratch.rmTree
import graft.operators.IndexMaintenance
import graft.sources.Etl

/** Golden round-trip tests for the ETL write commands (upstream
  * `tweak.etl`): every command is a distributed rewrite + atomic
  * directory swap, and the post-state must read back exactly.
  */
class EtlSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll with StagingScope {

  lazy val spark = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"

  private val scratch = scala.collection.mutable.ListBuffer[String]()

  private def freshEtl(): Etl = {
    val work = java.nio.file.Files.createTempDirectory("graft_etl_spec_").toString
    scratch += work
    val etl = new Etl(spark, work)
    etl.copy("region", spark.read.parquet(s"$dir/region.parquet")
      .select(col("r_regionkey"), col("r_name"), lit("orig").as("r_comment")))
    etl
  }

  override def afterAll(): Unit = scratch.foreach(rmTree)

  test("copy + read round-trips exactly") {
    val etl = freshEtl()
    val orig = spark.read.parquet(s"$dir/region.parquet")
      .select(col("r_regionkey"), col("r_name"), lit("orig").as("r_comment"))
      .collect().map(_.toSeq).toSet
    assert(etl.read("region").collect().map(_.toSeq).toSet == orig)
  }

  test("insert appends aligned rows; unknown/missing columns are rejected") {
    import spark.implicits._
    val etl = freshEtl()
    etl.insert("region", Seq((99, "NEW", "c")).toDF("r_regionkey", "r_name", "r_comment"))
    assert(etl.read("region").count() == 6)
    assert(etl.read("region").filter(col("r_regionkey") === 99).count() == 1)
    intercept[IllegalArgumentException] {
      etl.insert("region", Seq((1, "x")).toDF("r_regionkey", "bogus"))
    }
    intercept[IllegalArgumentException] {
      etl.insert("region", Seq(1).toDF("r_regionkey")) // missing columns
    }
  }

  test("update rewrites only matching rows and only assigned columns") {
    val etl = freshEtl()
    val before = etl.read("region").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    etl.update("region", col("r_regionkey") === 2, Map("r_comment" -> lit("patched")))
    val after = etl.read("region").collect()
    assert(after.filter(_.getInt(0) == 2).forall(_.getString(2) == "patched"))
    assert(after.filter(_.getInt(0) != 2).forall(r => r.getString(2) != "patched"))
    // names untouched
    assert(after.map(r => r.getInt(0) -> r.getString(1)).toMap == before)
  }

  test("delete drops matching rows only") {
    val etl = freshEtl()
    etl.delete("region", col("r_regionkey") >= 3)
    val keys = etl.read("region").collect().map(_.getInt(0)).toSet
    assert(keys == Set(0, 1, 2))
  }

  test("merge replaces matched keys and appends new ones") {
    import spark.implicits._
    val etl = freshEtl()
    etl.merge("region",
      Seq((0, "REPLACED", "m"), (77, "APPENDED", "m"))
        .toDF("r_regionkey", "r_name", "r_comment"),
      Seq("r_regionkey"))
    val rows = etl.read("region").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows(0) == "REPLACED")
    assert(rows(77) == "APPENDED")
    assert(rows.size == 6)
  }

  test("a failed swap never leaves a half-written table visible") {
    // the shadow write happens BEFORE the live dir is touched: force a
    // write failure (schema mismatch passes alignment but the plan throws
    // at execution) and confirm the table still reads its old state
    val etl = freshEtl()
    val n = etl.read("region").count()
    intercept[Exception] {
      etl.update("region", col("r_regionkey") === 0,
        Map("r_regionkey" -> expr("raise_error('boom')")))
    }
    assert(etl.read("region").count() == n)
  }

  // ---- crash states: construct every intermediate commit state by hand,
  // prove read() resolves it to exactly the old or the new generation
  // without writing, and that the next commit heals it.

  import java.nio.file.{Files, Paths, Path => JPath}
  import scala.jdk.CollectionConverters._

  private def names(etl: Etl) =
    etl.read("region").collect().map(_.getString(1)).toSet
  private def oldNames(etl: Etl) = names(etl)

  /** Every path under the working dir, relative to it. */
  private def listing(etl: Etl): Seq[String] = {
    val root = Paths.get(etl.workDir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.map(root.relativize(_).toString).toSeq.sorted
    finally walk.close()
  }

  /** `names(etl)`, asserting the read left the working dir unchanged. */
  private def namesWithoutWriting(etl: Etl): Set[String] = {
    val before = listing(etl)
    val read = names(etl)
    assert(listing(etl) == before, "a read changed the working dir")
    read
  }

  private def insertRow(etl: Etl, key: Int, name: String): Unit = {
    import spark.implicits._
    etl.insert("region", Seq((key, name, "c")).toDF("r_regionkey", "r_name", "r_comment"))
  }

  /** Commit one more row ("X"): the commit heals whatever a crash left, so
    * afterwards no marker, shadow, backup or lease remains. Returns the
    * names read after it.
    */
  private def commitHeals(etl: Etl): Set[String] = {
    insertRow(etl, 99, "X")
    val left = new java.io.File(etl.workDir).list().toList
      .filter(n => n.startsWith("_txn_commit") || n.endsWith(".swap") ||
        n.endsWith(".stage") || n.endsWith(".bak") || n == IndexMaintenance.LockFile).toList
    assert(left.isEmpty, s"the commit left crash debris: $left")
    names(etl)
  }

  private def genOf(etl: Etl): String =
    new String(Files.readAllBytes(Paths.get(etl.workDir, "_txn_gen")), "UTF-8")
      .trim.split("\\s+").head

  /** Write a complete, valid NEW generation into region.parquet.swap. */
  private def stageShadow(etl: Etl): Unit =
    etl.read("region").withColumn("r_name", concat(lit("NEW_"), col("r_name")))
      .write.mode("overwrite").parquet(s"${etl.workDir}/region.parquet.swap")

  private def marker(etl: Etl): JPath = Paths.get(etl.workDir, "_txn_commit")
  private def publishMarker(etl: Etl): Unit =
    // protocol format: "<writerId> <generation>" header, then staged names
    Files.write(marker(etl), "deadcafe 2\nregion".getBytes("UTF-8"))
  private def move(etl: Etl, from: String, to: String): Unit =
    Files.move(Paths.get(etl.workDir, from), Paths.get(etl.workDir, to))

  test("crash before commit point (stray .swap, no marker) rolls BACK") {
    val etl = freshEtl()
    val old = oldNames(etl)
    stageShadow(etl)
    assert(namesWithoutWriting(etl) == old) // reads ignore the uncommitted shadow
    // the next commit's recovery deletes the stale shadow
    assert(commitHeals(etl) == old + "X")
  }

  test("crash after commit point, before any rename, rolls FORWARD") {
    val etl = freshEtl()
    val old = oldNames(etl)
    stageShadow(etl)
    publishMarker(etl)
    assert(namesWithoutWriting(etl) == old.map("NEW_" + _))
    assert(Files.exists(marker(etl)))
    assert(commitHeals(etl) == old.map("NEW_" + _) + "X")
  }

  test("crash between the two renames (live gone, .swap + .bak) rolls FORWARD") {
    val etl = freshEtl()
    val old = oldNames(etl)
    stageShadow(etl)
    publishMarker(etl)
    move(etl, "region.parquet", "region.parquet.bak")
    assert(namesWithoutWriting(etl) == old.map("NEW_" + _))
    assert(commitHeals(etl) == old.map("NEW_" + _) + "X")
  }

  test("crash after the swap, before .bak cleanup, completes FORWARD") {
    val etl = freshEtl()
    val old = oldNames(etl)
    stageShadow(etl)
    publishMarker(etl)
    move(etl, "region.parquet", "region.parquet.bak")
    move(etl, "region.parquet.swap", "region.parquet")
    assert(namesWithoutWriting(etl) == old.map("NEW_" + _))
    assert(commitHeals(etl) == old.map("NEW_" + _) + "X")
  }

  test("orphaned .bak with no live dir and no marker restores the table") {
    val etl = freshEtl()
    val old = oldNames(etl)
    move(etl, "region.parquet", "region.parquet.bak")
    assert(namesWithoutWriting(etl) == old)
    assert(commitHeals(etl) == old + "X")
  }

  test("a second writer and a reader leave a lease holder's staged shadow alone") {
    val etl = freshEtl()
    val old = oldNames(etl)
    // writer W holds the lease with its post-state fully staged
    IndexMaintenance.acquireLease(spark, etl.workDir, "w-holder", etl.leaseMs)
    stageShadow(etl)
    val shadow = Paths.get(etl.workDir, "region.parquet.swap")
    // a second transaction on the same dir (a second concurrent POST)
    val second = new Etl(spark, etl.workDir)
    val e = intercept[IllegalStateException](insertRow(second, 88, "SECOND"))
    assert(e.getMessage.contains("concurrent index writer holds the lease"), e.getMessage)
    assert(Files.exists(shadow), "a second writer deleted the lease holder's shadow")
    // a read of a missing table
    intercept[org.apache.spark.sql.AnalysisException](second.read("nation"))
    assert(Files.exists(shadow), "a read deleted the lease holder's shadow")
    // W reaches its commit point and releases: its commit is visible, and
    // the next commit finishes it
    publishMarker(etl)
    IndexMaintenance.releaseLease(spark, etl.workDir, "w-holder")
    assert(namesWithoutWriting(etl) == old.map("NEW_" + _))
    assert(commitHeals(etl) == old.map("NEW_" + _) + "X")
    assert(genOf(etl) == "3")
  }

  // ---- transact(): the reference's multi-command do() -------------------

  test("transact runs a 5-command script as one generation") {
    import spark.implicits._
    val etl = freshEtl()
    etl.transact { tx =>
      tx.copy("aux", Seq((1, "a")).toDF("k", "v"))
      tx.insert("region", Seq((99, "NEW", "c")).toDF("r_regionkey", "r_name", "r_comment"))
      tx.update("region", col("r_regionkey") === 99, Map("r_comment" -> lit("updated")))
      tx.delete("region", col("r_regionkey") === 3)
      tx.merge("region", Seq((0, "MERGED", "m")).toDF("r_regionkey", "r_name", "r_comment"),
        Seq("r_regionkey"))
    }
    val rows = etl.read("region").collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows(99) == ("NEW", "updated")) // later command saw the insert
    assert(!rows.contains(3))
    assert(rows(0) == ("MERGED", "m"))
    assert(etl.read("aux").count() == 1)
  }

  test("q_etl_pipeline returns 8 rows and leaves no temp working dir behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def residue() = tmp.listFiles().count(_.getName.startsWith("graft_etl_"))
    val r0 = residue()
    val df = SparkEntry.queries("q_etl_pipeline")(spark, dir)
    assert(df.count() == 8)
    assert(residue() == r0, "q_etl_pipeline must delete its temp working dir")
  }

  test("a mid-script abort leaves every table in its pre-transaction state") {
    import spark.implicits._
    val etl = freshEtl()
    val old = oldNames(etl)
    intercept[RuntimeException] {
      etl.transact { tx =>
        tx.insert("region", Seq((99, "NEW", "c")).toDF("r_regionkey", "r_name", "r_comment"))
        tx.delete("region", col("r_regionkey") === 0)
        sys.error("script dies on command 3 of 5")
      }
    }
    assert(names(etl) == old)
    assert(!Files.exists(Paths.get(etl.workDir, "region.parquet.swap")))
  }

  // ---- concurrent-writer detection ---------------------------------------

  test("a fresh foreign lease makes a second writer abort before staging") {
    import spark.implicits._
    val etl = freshEtl()
    val old = oldNames(etl)
    // a live concurrent writer holds the lease
    val lock = Paths.get(etl.workDir, IndexMaintenance.LockFile)
    Files.write(lock, "feedf00d".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      etl.insert("region", Seq((99, "NEW", "c")).toDF("r_regionkey", "r_name", "r_comment"))
    }
    assert(e.getMessage.contains("concurrent index writer holds the lease"), e.getMessage)
    // the abort happened before staging: no debris, state untouched,
    // and the foreign lease was NOT stolen
    assert(names(etl) == old)
    assert(!Files.exists(Paths.get(etl.workDir, "region.parquet.swap")))
    assert(Files.exists(lock))
    Files.delete(lock)
  }

  test("a stale lease from a crashed writer is reclaimed and released") {
    import spark.implicits._
    val etl = freshEtl()
    val lock = Paths.get(etl.workDir, IndexMaintenance.LockFile).toFile
    Files.write(lock.toPath, "deadbeef".getBytes("UTF-8"))
    assert(lock.setLastModified(System.currentTimeMillis() - etl.leaseMs - 1000))
    etl.insert("region", Seq((99, "NEW", "c")).toDF("r_regionkey", "r_name", "r_comment"))
    assert(etl.read("region").count() == 6)
    assert(!lock.exists(), "the lease must be released after the commit")
  }

  test("two interleaved writers: the one with the stale snapshot aborts loudly") {
    import spark.implicits._
    val a = freshEtl()
    val b = new Etl(spark, a.workDir)
    val e = intercept[IllegalStateException] {
      a.transact { tx =>
        tx.insert("region", Seq((99, "FROM_A", "c")).toDF("r_regionkey", "r_name", "r_comment"))
        // writer B commits INSIDE A's transaction window — A's snapshot
        // (generation 1, from freshEtl's copy) is now stale
        b.insert("region", Seq((88, "FROM_B", "c")).toDF("r_regionkey", "r_name", "r_comment"))
      }
    }
    assert(e.getMessage.contains("concurrent ETL writer committed generation"))
    // the directory holds exactly B's commit: A's write never landed,
    // nothing interleaved, and no debris or lease remains
    val keys = a.read("region").collect().map(_.getInt(0)).toSet
    assert(keys.contains(88) && !keys.contains(99))
    assert(!Files.exists(Paths.get(a.workDir, "region.parquet.swap")))
    assert(!Files.exists(Paths.get(a.workDir, IndexMaintenance.LockFile)))
    assert(!Files.exists(marker(a)))
  }

  test("generation survives a crash between swap and gen publish") {
    import spark.implicits._
    val etl = freshEtl() // commit #1 → generation 1
    val old = oldNames(etl)
    val stale = new Etl(spark, etl.workDir)
    val e = intercept[IllegalStateException] {
      stale.transact { tx =>
        tx.insert("region", Seq((77, "STALE", "c")).toDF("r_regionkey", "r_name", "r_comment"))
        // a commit of generation 2 crashes inside this transaction's
        // window, past its commit point: its marker carries generation 2
        stageShadow(etl)
        publishMarker(etl)
      }
    }
    // the writer whose snapshot predates the crashed commit still aborts,
    // and leaves the crashed commit's shadow for the next writer
    assert(e.getMessage.contains("concurrent ETL writer committed generation 2"), e.getMessage)
    assert(Files.exists(Paths.get(etl.workDir, "region.parquet.swap")))
    // reads resolve the crashed commit without finishing its bump
    assert(namesWithoutWriting(etl) == old.map("NEW_" + _))
    assert(genOf(etl) == "1")
    // a fresh transaction snapshots generation 2 from the marker (no false
    // conflict), heals under the lease and commits generation 3
    assert(commitHeals(etl) == old.map("NEW_" + _) + "X")
    assert(genOf(etl) == "3")
  }

  test("a failed shadow write inside transact leaves live tables untouched") {
    import spark.implicits._
    val etl = freshEtl()
    val old = oldNames(etl)
    intercept[Exception] {
      etl.transact { tx =>
        tx.insert("region", Seq((99, "NEW", "c")).toDF("r_regionkey", "r_name", "r_comment"))
        tx.update("region", col("r_regionkey") === 0,
          Map("r_comment" -> expr("raise_error('boom')")))
      }
    }
    assert(names(etl) == old)
  }
}

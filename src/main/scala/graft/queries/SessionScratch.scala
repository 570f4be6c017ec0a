package graft.queries

/** Session-scoped cached scratch dirs for STANDING inputs a production
  * pipeline amortizes across runs (arrival fixtures, persisted
  * incremental indexes): built on first use per JVM — never trusted
  * across processes (the test data may be regenerated between them) —
  * and deleted by a shutdown hook. Bench's repeated
  * invocations of a key thereby measure the OPERATOR (the increment,
  * the drain), not a rebuild of its one-time input. Contents must be a
  * pure function of the data dir, or repeated invocations would see
  * different inputs.
  */
private[graft] object SessionScratch {
  private val built = scala.collection.mutable.Set.empty[String]

  /** First 32 hex chars of SHA-256 over the dir path — appended to the
    * sanitized name (truncated to its LAST 100 chars so a deep fixture
    * path cannot push the single filename component past the common
    * 255-byte limit) so the scratch key stays INJECTIVE: the 128-bit
    * digest carries the injectivity once the readable prefix is lossy.
    */
  private def scratchDigest(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(16).map(b => f"${b & 0xff}%02x").mkString

  /** The scratch dir of `tag` for data dir `dir`: keyed on the sanitized
    * full path, not hashCode — a 32-bit collision between two data dirs
    * would silently share one scratch store.
    */
  def pathFor(tag: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(100) + "_" + scratchDigest(dir)

  def cached(tag: String, dir: String)(build: String => Unit): String = synchronized {
    val path = pathFor(tag, dir)
    if (!built(path)) {
      rmTree(path)
      new java.io.File(path).mkdirs()
      build(path)
      built += path
      Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(path)))
    }
    path
  }

  def rmTree(p: String): Unit =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      try {
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.delete(f))
        finally walk.close()
      } catch {
        case e: java.io.IOException =>
          System.err.println(s"[scratch] cleanup failed for $p: ${e.getMessage}")
      }
}

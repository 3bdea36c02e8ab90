package graft

/** Recursive deletion for staged temp directories — immediate
  * ([[deleteRecursively]]) or at JVM exit ([[cleanupAtExit]]).
  *
  * Exists because `File.deleteOnExit` only removes paths that existed at
  * registration time, and several staged artifacts keep writing after
  * staging (Derby transaction logs), so the walk-and-register pattern
  * leaked every short-lived Verify/Bench JVM's staging dirs into /tmp.
  */
object TempFiles {

  /** Delete `p` and everything under it (children before parents). */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(f => java.nio.file.Files.deleteIfExists(f))
    finally walk.close()
  }

  /** A new temp dir whose name starts with `prefix`, deleted at JVM exit. */
  def createDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    cleanupAtExit(p)
    p.toString
  }

  /** Register `p` for recursive deletion when the JVM exits (a shutdown
    * hook walking the tree AT exit time, so late-written files go too).
    */
  def cleanupAtExit(p: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try deleteRecursively(p)
      catch { case _: Throwable => () } // exit-time best effort
    }))
}

package graft.core

import java.nio.file.{Files, Path}

/** JVM-scoped temp-dir registry for query/harness scratch tables.
  *
  * Lifecycle-feature queries (k11+…k40) and the ScaleStep harness build
  * REAL manifest tables as inputs — at sf100-equivalent a single
  * ScaleStep repetition of k31/k32/k35 materializes tens of GB under
  * `java.io.tmpdir`, and `Files.createTempDirectory` alone never
  * reclaims it (a run observed 30+ GB of leaked `graft-k*` dirs starve
  * the shuffle-spill volume into SPILL_OUT_OF_MEMORY). Every caller
  * registers here instead: one shutdown hook deletes every registered
  * tree when the driver JVM exits, so repeated harness runs are
  * steady-state on disk. Deletion is deferred to exit (not eager)
  * because the returned DataFrames read the dirs lazily until the
  * harness materializes them. */
object TempDirs {

  private val registered =
    java.util.Collections.synchronizedList(new java.util.ArrayList[Path]())

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread("graft-tempdir-cleanup") {
      override def run(): Unit = {
        // snapshot under the list's own lock: a still-running background
        // thread registering a dir mid-iteration must not CME-abort the
        // cleanup (synchronizedList requires user-side sync to iterate)
        val snapshot = registered.synchronized(
          registered.toArray(new Array[Path](0)))
        snapshot.foreach(deleteTree)
      }
    })
  }

  private def deleteTree(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.toSeq.reverseIterator
            .foreach(f => try Files.deleteIfExists(f) catch { case _: Throwable => () })
        } finally walk.close()
      }
    } catch { case _: Throwable => () } // best-effort: exit must not fail

  /** A fresh temp directory deleted (recursively) at JVM exit. */
  def create(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    registered.add(p)
    p.toString
  }
}

package graft.sources

import java.nio.file.{Files, Path}

/** Per-JVM scratch-directory factory with shutdown cleanup.
  *
  * Several graded queries build an on-disk LAYOUT as part of the query
  * itself (manifest pruning, Bloom sidecars, compaction, partitioned
  * sinks — c24/c40/c38/c65/c17/c19/a13/a11/a27/a28/a29) and therefore
  * write full-table parquet/JSON/CSV/ORC copies per invocation. Raw
  * `Files.createTempDirectory` leaked one tree per run, so repeated
  * Verify/Bench invocations grew /tmp without bound. All scratch dirs
  * now hang off ONE per-JVM root that a shutdown hook deletes
  * recursively — a single `rm -rf` at exit instead of per-query
  * bookkeeping threaded through every registry entry.
  *
  * Deletion is best-effort (exceptions swallowed): the hook may race
  * Spark's own shutdown hooks (event-log flush, state-store close),
  * and a half-deleted scratch tree at process death is exactly as
  * gone as a fully-deleted one.
  */
object Tmp {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-run-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r.toFile)))
    r
  }

  /** A fresh scratch directory under the per-JVM root. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  private def deleteRecursively(f: java.io.File): Unit = {
    try {
      if (f.isDirectory) {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(deleteRecursively)
      }
      f.delete()
    } catch { case _: Throwable => () }
    ()
  }
}

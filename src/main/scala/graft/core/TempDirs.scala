package graft.core

import java.nio.file.{Files, Path}

/** Temp directories deleted recursively when the JVM exits — the one
  * place every scratch table, index, stream checkpoint and export of a
  * query (and every test's scratch directory) is made, so repeated
  * Bench/Verify/test runs do not fill the temp volume with one copy per
  * query per run. The directories outlive the call that made them: a
  * query's result frame, or a cached prepared table, may read from
  * them until the JVM ends. */
object TempDirs {

  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach { dir =>
        try Files.walk(dir)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p): Unit)
        catch { case _: java.io.IOException |
                     _: java.io.UncheckedIOException => () }
      }, "graft-temp-dir-cleanup"))

  /** A fresh directory under the JVM temp dir, named `<prefix><random>`,
    * deleted with its contents at JVM exit. */
  def create(prefix: String): Path = {
    cleanupHook
    val dir = Files.createTempDirectory(prefix)
    dirs.add(dir): Unit
    dir
  }
}

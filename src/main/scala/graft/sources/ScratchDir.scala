package graft.sources

import java.nio.file.{Files, Path}

/** Local scratch directories for intermediates the engine writes and
  * reads back (memoized tables, round-trip and bucketed-table fixtures,
  * shard layouts). Each one is deleted, recursively, when the JVM exits —
  * never during the session: frames read lazily from a directory still
  * need its files at any later action. */
object ScratchDir {

  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private lazy val cleanup = sys.addShutdownHook(dirs.forEach(d => deleteTree(d)))

  /** A fresh directory under `java.io.tmpdir` whose name starts with
    * `prefix`, deleted at JVM exit. */
  def create(prefix: String): String = {
    cleanup
    val dir = Files.createTempDirectory(prefix)
    dirs.add(dir)
    dir.toString
  }

  /** Deletes `root` and everything under it; a failure leaves the rest. */
  private[graft] def deleteTree(root: Path): Unit =
    try {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally paths.close()
    } catch { case _: java.io.IOException => () } // best effort at exit
}

package graft

import java.nio.file.{Files, Path}

/** Scratch directories for specs: one root per JVM under
  * `java.io.tmpdir`, deleted by a shutdown hook (the shape of
  * `graft.queries.ScratchCatalog`'s root), so a suite run leaves no
  * directory behind. */
object TestDirs {
  private lazy val root: Path = {
    val dir = Files.createTempDirectory("graft-test-")
    sys.addShutdownHook {
      try graft.catalog.Fs.deleteRecursively(dir)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    dir
  }

  /** A new directory under the JVM root, named `prefix` plus a random suffix. */
  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)
}

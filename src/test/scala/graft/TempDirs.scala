package graft

import java.nio.file.{Files, Path}

/** Temp dirs for specs that leave nothing behind in the temp folder. */
object TempDirs {
  /** Run `f` on a fresh temp dir named `prefix*`, then remove the dir and
    * everything under it, whether `f` returns or throws.
    */
  def withTempDir[A](prefix: String)(f: Path => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir) finally if (Files.exists(dir)) graft.sources.DeltaLog.deleteTmp(dir)
  }
}

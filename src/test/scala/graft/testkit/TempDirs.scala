package graft.testkit

import java.nio.file.Files

import graft.ops.LocalFiles

/** Scratch directories that do not outlive the test using them. */
object TempDirs {

  /** Run `body` on a fresh `java.io.tmpdir` directory named
    * `<prefix><random>`, and delete it recursively afterwards, also
    * when `body` throws. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix).toString
    try body(dir) finally LocalFiles.deleteRecursively(dir)
  }
}

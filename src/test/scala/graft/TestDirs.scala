package graft

import graft.sources.IndexStore
import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

import java.io.File
import java.nio.file.Files

/** Scratch directories for specs: each is created under the JVM temp
  * dir and deleted, with everything written into it, when the body
  * returns or throws — a spec run leaves nothing behind. */
object TestDirs {
  def withTempDir[A](prefix: String)(f: File => A): A = {
    val dir = Files.createTempDirectory(prefix).toFile
    try f(dir) finally FileUtils.deleteDirectory(dir)
  }

  /** `body` with [[IndexStore.root]] at `dir`; the prior root is
    * restored when `body` returns or throws. */
  def atIndexRoot[A](dir: File)(body: => A): A = {
    val prior = IndexStore.root
    IndexStore.root = dir.getPath
    try body finally IndexStore.root = prior
  }

  /** [[atIndexRoot]] at a new scratch directory, deleted after `body`. */
  def withIndexRoot[A](prefix: String)(body: => A): A =
    withTempDir(prefix)(atIndexRoot(_)(body))
}

/** [[TestDirs.withTempDir]] for a directory that every test of a suite
  * shares (a fixture built once, read by many tests): each
  * `suiteTempDir` is deleted after the suite's last test. */
trait SuiteTempDir extends BeforeAndAfterAll { this: Suite =>
  private var dirs = List.empty[File]

  protected def suiteTempDir(prefix: String): File = synchronized {
    val dir = Files.createTempDirectory(prefix).toFile
    dirs ::= dir
    dir
  }

  override protected def afterAll(): Unit =
    try dirs.foreach(FileUtils.deleteDirectory) finally super.afterAll()
}

package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.{BeforeAndAfterAll, Suite}

/** A spec's scratch directories: [[tempDir]] creates one under
  * `java.io.tmpdir` and the suite deletes every one it made once its
  * last test has run, so a test run leaves nothing behind in the
  * temp dir. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val made = new ConcurrentLinkedQueue[Path]

  /** A fresh empty directory, deleted after the suite. */
  def tempDir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    made.add(p)
    p.toString
  }

  /** Best effort: a directory that cannot be removed stays behind as
    * it did before, and does not fail the suite. */
  override def afterAll(): Unit =
    try made.forEach { root =>
      try {
        val s = Files.walk(root)
        try s.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
        finally s.close()
      } catch { case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
        System.err.println(s"[test] could not delete $root: $e") }
    } finally super.afterAll()
}

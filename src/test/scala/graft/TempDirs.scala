package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}

/** Temp trees for tests: [[tempDir]] creates a fresh directory under
  * `java.io.tmpdir`, and everything created that way during a test is
  * deleted, recursively, when the test ends — passed or failed. A test
  * that starts a streaming query over such a directory stops the query
  * in its own `finally`, which runs first. */
trait TempDirs extends TestSuiteMixin { this: TestSuite =>

  private val made = new ConcurrentLinkedQueue[Path]()

  /** A new empty directory named `<prefix><random>`, deleted after the
    * current test. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally {
      var d = made.poll()
      while (d != null) { TempDirs.deleteTree(d); d = made.poll() }
    }
}

object TempDirs {
  /** Deletes `root` and everything below it; missing paths are fine. A
    * tree that cannot be deleted is reported on stderr rather than
    * failing the test that made it. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      try {
        val walk = Files.walk(root)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      } catch {
        case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
          System.err.println(s"[TempDirs] could not delete $root: $e")
      }
    }
}

package graft

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.commons.io.FileUtils
import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}

/** Temp dirs a spec deletes itself: each [[tempDir]] is removed, with
  * everything under it, when the test that made it ends, pass or fail.
  */
trait TempDirs extends TestSuiteMixin { self: TestSuite =>
  private val made = mutable.ArrayBuffer.empty[Path]

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.synchronized(made += d)
    d
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally made.synchronized {
      made.foreach(d => FileUtils.deleteQuietly(d.toFile))
      made.clear()
    }
}

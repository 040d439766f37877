package graft

import org.apache.commons.io.FileUtils
import org.scalatest.{Outcome, TestSuite}
import java.io.File
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** Temp dirs that live as long as one test: `tempDir` creates one under
  * `java.io.tmpdir`, and every dir the test created is deleted when it
  * ends, passed or failed.
  */
trait TempDirs extends TestSuite {
  private val made = ArrayBuffer.empty[File]

  protected def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.synchronized(made += dir.toFile)
    dir
  }

  override protected def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally made.synchronized { made.foreach(FileUtils.deleteQuietly); made.clear() }
}

package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch directories for a suite: `tempDir` makes one under the JVM
  * temp dir, and every one made is deleted, with all it holds, after the
  * suite's last test.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = mutable.ArrayBuffer.empty[Path]

  def tempDir(prefix: String): String = made.synchronized {
    val dir = Files.createTempDirectory(prefix)
    made += dir
    dir.toString
  }

  override def afterAll(): Unit =
    try made.synchronized {
      made.filter(Files.exists(_)).foreach { dir =>
        val tree = Files.walk(dir)
        try tree.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(Files.deleteIfExists)
        finally tree.close()
      }
      made.clear()
    } finally super.afterAll()
}

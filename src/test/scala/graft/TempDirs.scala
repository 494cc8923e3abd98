package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs that live as long as the suite: every dir [[tempDir]]
  * makes is deleted recursively after the suite's last test, so a
  * test run leaves nothing behind under `java.io.tmpdir`. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(d => org.apache.spark.network.util.JavaUtils.deleteRecursively(d.toFile))
}

package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs (crawl stores, sink outputs) a suite creates, deleted once the
  * suite has run: a test run leaves no `graft-*` dirs in the temp dir.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A new empty dir `graft-<tag>…` under the temp dir, deleted after the suite. */
  protected def tempDir(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-$tag")
    made.add(p)
    p.toString
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach { p =>
      if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
    }
}

package graft

import graft.util.Scratch
import java.nio.file.Files
import org.scalatest.{BeforeAndAfterAll, Suite}
import scala.collection.mutable

/** Temp dirs a spec creates with [[tempDir]] are removed when its suite
  * ends, so repeated spec runs leave nothing behind in the temp dir. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = mutable.Buffer.empty[String]

  /** A fresh empty directory named `<prefix><random>`. */
  def tempDir(prefix: String): String = made.synchronized {
    val d = Files.createTempDirectory(prefix).toString
    made += d
    d
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.synchronized(made.foreach(Scratch.deleteRecursively))
}

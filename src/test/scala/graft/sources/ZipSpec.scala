package graft.sources

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files => JFiles, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** S5 extraction contract (utils/io.py:16-49): default/explicit target
  * dirs, returned file list, missing-archive error, zip-slip hardening. */
class ZipSpec extends AnyFunSuite with TempDirs {

  private def mkZip(dir: String, name: String, entries: (String, String)*): String = {
    val p = Paths.get(dir, name)
    val out = new ZipOutputStream(JFiles.newOutputStream(p))
    entries.foreach { case (entryName, content) =>
      out.putNextEntry(new ZipEntry(entryName))
      out.write(content.getBytes("UTF-8"))
      out.closeEntry()
    }
    out.close()
    p.toString
  }

  test("extracts all file entries next to the archive by default") {
    val dir = tempDir("zipspec")
    val zip = mkZip(dir, "20130401.export.CSV.zip",
      "20130401.export.CSV" -> "1\t2\t3", "readme.txt" -> "hi")
    val extracted = Zip.unzip(zip)
    assert(extracted.map(_.getFileName.toString).toSet ==
      Set("20130401.export.CSV", "readme.txt"))
    assert(new String(JFiles.readAllBytes(Paths.get(dir, "20130401.export.CSV"))) == "1\t2\t3")
  }

  test("explicit extraction dir is created; nested entries keep structure") {
    val dir = tempDir("zipspec")
    val zip = mkZip(dir, "a.zip", "sub/inner.tsv" -> "x")
    val out = Paths.get(dir, "out", "deeper").toString
    val extracted = Zip.unzip(zip, Some(out))
    assert(extracted.size == 1)
    assert(extracted.head.toString.startsWith(out))
    assert(new String(JFiles.readAllBytes(extracted.head)) == "x")
  }

  test("missing archive raises FileNotFoundException") {
    intercept[java.io.FileNotFoundException](Zip.unzip("/nonexistent/x.zip"))
  }

  test("zip-slip entries are rejected") {
    val dir = tempDir("zipspec")
    val zip = mkZip(dir, "evil.zip", "../escape.txt" -> "pwn")
    intercept[SecurityException](Zip.unzip(zip, Some(Paths.get(dir, "out").toString)))
    assert(!JFiles.exists(Paths.get(dir, "escape.txt")))
  }
}

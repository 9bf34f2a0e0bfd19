package graft.sources

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import java.io.{ByteArrayInputStream, IOException, InputStream}
import java.nio.file.{Files => JFiles, Paths}

/** S4 idempotency contract (scraper.py:217-276) with a mocked transport:
  * skip-existing, .tmp + atomic rename, bounded retry, failure cleanup. */
class DownloaderSpec extends AnyFunSuite with TempDirs {

  private def bytes(s: String): InputStream = new ByteArrayInputStream(s.getBytes("UTF-8"))

  test("success path: file lands under its final name, no .tmp residue") {
    val dir = tempDir("dlspec")
    val r = Downloader.download(
      Seq("http://host/a/20130401.export.CSV.zip"), dir, retries = 3,
      transport = _ => bytes("payload"), sleep = _ => ())
    assert(r == Downloader.Summary(1, 0, Nil))
    assert(new String(JFiles.readAllBytes(
      Paths.get(dir, "20130401.export.CSV.zip"))) == "payload")
    assert(!JFiles.exists(Paths.get(dir, "20130401.export.CSV.zip.tmp")))
  }

  test("existing file is skipped without touching the transport") {
    val dir = tempDir("dlspec")
    JFiles.write(Paths.get(dir, "x.zip"), "already".getBytes)
    var calls = 0
    val r = Downloader.download(Seq("http://h/x.zip"), dir, retries = 3,
      transport = _ => { calls += 1; bytes("new") }, sleep = _ => ())
    assert(r == Downloader.Summary(0, 1, Nil))
    assert(calls == 0)
    assert(new String(JFiles.readAllBytes(Paths.get(dir, "x.zip"))) == "already")
  }

  test("transient failures retry up to the bound, then succeed") {
    val dir = tempDir("dlspec")
    var calls = 0
    var slept = 0
    val r = Downloader.download(Seq("http://h/y.zip"), dir, retries = 3,
      transport = _ => {
        calls += 1
        if (calls < 3) throw new IOException("connection reset")
        bytes("third time lucky")
      },
      sleep = _ => slept += 1)
    assert(r == Downloader.Summary(1, 0, Nil))
    assert(calls == 3 && slept == 2)
    assert(new String(JFiles.readAllBytes(Paths.get(dir, "y.zip"))) == "third time lucky")
  }

  test("permanent failure: reported, .tmp cleaned, other files unaffected") {
    val dir = tempDir("dlspec")
    // stream that fails MID-copy: a torn .tmp must never survive as final
    def torn(): InputStream = new InputStream {
      private var n = 0
      override def read(): Int = {
        n += 1
        if (n > 4) throw new IOException("mid-stream cut") else 'x'
      }
    }
    val r = Downloader.download(
      Seq("http://h/bad.zip", "http://h/good.zip"), dir, retries = 2,
      transport = url => if (url.endsWith("bad.zip")) torn() else bytes("fine"),
      sleep = _ => ())
    assert(r == Downloader.Summary(1, 0, Seq("bad.zip")))
    assert(!JFiles.exists(Paths.get(dir, "bad.zip")))
    assert(!JFiles.exists(Paths.get(dir, "bad.zip.tmp")))
    assert(new String(JFiles.readAllBytes(Paths.get(dir, "good.zip"))) == "fine")
  }

  test("retries must be >= 1") {
    intercept[IllegalArgumentException](
      Downloader.download(Nil, tempDir("dlspec"), 0, _ => bytes("")))
  }
}

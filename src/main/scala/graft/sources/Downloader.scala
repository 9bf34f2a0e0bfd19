package graft.sources

import java.io.InputStream
import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}

/** Download engine implementing the reference's retry/idempotency contract
  * (SURVEY.md §2.1 S4; reference: scraping/scraper.py:217-276) without a
  * network dependency: the transport is an injected `url => InputStream`
  * (this build runs zero-egress; production plugs an HTTP client with the
  * reference's streaming GET, 30 s timeout). What IS implemented — and
  * unit-tested — is everything that makes downloads safe to re-run:
  *
  *   - skip-existing: a file already at its final path is never re-fetched
  *     (scraper.py:238-241);
  *   - staging: bytes stream into `<name>.tmp` in 8 KiB chunks and only an
  *     atomic rename publishes the final name, so readers never observe a
  *     torn file (scraper.py:243-253);
  *   - bounded retries with a pause between attempts; on final failure the
  *     stale `.tmp` is removed and the filename reported
  *     (scraper.py:255-262).
  */
object Downloader {

  /** Outcome counts, mirroring the reference's summary dict
    * (scraper.py:264-276). */
  final case class Summary(success: Int, skipped: Int, failed: Seq[String])

  /** @param urls        source URLs; filename = last path segment
    * @param downloadDir target directory (created if needed)
    * @param retries     attempts per file, >= 1
    * @param transport   opens the byte stream for a URL (throws on error)
    * @param sleep       inter-attempt pause hook (injectable for tests) */
  def download(urls: Seq[String], downloadDir: String, retries: Int,
               transport: String => InputStream,
               sleep: Long => Unit = Thread.sleep): Summary = {
    require(retries >= 1, s"retries must be >= 1, got $retries")
    val dir = Paths.get(downloadDir)
    JFiles.createDirectories(dir)
    var success = 0
    var skipped = 0
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]

    urls.foreach { url =>
      val filename = url.split('/').last
      val local = dir.resolve(filename)
      val tmp = dir.resolve(filename + ".tmp")
      if (JFiles.exists(local)) skipped += 1
      else {
        var attempt = 0
        var done = false
        while (!done && attempt < retries) {
          attempt += 1
          try {
            val in = transport(url)
            try {
              val out = JFiles.newOutputStream(tmp)
              try in.transferTo(out) finally out.close()
            } finally in.close()
            // atomic publish: the final name appears all-at-once or not at all
            try JFiles.move(tmp, local, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
            catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
              JFiles.move(tmp, local, StandardCopyOption.REPLACE_EXISTING)
            }
            success += 1
            done = true
          } catch {
            case scala.util.control.NonFatal(_) =>
              sleep(1000L)
              if (attempt == retries) {
                JFiles.deleteIfExists(tmp)
                failed += filename
              }
          }
        }
      }
    }
    Summary(success, skipped, failed.toSeq)
  }
}

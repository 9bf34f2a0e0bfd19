package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, FileInputStream, FileOutputStream}
import java.nio.file.{Files => JFiles, Path, Paths}
import java.util.zip.{ZipEntry, ZipInputStream}
import scala.collection.mutable.ArrayBuffer

/** ZIP extraction for the ingest stage (SURVEY.md §2.1 S5; reference:
  * utils/io.py:16-49). Driver-side by design: GDELT archives are small
  * (one TSV per daily zip, a handful for historical), and the expensive
  * part — parsing + converting the extracted TSVs — is the distributed
  * Spark scan in [[graft.etl.Convert]]. A `binaryFile`-based distributed
  * extractor would only move the unzip of each small file onto an
  * executor while serializing the bytes through the driver plan anyway.
  *
  * Divergence from the reference (documented hardening): entry names are
  * validated against path traversal ("zip-slip") — an entry resolving
  * outside the extraction directory raises instead of writing there. The
  * reference extracts blindly (io.py:35-37).
  */
object Zip {

  /** Extract all file entries of `zipPath` and return their paths.
    * Directory entries create directories; extraction goes to
    * `extractTo` (created if needed) or the archive's parent when None —
    * io.py:25-30 contract. Missing archive → FileNotFoundException. */
  def unzip(zipPath: String, extractTo: Option[String] = None): Seq[Path] = {
    val zip = Paths.get(zipPath)
    if (!JFiles.exists(zip))
      throw new java.io.FileNotFoundException(s"Zip file not found: $zip")
    val outDir = extractTo match {
      case Some(d) => val p = Paths.get(d); JFiles.createDirectories(p); p
      case None    => zip.toAbsolutePath.getParent
    }
    val outRoot = outDir.toAbsolutePath.normalize
    val extracted = ArrayBuffer.empty[Path]
    val in = new ZipInputStream(new BufferedInputStream(new FileInputStream(zip.toFile)))
    try {
      var entry: ZipEntry = in.getNextEntry
      while (entry != null) {
        val target = outRoot.resolve(entry.getName).normalize
        if (!target.startsWith(outRoot))
          throw new SecurityException(
            s"Zip entry escapes extraction dir (zip-slip): ${entry.getName}")
        if (entry.isDirectory) JFiles.createDirectories(target)
        else {
          Option(target.getParent).foreach(JFiles.createDirectories(_))
          val out = new BufferedOutputStream(new FileOutputStream(target.toFile))
          try in.transferTo(out) finally out.close()
          extracted += target
        }
        in.closeEntry()
        entry = in.getNextEntry
      }
    } finally in.close()
    extracted.toSeq
  }
}

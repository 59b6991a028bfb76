package graft.db

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared replacing-rename for staged files: swap a fully written
  * staging sibling onto its destination so concurrent readers observe
  * the OLD bytes or the NEW bytes — never absence, never a torn file.
  *
  * Why this exists (r13 lease fix; ARCHITECTURE "Marker atomicity"):
  * `FileSystem.rename` REFUSES an existing destination on the local FS
  * (measured 100% of overwrite renames returning false), which pushes
  * naive callers through a delete+rename whose absence window a
  * concurrent reader hit ~4% of the time. The swap therefore goes
  * through rename(2) (java.nio `ATOMIC_MOVE`) on `file://`, bypassing
  * the checksum layer (a stale `.crc` sibling from a previous
  * fs.create-era writer is removed so it cannot fail-verify the new
  * bytes), and `FileContext.rename(OVERWRITE)` elsewhere — which HDFS
  * executes atomically server-side. Only an FS with neither falls back
  * to delete+rename; callers whose readers cannot tolerate even that
  * window (the writer lease) add their own absence confirmation.
  *
  * Usable from executors: takes the FileSystem + Configuration
  * explicitly (no SparkSession), matching [[NavStore]]'s distribution
  * model.
  */
private[graft] object AtomicFiles {

  /** True when `fs` is a local filesystem where rename(2) applies. */
  def isPosix(fs: FileSystem): Boolean = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    scheme == "file" || scheme == "local"
  }

  /** Swap `tmp` (fully written, closed) onto `dest`, replacing any
    * existing file. On the no-atomic-rename fallback's double failure
    * the tmp file is deleted and an IOException thrown — `dest` may
    * then be ABSENT; callers for whom absence regresses a contract
    * must restore it from their in-memory bytes (see
    * `VectorDB.writeMarkerFile`).
    */
  def replacingRename(fs: FileSystem, conf: Configuration,
                      tmp: Path, dest: Path): Unit = {
    if (isPosix(fs)) {
      val t = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
      val d = java.nio.file.Paths.get(fs.makeQualified(dest).toUri.getPath)
      java.nio.file.Files.move(t, d,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.deleteIfExists(
        d.getParent.resolve(s".${d.getFileName}.crc"))
      // a tmp written through the hadoop ChecksumFileSystem left its own
      // sibling behind (rename(2) moves only the file) — sweep it
      java.nio.file.Files.deleteIfExists(
        t.getParent.resolve(s".${t.getFileName}.crc"))
      return
    }
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(dest),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case scala.util.control.NonFatal(_) =>
        fs.delete(dest, false)
        if (!fs.rename(tmp, dest)) {
          fs.delete(tmp, false)
          throw new java.io.IOException(
            s"atomic replacing rename failed for $dest")
        }
    }
  }
}

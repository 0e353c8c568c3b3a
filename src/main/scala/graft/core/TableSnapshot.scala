package graft.core

import java.io.FileNotFoundException

import scala.util.hashing.MurmurHash3

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** What one walk of a table location found. `hasData`: some file whose name
  * is not hidden (`_`/`.` prefix) sits anywhere under it, hidden directories
  * included — the reference's storage-existence answer
  * (`LanceTableUtil.hasStorageComponents:48-60`). `files` and `digest`: an
  * order-free fingerprint of the `(relative path, size, mtime)` of every
  * file, hidden ones too, so a new or removed file, a new partition
  * directory and an in-place rewrite that keeps the size all change it. */
final case class TableSnapshot(hasData: Boolean, files: Int, digest: Long)

object TableSnapshot {
  val Missing = TableSnapshot(hasData = false, 0, 0L)

  def isHidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** Depth-first walk of every file under `p` (`p` itself when it is a
    * file), one non-located `listStatus` per directory, in listing order.
    * `visit` returns false to stop the walk, and then so does `walk`. A
    * missing `p` throws [[FileNotFoundException]], like `listFiles`. */
  def walk(fs: FileSystem, p: Path)(visit: FileStatus => Boolean): Boolean =
    fs.listStatus(p).forall(st => if (st.isDirectory) walk(fs, st.getPath)(visit) else visit(st))

  /** Every non-hidden file under `p`; throws when `p` is missing. */
  def dataFiles(fs: FileSystem, p: Path): Seq[FileStatus] = {
    val buf = Seq.newBuilder[FileStatus]
    walk(fs, p) { f => if (!isHidden(f.getPath.getName)) buf += f; true }
    buf.result()
  }

  /** Has-data only: stops at the first data file; missing → false. */
  def hasData(fs: FileSystem, p: Path): Boolean =
    try !walk(fs, p)(f => isHidden(f.getPath.getName))
    catch { case _: FileNotFoundException => false }

  /** Walks the whole tree; a missing `p` is [[Missing]]. */
  def take(fs: FileSystem, p: Path): TableSnapshot = {
    val root = fs.makeQualified(p).toUri.getPath.stripSuffix("/")
    var (data, files, digest) = (false, 0, 0L)
    try walk(fs, p) { f =>
      val key = s"${f.getPath.toUri.getPath.stripPrefix(root)}\u0000${f.getLen}\u0000${f.getModificationTime}"
      digest += (MurmurHash3.stringHash(key, 1).toLong << 32) ^ (MurmurHash3.stringHash(key, 2) & 0xffffffffL)
      files += 1
      data ||= !isHidden(f.getPath.getName)
      true
    } catch { case _: FileNotFoundException => return Missing }
    TableSnapshot(data, files, digest)
  }
}

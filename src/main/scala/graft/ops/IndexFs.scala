package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-`FileSystem` control plane for the persisted index family.
  *
  * The index DATA plane (postings/centroids parquet) always rode Spark and
  * was therefore object-store-capable from day one; this module makes the
  * CONTROL plane — manifest read/write, staleness stat, atomic publish,
  * tombstone probes, recursive deletes, compaction swaps — go through the
  * same Hadoop `FileSystem` abstraction, so an index at `hdfs://…` or
  * `s3a://…` works end to end. (Previously this plumbing was
  * `java.nio.file` and silently local-only — the first wall a 100 TB
  * deployment hits, where the data lives in object storage. The reference
  * stores *locations* precisely so the data plane can live there:
  * `LanceTableUtil.java:48-60` probes through the dataset API, never the
  * local FS.)
  *
  * == Commit protocol, per FS class ==
  *
  *  - '''Rename-capable FS''' (`file://`, `hdfs://`, and any scheme not on
  *    the object-store list — the default): build into a unique staging
  *    dir next to the target and publish with one directory rename. The
  *    rename is atomic on these filesystems, so a concurrent reader sees
  *    the complete old index or the complete new one, never a mix, and a
  *    lost publish race is detected (the target already exists) and the
  *    loser's staging tree is discarded.
  *  - '''Object stores''' (`s3`, `s3a`, `s3n`, `gs`, `wasb`, `wasbs`,
  *    `abfs`, `abfss`, `oss`, `cos`, `swift`): directory rename is a
  *    non-atomic copy there, so staging+rename buys nothing. Instead the
  *    build writes its subtrees directly at the final location and PUTs
  *    the manifest '''last''' — a single-object write, atomic on every
  *    store. The manifest is the commit marker: [[AnnIndex.readManifest]]
  *    gates every reader and `None` means "no index", so a crashed or
  *    in-flight build (data without manifest) is simply invisible, and
  *    the next `ensure*` clears the residue and rebuilds. The trade,
  *    documented: a REBUILD at an existing location first removes the old
  *    manifest, so concurrent readers see "no index" during the build
  *    (an availability gap, never wrong rows), and concurrent *builders*
  *    at one location are not serialized — object-store deployments keep
  *    the standard single-writer-per-index discipline.
  *
  * All calls are driver-side and metadata-sized (stat, list, one small
  * properties file); the corpus-sized bytes always move through Spark.
  */
object IndexFs {

  /** Schemes where a directory rename is a non-atomic copy: publish via
    * the manifest-last commit marker instead of staging+rename. */
  private val ObjectStoreSchemes = Set(
    "s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss",
    "cos", "swift")

  /** The active session's Hadoop conf (so `fs.defaultFS`, credentials and
    * per-bucket settings all apply); a bare `Configuration` off-session. */
  def hadoopConf: Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  def resolve(location: String): (FileSystem, Path) = {
    val p = new Path(location)
    val fs = p.getFileSystem(hadoopConf) match {
      // unwrap the client-side-checksum decorator (file:// et al): the
      // control plane must not scatter `.crc` sidecars through index
      // trees, must list the same entries a plain directory stat sees
      // (the staleness fingerprint's contract), and must tolerate
      // manifests rewritten by other tooling — the raw FS is byte-for-
      // byte the old java.nio behavior; HDFS/object stores pass through
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    (fs, p)
  }

  /** True when `location`'s FS publishes atomically by rename (see the
    * commit protocol above). The `graft.indexfs.protocol=manifest-last`
    * system property forces the object-store path on any FS — the chaos
    * knob HadoopFsIndexSpec uses to drive the manifest-last commit
    * end-to-end without an object store in the environment. */
  def renamePublish(location: String): Boolean =
    if (sys.props.get("graft.indexfs.protocol").contains("manifest-last"))
      false
    else {
      val scheme = Option(new Path(location).toUri.getScheme)
        .getOrElse(Option(FileSystem.getDefaultUri(hadoopConf).getScheme)
          .getOrElse("file"))
      !ObjectStoreSchemes.contains(scheme.toLowerCase)
    }

  def exists(location: String): Boolean = {
    val (fs, p) = resolve(location)
    fs.exists(p)
  }

  def mkdirsParent(location: String): Unit = {
    val (fs, p) = resolve(location)
    Option(p.getParent).foreach(fs.mkdirs(_))
    ()
  }

  def deleteRecursively(location: String): Unit = {
    val (fs, p) = resolve(location)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** Child (name, size, mtime) triples of a file or directory — the
    * staleness fingerprint's input. A single file lists as itself. The
    * mtime is load-bearing: a source file rewritten IN PLACE with the
    * same name and byte count (or a partition subtree whose direct
    * children changed — directory entries list with size 0) is invisible
    * to (name, size) alone, so without it a routed query could read a
    * stale index (VERDICT r14). One listing RPC either way. */
  def listNamesSizes(location: String): Seq[(String, Long, Long)] = {
    val (fs, p) = resolve(location)
    val st = fs.getFileStatus(p)
    if (st.isDirectory)
      fs.listStatus(p).toSeq
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
    else Seq((st.getPath.getName, st.getLen, st.getModificationTime))
  }

  /** Every non-hidden data file under a file or directory tree, as URI
    * strings — the filestats append-delta diff input. Driver-bounded at
    * ≤ #source files; a missing location lists empty. */
  def listFilesRecursive(location: String): Seq[String] = {
    val (fs, p) = resolve(location)
    if (!fs.exists(p)) Seq.empty
    else {
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) Seq(st.getPath.toUri.toString)
      else graft.core.TableSnapshot.dataFiles(fs, p)
        .map(_.getPath.toUri.toString)
    }
  }

  /** Child (name, modification time) pairs of a directory — the vacuum's
    * age input. Empty when absent or a plain file. */
  def listNamesMtimes(location: String): Seq[(String, Long)] = {
    val (fs, p) = resolve(location)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) Seq.empty
    else fs.listStatus(p).toSeq
      .map(s => (s.getPath.getName, s.getModificationTime))
  }

  /** None when absent. */
  def readBytes(location: String): Option[Array[Byte]] = {
    val (fs, p) = resolve(location)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        Some(buf.toByteArray)
      } finally in.close()
    }
  }

  /** Overwrite-write of one small object — on object stores this single
    * PUT is the build's commit point. */
  def writeBytes(location: String, bytes: Array[Byte]): Unit = {
    val (fs, p) = resolve(location)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Properties codec over [[readBytes]]/[[writeBytes]]. */
  def readProperties(location: String): Option[java.util.Properties] =
    readBytes(location).map { bytes =>
      val props = new java.util.Properties()
      props.load(new ByteArrayInputStream(bytes))
      props
    }

  def writeProperties(location: String, props: java.util.Properties,
      comment: String): Unit = {
    val buf = new ByteArrayOutputStream()
    props.store(buf, comment)
    writeBytes(location, buf.toByteArray)
  }

  /** Move `src` to exactly `dst`, failing (false) when `dst` already
    * exists — the publish/swap primitive. Hadoop's `rename` has posix-mv
    * semantics on some FS (an existing dst DIRECTORY receives src as a
    * child), so a racing second publisher could otherwise nest its
    * staging tree inside the winner's index: the pre-check plus the
    * post-rename nesting probe turns that race into a clean loss — the
    * nested residue is deleted and false returned, the winner's tree
    * untouched. (Same-JVM and cross-process builder races both land
    * here; PropertySpec's publish-race law drives the same-JVM case.) */
  def renameInto(src: String, dst: String): Boolean = {
    val (fs, srcP) = resolve(src)
    val dstP = new Path(dst)
    if (fs.exists(dstP)) false
    else {
      val ok =
        try fs.rename(srcP, dstP)
        catch { case _: java.io.IOException => false }
      if (!ok) false
      else {
        // mv-into detection: our staging basename as a CHILD of dst means
        // another publisher created dst between the check and the rename
        val nested = new Path(dstP, srcP.getName)
        if (fs.exists(nested)) { fs.delete(nested, true); false }
        else true
      }
    }
  }

  /** [[renameInto]] that must succeed — compaction's swap legs, where a
    * failure is a real I/O error, not a race to lose gracefully. */
  def renameIntoOrThrow(src: String, dst: String): Unit =
    if (!renameInto(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")
}

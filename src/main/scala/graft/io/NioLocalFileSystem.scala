package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without a child process per written file.
  *
  * Without the native `libhadoop` (Spark's bundled Hadoop client ships
  * none), `RawLocalFileSystem.setPermission` runs `chmod` as a child
  * process, and every file and directory Hadoop creates is chmod-ed: one
  * Parquet write of a few outputs starts about a hundred processes.
  * [[NioRawLocalFileSystem]] sets the permission bits through
  * `java.nio.file` instead; everything else is Hadoop's own code. Checksum
  * files are written as by Hadoop's `LocalFileSystem`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {
  /** Hadoop confs that route `file:` through these classes, for both
    * `FileSystem` (writes, listings) and `FileContext` (streaming
    * checkpoints and state stores).
    */
  val HadoopConfs: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** [[HadoopConfs]] as Spark confs (`spark.hadoop.` prefix). */
  val SparkConfs: Map[String, String] =
    HadoopConfs.map { case (k, v) => s"spark.hadoop.$k" -> v }

  /** A fresh Hadoop conf with [[HadoopConfs]] set. Hadoop caches one
    * `FileSystem` per scheme and user whatever the conf, so code that
    * touches `file:` before a session exists must use this one.
    */
  def hadoopConf(): Configuration = {
    val conf = new Configuration()
    HadoopConfs.foreach { case (k, v) => conf.set(k, v) }
    conf
  }
}

/** `RawLocalFileSystem` with a fork-free `setPermission` and
  * `getFileLinkStatus`.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through `chmod(2)`, as Hadoop's native path sets
    * them. A mode with more bits (sticky, set-id) takes Hadoop's own path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // OWNER_READ .. OTHERS_EXECUTE are declared from bit 8 down to bit 0
      PosixFilePermission.values.foreach { b =>
        if ((mode & (1 << (8 - b.ordinal))) != 0) perms.add(b)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** Hadoop asks a `readlink` child process whether `f` is a link, handing
    * it `f.toString`. For a qualified path (every path `FileContext`
    * passes) that is a `file:/…` string, which never names a file, so the
    * answer is always "no link" and the result is `getFileStatus(f)`; this
    * returns that without the process. An unqualified path takes Hadoop's
    * own path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (f.toUri.getScheme != null) getFileStatus(f)
    else super.getFileLinkStatus(f)
}

/** `FileContext`'s `file:` binding over [[NioRawLocalFileSystem]], as
  * Hadoop's `RawLocalFs` binds `RawLocalFileSystem`.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Checksummed [[NioRawLocalFs]], as Hadoop's `LocalFs` (the default
  * `fs.AbstractFileSystem.file.impl`) wraps `RawLocalFs`.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

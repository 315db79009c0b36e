package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The `file:` filesystem graft sessions write checkpoints through:
  * Hadoop's local filesystem minus the child processes. Without native
  * libhadoop, `RawLocalFileSystem` forks `chmod` for every file it
  * creates and every directory it makes, and `readlink` for every
  * FileContext rename — several forks per offset-log, commit-log and
  * state-store file, on every micro-batch. [[Raw]] does both in-process
  * through java.nio; bytes, permission bits and `.crc` siblings are
  * unchanged, and other schemes (HDFS, object stores) are untouched. */
object LocalFs {

  class Raw extends RawLocalFileSystem {
    /** The nine rwx bits via NIO; a sticky bit, or a provider without
      * POSIX attributes, takes Hadoop's own path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        // the enum is declared in octal bit order, OWNER_READ (0400) first
        val bits = permission.toShort
        val perms = new java.util.HashSet[PosixFilePermission]()
        PosixFilePermission.values.foreach(q => if ((bits & (0x100 >> q.ordinal)) != 0) perms.add(q))
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }

    /** Only a symlink needs Hadoop's `readlink`; anything else is its
      * plain status (a missing path throws FileNotFoundException). */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** FileSystem API (`fs.file.impl`): checksummed, as Hadoop's LocalFileSystem. */
  class FileSystem extends org.apache.hadoop.fs.LocalFileSystem(new Raw)

  /** FileContext API (`fs.AbstractFileSystem.file.impl`), which Spark's
    * default checkpoint file manager uses: Hadoop's `LocalFs` over [[Raw]].
    * Hadoop constructs it reflectively with `(URI, Configuration)`. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))

  /** Hadoop's `RawLocalFs` (package-private constructors) over [[Raw]]. */
  private class RawFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** Hadoop keys naming the two implementations for the `file` scheme. */
  val confs: Seq[(String, String)] = Seq(
    "fs.AbstractFileSystem.file.impl" -> classOf[Fs].getName,
    "fs.file.impl" -> classOf[FileSystem].getName)

  /** Name graft's implementations for `file:` in this session's Hadoop
    * conf. `keepSet` leaves a key the session already sets (a caller's
    * own choice of implementation) as it is. */
  def install(spark: SparkSession, keepSet: Boolean = false): SparkSession = {
    confs.foreach { case (k, v) => if (!(keepSet && spark.conf.getOption(k).isDefined)) spark.conf.set(k, v) }
    spark
  }
}

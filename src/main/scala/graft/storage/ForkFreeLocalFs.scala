package graft.storage

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.{LocalConfigKeys, LocalFs}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's raw local filesystem with its two per-file process spawns
  * done in-process. Without libhadoop, `RawLocalFileSystem` forks
  * `chmod` to set the permission of every file and directory it creates,
  * and `getFileLinkStatus` forks `readlink` on every call (`FileContext`
  * calls it for both sides of every rename). Streaming checkpoints create
  * and rename several small files per micro-batch, so those forks set
  * the per-batch floor.
  *
  *  - `setPermission` sets the nine rwx bits through NIO. Modes with
  *    other bits (sticky, setuid, setgid), and file stores without POSIX
  *    attributes, go to Hadoop's implementation.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, which is what Hadoop returns when `readlink`
  *    prints nothing. Symlinks go to Hadoop's implementation. */
class ForkFreeLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission declares OWNER_READ .. OTHERS_EXECUTE, i.e.
      // mode bits 8 down to 0.
      PosixFilePermission.values.foreach { bit =>
        if ((mode & (1 << (8 - bit.ordinal))) != 0) perms.add(bit)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `AbstractFileSystem` view of [[ForkFreeLocalFileSystem]]: Hadoop's
  * `RawLocalFs` (whose constructor hard-wires `RawLocalFileSystem`) with
  * the same overrides. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The `file:` `AbstractFileSystem` graft installs: Hadoop's `LocalFs`
  * (a `ChecksumFs` over the raw local filesystem) over
  * [[ForkFreeRawLocalFs]]. `FileContext`, and so every Spark
  * `CheckpointFileManager` on a local path (state store, offsets and
  * commits logs, file-sink metadata log), resolves `file:` through
  * `fs.AbstractFileSystem.file.impl`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

object ForkFreeLocalFs {
  val ImplKey = "fs.AbstractFileSystem.file.impl"

  /** Points `file:` at [[ForkFreeLocalFs]] while the key still names
    * Hadoop's default; a configured replacement is left alone. */
  def install(conf: Configuration): Unit =
    if (conf.get(ImplKey) == classOf[LocalFs].getName)
      conf.set(ImplKey, classOf[ForkFreeLocalFs].getName)

  /** Installs into the SparkContext's Hadoop configuration, which every
    * `sessionState.newHadoopConf()` copies. A streaming query copies it
    * when it starts, so this must run before then. */
  def install(spark: SparkSession): Unit = install(spark.sparkContext.hadoopConfiguration)
}

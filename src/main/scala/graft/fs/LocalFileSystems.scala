package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * The `file:` filesystem classes every graft session runs on.
 *
 * Without the native `libhadoop`, Hadoop's `RawLocalFileSystem` forks a
 * `chmod` child process for every file and directory it creates
 * (`setPermission`) and a `readlink` child process for every link-status
 * probe (`getFileLinkStatus`, called by FileContext's rename — i.e. every
 * streaming checkpoint and state-store commit). Those forks are the fixed
 * per-file floor of every sink commit, quarantine append and micro-batch.
 * These classes do the same two things through `java.nio` in-process and
 * defer to Hadoop wherever `java.nio` cannot give the same answer: a
 * non-POSIX filesystem, a sticky bit, a real symlink. Everything else is
 * the stock class.
 *
 * A session installs [[settings]] through
 * [[graft.runtime.SessionDefaults.sparkConf]], which yields to a `file:`
 * implementation the deployment already sets; the user overrides it like
 * any other Spark setting
 * (`--conf spark.hadoop.fs.file.impl=org.apache.hadoop.fs.LocalFileSystem`).
 */
object LocalFileSystems {
  val settings: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** A warning when `FileSystem.get` hands out another `file:` class than
    * `hadoop` configures. Hadoop caches FileSystems by scheme and user, not
    * by Configuration, so an instance created before the session (as
    * spark-submit does in client mode when it resolves `file:` `--jars`/
    * `--files`) is what the session gets, with its per-file forks. */
  def cachedMismatch(hadoop: Configuration): Option[String] = {
    val actual = FileSystem.get(FsConstants.LOCAL_FS_URI, hadoop).getClass.getName
    Option(hadoop.get("fs.file.impl")).filter(_ != actual).map(configured =>
      s"fs.file.impl is $configured but the cached file: FileSystem is $actual " +
        "(created before this session); file: writes go through it")
  }
}

/** `RawLocalFileSystem` without the per-file `chmod`/`readlink` forks. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    // java.nio has no sticky bit: such modes keep Hadoop's chmod
    if (permission.getStickyBit)
      super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
          .map(_.SYMBOL).mkString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  /** A path that is not a symlink has the link status of its own status —
    * what Hadoop concludes too, after asking `readlink`. Symlinks (dangling
    * ones included) still take Hadoop's path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` (`fs.file.impl`) over [[NioRawLocalFileSystem]],
  * so `.crc` sidecars are written and verified as with `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext's raw `file:` filesystem over [[NioRawLocalFileSystem]]; a
  * mirror of `org.apache.hadoop.fs.local.RawLocalFs`, whose constructors are
  * package-private. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  // like RawLocalFs: the OS, not Hadoop, decides which names are valid
  override def isValidName(src: String): Boolean = true
}

/** The checksummed FileContext filesystem (`fs.AbstractFileSystem.file.impl`);
  * a mirror of `org.apache.hadoop.fs.local.LocalFs`. Spark's streaming
  * checkpoint manager and state store write through it. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}

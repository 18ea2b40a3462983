package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

/** Hadoop's local filesystem without the shell. Without `libhadoop`,
  * [[RawLocalFileSystem]] forks a `chmod` for every permission it sets
  * (each create and mkdir with a permission) and a `readlink` for every
  * link status (each FileContext rename, as the streaming offset and
  * commit logs and state-store files do). One ledger benchmark run (4
  * vCPU, local[4]) forked 1,152 `readlink` and 462 `chmod` this way.
  * Here both go through `java.nio`; a sticky bit (which `java.nio`
  * cannot set) and a real symlink still take Hadoop's own path.
  */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // the actions' own "rwx" symbols; not `permission.toString`, which
      // subclasses such as `FsCreateModes` override
      val bits = PosixFilePermissions.fromString(
        Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
    }

  /** A path that is not a symlink has its own status as its link status. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over the forkless raw one. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** The raw forkless filesystem as a FileContext filesystem, with the
  * overrides of Hadoop's `RawLocalFs` (whose constructor is not public).
  */
class ForklessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForklessRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(p: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: what Spark's streaming checkpoint
  * file manager writes through (FileContext), checksummed as Hadoop's
  * `LocalFs` is.
  */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessRawLocalFs(uri, conf))

object ForklessLocalFs {
  /** The Hadoop settings that route `file:` paths through these classes. */
  val HadoopConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForklessLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[ForklessLocalFs].getName)
}

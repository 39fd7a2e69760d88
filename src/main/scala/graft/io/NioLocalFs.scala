package graft.io

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its child processes.
  *
  * Without `libhadoop.so`, which stock Spark distributions do not ship,
  * `RawLocalFileSystem` starts a `chmod` process for every permission it
  * sets (each `create` and `mkdirs`) and a `readlink` process for every
  * link lookup (each `FileContext.rename`, so each streaming checkpoint
  * commit: ~30 ms for a file of a few hundred bytes). This class answers
  * both in-process through `java.nio`, with Hadoop's result:
  *  - `setPermission` sets the same nine bits. A sticky bit, which
  *    `java.nio` cannot express, goes to Hadoop's own path.
  *  - `getFileLinkStatus` and `getLinkTarget` read the link of the same
  *    `new File(f.toString)` that Hadoop hands to `readlink` (so a
  *    `file:`-qualified path is never a link, on either side) and build
  *    the same `FileStatus`. Hadoop's opt-in `stat`-based variant
  *    (`RawLocalFileSystem.useStatIfAvailable`, a test hook) is not
  *    followed.
  * Every other call is Hadoop's. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !Posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's `deprecatedGetFileLinkStatusInternal`, link read in-process. */
  private def linkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch {
      // a dangling link: its target does not exist
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

object NioRawLocalFileSystem {
  private val Posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `FileUtil.readLink` in-process: the link's target, trimmed as
    * Hadoop trims `readlink`'s output, or "" when `file` is not a
    * symbolic link or cannot be read. */
  private def readLink(file: File): String =
    try {
      val p = file.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim else ""
    } catch { case _: IOException | _: InvalidPathException => "" }

  /** The nine rwx bits of a permission short. `PosixFilePermission`
    * declares them from OWNER_READ (0400) down to OTHERS_EXECUTE (0001). */
  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) set.add(p))
    set
  }
}

/** `FileSystem.get`'s `file:` filesystem: Hadoop's checksummed
  * `LocalFileSystem` over [[NioRawLocalFileSystem]]. It replaces
  * whatever the JVM resolved for `file:`; with Spark's Hive jars that is
  * Hive's `ProxyLocalFileSystem`, whose `rename` onto an existing file
  * returns false where Hadoop's, and this one, replace the file. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext`'s `file:` filesystem, which Structured Streaming's
  * checkpoint logs write through: Hadoop's `LocalFs` (a `ChecksumFs`
  * over a raw delegate) over [[NioRawLocalFileSystem]]. Like `LocalFs`
  * it serves `file:///` whatever URI it is built for. Spark's
  * `CheckpointFileManager.isLocal` names Hadoop's classes and so reads
  * false for this one; nothing in Spark calls it. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs`, whose constructors are package-private, over
  * [[NioRawLocalFileSystem]]. */
private[io] class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object NioLocalFs {
  /** Classpath resource that names the two classes above for `file:`. */
  private val Resource = "graft/io/nio-local-fs.xml"

  /** Adds [[Resource]] to Hadoop's default configuration resources, once
    * per JVM, so every `Configuration` built with defaults (a
    * SparkContext's, a session's) resolves `file:` to the engine's
    * classes. Values set on a `Configuration` (`spark.hadoop.*`) are
    * overlays and still win. Nothing is installed when the process's own
    * defaults (a `core-site.xml`) already name classes for `file:`.
    * Returns whether the resource is installed. */
  def install(): Boolean = installed

  private lazy val installed: Boolean = {
    val own = namesOwnFileClasses(new Configuration())
    if (!own) Configuration.addDefaultResource(Resource)
    !own
  }

  /** Whether `conf` names `file:` classes other than Hadoop's defaults. */
  private[graft] def namesOwnFileClasses(conf: Configuration): Boolean =
    Option(conf.getTrimmed("fs.file.impl")).exists(_.nonEmpty) ||
      conf.getTrimmed("fs.AbstractFileSystem.file.impl") !=
        classOf[org.apache.hadoop.fs.local.LocalFs].getName
}

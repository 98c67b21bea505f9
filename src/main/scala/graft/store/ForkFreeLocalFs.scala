package graft.store

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, PosixFileAttributeView,
  PosixFilePermission, UserPrincipal}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its child processes. Without
  * libhadoop, the stock class runs `chmod` for every file and directory
  * it creates (`setPermission`), `readlink` on every
  * `getFileLinkStatus` (each checkpoint-log rename of the streaming
  * engine makes several), and `ls -ld` for a status whose permission,
  * owner or group is read. All three are answered here with `java.nio`,
  * with the stock answers; everything else — create, rename, `.crc`
  * files — is Hadoop's own code.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` without the process. The sticky bit, which `java.nio`
    * cannot set, and file stores without POSIX attributes take the
    * stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit ||
        Files.getFileAttributeView(file, classOf[PosixFileAttributeView]) == null)
      super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      // values() runs OWNER_READ (mode bit 8) … OTHERS_EXECUTE (bit 0)
      Files.setPosixFilePermissions(file, PosixFilePermission.values
        .filter(b => (mode >> (8 - b.ordinal) & 1) == 1).toSet.asJava)
    }
  }

  /** The stock status, whose permission, owner and group load on first
    * use — here from `java.nio`, there by running `ls -ld`, so every
    * caller that reads them (`listFiles`'s `LocatedFileStatus`,
    * `FileUtil.copy`) started a process per entry. A symlink answers
    * with its target's, as there. A missing path, and a file store
    * without POSIX attributes, take the stock path.
    */
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    if (!file.exists ||
        Files.getFileAttributeView(file.toPath, classOf[PosixFileAttributeView]) == null)
      super.getFileStatus(f)
    else new ForkFreeRawLocalFileSystem.NioStatus(file, getDefaultBlockSize(f),
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** The stock listing, whose entries are [[getFileStatus]]'s; a file
    * lists as its own status.
    */
  override def listStatus(f: Path): Array[FileStatus] = {
    val file = pathToFile(f)
    if (file.exists && !file.isDirectory) Array(getFileStatus(f))
    else super.listStatus(f)
  }

  /** The stock (deprecated-status) answer: `readlink` of
    * `new File(f.toString)` — so a scheme-qualified path never reads as
    * a link — then the file's status, re-labelled as a link to the
    * target when there is one, or a bare link status when the target is
    * missing.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target =
      try {
        val link = new File(f.toString).toPath
        if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString.trim else ""
      } catch { case _: IOException | _: InvalidPathException => "" }
    if (target.isEmpty) getFileStatus(f)
    else {
      val st =
        try {
          val fs = getFileStatus(f)
          new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
            fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
            fs.getGroup, new Path(target), f)
        } catch {
          case _: FileNotFoundException =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
              new Path(target), f)
        }
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
    }
  }
}

object ForkFreeRawLocalFileSystem {

  private def accessTime(file: File): Long =
    try Files.readAttributes(file.toPath, classOf[BasicFileAttributes]).lastAccessTime.toMillis
    catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $file does not exist") }

  /** The stock local status (`DeprecatedRawLocalFileStatus`), with the
    * lazy permission, owner and group read through `java.nio`.
    */
  private final class NioStatus(file: File, blockSize: Long, path: Path)
      extends FileStatus(file.length, file.isDirectory, 1, blockSize, file.lastModified,
        accessTime(file), null, null, null, path) {
    private var loaded = false

    private def load(): Unit = synchronized {
      if (!loaded) {
        val a =
          try Files.readAttributes(file.toPath, "unix:mode,owner,group")
          catch { case e: IOException =>
            throw new RuntimeException(s"Error while reading the permissions of $file", e) }
        setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
        loaded = true
      }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
  }
}

/** The `FileSystem` of `file:` (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {

  /** A rename never replaces an existing file, as in Hive's
    * `ProxyLocalFileSystem`, which hive-exec registers for `file:` and
    * which served it without this class. A POSIX rename would replace
    * it, and the rename commit protocol takes a failed rename onto an
    * existing file as "another writer won" (`RenamePrimitives.publish`).
    */
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** The `AbstractFileSystem` of `file:` (`fs.AbstractFileSystem.file.impl`),
  * which `FileContext` — the streaming checkpoint manager — uses:
  * Hadoop's `LocalFs` (a `ChecksumFs` over `RawLocalFs`), with
  * [[ForkFreeRawLocalFileSystem]] as the delegate.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
    // as org.apache.hadoop.fs.local.RawLocalFs
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults
    override def getServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })

object ForkFreeLocalFs {
  /** The files under `dir`, recursively, as `FileSystem.listFiles(dir,
    * true)` lists them, but from plain `listStatus` calls:
    * `listFiles` builds a `LocatedFileStatus` per entry, which looks up
    * block locations and reads the permission — on a stock local
    * filesystem, by running `ls -ld`.
    */
  def filesUnder(fs: FileSystem, dir: Path): Iterator[FileStatus] =
    fs.listStatus(dir).iterator.flatMap { st =>
      if (st.isDirectory) filesUnder(fs, st.getPath) else Iterator.single(st)
    }

  /** The session settings that make `file:` fork-free, for both of
    * Hadoop's filesystem APIs. `GraftSession.builder` sets them; a
    * caller's own `spark.hadoop.fs.file.impl` set later wins.
    */
  val sparkConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)
}

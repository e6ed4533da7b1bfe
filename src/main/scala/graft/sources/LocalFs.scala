package graft.sources

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystemException, Files}
import java.nio.file.attribute.{FileTime, GroupPrincipal, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FileUtil, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without a child process per file.
  *
  * Without libhadoop, the stock `RawLocalFileSystem` forks `chmod` for
  * every create and mkdir, `ls -ld` for every status whose permission,
  * owner or group is read, and `readlink` for every link status — and
  * FileContext's rename reads two link statuses. A versioned commit
  * touches tens of files and a streaming micro-batch commits offset,
  * commit and state-store files through FileContext, so at ~2.7 ms a
  * fork the plumbing costs more than small queries do.
  *
  * [[LocalFs.Raw]] keeps the stock semantics and replaces the forks
  * with in-process NIO: permissions are set with
  * `Files.setPosixFilePermissions`, and every status is built eagerly
  * from one `unix:` attribute read (mode with the sticky bit, size,
  * times, owner, group), symlink targets from `readSymbolicLink`. The
  * sticky bit is the one mode NIO cannot set; a permission carrying it
  * takes the inherited (forking) `setPermission`. [[LocalFs.Fs]] wraps
  * it in the checksummed `LocalFileSystem` (the `FileSystem` face,
  * whose rename never replaces a file) and [[LocalFs.Afs]] in
  * `ChecksumFs` (the `FileContext` face, which Spark's streaming
  * checkpoint manager writes through).
  * `GraftSession.withLocalFs` registers both for `file:`.
  */
object LocalFs {

  private val Attrs = "unix:mode,size,lastModifiedTime,lastAccessTime,owner,group,isDirectory"

  /** Bit (8 − i) of a mode is the i-th `PosixFilePermission`. Read from
    * the bits: a FileContext create passes an `FsCreateModes`, whose
    * `toString` is not the symbolic mode.
    */
  private def posix(perm: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = perm.toShort.toInt
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) out.add(p)
    }
    out
  }

  /** `RawLocalFileSystem` with in-process permission sets and statuses. */
  class Raw extends RawLocalFileSystem {

    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (perm.getStickyBit) super.setPermission(p, perm)
      else { Files.setPosixFilePermissions(pathToFile(p).toPath, posix(perm)); () }

    /** The stock status of `file` (links followed), read in one call.
      * Any failed stat is a missing path, as `File.exists` has it.
      */
    private def status(file: File, f: Path): FileStatus = {
      val a = try Files.readAttributes(file.toPath, Attrs)
        catch { case _: FileSystemException =>
          throw new FileNotFoundException(s"File $f does not exist") }
      def time(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
      new FileStatus(a.get("size").asInstanceOf[Long],
        a.get("isDirectory").asInstanceOf[Boolean], 1, getDefaultBlockSize(f),
        time("lastModifiedTime"), time("lastAccessTime"),
        new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
        a.get("owner").asInstanceOf[UserPrincipal].getName,
        a.get("group").asInstanceOf[GroupPrincipal].getName,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }

    override def getFileStatus(f: Path): FileStatus = status(pathToFile(f), f)

    override def listStatus(f: Path): Array[FileStatus] = {
      val dir = pathToFile(f)
      val self = status(dir, f)
      if (!self.isDirectory) Array(self)
      else FileUtil.list(dir).flatMap { name =>
        // an entry deleted since the listing is skipped, as stock does
        try Some(status(new File(dir, name), new Path(f, new Path(null, null, name))))
        catch { case _: FileNotFoundException => None }
      }
    }

    /** Link status with the target as stored in the link (unqualified). */
    private def linkStatus(f: Path): FileStatus = {
      val link = pathToFile(f).toPath
      if (!Files.isSymbolicLink(link)) getFileStatus(f)
      else {
        val target = new Path(Files.readSymbolicLink(link).toString)
        if (!Files.exists(link)) // dangling
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
        else {
          val s = getFileStatus(f)
          new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
            s.getModificationTime, s.getAccessTime, s.getPermission,
            s.getOwner, s.getGroup, target, f)
        }
      }
    }

    override def getFileLinkStatus(f: Path): FileStatus = {
      val s = linkStatus(f)
      if (s.isSymlink)
        s.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, s.getPath, s.getSymlink))
      s
    }

    override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink
  }

  /** The checksummed `FileSystem` for `file:` (`fs.file.impl`). */
  class Fs extends LocalFileSystem(new Raw) {
    /** A rename never replaces an existing file: the `FileSystem`
      * contract, which publish and marker renames rely on to lose a race
      * instead of overwriting the winner. Hive's `ProxyLocalFileSystem`,
      * which Spark's Hive jars register for `file:`, keeps it the same
      * way; a bare `LocalFileSystem` would overwrite.
      */
    override def rename(src: Path, dst: Path): Boolean =
      !(try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }) &&
        super.rename(src, dst)
  }

  /** `Raw` as an `AbstractFileSystem`, with `RawLocalFs`'s overrides. */
  private class RawAfs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The checksummed `AbstractFileSystem` for `file:`
    * (`fs.AbstractFileSystem.file.impl`); like the stock `LocalFs` it
    * ignores the URI it is created for.
    */
  class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(conf))
}

package graft.storage

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without a forked process per call.
  *
  * Without `libhadoop` (NativeIO), stock `RawLocalFileSystem` runs
  * every `setPermission` as a forked `chmod` and every
  * `getFileLinkStatus` (each FileContext rename checks both ends) as a
  * forked `readlink`. Both are plain POSIX calls that `java.nio` makes
  * in-process; the answers are the ones the forked commands give.
  * Everything else is inherited unchanged. [[graft.GraftSession]]
  * installs it for the `file:` scheme.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    // NIO has no sticky bit; the forked chmod keeps it
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // from the mode bits: toString is not rwx for every subclass
      // (FsCreateModes prints its masked and unmasked modes)
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // declared OWNER_READ .. OTHERS_EXECUTE: mode bits 8 down to 0
      PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(bit)
      }
      // follows a symlink, as chmod does
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  override def getFileLinkStatus(f: Path): FileStatus = {
    // The link is looked up where stock looks it up, at the path's
    // string form: a scheme-qualified path then names no file, so it is
    // never a link — the answer readlink gives, which keeps the
    // inherited getLinkTarget consistent with this method.
    val link = new File(f.toString).toPath
    val target =
      try if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString else ""
      catch { case _: IOException => "" }
    if (target.isEmpty) getFileStatus(f)
    else {
      val to = new Path(target)
      val status =
        try {
          val t = getFileStatus(f)
          new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize,
            t.getModificationTime, t.getAccessTime, t.getPermission, t.getOwner,
            t.getGroup, to, f)
        } catch { case _: FileNotFoundException => // dangling link
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", to, f)
        }
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, to))
      status
    }
  }
}

/** `fs.file.impl`: the checksummed local file system over
  * [[NioRawLocalFileSystem]] (`FileSystem.getLocal` casts to
  * `LocalFileSystem`, so it must stay one).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext twin of
  * [[NioLocalFileSystem]], which Spark's checkpoint file manager uses.
  * Hadoop's `LocalFs`/`RawLocalFs` hard-wire `RawLocalFileSystem` in
  * package-private constructors, so this restates `RawLocalFs`.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

private class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  // the OS validates local names
  override def isValidName(src: String): Boolean = true
}

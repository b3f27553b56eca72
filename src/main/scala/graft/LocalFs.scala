package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its two shell-forking calls done
  * in-process. Without `libhadoop`, the stock class runs `chmod` for
  * every file or directory it creates with a mode, and `readlink` for
  * every `getFileLinkStatus` (which `FileContext.rename` calls several
  * times per atomic write). Anything these paths do not cover — a sticky,
  * setuid or setgid bit to keep or set, a store without a `unix` view,
  * a real symlink, a path that fails to stat — goes to Hadoop's own code.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    // no setuid/setgid/sticky bit (07000) set now or asked for
    val plain = !permission.getStickyBit &&
      Try(Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00).toOption.contains(0)
    if (plain) {
      val mode = permission.toShort.toInt
      val bits = PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0)
      Files.setPosixFilePermissions(file, bits.toSet.asJava)
    } else super.setPermission(p, permission)
  }

  // a path that is not a symlink makes `readlink` print nothing, and for
  // that Hadoop returns `getFileStatus(f)` (which throws for a missing path)
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed (`.crc`) local filesystem over [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` for `FileContext`, over [[GraftRawLocalFileSystem]]. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs`, whose constructors are package-private. */
private[graft] class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

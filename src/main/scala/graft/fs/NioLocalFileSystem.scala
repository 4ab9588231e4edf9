package graft.fs

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem (`file` scheme) without process spawns.
  *
  * Without `libhadoop` (a plain Spark distribution has none), stock
  * `RawLocalFileSystem` sets a mode by running `chmod` on every create and
  * every mkdir that carries a permission, and answers `getFileLinkStatus`,
  * which FileContext's rename asks for source and destination, by running
  * `readlink`: one process per call, milliseconds each, and dozens per
  * streaming micro-batch across the checkpoint's offset- and commit-log
  * writes and the sink's output commit. This class does both through
  * `java.nio.file` (its `unix` attribute view: Linux and macOS) and sends a
  * real symlink to the stock code, so every result is the stock one.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod(2)` through NIO's `unix:mode`, which carries the sticky bit as
    * well. A directory keeps its setuid and setgid bits, as the stock
    * `chmod 0755 dir` keeps them.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path  = pathToFile(p).toPath
    val attrs = Files.readAttributes(path, "unix:mode,isDirectory")
    val isDir = attrs.get("isDirectory").asInstanceOf[Boolean]
    val keep  = if (isDir) attrs.get("mode").asInstanceOf[Int] & 0xc00 else 0 // setuid, setgid
    Files.setAttribute(path, "unix:mode", Int.box(permission.toShort | keep))
  }

  /** Only a real symlink needs the stock `readlink` path; anything else
    * (and a missing path, which throws `FileNotFoundException`) is its
    * `getFileStatus`, which is what stock returns once `readlink` fails.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: stock `LocalFileSystem` (`.crc` checksums) over [[NioRawLocalFileSystem]].
  *
  * `rename` onto an existing file fails and leaves both files, as on HDFS
  * and as in Hive's `ProxyLocalFileSystem`, which Spark's own jars register
  * for `file` when this key is unset (stock `LocalFileSystem` overwrites).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !Files.isRegularFile(pathToFile(dst).toPath) && super.rename(src, dst)
}

/** FileContext's raw `file` filesystem over [[NioRawLocalFileSystem]], as stock `RawLocalFs`. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: checksummed, as stock `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

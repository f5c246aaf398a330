package graft.engine

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a process launch per file.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` sets a mode by
  * running `chmod` — once for every file, `.crc` and directory that a
  * Spark writer or committer creates — and resolves a possible symlink
  * by running `readlink`, twice for every `FileContext` rename of a
  * streaming checkpoint or state store. Each launch is a fork and exec
  * plus a stderr thread. These classes do both in-process through
  * `java.nio` and fall back to Hadoop's own call for what NIO cannot
  * express. [[LocalFs.conf]] installs them for the `file:` scheme of
  * both Hadoop APIs; [[Graft.session]] applies it.
  */
object LocalFs {

  /** The session keys that route `file:` through these classes:
    * `FileSystem` (every batch writer and committer) and `FileContext`
    * (streaming checkpoints and state stores).
    */
  val conf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  private val Modes = PosixFilePermission.values.toSeq

  /** `mode`'s nine permission bits as NIO permissions. */
  private[engine] def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // OWNER_READ .. OTHERS_EXECUTE are bits 8 .. 0 in declaration order
    Modes.zipWithIndex.foreach { case (p, i) => if ((mode >> (8 - i) & 1) != 0) set.add(p) }
    set
  }
}

/** `RawLocalFileSystem` with an in-process `setPermission` and a
  * `getFileLinkStatus` that reads a link only when the path is one.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The mode bits through `Files.setPosixFilePermissions`, which, like
    * `chmod`, follows a symlink. The sticky bit and a store without
    * POSIX attributes go to Hadoop's own call.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(file, LocalFs.posix(permission.toShort)): Unit
    catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
      case e: NoSuchFileException =>
        throw new FileNotFoundException(s"setPermission: $p does not exist (${e.getMessage})")
    }
  }

  /** Hadoop runs `readlink` on `new File(f.toString)` and, when that is
    * no link, returns the plain status. This makes the same test in
    * process and runs Hadoop's resolution only for a link, dangling or
    * not. For a `file:`-qualified path, which is what Spark and
    * `FileContext` pass, that file is a relative `file:/...` that does
    * not exist, so there, as in Hadoop, such a path is never a link. A
    * missing path throws `FileNotFoundException`, as it does there.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` for `fs.file.impl`: `.crc` files stay. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[NioRawLocalFileSystem]] as an `AbstractFileSystem`, with what
  * Hadoop's `RawLocalFs` adds to the delegation.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  // the local filesystem validates names itself
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` for
  * `fs.AbstractFileSystem.file.impl` (the `FileContext` path).
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

package graft.catalog

import java.nio.file.{Files, attribute}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` file system, with permissions set
  * in-process.
  *
  * Without libhadoop, Hadoop's [[RawLocalFileSystem.setPermission]]
  * forks a `chmod` process, and a Spark write calls it for every file,
  * `.crc` file and directory it creates: about 50 process starts per
  * REPL session, at roughly 3 ms each. This class sets the same nine
  * permission bits with `Files.setPosixFilePermissions` (about 0.01 ms)
  * and keeps everything else, `.crc` checksums included. Where NIO
  * cannot set the mode Hadoop would (a sticky, setuid or setgid bit, or
  * a file system without POSIX permissions) it falls back to Hadoop's
  * own path.
  *
  * [[Catalog]] selects it per write with [[NioLocalFileSystem.WriteOptions]].
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** Hadoop options that make a Spark write use this file system for
    * `file:` paths. Spark copies a write's options into the job's
    * Hadoop conf, so the committer, the tasks and the format writers
    * all see them; the cache is bypassed because Hadoop's file-system
    * cache is keyed by scheme, not by class, and would hand back the
    * session's cached instance. */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      if (permission.getStickyBit || specialBits(file)) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(file, posix(permission.toShort))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** Does `file` carry a setuid, setgid or sticky bit? A directory
    * inherits setgid from its parent, and `chmod` keeps it there. */
  private def specialBits(file: java.nio.file.Path): Boolean =
    scala.util.Try(Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00)
      .getOrElse(0) != 0

  private val Bits = {
    import attribute.PosixFilePermission._
    Seq(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ, GROUP_EXECUTE, GROUP_WRITE,
      GROUP_READ, OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)
  }

  /** The permission set of the nine low mode bits. */
  private def posix(mode: Int): java.util.Set[attribute.PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
    Bits.zipWithIndex.foreach { case (b, i) => if ((mode & (1 << i)) != 0) s.add(b) }
    s
  }
}

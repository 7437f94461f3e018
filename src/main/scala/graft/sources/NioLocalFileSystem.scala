package graft.sources

import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed local filesystem (`.crc` files written and
  * verified, as [[LocalFileSystem]]) whose permission changes run
  * in-process. [[graft.GraftSession.sessionConfs]] registers it for the
  * `file` scheme (`spark.hadoop.fs.file.impl`).
  *
  * Hadoop 3.4's `RawLocalFileSystem.setPermission` calls libhadoop's
  * `NativeIO.POSIX.chmod` when the native library is loaded and forks
  * `chmod <mode> <path>` otherwise. The Spark distribution ships no
  * libhadoop, so every file and dir Hadoop creates on the local
  * filesystem (the committer's part files, `_temporary` dirs and
  * `_SUCCESS`, [[Sinks.withDirLock]]'s marker, each one's `.crc` twin)
  * starts one child process: about 138 per q221 curation iteration,
  * each 2–3 ms on the driver thread or in a one-task job. [[Raw]]
  * sets the same nine rwx bits with `Files.setPosixFilePermissions`.
  *
  * Modes that a `PosixFilePermission` set cannot carry keep Hadoop's
  * own path, so the resulting mode is always the one `chmod` gives: a
  * sticky bit, and any dir that already has its set-user-ID or
  * set-group-ID bit (a four-digit numeric `chmod` keeps those on dirs,
  * where `java.nio` would clear them). With libhadoop
  * loaded Hadoop's path is in-process already and is used as is. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The raw (unchecksummed) filesystem underneath: Hadoop's own, but
    * for where `setPermission` goes. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      if (NativeIO.isAvailable || permission.getStickyBit || setIdDir(file))
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
        Seq(permission.getUserAction, permission.getGroupAction,
          permission.getOtherAction).map(_.SYMBOL).mkString))
    }
  }

  /** A dir with its set-user-ID or set-group-ID bit set (`st_mode`'s
    * type bits say dir, 06000 says set-id); one `stat`. */
  private def setIdDir(file: NioPath): Boolean = {
    val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    (mode & 0xF000) == 0x4000 && (mode & 0xC00) != 0
  }
}

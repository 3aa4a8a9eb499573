package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem, setting permissions in-process. Without
  * `libhadoop` (Spark ships none) the stock `RawLocalFileSystem` forks
  * `/bin/chmod` for every file it creates, every `.crc` file beside it and
  * every directory, mostly on task threads: a 30-day partitioned write
  * starts about 100 processes. Here the nine rwx bits go through
  * `Files.setPosixFilePermissions`, one `chmod(2)` call; files, bytes, modes
  * and checksums are those of the stock filesystem. A mode with setuid,
  * setgid or sticky bits, or a file store without POSIX attributes, takes
  * the stock path.
  *
  * Registered as `spark.hadoop.fs.file.impl` in [[graft.GraftSession.core]].
  * Hadoop caches one `FileSystem` per scheme for the JVM, so the entry holds
  * when that session is the JVM's first. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The checksum-less layer under [[NioLocalFileSystem]]; only
    * `setPermission` differs from the stock one. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      // any bit above 0777 (0x1ff): setuid, setgid or sticky
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
        catch {
          case _: UnsupportedOperationException =>
            super.setPermission(p, permission)
        }
      }
    }
  }

  /** The rwx bits of `mode` (at most 0777) as POSIX permissions. The enum
    * lists owner, group, others, each as read, write, execute: the bits
    * from 0400 down to 0001 in order. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) perms.add(p)
    }
    perms
  }
}

package graft.util

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a process fork per written file.
  *
  * Without the Hadoop native library, `RawLocalFileSystem.setPermission`
  * runs `chmod` in a child process, and every `create` and `mkdirs` with
  * a permission calls it: each parquet part file, checkpoint file, their
  * `.crc` companions and new directories pay a fork (on a 4-core host a
  * new file in a new directory took 4.6–5.4 ms to create and close,
  * against 0.1–0.3 ms without the forks). This raw FS sets the same mode
  * bits through `java.nio` instead, and leaves the cases nio cannot
  * express to the stock implementation: a sticky bit, a non-POSIX store,
  * and a directory carrying setuid/setgid bits (numeric `chmod` keeps
  * those on directories; nio would clear them). [[graft.GraftSession]]
  * installs it as `fs.file.impl`.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    val view = Files.getFileAttributeView(f, classOf[PosixFileAttributeView])
    if (permission.getStickyBit || view == null || keepsSetIdBits(f))
      super.setPermission(p, permission)
    else view.setPermissions(GraftRawLocalFileSystem.bits(permission.toShort))
  }

  private def keepsSetIdBits(f: java.nio.file.Path): Boolean =
    Files.isDirectory(f) &&
      (try (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xc00) != 0
      catch { case _: UnsupportedOperationException => true })
}

object GraftRawLocalFileSystem {
  private val Order = {
    import PosixFilePermission._
    Seq(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ, GROUP_EXECUTE,
      GROUP_WRITE, GROUP_READ, OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)
  }

  /** The rwx bits of `mode` as nio permissions. */
  private[util] def bits(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Order.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (1 << i)) != 0) s.add(perm)
    }
    s
  }
}

/** `file://` with checksums, as Hadoop's `LocalFileSystem`, over
  * [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

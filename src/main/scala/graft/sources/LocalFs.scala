package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem (`fs.file.impl`, set by `Engine.session`):
  * Hadoop's checksummed `LocalFileSystem` whose permission calls do not
  * fork. Without the native `libhadoop`, `RawLocalFileSystem` runs a
  * `chmod` process for every file and directory it creates; this one
  * sets the same mode bits through `java.nio`. Bits NIO cannot express
  * (the sticky bit) take Hadoop's own path.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (perm.getStickyBit) super.setPermission(p, perm)
      else {
        // NIO declares rwxrwxrwx in order, owner read (0400) first
        val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
          if ((perm.toShort & (0x100 >> i)) != 0) set.add(b)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      }
  }
}

package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LocalFs

/** Pins for the fork-free `file:` filesystem and checkpoint manager that
  * `Engine.session` installs: LocalFs leaves exactly the mode bits
  * Hadoop's stock LocalFileSystem leaves, and the session really resolves
  * `file:` and checkpoint dirs to the fork-free classes.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def conf = spark.sessionState.newHadoopConf()

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def perms(p: NioPath) = Files.getPosixFilePermissions(p)

  // the permission bits with the sticky bit (NIO's permission set has none)
  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("1777")

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  /** Create a file (with its .crc) and a directory at `octal` through
    * `fs` under `root`; returns the file, its .crc and the directory.
    */
  private def make(fs: FileSystem, root: NioPath, octal: String)
      : Seq[NioPath] = {
    val perm = new FsPermission(oct(octal).toShort)
    val out = fs.create(new Path(root.toUri.toString, s"f$octal"), perm,
      true, 4096, 1.toShort, 1L << 20, null)
    out.write(Array[Byte](1, 2, 3))
    out.close()
    assert(fs.mkdirs(new Path(root.toUri.toString, s"d$octal"), perm))
    Seq(s"f$octal", s".f$octal.crc", s"d$octal").map(root.resolve)
  }

  test("files and directories get the stock filesystem's permissions") {
    val a = Files.createTempDirectory("graft_localfs_stock")
    val b = Files.createTempDirectory("graft_localfs_nio")
    val (s, n) = (init(new LocalFileSystem()), init(new LocalFs()))
    try for (octal <- Seq("644", "600", "755", "700")) {
      val want = make(s, a, octal).map(perms)
      assert(make(n, b, octal).map(perms) == want, s"mode $octal")
    } finally {
      s.delete(new Path(a.toUri.toString), true)
      n.delete(new Path(b.toUri.toString), true)
    }
  }

  test("a sticky-bit permission takes Hadoop's own path") {
    val root = Files.createTempDirectory("graft_localfs_sticky")
    val n = init(new LocalFs())
    try {
      val dir = root.resolve("t")
      Files.createDirectory(dir)
      for (octal <- Seq("1755", "700")) {
        n.setPermission(new Path(dir.toUri.toString),
          new FsPermission(oct(octal).toShort))
        assert(mode(dir) == oct(octal), s"mode $octal")
      }
    } finally n.delete(new Path(root.toUri.toString), true)
  }

  test("the session resolves file: and checkpoint dirs to the fork-free " +
    "classes") {
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[LocalFs])
    assert(FileSystem.get(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration).isInstanceOf[LocalFs])
    val dir = Files.createTempDirectory("graft_localfs_ckpt")
    try assert(CheckpointFileManager.create(new Path(dir.toUri.toString), conf)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    finally Files.delete(dir)
  }
}

package graft

import java.net.URI
import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

import graft.util.GraftLocalFileSystem

/** graft's local filesystem writes the same modes as Hadoop's, without a
  * `chmod` process, and GraftSession installs it. */
class LocalFsSpec extends SparkSpec {

  private def mode(p: Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def fs(cls: Class[_ <: FileSystem], umask: String): FileSystem = {
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", umask)
    conf.setClass("fs.file.impl", cls, classOf[FileSystem])
    FileSystem.newInstance(URI.create("file:///"), conf)
  }

  /** Writes the same small tree through `f` under `root`: default and
    * explicit-permission files and dirs, a chmod, and a sticky dir. */
  private def writeTree(f: FileSystem, root: Path): Unit = {
    def p(rel: String) = new HPath(root.resolve(rel).toUri)
    f.mkdirs(p("d/e"))
    f.mkdirs(p("private"), new FsPermission("700"))
    val out = f.create(p("d/part-0.parquet"))
    out.write(Array[Byte](1, 2, 3)); out.close()
    f.create(p("d/e/restricted"), new FsPermission("600"), true, 4096,
      1.toShort, 1L << 20, null).close()
    f.create(p("private/x")).close()
    f.setPermission(p("private/x"), new FsPermission("640"))
    f.mkdirs(p("tmp"))
    f.setPermission(p("tmp"), new FsPermission("1777"))
  }

  /** Relative path -> mode of every entry under `root`. */
  private def modes(root: Path): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.toArray.map(_.asInstanceOf[Path])
      .filter(_ != root)
      .map(q => root.relativize(q).toString -> mode(q)).toMap
    finally walk.close()
  }

  test("files, .crc files and directories get the stock modes") {
    for (umask <- Seq("022", "027", "077")) {
      val (stock, graft) = (fs(classOf[LocalFileSystem], umask),
        fs(classOf[GraftLocalFileSystem], umask))
      assert(graft.isInstanceOf[GraftLocalFileSystem])
      val (a, b) = (tempDir("fs-stock"), tempDir("fs-graft"))
      writeTree(stock, a)
      writeTree(graft, b)
      val (want, got) = (modes(a), modes(b))
      assert(want.keySet.exists(_.endsWith(".crc")), want.keySet)
      assert(got == want, s"umask $umask")
      assert(want("tmp") == Integer.parseInt("1777", 8))
      stock.close(); graft.close()
    }
  }

  test("under GraftSession, FileSystem.get(file:///) is graft's") {
    // the shared test session is built by GraftSession.builder, so every
    // file the suites write goes through graft's FS, as in Verify/Bench
    val fs = FileSystem.get(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass.getName)
  }
}

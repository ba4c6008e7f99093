package graft.engine

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Filesystem only, no SparkSession: what the in-process filesystem
  * creates carries the permissions Hadoop's forked `chmod` gives.
  */
class InProcessLocalFileSystemSpec extends AnyFunSuite with SparkTestBase {

  private def open(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Every path under `root` (relative) with its permission string. */
  private def perms(root: NioPath): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map(p =>
      root.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toMap
    finally s.close()
  }

  /** Directories, a file (and its checksum) and explicit permissions. */
  private def exercise(fs: FileSystem, root: NioPath): Map[String, String] = {
    val base = new Path(root.toUri)
    assert(fs.mkdirs(new Path(base, "a/b/c")))
    val out = fs.create(new Path(base, "a/b/part-0.parquet"), true)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    fs.mkdirs(new Path(base, "d"), new FsPermission(Integer.parseInt("750", 8).toShort))
    fs.setPermission(new Path(base, "a/b/part-0.parquet"),
      new FsPermission(Integer.parseInt("640", 8).toShort))
    // sticky bit: java.nio cannot set it, Hadoop's own call does
    fs.mkdirs(new Path(base, "t"))
    fs.setPermission(new Path(base, "t"), new FsPermission(Integer.parseInt("1777", 8).toShort))
    perms(root)
  }

  test("creates what RawLocalFileSystem creates, with the same permissions") {
    for (umask <- Seq("022", "077", "002")) {
      val hadoopRoot = tempDir("graft_fs_hadoop_")
      val ownRoot = tempDir("graft_fs_own_")
      val hadoop = exercise(open(new LocalFileSystem(new RawLocalFileSystem), umask), hadoopRoot)
      val own = exercise(open(new InProcessLocalFileSystem, umask), ownRoot)
      assert(hadoop.keySet.exists(_.endsWith(".crc")), hadoop)
      assert(own == hadoop, s"umask $umask")
    }
  }

  test("is a checksummed LocalFileSystem over the in-process raw filesystem") {
    val fs = new InProcessLocalFileSystem
    assert(fs.getRawFileSystem.isInstanceOf[InProcessRawLocalFileSystem])
    assert(fs.getScheme == "file")
  }
}

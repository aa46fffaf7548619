package graft

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.Layout

/** The session's `file:` filesystem ([[NioLocalFileSystem]]) applies
  * permissions without forking a `chmod`, and lands the same modes as
  * Hadoop's stock `LocalFileSystem`. */
class NioLocalFileSystemSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def sessionFs =
    new Path("file:///").getFileSystem(spark.sessionState.newHadoopConf())

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every path under `root` (relative, with Spark's per-write UUIDs
    * masked) and its mode. */
  private def modes(root: java.nio.file.Path): Seq[(String, Int)] = {
    val w = Files.walk(root)
    try w.iterator().asScala.filter(_ != root).map { p =>
      Uuid.replaceAllIn(root.relativize(p).toString, "*") -> mode(p)
    }.toList.sorted
    finally w.close()
  }

  test("the session's file: filesystem is the fork-free one, also " +
    "through the Hadoop FileSystem cache") {
    val fs = sessionFs
    assert(fs.getClass == classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[NioRawLocalFileSystem])
  }

  test("a parquet write and Layout.writeDual land the modes Hadoop's " +
    "stock filesystem gives under the same umask") {
    val good = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("k", "v")
    val err = Seq(("1`A`x", 3), ("2", 1)).toDF("wa", "arity")
    def writeAll(root: java.nio.file.Path): Unit = {
      spark.range(0, 100).repartition(2).write.parquet(s"$root/plain")
      Layout.writeDual(good, err, s"$root/single", "parquet", "ztab", "ts")
      Layout.writeDual(good, err, s"$root/multi", "parquet", "ztab", "ts",
        singleFile = false)
    }
    // a umask unlike the process's (022), and fresh filesystem instances
    // that read it: a permission that is not applied shows up as 0644
    val conf = Seq("fs.permissions.umask-mode" -> "027",
      "fs.file.impl.disable.cache" -> "true")
    val ours = Files.createTempDirectory("nio-fs-spec-")
    val stock = Files.createTempDirectory("nio-fs-spec-")
    SparkTestBase.withConf(conf: _*)(writeAll(ours))
    SparkTestBase.withConf(conf :+
      ("fs.file.impl" -> classOf[LocalFileSystem].getName): _*) {
      assert(sessionFs.getClass == classOf[LocalFileSystem])
      writeAll(stock)
    }
    val got = modes(ours)
    assert(got == modes(stock))
    assert(got.exists { case (p, m) =>
      p.endsWith(".parquet") && m == octal("640") })
    assert(got.exists { case (p, m) =>
      p.endsWith("plain") && m == octal("750") })
  }

  test("a mode with the sticky bit takes Hadoop's path and is applied; " +
    "a later plain mode clears it") {
    val fs = sessionFs
    val local = Files.createTempDirectory("nio-fs-spec-").resolve("sticky")
    val dir = new Path(local.toString)
    assert(fs.mkdirs(dir))
    fs.setPermission(dir, new FsPermission(octal("1777").toShort))
    assert(mode(local) == octal("1777"))
    fs.setPermission(dir, new FsPermission(octal("755").toShort))
    assert(mode(local) == octal("755"))
  }

  test("a directory created under a setgid parent keeps the bit, as with " +
    "the stock filesystem") {
    val parent = Files.createTempDirectory("nio-fs-spec-")
    assert(new ProcessBuilder("chmod", "2755", parent.toString).start()
      .waitFor() == 0)
    val stock = new LocalFileSystem
    stock.initialize(URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    assert(sessionFs.mkdirs(new Path(parent.toString, "ours")))
    assert(stock.mkdirs(new Path(parent.toString, "stock")))
    assert(mode(parent.resolve("stock")) == octal("2755"))
    assert(mode(parent.resolve("ours")) == mode(parent.resolve("stock")))
  }

  test("rename onto an existing file is refused and leaves both files") {
    val fs = sessionFs
    val dir = Files.createTempDirectory("nio-fs-spec-")
    val (a, b) = (dir.resolve("a"), dir.resolve("b"))
    Files.writeString(a, "A")
    Files.writeString(b, "B")
    assert(!fs.rename(new Path(a.toString), new Path(b.toString)))
    assert(Files.readString(a) == "A" && Files.readString(b) == "B")
    assert(fs.rename(new Path(a.toString), new Path(dir.toString, "c")))
    assert(Files.readString(dir.resolve("c")) == "A")
  }
}

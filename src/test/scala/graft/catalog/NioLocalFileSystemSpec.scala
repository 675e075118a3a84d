package graft.catalog

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import java.net.URI
import java.nio.file.{Files, Paths}

/** `NioLocalFileSystem` sets the mode bits Hadoop's stock local
  * filesystem sets, and it is the filesystem the sessions run. */
class NioLocalFileSystemSpec extends SparkSpec {

  test("the session's file: filesystem is NioLocalFileSystem") {
    val fs = new Path(tmpDir("nio_fs")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[NioLocalFileSystem.Raw])
  }

  test("files and directories get the stock filesystem's mode bits") {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    def open(fs: FileSystem): FileSystem = { fs.initialize(URI.create("file:///"), conf); fs }
    val root = tmpDir("nio_modes")
    /** Creates the same entries through `fs` and returns their modes. */
    def modes(fs: FileSystem, under: String): Seq[String] = {
      val dir = new Path(s"$root/$under")
      val created = Seq(
        "d" -> fs.mkdirs(new Path(dir, "d")),
        "d750" -> fs.mkdirs(new Path(dir, "d750"), new FsPermission("750")),
        "f" -> { fs.create(new Path(dir, "f")).close(); true },
        "f600" -> {
          fs.create(new Path(dir, "f600"), new FsPermission("600"), true, 4096,
            1.toShort, 1L << 20, null).close()
          true
        })
      assert(created.forall(_._2))
      fs.setPermission(new Path(dir, "f"), new FsPermission("640"))
      // a bit NIO cannot set goes through Hadoop's own path
      fs.setPermission(new Path(dir, "d"), new FsPermission("1777"))
      Seq("d", "d750", "f", ".f.crc", "f600", ".f600.crc").map { name =>
        val mode = Files.getAttribute(Paths.get(s"$root/$under/$name"), "unix:mode")
          .asInstanceOf[Int] & 4095
        s"$name:${Integer.toOctalString(mode)}"
      }
    }
    val stock = modes(open(new LocalFileSystem()), "stock")
    assert(stock.contains("d:1777") && stock.contains("f:640"), stock)
    assert(modes(open(new NioLocalFileSystem), "nio") == stock)
  }
}

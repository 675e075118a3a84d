package graft.catalog

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

/** Hadoop's checksummed local filesystem, setting permissions through
  * `java.nio` instead of a `chmod` process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks `chmod` for every file and directory it creates: two per
  * direct Parquet flush (the file and its `.crc`), more per compaction
  * commit, about a thousand in a 10 s ingest run. The mode bits set are
  * the same; bits NIO cannot set (the sticky bit) and filesystems without
  * POSIX attributes keep Hadoop's path. Every session the engine builds
  * installs it as `fs.file.impl` ([[NioLocalFileSystem.sparkConf]]).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The Spark setting that makes `file:` paths use this filesystem. */
  val sparkConf: Map[String, Any] =
    Map("spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName)

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val rwx = permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL
        try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
  }
}

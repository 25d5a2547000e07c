package graft.core

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import graft.SparkSpecBase

class PosixLocalFileSystemSpec extends SparkSpecBase {

  private val local = new URI("file:///")

  test("sessions write file:// through PosixLocalFileSystem") {
    val fs = FileSystem.get(local, spark.sessionState.newHadoopConf())
    assert(fs.getClass === classOf[PosixLocalFileSystem])
  }

  test("posix(mode) sets the bits chmod sets, for every rwx mode") {
    (0 until 512).foreach { mode =>
      assert(PosixLocalFileSystem.posix(mode) ===
        PosixFilePermissions.fromString(new FsPermission(mode.toShort).toString), f"$mode%o")
    }
  }

  /** (kind, rwx string) of every path a parquet write left under `root`. */
  private def modes(root: Path): Set[(String, String)] = {
    val s = Files.walk(root)
    try s.iterator().asScala.map { p =>
      val n = p.getFileName.toString
      val kind =
        if (Files.isDirectory(p)) "dir"
        else if (n.endsWith(".crc")) "crc"
        else if (n.endsWith(".parquet")) "parquet"
        else n
      kind -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSet
    finally s.close()
  }

  test("committed parquet files, .crc files and directories get the stock modes") {
    val tmp = tempDir("posixfs")
    try {
      val stock = Map("fs.file.impl" -> classOf[LocalFileSystem].getName,
        "fs.file.impl.disable.cache" -> "true")
      assert(FileSystem.get(local, spark.sessionState.newHadoopConfWithOptions(stock))
        .getClass === classOf[LocalFileSystem])
      val df = spark.range(10).coalesce(1)
      df.write.parquet(s"${tmp.toUri}posix")
      df.write.options(stock).parquet(s"${tmp.toUri}stock")
      val posix = modes(tmp.resolve("posix"))
      assert(posix.map(_._1) === Set("dir", "parquet", "crc", "_SUCCESS"))
      assert(posix === modes(tmp.resolve("stock")))
    } finally graft.snapshot.SnapshotTable.deleteTree(tmp)
  }
}

package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Temp-dir guard: specs make temp directories only through
  * `SparkSpecBase.tempDir`, which deletes them when the suite ends.
  */
class TempDirGuardSpec extends AnyFunSuite {

  private def scalaFiles(root: Path): Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val stream = Files.walk(root)
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally stream.close()
  }

  test("only SparkSpecBase calls createTempDirectory in src/test") {
    val callers = scalaFiles(Paths.get("src/test/scala"))
      .filter(f => Files.readString(f).contains("createTempDirectory"))
      .map(_.toString).toSet
    assert(callers === Set("src/test/scala/graft/SparkSpecBase.scala",
      "src/test/scala/graft/tools/TempDirGuardSpec.scala"))
  }
}

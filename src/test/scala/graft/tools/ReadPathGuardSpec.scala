package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Read-path guard: `graft.core.Graft` is the only file in `src/main`
  * that calls `read.parquet(`. Spark's read infers a schema with a
  * Spark job; `Graft.table` reads the same footer on the driver.
  */
class ReadPathGuardSpec extends AnyFunSuite {

  private val readParquet = """read\s*\.\s*parquet\s*\(""".r

  private def scalaFiles(root: Path): Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val stream = Files.walk(root)
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally stream.close()
  }

  test("only graft/core/Graft.scala calls read.parquet in src/main") {
    val callers = scalaFiles(Paths.get("src/main/scala"))
      .filter(f => readParquet.findFirstIn(Files.readString(f)).isDefined)
      .map(_.toString).toSet
    assert(callers === Set("src/main/scala/graft/core/Graft.scala"))
  }
}

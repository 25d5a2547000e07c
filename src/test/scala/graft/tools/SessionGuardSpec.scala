package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Session guard: `graft.core.Graft` is the only file that calls the
  * `SparkSession` builder, in `src/main` and `src/test`. Spark sizes its
  * JVM-wide compiled-class cache from the first session that generates
  * code, so a session built elsewhere could fix it at Spark's default
  * of 100 entries before `Graft` sets its own.
  */
class SessionGuardSpec extends AnyFunSuite {

  private val builder = """SparkSession\s*\.\s*builder""".r

  private def scalaFiles(root: Path): Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val stream = Files.walk(root)
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally stream.close()
  }

  test("only graft/core/Graft.scala builds a SparkSession") {
    val callers = Seq("src/main/scala", "src/test/scala")
      .flatMap(r => scalaFiles(Paths.get(r)))
      .filter(f => builder.findFirstIn(Files.readString(f)).isDefined)
      .map(_.toString).toSet
    assert(callers === Set("src/main/scala/graft/core/Graft.scala"))
  }
}

package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Environment-knob guard: every `sys.env` / `System.getenv` read in
  * `src/main/scala` is listed by name, and the set must be exactly the
  * driver contract's core count. A read whose name is not a string
  * literal on the same line is reported as `<dynamic>`, so it fails too.
  * Benchmark tuning belongs to the benchmark harness, not to env vars
  * read by the library.
  */
class KnobGuardSpec extends AnyFunSuite {

  private val read = """sys\.env|System\.getenv""".r
  private val literal = "\"([^\"]*)\"".r

  private def envNames(line: String): Seq[String] =
    read.findAllMatchIn(line).map { m =>
      literal.findFirstMatchIn(line.substring(m.end))
        .map(_.group(1)).getOrElse("<dynamic>")
    }.toSeq

  test("name extraction: literal, getOrElse, contains and dynamic reads") {
    assert(envNames("""val c = sys.env.getOrElse("A_B", "16").toInt""") === Seq("A_B"))
    assert(envNames("""if (sys.env.get("X").contains("1")) f()""") === Seq("X"))
    assert(envNames("""System.getenv("Y")""") === Seq("Y"))
    assert(envNames("sys.env.foreach(println)") === Seq("<dynamic>"))
  }

  test("src/main reads exactly one env var: SPARK_GRAFT_CPUS") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val stream = Files.walk(root)
    val files: Seq[Path] =
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally stream.close()
    val sites = for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      name <- envNames(line)
    } yield (name, s"$f:${n + 1}")
    val names = sites.map(_._1).toSet
    assert(names === Set("SPARK_GRAFT_CPUS"),
      s"env-var reads in src/main:\n${sites.map { case (k, at) => s"$k at $at" }.mkString("\n")}")
  }
}

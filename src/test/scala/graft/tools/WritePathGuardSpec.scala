package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Write-path guard: bucket-scoped commits happen only inside
  * `SnapshotTable`. Merges and cleanups go through its
  * one read-modify-write (`SnapshotTable.rewrite`), so the touched-bucket
  * collect, the scoped read and the commit stay in one place. The
  * bucket count those scoped paths use is read from the latest manifest
  * inside `SnapshotTable` too; no caller restates or re-checks it.
  * Reads are opened from the manifest's schema and file records, never
  * by a Spark Parquet read that infers a schema and lists directories.
  * DETACH has one path, the full-scan semi-join: no endpoint index, and
  * no second commit that would have to stay in step with the edges.
  */
class WritePathGuardSpec extends AnyFunSuite {

  private def scalaFiles(root: Path): Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val stream = Files.walk(root)
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally stream.close()
  }

  test("SnapshotTable's physical-partition methods are gone from src/main: rewrite is the one scoped path") {
    val gone = Seq("commitPhysical", "readPhysical", "physicalValuesOf", "physicalValue",
      "layoutBuckets")
    val hits = for {
      f <- scalaFiles(Paths.get("src/main/scala"))
      word <- gone
      if Files.readString(f).contains(word)
    } yield s"$f: $word"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only graft/snapshot/SnapshotTable.scala reads a recorded bucket count in src/main") {
    val files = scalaFiles(Paths.get("src/main/scala"))
    val readers = files.filter(f => Files.readString(f).contains("recordedBuckets("))
      .map(_.toString).toSet
    assert(readers === Set("src/main/scala/graft/snapshot/SnapshotTable.scala"))
    val gone = Seq("graph_buckets", "requireBucketsMatch", "commitPartitions")
    val hits = for {
      f <- files
      word <- gone
      if Files.readString(f).contains(word)
    } yield s"$f: $word"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no edge endpoint index, its coverage record or its knobs remain in src/main") {
    val gone = Seq("EdgeEndpointIndex", "edge_index", "coverage.json",
      "maintainEdgeIndex", "edgeIndex", "edge-index", "index-rebuild")
    val hits = for {
      f <- scalaFiles(Paths.get("src/main/scala"))
      word <- gone
      if Files.readString(f).contains(word)
    } yield s"$f: $word"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("SnapshotTable opens no read through spark.read.parquet") {
    val src = Files.readString(Paths.get("src/main/scala/graft/snapshot/SnapshotTable.scala"))
    assert(!src.contains("read.parquet"))
    assert(src.contains("ManifestFileIndex"))
  }
}

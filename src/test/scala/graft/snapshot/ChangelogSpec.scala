package graft.snapshot

import java.nio.file.Files
import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Pins [[SnapshotTable.diff]]'s op classification and
  * [[SnapshotTable.changelog]]'s manifest pruning: carried-by-reference
  * buckets are never opened.
  */
class ChangelogSpec extends SparkSpecBase {
  import spark.implicits._

  test("diff classifies insert/delete/update and drops unchanged rows") {
    val before = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("id", "v")
    val after = Seq(("b", 2), ("c", 30), ("d", 4)).toDF("id", "v")
    val got = SnapshotTable.diff(before, after, Seq("id"))
      .select(col("id"), col("op"), col("_before.v"), col("_after.v"))
      .as[(String, String, Option[Int], Option[Int])].collect().toSet
    assert(got === Set(
      ("a", "delete", Some(1), None),
      ("c", "update", Some(3), Some(30)),
      ("d", "insert", None, Some(4))))
  }

  test("diff compares null-safely: null↔value is an update, null↔null is unchanged") {
    val before = Seq(("a", Some(1)), ("b", None), ("c", None))
      .toDF("id", "v")
    val after = Seq(("a", None), ("b", Some(2)), ("c", None)).toDF("id", "v")
    val got = SnapshotTable.diff(before, after, Seq("id"))
      .select("id", "op").as[(String, String)].collect().toSet
    assert(got === Set(("a", "update"), ("b", "update")))
  }

  test("keys-only schema: presence is the payload — insert/delete only, never update") {
    val before = Seq("a", "b").toDF("id")
    val after = Seq("b", "c").toDF("id")
    val got = SnapshotTable.diff(before, after, Seq("id"))
      .select("id", "op").as[(String, String)].collect().toSet
    assert(got === Set(("a", "delete"), ("c", "insert")))
  }

  test("diff rejects mismatched schemas and missing keys") {
    val a = Seq(("a", 1)).toDF("id", "v")
    val b = Seq(("a", "x")).toDF("id", "w")
    intercept[IllegalArgumentException] {
      SnapshotTable.diff(a, b, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.diff(a, a, Seq.empty)
    }
  }

  test("changelog over the graph tables: a props-only change is an update; a reordered map is not") {
    val root = tempDir("chlogmap").toString
    val nodes = graft.merge.GraphTables.nodes(spark, root)
    val edges = graft.merge.GraphTables.edges(spark, root)
    def nodeRows(bProps: Map[String, String], cProps: Map[String, String]) = Seq(
      ("Customer", "b", bProps, Seq("Party"), "n1", 100L, 100L),
      ("Customer", "c", cProps, Seq("Party"), "n1", 100L, 100L))
      .toDF("label", "id", "props", "extra_labels", "sub_resource_id",
        "firstseen", "lastupdated")
    def edgeRows(bProps: Map[String, String], cProps: Map[String, String]) = Seq(
      ("Order", "o1", "PLACED_BY", "Customer", "b", bProps, 100L, 100L),
      ("Order", "o2", "PLACED_BY", "Customer", "c", cProps, 100L, 100L))
      .toDF("src_label", "src_id", "rel_label", "dst_label", "dst_id", "props",
        "firstseen", "lastupdated")
    val xy = Map("x" -> "1", "y" -> "2")
    val yx = Map("y" -> "2", "x" -> "1")
    nodes.commit(nodeRows(Map("k" -> "1"), xy), 100L)
    nodes.commit(nodeRows(Map("k" -> "2"), yx), 200L)
    edges.commit(edgeRows(Map("k" -> "1"), xy), 100L)
    edges.commit(edgeRows(Map("k" -> "2"), yx), 200L)
    val nodeLog = nodes.changelog(1L, 2L, Seq("label", "id"))
      .select(col("id"), col("op"), col("_before.props"), col("_after.props"))
      .as[(String, String, Map[String, String], Map[String, String])].collect().toSeq
    assert(nodeLog === Seq(("b", "update", Map("k" -> "1"), Map("k" -> "2"))))
    val edgeLog = edges.changelog(1L, 2L,
      Seq("src_label", "src_id", "rel_label", "dst_label", "dst_id"))
      .select(col("src_id"), col("op"), col("_before.props"), col("_after.props"))
      .as[(String, String, Map[String, String], Map[String, String])].collect().toSeq
    assert(edgeLog === Seq(("o1", "update", Map("k" -> "1"), Map("k" -> "2"))))
  }

  test("identical versions (all buckets carried) yield an EMPTY changelog, not an error") {
    val root = tempDir("chlogid").toString
    val t = SnapshotTable(spark, s"$root/t", Some("label"),
      Some(BucketSpec(Seq("id"), Some(2))))
    val all = Seq(("X", "1", 10), ("X", "2", 20)).toDF("label", "id", "v")
    t.commit(all, 100L)
    // idempotent re-sync: a delta that touches no bucket commits nothing
    assert(t.rewrite(all.limit(0), 200L)(_.get) === None)
    assert(t.versions === Seq(1L))
    // no partition ref differs between a version and itself
    assert(t.changelog(1L, 1L, Seq("label", "id")).count() === 0L)
  }

  test("changelog opens only buckets whose manifest refs changed; carried buckets stay closed") {
    val root = tempDir("chlog").toString
    val t = SnapshotTable(spark, s"$root/t", Some("label"),
      Some(BucketSpec(Seq("id"), Some(4))))
    val all = (0 until 40)
      .map(i => ("X", i.toString, i * 10)).toDF("label", "id", "v")
    t.commit(all, 100L)
    // rewrite ONE bucket: id "5"'s value changes; its bucket-mates are
    // rewritten byte-equal, every other bucket carries by reference
    val updated = all.withColumn("v",
      when(col("id") === "5", 999).otherwise(col("v")))
    assert(t.rewrite(updated.filter(col("id") === "5"), 200L) { existing =>
      existing.get.withColumn("v", when(col("id") === "5", 999).otherwise(col("v")))
    } === Some(2L))
    val touched = t.partitionsOf(2L).keys
      .filter(k => !t.partitionsOf(1L).get(k).contains(t.partitionsOf(2L)(k))).toSeq
    assert(touched.size === 1, touched.toString)
    // an update changes no row count, and the footers answer without a job
    assert(sparkJobs(t.rowDelta(1L, 2L)) === ((0L, 0)))
    assert(t.read().collect().map(_.toString).sorted.toSeq ===
      updated.collect().map(_.toString).sorted.toSeq)
    val log = t.changelog(1L, 2L, Seq("label", "id"))
    val rows = log.select(col("id"), col("op"), col("_after.v"))
      .as[(String, String, Int)].collect().toSeq
    assert(rows === Seq(("5", "update", 999)))
    // pruning, mechanically: every file the changelog read lives in the
    // touched bucket's v1/v2 dirs — carried buckets contribute nothing
    val okDirs = touched.flatMap(k =>
      Seq(t.partitionsOf(1L)(k), t.partitionsOf(2L)(k)))
      .map(rel => s"$root/t/$rel")
    val badFiles = log.inputFiles
      .map(_.replaceFirst("^file:(//)?", ""))
      .filterNot(f => okDirs.exists(f.startsWith))
    assert(badFiles.isEmpty,
      s"changelog read carried buckets: ${badFiles.take(3).mkString(",")}")
  }
}

package graft.snapshot

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.merge.{GraphMerge, GraphTables}
import graft.model.{NodeSchema, RowRef}

/** `expireVersions` contract: expired manifests disappear, carried-
  * forward data dirs referenced by retained versions survive, truly
  * unreferenced dirs are deleted, and the latest version's content is
  * bit-for-bit unaffected.
  */
class ExpireSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graftexpire").toString

  test("expire keeps carried-forward dirs referenced by retained versions and drops the rest") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root, buckets = Some(8))
    val edges = GraphTables.edges(spark, root)
    val schema = NodeSchema("Page", RowRef("id"))

    def merge(tag: Long, ids: Seq[String]): Unit =
      GraphMerge.load(spark, ids.toDF("id"), schema, Map.empty, tag, nodes,
        edges)

    merge(100L, (0 until 400).map(i => s"page-$i")) // v1: all 8 buckets
    merge(200L, Seq("page-7"))                      // v2: one bucket
    merge(300L, Seq("page-11"))                     // v3: one bucket
    assert(nodes.versions === Seq(1L, 2L, 3L))

    val before = nodes.read().select("id", "firstseen", "lastupdated")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    val (expired, deleted) = nodes.expireVersions(keepLast = 2)
    assert(expired === Seq(1L))
    // only v1's dirs are deletion candidates, and something WAS deleted:
    // the v1 copy of at least one bucket rewritten later
    assert(deleted.nonEmpty)
    assert(deleted.forall(_.startsWith("data/v1/")), deleted.toString)

    // every dir referenced by a retained manifest still exists
    Seq(2L, 3L).foreach { v =>
      nodes.partitionsOf(v).values.foreach { rel =>
        assert(Files.isDirectory(Paths.get(root, "nodes", rel)),
          s"retained v$v references missing dir $rel")
      }
    }

    // manifest gone, time travel to v1 now fails, v2/v3 fully readable
    assert(nodes.versions === Seq(2L, 3L))
    intercept[Exception](nodes.readVersion(1L).count())
    assert(nodes.readVersion(2L).count() === 400)

    val after = nodes.read().select("id", "firstseen", "lastupdated")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(after === before, "latest content must be unaffected by expiry")

    // idempotent second expiry at the same keepLast is a no-op
    assert(nodes.expireVersions(2) === ((Nil, Nil)))

    // keep=1: v3 alone — its carried refs into v1/v2 dirs must survive
    val (expired2, _) = nodes.expireVersions(1)
    assert(expired2 === Seq(2L))
    assert(nodes.versions === Seq(3L))
    assert(nodes.read().select("id", "firstseen", "lastupdated")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet === before)
  }

  test("expire on a non-partitioned stage table removes whole old version dirs") {
    val root = tmp()
    val t = SnapshotTable(spark, root, None)
    t.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), 100L)
    t.commit(Seq((3, "c")).toDF("k", "v"), 200L)
    assert(t.versions === Seq(1L, 2L))

    val (expired, deleted) = t.expireVersions(1)
    assert(expired === Seq(1L) && deleted === Seq("data/v1/all"))
    assert(!Files.exists(Paths.get(root, "data", "v1")), "v1 dir must be gone")
    assert(t.read().select("k").as[Int].collect().toSeq === Seq(3))
  }

  test("expire never touches an in-flight writer's data dir (version above the retained ceiling)") {
    val root = tmp()
    val t = SnapshotTable(spark, root, None)
    t.commit(Seq((1, "a")).toDF("k", "v"), 100L)
    t.commit(Seq((2, "b")).toDF("k", "v"), 200L)

    // simulate a concurrent commit mid-flight: data/v3 written, manifest
    // not yet moved — an expire racing it must not collect it as orphan
    val inflight = Paths.get(root, "data", "v3", "all")
    Files.createDirectories(inflight)
    Files.writeString(inflight.resolve("part-0.parquet"), "placeholder")

    val (expired, deleted) = t.expireVersions(1)
    assert(expired === Seq(1L))
    assert(deleted.forall(_.startsWith("data/v1/")), deleted.toString)
    assert(Files.exists(inflight.resolve("part-0.parquet")),
      "in-flight v3 data must survive the race")

    // if the v3 writer DIED before its manifest, the next committer
    // reuses version 3 and its overwrite-mode write replaces the
    // abandoned dir — that is the abandoned-dir collection mechanism
    t.commit(Seq((4, "d")).toDF("k", "v"), 300L) // lands as v3
    assert(t.versions === Seq(2L, 3L))
    assert(!Files.exists(inflight.resolve("part-0.parquet")),
      "abandoned dir is replaced by the next commit at that version")
    assert(t.read().select("k").as[Int].collect().toSeq === Seq(4))
  }

  test("removeOrphans collects only AGED uncommitted version dirs, never live or committed ones") {
    val root = tmp()
    val t = SnapshotTable(spark, root, None)
    t.commit(Seq((1, "a")).toDF("k", "v"), 100L)
    t.commit(Seq((2, "b")).toDF("k", "v"), 200L) // committed ceiling: v2

    def fakeInflight(v: Int, ageMs: Long): java.nio.file.Path = {
      val d = Paths.get(root, "data", s"v$v", "all")
      Files.createDirectories(d)
      val f = d.resolve("part-0.parquet")
      Files.writeString(f, "placeholder")
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - ageMs)
      // age every path component the sweep's mtime walk can see
      Seq(f, d, d.getParent).foreach(p => Files.setLastModifiedTime(p, old))
      d.getParent
    }

    val abandoned = fakeInflight(5, ageMs = 10 * 3600 * 1000L) // 10h old
    val live = fakeInflight(6, ageMs = 0L)                     // just written

    val deleted = t.removeOrphans(olderThanMillis = 3600 * 1000L) // 1h guard
    assert(deleted === Seq("data/v5"))
    assert(!Files.exists(abandoned), "aged uncommitted dir must be collected")
    assert(Files.exists(live), "recently-touched dir may be a live writer")

    // committed versions are never candidates, no matter how old
    val v2dir = Paths.get(root, "data", "v2")
    Files.setLastModifiedTime(v2dir,
      java.nio.file.attribute.FileTime.fromMillis(1000L))
    Files.walk(v2dir).forEach(p => Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(1000L)): Unit)
    assert(t.removeOrphans(3600 * 1000L) === Nil)
    assert(t.read().select("k").as[Int].collect().toSeq === Seq(2))

    // a recently-touched NESTED file keeps the whole dir alive even if
    // the dir mtimes are old (the newest-mtime walk, not the dir stat)
    val mixed = Paths.get(root, "data", "v7", "all")
    Files.createDirectories(mixed)
    Files.writeString(mixed.resolve("fresh.parquet"), "x")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10 * 3600 * 1000L)
    Seq(mixed, mixed.getParent).foreach(p => Files.setLastModifiedTime(p, old))
    assert(t.removeOrphans(3600 * 1000L) === Nil)
    assert(Files.exists(mixed.resolve("fresh.parquet")))
  }
}

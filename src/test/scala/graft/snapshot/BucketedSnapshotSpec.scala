package graft.snapshot

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.merge.{GraphMerge, GraphTables}
import graft.model.{NodeSchema, RowRef}

/** The 100 TB incremental-merge contract: a small batch into a bucketed
  * table rewrites ONLY the buckets the batch hashes into; every other
  * bucket is carried forward by file REFERENCE — same manifest path,
  * byte-identical files — across the commit.
  */
class BucketedSnapshotSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graftbucket").toString

  private def filesUnder(dir: Path): Map[String, Array[Byte]] =
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p))
      .toMap

  test("incremental node merge rewrites only touched buckets; untouched bucket files are carried by reference, byte-identical") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root, buckets = Some(8))
    val schema = NodeSchema("Page", RowRef("id"))

    // v1: 400 ids spread over all 8 buckets
    val b1 = (0 until 400).map(i => s"page-$i").toDF("id")
    GraphMerge.load(spark, b1, schema, Map.empty, 100L, nodes,
      GraphTables.edges(spark, root))
    val v1 = nodes.latestVersion.get
    val parts1 = nodes.partitionsOf(v1)
    assert(parts1.keySet.forall(_.startsWith("Page~b")), parts1.keySet.toString)
    assert(parts1.size === 8, "400 ids should hit all 8 buckets")
    val bytes1 = parts1.map { case (k, rel) => k -> filesUnder(Paths.get(root, "nodes", rel)) }

    // v2: a single-id batch — exactly one bucket may be rewritten
    val one = Seq("page-7").toDF("id")
    GraphMerge.load(spark, one, schema, Map.empty, 200L, nodes,
      GraphTables.edges(spark, root))
    val v2 = nodes.latestVersion.get
    assert(v2 === v1 + 1)
    val parts2 = nodes.partitionsOf(v2)
    assert(parts2.keySet === parts1.keySet)

    val touched = parts2.filter { case (k, rel) => parts1(k) != rel }.keys.toSeq
    assert(touched.size === 1, s"one id must touch exactly one bucket, got $touched")

    // untouched buckets: same manifest path AND byte-identical files
    (parts2.keySet - touched.head).foreach { k =>
      assert(parts2(k) === parts1(k), s"bucket $k must be carried by reference")
      val now = filesUnder(Paths.get(root, "nodes", parts2(k)))
      assert(now.keySet === bytes1(k).keySet, s"bucket $k file set changed")
      now.foreach { case (f, b) =>
        assert(java.util.Arrays.equals(b, bytes1(k)(f)), s"bucket $k file $f mutated")
      }
    }

    // logical content is still the full MERGE result
    val state = nodes.read().filter(col("label") === "Page")
      .select("id", "firstseen", "lastupdated")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(state.size === 400)
    assert(state("page-7") === ((100L, 200L)), "firstseen preserved, lastupdated advanced")
    assert(state("page-8") === ((100L, 100L)), "untouched row unchanged")
  }

  test("bucketed edge merge + readPartition prune + time travel") {
    val root = tmp()
    val edges = GraphTables.edges(spark, root, buckets = Some(4))
    def batch(tag: Long, ids: Seq[Int]) = ids.toDF("i").select(
      lit("Page").as("src_label"), concat(lit("p"), col("i")).as("src_id"),
      lit("MENTIONS").as("rel_label"),
      lit("Entity").as("dst_label"), concat(lit("e"), col("i") % 7).as("dst_id"),
      map().cast("map<string,string>").as("props"),
      lit(tag).as("firstseen"), lit(tag).as("lastupdated"))
    GraphMerge.upsertEdgeBatch(spark, batch(100L, 0 until 100), 100L, edges)
    GraphMerge.upsertEdgeBatch(spark, batch(200L, Seq(3)), 200L, edges)

    // readPartition unions the label's buckets and nothing else
    val m = edges.readPartition("MENTIONS").get
    assert(m.count() === 100)
    assert(edges.readPartition("NOPE").isEmpty)

    // firstseen preserved through the bucket-scoped merge
    val r = m.filter(col("src_id") === "p3")
      .select("firstseen", "lastupdated").head()
    assert(r.getLong(0) === 100L && r.getLong(1) === 200L)

    // time travel still reads v1 (both versions fully readable)
    assert(edges.readVersion(1L).count() === 100)
    val v1p3 = edges.readVersion(1L).filter(col("src_id") === "p3")
      .select("lastupdated").head().getLong(0)
    assert(v1p3 === 100L)
  }

  private val rows40 = (0 until 40).map(i => ("L", s"id$i", i.toLong))
    .toDF("label", "id", "v")

  private def table(root: String, n: Int): SnapshotTable =
    SnapshotTable(spark, s"$root/t", Some("label"), Some(BucketSpec(Seq("id"), Some(n))))

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def rowsOf(t: SnapshotTable): Seq[String] =
    t.read().select("label", "id", "v").collect().map(_.toString).sorted.toSeq

  test("an open with the wrong bucket count follows the committed layout: its rewrite touches the committed buckets and leaves the same rows") {
    val (rootA, rootB) = (tmp(), tmp())
    Seq(rootA, rootB).foreach(r => table(r, 8).commit(rows40, 1L))
    val right = table(rootA, 8)
    val wrong = table(rootB, 4)
    val delta = rows40.filter(col("v") < 3).withColumn("v", col("v") + 100)
    Seq(right, wrong).foreach { t =>
      assert(t.rewrite(delta, 2L) { existing =>
        existing.get.join(delta.select("id"), Seq("id"), "left_anti").unionByName(delta)
      } === Some(2L))
    }
    def touched(t: SnapshotTable): Set[String] = {
      val (p1, p2) = (t.partitionsOf(1L), t.partitionsOf(2L))
      p2.collect { case (k, rel) if !p1.get(k).contains(rel) => k }.toSet
    }
    assert(touched(right).nonEmpty && touched(right).size < 8, touched(right).toString)
    assert(touched(wrong) === touched(right))
    assert(wrong.partitionsOf(2L).keySet === right.partitionsOf(2L).keySet)
    assert(wrong.recordedBuckets(2L) === Some(8), "a scoped commit keeps the recorded layout")
    assert(rowsOf(wrong) === rowsOf(right))
    assert(rowsOf(wrong).size === 40)
    assert(wrong.read().filter(col("v") >= 100).count() === 3L)
    // a FULL commit is what lays out the declared count (a re-bucket)
    val v3 = wrong.commit(wrong.read(), 3L)
    assert(wrong.recordedBuckets(v3) === Some(4))
    assert(wrong.partitionsOf(v3).keySet.forall(k => (0 until 4).exists(b => k == s"L~b$b")))
    assert(rowsOf(wrong) === rowsOf(right))
    // time travel to the 8-bucket layout still reads fine
    assert(wrong.readVersion(2L).count() === 40L)
  }

  test("a legacy manifest without a bucket count: scoped paths fail naming rebucket, full reads work, a full commit heals the table") {
    val root = tmp()
    val t = table(root, 8)
    t.commit(rows40, 1L)
    val mf = Paths.get(s"$root/t", "_manifest", "v1.json")
    Files.writeString(mf, Files.readString(mf).replaceAll(""","buckets":\d+""", ""))
    assert(t.recordedBuckets(1L) === None)

    val one = rows40.limit(1)
    val e = intercept[IllegalStateException](t.rewrite(one, 2L)(_.get))
    assert(e.getMessage.contains("rebucket --new-buckets"), e.getMessage)
    assert(t.versions === Seq(1L), "a failed scoped path must commit nothing")
    assert(t.read().count() === 40L)
    assert(t.readPartition("L").get.count() === 40L)

    // re-bucketing is one full commit; it records the count again
    val v2 = t.commit(t.read(), 2L)
    assert(t.recordedBuckets(v2) === Some(8))
    assert(t.rewrite(one.withColumn("v", lit(-1L)), 3L) { existing =>
      existing.get.filter(col("id") =!= "id0").unionByName(one.withColumn("v", lit(-1L)))
    } === Some(3L))
    assert(t.read().filter(col("v") === -1L).count() === 1L)
    assert(t.read().count() === 40L)
  }

  test("a manifest without schema and files records reads the same rows and schema with no Spark job; the next commit records both") {
    val root = tmp()
    val t = table(root, 8)
    t.commit(rows40, 1L)
    val (schema, rows) = (t.read().schema, rowsOf(t))
    val mf = Paths.get(s"$root/t", "_manifest", "v1.json")
    val full = mapper.readTree(Files.readString(mf))
    val legacy = full.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    legacy.remove(java.util.List.of("schema", "files")): Unit
    Files.writeString(mf, mapper.writeValueAsString(legacy))

    val (df, jobs) = sparkJobs(t.read())
    assert(jobs === 0, s"a legacy open ran $jobs Spark jobs")
    assert(df.schema === schema)
    assert(rowsOf(t) === rows)
    assert(sparkJobs(t.readPartition("L").get)._2 === 0)

    val one = rows40.filter(col("id") === "id0").withColumn("v", lit(-1L))
    assert(t.rewrite(one, 2L)(_.get.filter(col("id") =!= "id0").unionByName(one)) === Some(2L))
    val v2 = mapper.readTree(Files.readString(Paths.get(s"$root/t", "_manifest", "v2.json")))
    assert(v2.get("schema") === full.get("schema"))
    val carried = t.partitionsOf(1L).filter { case (k, dir) => t.partitionsOf(2L)(k) == dir }
    assert(carried.nonEmpty)
    carried.keys.foreach(k => assert(v2.get("files").get(k) === full.get("files").get(k), k))
    assert(v2.get("files").size() === t.partitionsOf(2L).size)
    assert(t.read().filter(col("v") === -1L).count() === 1L)
  }

  test("time travel reads each version with its own schema: v2 adds a column, readVersion(1) does not have it") {
    val t = table(tmp(), 8)
    t.commit(rows40, 1L)
    val one = rows40.filter(col("id") === "id5").withColumn("note", lit("new"))
    t.rewrite(one, 2L)(_.get.filter(col("id") =!= "id5").withColumn("note", lit(null).cast("string"))
      .unionByName(one))
    assert(t.readVersion(1L).columns.toSeq === Seq("label", "id", "v"))
    assert(t.read().columns.toSeq === Seq("label", "id", "v", "note"))
    assert(t.read().count() === 40L)
    // partitions carried from v1 have no `note` column in their files
    assert(t.read().filter(col("note") === "new").select("id").collect().map(_.getString(0))
      .toSeq === Seq("id5"))
    assert(t.readVersion(1L).count() === 40L)
  }

  test("bucketsFor: the smallest power of two covering the largest partition at TargetBucketRows a bucket, at least 1") {
    val t = BucketSpec.TargetBucketRows
    assert(Seq(0L, 1L, t, t + 1, 2 * t, 2 * t + 1, 5 * t).map(BucketSpec.bucketsFor) ===
      Seq(1, 1, 1, 2, 2, 4, 8))
  }

  test("an undeclared count is sized by the first commit: one bucket per label for a small graph; later merges and full commits keep the manifest's count; a declared count is honoured") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    val schema = NodeSchema("Page", RowRef("id"))
    GraphMerge.load(spark, (0 until 400).map(i => s"page-$i").toDF("id"), schema,
      Map.empty, 100L, nodes, edges)
    GraphMerge.load(spark, Seq("e1", "e2").toDF("id"), NodeSchema("Entity", RowRef("id")),
      Map.empty, 100L, nodes, edges)
    def layout(t: SnapshotTable): (Option[Int], Set[String]) = {
      val v = t.latestVersion.get
      (t.recordedBuckets(v), t.partitionsOf(v).keySet)
    }
    assert(layout(nodes) === ((Some(1), Set("Page~b0", "Entity~b0"))))
    // a scoped merge follows the manifest, also from an open that
    // declares another count
    val declared8 = GraphTables.nodes(spark, root, buckets = Some(8))
    GraphMerge.load(spark, (400 until 800).map(i => s"page-$i").toDF("id"), schema,
      Map.empty, 200L, declared8, edges)
    assert(layout(nodes) === ((Some(1), Set("Page~b0", "Entity~b0"))))
    assert(nodes.readPartition("Page").get.count() === 800L)
    // an undeclared full commit keeps the recorded count
    nodes.commit(nodes.read(), 300L)
    assert(layout(nodes) === ((Some(1), Set("Page~b0", "Entity~b0"))))

    // a declared count lays out the first commit
    val other = tmp()
    val nodes4 = GraphTables.nodes(spark, other, buckets = Some(4))
    GraphMerge.load(spark, (0 until 400).map(i => s"page-$i").toDF("id"), schema,
      Map.empty, 100L, nodes4, GraphTables.edges(spark, other))
    assert(layout(nodes4) === ((Some(4), (0 until 4).map(b => s"Page~b$b").toSet)))
    // and an empty first batch commits nothing
    val empty = GraphTables.nodes(spark, tmp())
    assert(empty.rewrite(Seq.empty[(String, String)].toDF("label", "id"), 1L)(_ =>
      sys.error("an empty batch must not be written")) === None)
    assert(!empty.exists)
  }

  test("a partitioned table must be bucketed") {
    intercept[IllegalArgumentException] {
      SnapshotTable(spark, s"${tmp()}/t", Some("label"))
    }
  }
}

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
    Files.createTempDirectory("graftbucket").toString

  private def filesUnder(dir: Path): Map[String, Array[Byte]] =
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p))
      .toMap

  test("incremental node merge rewrites only touched buckets; untouched bucket files are carried by reference, byte-identical") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root, buckets = 8)
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
    val edges = GraphTables.edges(spark, root, buckets = 4)
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

  test("a bucketed open over an UNBUCKETED layout fails fast — unbucketed commits record 0, not nothing") {
    val root = tmp()
    val flat = SnapshotTable(spark, s"$root/t", Some("label"))
    val rows = (0 until 10).map(i => ("L", s"id$i", i.toLong))
      .toDF("label", "id", "v")
    flat.commit(rows, 1L)
    assert(flat.recordedBuckets(1L) === Some(0))
    // without the 0 record this open would compute 'L~b3'-style names,
    // read nothing, and carry every real partition forward — the silent
    // miss the manifest record exists to prevent
    val b8 = SnapshotTable(spark, s"$root/t", Some("label"),
      Some(BucketSpec(Seq("id"), 8)))
    val e = intercept[IllegalArgumentException] {
      b8.physicalValuesOf(rows.limit(1))
    }
    assert(e.getMessage.contains("0 buckets"), e.getMessage)
    intercept[IllegalArgumentException] {
      b8.commitPhysical(rows.limit(1), 2L, Seq("L"))
    }
    // the matching unbucketed instance keeps working
    assert(flat.physicalValuesOf(rows).nonEmpty)
  }

  test("manifest records the bucket count; a mismatched open fails fast on every SCOPED path, full reads and full commits stay layout-blind") {
    val root = tmp()
    val t8 = SnapshotTable(spark, s"$root/t", Some("label"),
      Some(BucketSpec(Seq("id"), 8)))
    val rows = (0 until 40).map(i => ("L", s"id$i", i.toLong))
      .toDF("label", "id", "v")
    t8.commit(rows, 1L)
    assert(t8.recordedBuckets(1L) === Some(8))

    val t4 = SnapshotTable(spark, s"$root/t", Some("label"),
      Some(BucketSpec(Seq("id"), 4)))
    // scoped read path (physicalValuesOf feeds readPhysical) fails fast
    val e1 = intercept[IllegalArgumentException] {
      t4.physicalValuesOf(rows.limit(1))
    }
    assert(e1.getMessage.contains("8 buckets"))
    // scoped commit path fails fast
    val e2 = intercept[IllegalArgumentException] {
      t4.commitPhysical(rows.limit(1), 2L, Seq("L~b0"))
    }
    assert(e2.getMessage.contains("8 buckets"))
    // full read is layout-blind (manifest dirs, no arithmetic)
    assert(t4.read().count() === 40)

    // a FULL commit under the new count IS the re-bucket: it rewrites
    // every partition and re-records the layout…
    val v2 = t4.commit(t4.read(), 3L)
    assert(t4.recordedBuckets(v2) === Some(4))
    assert(t4.read().count() === 40)
    // …after which the OLD instance is the mismatched one
    intercept[IllegalArgumentException] { t8.physicalValuesOf(rows.limit(1)) }
    // and time travel to the pre-rebucket layout still reads fine
    assert(t4.readVersion(1L).count() === 40)

    // legacy manifests (no bucket record) pass — the check is advisory
    // until the first recorded commit
    val mf = Paths.get(s"$root/t", "_manifest", s"v$v2.json")
    Files.writeString(mf,
      Files.readString(mf).replaceAll(""","buckets":4""", ""))
    assert(t8.physicalValuesOf(rows.limit(1)).nonEmpty)
  }
}

package graft.merge

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.model._

/** The endpoint index must (a) never change WHAT cleanup deletes — only
  * what it READS — and (b) actually prune: with many buckets and few
  * stale nodes the DETACH scan set is a strict subset of the edge
  * table's physical partitions.
  */
class EdgeIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private val buckets = 64

  private val custSchema = NodeSchema("Customer", RowRef("cid"),
    subResource = Some(SubResourceRel(targetLabel = "Nation",
      ref = KwargRef("nation_id"))))

  private def buildGraph(root: String, withIndex: Boolean)
      : (graft.snapshot.SnapshotTable, graft.snapshot.SnapshotTable,
         Option[EdgeEndpointIndex]) = {
    val nodes = GraphTables.nodes(spark, root, buckets)
    val edges = GraphTables.edges(spark, root, buckets)
    val ix = if (withIndex) Some(EdgeEndpointIndex(edges)) else None
    val nation = Seq(("1", "ALGERIA")).toDF("nid", "n_name")
    GraphMerge.load(spark, nation, NodeSchema("Nation", RowRef("nid")),
      Map.empty, 100L, nodes, edges, edgeIndex = ix)
    // 40 customers under nation 1 (RESOURCE edges), each with one order
    // edge (PLACED_BY, dynamic via upsertEdgeBatch) — two rel labels so
    // DETACH must cross rel partitions
    val cust = (1 to 40).map(i => (s"c$i", s"name$i")).toDF("cid", "c_name")
    GraphMerge.load(spark, cust, custSchema, Map("nation_id" -> "1"), 100L,
      nodes, edges, edgeIndex = ix)
    val placed = (1 to 40).map(i =>
      ("Order", s"o$i", "PLACED_BY", "Customer", s"c$i"))
      .toDF("src_label", "src_id", "rel_label", "dst_label", "dst_id")
      .withColumn("props", map().cast("map<string,string>"))
      .withColumn("firstseen", lit(100L)).withColumn("lastupdated", lit(100L))
    GraphMerge.upsertEdgeBatch(spark, placed, 100L, edges,
      edgeIndex = ix)
    (nodes, edges, ix)
  }

  /** Re-sync only customers c3..c40 at tag 200 → c1, c2 go stale. */
  private def resyncAndClean(nodes: graft.snapshot.SnapshotTable,
                             edges: graft.snapshot.SnapshotTable,
                             ix: Option[EdgeEndpointIndex]): CleanupStats = {
    val kept = (3 to 40).map(i => (s"c$i", s"name$i")).toDF("cid", "c_name")
    GraphMerge.load(spark, kept, custSchema, Map("nation_id" -> "1"), 200L,
      nodes, edges, edgeIndex = ix)
    Cleanup.run(spark, custSchema, Map("nation_id" -> "1"), 200L,
      nodes, edges, edgeIndex = ix)
  }

  test("index-backed cleanup deletes exactly what the full-scan path deletes") {
    val rootA = Files.createTempDirectory("ixa").toString
    val rootB = Files.createTempDirectory("ixb").toString
    val (nA, eA, ixA) = buildGraph(rootA, withIndex = true)
    val (nB, eB, _) = buildGraph(rootB, withIndex = false)
    val statsA = resyncAndClean(nA, eA, ixA)
    val statsB = resyncAndClean(nB, eB, None)
    assert(statsA === statsB)
    assert(statsA.nodesDeleted === 2)
    assert(statsA.edgesDeleted === 4, "RESOURCE + PLACED_BY per stale customer")
    def state(n: graft.snapshot.SnapshotTable, e: graft.snapshot.SnapshotTable) = (
      n.read().select("label", "id", "lastupdated")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet,
      e.read().select("src_id", "rel_label", "dst_id")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet)
    assert(state(nA, eA) === state(nB, eB))
    assert(!state(nA, eA)._2.exists(t => t._1 == "c1" || t._3 == "c1"))
  }

  test("DETACH scan set is a strict subset of the edge partitions, and superset-safe after deletes") {
    val root = Files.createTempDirectory("ixc").toString
    val (nodes, edges, Some(ix)) = buildGraph(root, withIndex = true): @unchecked
    val stale = Seq("c1", "c2").toDF("id")
    val scan = ix.edgePartitionsFor("Customer", stale)
    val allPvs = edges.partitionsOf(edges.latestVersion.get).keys.toSeq
    assert(scan.nonEmpty && scan.toSet.subsetOf(allPvs.toSet))
    assert(scan.size < allPvs.size / 2,
      s"expected strong pruning, scanned ${scan.size} of ${allPvs.size}")
    // every edge touching c1/c2 must live inside the named partitions
    val inScan = edges.readPhysical(scan).get
      .filter(col("src_id").isin("c1", "c2") || col("dst_id").isin("c1", "c2"))
      .count()
    assert(inScan === 4L)

    resyncAndClean(nodes, edges, Some(ix))
    // superset semantics: the index may still name partitions for the
    // deleted edges (reads find nothing); rebuild compacts them away
    val afterScan = ix.edgePartitionsFor("Customer", stale)
    assert(edges.readPhysical(afterScan).forall(
      _.filter(col("dst_id").isin("c1", "c2")).isEmpty))
    ix.rebuild(300L)
    assert(ix.edgePartitionsFor("Customer", stale) === Seq.empty,
      "rebuilt index holds no entries for fully-detached nodes")
    assert(ix.edgePartitionsFor("Customer", Seq("c3").toDF("id")).nonEmpty)
  }

  test("an un-indexed edge commit freezes coverage; cleanup falls back and still detaches everything") {
    val root = Files.createTempDirectory("ixd").toString
    val (nodes, edges, Some(ix)) = buildGraph(root, withIndex = true): @unchecked
    assert(ix.soundForDetach, "fully-indexed graph must be sound")
    // an edge commit that BYPASSES the index: the index never hears
    // about x1 -> c1, so index-backed DETACH would miss it
    val rogue = Seq(("Extra", "x1", "LINKED", "Customer", "c1"))
      .toDF("src_label", "src_id", "rel_label", "dst_label", "dst_id")
      .withColumn("props", map().cast("map<string,string>"))
      .withColumn("firstseen", lit(150L)).withColumn("lastupdated", lit(150L))
    GraphMerge.upsertEdgeBatch(spark, rogue, 150L, edges,
      edgeIndex = None)
    assert(!ix.soundForDetach, "bypassed commit must break the coverage chain")

    // cleanup with the (now unsound) index attached: the gate must route
    // to the full scan, which deletes the rogue edge too — no dangling
    // edges referencing the deleted nodes
    val stats = resyncAndClean(nodes, edges, Some(ix))
    assert(stats.nodesDeleted === 2)
    assert(stats.edgesDeleted === 5, "RESOURCE + PLACED_BY per stale customer + the rogue LINKED edge")
    val remaining = edges.read()
      .filter(col("src_id").isin("c1", "c2") || col("dst_id").isin("c1", "c2"))
    assert(remaining.isEmpty, "fallback sweep must leave no dangling edges")
    // a delete-only commit cannot repair a broken chain...
    assert(!ix.soundForDetach)
    // ...but a rebuild can
    ix.rebuild(300L)
    assert(ix.soundForDetach)
  }

  test("an index opened from any instance rebuilds sound under the edge table's layout") {
    val root = Files.createTempDirectory("ixg").toString
    val (_, edges, _) = buildGraph(root, withIndex = false) // layout: 64 buckets
    val stale = Seq("c1", "c2").toDF("id")
    val onDisk = edges.partitionsOf(edges.latestVersion.get).keySet
    val scans = Seq(8, 256, buckets).map { n =>
      val ix = EdgeEndpointIndex(GraphTables.edges(spark, root, n))
      ix.rebuild(200L + n)
      assert(ix.soundForDetach, s"index opened at $n buckets")
      val scan = ix.edgePartitionsFor("Customer", stale)
      assert(scan.nonEmpty && scan.toSet.subsetOf(onDisk), s"$n: $scan")
      assert(edges.readPhysical(scan).get
        .filter(col("src_id").isin("c1", "c2") || col("dst_id").isin("c1", "c2"))
        .count() === 4L, s"index opened at $n buckets misses edges")
      scan
    }
    assert(scans.distinct.size === 1, scans.toString)
  }

  test("rebuild adopts a NEW bucket count after the graph was re-bucketed via full commits") {
    val root = Files.createTempDirectory("ixh").toString
    val (nodes, edges, Some(ix)) = buildGraph(root, withIndex = true): @unchecked
    assert(ix.soundForDetach)
    // re-bucket nodes+edges the way SnapshotTable's own error message
    // prescribes: a full commit under the new arithmetic
    val newN = 16
    GraphTables.nodes(spark, root, newN).commit(nodes.read(), 300L)
    GraphTables.edges(spark, root, newN).commit(edges.read(), 300L)
    // the re-bucket bypassed the index: coverage is frozen…
    assert(!ix.soundForDetach)
    // …and a rebuild heals it, from an index opened at either count: the
    // edge_pvs follow the edge table's recorded layout
    ix.rebuild(300L)
    assert(ix.soundForDetach, "rebuild must re-cover after a re-bucket")
    val scan = ix.edgePartitionsFor("Customer", Seq("c1").toDF("id"))
    assert(scan.nonEmpty && scan.forall(pv => pv.substring(pv.lastIndexOf("~b") + 2).toInt < newN),
      scan.toString)
    val adopted = EdgeEndpointIndex(GraphTables.edges(spark, root, newN))
    adopted.rebuild(400L)
    assert(adopted.soundForDetach, "rebuild at the new count must re-cover")
    assert(adopted.edgePartitionsFor("Customer", Seq("c1").toDF("id")) === scan)
  }

  test("a crashed indexed write cannot pre-claim a version a later un-indexed commit takes") {
    val root = Files.createTempDirectory("ixf").toString
    val (_, edges, Some(ix)) = buildGraph(root, withIndex = true): @unchecked
    assert(ix.soundForDetach)
    // CRASH SIMULATION: the index is updated for an edge commit that
    // never happens (the writer died between the two non-atomic steps).
    // The pending claim names version latest+1 — which the next,
    // UN-indexed sync will take.
    val doomed = Seq(("Ghost", "g1", "LINKED", "Customer", "c1"))
      .toDF("src_label", "src_id", "rel_label", "dst_label", "dst_id")
      .withColumn("props", map().cast("map<string,string>"))
      .withColumn("firstseen", lit(150L)).withColumn("lastupdated", lit(150L))
    ix.update(doomed, 150L) // ... and no edge commit follows
    assert(ix.soundForDetach, "a stale pending claim alone must not flip soundness")
    val rogue = Seq(("Extra", "x1", "LINKED", "Customer", "c2"))
      .toDF("src_label", "src_id", "rel_label", "dst_label", "dst_id")
      .withColumn("props", map().cast("map<string,string>"))
      .withColumn("firstseen", lit(160L)).withColumn("lastupdated", lit(160L))
    GraphMerge.upsertEdgeBatch(spark, rogue, 160L, edges,
      edgeIndex = None)
    assert(!ix.soundForDetach,
      "the un-indexed commit took the pre-claimed version — coverage must NOT count it")
    // an indexed commit after the crash re-establishes nothing (the gap
    // stands); only rebuild heals
    GraphMerge.upsertEdgeBatch(spark, rogue, 170L, edges,
      edgeIndex = Some(ix))
    assert(!ix.soundForDetach)
    ix.rebuild(300L)
    assert(ix.soundForDetach)
  }

  test("attaching an index to a graph with pre-existing edge commits is unsound until rebuild") {
    val root = Files.createTempDirectory("ixe").toString
    // graph built WITHOUT the index
    val (_, edges, _) = buildGraph(root, withIndex = false)
    val late = EdgeEndpointIndex(edges)
    assert(!late.soundForDetach)
    // feeding it a new batch does not make history covered
    val more = Seq(("Order", "o99", "PLACED_BY", "Customer", "c9"))
      .toDF("src_label", "src_id", "rel_label", "dst_label", "dst_id")
      .withColumn("props", map().cast("map<string,string>"))
      .withColumn("firstseen", lit(150L)).withColumn("lastupdated", lit(150L))
    GraphMerge.upsertEdgeBatch(spark, more, 150L, edges,
      edgeIndex = Some(late))
    assert(!late.soundForDetach,
      "mid-life attach without rebuild must stay unsound")
    late.rebuild(200L)
    assert(late.soundForDetach)
  }
}

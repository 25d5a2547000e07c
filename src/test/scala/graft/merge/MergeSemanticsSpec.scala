package graft.merge

import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.link.Blocking
import graft.kg.AliasRow
import graft.model.{NodeSchema, RowRef}

/** Pins the hardened MERGE/blocking semantics:
  *  - declared-props merge on matched rows (a schema SETs its own keys;
  *    keys set by sibling schemas on the same node survive);
  *  - deterministic in-batch dedup (winner is a pure function of row
  *    values, not partition order);
  *  - chain-capped exact blocking (a surface form shared by hundreds of
  *    entities yields linear pairs, and CC still merges them all).
  */
class MergeSemanticsSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graftsem").toString

  test("matched upsert merges props: fresh keys win, sibling-schema keys survive") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)

    val schemaA = NodeSchema("Host", RowRef("id"),
      properties = Map("os" -> RowRef("os")))
    val schemaB = NodeSchema("Host", RowRef("id"),
      properties = Map("owner" -> RowRef("owner")))

    GraphMerge.load(spark, Seq(("h1", "linux")).toDF("id", "os"),
      schemaA, Map.empty, 100L, nodes, edges)
    GraphMerge.load(spark, Seq(("h1", "team-a")).toDF("id", "owner"),
      schemaB, Map.empty, 101L, nodes, edges)

    val p1 = nodes.read().filter(col("id") === "h1")
      .select("props").head().getMap[String, String](0).toMap
    assert(p1 === Map("os" -> "linux", "owner" -> "team-a"),
      "schema B's load must not wipe schema A's property")

    // A re-syncs with a new value: its key updates, B's key survives
    GraphMerge.load(spark, Seq(("h1", "bsd")).toDF("id", "os"),
      schemaA, Map.empty, 102L, nodes, edges)
    val p2 = nodes.read().filter(col("id") === "h1")
      .select("props").head().getMap[String, String](0).toMap
    assert(p2 === Map("os" -> "bsd", "owner" -> "team-a"))
    val r = nodes.read().filter(col("id") === "h1")
      .select("firstseen", "lastupdated").head()
    assert(r.getLong(0) === 100L && r.getLong(1) === 102L)
  }

  test("in-batch duplicate ids resolve deterministically regardless of partitioning") {
    val schema = NodeSchema("Doc", RowRef("id"),
      properties = Map("v" -> RowRef("v")))
    val batch = Seq(("d1", "alpha"), ("d1", "zeta"), ("d1", "mid"),
      ("d2", "only"))
    def winner(partitions: Int): Map[String, String] =
      GraphMerge.toNodeRows(
        batch.toDF("id", "v").repartition(partitions),
        schema, Map.empty, 100L)
        .select(col("id"), element_at(col("props"), "v"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val w1 = winner(1)
    val w8 = winner(8)
    assert(w1 === w8, "dedup winner must not depend on partitioning")
    assert(w1("d1") === "zeta", "greatest-JSON row wins deterministically")
    assert(w1("d2") === "only")
  }

  test("exact blocking chain-caps a surface form shared by hundreds of entities") {
    val shared = (0 until 300).map(i => AliasRow("acme corp", f"e$i%04d"))
    val local = Blocking.duplicateEntityEdgesLocal(shared)
    // chain, not all-pairs: linear in group size
    assert(local.size < 1000,
      s"expected O(m) chain pairs, got ${local.size} (all-pairs would be ~45k)")
    // connectivity preserved: CC over the chain merges all 300 entities
    val edges = local.map(p => (p.a, p.b)).toDF("u", "v")
    val all = shared.map(_.entity_id).distinct.toDF("id")
    val canon = graft.link.ConnectedComponents.run(spark, edges, all)
      .select("canonical_id").distinct().count()
    assert(canon === 1L, "all sharers of one alias must land in one component")

    // distributed path agrees pair-for-pair with the local path
    val dist = Blocking.duplicateEntityEdges(spark, shared.toDS())
      .collect().map(p => (p.a, p.b)).toSet
    assert(dist === local.map(p => (p.a, p.b)).toSet)
  }
}

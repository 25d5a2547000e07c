package graft.merge

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.model._
import graft.snapshot.SnapshotTable

/** Ports the reference's integration-test patterns (set-equality node/rel
  * assertions, tests/integration/util.py:11-61; staleness scenario,
  * tests/integration/cartography/intel/aws/test_emr.py:25-105) onto the
  * Spark merge engine, plus the FIXTURES.md §5 scenarios.
  */
class GraphMergeSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graftmerge").toString

  private def nodesOf(t: SnapshotTable): Set[(String, String, Long, Long)] =
    t.read().select("label", "id", "firstseen", "lastupdated")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet

  private def relsOf(t: SnapshotTable): Set[(String, String, String, String, String)] =
    t.read().select("src_label", "src_id", "rel_label", "dst_label", "dst_id")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4))).toSet

  private val accountSchema = NodeSchema(
    label = "Account", idRef = RowRef("aid"),
    properties = Map("name" -> RowRef("name")))

  private val assetSchema = NodeSchema(
    label = "Asset", idRef = RowRef("id"),
    properties = Map("name" -> RowRef("name"), "region" -> KwargRef("region")),
    extraLabels = Seq("Resource"),
    subResource = Some(SubResourceRel(targetLabel = "Account",
      ref = KwargRef("account_id"))),
    otherRels = Seq(
      RelSchema("USES", "Asset", LinkDirection.Outward,
        Seq(TargetMatcher("id", RowRef("uses_id"))))))

  test("upsert preserves firstseen and advances lastupdated (scenario 1)") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    val accounts = Seq(("acct1", "prod")).toDF("aid", "name")
    GraphMerge.load(spark, accounts, accountSchema, Map.empty, 100L, nodes, edges)

    val b1 = Seq(("a1", "alpha", null.asInstanceOf[String]),
                 ("a2", "beta", "a1")).toDF("id", "name", "uses_id")
    GraphMerge.load(spark, b1, assetSchema,
      Map("account_id" -> "acct1", "region" -> "us-east-1"), 100L, nodes, edges)

    // overlapping reload at T2 with a renamed a2 and a new a3
    val b2 = Seq(("a2", "beta2", "a1"), ("a3", "gamma", "a2"))
      .toDF("id", "name", "uses_id")
    GraphMerge.load(spark, b2, assetSchema,
      Map("account_id" -> "acct1", "region" -> "us-east-1"), 200L, nodes, edges)

    assert(nodesOf(nodes) === Set(
      ("Account", "acct1", 100L, 100L),
      ("Asset", "a1", 100L, 100L),   // untouched by b2
      ("Asset", "a2", 100L, 200L),   // firstseen preserved, lastupdated advanced
      ("Asset", "a3", 200L, 200L)))
    // renamed prop won
    val a2name = nodes.read().filter($"id" === "a2")
      .select(element_at($"props", "name")).head().getString(0)
    assert(a2name === "beta2")
    // kwarg-bound prop present
    val a3region = nodes.read().filter($"id" === "a3")
      .select(element_at($"props", "region")).head().getString(0)
    assert(a3region === "us-east-1")
    assert(relsOf(edges) === Set(
      ("Account", "acct1", "RESOURCE", "Asset", "a1"),
      ("Account", "acct1", "RESOURCE", "Asset", "a2"),
      ("Account", "acct1", "RESOURCE", "Asset", "a3"),
      ("Asset", "a2", "USES", "Asset", "a1"),
      ("Asset", "a3", "USES", "Asset", "a2")))
    // edge firstseen preserved across reload
    val usesA1 = edges.read().filter($"rel_label" === "USES" && $"dst_id" === "a1")
      .select("firstseen", "lastupdated").head()
    assert((usesA1.getLong(0), usesA1.getLong(1)) === (100L, 200L))
  }

  test("sub-resource attach skips silently when container absent") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    val b = Seq(("a1", "alpha", null.asInstanceOf[String])).toDF("id", "name", "uses_id")
    GraphMerge.load(spark, b, assetSchema,
      Map("account_id" -> "ghost", "region" -> "r"), 100L, nodes, edges)
    assert(nodesOf(nodes).map(_._2) === Set("a1"))
    assert(!edges.exists, "no edge may be committed when every matcher misses")
  }

  private def assets(ids: String*): DataFrame =
    ids.map(i => (i, s"n-$i", null.asInstanceOf[String])).toDF("id", "name", "uses_id")

  test("cleanup of a label whose last node an earlier cleanup deleted is a no-op") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    val kw = Map("account_id" -> "acct1", "region" -> "r")
    GraphMerge.load(spark, Seq(("acct1", "p")).toDF("aid", "name"),
      accountSchema, Map.empty, 100L, nodes, edges)
    def syncAssets(tag: Long, ids: String*): CleanupStats = {
      GraphMerge.load(spark, assets(ids: _*), assetSchema, kw, tag, nodes, edges)
      Cleanup.run(spark, assetSchema, kw, tag, nodes, edges)
    }
    assert(syncAssets(100L, "a1") === CleanupStats(0L, 0L))
    // the tenant's last asset goes: node + its RESOURCE edge
    assert(syncAssets(200L) === CleanupStats(1L, 1L))
    assert(nodes.readPartition("Asset").isEmpty, "the label left the manifest")
    // a later sync of the still-empty tenant must not throw
    assert(syncAssets(300L) === CleanupStats(0L, 0L))
    assert(nodesOf(nodes).map(_._2) === Set("acct1"))
  }

  test("a cleanup that throws releases every frame it cached") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    val kw = Map("account_id" -> "acct1", "region" -> "r")
    GraphMerge.load(spark, Seq(("acct1", "p")).toDF("aid", "name"),
      accountSchema, Map.empty, 100L, nodes, edges)
    GraphMerge.load(spark, assets("a1", "a2"), assetSchema, kw, 100L, nodes, edges)
    // a legacy manifest (no bucket count): the label read works, and the
    // bucket-scoped commit of the stale rows fails after the frames are
    // cached
    val mf = java.nio.file.Paths.get(root, "nodes", "_manifest",
      s"v${nodes.latestVersion.get}.json")
    Files.writeString(mf, Files.readString(mf).replaceAll(""","buckets":\d+""", ""))
    spark.catalog.clearCache()
    intercept[IllegalStateException] {
      Cleanup.run(spark, assetSchema, kw, 200L, nodes, edges)
    }
    assert(spark.sharedState.cacheManager.isEmpty, "Cleanup.run leaked a cached frame")
    intercept[IllegalStateException] {
      Cleanup.clearProperties(spark, nodes, "Asset", Seq("name"), 200L)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "Cleanup.clearProperties leaked a cached frame")

    // the same with the failure on the concurrent edge branch: a legacy
    // EDGE manifest fails the edge commit, while the node commit on the
    // calling thread succeeds. The caller gets the edge branch's
    // exception, once the node branch has committed, and nothing stays
    // cached.
    val root2 = tmp()
    val nodes2 = GraphTables.nodes(spark, root2)
    val edges2 = GraphTables.edges(spark, root2)
    GraphMerge.load(spark, Seq(("acct1", "p")).toDF("aid", "name"),
      accountSchema, Map.empty, 100L, nodes2, edges2)
    GraphMerge.load(spark, assets("a1", "a2"), assetSchema, kw, 100L, nodes2, edges2)
    val nodesBase = nodes2.latestVersion.get
    val emf = java.nio.file.Paths.get(root2, "edges", "_manifest",
      s"v${edges2.latestVersion.get}.json")
    Files.writeString(emf, Files.readString(emf).replaceAll(""","buckets":\d+""", ""))
    spark.catalog.clearCache()
    val e = intercept[IllegalStateException] {
      Cleanup.run(spark, assetSchema, kw, 200L, nodes2, edges2)
    }
    assert(e.getMessage.contains("records no bucket count"), e.getMessage)
    assert(nodes2.latestVersion === Some(nodesBase + 1), "the node branch did not commit")
    assert(nodesOf(nodes2).map(_._2) === Set("acct1"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "a failed edge branch leaked a cached frame")
  }

  test("a 2-row load into an existing graph runs at most 17 Spark jobs") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    val kw = Map("account_id" -> "acct1", "region" -> "r")
    GraphMerge.load(spark, Seq(("acct1", "p")).toDF("aid", "name"),
      accountSchema, Map.empty, 100L, nodes, edges)
    GraphMerge.load(spark, assets("a1", "a2"), assetSchema, kw, 100L, nodes, edges)
    val (_, jobs) = sparkJobs(
      GraphMerge.load(spark, assets("a2", "a3"), assetSchema, kw, 200L, nodes, edges))
    assert(jobs <= 17, s"the load ran $jobs Spark jobs")
    assert(relsOf(edges).count(_._3 == "RESOURCE") === 3)
  }

  test("a cleanup that deletes stale nodes and their edges runs at most 23 Spark jobs") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    val kw = Map("account_id" -> "acct1", "region" -> "r")
    GraphMerge.load(spark, Seq(("acct1", "p")).toDF("aid", "name"),
      accountSchema, Map.empty, 100L, nodes, edges)
    GraphMerge.load(spark, Seq(("a1", "n", null.asInstanceOf[String]), ("a2", "n", "a1"),
      ("a3", "n", "a2")).toDF("id", "name", "uses_id"), assetSchema, kw, 100L, nodes, edges)
    GraphMerge.load(spark, assets("a1"), assetSchema, kw, 200L, nodes, edges)
    // a2 and a3 go stale: their two RESOURCE edges and both USES edges
    val (stats, jobs) = sparkJobs(Cleanup.run(spark, assetSchema, kw, 200L, nodes, edges))
    assert(stats === CleanupStats(2L, 4L))
    info(s"deleting cleanup: $jobs jobs")
    assert(jobs <= 23, s"the cleanup ran $jobs Spark jobs")
    // nothing is stale any more: a cleanup that commits nothing
    val (again, idle) = sparkJobs(Cleanup.run(spark, assetSchema, kw, 200L, nodes, edges))
    assert(again === CleanupStats(0L, 0L))
    info(s"idle cleanup: $idle jobs")
    assert(idle <= 11, s"the idle cleanup ran $idle Spark jobs")
    assert(nodesOf(nodes).map(_._2) === Set("acct1", "a1"))
    assert(relsOf(edges) === Set(("Account", "acct1", "RESOURCE", "Asset", "a1")))
  }

  test("cleanup deletes stale tenant-scoped facts, spares other tenants (scenario 2)") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    GraphMerge.load(spark, Seq(("acct1", "p"), ("acct2", "q")).toDF("aid", "name"),
      accountSchema, Map.empty, 100L, nodes, edges)
    def loadAssets(ids: Seq[String], acct: String, tag: Long): Unit =
      GraphMerge.load(spark,
        ids.map(i => (i, s"n-$i", null.asInstanceOf[String])).toDF("id", "name", "uses_id"),
        assetSchema, Map("account_id" -> acct, "region" -> "r"), tag, nodes, edges)

    loadAssets(Seq("x1", "x2"), "acct1", 100L)
    loadAssets(Seq("y1"), "acct2", 100L)
    // re-sync acct1 at T2 with x2 gone
    loadAssets(Seq("x1"), "acct1", 200L)
    val stats = Cleanup.run(spark, assetSchema, Map("account_id" -> "acct1"),
      200L, nodes, edges)
    assert(stats.nodesDeleted === 1L)
    val ids = nodesOf(nodes).map(_._2)
    assert(ids.contains("x1") && !ids.contains("x2"))
    assert(ids.contains("y1"), "other tenant must be untouched (test_emr.py:72-105)")
    assert(relsOf(edges) === Set(
      ("Account", "acct1", "RESOURCE", "Asset", "x1"),
      ("Account", "acct2", "RESOURCE", "Asset", "y1")))
  }

  test("DETACH over 64 buckets drops a stale node's edges under every rel label") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root, Some(64))
    val edges = GraphTables.edges(spark, root, Some(64))
    val custSchema = NodeSchema("Customer", RowRef("cid"),
      subResource = Some(SubResourceRel(targetLabel = "Nation",
        ref = KwargRef("nation_id"))))
    val kw = Map("nation_id" -> "1")
    def customers(range: Range): DataFrame =
      range.map(i => (s"c$i", s"name$i")).toDF("cid", "c_name")
    def edgeRows(rows: (String, String, String, String, String)*): DataFrame =
      rows.toDF("src_label", "src_id", "rel_label", "dst_label", "dst_id")
        .withColumn("props", map().cast("map<string,string>"))
        .withColumn("firstseen", lit(100L)).withColumn("lastupdated", lit(100L))
    GraphMerge.load(spark, Seq("1").toDF("nid"), NodeSchema("Nation", RowRef("nid")),
      Map.empty, 100L, nodes, edges)
    // declared RESOURCE edges from the load, an undeclared dynamic
    // PLACED_BY label, and a LINKED edge from another node label
    GraphMerge.load(spark, customers(1 to 40), custSchema, kw, 100L, nodes, edges)
    GraphMerge.upsertEdgeBatch(spark, edgeRows((1 to 40).map(i =>
      ("Order", s"o$i", "PLACED_BY", "Customer", s"c$i")): _*), 100L, edges)
    GraphMerge.upsertEdgeBatch(spark,
      edgeRows(("Extra", "x1", "LINKED", "Customer", "c1")), 100L, edges)
    // re-sync c3..c40 only: c1 and c2 go stale
    GraphMerge.load(spark, customers(3 to 40), custSchema, kw, 200L, nodes, edges)
    assert(Cleanup.run(spark, custSchema, kw, 200L, nodes, edges) === CleanupStats(2L, 5L))
    val gone = Set("c1", "c2")
    assert(!nodesOf(nodes).exists(n => gone(n._2)))
    val rels = relsOf(edges)
    assert(!rels.exists(e => gone(e._2) || gone(e._5)), "an edge touches a deleted node")
    assert(rels.count(_._3 == "PLACED_BY") === 38 && rels.count(_._3 == "RESOURCE") === 38)
  }

  test("one-to-many matcher attaches a row to every listed target (scenario 3)") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    val groupSchema = NodeSchema("Group", RowRef("gid"),
      properties = Map("name" -> RowRef("name")))
    GraphMerge.load(spark, Seq(("g1", "g"), ("g2", "h"), ("g3", "i")).toDF("gid", "name"),
      groupSchema, Map.empty, 1L, nodes, edges)
    val memberSchema = NodeSchema("User", RowRef("uid"),
      otherRels = Seq(RelSchema("MEMBER_OF", "Group", LinkDirection.Outward,
        Seq(TargetMatcher("id", RowRef("group_ids"), MatchMode.OneToMany)))))
    val users = Seq(("u1", Seq("g1", "g3"))).toDF("uid", "group_ids")
    GraphMerge.load(spark, users, memberSchema, Map.empty, 1L, nodes, edges)
    assert(relsOf(edges) === Set(
      ("User", "u1", "MEMBER_OF", "Group", "g1"),
      ("User", "u1", "MEMBER_OF", "Group", "g3")))
  }

  test("ignore_case and fuzzy contains matchers") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    val empSchema = NodeSchema("Employee", RowRef("eid"),
      properties = Map("email" -> RowRef("email")))
    GraphMerge.load(spark,
      Seq(("e1", "Alice@Corp.COM"), ("e2", "bob-dev@corp.com")).toDF("eid", "email"),
      empSchema, Map.empty, 1L, nodes, edges)
    val ghSchema = NodeSchema("GithubUser", RowRef("gid"),
      otherRels = Seq(
        RelSchema("IDENTITY", "Employee", LinkDirection.Outward,
          Seq(TargetMatcher("email", RowRef("email"), MatchMode.IgnoreCase))),
        RelSchema("FUZZY_ID", "Employee", LinkDirection.Outward,
          Seq(TargetMatcher("email", RowRef("handle"), MatchMode.FuzzyContains)))))
    GraphMerge.load(spark,
      Seq(("gh1", "alice@corp.com", "zzz"), ("gh2", "none@none", "BOB-DEV")).toDF("gid", "email", "handle"),
      ghSchema, Map.empty, 1L, nodes, edges)
    val rels = relsOf(edges)
    assert(rels.contains(("GithubUser", "gh1", "IDENTITY", "Employee", "e1")))
    assert(rels.contains(("GithubUser", "gh2", "FUZZY_ID", "Employee", "e2")))
    assert(!rels.exists(r => r._3 == "IDENTITY" && r._2 == "gh2"))
  }

  test("snapshot time travel reads historical versions") {
    val root = tmp()
    val t = GraphTables.nodes(spark, root)
    t.commit(Seq(("A", "1")).toDF("label", "id"), 10L)
    t.commit(Seq(("A", "1"), ("A", "2")).toDF("label", "id"), 20L)
    assert(t.versions === Seq(1L, 2L))
    assert(t.readVersion(1L).count() === 1L)
    assert(t.readVersion(2L).count() === 2L)
    assert(t.updateTagOf(2L) === 20L)
  }
}

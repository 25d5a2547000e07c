package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.core.Graft
import graft.merge.{Cleanup, GraphMerge, GraphTables}
import graft.model._
import graft.snapshot.SnapshotTable

/** Driver-checkable exercises of the graph engine: each query runs real
  * GraphMerge/Cleanup loads against throwaway snapshot tables and
  * returns the resulting graph state; the DuckDB oracle recomputes the
  * *expected* state arithmetically from the same input tables — any
  * deviation in merge/cleanup/drift semantics shows up as a hash
  * mismatch.
  *
  * Domain mapping: Nation = the sub-resource container (AWSAccount
  * analog), Customer = the asset being synced.
  */
object GraphOps {

  private val nationSchema = NodeSchema("Nation", RowRef("nid"),
    properties = Map("name" -> RowRef("n_name")))

  private val customerSchema = NodeSchema("Customer", RowRef("cid"),
    properties = Map("name" -> RowRef("c_name"), "segment" -> RowRef("c_mktsegment")),
    subResource = Some(SubResourceRel(targetLabel = "Nation",
      ref = KwargRef("nation_id"))))

  private def tempRoot(): String =
    graft.core.Graft.scratchDir("graftq")

  private def customersOf(spark: SparkSession, sfDir: String, nationKey: Int): DataFrame =
    Graft.table(spark, sfDir, "customer")
      .filter(col("c_nationkey") === nationKey)
      .select(col("c_custkey").cast("string").as("cid"),
        col("c_name"), col("c_mktsegment"))

  private def loadNation(spark: SparkSession, sfDir: String, nationKey: Int,
                         nodes: SnapshotTable, edges: SnapshotTable): Unit = {
    val nat = Graft.table(spark, sfDir, "nation")
      .filter(col("n_nationkey") === nationKey)
      .select(col("n_nationkey").cast("string").as("nid"), col("n_name"))
    GraphMerge.load(spark, nat, nationSchema, Map.empty, 100L, nodes, edges)
  }

  /** Upsert semantics end-to-end: T1 loads the even-keyed half of nation
    * 1's customers, T2 loads all of them; firstseen must be preserved for
    * the half seen at T1.
    */
  def q13GraphUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val root = tempRoot()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    loadNation(spark, sfDir, 1, nodes, edges)
    val all = customersOf(spark, sfDir, 1)
    val kw = Map("nation_id" -> "1")
    GraphMerge.load(spark, all.filter(col("cid").cast("long") % 2 === 0),
      customerSchema, kw, 100L, nodes, edges)
    GraphMerge.load(spark, all, customerSchema, kw, 200L, nodes, edges)
    nodes.read().filter(col("label") === "Customer")
      .select(col("id"), col("firstseen"), col("lastupdated"),
        element_at(col("props"), "segment").as("segment"))
      .orderBy(col("id"))
  }

  /** Cleanup semantics end-to-end: T1 loads all of nation 1's customers,
    * T2 re-syncs only the even half and runs cleanup; the odd half must
    * vanish (nodes AND their RESOURCE edges) while the even half keeps
    * firstseen = 100.
    */
  def q14GraphCleanup(spark: SparkSession, sfDir: String): DataFrame = {
    val root = tempRoot()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    loadNation(spark, sfDir, 1, nodes, edges)
    val all = customersOf(spark, sfDir, 1)
    val kw = Map("nation_id" -> "1")
    GraphMerge.load(spark, all, customerSchema, kw, 100L, nodes, edges)
    GraphMerge.load(spark, all.filter(col("cid").cast("long") % 2 === 0),
      customerSchema, kw, 200L, nodes, edges)
    Cleanup.run(spark, customerSchema, kw, 200L, nodes, edges)
    val nodeSide = nodes.read().filter(col("label") === "Customer")
      .select(col("id"), col("firstseen"), col("lastupdated"))
    val edgeSide = edges.read().filter(col("rel_label") === "RESOURCE")
      .groupBy(col("dst_id").as("id")).agg(count(lit(1)).as("n_res_edges"))
    nodeSide.join(edgeSide, Seq("id"), "left")
      .select(col("id"), col("firstseen"), col("lastupdated"),
        coalesce(col("n_res_edges"), lit(0L)).as("n_res_edges"))
      .orderBy(col("id"))
  }

  /** Incremental windowed sync — the CVE-feed shape (windowed fetch +
    * last-modified incremental, cartography/intel/cve/feed.py:98-173)
    * over `warc_ts`: sync T1 covers the first 60% of the time range,
    * sync T2 the last 60% (20% overlap). Rows seen in both windows must
    * keep firstseen = 100 with lastupdated advanced to 200; the
    * freshness tags are exactly the reference's update_tag semantics.
    */
  def q24IncrementalSync(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.kg.Corpus
    val root = tempRoot()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    val docs = Graft.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("i"))
    val n = docs.count()
    val aEnd = Corpus.tsOf(n * 6 / 10)   // exclusive upper bound of window A
    val bStart = Corpus.tsOf(n * 4 / 10) // inclusive lower bound of window B
    val pages = docs.select(
      concat(lit("https://host"), col("i") % 50, lit(".example/p/"), col("i")).as("pid"),
      (lit(Corpus.tsOf(0).getTime / 1000).cast("long") + col("i") * 60).cast("timestamp").as("warc_ts"))
    val schema = NodeSchema("Page", RowRef("pid"))
    // warc_ts range predicates prune at the scan (PushedFilters)
    GraphMerge.load(spark, pages.filter(col("warc_ts") < lit(aEnd)),
      schema, Map.empty, 100L, nodes, edges)
    GraphMerge.load(spark, pages.filter(col("warc_ts") >= lit(bStart)),
      schema, Map.empty, 200L, nodes, edges)
    nodes.read().filter(col("label") === "Page")
      .select(col("id"), col("firstseen"), col("lastupdated"))
      .orderBy(col("id"))
  }

  /** Snapshot TIME TRAVEL (the Iceberg `VERSION AS OF` analog the
    * snapshot tables keep every manifest for): replay q24's two-window
    * incremental sync, then read the node table at its FIRST committed
    * version and at its latest, full-outer-joined per id. Proves, with
    * a full value oracle recomputing both states from doc_id
    * arithmetic, that (a) old versions stay byte-stable after later
    * commits, (b) the upsert preserved firstseen across versions, and
    * (c) B-only rows are absent (null) from the v1 read — the
    * point-in-time audit read the reference's drift detector
    * approximates with JSON state files (driftdetect/get_states.py).
    */
  def q34TimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.kg.Corpus
    val root = tempRoot()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    val docs = Graft.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("i"))
    val n = docs.count()
    val aEnd = Corpus.tsOf(n * 6 / 10)
    val bStart = Corpus.tsOf(n * 4 / 10)
    val pages = docs.select(
      concat(lit("https://host"), col("i") % 50, lit(".example/p/"), col("i")).as("pid"),
      (lit(Corpus.tsOf(0).getTime / 1000).cast("long") + col("i") * 60).cast("timestamp").as("warc_ts"))
    val schema = NodeSchema("Page", RowRef("pid"))
    GraphMerge.load(spark, pages.filter(col("warc_ts") < lit(aEnd)),
      schema, Map.empty, 100L, nodes, edges)
    GraphMerge.load(spark, pages.filter(col("warc_ts") >= lit(bStart)),
      schema, Map.empty, 200L, nodes, edges)
    val vs = nodes.versions
    val v1 = nodes.readVersion(vs.head).filter(col("label") === "Page")
      .select(col("id"), col("firstseen").as("fs_v1"),
        col("lastupdated").as("lu_v1"))
    val v2 = nodes.readVersion(vs.last).filter(col("label") === "Page")
      .select(col("id"), col("firstseen").as("fs_v2"),
        col("lastupdated").as("lu_v2"))
    v1.join(v2, Seq("id"), "full_outer")
      .select(col("id"), col("fs_v1"), col("lu_v1"), col("fs_v2"), col("lu_v2"))
      .orderBy(col("id"))
  }

  /** q39: row-level changelog between two snapshot versions — the
    * Iceberg CDC-read analog ([[SnapshotTable.changelog]]): nation 1's
    * customers committed twice (v1 = even keys; v2 = keys divisible by
    * 3, with the segment REWRITTEN for keys divisible by 12), read back
    * as insert / delete / update rows with before/after values.
    * Unchanged rows (k ≡ 6 mod 12) prove the quiet path: present in
    * both versions, absent from the changelog. The read is
    * manifest-pruned — only buckets whose data-dir refs differ between
    * the two manifests are opened (q15's drift diff reads both full
    * versions; this is its scale shape).
    */
  def q39Changelog(spark: SparkSession, sfDir: String): DataFrame = {
    val root = tempRoot()
    val t = SnapshotTable(spark, s"$root/snap", Some("label"),
      Some(graft.snapshot.BucketSpec(Seq("id"), Some(4))))
    val all = customersOf(spark, sfDir, 1)
      .select(lit("Customer").as("label"), col("cid").as("id"),
        col("c_mktsegment").as("seg"), col("cid").cast("long").as("k"))
    t.commit(all.filter(col("k") % 2 === 0).drop("k"), 100L)
    t.commit(all.filter(col("k") % 3 === 0)
      .select(col("label"), col("id"),
        when(col("k") % 12 === 0, concat(lit("CHANGED-"), col("seg")))
          .otherwise(col("seg")).as("seg")), 200L)
    t.changelog(1L, 2L, Seq("label", "id"))
      .select(col("id"), col("op"),
        col("_before.seg").as("seg_before"), col("_after.seg").as("seg_after"))
      .orderBy("id")
  }

  /** Drift detection (driftdetect/detect_deviations.py:66-112): diff two
    * snapshot versions in both directions via anti-joins.
    */
  def q15Drift(spark: SparkSession, sfDir: String): DataFrame = {
    val root = tempRoot()
    // bucketed on purpose: drift/time-travel must work on the bucketed layout
    val t = SnapshotTable(spark, s"$root/snap", Some("label"),
      Some(graft.snapshot.BucketSpec(Seq("id"), Some(4))))
    val all = customersOf(spark, sfDir, 1)
      .select(lit("Customer").as("label"), col("cid").as("id"))
    t.commit(all.filter(col("id").cast("long") % 2 === 0), 100L)
    t.commit(all.filter(col("id").cast("long") % 3 === 0), 200L)
    val v1 = t.readVersion(1L)
    val v2 = t.readVersion(2L)
    val added = v2.join(v1, Seq("label", "id"), "left_anti")
      .withColumn("direction", lit("added"))
    val removed = v1.join(v2, Seq("label", "id"), "left_anti")
      .withColumn("direction", lit("removed"))
    added.unionByName(removed).select(col("id"), col("direction"))
      .orderBy(col("direction"), col("id"))
  }

  /** q25: property-clearing scan — the REMOVE n.flag analog
    * (data/jobs/analysis/aws_ec2_asset_exposure.json stmts 1-4). Loads
    * nation 1's customers with an `exposed` flag on every node, clears
    * the flag from the BUILDING segment, and returns the surviving flag
    * per node; the oracle recomputes the expected flag arithmetically.
    */
  def q25ClearProps(spark: SparkSession, sfDir: String): DataFrame = {
    val root = tempRoot()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    val schema = NodeSchema("Customer", RowRef("cid"),
      properties = Map("segment" -> RowRef("c_mktsegment"),
        "exposed" -> KwargRef("exposed")))
    GraphMerge.load(spark, customersOf(spark, sfDir, 1), schema,
      Map("exposed" -> "true"), 100L, nodes, edges)
    Cleanup.clearProperties(spark, nodes, "Customer", Seq("exposed"), 200L,
      predicate = element_at(col("props"), "segment") === "BUILDING")
    nodes.read().filter(col("label") === "Customer")
      .select(col("id"),
        element_at(col("props"), "segment").as("segment"),
        element_at(col("props"), "exposed").as("exposed"))
      .orderBy(col("id"))
  }

  /** q26: data-driven analysis job (jobs-as-data + parameter validation,
    * cartography/graph/job.py:23-53,137-150 + intel/analysis.py:12-42):
    * the job definition below is DATA (json), not code — statement 1
    * clears stale exposure flags (the REMOVE analog), statement 2
    * re-derives the flagged set from a validated $THRESHOLD parameter,
    * statement 3 reports it.
    */
  def q26AnalysisJob(spark: SparkSession, sfDir: String): DataFrame = {
    val jobJson =
      """{ "name": "customer exposure analysis",
        |  "statements": [
        |   {"query": "SELECT id, map_filter(props, (k, v) -> k != 'exposed') AS props FROM nodes",
        |    "updates": "nodes", "iterative": true, "iterationsize": 1000},
        |   {"query": "SELECT id, element_at(props, 'segment') AS segment FROM nodes WHERE CAST(element_at(props, 'acctbal') AS DOUBLE) > $THRESHOLD",
        |    "updates": "flagged"},
        |   {"query": "SELECT segment, COUNT(*) AS n_flagged, (SELECT COUNT(*) FROM nodes WHERE map_contains_key(props, 'exposed')) AS exposed_left FROM flagged GROUP BY segment ORDER BY segment"}
        |  ]}""".stripMargin
    val job = graft.jobs.GraphJob.fromJson(jobJson)
    val cust = graft.core.Graft.table(spark, sfDir, "customer")
      .filter(col("c_nationkey") === 1)
    val baseProps = map(
      lit("segment"), col("c_mktsegment"),
      lit("acctbal"), col("c_acctbal").cast("string"))
    val nodes0 = cust.select(
      col("c_custkey").cast("string").as("id"),
      when(col("c_custkey") % 3 === 0,
        map_concat(baseProps, map(lit("exposed"), lit("stale"))))
        .otherwise(baseProps).as("props"))
    val (_, out) = job.run(spark, Map("nodes" -> nodes0),
      Map("THRESHOLD" -> "5000.0"))
    out.get
  }

  /** q42: the SHIPPED analysis-job corpus end-to-end — loads real job
    * FILES from `data/jobs/analysis/` (the repo's analog of the
    * reference's in-package job library, cartography/data/jobs/
    * analysis *.json via intel/analysis.py:12-42), runs three of them
    * against a deterministic graph slice built from the TPC-H tables,
    * and unions their report outputs. The oracle recomputes every
    * report row arithmetically, so a drift in ANY of: the job JSON on
    * disk, the `$param` binding, the statement-chaining view semantics,
    * or the jobs' SQL itself shows up as a value mismatch.
    *
    * Graph slice: nation-1 customers (exposed when acctbal > 7000;
    * odd keys stale at tag 200) and nation-1/2 suppliers (exposed when
    * acctbal > 5000) as nodes; distinct (lineitem supplier → order
    * customer) SUPPLIES edges, deliberately NOT filtered to the
    * supplier node set so out-of-scope suppliers are genuine dangling
    * sources for the audit job.
    */
  def q42ShippedJobs(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.jobs.GraphJob.shippedDir.getOrElse(
      sys.error("shipped analysis-job corpus not found (data/jobs/analysis)"))
    def load(stem: String) = graft.jobs.GraphJob.fromJson(
      Files.readString(java.nio.file.Paths.get(dir, s"$stem.json")))
    val noProps = map().cast("map<string,string>")
    val cust = Graft.table(spark, sfDir, "customer")
      .filter(col("c_nationkey") === 1)
    val custNodes = cust.select(
      lit("Customer").as("label"),
      col("c_custkey").cast("string").as("id"),
      when(col("c_acctbal") > 7000, map(lit("exposed"), lit("true")))
        .otherwise(noProps).as("props"),
      lit("nation:1").as("sub_resource_id"),
      lit(100L).as("firstseen"),
      when(col("c_custkey") % 2 === 0, 200L).otherwise(100L)
        .as("lastupdated"))
    val suppNodes = Graft.table(spark, sfDir, "supplier")
      .filter(col("s_nationkey").isin(1, 2))
      .select(
        lit("Supplier").as("label"),
        col("s_suppkey").cast("string").as("id"),
        when(col("s_acctbal") > 5000, map(lit("exposed"), lit("true")))
          .otherwise(noProps).as("props"),
        concat(lit("nation:"), col("s_nationkey")).as("sub_resource_id"),
        lit(100L).as("firstseen"),
        lit(200L).as("lastupdated"))
    val nodes = custNodes.unionByName(suppNodes)
    val edges = Graft.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Graft.table(spark, sfDir, "orders")
          .join(cust.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        lit("Supplier").as("src_label"),
        col("l_suppkey").cast("string").as("src_id"),
        lit("SUPPLIES").as("rel_label"),
        lit("Customer").as("dst_label"),
        col("o_custkey").cast("string").as("dst_id"))
      .distinct()
      .select(col("*"), noProps.as("props"), lit(200L).as("firstseen"),
        lit(200L).as("lastupdated"))
    val views = Map("nodes" -> nodes, "edges" -> edges)
    Seq("exposure_propagation", "stale_asset_report", "dangling_edge_audit")
      .map { stem =>
        val (_, read) = load(stem).run(spark, views,
          Map("UPDATE_TAG" -> "200"))
        read.getOrElse(sys.error(s"shipped job $stem has no read statement"))
          .select(lit(stem).as("job"), col("metric"), col("k"), col("n"))
      }
      .reduce(_ unionByName _)
      .orderBy("job", "metric", "k")
  }

  /** q27: canonicalized drift-state artifacts + validated both-direction
    * diff (driftdetect/get_states.py:130-161, detect_deviations.py:
    * 66-112). Two states of the same validation query over different
    * sync snapshots; array props exercise the sort+pipe-join
    * canonicalization; diff rows come back as a DataFrame.
    */
  def q27DriftStates(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.drift.DriftStates
    val cust = customersOf(spark, sfDir, 1)
    val ord = Graft.table(spark, sfDir, "orders")
      .select(col("o_custkey").cast("string").as("cid"),
        col("o_orderpriority"))
    val withPrios = cust.join(ord, Seq("cid"))
      .groupBy(col("cid").as("id"))
      .agg(collect_set(col("o_orderpriority")).as("prios"))
    val q = "customer order priorities, nation 1"
    val s1 = DriftStates.fromDataFrame("cust_prios", q,
      withPrios.filter(col("id").cast("long") % 2 === 0))
    val s2 = DriftStates.fromDataFrame("cust_prios", q,
      withPrios.filter(col("id").cast("long") % 3 === 0))
    // round-trip through the saved JSON artifacts, as the reference does
    val dir = tempRoot()
    DriftStates.save(s1, s"$dir/state1.json")
    DriftStates.save(s2, s"$dir/state2.json")
    val (added, removed) = DriftStates.performDriftDetection(
      DriftStates.load(s"$dir/state1.json"), DriftStates.load(s"$dir/state2.json"))
    (added.map(r => ("added", r(0), r(1))) ++
      removed.map(r => ("removed", r(0), r(1))))
      .toDF("direction", "id", "prios")
      .orderBy("direction", "id")
  }

  /** q28: selected_relationships — load the same batch twice, once with
    * every declared rel and once with only PLACED_BY selected
    * (querybuilder.py:319-358); report per-run edge counts.
    */
  def q28SelectedRels(spark: SparkSession, sfDir: String): DataFrame = {
    val orderSchema = NodeSchema("Order", RowRef("oid"),
      subResource = Some(SubResourceRel(targetLabel = "Nation",
        ref = KwargRef("nation_id"))),
      otherRels = Seq(RelSchema("PLACED_BY", "Customer",
        LinkDirection.Outward, Seq(TargetMatcher("id", RowRef("ocust"))))))
    val custSchema = NodeSchema("Customer", RowRef("cid"))
    def ordersBatch = Graft.table(spark, sfDir, "orders")
      .join(Graft.table(spark, sfDir, "customer")
        .filter(col("c_nationkey") === 1)
        .select(col("c_custkey")), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").cast("string").as("oid"),
        col("o_custkey").cast("string").as("ocust"))
    def run(tag: String, selected: Option[Set[String]]): DataFrame = {
      val root = tempRoot()
      val nodes = GraphTables.nodes(spark, root)
      val edges = GraphTables.edges(spark, root)
      loadNation(spark, sfDir, 1, nodes, edges)
      GraphMerge.load(spark, customersOf(spark, sfDir, 1), custSchema,
        Map.empty, 100L, nodes, edges)
      GraphMerge.load(spark, ordersBatch, orderSchema,
        Map("nation_id" -> "1"), 100L, nodes, edges,
        selectedRels = selected)
      edges.read().filter(col("src_label") === "Order" || col("dst_label") === "Order")
        .groupBy(col("rel_label")).agg(count(lit(1)).as("n_edges"))
        .select(lit(tag).as("run"), col("rel_label"), col("n_edges"))
    }
    run("all", None)
      .unionByName(run("subset", Some(Set("PLACED_BY"))))
      .orderBy("run", "rel_label")
  }

  /** q30: multi-tenant sync orchestration (_sync_multiple_accounts,
    * cartography/intel/aws/__init__.py:142-206) over a SHARED graph.
    * Round 1 syncs tenants (nations) 1 and 2; both succeed, so the
    * post-ingestion marker job runs (the gated
    * aws_post_ingestion_principals_cleanup analog). Round 2: tenant 1
    * re-syncs its even customers and runs tenant-scoped cleanup; tenant
    * 2's fetch THROWS — best-effort mode completes tenant 1, aggregates
    * the failure into MultiTenantSyncException, and SKIPS the post job.
    * The final graph must show: tenant 1 evens refreshed, odds cleaned,
    * tenant 2 untouched (cleanup never crossed tenants), post marker
    * still at round 1's value.
    */
  def q30MultiTenant(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.jobs.MultiTenant
    val root = tempRoot()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    val tenants = Seq("1", "2")
    val postSchema = NodeSchema("Nation", RowRef("nid"),
      properties = Map("name" -> RowRef("n_name"),
        "post_run_tag" -> KwargRef("post_tag")))
    def nationRows(t: String) = Graft.table(spark, sfDir, "nation")
      .filter(col("n_nationkey") === t.toInt)
      .select(col("n_nationkey").cast("string").as("nid"), col("n_name"))
    def markPost(tag: Long): Unit = tenants.foreach { t =>
      GraphMerge.load(spark, nationRows(t), postSchema,
        Map("post_tag" -> tag.toString), tag, nodes, edges)
    }

    // round 1: both tenants succeed -> post marker runs at tag 100
    MultiTenant.syncAndThen(tenants, bestEffort = true) { t =>
      loadNation(spark, sfDir, t.toInt, nodes, edges)
      GraphMerge.load(spark, customersOf(spark, sfDir, t.toInt),
        customerSchema, Map("nation_id" -> t), 100L, nodes, edges)
    } { markPost(100L) }

    // round 2: tenant 2 fails mid-fetch; tenant 1 completes + cleans up
    val thrown = intercept2 {
      MultiTenant.syncAndThen(tenants, bestEffort = true) { t =>
        if (t == "2") sys.error("simulated upstream fetch failure")
        val all = customersOf(spark, sfDir, 1)
        GraphMerge.load(spark, all.filter(col("cid").cast("long") % 2 === 0),
          customerSchema, Map("nation_id" -> t), 200L, nodes, edges)
        Cleanup.run(spark, customerSchema, Map("nation_id" -> t), 200L,
          nodes, edges): Unit
      } { markPost(200L) }
    }
    require(thrown.report.failed.map(_.tenantId) == Seq("2"),
      s"expected exactly tenant 2 to fail, got ${thrown.report}")
    require(thrown.report.succeeded == Seq("1"))

    nodes.read().filter(col("label").isin("Customer", "Nation"))
      .select(col("label"), col("id"),
        coalesce(col("sub_resource_id"), lit("-")).as("tenant"),
        col("firstseen"), col("lastupdated"),
        coalesce(element_at(col("props"), "post_run_tag"), lit("-")).as("post_tag"))
      .orderBy("label", "id")
  }

  /** intercept a MultiTenantSyncException (anything else propagates). */
  private def intercept2(body: => Any): graft.jobs.MultiTenant.MultiTenantSyncException =
    try { body; sys.error("expected the aggregated multi-tenant failure") }
    catch { case e: graft.jobs.MultiTenant.MultiTenantSyncException => e }

  /** The graph-engine queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    // Oracles below recompute the EXPECTED graph state after the
    // upsert/cleanup/drift scenario that the Spark side actually executes
    // through GraphMerge/Cleanup/SnapshotTable.
    Query("q13_graph_upsert", q13GraphUpsert,
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        | CAST(CASE WHEN c_custkey % 2 = 0 THEN 100 ELSE 200 END AS BIGINT) AS firstseen,
        | CAST(200 AS BIGINT) AS lastupdated,
        | c_mktsegment AS segment
        |FROM customer WHERE c_nationkey = 1 ORDER BY id""".stripMargin),
    Query("q14_graph_cleanup", q14GraphCleanup,
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        | CAST(100 AS BIGINT) AS firstseen, CAST(200 AS BIGINT) AS lastupdated,
        | CAST(1 AS BIGINT) AS n_res_edges
        |FROM customer WHERE c_nationkey = 1 AND c_custkey % 2 = 0
        |ORDER BY id""".stripMargin),
    Query("q15_drift", q15Drift,
      """WITH c AS (SELECT c_custkey AS k, CAST(c_custkey AS VARCHAR) AS id
        |           FROM customer WHERE c_nationkey = 1)
        |SELECT id, 'added' AS direction FROM c WHERE k % 3 = 0 AND k % 2 <> 0
        |UNION ALL
        |SELECT id, 'removed' AS direction FROM c WHERE k % 2 = 0 AND k % 3 <> 0
        |ORDER BY direction, id""".stripMargin),
    Query("q25_clear_props", q25ClearProps,
      """SELECT CAST(c_custkey AS VARCHAR) AS id, c_mktsegment AS segment,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN NULL ELSE 'true' END AS exposed
        |FROM customer WHERE c_nationkey = 1 ORDER BY id""".stripMargin),
    Query("q26_analysis_job", q26AnalysisJob,
      """SELECT c_mktsegment AS segment, COUNT(*) AS n_flagged,
        |  CAST(0 AS BIGINT) AS exposed_left
        |FROM customer WHERE c_nationkey = 1 AND c_acctbal > 5000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // q42: three SHIPPED analysis jobs (data/jobs/analysis) over a
    // deterministic TPC-H graph slice — every report row recomputed
    // arithmetically; absent groups (e.g. zero dangling dsts) must be
    // absent on both sides (HAVING mirrors Spark's empty GROUP BY)
    Query("q42_shipped_jobs", q42ShippedJobs,
      """WITH cust AS (SELECT * FROM customer WHERE c_nationkey = 1),
        |nodes AS (
        |  SELECT 'Customer' AS label, CAST(c_custkey AS VARCHAR) AS id,
        |         c_acctbal > 7000 AS exposed,
        |         CASE WHEN c_custkey % 2 = 0 THEN 200 ELSE 100 END AS lu
        |  FROM cust
        |  UNION ALL
        |  SELECT 'Supplier', CAST(s_suppkey AS VARCHAR), s_acctbal > 5000,
        |         200
        |  FROM supplier WHERE s_nationkey IN (1, 2)),
        |edges AS (
        |  SELECT DISTINCT CAST(l_suppkey AS VARCHAR) AS src_id,
        |                  CAST(o_custkey AS VARCHAR) AS dst_id
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN cust ON o_custkey = c_custkey),
        |rpt AS (
        |  SELECT 'exposure_propagation' AS job, 'exposed_reachable' AS metric,
        |         'Customer' AS k, COUNT(*) AS n
        |  FROM (SELECT e.dst_id FROM edges e
        |        JOIN nodes x ON x.label = 'Supplier' AND x.exposed
        |                    AND e.src_id = x.id
        |        GROUP BY e.dst_id) r
        |  HAVING COUNT(*) > 0
        |  UNION ALL
        |  SELECT 'exposure_propagation', 'exposed_sources', label, COUNT(*)
        |  FROM nodes WHERE exposed GROUP BY label
        |  UNION ALL
        |  SELECT 'stale_asset_report', 'stale_nodes', label,
        |         COUNT(CASE WHEN lu < 200 THEN 1 END)
        |  FROM nodes GROUP BY label
        |  UNION ALL
        |  SELECT 'stale_asset_report', 'total_nodes', label, COUNT(*)
        |  FROM nodes GROUP BY label
        |  UNION ALL
        |  SELECT 'dangling_edge_audit', 'dangling_src', 'SUPPLIES', COUNT(*)
        |  FROM edges e WHERE NOT EXISTS (SELECT 1 FROM nodes n
        |    WHERE n.label = 'Supplier' AND n.id = e.src_id)
        |  HAVING COUNT(*) > 0
        |  UNION ALL
        |  SELECT 'dangling_edge_audit', 'dangling_dst', 'SUPPLIES', COUNT(*)
        |  FROM edges e WHERE NOT EXISTS (SELECT 1 FROM nodes n
        |    WHERE n.label = 'Customer' AND n.id = e.dst_id)
        |  HAVING COUNT(*) > 0)
        |SELECT job, metric, k, CAST(n AS BIGINT) AS n FROM rpt
        |ORDER BY job, metric, k""".stripMargin),
    Query("q27_drift_states", q27DriftStates,
      """WITH cp AS (
        |  SELECT CAST(c_custkey AS VARCHAR) AS id,
        |         string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority) AS prios
        |  FROM customer JOIN orders ON o_custkey = c_custkey
        |  WHERE c_nationkey = 1 GROUP BY 1),
        |a AS (SELECT id, prios FROM cp WHERE CAST(id AS BIGINT) % 2 = 0),
        |b AS (SELECT id, prios FROM cp WHERE CAST(id AS BIGINT) % 3 = 0)
        |SELECT direction, id, prios FROM (
        |  SELECT 'added' AS direction, id, prios FROM b WHERE id NOT IN (SELECT id FROM a)
        |  UNION ALL
        |  SELECT 'removed', id, prios FROM a WHERE id NOT IN (SELECT id FROM b)) t
        |ORDER BY direction, id""".stripMargin),
    Query("q28_selected_rels", q28SelectedRels,
      """WITH o AS (SELECT o_orderkey FROM orders
        |  JOIN customer ON o_custkey = c_custkey WHERE c_nationkey = 1)
        |SELECT run, rel_label, n_edges FROM (
        |  SELECT 'all' AS run, 'PLACED_BY' AS rel_label, (SELECT COUNT(*) FROM o) AS n_edges
        |  UNION ALL SELECT 'all', 'RESOURCE', (SELECT COUNT(*) FROM o)
        |  UNION ALL SELECT 'subset', 'PLACED_BY', (SELECT COUNT(*) FROM o)) t
        |ORDER BY run, rel_label""".stripMargin),
    // q30 expected state: round 1 synced both tenants at tag 100 and ran
    // the gated post job (post_run_tag=100 on both Nation containers);
    // round 2 refreshed tenant 1's even customers at tag 200 and cleaned
    // its stale odds, while tenant 2's simulated fetch failure left its
    // customers untouched and SKIPPED the post job (marker stays 100).
    Query("q30_multi_tenant", q30MultiTenant,
      """SELECT * FROM (
        | SELECT 'Nation' AS label, CAST(n_nationkey AS VARCHAR) AS id,
        |  '-' AS tenant, CAST(100 AS BIGINT) AS firstseen,
        |  CAST(100 AS BIGINT) AS lastupdated, '100' AS post_tag
        | FROM nation WHERE n_nationkey IN (1, 2)
        | UNION ALL
        | SELECT 'Customer', CAST(c_custkey AS VARCHAR),
        |  CAST(c_nationkey AS VARCHAR), CAST(100 AS BIGINT),
        |  CAST(CASE WHEN c_nationkey = 1 THEN 200 ELSE 100 END AS BIGINT),
        |  '-'
        | FROM customer
        | WHERE c_nationkey = 2 OR (c_nationkey = 1 AND c_custkey % 2 = 0)) t
        |ORDER BY label, id""".stripMargin),
    Query("q24_incremental_sync", q24IncrementalSync,
      """WITH c AS (SELECT COUNT(*) AS n FROM documents),
        |ids AS (SELECT doc_id AS i FROM documents)
        |SELECT 'https://host' || CAST(i % 50 AS VARCHAR) || '.example/p/' || CAST(i AS VARCHAR) AS id,
        | CAST(CASE WHEN i < (SELECT n*6//10 FROM c) THEN 100 ELSE 200 END AS BIGINT) AS firstseen,
        | CAST(CASE WHEN i >= (SELECT n*4//10 FROM c) THEN 200 ELSE 100 END AS BIGINT) AS lastupdated
        |FROM ids
        |WHERE i < (SELECT n*6//10 FROM c) OR i >= (SELECT n*4//10 FROM c)
        |ORDER BY id""".stripMargin),
    // q34: time travel — v1 = window A's state (fs=lu=100, B-only rows
    // NULL), v2 = the post-B state with firstseen preserved across the
    // upsert; both recomputed from doc_id arithmetic
    Query("q34_time_travel", q34TimeTravel,
      """WITH c AS (SELECT COUNT(*) AS n FROM documents),
        |ids AS (SELECT doc_id AS i FROM documents),
        |w AS (SELECT i,
        |        i < (SELECT n*6//10 FROM c) AS in_a,
        |        i >= (SELECT n*4//10 FROM c) AS in_b FROM ids)
        |SELECT 'https://host' || CAST(i % 50 AS VARCHAR) || '.example/p/' || CAST(i AS VARCHAR) AS id,
        | CAST(CASE WHEN in_a THEN 100 END AS BIGINT) AS fs_v1,
        | CAST(CASE WHEN in_a THEN 100 END AS BIGINT) AS lu_v1,
        | CAST(CASE WHEN in_a THEN 100 ELSE 200 END AS BIGINT) AS fs_v2,
        | CAST(CASE WHEN in_b THEN 200 ELSE 100 END AS BIGINT) AS lu_v2
        |FROM w WHERE in_a OR in_b ORDER BY id""".stripMargin),
    // q39: snapshot changelog — both version states recomputed closed-
    // form; unchanged rows (k ≡ 6 mod 12) must be ABSENT
    Query("q39_changelog", q39Changelog,
      """WITH c AS (SELECT CAST(c_custkey AS VARCHAR) AS id, c_custkey AS k,
        |             c_mktsegment AS seg
        |           FROM customer WHERE c_nationkey = 1),
        |v1 AS (SELECT id, seg FROM c WHERE k % 2 = 0),
        |v2 AS (SELECT id, CASE WHEN k % 12 = 0 THEN 'CHANGED-' || seg
        |              ELSE seg END AS seg
        |       FROM c WHERE k % 3 = 0),
        |j AS (SELECT COALESCE(v1.id, v2.id) AS id,
        |        v1.seg AS seg_before, v2.seg AS seg_after,
        |        CASE WHEN v1.id IS NULL THEN 'insert'
        |             WHEN v2.id IS NULL THEN 'delete'
        |             WHEN v1.seg <> v2.seg THEN 'update' END AS op
        |      FROM v1 FULL OUTER JOIN v2 ON v1.id = v2.id)
        |SELECT id, op, seg_before, seg_after FROM j
        |WHERE op IS NOT NULL ORDER BY id""".stripMargin),
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Query
import graft.core.Graft.table

/** Analysis-job operator pack — the remaining query shapes of the
  * reference's analysis/enrichment corpus (SURVEY.md §2.5) as
  * driver-checkable queries:
  *
  *  - bounded variable-length path (k-hop BFS via unrolled self-joins,
  *    aws_ec2_asset_exposure.json stmt 5's `[*..2]` pattern);
  *  - IAM-style wildcard policy evaluation with Allow/Deny precedence
  *    (cartography/intel/aws/permission_relationships.py:21-184);
  *  - collect() grouping aggregate (permission_relationships.py:246-254);
  *  - JSON property parsing (S3 policy parsing analog,
  *    cartography/intel/aws/s3.py:453-697) via from_json — no UDF;
  *  - fixpoint-ish exposure propagation with list-append dedup
  *    (aws_ec2_asset_exposure.json stmts 8-10: array_union semantics);
  *  - per-stage lineage/sync-metadata readback (ModuleSyncMetadata,
  *    cartography/util.py:133-165);
  *  - suffix (subzone containment) theta-join
  *    (cartography/intel/aws/route53.py:213-233).
  */
object Analysis {

  // ---- bounded k-hop ------------------------------------------------------

  /** New nodes reached at each hop 1..k from `seeds` over `edges(src,dst)`
    * — BFS semantics (a node counts at its first hop only). k is small
    * and static, so the loop unrolls into k chained equi-joins; each
    * frontier is distinct'd before the next join so fan-out duplication
    * never amplifies (at 100 TB the frontier stays ≤ |V| per hop).
    */
  def kHopCounts(edges: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    var visited = seeds.select(col("id")).distinct()
    var frontier = visited
    var out: Seq[DataFrame] = Nil
    for (hop <- 1 to k) {
      val next = edges.join(frontier.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
      out = out :+ next.agg(count(lit(1)).as("n_nodes"))
        .select(lit(hop).as("hop"), col("n_nodes"))
      visited = visited.union(next).distinct()
      frontier = next
    }
    out.reduce(_ unionByName _).orderBy("hop")
  }

  /** q16: 2-hop reachability nation→customers→orders as a typed-id edge
    * list, seeded at nation 1.
    */
  def q16KHop(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nc = table(spark, sfDir, "customer")
      .select(concat(lit("n"), col("c_nationkey")).as("src"),
        concat(lit("c"), col("c_custkey")).as("dst"))
    val co = table(spark, sfDir, "orders")
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("o"), col("o_orderkey")).as("dst"))
    val seeds = Seq("n1").toDF("id")
    kHopCounts(nc.unionByName(co), seeds, 2)
  }

  // ---- wildcard policy evaluation -----------------------------------------

  /** AWS-style glob (`*`, `?`) → SQL LIKE pattern. The reference compiles
    * these to regex per principal (permission_relationships.py:199-242);
    * LIKE keeps the predicate inside whole-stage codegen with identical
    * semantics for `*`/`?` globs.
    */
  def globToLike(glob: String): String = {
    // Literal %/_ would need an ESCAPE clause, and Spark and DuckDB
    // disagree on the default escape character (DuckDB LIKE has none) —
    // glob alphabets with literal SQL wildcards are rejected rather than
    // silently diverging between engine and oracle.
    require(!glob.exists(c => c == '%' || c == '_'),
      s"glob '$glob' contains a literal % or _ — not supported")
    glob.map {
      case '*' => '%'
      case '?' => '_'
      case c => c
    }
  }

  private[graft] val policyGlobs: Seq[(String, String, String)] = Seq(
    ("pol_a", "allow", "*widget*"), ("pol_a", "deny", "small*"),
    ("pol_b", "allow", "l*"), ("pol_b", "deny", "*bolt"),
    ("pol_c", "allow", "*"), ("pol_c", "deny", "*widget*"),
    ("pol_d", "allow", "?o*"))

  /** Evaluate allow/deny glob policies against a resource table: a
    * resource is allowed by a policy iff ≥1 of its allow globs matches
    * the resource's `nameCol` and NO deny glob does (Deny precedence,
    * permission_relationships.py:21-184). Returns one (policy_id,
    * `idCol`) row per allowed pair — the reference's principal→resource
    * permission edges. The tiny policy table is broadcast against the
    * big resource side — the only sane join shape at 100 TB.
    */
  def wildcardAllowed(spark: SparkSession, resources: DataFrame,
                      idCol: String, nameCol: String,
                      globs: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    require(globs.nonEmpty, "policy mapping declares no globs")
    // the output claims the name `policy_id`; an idCol of the same name
    // would make the result ambiguous no matter how we alias internally
    require(idCol != "policy_id",
      "the resource id column may not be named 'policy_id' (output column clash)")
    // internal helper columns use reserved names so a resource table
    // with columns called policy_id/kind/pattern cannot collide
    val pats = globs
      .map { case (p, k, g) => (p, k, globToLike(g)) }
      .toDF("__pol_id", "__pol_kind", "__pol_pattern")
    resources.join(broadcast(pats), expr(s"`$nameCol` LIKE __pol_pattern"))
      .groupBy(col("__pol_id"), col(idCol))
      .agg(max(when(col("__pol_kind") === "allow", 1).otherwise(0)).as("__pol_a"),
        max(when(col("__pol_kind") === "deny", 1).otherwise(0)).as("__pol_d"))
      .filter(col("__pol_a") === 1 && col("__pol_d") === 0)
      .select(col("__pol_id").as("policy_id"), col(idCol))
  }

  /** Load a policy mapping FILE — the user-editable
    * `permission_relationships.yaml` analog
    * (cartography/intel/aws/permission_relationships.py:335-374, CLI
    * `permission_relationships_file`), as JSON (this environment ships
    * no YAML parser; the structure is the same):
    * {{{
    * {"policies": [
    *   {"policy_id": "pol_a", "allow": ["*widget*"], "deny": ["small*"]},
    *   ...]}
    * }}}
    * Validation is fail-fast with the offending entry named — a typo'd
    * mapping must abort before any evaluation runs.
    */
  def loadPolicyMapping(path: String): Seq[(String, String, String)] = {
    val root = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path)))
    val pols = root.get("policies")
    require(pols != null && pols.isArray && pols.size() > 0,
      s"$path: expected a non-empty 'policies' array")
    (0 until pols.size()).flatMap { i =>
      val p = pols.get(i)
      require(p.hasNonNull("policy_id"),
        s"$path: policies[$i] is missing 'policy_id'")
      val id = p.get("policy_id").asText()
      def globsOf(kind: String): Seq[(String, String, String)] =
        Option(p.get(kind)).toSeq.flatMap { arr =>
          require(arr.isArray, s"$path: policies[$i].$kind must be an array")
          (0 until arr.size()).map(j => (id, kind, arr.get(j).asText()))
        }
      val gs = globsOf("allow") ++ globsOf("deny")
      require(gs.exists(_._2 == "allow"),
        s"$path: policy '$id' declares no allow globs — it can never match")
      gs
    }
  }

  /** Serialize a glob set in [[loadPolicyMapping]]'s format. */
  def policyMappingJson(globs: Seq[(String, String, String)]): String = {
    val root = mapper.createObjectNode()
    val arr = root.putArray("policies")
    globs.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (id, gs) =>
      val p = arr.addObject()
      p.put("policy_id", id): Unit
      Seq("allow", "deny").foreach { kind =>
        val ofKind = gs.filter(_._2 == kind)
        if (ofKind.nonEmpty) {
          val a = p.putArray(kind)
          ofKind.foreach(g => a.add(g._3): Unit)
        }
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** q17: per-policy allowed-part counts over the inline default policy
    * set ([[wildcardAllowed]] for the semantics).
    */
  def q17Wildcard(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = table(spark, sfDir, "part").select("p_partkey", "p_name")
    wildcardAllowed(spark, parts, "p_partkey", "p_name", policyGlobs)
      .groupBy(col("policy_id"))
      .agg(count(lit(1)).as("n_allowed"))
      .orderBy(col("policy_id"))
  }

  /** q33: the q17 evaluation driven from a policy-mapping FILE — the
    * reference's primary wildcard-policy workflow (user drops in a
    * mapping file; the engine evaluates it). The default policy set is
    * serialized to JSON, re-loaded through [[loadPolicyMapping]], and
    * must produce exactly q17's answer (same oracle), proving the
    * file round-trip changes nothing.
    */
  def q33PolicyFile(spark: SparkSession, sfDir: String): DataFrame = {
    val f = java.nio.file.Files.createTempFile("policy_mapping", ".json")
    java.nio.file.Files.writeString(f, policyMappingJson(policyGlobs))
    val loaded = loadPolicyMapping(f.toString)
    val parts = table(spark, sfDir, "part").select("p_partkey", "p_name")
    wildcardAllowed(spark, parts, "p_partkey", "p_name", loaded)
      .groupBy(col("policy_id"))
      .agg(count(lit(1)).as("n_allowed"))
      .orderBy(col("policy_id"))
  }

  /** DuckDB oracle fragment: the same policy patterns as a VALUES CTE. */
  private val policyCte: String = {
    val rows = policyGlobs
      .map { case (p, k, g) => s"('$p', '$k', '${globToLike(g)}')" }
      .mkString(", ")
    s"WITH pats(policy_id, kind, pattern) AS (VALUES $rows)"
  }

  // ---- collect() aggregate ------------------------------------------------

  /** q18: per-customer sorted distinct order-priority list — the
    * `collect(statements)` grouping aggregate
    * (permission_relationships.py:246-254) with a canonical string
    * rendering so any engine can state the same value.
    */
  def q18Collect(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
        .as("priorities"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_custkey"))
      .limit(100)

  // ---- JSON property parsing ----------------------------------------------

  /** q19: parse the events.props JSON blob with from_json (schema-typed,
    * codegen'd — the S3-policy-document parsing analog, s3.py:453-697;
    * no UDF), then aggregate by k mod 10.
    */
  def q19Json(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = StructType(Seq(StructField("k", LongType)))
    table(spark, sfDir, "events")
      .select(from_json(col("props"), schema).getField("k").as("k"))
      .filter(col("k").isNotNull)
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"))
      .orderBy(col("k_mod"))
  }

  // ---- exposure propagation (fixpoint-ish tagging) ------------------------

  /** q20: two-level exposure propagation with list-append dedup — the
    * LB→EC2→ASG `exposed_internet_type` array-union chain
    * (aws_ec2_asset_exposure.json stmts 8-10). Suppliers are tagged from
    * two independent sources ('europe' region membership, 'lowbal'
    * balance), parts inherit the deduplicated sorted union of their
    * suppliers' tags through the lineitem relationship.
    */
  def q20Exposure(spark: SparkSession, sfDir: String): DataFrame = {
    val sup = table(spark, sfDir, "supplier")
    val nat = table(spark, sfDir, "nation")
    val reg = table(spark, sfDir, "region")
    val li = table(spark, sfDir, "lineitem")
    val tagged = sup
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .select(col("s_suppkey"),
        array_compact(array(
          when(col("r_name") === "EUROPE", lit("europe")),
          when(col("s_acctbal") < 3000.0, lit("lowbal")))).as("tags"))
      .filter(size(col("tags")) > 0)
    // propagate: part inherits union of supplier tags (explode → distinct
    // → collect = the distributed array_union aggregation)
    val partTags = li.select(col("l_partkey"), col("l_suppkey"))
      .distinct()
      .join(broadcast(tagged), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"), explode(col("tags")).as("tag"))
      .distinct()
      .groupBy(col("l_partkey"))
      .agg(array_join(array_sort(collect_set(col("tag"))), ",").as("exposure"))
    partTags.groupBy(col("exposure"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("exposure"))
  }

  // ---- lineage readback ---------------------------------------------------

  /** q21: per-stage committed row totals from the KG pipeline's lineage
    * table (per-partition rows summed) — ModuleSyncMetadata + statsd
    * counters analog (util.py:133-165; statement.py:99-112). The oracle
    * recomputes every stage's expected row count arithmetically.
    */
  def q21Lineage(spark: SparkSession, sfDir: String): DataFrame = {
    val (pipe, _) = KgOps.pipelineHandle(spark, sfDir)
    pipe.lineageRows()
      .filter(col("stage").isin("pages", "extract", "links", "canonical", "triples"))
      .groupBy(col("stage"))
      .agg(sum(col("rows_out")).as("total_rows"))
      .orderBy(col("stage"))
  }

  // ---- array-ANY predicate ------------------------------------------------

  /** q23: list-property predicates via higher-order functions — the
    * `any(x IN stmt.action WHERE ...)` shape on stored list properties
    * (cartography/client/aws/iam.py:28-36; exposed_internet_type list
    * membership). Customers are reduced to their order-priority SET,
    * then filtered with exists / negated-exists on the array.
    */
  def q23ArrayAny(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = table(spark, sfDir, "orders")
    val cust = table(spark, sfDir, "customer")
    val withArr = ord.groupBy(col("o_custkey"))
      .agg(collect_set(col("o_orderpriority")).as("priorities"))
      .filter(exists(col("priorities"), p => p === "1-URGENT") &&
        !exists(col("priorities"), p => p === "5-LOW"))
    withArr.join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  // ---- suffix (subzone) join ----------------------------------------------

  /** Subzone containment: child zone ENDS WITH '.' + parent zone
    * (route53.py:213-233). The parent dim is broadcast; the child side
    * stays partitioned.
    */
  def subzoneCounts(zones: DataFrame, parents: DataFrame): DataFrame =
    zones.join(broadcast(parents.select(col("zone").as("parent"))),
        col("zone").endsWith(concat(lit("."), col("parent"))))
      .groupBy(col("parent").as("zone"))
      .agg(count(lit(1)).as("n_subzones"))
      .orderBy(col("zone"))

  /** q22: zone hierarchy derived from the synthetic corpus hosts:
    * 'example' ← 'host{m}.example' ← 'd{j}.host{m}.example'.
    */
  def q22Subzones(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long"))
    val hosts = docs.select(
      concat(lit("host"), col("doc_id") % 50, lit(".example")).as("zone"))
      .distinct()
    val subs = docs.select(
      concat(lit("d"), col("doc_id") % 3, lit(".host"), col("doc_id") % 50,
        lit(".example")).as("zone"))
      .distinct()
    val root = Seq("example").toDF("zone")
    val zones = root.unionByName(hosts).unionByName(subs)
    subzoneCounts(zones, zones)
  }

  /** The analysis-job queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("q16_khop", q16KHop,
      """SELECT 1 AS hop, COUNT(DISTINCT c_custkey) AS n_nodes
        |FROM customer WHERE c_nationkey = 1
        |UNION ALL
        |SELECT 2, COUNT(DISTINCT o_orderkey)
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_nationkey = 1
        |ORDER BY hop""".stripMargin),
    Query("q17_wildcard_policy", q17Wildcard,
      s"""$policyCte
         |SELECT policy_id, COUNT(*) AS n_allowed FROM (
         | SELECT policy_id, p_partkey,
         |  MAX(CASE WHEN kind = 'allow' THEN 1 ELSE 0 END) AS a,
         |  MAX(CASE WHEN kind = 'deny' THEN 1 ELSE 0 END) AS d
         | FROM part JOIN pats ON p_name LIKE pattern
         | GROUP BY policy_id, p_partkey) t
         |WHERE a = 1 AND d = 0
         |GROUP BY policy_id ORDER BY policy_id""".stripMargin),
    // q33 loads the SAME policy set through the mapping-file round-trip
    // (serialize → loadPolicyMapping → evaluate), so its expected answer
    // is exactly q17's.
    Query("q33_policy_file", q33PolicyFile,
      s"""$policyCte
         |SELECT policy_id, COUNT(*) AS n_allowed FROM (
         | SELECT policy_id, p_partkey,
         |  MAX(CASE WHEN kind = 'allow' THEN 1 ELSE 0 END) AS a,
         |  MAX(CASE WHEN kind = 'deny' THEN 1 ELSE 0 END) AS d
         | FROM part JOIN pats ON p_name LIKE pattern
         | GROUP BY policy_id, p_partkey) t
         |WHERE a = 1 AND d = 0
         |GROUP BY policy_id ORDER BY policy_id""".stripMargin),
    Query("q18_collect_agg", q18Collect,
      """SELECT o_custkey,
        | string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey LIMIT 100""".stripMargin),
    Query("q19_json_props", q19Json,
      """SELECT k % 10 AS k_mod, COUNT(*) AS n_events, CAST(SUM(k) AS BIGINT) AS sum_k
        |FROM (SELECT CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k
        |      FROM events) t
        |WHERE k IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q20_exposure_propagation", q20Exposure,
      """WITH tagged AS (
        | SELECT s_suppkey, tag FROM supplier
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | CROSS JOIN (VALUES ('europe'), ('lowbal')) v(tag)
        | WHERE (tag = 'europe' AND r_name = 'EUROPE')
        |    OR (tag = 'lowbal' AND s_acctbal < 3000.0)),
        |pt AS (
        | SELECT DISTINCT l_partkey, tag
        | FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
        | JOIN tagged ON l_suppkey = s_suppkey),
        |pe AS (
        | SELECT l_partkey, string_agg(DISTINCT tag, ',' ORDER BY tag) AS exposure
        | FROM pt GROUP BY l_partkey)
        |SELECT exposure, COUNT(*) AS n_parts FROM pe
        |GROUP BY exposure ORDER BY exposure""".stripMargin),
    Query("q21_lineage", q21Lineage,
      """WITH en AS (SELECT doc_id AS i FROM documents WHERE lang = 'en'),
        |tot AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT stage, total_rows FROM (
        | SELECT 'canonical' AS stage, CAST(1000 AS BIGINT) AS total_rows
        | UNION ALL SELECT 'extract', n FROM tot
        | UNION ALL SELECT 'links', (SELECT CAST(COALESCE(SUM(
        |    2 + CASE WHEN i % 100 < 30 THEN 1 ELSE 0 END
        |      + CASE WHEN i % 10 = 7 THEN 2 ELSE 0 END
        |      + CASE WHEN i % 10 = 3 THEN 1 ELSE 0 END
        |      + CASE WHEN i % 10 = 9 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM en)
        | UNION ALL SELECT 'pages', n FROM tot
        | UNION ALL SELECT 'triples', (SELECT COUNT(*) FROM en)) t
        |ORDER BY stage""".stripMargin),
    Query("q22_suffix_subzones", q22Subzones,
      """WITH d AS (SELECT DISTINCT doc_id % 50 AS m, doc_id % 3 AS j
        |           FROM documents),
        |zones AS (
        | SELECT 'example' AS zone
        | UNION SELECT 'host' || CAST(m AS VARCHAR) || '.example' FROM d
        | UNION SELECT 'd' || CAST(j AS VARCHAR) || '.host' || CAST(m AS VARCHAR) || '.example' FROM d)
        |SELECT p.zone AS zone, COUNT(*) AS n_subzones
        |FROM zones c JOIN zones p ON c.zone LIKE '%.' || p.zone
        |GROUP BY p.zone ORDER BY zone""".stripMargin),
    Query("q23_array_any", q23ArrayAny,
      """SELECT c_mktsegment, COUNT(*) AS n_customers FROM (
        | SELECT o_custkey,
        |  MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS has_u,
        |  MAX(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS has_l
        | FROM orders GROUP BY o_custkey) t
        |JOIN customer ON o_custkey = c_custkey
        |WHERE has_u = 1 AND has_l = 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
  )
}

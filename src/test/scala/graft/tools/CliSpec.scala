package graft.tools

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.kg.Corpus
import graft.merge.GraphTables
import graft.snapshot.SnapshotTable

/** End-to-end CLI lifecycle over parquet-backed inputs: sync (full and
  * stage-subset), drift get-state/detect across two syncs, and snapshot
  * expiry — the `cartography` / `cartography-detectdrift` CLI analog.
  */
class CliSpec extends SparkSpecBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("cli: --config seeds flags from a JSON file; explicit flags override; malformed configs fail fast") {
    val in = tmp("cliin12")
    val work = tmp("cliwork12")
    Corpus.pages(spark, sf, 1, 0).write.parquet(s"$in/pages")
    Corpus.aliasRows.toDS().write.parquet(s"$in/dict")
    // base config carries the stable flags AND a wrong input — the
    // command line must win on the clash
    val cfg = s"$in/base.json"
    Files.writeString(java.nio.file.Paths.get(cfg),
      s"""{"dict": "$in/dict", "work-dir": "$work",
         | "update-tag": "100", "input": "$in/WRONG"}""".stripMargin)
    GraftCli.main(Array("sync", "--config", cfg, "--input", s"$in/pages"))
    val nodes = GraphTables.nodes(spark, s"$work/graph")
    assert(nodes.read().filter(col("label") === "Page").count() === 500L)

    // a missing config file and a nested value both fail fast
    val missing = intercept[IllegalArgumentException] {
      GraftCli.main(Array("sync", "--config", s"$in/nope.json"))
    }
    assert(missing.getMessage.contains("does not exist"), missing.getMessage)
    val nested = s"$in/nested.json"
    Files.writeString(java.nio.file.Paths.get(nested),
      """{"sync": {"input": "x"}}""")
    val bad = intercept[IllegalArgumentException] {
      GraftCli.main(Array("sync", "--config", nested))
    }
    assert(bad.getMessage.contains("scalar"), bad.getMessage)

    // a typo'd key — in the FILE or on the COMMAND LINE — fails fast
    // against the subcommand's flag schema instead of silently running
    // with the default
    val typoCfg = s"$in/typo.json"
    Files.writeString(java.nio.file.Paths.get(typoCfg),
      s"""{"dict": "$in/dict", "work-dir": "$work",
         | "update-tag": "300", "input": "$in/pages",
         | "edgeindex": "true"}""".stripMargin)
    val typoFile = intercept[IllegalArgumentException] {
      GraftCli.main(Array("sync", "--config", typoCfg))
    }
    assert(typoFile.getMessage.contains("unknown flag(s) for sync: --edgeindex"),
      typoFile.getMessage)
    val typoCli = intercept[IllegalArgumentException] {
      GraftCli.main(Array("expire", "--work-dir", work, "--kep", "2"))
    }
    assert(typoCli.getMessage.contains("unknown flag(s) for expire: --kep"),
      typoCli.getMessage)
    // the CLI has no endpoint index: its old flag and subcommand are
    // unknown like any typo
    val noIndexFlag = intercept[IllegalArgumentException] {
      GraftCli.main(Array("sync", "--input", s"$in/pages", "--dict", s"$in/dict",
        "--work-dir", work, "--update-tag", "300", "--edge-index", "true"))
    }
    assert(noIndexFlag.getMessage.contains("unknown flag(s) for sync: --edge-index"),
      noIndexFlag.getMessage)
    val noIndexCmd = intercept[RuntimeException] {
      GraftCli.main(Array("index-rebuild", "--work-dir", work, "--update-tag", "300"))
    }
    assert(noIndexCmd.getMessage.contains("unknown command: index-rebuild"),
      noIndexCmd.getMessage)
  }

  test("cli: sync -> get-state -> bigger sync -> drift -> expire") {
    val in = tmp("cliin")
    val work = tmp("cliwork")
    Corpus.pages(spark, sf, 1, 0).write.parquet(s"$in/pages1")
    Corpus.pages(spark, sf, 2, 0).write.parquet(s"$in/pages2")
    Corpus.aliasRows.toDS().write.parquet(s"$in/dict")

    GraftCli.main(Array("sync", "--input", s"$in/pages1", "--dict", s"$in/dict",
      "--work-dir", work, "--update-tag", "100"))
    val nodes = GraphTables.nodes(spark, s"$work/graph")
    val pages1 = nodes.read().filter(col("label") === "Page").count()
    assert(pages1 === 500L)

    val q = "SELECT label, count(*) AS n FROM nodes GROUP BY label ORDER BY label"
    GraftCli.main(Array("get-state", "--work-dir", work, "--name", "label-counts",
      "--query", q, "--out", s"$work/state_a.json"))

    // day 2: a doubled input (superset urls) under a fresh tag
    GraftCli.main(Array("sync", "--input", s"$in/pages2", "--dict", s"$in/dict",
      "--work-dir", work, "--update-tag", "200"))
    assert(nodes.read().filter(col("label") === "Page").count() === 1000L)
    assert(nodes.versions.size >= 2, "second sync must commit a new version")

    GraftCli.main(Array("get-state", "--work-dir", work, "--name", "label-counts",
      "--query", q, "--out", s"$work/state_b.json"))

    val out = new ByteArrayOutputStream()
    Console.withOut(out) {
      GraftCli.main(Array("drift", "--start", s"$work/state_a.json",
        "--end", s"$work/state_b.json"))
    }
    val drift = out.toString.trim
    assert(drift.contains(""""new_results":[["Page","1000"]]"""), drift)
    assert(drift.contains(""""missing_results":[["Page","500"]]"""), drift)

    val before = nodes.read().filter(col("label") === "Page")
      .select("id", "firstseen", "lastupdated")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    GraftCli.main(Array("expire", "--work-dir", work, "--keep", "1"))
    assert(nodes.versions.size === 1)
    assert(nodes.read().filter(col("label") === "Page")
      .select("id", "firstseen", "lastupdated")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet === before,
      "expire must not change the latest graph")
  }

  test("cli: stage-subset sync commits only the selected stages; bad input fails fast") {
    val in = tmp("cliin2")
    val work = tmp("cliwork2")
    Corpus.pages(spark, sf, 1, 0).write.parquet(s"$in/pages")
    Corpus.aliasRows.toDS().write.parquet(s"$in/dict")

    GraftCli.main(Array("sync", "--input", s"$in/pages", "--dict", s"$in/dict",
      "--work-dir", work, "--update-tag", "100",
      "--selected-modules", "extract,facts"))
    assert(Files.isDirectory(java.nio.file.Paths.get(s"$work/stage_facts")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$work/graph")),
      "merge must not run when not selected")

    val bad = intercept[IllegalArgumentException] {
      GraftCli.main(Array("sync", "--input", s"$in/pages", "--dict", s"$in/dict",
        "--work-dir", work, "--update-tag", "100",
        "--selected-modules", "extract,nope"))
    }
    assert(bad.getMessage.contains("selected_modules"))

    intercept[RuntimeException](GraftCli.main(Array("frobnicate")))
    intercept[RuntimeException](GraftCli.main(Array("expire", "--work-dir", work)))
  }

  test("cli: analysis --job-dir runs json jobs against the synced graph; missing params fail fast") {
    val in = tmp("cliin3")
    val work = tmp("cliwork3")
    val jobs = tmp("clijobs")
    val out = tmp("cliout")
    Corpus.pages(spark, sf, 1, 0).write.parquet(s"$in/pages")
    Corpus.aliasRows.toDS().write.parquet(s"$in/dict")
    GraftCli.main(Array("sync", "--input", s"$in/pages", "--dict", s"$in/dict",
      "--work-dir", work, "--update-tag", "100"))

    Files.writeString(java.nio.file.Paths.get(jobs, "a_label_counts.json"),
      """{"name": "label counts",
        | "statements": [
        |  {"query": "SELECT label, count(*) AS n FROM nodes WHERE lastupdated = $UPDATE_TAG GROUP BY label ORDER BY label"}
        |]}""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(jobs, "b_top_degree.json"),
      """{"name": "top degree",
        | "statements": [
        |  {"query": "SELECT src_id, count(*) AS deg FROM edges GROUP BY src_id", "updates": "deg"},
        |  {"query": "SELECT src_id, deg FROM deg ORDER BY deg DESC, src_id LIMIT $TOPK"}
        |]}""".stripMargin)

    // missing $TOPK must fail fast (validated before anything executes)
    val bad = intercept[IllegalArgumentException] {
      GraftCli.main(Array("analysis", "--work-dir", work, "--job-dir", jobs,
        "--out", out, "--update-tag", "100"))
    }
    assert(bad.getMessage.contains("TOPK"), bad.getMessage)

    GraftCli.main(Array("analysis", "--work-dir", work, "--job-dir", jobs,
      "--out", out, "--update-tag", "100", "--params", "TOPK=7"))
    val counts = spark.read.parquet(s"$out/a_label_counts")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts("Page") === 500L)
    assert(spark.read.parquet(s"$out/b_top_degree").count() === 7L)

    // scoped-param conflict is loud, not silently shadowed
    val clash = intercept[IllegalArgumentException] {
      GraftCli.main(Array("analysis", "--work-dir", work, "--job-dir", jobs,
        "--out", out, "--update-tag", "100",
        "--params", "TOPK=7,UPDATE_TAG=999"))
    }
    assert(clash.getMessage.contains("UPDATE_TAG"), clash.getMessage)

    // the reference's sync ends with its analysis stage: --analysis-job-dir
    // runs the job corpus right after the pipeline, same tag
    val work2 = tmp("cliwork3b")
    val out2 = tmp("cliout2")
    GraftCli.main(Array("sync", "--input", s"$in/pages", "--dict", s"$in/dict",
      "--work-dir", work2, "--update-tag", "300",
      "--analysis-job-dir", jobs, "--out", out2, "--params", "TOPK=3"))
    assert(spark.read.parquet(s"$out2/b_top_degree").count() === 3L)
    val counts2 = spark.read.parquet(s"$out2/a_label_counts")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts2("Page") === 500L, "analysis ran against the tag-300 sync")
  }

  test("cli: SHIPPED job corpus runs by default as sync's final stage; none opts out") {
    val in = tmp("cliin3c")
    val work = tmp("cliwork3c")
    Corpus.pages(spark, sf, 1, 0).write.parquet(s"$in/pages")
    Corpus.aliasRows.toDS().write.parquet(s"$in/dict")
    // no --analysis-job-dir: the shipped corpus (data/jobs/analysis)
    // must run after the pipeline — "analysis always last" — landing
    // under WORKDIR/analysis
    GraftCli.main(Array("sync", "--input", s"$in/pages", "--dict", s"$in/dict",
      "--work-dir", work, "--update-tag", "100"))
    val shipped = graft.jobs.GraphJob.shippedDir.get
    val stems = graft.jobs.GraphJob.jobFilesIn(shipped)
      .map(_.getFileName.toString.stripSuffix(".json"))
    assert(stems.size >= 8, s"shipped corpus shrank: $stems")
    // every shipped job ends in a pure read => every stem has output
    stems.foreach { s =>
      assert(Files.isDirectory(java.nio.file.Paths.get(s"$work/analysis/$s")),
        s"shipped job $s produced no output")
    }
    // content sanity on two reports over the freshly synced KG graph
    val stale = spark.read.parquet(s"$work/analysis/stale_asset_report")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(stale(("Page", "total_nodes")) === 500L)
    assert(stale(("Page", "stale_nodes")) === 0L, "tag-100 sync has no stale")
    val hubs = spark.read.parquet(s"$work/analysis/entity_hub_report")
    assert(hubs.count() > 0 && hubs.count() <= 50)
    // degree stats agree with the edge table itself
    val deg = spark.read.parquet(s"$work/analysis/entity_degree_stats")
      .filter(col("direction") === "out" && col("label") === "Page")
      .collect()
    val nEdges = GraphTables.edges(spark, s"$work/graph").read().count()
    assert(deg.map(_.getLong(4)).sum +
      spark.read.parquet(s"$work/analysis/entity_degree_stats")
        .filter(col("direction") === "out" && col("label") =!= "Page")
        .collect().map(_.getLong(4)).sum === nEdges,
      "total out-degree must equal the edge count")

    // --analysis-job-dir none disables the default corpus
    val work2 = tmp("cliwork3d")
    GraftCli.main(Array("sync", "--input", s"$in/pages", "--dict", s"$in/dict",
      "--work-dir", work2, "--update-tag", "100",
      "--analysis-job-dir", "none"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$work2/analysis")))
  }

  test("cli: drift registry — timestamped captures, most-recent shortcut, default drift pair") {
    import graft.drift.DriftRegistry
    val in = tmp("cliin4")
    val work = tmp("cliwork4")
    val dd = tmp("clidrift")
    Corpus.pages(spark, sf, 1, 0).write.parquet(s"$in/pages1")
    Corpus.pages(spark, sf, 2, 0).write.parquet(s"$in/pages2")
    Corpus.aliasRows.toDS().write.parquet(s"$in/dict")
    val qd = java.nio.file.Paths.get(dd, "label-counts")
    Files.createDirectories(qd)
    Files.writeString(qd.resolve("template.json"),
      """{"name": "label-counts",
        | "validation_query": "SELECT label, count(*) AS n FROM nodes GROUP BY label ORDER BY label"}""".stripMargin)

    GraftCli.main(Array("sync", "--input", s"$in/pages1", "--dict", s"$in/dict",
      "--work-dir", work, "--update-tag", "100"))
    GraftCli.main(Array("get-state", "--work-dir", work, "--drift-dir", dd,
      "--timestamp", "1000"))
    GraftCli.main(Array("sync", "--input", s"$in/pages2", "--dict", s"$in/dict",
      "--work-dir", work, "--update-tag", "200"))
    GraftCli.main(Array("get-state", "--work-dir", work, "--drift-dir", dd,
      "--timestamp", "2000"))

    // two runs -> two distinct artifacts, shortcut tracks the newest
    assert(Files.isRegularFile(qd.resolve("1000.json")))
    assert(Files.isRegularFile(qd.resolve("2000.json")))
    assert(DriftRegistry.shortcuts(qd.toString)("most-recent") === "2000.json")
    // same-timestamp recapture must refuse, not overwrite
    intercept[IllegalArgumentException] {
      GraftCli.main(Array("get-state", "--work-dir", work, "--drift-dir", dd,
        "--timestamp", "2000"))
    }

    // drift with no explicit refs diffs the two most recent captures
    val out = new ByteArrayOutputStream()
    Console.withOut(out) {
      GraftCli.main(Array("drift", "--drift-dir", dd, "--query", "label-counts"))
    }
    assert(out.toString.contains(""""new_results":[["Page","1000"]]"""), out.toString)
    assert(out.toString.contains(""""missing_results":[["Page","500"]]"""), out.toString)

    // user shortcut -> usable as a state ref; dangling refs refused
    GraftCli.main(Array("add-shortcut", "--drift-dir", dd, "--query", "label-counts",
      "--alias", "baseline", "--file", "1000.json"))
    val out2 = new ByteArrayOutputStream()
    Console.withOut(out2) {
      GraftCli.main(Array("drift", "--drift-dir", dd, "--query", "label-counts",
        "--start", "baseline", "--end", "most-recent"))
    }
    assert(out2.toString === out.toString)
    intercept[IllegalArgumentException] {
      GraftCli.main(Array("add-shortcut", "--drift-dir", dd, "--query", "label-counts",
        "--alias", "nope", "--file", "missing.json"))
    }
    // numeric ordering: 900 < 1000 even though "900" > "1000" lexically
    Files.writeString(qd.resolve("900.json"), Files.readString(qd.resolve("1000.json")))
    assert(DriftRegistry.stateFiles(qd.toString).map(_.getFileName.toString) ===
      Seq("900.json", "1000.json", "2000.json"))
  }

  test("cli: analytics — pagerank + triangles over the synced graph match the operators") {
    val in = tmp("cliin5")
    val work = tmp("cliwork5")
    val out = tmp("cliout5")
    Corpus.pages(spark, sf, 1, 0).write.parquet(s"$in/pages")
    Corpus.aliasRows.toDS().write.parquet(s"$in/dict")
    GraftCli.main(Array("sync", "--input", s"$in/pages", "--dict", s"$in/dict",
      "--work-dir", work, "--update-tag", "100"))

    // restricted to the predicate rel labels = the entity-entity subgraph
    val preds = Corpus.predicates.map(_._1)
    GraftCli.main(Array("analytics", "--work-dir", work, "--out", out,
      "--rel-labels", preds.mkString(","), "--pagerank-iters", "2"))

    val e = GraphTables.edges(spark, s"$work/graph").read()
      .filter(col("rel_label").isin(preds: _*))
      .select(col("src_id").as("src"), col("dst_id").as("dst"))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()

    val gotPr = spark.read.parquet(s"$out/pagerank")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val wantPr = graft.graph.Analytics.pageRank(e, nodes, 2, 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gotPr.keySet === wantPr.keySet)
    gotPr.foreach { case (id, r) =>
      assert(java.lang.Double.doubleToLongBits(r) ===
        java.lang.Double.doubleToLongBits(wantPr(id)), s"node $id")
    }
    // only entities appear in the restricted subgraph
    assert(gotPr.keySet.forall(_.startsWith("e")), "Page nodes must be excluded")

    val gotTri = spark.read.parquet(s"$out/triangles")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantTri = graft.graph.Analytics.triangleCounts(e)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotTri === wantTri)

    val gotCc = spark.read.parquet(s"$out/components")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val wantCc = graft.link.ConnectedComponents.run(spark,
        e.select(col("src").as("u"), col("dst").as("v")).distinct(), nodes)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gotCc === wantCc)

    val gotHits = spark.read.parquet(s"$out/hits")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val wantHits = graft.graph.Analytics.hits(e, nodes, 2)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(gotHits.keySet === wantHits.keySet)
    gotHits.foreach { case (id, (h, a)) =>
      assert(java.lang.Double.doubleToLongBits(h) ===
        java.lang.Double.doubleToLongBits(wantHits(id)._1), s"node $id hub")
      assert(java.lang.Double.doubleToLongBits(a) ===
        java.lang.Double.doubleToLongBits(wantHits(id)._2), s"node $id auth")
    }
  }

  test("cli: permissions — mapping-file evaluation writes allowed pairs; bad mapping fails before the scan") {
    val in = tmp("cliin6")
    val out = tmp("cliout6")
    Seq((1L, "large widget"), (2L, "small widget"), (3L, "loose bolt"),
      (4L, "long rope"), (5L, "rope"))
      .toDF("res_id", "res_name").write.parquet(s"$in/res")
    val mapping = s"$in/mapping.json"
    Files.writeString(java.nio.file.Paths.get(mapping),
      """{"policies": [
        | {"policy_id": "p_widget", "allow": ["*widget*"], "deny": ["small*"]},
        | {"policy_id": "p_l", "allow": ["l*"], "deny": ["*bolt"]}
        |]}""".stripMargin)
    GraftCli.main(Array("permissions", "--input", s"$in/res",
      "--id-col", "res_id", "--name-col", "res_name",
      "--mapping", mapping, "--out", s"$out/allowed"))
    val got = spark.read.parquet(s"$out/allowed")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // p_widget: widgets 1,2 match allow; 2 denied by small* -> {1}
    // p_l: l-names 1,3,4 match allow; 3 denied by *bolt -> {1,4}
    assert(got === Set(("p_widget", 1L), ("p_l", 1L), ("p_l", 4L)))

    // a policy with no allow glob is rejected while PARSING the mapping,
    // before any parquet path is even resolved
    Files.writeString(java.nio.file.Paths.get(mapping),
      """{"policies": [{"policy_id": "p_bad", "deny": ["x*"]}]}""")
    val e1 = intercept[IllegalArgumentException] {
      GraftCli.main(Array("permissions", "--input", "/does/not/exist",
        "--id-col", "res_id", "--name-col", "res_name",
        "--mapping", mapping, "--out", s"$out/never"))
    }
    assert(e1.getMessage.contains("no allow globs"), e1.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/never")))
  }

  test("cli: multi-tenant sync — shared graph, per-tenant stages, best-effort aggregation gates the post stage") {
    val in = tmp("cliin9")
    val work = tmp("cliwork9")
    val jobs = tmp("clijobs9")
    val out = tmp("cliout9")
    // tenant inputs via the {tenant} template (the per-profile analog);
    // tenant b's corpus is a superset of a's — MERGE semantics unify them
    Corpus.pages(spark, sf, 1, 0).write.parquet(s"$in/tenant_a/pages")
    Corpus.pages(spark, sf, 2, 0).write.parquet(s"$in/tenant_b/pages")
    Corpus.aliasRows.toDS().write.parquet(s"$in/dict")
    Files.writeString(java.nio.file.Paths.get(jobs, "label_counts.json"),
      """{"name": "label counts", "statements": [
        | {"query": "SELECT label, count(*) AS n FROM nodes GROUP BY label ORDER BY label"}
        |]}""".stripMargin)
    val tpl = s"$in/{tenant}/pages"

    // all-green round: both tenants land in ONE graph; post stage runs
    GraftCli.main(Array("sync", "--input", tpl, "--dict", s"$in/dict",
      "--work-dir", work, "--update-tag", "100",
      "--tenants", "tenant_a,tenant_b", "--best-effort", "true",
      "--analysis-job-dir", jobs, "--out", out))
    val nodes = GraphTables.nodes(spark, s"$work/graph")
    assert(nodes.read().filter(col("label") === "Page").count() === 1000L,
      "both tenants' pages must merge into the shared graph")
    assert(Files.isDirectory(java.nio.file.Paths.get(s"$work/tenants/tenant_a")) &&
      Files.isDirectory(java.nio.file.Paths.get(s"$work/tenants/tenant_b")),
      "each tenant keeps its own stage dir")
    val counts = spark.read.parquet(s"$out/label_counts")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts("Page") === 1000L, "post-sync analysis saw the full graph")

    // failing round: tenant_c's input does not exist. Best-effort must
    // finish tenant_a, aggregate the failure, and SKIP the post stage.
    val out2 = tmp("cliout9b")
    val e = intercept[graft.jobs.MultiTenant.MultiTenantSyncException] {
      GraftCli.main(Array("sync", "--input", tpl, "--dict", s"$in/dict",
        "--work-dir", work, "--update-tag", "200",
        "--tenants", "tenant_a,tenant_c", "--best-effort", "true",
        "--analysis-job-dir", jobs, "--out", out2))
    }
    assert(e.report.succeeded === Seq("tenant_a"))
    assert(e.report.failed.map(_.tenantId) === Seq("tenant_c"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$out2/label_counts")),
      "post stage must not run on a partially-synced round")
    // tenant_a's tag-200 refresh still committed before the aggregation
    assert(nodes.read().filter(col("label") === "Page" &&
      col("lastupdated") === 200L).count() === 500L)

    // without best-effort the first failure propagates as-is
    intercept[Exception] {
      GraftCli.main(Array("sync", "--input", tpl, "--dict", s"$in/dict",
        "--work-dir", work, "--update-tag", "300",
        "--tenants", "tenant_c,tenant_a"))
    } match {
      case _: graft.jobs.MultiTenant.MultiTenantSyncException =>
        fail("fail-fast mode must not aggregate")
      case _ => ()
    }
    // missing {tenant} hole fails before anything runs
    val bad = intercept[IllegalArgumentException] {
      GraftCli.main(Array("sync", "--input", s"$in/tenant_a/pages",
        "--dict", s"$in/dict", "--work-dir", work, "--update-tag", "400",
        "--tenants", "tenant_a"))
    }
    assert(bad.getMessage.contains("{tenant}"), bad.getMessage)
  }

  test("cli: rebucket evolves the layout — rows preserved, new count recorded and enforced") {
    val in = tmp("cliin11")
    val work = tmp("cliwork11")
    Corpus.pages(spark, sf, 1, 0).write.parquet(s"$in/pages")
    Corpus.aliasRows.toDS().write.parquet(s"$in/dict")
    GraftCli.main(Array("sync", "--input", s"$in/pages", "--dict", s"$in/dict",
      "--work-dir", work, "--update-tag", "100"))

    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("label", "id", "firstseen", "lastupdated")
      .collect().map(_.toString).sorted.toSeq
    def created(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("label", "id", "firstseen").collect().map(_.toString).sorted.toSeq
    val nodesBefore = keyed(GraphTables.nodes(spark, s"$work/graph").read())
    val createdBefore = created(GraphTables.nodes(spark, s"$work/graph").read())
    val edgesBefore = GraphTables.edges(spark, s"$work/graph").read()
      .selectExpr("src_id", "rel_label", "dst_id")
      .collect().map(_.toString).sorted.toSeq

    GraftCli.main(Array("rebucket", "--work-dir", work,
      "--new-buckets", "3", "--update-tag", "200"))

    // rows byte-equal across the layout change
    val nodes3 = GraphTables.nodes(spark, s"$work/graph", buckets = Some(3))
    val edges3 = GraphTables.edges(spark, s"$work/graph", buckets = Some(3))
    assert(keyed(nodes3.read()) === nodesBefore)
    assert(edges3.read().selectExpr("src_id", "rel_label", "dst_id")
      .collect().map(_.toString).sorted.toSeq === edgesBefore)
    // new layout recorded in the manifests
    assert(nodes3.latestVersion.flatMap(nodes3.recordedBuckets) === Some(3))
    assert(edges3.latestVersion.flatMap(edges3.recordedBuckets) === Some(3))
    def inLayout(t: SnapshotTable): Boolean =
      t.partitionsOf(t.latestVersion.get).keys
        .forall(pv => Set("0", "1", "2")(pv.substring(pv.lastIndexOf("~b") + 2)))
    assert(inLayout(nodes3) && inLayout(edges3))
    // the count is the manifest's alone: no subcommand takes
    // --graph-buckets (a new graph's first commit sizes its buckets)
    val e = intercept[IllegalArgumentException] {
      GraftCli.main(Array("rebucket", "--new-buckets", "3", "--work-dir", work,
        "--update-tag", "250", "--graph-buckets", "3"))
    }
    assert(e.getMessage.contains("unknown flag(s) for rebucket: --graph-buckets"),
      e.getMessage)
    val onSync = intercept[IllegalArgumentException] {
      GraftCli.main(Array("sync", "--input", s"$in/pages", "--dict", s"$in/dict",
        "--work-dir", work, "--update-tag", "250", "--graph-buckets", "3"))
    }
    assert(onSync.getMessage.contains("unknown flag(s) for sync: --graph-buckets"),
      onSync.getMessage)
    // an incremental sync keeps working end-to-end with no bucket flag
    GraftCli.main(Array("sync", "--input", s"$in/pages", "--dict", s"$in/dict",
      "--work-dir", work, "--update-tag", "300"))
    assert(created(nodes3.read()) === createdBefore)
    assert(nodes3.latestVersion.flatMap(nodes3.recordedBuckets) === Some(3))
    assert(edges3.latestVersion.flatMap(edges3.recordedBuckets) === Some(3))
    // the sync opened the graph with no declared count, and its scoped
    // commits followed the recorded layout
    assert(inLayout(nodes3) && inLayout(edges3))
  }

  test("cli: a legacy graph (manifests without a bucket count) fails sync naming rebucket; rebucket heals it") {
    val in = tmp("cliin13")
    val work = tmp("cliwork13")
    Corpus.pages(spark, sf, 1, 0).write.parquet(s"$in/pages")
    Corpus.aliasRows.toDS().write.parquet(s"$in/dict")
    def sync(tag: Int): Unit =
      GraftCli.main(Array("sync", "--input", s"$in/pages", "--dict", s"$in/dict",
        "--work-dir", work, "--update-tag", tag.toString,
        "--analysis-job-dir", "none"))
    sync(100)
    val nodes = GraphTables.nodes(spark, s"$work/graph")
    val edges = GraphTables.edges(spark, s"$work/graph")
    val before = nodes.read().count()
    Seq(nodes, edges).foreach { t =>
      val mf = java.nio.file.Paths.get(t.root, "_manifest", s"v${t.latestVersion.get}.json")
      Files.writeString(mf, Files.readString(mf).replaceAll(""","buckets":\d+""", ""))
    }
    val e = intercept[IllegalStateException](sync(200))
    assert(e.getMessage.contains("rebucket --new-buckets"), e.getMessage)
    assert(nodes.read().count() === before, "full reads keep working")
    GraftCli.main(Array("rebucket", "--work-dir", work, "--new-buckets", "4",
      "--update-tag", "300"))
    Seq(nodes, edges).foreach(t =>
      assert(t.latestVersion.flatMap(t.recordedBuckets) === Some(4)))
    sync(400)
    assert(nodes.read().count() === before)
    assert(nodes.read().filter(col("label") === "Page" &&
      col("lastupdated") === 400L).count() === 500L)
  }

  test("cli: remove-orphans collects an aged abandoned version dir, spares committed state") {
    val in = tmp("cliin7")
    val work = tmp("cliwork7")
    Corpus.pages(spark, sf, 1, 0).write.parquet(s"$in/pages")
    Corpus.aliasRows.toDS().write.parquet(s"$in/dict")
    GraftCli.main(Array("sync", "--input", s"$in/pages", "--dict", s"$in/dict",
      "--work-dir", work, "--update-tag", "100"))
    val nodes = GraphTables.nodes(spark, s"$work/graph")
    val before = nodes.read().count()

    // fake a crashed writer: an uncommitted version dir, aged 10 hours
    val v = nodes.latestVersion.get + 7
    val dead = java.nio.file.Paths.get(s"$work/graph/nodes/data/v$v/orphan")
    Files.createDirectories(dead)
    Files.writeString(dead.resolve("part-0.parquet"), "x")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10 * 3600 * 1000L)
    Seq(dead.resolve("part-0.parquet"), dead, dead.getParent)
      .foreach(p => Files.setLastModifiedTime(p, old))

    GraftCli.main(Array("remove-orphans", "--work-dir", work,
      "--older-than-hours", "1"))
    assert(!Files.exists(dead.getParent), "aged orphan dir must be collected")
    assert(nodes.read().count() === before, "committed state untouched")
  }

  test("cli: corpus — quality rows per doc, dedup keeps one rep per dup group, sample nests in kept") {
    val in = tmp("clicorp")
    val out = tmp("clicorpout")
    // 40 base docs with distinctive vocab + near-copies of the multiples
    // of 4 (one word changed) + exact copies of the multiples of 10
    def text(i: Long) = (0 until 30).map(w => s"w${i}x$w").mkString(" ")
    val base = (0L until 40L).map(i => (i, text(i)))
    val near = (0L until 40L).filter(_ % 4 == 0)
      .map(i => (i + 1000L, text(i).replace(s"w${i}x7", "CHANGED")))
    val exact = (0L until 40L).filter(_ % 10 == 0)
      .map(i => (i + 2000L, text(i)))
    (base ++ near ++ exact).toDF("doc_id", "text")
      .write.parquet(s"$in/docs")
    GraftCli.main(Array("corpus", "--input", s"$in/docs",
      "--out", out, "--sample-rate", "0.5"))
    val n = 40 + 10 + 4
    assert(spark.read.parquet(s"$out/quality").count() === n.toLong)
    val kept = spark.read.parquet(s"$out/kept")
      .as[Long].collect().toSet
    // every dup group collapses to one representative: the near/exact
    // copies tie or lose on tokens, so the original (smallest id) wins
    assert(kept === (0L until 40L).toSet)
    val sample = spark.read.parquet(s"$out/sample")
      .select("doc_id").as[Long].collect().toSet
    assert(sample.subsetOf(kept) && sample.nonEmpty && sample.size < kept.size)
    // unknown op fails fast
    val e = intercept[IllegalArgumentException] {
      GraftCli.main(Array("corpus", "--input", s"$in/docs",
        "--out", out, "--ops", "quality,frobnicate"))
    }
    assert(e.getMessage.contains("unknown ops"), e.getMessage)
  }

  test("cli: corpus segdedup + decontam — contaminated docs leave the sample; span report lands") {
    val in = tmp("clicorp2")
    val out = tmp("clicorp2out")
    def text(i: Long) = (0 until 30).map(w => s"w${i}x$w").mkString(" ")
    (0L until 20L).map(i => (i, text(i))).toDF("doc_id", "text")
      .write.parquet(s"$in/docs")
    // eval benchmark = words 5..24 of docs 3 and 7 → both contaminated
    Seq((100L, (4 until 24).map(w => s"w3x$w").mkString(" ")),
      (101L, (4 until 24).map(w => s"w7x$w").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$in/eval")
    GraftCli.main(Array("corpus", "--input", s"$in/docs", "--out", out,
      "--ops", "dedup,segdedup,decontam,sample",
      "--eval-input", s"$in/eval", "--seg-tokens", "10"))
    val dec = spark.read.parquet(s"$out/decontam")
    assert(dec.filter(col("contaminated")).select("doc_id").as[Long]
      .collect().toSet === Set(3L, 7L))
    val sample = spark.read.parquet(s"$out/sample")
      .select("doc_id").as[Long].collect().toSet
    assert(!sample.contains(3L) && !sample.contains(7L),
      "contaminated docs must not reach the sample")
    // span report: distinct-vocab docs keep all 3 10-token segments
    val seg = spark.read.parquet(s"$out/segdedup")
    assert(seg.count() === 20L)
    assert(seg.filter(col("n_dropped") > 0).count() === 0L)
    // decontam without --eval-input fails before any work
    val e = intercept[IllegalArgumentException] {
      GraftCli.main(Array("corpus", "--input", s"$in/docs",
        "--out", out, "--ops", "decontam"))
    }
    assert(e.getMessage.contains("eval-input"), e.getMessage)
  }
}

package graft.jobs

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.drift.DriftStates
import graft.kg.{AliasRow, Corpus, KgPipeline}
import graft.merge.{Cleanup, GraphMerge, GraphTables}
import graft.model._

/** Coverage for the config/data-driven layer: selected_relationships
  * (querybuilder.py:319-358 + its filter test), property clearing
  * (aws_ec2_asset_exposure.json stmts 1-4), stage-subset sync
  * (sync.py:210-243), jobs-as-data with parameter validation
  * (graph/job.py:23-53,137-150), and drift states
  * (get_states.py:130-161, detect_deviations.py:66-112).
  */
class JobsSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graftjobs").toString

  private val assetSchema = NodeSchema(
    label = "Asset", idRef = RowRef("id"),
    properties = Map("name" -> RowRef("name")),
    subResource = Some(SubResourceRel(targetLabel = "Account",
      ref = KwargRef("account_id"))),
    otherRels = Seq(
      RelSchema("USES", "Asset", LinkDirection.Outward,
        Seq(TargetMatcher("id", RowRef("uses_id")))),
      RelSchema("TAGGED", "Tag", LinkDirection.Outward,
        Seq(TargetMatcher("id", RowRef("tag_id"))))))

  private def loadFixture(root: String, selected: Option[Set[String]]) = {
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    GraphMerge.load(spark, Seq(("acct1", "prod")).toDF("aid", "name"),
      NodeSchema("Account", RowRef("aid"), Map("name" -> RowRef("name"))),
      Map.empty, 100L, nodes, edges)
    GraphMerge.load(spark, Seq(("t1", "team-a")).toDF("tid", "name"),
      NodeSchema("Tag", RowRef("tid"), Map("name" -> RowRef("name"))),
      Map.empty, 100L, nodes, edges)
    val batch = Seq(("a1", "alpha", null.asInstanceOf[String], "t1"),
                    ("a2", "beta", "a1", "t1")).toDF("id", "name", "uses_id", "tag_id")
    GraphMerge.load(spark, batch, assetSchema, Map("account_id" -> "acct1"),
      100L, nodes, edges, selectedRels = selected)
    (nodes, edges)
  }

  private def relSet(edges: graft.snapshot.SnapshotTable): Set[String] =
    if (!edges.exists) Set.empty
    else edges.read().select("rel_label").distinct().collect().map(_.getString(0)).toSet

  test("selected_relationships: None loads everything; subset loads only itself; sub-resource only when selected") {
    val (_, eAll) = loadFixture(tmp(), None)
    assert(relSet(eAll) === Set("RESOURCE", "USES", "TAGGED"))

    // sub-resource rel NOT selected -> not loaded, USES only
    val (_, eUses) = loadFixture(tmp(), Some(Set("USES")))
    assert(relSet(eUses) === Set("USES"))

    // explicit selection of the sub-resource rel
    val (_, eRes) = loadFixture(tmp(), Some(Set("RESOURCE", "TAGGED")))
    assert(relSet(eRes) === Set("RESOURCE", "TAGGED"))

    // empty set -> no relationships at all (nodes still load)
    val (nNone, eNone) = loadFixture(tmp(), Some(Set.empty))
    assert(relSet(eNone) === Set.empty)
    assert(nNone.read().filter(col("label") === "Asset").count() === 2)
  }

  test("selected_relationships: unknown rel label raises (filter test analog)") {
    val err = intercept[IllegalArgumentException] {
      loadFixture(tmp(), Some(Set("NOT_A_REL")))
    }
    assert(err.getMessage.contains("NOT_A_REL"))
    assert(err.getMessage.contains("Asset"))
  }

  test("clearProperties removes only the named keys from matching nodes, bucket-precisely") {
    val root = tmp()
    // 40 rows would size to one bucket: declare 8, so bucket precision shows
    val nodes = GraphTables.nodes(spark, root, buckets = Some(8))
    val edges = GraphTables.edges(spark, root)
    val batch = (0 until 40).map(i => (s"a$i", s"name$i")).toDF("id", "name")
    val schema = NodeSchema("Asset", RowRef("id"),
      Map("name" -> RowRef("name"), "exposed" -> KwargRef("exposed")))
    GraphMerge.load(spark, batch, schema, Map("exposed" -> "true"), 100L, nodes, edges)

    val v1 = nodes.latestVersion.get
    // clear 'exposed' only where id ends in 0 (4 nodes)
    val n = Cleanup.clearProperties(spark, nodes, "Asset", Seq("exposed"), 200L,
      predicate = col("id").endsWith("0"))
    assert(n === 4)
    val state = nodes.read().filter(col("label") === "Asset")
      .select(col("id"), element_at(col("props"), "exposed").as("e"),
        element_at(col("props"), "name").as("nm"))
      .collect().map(r => r.getString(0) -> (Option(r.getString(1)), r.getString(2))).toMap
    assert(state("a10") === ((None, "name10")), "cleared key gone, others kept")
    assert(state("a11") === ((Some("true"), "name11")), "non-matching untouched")

    // bucket precision: at least one untouched bucket carried by reference
    val v2 = nodes.latestVersion.get
    val p1 = nodes.partitionsOf(v1)
    val p2 = nodes.partitionsOf(v2)
    assert(p2.exists { case (k, rel) => p1.get(k).contains(rel) },
      "some untouched bucket must carry forward by reference")

    // clearing a key nobody has is a no-op commit-wise
    assert(Cleanup.clearProperties(spark, nodes, "Asset", Seq("ghost"), 300L) === 0)
    assert(nodes.latestVersion.get === v2)
  }

  test("runStages: a partial sync runs only selected stages and a later partial run completes it") {
    val work = tmp()
    val pipe = new KgPipeline(spark, work)
    val pages = Corpus.pages(spark, sf1)
    pipe.runStages(pages, Corpus.aliasRows, 100L, "extract,facts")
    assert(pipe.stageDone("extract", 100L) && pipe.stageDone("facts", 100L))
    assert(!pipe.stageDone("canonical", 100L) && !pipe.stageDone("triples", 100L))

    // second partial run completes the pipeline from committed state
    val pipe2 = new KgPipeline(spark, work)
    pipe2.runStages(pages, Corpus.aliasRows, 100L, "canonical,triples,merge")
    assert(pipe2.stageDone("triples", 100L) && pipe2.stageDone("merge", 100L))
    // results equal the one-shot pipeline's
    val full = new KgPipeline(spark, tmp())
      .run(pages, KgPipeline.DriverDictionary(Corpus.aliasRows), 100L, mergeGraph = false)
    val a = graft.snapshot.SnapshotTable(spark, s"$work/stage_triples", None)
      .read().collect().map(_.toString).toSet
    val b = full.triples.collect().map(_.toString).toSet
    assert(a === b)
  }

  test("runStages: missing dependency and unknown stage name fail fast with the reference error shapes") {
    val pipe = new KgPipeline(spark, tmp())
    val pages = Corpus.pages(spark, sf1)
    val e1 = intercept[IllegalArgumentException] {
      pipe.runStages(pages, Corpus.aliasRows, 100L, "triples")
    }
    assert(e1.getMessage.contains("requires 'facts'"))
    val e2 = intercept[IllegalArgumentException] {
      pipe.runStages(pages, Corpus.aliasRows, 100L, "extract,nope")
    }
    assert(e2.getMessage.contains("full list of valid values"))
  }

  test("GraphJob: json-defined statements run with validated params; missing param fails before execution") {
    val job = GraphJob.fromJson(
      """{ "name": "exposure",
        |  "statements": [
        |    {"query": "SELECT id, map_filter(props, (k, v) -> k != 'exposed') AS props FROM nodes", "updates": "nodes", "iterative": true, "iterationsize": 1000},
        |    {"query": "SELECT id, map_concat(props, map('exposed', 'true')) AS props FROM nodes WHERE id LIKE '%$SUFFIX'", "updates": "flagged"},
        |    {"query": "SELECT f.id, $UPDATE_TAG AS tag FROM flagged f ORDER BY f.id"}
        |  ]}""".stripMargin)
    assert(job.name === "exposure")
    assert(job.requiredParams === Set("SUFFIX", "UPDATE_TAG"))

    val nodes = Seq(("a1", Map("exposed" -> "stale")), ("b2", Map("keep" -> "x")))
      .toDF("id", "props")
    val missing = intercept[IllegalArgumentException] {
      job.run(spark, Map("nodes" -> nodes), Map("UPDATE_TAG" -> "7"))
    }
    assert(missing.getMessage.contains("SUFFIX"))

    val (state, out) = job.run(spark, Map("nodes" -> nodes),
      Map("SUFFIX" -> "2", "UPDATE_TAG" -> "7"))
    val rows = out.get.collect().map(r => (r.getString(0), r.get(1).toString))
    assert(rows.toSeq === Seq(("b2", "7")))
    // statement 1's clearing is visible to later statements via the view
    val cleared = state("nodes").select(element_at(col("props"), "exposed"))
      .collect().flatMap(r => Option(r.getString(0)))
    assert(cleared.isEmpty)
  }

  test("GraphJob: an updates view is checkpointed lazily — a filter runs no Spark job in run, and the output equals an eager run") {
    val t = graft.snapshot.SnapshotTable(spark, s"${tmp()}/nodes")
    t.commit(spark.range(200).select(col("id").cast("string").as("id"),
      (col("id") % 3).as("g"), (col("id") * 2).as("w")), 1L)
    val job = GraphJob.fromJson(
      """{ "name": "lazy",
        |  "statements": [
        |    {"query": "SELECT id, g, w FROM nodes WHERE g = 1", "updates": "nodes"},
        |    {"query": "SELECT id, g + 1 AS g, w * 10 AS w FROM nodes", "updates": "nodes"},
        |    {"query": "SELECT g, count(*) AS n, sum(w) AS s FROM nodes GROUP BY g"}
        |  ]}""".stripMargin)
    val filterOnly = job.copy(statements = job.statements.take(1) :+ job.statements.last)
    val ((_, lazyOut), jobs) = sparkJobs(filterOnly.run(spark, Map("nodes" -> t.read()), Map.empty))
    assert(jobs === 0, s"GraphJob.run ran $jobs Spark jobs")

    // the same statements, each updates view checkpointed eagerly
    def eager(j: GraphJob): Seq[String] = {
      t.read().createOrReplaceTempView("nodes")
      var last: Option[org.apache.spark.sql.DataFrame] = None
      j.statements.foreach { st =>
        val out = spark.sql(st.query)
        st.updates match {
          case Some(v) => out.localCheckpoint().createOrReplaceTempView(v)
          case None => last = Some(out)
        }
      }
      last.get.collect().map(_.toString).sorted.toSeq
    }
    assert(lazyOut.get.collect().map(_.toString).sorted.toSeq === eager(filterOnly))
    // a view that redefines itself reads its previous state, not itself
    val (state, out) = job.run(spark, Map("nodes" -> t.read()), Map.empty)
    val got = out.get.collect().map(_.toString).sorted.toSeq
    assert(got === eager(job))
    assert(got === Seq("[2,67,134000]"))
    assert(state("nodes").count() === 67L)
  }

  test("GraphJob.fromDirectory loads the job corpus sorted") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(dir, "b.json"),
      """{"name":"two","statements":[{"query":"SELECT 2 AS x"}]}""")
    Files.writeString(java.nio.file.Paths.get(dir, "a.json"),
      """{"name":"one","statements":[{"query":"SELECT 1 AS x"}]}""")
    val jobs = GraphJob.fromDirectory(dir)
    assert(jobs.map(_.name) === Seq("one", "two"))
    assert(GraphJob.fromDirectory(dir + "/nope").isEmpty)
  }

  test("drift states: canonicalized results, validation gates, both-direction diff") {
    val q = "nodes where label = Customer"
    val df1 = Seq(("c1", Seq("b", "a")), ("c2", Seq("x"))).toDF("id", "tags")
    val df2 = Seq(("c1", Seq("a", "b")), ("c3", Seq("y"))).toDF("id", "tags")
    val s1 = DriftStates.fromDataFrame("cust", q, df1)
    val s2 = DriftStates.fromDataFrame("cust", q, df2)
    assert(s1.properties === Seq("id", "tags"))
    assert(s1.results.contains(Seq("c1", "a|b")), "lists sort + pipe-join")

    // round-trip through the JSON artifact
    val p = tmp() + "/state1.json"
    DriftStates.save(s1, p)
    assert(DriftStates.load(p) === s1)

    val (added, removed) = DriftStates.performDriftDetection(s1, s2)
    assert(added === Seq(Seq("c3", "y")), "c1 canonicalizes equal despite order")
    assert(removed === Seq(Seq("c2", "x")))

    // validation gates
    val sOther = DriftStates.fromDataFrame("other", q, df2)
    val e1 = intercept[IllegalArgumentException] {
      DriftStates.performDriftDetection(s1, sOther)
    }
    assert(e1.getMessage.contains("names"))
    val sProps = DriftStates.fromDataFrame("cust", q, df2.withColumnRenamed("tags", "t2"))
    val e2 = intercept[IllegalArgumentException] {
      DriftStates.performDriftDetection(s1, sProps)
    }
    assert(e2.getMessage.contains("properties"))
  }
}

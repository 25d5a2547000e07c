package graft.merge

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.kg.{Corpus, KgPipeline}
import graft.model._

/** A sync's nodes and edges commits run at once (`KgPipeline.writeGraph`,
  * `Cleanup.run`). Every job the second thread starts must still belong
  * to the caller's job group: job-count bounds (`sparkJobs`) and traced
  * layers count jobs by group, so a job outside it would go uncounted.
  */
class ConcurrentCommitSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graftconc").toString

  /** The job group of every job that started during `body`, run under
    * group `group`. A marker job in its own group is awaited after
    * `body`: the listener bus delivers in order, so once the marker is
    * seen every job of `body` has been recorded.
    */
  private def jobGroupsOf(group: String)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>")): Unit
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "attributed")
      try body finally sc.clearJobGroup()
      val marker = s"$group-marker"
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "the marker job was never seen")
      seen.asScala.toSeq.takeWhile(_ != marker)
    } finally sc.removeSparkListener(listener)
  }

  private val pageSchema = NodeSchema("Page", RowRef("id"),
    properties = Map("lang" -> RowRef("lang")))

  test("every job of writeGraph and Cleanup.run carries the caller's job group") {
    val graph = s"${tmp()}/graph"
    val pages = Corpus.pages(spark, sf1)
    val half = pages.filter(pmod(xxhash64(col("url")), lit(2)) === 0)
    def stagesThenMerge(pagesIn: org.apache.spark.sql.Dataset[graft.kg.Page], tag: Long,
                        group: String): (KgPipeline, Seq[String]) = {
      val pipe = new KgPipeline(spark, tmp(), graphRoot = Some(graph))
      pipe.runStages(pagesIn, Corpus.aliasRows, tag, "extract,facts,canonical,triples")
      (pipe, jobGroupsOf(group)(pipe.runStages(pagesIn, Corpus.aliasRows, tag, "merge")))
    }
    // the first sync's two first commits, then a re-sync's scoped ones
    val (_, first) = stagesThenMerge(pages, 100L, "first-sync")
    val (pipe, resync) = stagesThenMerge(half, 200L, "re-sync")
    var stats: CleanupStats = null
    val cleanup = jobGroupsOf("cleanup") {
      stats = Cleanup.run(spark, pageSchema, Map.empty, 200L, pipe.nodes, pipe.edges)
    }
    assert(stats.nodesDeleted > 0 && stats.edgesDeleted > 0, stats)
    Seq("first-sync" -> first, "re-sync" -> resync, "cleanup" -> cleanup).foreach {
      case (group, groups) =>
        info(s"$group: ${groups.size} jobs")
        assert(groups.nonEmpty, s"$group ran no job")
        val strays = groups.filterNot(_ == group)
        assert(strays.isEmpty, s"$group: jobs outside the caller's group: $strays")
    }
  }

  test("an idle cleanup of a schema with no rel labels runs no edge-side job") {
    val root = tmp()
    val nodes = GraphTables.nodes(spark, root)
    val edges = GraphTables.edges(spark, root)
    GraphMerge.load(spark, Seq(("p1", "en"), ("p2", "de")).toDF("id", "lang"),
      pageSchema, Map.empty, 100L, nodes, edges)
    GraphMerge.upsertEdgeBatch(spark, Seq(("Page", "p1", "LINKS", "Page", "p2"))
      .toDF("src_label", "src_id", "rel_label", "dst_label", "dst_id")
      .withColumn("props", map().cast("map<string,string>"))
      .withColumn("firstseen", lit(100L)).withColumn("lastupdated", lit(100L)), 100L, edges)
    val versions = (nodes.latestVersion, edges.latestVersion)
    // nothing is stale and the schema declares no rel label: neither
    // DETACH nor the stale-rel sweep can delete an edge, so the one job
    // is the stale set's emptiness check
    val (stats, jobs) = sparkJobs(Cleanup.run(spark, pageSchema, Map.empty, 100L, nodes, edges))
    assert(stats === CleanupStats(0L, 0L))
    info(s"idle cleanup, no rel labels: $jobs jobs")
    assert(jobs <= 1, s"the idle cleanup ran $jobs Spark jobs")
    assert((nodes.latestVersion, edges.latestVersion) === versions)
  }
}

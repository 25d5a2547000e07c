package graft.jobs

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One statement of a data-driven analysis job: a Spark SQL template
  * with `$param` placeholders. `updates` names a temp view the result
  * REPLACES for subsequent statements (the Spark-native analog of the
  * reference's graph-mutating SET/REMOVE statements — state evolves
  * declaratively instead of in place); a statement without `updates` is
  * a pure read whose result becomes the job output. The reference's
  * `iterative`/`iterationsize` fields are accepted and ignored: they
  * bound Neo4j transaction memory (graph/job.py:152-161), which
  * set-oriented Spark does not need.
  */
final case class JobStatement(query: String, updates: Option[String])

/** A runnable analysis job loaded from data, not compiled in — the
  * GraphJob analog (cartography/graph/job.py:68-150 + intel/analysis.py:
  * 12-42): users drop JSON job definitions into a directory and the
  * engine runs them against the graph with validated parameters.
  *
  * JSON shape (same field names as the reference's job files under
  * data/jobs/analysis/):
  * {{{
  * { "name": "AWS asset internet exposure",
  *   "statements": [
  *     {"query": "SELECT ... FROM nodes WHERE x = $UPDATE_TAG",
  *      "updates": "nodes", "iterative": false}, ... ] }
  * }}}
  */
final case class GraphJob(name: String, statements: Seq[JobStatement]) {

  /** Every `$param` referenced by any statement (job.py:23-53). */
  def requiredParams: Set[String] =
    statements.flatMap(s => GraphJob.paramRe.findAllMatchIn(s.query)
      .map(_.group(1))).toSet

  /** Run the statements sequentially. `views` seeds the temp views the
    * SQL can reference (e.g. "nodes" -> the graph node state). Missing
    * parameters fail fast BEFORE anything executes, mirroring
    * GraphJob.from_node_schema's validation (job.py:137-150). Returns
    * (final view states, last pure-read result if any).
    */
  def run(spark: SparkSession, views: Map[String, DataFrame],
          params: Map[String, String]): (Map[String, DataFrame], Option[DataFrame]) = {
    val missing = requiredParams -- params.keySet
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"""GraphJob is missing the following expected query parameters: "${missing.mkString(", ")}". """ +
          "Please check the value passed to `parameters`.")

    views.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    var state = views
    var lastRead: Option[DataFrame] = None
    statements.foreach { st =>
      val sql = GraphJob.paramRe.replaceAllIn(st.query, m =>
        scala.util.matching.Regex.quoteReplacement(params(m.group(1))))
      val out = spark.sql(sql)
      st.updates match {
        case Some(view) =>
          // cut the plan from its lineage before replacing the view: the
          // plan references the view it is about to redefine. The
          // checkpoint is lazy: AQE's shuffle stages run here, but the
          // final stage runs inside the job of the first statement that
          // reads the view, instead of as a job of its own. Reliable
          // checkpoint when a dir is configured (localCheckpoint blocks
          // die with a lost executor and their lineage is already cut).
          val frozen =
            if (spark.sparkContext.getCheckpointDir.isDefined) out.checkpoint(eager = false)
            else out.localCheckpoint(eager = false)
          frozen.createOrReplaceTempView(view)
          state += view -> frozen
        case None => lastRead = Some(out)
      }
    }
    (state, lastRead)
  }
}

object GraphJob {
  private[jobs] val paramRe = """\$([A-Za-z_][A-Za-z0-9_]*)""".r

  /** Scoped-job parameter binding — run_scoped_analysis_job
    * (cartography/util.py:98-130): sub-resource kwargs (tenant id,
    * update tag, ...) are merged INTO the job's parameters so scoped
    * jobs can reference `$nation_id` etc. without each caller re-plumbing
    * them. A key bound by BOTH sides must agree — any value conflict
    * throws. There is deliberately no precedence: a job-file param
    * silently shadowing a scope kwarg (or vice versa) is how the
    * reference leaks one tenant's analysis into another.
    */
  def scopedParams(params: Map[String, String],
                   scopeKwargs: Map[String, String]): Map[String, String] = {
    val clash = params.keySet intersect scopeKwargs.keySet
    clash.foreach { k =>
      require(params(k) == scopeKwargs(k),
        s"scoped-job parameter '$k' is bound twice with different values " +
          s"('${params(k)}' vs scope '${scopeKwargs(k)}')")
    }
    scopeKwargs ++ params
  }
  private val mapper = new ObjectMapper()

  /** Parse a job from its JSON definition (run_from_json analog). */
  def fromJson(json: String): GraphJob = {
    val root = mapper.readTree(json)
    require(root.hasNonNull("name"), "job JSON requires a 'name'")
    require(root.hasNonNull("statements"), "job JSON requires 'statements'")
    val stmts = root.get("statements").elements().asScala.map { s =>
      require(s.hasNonNull("query"), "every statement requires a 'query'")
      JobStatement(s.get("query").asText(),
        Option(s.get("updates")).filter(!_.isNull).map(_.asText()))
    }.toSeq
    GraphJob(root.get("name").asText(), stmts)
  }

  /** Load every *.json job under a directory, sorted by path — the
    * analysis-job corpus entrypoint (intel/analysis.py:31-42).
    */
  def fromDirectory(dir: String): Seq[GraphJob] =
    jobFilesIn(dir).map(p => fromJson(java.nio.file.Files.readString(p)))

  /** The SHIPPED analysis-job corpus — the repo's analog of the
    * reference's in-package job library
    * (cartography/data/jobs/analysis *.json, loaded by
    * intel/analysis.py:12-42): jobs a user gets out of the box, not
    * ones they must author. Resolved relative to the working directory
    * (sbt forks tests and `runMain` from the repo root); None when it
    * does not exist (e.g. the library deployed without its data dir —
    * callers treat that as "no corpus", never an error).
    */
  def shippedDir: Option[String] =
    Some("data/jobs/analysis")
      .filter(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)))

  /** Sorted *.json paths under `dir` (recursive). The walk stream is
    * CLOSED eagerly — `Files.walk` holds a file descriptor until GC
    * otherwise.
    */
  def jobFilesIn(dir: String): Seq[java.nio.file.Path] = {
    val d = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(d)) return Seq.empty
    val s = java.nio.file.Files.walk(d)
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".json"))
      .toSeq.sortBy(_.toString)
    finally s.close()
  }
}

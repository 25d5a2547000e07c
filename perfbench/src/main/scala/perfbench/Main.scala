package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.core.Graft
import graft.jobs.GraphJob
import graft.kg.{Corpus, KgPipeline, Page}
import graft.merge.Cleanup
import graft.model.{NodeSchema, RowRef}
import graft.snapshot.SnapshotTable

/** The benchmark's JVM side: sets up, then runs one workload as a closed
  * loop (one operation at a time) for a fixed time, timing every layer by
  * calling its public entry point from outside. `run.py` generates the
  * inputs, computes the expected outputs and checks them; this program
  * reports what it measured and observed as one JSON line on stdout,
  * prefixed with `RESULT `.
  *
  * Workload kinds:
  *  - `resync`: set-up syncs the whole pages table into an empty graph
  *    at tag 100; each operation starts from a byte copy of that graph
  *    (made untimed), re-syncs the selected half at tag 101, deletes the
  *    stale `Page` nodes and runs the shipped analysis jobs;
  *  - `query`: set-up runs the query list once cold, writing each
  *    query's result for the oracle check; each operation is one pass
  *    over the list into a noop sink.
  */
object Main {

  final case class Args(kind: String, work: Path, dataDir: String,
                        replicas: Int, noise: Int, repOffset: Int, salt: Long,
                        cores: Int, seconds: Double, trace: Boolean,
                        jobsDir: String, queries: Seq[(String, String)],
                        spansOut: Option[String])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val queries = m.get("queries").toSeq.flatMap(_.split(',')).map { mq =>
      val Array(module, name) = mq.split(':'); module -> name
    }
    Args(m("kind"), Paths.get(m("work")), m("data-dir"), m("replicas").toInt,
      m("noise").toInt, m("rep-offset").toInt, m("salt").toLong,
      m("cores").toInt, m("seconds").toDouble, m("trace") == "1", m("jobs-dir"),
      queries, m.get("spans-out"))
  }

  /** Table materializations per set-up; set-up reports their median. */
  val SetupRepeats = 3
  val BaseTag = 100L
  val ResyncTag = 101L
  /** Page nodes as the pipeline's merge stage writes them. */
  val PageSchema: NodeSchema =
    NodeSchema("Page", RowRef("id"), properties = Map("lang" -> RowRef("lang")))
  val StageOfLayer: Map[String, String] = Map("kg.extract" -> "extract",
    "kg.facts" -> "facts", "link.canonical" -> "canonical",
    "kg.triples" -> "triples", "merge.graph" -> "merge")

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val clock = new Clock
    val heap = new HeapPeak
    val session0 = clock.nowMs
    val spark = Graft.session(s"local[${a.cores}]", a.cores, "perfbench")
    try {
      val sessionS = (clock.nowMs - session0) / 1000
      new Run(spark, a, clock, heap, sessionS).run()
    } finally spark.stop()
  }

  /** CPU seconds this JVM has used, every thread. */
  def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Bytes of every regular file under `p` (0 if absent). */
  def duBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Files and rows written by the given versions of a snapshot table:
    * only partitions committed fresh in that version count, not the
    * ones carried forward by reference.
    */
  def freshFilesRows(t: SnapshotTable, versions: Seq[Long]): (Long, Long) = {
    val conf = t.spark.sessionState.newHadoopConf()
    var files = 0L
    var rows = 0L
    versions.foreach { v =>
      t.partitionsOf(v).values.filter(_.startsWith(s"data/v$v/")).foreach { rel =>
        val (f, r) = parquetFilesRows(Paths.get(t.root, rel), conf)
        files += f; rows += r
      }
    }
    (files, rows)
  }

  def parquetFilesRows(dir: Path,
                       conf: org.apache.hadoop.conf.Configuration): (Long, Long) = {
    if (!Files.isDirectory(dir)) return (0L, 0L)
    val s = Files.walk(dir)
    val files = try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally s.close()
    val rows = files.map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
    (files.size.toLong, rows)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

final class Run(spark: SparkSession, a: Main.Args, clock: Clock,
                heap: HeapPeak, sessionS: Double) {
  import Main._
  import spark.implicits._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private def newId(): Int = { val i = nextId; nextId += 1; i }
  private val listener = if (a.trace) Some(new LayerListener(clock)) else None
  private val conf = spark.sessionState.newHadoopConf()
  private val dict = Corpus.aliasRows
  private lazy val jobs: Seq[(String, GraphJob)] = {
    val js = GraphJob.jobFilesIn(a.jobsDir).map { p =>
      p.getFileName.toString.stripSuffix(".json") -> GraphJob.fromJson(Files.readString(p))
    }
    require(js.nonEmpty, s"no analysis jobs under ${a.jobsDir}")
    js
  }

  private val fullPath = a.work.resolve("pages_full").toString
  private val halfPath = a.work.resolve("pages_half").toString
  private def pagesAt(p: String): Dataset[Page] = spark.read.parquet(p).as[Page]

  /** One layer call of an operation: its span id and wall time. */
  private final case class LayerRun(name: String, spanId: Int, wallS: Double)

  /** Wrap one layer call: a job group for attribution and a span. */
  private def layer(parent: Int, name: String, out: mutable.ArrayBuffer[LayerRun])
                   (body: => Unit): Unit = {
    val id = newId()
    sc.setJobGroup(s"L$id", name)
    val s = clock.nowMs
    try body
    finally {
      val e = clock.nowMs
      sc.clearJobGroup()
      spans += Span(id, parent, name, s, e)
      out += LayerRun(name, id, (e - s) / 1000)
    }
  }

  /** The KG sync: every layer back to back, appending to `layers` and
    * recording in `versions` the graph versions the merge and the cleanup
    * committed. Returns the cleanup's counts.
    */
  private def sync(parent: Int, dir: Path, pagesPath: String, tag: Long,
                   layers: mutable.ArrayBuffer[LayerRun],
                   versions: mutable.Map[String, (Long, Long)]): graft.merge.CleanupStats = {
    val pipe = new KgPipeline(spark, dir.toString, graphRoot = Some(dir.resolve("graph").toString))
    val pages = pagesAt(pagesPath)
    def latest(): (Long, Long) = (pipe.nodes.latestVersion.getOrElse(0L),
      pipe.edges.latestVersion.getOrElse(0L))
    layer(parent, "input", layers) {
      spark.read.parquet(pagesPath).write.format("noop").mode("overwrite").save()
    }
    for (l <- Seq("kg.extract", "kg.facts", "link.canonical", "kg.triples")) {
      layer(parent, l, layers)(pipe.runStages(pages, dict, tag, StageOfLayer(l)))
    }
    val v0 = latest()
    layer(parent, "merge.graph", layers)(pipe.runStages(pages, dict, tag, "merge"))
    val v1 = latest()
    versions("merge.graph") = (v0._1, v1._1)
    versions("merge.graph.edges") = (v0._2, v1._2)
    var stats: graft.merge.CleanupStats = null
    layer(parent, "merge.cleanup", layers) {
      stats = Cleanup.run(spark, PageSchema, Map.empty, tag, pipe.nodes, pipe.edges)
    }
    val v2 = latest()
    versions("merge.cleanup") = (v1._1, v2._1)
    versions("merge.cleanup.edges") = (v1._2, v2._2)
    layer(parent, "jobs.analysis", layers) {
      val views = Map("nodes" -> pipe.nodes.read(), "edges" -> pipe.edges.read())
      val params = Map("UPDATE_TAG" -> tag.toString)
      jobs.foreach { case (stem, job) =>
        job.run(spark, views, params)._2.foreach(
          _.write.mode("overwrite").parquet(dir.resolve(s"analysis/$stem").toString))
      }
    }
    stats
  }

  /** One pass over the query list, each query a layer into a noop sink. */
  private def queryPass(parent: Int, layers: mutable.ArrayBuffer[LayerRun]): Unit =
    a.queries.foreach { case (module, name) =>
      layer(parent, s"query.$module", layers) {
        SparkEntry.queries(name)(spark, a.dataDir)
          .write.format("noop").mode("overwrite").save()
      }
    }

  /** Every query once, cold (class loading, code generation), writing
    * its result as parquet for the oracle check.
    */
  private def coldPass(): Unit = a.queries.foreach { case (_, name) =>
    SparkEntry.queries(name)(spark, a.dataDir).write.mode("overwrite").parquet(resultPath(name))
  }

  private def resultPath(name: String): String =
    a.work.resolve("results").resolve(name).toString

  // ---- set-up ---------------------------------------------------------------

  private def timedS(f: => Unit): Double = {
    val s = clock.nowMs; f; (clock.nowMs - s) / 1000
  }

  /** Page id `i` of a page url (`.../p/<i>`). */
  private val pageId = regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast("long")

  /** The re-seen half: a salted multiplicative hash of the page id. */
  private def inHalf = pmod(pageId * lit(2654435761L) + lit(a.salt),
    lit(4294967296L)) < lit(2147483648L)

  private def materialize(): Unit = {
    Corpus.pages(spark, a.dataDir, a.replicas, a.noise, a.repOffset, minParts = 0)
      .write.mode("overwrite").parquet(fullPath)
    spark.read.parquet(fullPath).filter(inHalf)
      .write.mode("overwrite").parquet(halfPath)
  }

  private val baseDir = a.work.resolve("base")
  /** Files and rows of the re-synced half, the `input` layer's output. */
  private var inputFilesRows = (0L, 0L)

  def run(): Unit = {
    val setupStart = clock.nowMs
    val setupId = newId()
    val setup: Map[String, Any] = if (a.kind == "resync") {
      val matS = (0 until SetupRepeats).map(_ => timedS(materialize()))
      // The first sync in a JVM is up to 2x slower (JIT, code generation,
      // class loading); the build of the base graph each measured sync
      // starts from is that first sync. Its cleanup deletes nothing (every
      // fact carries the tag) but, like its analysis jobs, warms the code.
      val baseS = timedS(sync(setupId, baseDir, fullPath, BaseTag,
        mutable.ArrayBuffer.empty, mutable.Map.empty))
      inputFilesRows = parquetFilesRows(Paths.get(halfPath), conf)
      Map("materialize_s" -> matS, "base_graph_s" -> baseS,
        "setup_s" -> (sessionS + median(matS) + baseS),
        "input_files" -> inputFilesRows._1, "input_rows" -> inputFilesRows._2,
        "input_mb" -> duBytes(Paths.get(halfPath)) / 1e6)
    } else {
      val coldS = timedS(coldPass())
      Map("cold_pass_s" -> coldS, "setup_s" -> (sessionS + coldS))
    }
    spans += Span(setupId, 0, "setup", setupStart, clock.nowMs)
    val setupWallS = (clock.nowMs - setupStart) / 1000

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val workloadId = newId()
    listener.foreach(sc.addSparkListener)
    val loopStart = clock.nowMs
    do ops += op(ops.size, workloadId)
    while ((clock.nowMs - loopStart) / 1000 < a.seconds)
    spans += Span(workloadId, 0, s"workload.${a.kind}", loopStart, clock.nowMs)

    a.spansOut.foreach(writeSpans)
    val results = a.queries.map { case (_, name) => name -> Map(
      "path" -> resultPath(name), "oracle_sql" -> SparkEntry.oracleSql(name)) }.toMap
    val result = setup ++ Map(
      "kind" -> a.kind,
      "session_s" -> sessionS,
      "setup_wall_s" -> setupWallS,
      "spark_version" -> spark.version,
      "query_results" -> results,
      "ops" -> ops.toSeq)
    println("RESULT " + json.writeValueAsString(result))
  }

  /** One closed-loop operation plus its untimed preparation, checks and
    * clean-up.
    */
  private def op(k: Int, workloadId: Int): Map[String, Any] = {
    val dir = a.work.resolve(s"op${k + 1}")
    Files.createDirectories(dir)
    if (a.kind == "resync") copyTree(baseDir.resolve("graph"), dir.resolve("graph"))
    val bytesBefore = duBytes(dir)
    // start every operation from the same heap state
    System.gc()
    heap.takePeak(): Unit
    val layers = mutable.ArrayBuffer.empty[LayerRun]
    val versions = mutable.Map.empty[String, (Long, Long)]
    val opId = newId()
    val cpu0 = processCpuS
    val s = clock.nowMs
    val cleanup = if (a.kind == "resync")
      Some(sync(opId, dir, halfPath, ResyncTag, layers, versions))
    else { queryPass(opId, layers); None }
    val e = clock.nowMs
    val cpuS = processCpuS - cpu0
    spans += Span(opId, workloadId, "op", s, e)
    val heapMb = heap.takePeak() / 1e6
    val outputMb = (duBytes(dir) - bytesBefore) / 1e6

    val checkStart = clock.nowMs
    lazy val pipe = new KgPipeline(spark, dir.toString,
      graphRoot = Some(dir.resolve("graph").toString))
    val observed = if (a.kind == "resync") observe(pipe, dir) ++ cleanup.toSeq.flatMap(c =>
      Seq("nodes_deleted" -> c.nodesDeleted, "edges_deleted" -> c.edgesDeleted))
    else Nil
    val layerOut = listener.map { l =>
      l.awaitMarker(spark, s"op${k + 1}")
      layers.map(lr => lr.name -> layerTrace(l, lr, pipe, dir, versions)).toMap
    }.getOrElse(layers.map(lr => lr.name -> Map[String, Any]("wall_s" -> lr.wallS)).toMap)
    SnapshotTable.deleteTree(dir)
    Map("wall_s" -> (e - s) / 1000, "cpu_s" -> cpuS,
      "untimed_after_s" -> (clock.nowMs - checkStart) / 1000,
      "heap_peak_mb" -> heapMb,
      "output_mb" -> outputMb, "layers" -> layerOut,
      "observed" -> observed.toMap)
  }

  /** Output facts the checks compare with closed-form expectations
    * (three Spark jobs, outside the timed region).
    */
  private def observe(pipe: KgPipeline, dir: Path): Seq[(String, Any)] = {
    def stageRows(s: String) = SnapshotTable(spark, dir.resolve(s"stage_$s").toString, None).rowCount()
    val nodes = pipe.nodes.read()
    val edges = pipe.edges.read()
    val isPage = col("label") === "Page"
    val n = nodes.agg(
      count(when(isPage, 1)), count(when(col("label") === "Entity", 1)),
      count(when(isPage && col("firstseen") === BaseTag &&
        col("lastupdated") === ResyncTag, 1))).head()
    val isTriple = col("rel_label") =!= "MENTIONS"
    val e = edges.agg(
      count(when(!isTriple, 1)),
      countDistinct(when(isTriple, struct(col("src_id"), col("rel_label"), col("dst_id"))))).head()
    val pageEnds = edges.filter(col("src_label") === "Page").select(col("src_id").as("_pid"))
      .unionByName(edges.filter(col("dst_label") === "Page").select(col("dst_id").as("_pid")))
    val dangling = pageEnds.join(nodes.filter(isPage),
      col("_pid") === col("id"), "left_anti").count()
    Seq(
      "extract_rows" -> stageRows("extract"),
      "triple_rows" -> stageRows("triples"),
      "page_nodes" -> n.getLong(0),
      "entity_nodes" -> n.getLong(1),
      "page_nodes_kept_firstseen" -> n.getLong(2),
      "mention_edges" -> e.getLong(0),
      "triple_edges" -> e.getLong(1),
      "dangling_page_edges" -> dangling)
  }

  /** Per-layer numbers of one traced layer call. */
  private def layerTrace(l: LayerListener, lr: LayerRun, pipe: => KgPipeline,
                         dir: Path,
                         versions: mutable.Map[String, (Long, Long)]): Map[String, Any] = {
    val st = l.stats.getOrElse(s"L${lr.spanId}", new LayerStats)
    def range(key: String) = versions.get(key).toSeq
      .flatMap { case (from, to) => (from + 1) to to }
    val (files, rows) = lr.name match {
      case "input" => inputFilesRows
      case "jobs.analysis" => parquetFilesRows(dir.resolve("analysis"), conf)
      case n @ ("merge.graph" | "merge.cleanup") =>
        val (nf, nr) = freshFilesRows(pipe.nodes, range(n))
        val (ef, er) = freshFilesRows(pipe.edges, range(s"$n.edges"))
        (nf + ef, nr + er)
      case n if StageOfLayer.contains(n) =>
        val t = SnapshotTable(spark, dir.resolve(s"stage_${StageOfLayer(n)}").toString, None)
        freshFilesRows(t, t.latestVersion.toSeq)
      case _ => (0L, 0L) // a query writes to the noop sink
    }
    Map("wall_s" -> lr.wallS, "task_cpu_s" -> st.cpuNs / 1e9,
      "task_run_s" -> st.runMs / 1e3, "gc_s" -> st.gcMs / 1e3,
      "shuffle_mb" -> st.shuffleBytes / 1e6, "out_rows" -> rows,
      "files" -> files, "skew" -> st.skew, "jobs" -> st.jobs,
      "tasks" -> st.tasks)
  }

  private def writeSpans(path: String): Unit = {
    // jobs of layer calls only: not the untimed checks or marker jobs
    val jobSpans = listener.toSeq.flatMap(_.jobSpans).collect {
      case (g, jobId, s, e) if g.startsWith("L") =>
        Span(-jobId - 1, g.drop(1).toInt, s"spark.job.$jobId", s, e)
    }
    val lines = (spans ++ jobSpans).sortBy(_.startMs).map { sp =>
      json.writeValueAsString(Map("id" -> sp.id, "parent" -> sp.parent,
        "name" -> sp.name, "start_ms" -> sp.startMs, "end_ms" -> sp.endMs))
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n")): Unit
  }
}

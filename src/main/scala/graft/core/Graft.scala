package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType

/** Session + table helpers shared by the engine. Every session in the
  * engine and its tests is built here (`SessionGuardSpec`), and every
  * parquet input is opened here ([[parquet]], `ReadPathGuardSpec`).
  *
  * Design note (table open): `spark.read.parquet` infers a schema with a
  * Spark job on every call, which was 9 of the 55 jobs of one perfbench
  * `query_mix` pass. [[parquet]] reads the one footer that job would
  * read, on the driver, and opens the input with that schema: no job.
  *
  * Design note (scale): every knob here is chosen for a multi-executor
  * cluster reading ~100 TB — AQE on (runtime re-plan, skew-join split,
  * partition coalescing), shuffle partitions sized to the test rig but
  * overridable, broadcast threshold left at Spark's default so small
  * dims (alias dictionaries, region/nation tables) broadcast.
  *
  * Design note (codegen cache): Spark keeps the classes Janino compiles
  * for generated code in one JVM-wide LRU cache. Its size is the static
  * conf `spark.sql.codegen.cache.maxEntries` (default 100), read once,
  * the first time any session generates code. The engine's working set
  * is larger, so at 100 the cache thrashes and the same plans recompile
  * on every run. Counted with Spark's `CodegenMetrics` at the default
  * size: one perfbench `query_mix` pass (8 queries) compiles the same
  * 152-153 classes every time, one `resync_cleanup` operation compiles
  * 287-288, and `graft.Verify` at sf0.01 compiles 4,966 sources, 2,598 of
  * them distinct. At [[CodegenCacheEntries]] a repeated `query_mix` pass
  * compiles none (`CodegenCacheSpec`) and Verify compiles each source
  * once. The cache is keyed by the generated source, and by default a
  * whole-stage class is named after its codegen stage id, which AQE
  * assigns in the order it plans query stages; a re-run whose stages
  * complete in another order renamed, and so recompiled, the same
  * pipeline (a repeated `qdd4_minhash_lsh` compiled 4 classes in about
  * one pass of ten). So generated class names carry no stage id.
  */
object Graft {

  /** Above Verify's 2,598 distinct sources; the larger cache keeps ~17 MB
    * more metaspace on that run (199 → 216 MB at exit).
    */
  val CodegenCacheEntries = 4096

  /** Settings every session gets unless the launching conf (a
    * spark-submit `--conf`, or a `-Dspark.*` property) already sets them.
    */
  private val defaults = Seq(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.hadoop.fs.file.impl" -> classOf[PosixLocalFileSystem].getName)

  private def configured(b: org.apache.spark.sql.SparkSession.Builder,
                         appName: String): SparkSession = {
    val launch = new SparkConf()
    val spark = defaults.filterNot { case (k, _) => launch.contains(k) }
      .foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .appName(appName)
      // native catalyst functions (fvec_dot) via the public extensions
      // API — spark-submit deployments set
      // spark.sql.extensions=graft.functions.GraftExtensions instead
      .withExtensions(graft.functions.VecOps.register)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Build a local session for tests/benchmarks. Production goes through
    * [[submitSession]], which takes master and sizing from the submit
    * conf instead of code.
    */
  def session(master: String, shufflePartitions: Int, appName: String): SparkSession =
    configured(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false"), appName)

  /** Session for spark-submit deployments: NO `.master()` call — a
    * hard-coded master overrides `--master yarn/k8s` and would silently
    * run the 100 TB job single-node on the driver. Cluster sizing
    * (`spark.master`, `spark.sql.shuffle.partitions`, executor counts)
    * belongs to the submit conf.
    */
  def submitSession(appName: String): SparkSession =
    configured(SparkSession.builder(), appName)

  /** Read one of the driver-generated TPC-H-ish tables. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Open the parquet input at `paths` (files, directories, partitioned
    * directories or globs) as `spark.read.parquet(paths: _*)` would, with
    * no Spark job. Spark's read infers the data schema with one job that
    * reads footers on the executors; without schema merging that job
    * reads ONE footer, so the same footer is read here on the driver and
    * handed to the read as its schema. Partition discovery still appends
    * the `k=v` directory columns, and the relation is made nullable as
    * an inferred one is.
    *
    * Which footer, by the rule of Spark's non-merging inference: a
    * summary file (`_common_metadata`, then `_metadata`) if one is
    * listed, else the first data file in path order. Where that rule
    * does not apply, Spark infers: schema merging is on, the path is a
    * streaming sink's output (read through its log), or a path lists
    * nothing (Spark raises its own error).
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    schemaFile(spark, paths) match {
      case Some(f) => spark.read.schema(footerSchema(spark, f)).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The Spark schema of one parquet file, from its footer alone: the
    * Spark row schema its writer stored, if present, else the Parquet
    * schema converted by Spark's own converter under the session's conf.
    */
  private[graft] def footerSchema(spark: SparkSession, file: Path): StructType = {
    val hconf = spark.sessionState.newHadoopConf()
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, hconf))
    try ParquetFileFormat.readSchemaFromFooter(new Footer(file, r.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    finally r.close()
  }

  /** The file whose footer Spark's non-merging inference reads for
    * `paths`, listed as Spark's file index lists them; None where Spark
    * must infer itself (see [[parquet]]).
    */
  private def schemaFile(spark: SparkSession, paths: Seq[String]): Option[Path] = {
    val conf = spark.sessionState.conf
    val hconf = spark.sessionState.newHadoopConf()
    def isGlob(path: String) = path.exists("{}[]*?\\".contains(_))
    val roots = paths.map { path =>
      val p = new Path(path)
      val fs = p.getFileSystem(hconf)
      val found =
        if (isGlob(path)) Option(fs.globStatus(p)).toSeq.flatten.map(_.getPath)
        else if (fs.exists(p)) Seq(fs.makeQualified(p))
        else Nil
      (fs, found)
    }
    // Spark looks for a sink's log only under one path; asked of a
    // missing path or a glob, the lookup logs a not-found warning
    def sinkOutput = paths match {
      case Seq(p) if !isGlob(p) => FileStreamSink.hasMetadata(paths, hconf, conf)
      case _ => false
    }
    if (conf.isParquetSchemaMergingEnabled || roots.exists(_._2.isEmpty) ||
        sinkOutput) return None
    val leaves = roots.flatMap { case (fs, ps) => ps.flatMap(leafFiles(fs, _)) }
      .map(_.getPath).sortBy(_.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    summaries.flatMap(n => leaves.find(_.getName == n)).headOption
      .orElse(leaves.find(f => !summaries.contains(f.getName)))
  }

  /** The leaf files under `p` (or `p` itself, a file) that Spark's file
    * index keeps, by its name rule at every level: `_` names that are not
    * `k=v` partitions, `.` names and `._COPYING_` files are skipped, summary
    * files are kept.
    */
  private def leafFiles(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.filterNot { s =>
      val n = s.getPath.getName
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")) &&
        !(n.startsWith("_common_metadata") || n.startsWith("_metadata"))
    }.flatMap(s => if (s.isDirectory) leafFiles(fs, s.getPath) else Seq(s))

  /** Query scratch space, deleted recursively at JVM exit — the
    * graph-replay and streaming queries need throwaway table roots /
    * checkpoint dirs that must OUTLIVE the returned (lazy) DataFrame
    * but not the process. One shutdown hook total; dirs register into
    * it (a hook per dir would pile up threads across a 139-query run).
    */
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchLock.synchronized {
      if (scratchDirs.isEmpty)
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          scratchDirs.foreach(d =>
            try graft.snapshot.SnapshotTable.deleteTree(d)
            catch { case _: Exception => () })))
      scratchDirs += p
    }
    p.toString
  }
  private val scratchLock = new Object
  private val scratchDirs =
    scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
}

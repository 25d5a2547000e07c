package graft.core

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table helpers shared by the engine. Every session in the
  * engine and its tests is built here (`SessionGuardSpec`).
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
    spark.read.parquet(s"$sfDir/$name.parquet")

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

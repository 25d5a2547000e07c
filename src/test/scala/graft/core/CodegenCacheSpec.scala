package graft.core

import org.apache.spark.metrics.source.CodegenMetrics
import graft.{SparkEntry, SparkSpecBase}

/** Spark's compiled-class cache holds the engine's working set: running
  * perfbench's `query_mix` list a second time compiles nothing. With
  * Spark's default of 100 entries each pass recompiles ~150 classes.
  */
class CodegenCacheSpec extends SparkSpecBase {

  private val queryMix = Seq("q1_agg", "qdd4_minhash_lsh", "qtx1_tokens",
    "qann1_topk", "qsk5_bloom_semijoin", "qsp2_stratified", "qev1_sessionize",
    "qmm2_image_dims")

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, sf1).write.format("noop").mode("overwrite").save()

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated query_mix pass compiles no generated class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Graft.CodegenCacheEntries.toString)
    // the compile counter is JVM-wide: a stream left running by an
    // earlier spec would compile on its own thread during the passes
    val streams = spark.streams.active
    assert(streams.isEmpty,
      s"streaming queries still active: ${streams.map(_.name).mkString(", ")}")
    queryMix.foreach(run)
    val perQuery = queryMix.map { name =>
      val before = compiled
      run(name)
      name -> (compiled - before)
    }
    val recompiles = perQuery.map(_._2).sum
    assert(recompiles === 0L, s"second pass compiled $recompiles classes: " +
      perQuery.filter(_._2 != 0).map { case (n, c) => s"$n $c" }.mkString(", "))
  }
}

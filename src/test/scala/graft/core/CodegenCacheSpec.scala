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

  private def pass(): Unit = queryMix.foreach { name =>
    SparkEntry.queries(name)(spark, sf1).write.format("noop").mode("overwrite").save()
  }

  test("a repeated query_mix pass compiles no generated class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Graft.CodegenCacheEntries.toString)
    pass()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    val recompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
    assert(recompiles === 0L, s"second pass compiled $recompiles classes")
  }
}

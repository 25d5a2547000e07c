package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (Spark startup is
  * expensive; specs must not stop() it).
  */
object SharedSpark {
  lazy val spark: SparkSession = graft.core.Graft.session(
    master = "local[4]", shufflePartitions = 4, appName = "graft-test")
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  val sf1: String = "/root/testdata/sf0.001"
  val sf10: String = java.nio.file.Paths.get(sf1).resolveSibling("sf0.01").toString
}

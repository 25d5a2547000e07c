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

  /** `body`'s result and the number of Spark jobs it ran, counted with a
    * job group. The status tracker learns of jobs from the listener bus,
    * so a marker job is run after `body` and awaited: once the marker is
    * seen, every job `body` started has been counted too.
    */
  def sparkJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"spec-jobs-${System.nanoTime()}"
    sc.setJobGroup(group, "counted")
    val out = try body finally sc.clearJobGroup()
    val marker = s"$group-marker"
    sc.setJobGroup(marker, "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty, "the marker job was never seen")
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}

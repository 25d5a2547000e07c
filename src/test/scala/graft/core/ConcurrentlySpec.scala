package graft.core

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.SparkSession
import graft.SparkSpecBase

/** `Concurrently.both`: the second piece runs beside the first under the
  * caller's job group and active session, and a failure surfaces only
  * once both pieces have finished.
  */
class ConcurrentlySpec extends SparkSpecBase {

  private def slowly(done: AtomicBoolean): Unit = { Thread.sleep(300); done.set(true) }

  test("both returns both results; the second runs on another thread with the caller's group and session") {
    val sc = spark.sparkContext
    val ((a, b), jobs) = sparkJobs(Concurrently.both(spark)(
      (Thread.currentThread.getId, spark.range(10).count()),
      (Thread.currentThread.getId, sc.getLocalProperty("spark.jobGroup.id"),
        SparkSession.getActiveSession.contains(spark), spark.range(20).count())))
    assert(a._1 == Thread.currentThread.getId && b._1 != a._1)
    assert(b._2.startsWith("spec-jobs-"), "the second piece lost the caller's job group")
    assert(b._3, "the second piece lost the caller's active session")
    assert((a._2, b._4) === ((10L, 20L)))
    assert(jobs >= 2, s"only $jobs jobs were counted under the caller's group")
  }

  test("a failure of either piece is rethrown only after the other has finished") {
    val done = new AtomicBoolean(false)
    val first = intercept[IllegalStateException] {
      Concurrently.both(spark)(throw new IllegalStateException("first"), slowly(done))
    }
    assert(first.getMessage === "first" && done.get, "rethrown before the second piece ended")

    done.set(false)
    val second = intercept[IllegalArgumentException] {
      Concurrently.both(spark)(slowly(done), throw new IllegalArgumentException("second"))
    }
    assert(second.getMessage === "second" && done.get, "rethrown before the first piece ended")

    val both = intercept[IllegalStateException] {
      Concurrently.both(spark)(throw new IllegalStateException("a"),
        throw new IllegalArgumentException("b"))
    }
    assert(both.getMessage === "a")
    assert(both.getSuppressed.map(_.getMessage).toSeq === Seq("b"))
  }
}

package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._

/** One span: a named interval with the span that caused it. Times are
  * milliseconds since the run's clock origin.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
                      endMs: Double)

/** Spark work attributed to one layer call (one job group). */
final class LayerStats {
  var jobs = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty

  /** max ÷ median task duration; 1.0 for a layer that ran no tasks. */
  def skew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val s = taskMs.sorted
      val med = math.max(s(s.size / 2), 1L)
      s.last.toDouble / med
    }
}

/** Attributes Spark jobs, tasks, GC and shuffle to the layer that ran
  * them, through the job group the harness sets around every layer call.
  * Events arrive asynchronously on the listener bus; [[awaitMarker]]
  * waits until every event posted before a marker job has been seen.
  */
final class LayerListener(clock: Clock) extends SparkListener {
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val groupOfJob = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Double]
  val stats: mutable.Map[String, LayerStats] = mutable.Map.empty
  /** (group, jobId, startMs, endMs) of every finished job. */
  val jobSpans: mutable.ArrayBuffer[(String, Int, Double, Double)] =
    mutable.ArrayBuffer.empty
  private val markers = mutable.Set.empty[String]

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("unattributed")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    groupOfJob(e.jobId) = g
    jobStart(e.jobId) = clock.fromEpochMs(e.time)
    e.stageIds.foreach(s => groupOfStage(s) = g)
    stats.getOrElseUpdate(g, new LayerStats).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = groupOfJob.getOrElse(e.jobId, "unattributed")
    jobSpans += ((g, e.jobId, jobStart.getOrElse(e.jobId, 0.0),
      clock.fromEpochMs(e.time)))
    if (g.startsWith("marker-")) { markers += g; notifyAll() }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stats.getOrElseUpdate(
      groupOfStage.getOrElse(e.stageId, "unattributed"), new LayerStats)
    st.tasks += 1
    st.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Run a one-task marker job and wait until this listener has seen it
    * end: the bus delivers a listener's events in order, so every event
    * of every earlier job has then been counted.
    */
  def awaitMarker(spark: org.apache.spark.sql.SparkSession, id: String): Unit = {
    val g = s"marker-$id"
    spark.sparkContext.setJobGroup(g, g)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    synchronized {
      val deadline = System.currentTimeMillis() + 60000
      while (!markers.contains(g) && System.currentTimeMillis() < deadline)
        wait(100)
      require(markers.contains(g), s"listener bus did not deliver $g within 60 s")
    }
  }
}

/** Run clock: monotonic milliseconds since construction, plus the
  * conversion of Spark's epoch-millisecond event times onto it.
  */
final class Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - nano0) / 1e6
  def fromEpochMs(t: Long): Double = (t - epoch0).toDouble
}

/** Peak heap after each garbage collection, from the JVM's GC
  * notifications: the live set plus whatever the collector kept.
  */
final class HeapPeak extends NotificationListener {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (after > peak) peak = after }
    }

  /** Peak bytes since the last reset; the current heap use if no
    * collection ran in between.
    */
  def takePeak(): Long = synchronized {
    val p = if (peak > 0) peak
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak = 0L
    p
  }
}

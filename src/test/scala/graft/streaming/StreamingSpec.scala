package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import graft.kg.{AliasRow, Corpus, KgPipeline, Page}
import graft.merge.GraphTables

/** Structured-Streaming specs: incremental KG sync via foreachBatch
  * (firstseen preserved across micro-batches), watermarked windowed
  * counts (append-mode emission), cross-batch first-seen dedup state.
  */
class StreamingSpec extends SparkSpecBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def page(url: String, when: String, body: String,
                   lang: String = "en"): Page = {
    val html = s"<html><body><p>$body</p></body></html>"
    Page(url, ts(when), html.getBytes("UTF-8"), body, lang)
  }

  private val dict = Seq(
    AliasRow("Entity 1", "e0001"), AliasRow("Entity 2", "e0002"),
    AliasRow("Entity 3", "e0003"))

  test("kgSink merges micro-batches incrementally, preserving firstseen") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("kgstreamspec").toString
    val in = MemoryStream[Page]
    val q = StreamingSync.kgSink(in.toDS(), dict, s"$tmp/graph", s"$tmp/cp")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(
        page("u1", "2026-01-01 10:00:00", "Entity 1 works for Entity 2."),
        page("u2", "2026-01-01 10:05:00", "All about Entity 3 today."))
      q.processAllAvailable()
      in.addData(
        page("u3", "2026-01-01 11:00:00", "Entity 1 is located in Entity 3."))
      q.processAllAvailable()
    } finally q.stop()

    val nodes = GraphTables.nodes(spark, s"$tmp/graph").read().cache()
    assert(nodes.filter(col("label") === "Page").select("id").as[String]
      .collect().sorted.toSeq == Seq("u1", "u2", "u3"))
    assert(nodes.filter(col("label") === "Entity").select("id").as[String]
      .collect().sorted.toSeq == Seq("e0001", "e0002", "e0003"))
    // e0001 was first seen in batch 0 and re-mentioned in batch 1:
    // firstseen stays 0, lastupdated advances to 1
    val e1 = nodes.filter(col("label") === "Entity" && col("id") === "e0001")
      .select("firstseen", "lastupdated").head()
    assert(e1.getLong(0) == 0L && e1.getLong(1) == 1L)

    val edges = GraphTables.edges(spark, s"$tmp/graph").read()
      .filter(col("rel_label") =!= "MENTIONS")
      .select("src_id", "rel_label", "dst_id").as[(String, String, String)]
      .collect().sorted.toSeq
    assert(edges == Seq(("e0001", "located_in", "e0003"),
      ("e0001", "works_for", "e0002")))
    nodes.unpersist(): Unit
  }

  test("one micro-batch of the corpus builds the batch pipeline's edges and Page nodes") {
    val pages = Corpus.pages(spark, sf1)
    val tmp = tempDir("kgparity").toString
    StreamingSync.incrementalMerge(spark, pages, Corpus.aliasRows,
      KgPipeline.canonical(spark, Corpus.aliasRows, None), s"$tmp/stream", 100L)
    new KgPipeline(spark, s"$tmp/batch").run(pages,
      KgPipeline.DriverDictionary(Corpus.aliasRows), 100L, mergeGraph = true): Unit

    def edgeSet(root: String) = GraphTables.edges(spark, root).read()
      .select("src_label", "src_id", "rel_label", "dst_label", "dst_id", "props")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getMap[String, String](5).toMap)).toSet
    def nodes(root: String, label: String): DataFrame =
      GraphTables.nodes(spark, root).read().filter(col("label") === label)
    def pageSet(root: String) = nodes(root, "Page").select("id", "props")
      .collect().map(r => (r.getString(0), r.getMap[String, String](1).toMap)).toSet
    def entityIds(root: String) = nodes(root, "Entity").select("id")
      .collect().map(_.getString(0)).toSet

    val (streamEdges, batchEdges) = (edgeSet(s"$tmp/stream"), edgeSet(s"$tmp/batch/graph"))
    assert(streamEdges.exists(_._3 == "MENTIONS") && streamEdges.exists(_._3 != "MENTIONS"))
    assert(streamEdges === batchEdges)
    assert(pageSet(s"$tmp/stream") === pageSet(s"$tmp/batch/graph"))
    // the batch run writes the whole canonical entity space, a
    // micro-batch only the entities its pages mention
    assert(entityIds(s"$tmp/stream").subsetOf(entityIds(s"$tmp/batch/graph")))
  }

  test("windowedPageCounts emits a window once its watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Page]
    val q = StreamingSync.windowedPageCounts(in.toDS().toDF(), "0 seconds", "1 hour")
      .writeStream.format("memory").queryName("wcounts")
      .outputMode("append").start()
    try {
      in.addData(
        page("w1", "2026-01-01 10:00:00", "a"),
        page("w2", "2026-01-01 10:30:00", "b"),
        page("w3", "2026-01-01 11:15:00", "c"))
      q.processAllAvailable()
      in.addData(page("w4", "2026-01-01 13:00:00", "d"))
      q.processAllAvailable()
      in.addData(page("w5", "2026-01-01 15:00:00", "e"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("wcounts")
      .select(col("window_start").cast("string"), col("lang"), col("n_pages"))
      .as[(String, String, Long)].collect().sorted.toSeq
    // watermark after batch1 = 11:15 -> closes [10:00,11:00) (2 pages);
    // after batch2 = 13:00 -> closes [11:00,12:00) (1 page); after
    // batch3 the trailing no-data micro-batch advances the watermark to
    // 15:00 and closes [13:00,14:00); the 15:00 window is still open
    // when the query stops
    assert(rows == Seq(
      ("2026-01-01 10:00:00", "en", 2L),
      ("2026-01-01 11:00:00", "en", 1L),
      ("2026-01-01 13:00:00", "en", 1L)))
  }

  test("sessionCounts merges a session across micro-batches and splits on gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val q = StreamingSync.sessionCounts(
      in.toDS().toDF("user_id", "ts"), "30 minutes", "0 seconds")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      in.addData((1L, ts("2026-01-01 10:00:00")), (1L, ts("2026-01-01 10:10:00")),
        (2L, ts("2026-01-01 10:00:00")))
      q.processAllAvailable()
      // u1's 10:25 is within the gap of its batch-1 session -> MERGES
      // across the micro-batch boundary; u2's 11:30 is past the gap ->
      // a second session; u3 is the watermark advancer
      in.addData((1L, ts("2026-01-01 10:25:00")), (2L, ts("2026-01-01 11:30:00")),
        (3L, ts("2026-01-01 13:00:00")))
      q.processAllAvailable()
      in.addData((3L, ts("2026-01-01 20:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sessions")
      .select(col("user_id"), col("session_start").cast("string"),
        col("session_end").cast("string"), col("n_events"))
      .as[(Long, String, String, Long)].collect().sorted.toSeq
    assert(rows == Seq(
      (1L, "2026-01-01 10:00:00", "2026-01-01 10:55:00", 3L),
      (2L, "2026-01-01 10:00:00", "2026-01-01 10:30:00", 1L),
      (2L, "2026-01-01 11:30:00", "2026-01-01 12:00:00", 1L),
      (3L, "2026-01-01 13:00:00", "2026-01-01 13:30:00", 1L)))
  }

  test("streamIntervalJoin: matches straddle batches and sides; outside-horizon and wrong-key pairs never emit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lv = MemoryStream[(Long, Long, Timestamp)]
    val rp = MemoryStream[(Long, Long, Timestamp)]
    val q = StreamingSync.streamIntervalJoin(
      lv.toDS().toDF("view_id", "user_id", "vts"),
      rp.toDS().toDF("purchase_id", "p_user_id", "pts"),
      "user_id", "p_user_id", "vts", "pts", "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("ivjoin")
      .outputMode("append").start()
    try {
      // batch 1: view for u1; purchase for u2 whose view arrives LATER
      lv.addData((10L, 1L, ts("2026-01-01 10:00:00")))
      rp.addData((20L, 2L, ts("2026-01-01 10:20:00")))
      q.processAllAvailable()
      // batch 2: u1's purchase inside the horizon (cross-batch match),
      // u2's view before its buffered purchase (cross-side order),
      // u1's second purchase PAST the 30-min horizon, and a purchase for
      // an unseen user
      lv.addData((11L, 2L, ts("2026-01-01 10:05:00")))
      rp.addData((21L, 1L, ts("2026-01-01 10:25:00")),
        (22L, 1L, ts("2026-01-01 10:45:00")),
        (23L, 9L, ts("2026-01-01 10:10:00")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ivjoin")
      .select(col("view_id"), col("purchase_id"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(rows == Seq((10L, 21L), (11L, 20L)))
  }

  test("streamIntervalJoin left_outer: unmatched lefts emit with nulls only after the global watermark closes their window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lv = MemoryStream[(Long, Long, Timestamp)]
    val rp = MemoryStream[(Long, Long, Timestamp)]
    val q = StreamingSync.streamIntervalJoin(
      lv.toDS().toDF("view_id", "user_id", "vts"),
      rp.toDS().toDF("purchase_id", "p_user_id", "pts"),
      "user_id", "p_user_id", "vts", "pts", "10 minutes", "30 minutes",
      joinType = "left_outer")
      .writeStream.format("memory").queryName("ivleft")
      .outputMode("append").start()
    try {
      // u1 will match; u5's view never matches anything
      lv.addData((10L, 1L, ts("2026-01-01 10:00:00")),
        (12L, 5L, ts("2026-01-01 10:00:00")))
      rp.addData((21L, 1L, ts("2026-01-01 10:25:00")))
      q.processAllAvailable()
      // before any watermark advance the unmatched view must NOT emit
      val early = spark.table("ivleft")
        .select(col("view_id")).as[Long].collect().toSet
      assert(early === Set(10L), s"got $early")
      // advance BOTH watermarks past 10:40+10min → u5's window closes
      lv.addData((99L, 9L, ts("2026-01-01 12:00:00")))
      rp.addData((98L, 9L, ts("2026-01-01 12:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ivleft")
      .select(col("view_id"), col("purchase_id"))
      .as[(Long, Option[Long])].collect().toSet
    assert(rows.contains((10L, Some(21L))))
    assert(rows.contains((12L, None)), s"unmatched view missing: $rows")
  }

  test("enrichedWindowCounts: broadcast dim join drops unmatched keys, windows accumulate across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "blue")).toDF("user_id", "segment")
    val in = MemoryStream[(Long, Timestamp)]
    val q = StreamingSync.enrichedWindowCounts(
      in.toDS().toDF("user_id", "ts"), dim, "user_id", "segment",
      "0 seconds", "1 hour")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      // batch 1: two gold + one unmatched key (77) in hour 10
      in.addData((1L, ts("2026-01-01 10:00:00")), (1L, ts("2026-01-01 10:20:00")),
        (77L, ts("2026-01-01 10:30:00")))
      q.processAllAvailable()
      // batch 2: hour-10 window gains a blue event ACROSS the batch
      // boundary (watermark 0s still holds it open); 13:00 closes it
      in.addData((2L, ts("2026-01-01 10:40:00")), (1L, ts("2026-01-01 13:00:00")))
      q.processAllAvailable()
      in.addData((2L, ts("2026-01-01 15:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("enriched")
      .select(col("window_start").cast("string"), col("segment"),
        col("n_events")).as[(String, String, Long)].collect().sorted.toSeq
    // hour 10: gold 2 + blue 1 (batch-2 event landed in the open window);
    // key 77 never appears; 13:00 closed by the 15:00 watermark advance
    assert(rows == Seq(
      ("2026-01-01 10:00:00", "blue", 1L),
      ("2026-01-01 10:00:00", "gold", 2L),
      ("2026-01-01 13:00:00", "gold", 1L)))
  }

  test("firstSeenOnly emits one page per fingerprint across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Page]
    val q = StreamingSync.firstSeenOnly(in.toDS())
      .writeStream.format("memory").queryName("firstseen")
      .outputMode("append").start()
    try {
      in.addData(
        page("u1", "2026-01-01 10:00:00", "hello world"),
        page("u2", "2026-01-01 10:01:00", "hello world"), // dup in batch
        page("u3", "2026-01-01 10:02:00", "something unique"))
      q.processAllAvailable()
      in.addData(
        page("u4", "2026-01-01 11:00:00", "hello world"), // dup across batches
        page("u5", "2026-01-01 11:01:00", "fresh content"))
      q.processAllAvailable()
    } finally q.stop()
    val urls = spark.table("firstseen").select("url").as[String]
      .collect().sorted.toSeq
    assert(urls == Seq("u1", "u3", "u5"))
  }

  test("firstSeenOnly runs on the RocksDB state store (the deployment-scale provider)") {
    // The documented 100 TB deployment claim for the stateful dedup is
    // "state lives in RocksDB, not executor heap" — evidence it: the
    // same query, same semantics, under RocksDBStateStoreProvider
    // (ships in Spark 4; no extra jars).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Page]
      val q = StreamingSync.firstSeenOnly(in.toDS())
        .writeStream.format("memory").queryName("firstseen_rocksdb")
        .outputMode("append").start()
      try {
        in.addData(
          page("u1", "2026-01-01 10:00:00", "hello world"),
          page("u2", "2026-01-01 10:01:00", "hello world"),
          page("u3", "2026-01-01 10:02:00", "something unique"))
        q.processAllAvailable()
        in.addData(
          page("u4", "2026-01-01 11:00:00", "hello world"),
          page("u5", "2026-01-01 11:01:00", "fresh content"))
        q.processAllAvailable()
        // the provider actually engaged for this query: the state
        // operator reports rocksdb-prefixed custom metrics
        import scala.jdk.CollectionConverters._
        val stateOps = q.recentProgress.flatMap(_.stateOperators)
        assert(stateOps.nonEmpty)
        assert(stateOps.exists(_.customMetrics.keySet().asScala
          .exists(_.toLowerCase.contains("rocksdb"))),
          "state operator must report RocksDB metrics")
      } finally q.stop()
      val urls = spark.table("firstseen_rocksdb").select("url").as[String]
        .collect().sorted.toSeq
      assert(urls == Seq("u1", "u3", "u5"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

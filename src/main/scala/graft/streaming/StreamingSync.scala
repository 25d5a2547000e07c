package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import graft.kg.{AliasRow, Extract, KgPipeline, Page}
import graft.merge.GraphTables

/** Structured-Streaming front end for the KG engine: the batch pipeline's
  * stages re-expressed as an incremental micro-batch sync, plus the
  * streaming operators a continuously-ingesting training-data pipeline
  * needs (watermarked windowed quality counters, cross-batch first-seen
  * dedup).
  *
  * The reference is batch-only (cartography/sync.py runs on a schedule);
  * this module is the "what a Spark-native engine should additionally
  * offer" path: the same `GraphMerge` upsert + firstseen/lastupdated
  * semantics, driven by `foreachBatch` with `update_tag = batchId`.
  * Because the upsert is idempotent per (batch, tag) — firstseen is
  * preserved from the existing row and lastupdated is stamped to the
  * tag — a micro-batch replayed after a failure (foreachBatch is
  * at-least-once) converges to the same table: exactly-once *effects*
  * on the graph without a transactional sink.
  *
  * Scale notes (100 TB): per-batch work is the batch pipeline's per-page
  * narrow path (extract → one AC scan → broadcast link) plus
  * bucket-precise merges — an incremental batch touches only the
  * snapshot buckets its keys hash into. The stateful dedup operator
  * keeps one boolean per distinct key in the state store; production
  * configs should pair it with the RocksDB state store provider and an
  * event-time TTL, both config-level choices left to the deployment.
  */
object StreamingSync {

  /** One micro-batch of pages → graph with `updateTag` = the micro-batch
    * id: the batch pipeline's extract, fused facts scan, links view,
    * canonicalized triples and edge builders ([[KgPipeline]]'s stage
    * transforms) against the precomputed canonical mapping, written by
    * the batch sync's graph write ([[KgPipeline.writeGraph]]).
    */
  def incrementalMerge(spark: SparkSession, batch: Dataset[Page],
                       dict: Seq[AliasRow], canonical: DataFrame,
                       graphRoot: String, updateTag: Long): Unit = {
    val texts = KgPipeline.extract(batch).cache()
    try {
      val facts = KgPipeline.facts(spark, texts.toDF(), dict).cache()
      try {
        val links = KgPipeline.linksView(facts)
        // only entities actually mentioned in this batch — an incremental
        // batch must not rewrite the whole entity space every trigger
        val mentioned = links.join(broadcast(canonical
          .select(col("id").as("entity_id"), col("canonical_id"))), Seq("entity_id"))
          .select(col("canonical_id").as("id"))
        KgPipeline.writeGraph(spark, texts.toDF(), links, canonical,
          KgPipeline.canonicalTriples(facts, canonical), mentioned, updateTag,
          GraphTables.nodes(spark, graphRoot), GraphTables.edges(spark, graphRoot))
      } finally facts.unpersist()
    } finally texts.unpersist()
  }

  /** Continuous KG sync: a streaming Dataset[Page] → foreachBatch
    * incremental merge into the snapshot graph at `graphRoot`.
    * Caller picks the trigger (AvailableNow for backfill, processing-time
    * for tailing an Iceberg/file source) and starts the query.
    */
  def kgSink(pages: Dataset[Page], dict: Seq[AliasRow],
             graphRoot: String, checkpointDir: String): DataStreamWriter[Page] = {
    val spark = pages.sparkSession
    // the dictionary is a slowly-changing dimension, not per-batch
    // state: canonicalize it ONCE at stream start for every micro-batch
    val canonical = KgPipeline.canonical(spark, dict, None).cache()
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[Page], batchId: Long) =>
        incrementalMerge(spark, batch, dict, canonical, graphRoot, batchId)
      }
  }

  /** Watermarked per-language page counts over event-time windows — the
    * streaming analog of the sync-metadata counters (statsd gauges,
    * cartography/stats.py): append-mode, so a window's count is emitted
    * exactly once, after the watermark passes its end.
    */
  def windowedPageCounts(pages: DataFrame, watermarkDelay: String = "10 minutes",
                         windowLength: String = "1 hour"): DataFrame =
    pages.withWatermark("warc_ts", watermarkDelay)
      .groupBy(window(col("warc_ts"), windowLength), col("lang"))
      .agg(count(lit(1)).as("n_pages"))
      .select(col("window.start").as("window_start"), col("lang"), col("n_pages"))

  /** Gap-based streaming sessionization over an event stream: Spark's
    * native `session_window` merges events per user whose gaps are below
    * `gap` into one growing window (end = last event + gap), and
    * append-mode emits a session exactly once, after the watermark
    * passes its end — the streaming analog of the batch sessionizer
    * (events/Sessionize.scala, qev1), with identical session boundaries.
    *
    * Scale notes: state per in-flight session is one (start, end, count)
    * tuple; closed sessions are evicted by the watermark, so state is
    * bounded by concurrently-active users, not history. The aggregation
    * is hash-partitioned on user_id — no skew beyond a genuinely
    * hyperactive single user, which the gap naturally caps (one session
    * row per burst, not per event).
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Stream-static enrichment: join each micro-batch against a
    * broadcast static dimension (the slowly-changing-dimension lookup
    * every event pipeline needs — Spark re-reads the static side per
    * trigger, so a dim refresh is picked up without restarting), then
    * watermarked per-(window, dim-attribute) counts in append mode.
    * Events whose key is absent from the dimension are dropped (inner
    * join — declared semantics). The stream-static join preserves the
    * event-time watermark, so the downstream window still evicts state
    * and emits exactly once.
    *
    * Scale: the dimension is broadcast per executor (no shuffle touches
    * the stream side before the windowed aggregation); state is one
    * (window, attr) counter per open window.
    */
  def enrichedWindowCounts(events: DataFrame, dim: DataFrame, key: String,
                           attr: String, watermarkDelay: String = "1 hour",
                           windowLength: String = "1 day"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .join(broadcast(dim.select(col(key), col(attr))), Seq(key))
      .groupBy(window(col("ts"), windowLength), col(attr))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col(attr),
        col("n_events"))

  /** Watermarked stream-stream INNER join within an event-time horizon —
    * the impression⋈conversion pattern (a right event matches a left
    * event with the same key when it lands in [leftTs, leftTs+horizon]).
    * Both sides carry watermarks and the join condition bounds the
    * event-time distance, which is exactly what lets Spark EVICT buffered
    * state: a left row is dropped once the right watermark passes
    * leftTs + horizon, a right row once the left watermark passes its
    * own timestamp — without the time bound a stream-stream join must
    * buffer both streams forever. Matches emit as soon as both sides
    * have arrived (inner join needs no watermark to EMIT, only to shed
    * state), so the complete result is deterministic regardless of how
    * rows interleave across micro-batches.
    *
    * Column names must be disjoint; the caller names the right-side key.
    * Scale: state is hash-partitioned on the join key; per-key buffer is
    * bounded by the horizon, not history.
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
                         leftKey: String, rightKey: String,
                         leftTs: String, rightTs: String,
                         watermarkDelay: String, horizon: String,
                         joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, watermarkDelay)
      .join(right.withWatermark(rightTs, watermarkDelay),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $horizon"),
        joinType)
    // left_outer: an unmatched left row emits (right columns null) only
    // once the GLOBAL watermark (min of both streams) closes its match
    // window [leftTs, leftTs+horizon] — the time bound is what makes
    // outer emission decidable at all; matches still emit immediately.

  /** BOUNDED-STATE streaming dedup: Spark's
    * `dropDuplicatesWithinWatermark` — a key's dedup state lives only
    * until the event-time watermark passes its timestamp + delay, then
    * is evicted; a duplicate arriving after eviction re-emits. The
    * complement of [[firstSeenOnly]] (exact, state grows with distinct
    * keys forever): at 100 TB the watermark-evicted variant is the
    * deployable default — state is bounded by keys ACTIVE within the
    * delay window, and the semantics ("no duplicates closer than the
    * watermark delay") is the contract most ingest dedup actually
    * needs.
    */
  def dedupWithinWatermark(events: DataFrame, keyCol: String,
                           watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Cross-batch streaming exact-dedup: emit only the FIRST page seen
    * for each extracted-text fingerprint; later arrivals (same batch or
    * any later batch) are dropped. State = one boolean per distinct
    * fingerprint (mapGroupsWithState-family operator, the engine's
    * KeyValueGroupedDataset custom-state path). Within a batch the
    * representative is the minimum url, so the output is deterministic
    * under any input partitioning.
    */
  def firstSeenOnly(pages: Dataset[Page]): Dataset[Page] = {
    import pages.sparkSession.implicits._
    pages.groupByKey(p => fingerprint(p.text))
      .flatMapGroupsWithState[Boolean, Page](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, it: Iterator[Page], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            var best: Page = null
            while (it.hasNext) {
              val p = it.next()
              if (best == null || p.url < best.url) best = p
            }
            Iterator.single(best)
          }
      }
  }

  private[streaming] def fingerprint(text: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(Extract.asciiLower(text).getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }
}

package graft.events

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Graft

/** Event sessionization — the classic clickstream/web-analytics
  * operator the engine's event table (`events.parquet`) calls for: cut
  * each user's event stream into sessions wherever the gap between
  * consecutive events exceeds a timeout, then aggregate per session.
  * (The reference engine has no event-stream analog — its closest shape
  * is the windowed incremental scan, `cartography/intel/cve/feed.py`'s
  * time-sliced sync — so this is part of the pipeline-breadth family,
  * like the dedup/ANN suite.)
  *
  * Determinism contract: events are ordered per user by
  * (event time, event_id) — the id tie-break makes the session split
  * reproducible even if two events share a timestamp — and all derived
  * values are integers (epoch MICROseconds via `unix_micros`, counts),
  * so an independent SQL engine states bit-identical rows.
  *
  * Scale shape: one shuffle keyed on user_id (the two window functions
  * and the final aggregation share that partitioning — Catalyst plans a
  * single Exchange, and the groupBy arrives pre-partitioned). Per-
  * reducer state is ONE USER's event stream; a 100 TB clickstream with
  * ~10⁹ users spreads evenly. The adversarial shape is a single bot
  * user with ~10⁹ events pinning one reducer: the session BREAK flag
  * only needs each event's immediate predecessor, so the fix is a
  * (user, time-bucket) salted pre-pass that computes flags inside each
  * bucket and stitches the one boundary pair per bucket edge —
  * the same two-level trick as
  * [[graft.graph.Analytics.pageRankSalted]]; not wired here because it
  * only changes the plan above ~10⁸ events per user.
  */
object Sessionize {

  def events(spark: SparkSession, sfDir: String): DataFrame =
    Graft.table(spark, sfDir, "events")
      // the parquet ts is TIMESTAMP_NTZ; the session timezone is pinned
      // to UTC (core.Graft), so this cast reads the naive wall-clock as
      // UTC — the same interpretation an engine reading the parquet
      // natively (e.g. the DuckDB oracle) applies
      .select(col("event_id").cast("long"), col("ts").cast("timestamp").as("ts"),
        col("user_id").cast("long"), col("event_type"), col("value"))

  /** Per-session aggregate rows: (user_id, session_idx, n_events,
    * start_us, end_us). `session_idx` is 0-based in time order per
    * user; a session ends when the NEXT event is more than `gapSec`
    * seconds after it (strictly greater — an exactly-gapSec gap stays
    * in-session).
    */
  def sessions(ev: DataFrame, gapSec: Long): DataFrame = {
    require(gapSec > 0, "gapSec must be positive")
    val order = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(order))
      .withColumn("brk",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > gapSec * 1000000L, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("brk")).over(running) - 1L)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"))
      .orderBy("user_id", "session_idx")
  }
}

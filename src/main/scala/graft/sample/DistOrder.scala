package graft.sample

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Two-level distributed global ordering — cumulative sums and ranks
  * over a TOTAL order without ever collapsing the table onto one
  * reducer. `Window.orderBy(...)` with no `partitionBy` is the classic
  * scale trap: Spark's `WindowExec` moves every row to a single
  * partition ("No Partition Defined" warning), so at 10⁹ rows one task
  * sorts and scans everything. The fix used throughout this engine
  * (first in [[Sampling.tokenBudgetSample]], qsp8) is hierarchical:
  *
  *  1. bucket rows into ~`nShards` RANGE shards of the ordering column
  *     (boundaries from one `approxQuantile` pass — any weakly
  *     monotone bucketing gives exact results, so approximate
  *     boundaries only affect balance, never values);
  *  2. a per-shard window (partitioned — each reducer holds one shard)
  *     computes the within-shard prefix;
  *  3. per-shard totals — at most `nShards`+1 rows, a BOUNDED
  *     `collect` — turn into cross-shard offsets on the driver and
  *     broadcast-join back.
  *
  * Degenerate inputs degrade gracefully: if one ordering value
  * dominates, its ties share a shard (correct, just unbalanced — the
  * same skew a global sort would hit); an empty input yields an empty
  * output.
  *
  * Reference ordering/scoring sites recast through this machinery:
  * cartography's pandas-side rank/cut post-processing has no in-graph
  * analog, so these are the engine-native equivalents.
  */
object DistOrder {

  /** Range-shard ids for `ord` (cast to double — weakly monotone for
    * longs/ints/doubles): `__shard` = number of quantile boundaries
    * ≤ value, so equal values always share a shard. Triggers one
    * `approxQuantile` job on `df`; callers should pass something cheap
    * to recompute or already materialized.
    */
  private def withRangeShard(df: DataFrame, ord: Column,
                             nShards: Int): DataFrame = {
    require(nShards >= 2, s"nShards must be >= 2, got $nShards")
    val probs = (1 until nShards).map(_.toDouble / nShards).toArray
    val keyed = df.withColumn("__ord_d", ord.cast("double"))
    val bounds =
      keyed.stat.approxQuantile("__ord_d", probs, 0.001).distinct.sorted
    val sharded =
      if (bounds.isEmpty) keyed.withColumn("__shard", lit(0L))
      else keyed.withColumn("__shard",
        size(filter(array(bounds.map(lit(_)): _*),
          b => b <= col("__ord_d"))).cast("bigint"))
    sharded.drop("__ord_d")
  }

  /** Exclusive running sum of `value` under the total order `ord`
    * ascending (`ord` need not be unique — ties contribute in
    * (`ord`, `tie`) order, `tie` a unique column): adds `outCol` =
    * Σ value over all rows strictly before this one. Exactly the
    * cumulative-offset shape `Window.orderBy(ord)` would give, minus
    * the single-partition sort. `value` must be integral: the sums are
    * exact longs, and a fractional value would be truncated.
    */
  def prefixSum(df: DataFrame, ord: Column, tie: Column, value: Column,
                outCol: String, nShards: Int = 256): DataFrame = {
    val valueType = df.select(value).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(valueType),
      s"prefixSum needs an integral value column, got ${valueType.simpleString}")
    val sharded = withRangeShard(df.withColumn("__v", value.cast("long")),
      ord, nShards)
    // bounded collect: one row per shard (≤ nShards+1)
    val totals = sharded.groupBy("__shard").agg(sum(col("__v")).as("__t"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val pfx = totals.map(_._2).scanLeft(0L)(_ + _).init
    val spark = df.sparkSession
    val pfxDf = broadcast(
      spark.createDataFrame(totals.map(_._1).zip(pfx).toSeq)
        .toDF("__shard", "__pfx"))
    val w = Window.partitionBy("__shard").orderBy(ord.asc, tie.asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    sharded.join(pfxDf, "__shard")
      .withColumn(outCol,
        coalesce(sum(col("__v")).over(w), lit(0L)) + col("__pfx"))
      .drop("__shard", "__pfx", "__v")
  }

  /** Global 1-based rank under (`metric` asc|desc, `tie` asc) — the
    * strict total order NTILE/ROW_NUMBER would use — plus the total
    * row count. Within-shard `row_number` (partitioned window) + the
    * driver-prefixed count of earlier shards (earlier IN SORT ORDER:
    * descending metrics walk the shards high→low).
    */
  def rankBy(df: DataFrame, metric: Column, asc: Boolean, tie: Column,
             outCol: String, nShards: Int = 256): (DataFrame, Long) = {
    val sharded = withRangeShard(df, metric, nShards)
    val counts = sharded.groupBy("__shard").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ordered = if (asc) counts.sortBy(_._1) else counts.sortBy(-_._1)
    val pfx = ordered.map(_._2).scanLeft(0L)(_ + _).init
    val n = counts.map(_._2).sum
    val spark = df.sparkSession
    val pfxDf = broadcast(
      spark.createDataFrame(ordered.map(_._1).zip(pfx).toSeq)
        .toDF("__shard", "__pfx"))
    val w = Window.partitionBy("__shard")
      .orderBy(if (asc) metric.asc else metric.desc, tie.asc)
    val ranked = sharded.join(pfxDf, "__shard")
      .withColumn(outCol, row_number().over(w) + col("__pfx"))
      .drop("__shard", "__pfx")
    (ranked, n)
  }

  /** NTILE(buckets) from a global 1-based rank over `n` total rows —
    * the SQL-standard split (first n%buckets buckets take one extra
    * row). The bucket boundaries in rank space are the cumulative
    * bucket sizes, computed on the driver from `n` alone; the bucket
    * id is 1 + the count of boundaries below the rank — pure integer
    * comparisons, no division (Spark's `/` is DOUBLE division, which
    * would be a rounding hazard at extreme n).
    */
  def ntileFromRank(rank: Column, n: Long, buckets: Int): Column = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val q = n / buckets
    val rem = n % buckets
    val sizes = (1 to buckets).map(i => if (i <= rem) q + 1 else q)
    val cums = sizes.scanLeft(0L)(_ + _).tail.init // after buckets 1..b-1
    if (cums.isEmpty) lit(1L)
    else lit(1L) +
      size(filter(array(cums.map(lit(_)): _*), b => b < rank)).cast("bigint")
  }
}

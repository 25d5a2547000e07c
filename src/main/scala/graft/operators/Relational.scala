package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Query
import graft.core.Graft

/** Relational operator surface of the engine — the Spark-native
  * re-expression of the reference's read/aggregate/analysis query
  * shapes (SURVEY.md §2.5, §2.6):
  * counting aggregates, DISTINCT projection, ORDER BY + LIMIT,
  * equi-joins, semi/anti joins (EXISTS / set-difference tagging),
  * window top-N, range (theta) joins, string predicates, and
  * one-to-many explode joins.
  *
  * Oracle-compat notes: money aggregates go through
  * decimal(18,2) so Spark and DuckDB produce bit-identical sums
  * (floating-point sums are order-dependent; decimal sums are exact),
  * then cast to double for a stable output schema. Every top-k is
  * totally ordered (unique tie-break key).
  */
object Relational {

  import Graft.table

  /** Pricing-summary aggregate (groupBy + sum/count; the analog of the
    * reference's counting aggregates, cartography/graph/statement.py:91-114).
    */
  def q1PricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(BigDecimal(1)).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Multi-way equi-join + aggregate: revenue by nation. The nation/region
    * dims are broadcast (small-dim rule, SURVEY.md §4).
    */
  def q2RevenueByNation(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = table(spark, sfDir, "customer")
    val ord = table(spark, sfDir, "orders")
    val li = table(spark, sfDir, "lineitem")
    val nat = table(spark, sfDir, "nation")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(BigDecimal(1)).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("n_name"))
  }

  /** Filter + projection + ORDER BY + LIMIT 30 (samplequeries.md guidance);
    * filter and the 3-column projection push down to the parquet scan.
    */
  def q3TopOrders(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("total_price"))
      .orderBy(col("total_price").desc, col("o_orderkey"))
      .limit(30)

  /** Left-semi join: customers with at least one order, counted per market
    * segment (EXISTS pattern).
    */
  def q4SemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = table(spark, sfDir, "customer")
    val ord = table(spark, sfDir, "orders")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** Left-anti join: customers without orders per nation — the reference's
    * set-difference tagging (aws_foreign_accounts.json) and stale-fact
    * anti-join shape (SURVEY.md §2.4).
    */
  def q5AntiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = table(spark, sfDir, "customer")
    val ord = table(spark, sfDir, "orders")
    val nat = table(spark, sfDir, "nation")
    val recent = ord.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
    cust.join(recent, cust("c_custkey") === recent("o_custkey"), "left_anti")
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orphans"))
      .orderBy(col("n_name"))
  }

  /** Window top-N: each customer's single largest order (row_number over a
    * totally ordered window).
    */
  def q6WindowTopOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = table(spark, sfDir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ord.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"),
        col("o_orderkey").as("top_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("top_price"))
      .orderBy(col("o_custkey"))
  }

  /** One-to-many explode join analog (PropertyRef(one_to_many=True),
    * cartography/models/core/common.py:48-66): a row carrying a token list
    * attaches once per token — explode then aggregate.
    */
  def q7ExplodeTokens(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "part")
      .select(explode(split(col("p_type"), " ")).as("type_token"))
      .groupBy(col("type_token"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("type_token"))

  /** DISTINCT projection (samplequeries.md:107-112). */
  def q8Distinct(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "orders")
      .select(col("o_orderstatus"), col("o_orderpriority"))
      .dropDuplicates()
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  /** Range (theta) join: events bucketed into static value bands — the
    * listener.port BETWEEN fromport AND toport shape
    * (aws_ec2_asset_exposure.json stmts 6-7). The tiny band dim is
    * broadcast so this is a broadcast-nested-loop, not a shuffle.
    */
  def q9RangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("b0_low", 0.0, 15.0), ("b1_mid", 15.0, 35.0),
      ("b2_high", 35.0, 70.0), ("b3_tail", 70.0, 150.0),
      ("b4_extreme", 150.0, 1e18))
      .toDF("band", "lo", "hi")
    table(spark, sfDir, "events")
      .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("band"))
  }

  /** Bucketed interval join — the NON-broadcast scale path for "point
    * falls in [lo, hi)" lookups (IP→geo range tables, value→band): chop
    * the number line into `bucketWidth` buckets, replicate each interval
    * to every bucket it overlaps, equi-join points on their bucket, then
    * apply the exact range predicate. Where q9's broadcast NLJ requires
    * the interval table to fit one executor, this is ONE shuffle keyed
    * on the bucket — the shape that survives a 10⁹-row range table.
    * Intervals may overlap (a point matches all of them). Replication
    * factor = span/bucketWidth, hard-capped: an interval wider than
    * `maxBucketsPerInterval` buckets fails fast with sizing guidance
    * (an unbounded span — q9's 1e18 catch-all — would explode the
    * build side; pick bucketWidth near the median span, or route
    * catch-alls through the broadcast path).
    */
  def bucketedIntervalJoin(points: DataFrame, pointCol: String,
                           intervals: DataFrame, loCol: String,
                           hiCol: String, bucketWidth: Double,
                           maxBucketsPerInterval: Long = 4096): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val lastBk = floor(col(hiCol) / bucketWidth).cast("long")
    val firstBk = floor(col(loCol) / bucketWidth).cast("long")
    val guarded = intervals
      .withColumn("_nbk", lastBk - firstBk + 1L)
    // fail loudly, not silently: a dropped wide interval would be a
    // wrong answer. The check is one narrow aggregate over the
    // (small-by-assumption-violated) interval table.
    val worst = guarded.agg(max(col("_nbk"))).head()
    if (!worst.isNullAt(0)) {
      val w = worst.getLong(0)
      require(w <= maxBucketsPerInterval,
        s"an interval spans $w buckets (cap $maxBucketsPerInterval) at " +
          s"bucketWidth=$bucketWidth — widen the buckets or route " +
          "wide/catch-all intervals through the broadcast range join")
    }
    val ib = guarded.drop("_nbk")
      .withColumn("_bk", explode(sequence(firstBk, lastBk)))
    val pb = points.withColumn("_bk",
      floor(col(pointCol) / bucketWidth).cast("long"))
    pb.join(ib, "_bk")
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("_bk")
  }

  /** q40: the bucketed interval join over overlapping nation-derived
    * bands — each band [k·0.75, k·0.75 + 1.5) spans 2–3 width-1 buckets,
    * so every point probes multiple replicated interval rows and the
    * exact predicate prunes the rest; counts per band. The oracle is the
    * plain range join — bucketing is transparent.
    */
  def q40IntervalBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val bands = table(spark, sfDir, "nation")
      .select(col("n_name").as("band"),
        (col("n_nationkey") * lit(0.75)).as("lo"),
        (col("n_nationkey") * lit(0.75) + lit(1.5)).as("hi"))
    val points = table(spark, sfDir, "events").select(col("value"))
    bucketedIntervalJoin(points, "value", bands, "lo", "hi",
        bucketWidth = 1.0)
      .groupBy(col("band"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("band"))
  }

  /** String-predicate sweep: STARTS WITH / ENDS WITH / CONTAINS / size()
    * (querybuilder.py:123-124; samplequeries.md:27-30) as one aggregate.
    */
  def q10StringPredicates(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "part")
      .agg(
        count(when(col("p_name").startsWith("a"), 1)).as("n_starts_a"),
        count(when(col("p_name").endsWith("e"), 1)).as("n_ends_e"),
        count(when(col("p_name").contains("red"), 1)).as("n_contains_red"),
        count(when(length(col("p_name")) > 20, 1)).as("n_long"))

  /** Case-insensitive equi-join (ignore_case matcher,
    * querybuilder.py:132-133): join on lower() of the key.
    */
  def q11IgnoreCaseJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val nat = table(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    // A deliberately re-cased dim, as the reference's GitHub-user vs
    // employee email matching re-cases one side.
    val dim = nat.select(upper(col("n_name")).as("dim_name"), col("n_nationkey").as("dim_key"))
    nat.join(broadcast(dim), lower(col("n_name")) === lower(col("dim_name")))
      .select(col("n_name"), col("dim_key"))
      .orderBy(col("n_name"))
  }

  /** Membership-closure two-hop join (group policies copied to users,
    * cartography/intel/aws/iam.py:404-429): customer → orders → lineitem
    * distinct parts per customer, top 30.
    */
  def q12TwoHop(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = table(spark, sfDir, "orders")
    val li = table(spark, sfDir, "lineitem")
    ord.join(li, ord("o_orderkey") === li("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy(col("n_parts").desc, col("o_custkey"))
      .limit(30)
  }

  /** The relational queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("q1_agg", q1PricingSummary,
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q2_join_agg", q2RevenueByNation,
      """SELECT n_name,
        | CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Query("q3_filter_topk", q3TopOrders,
      """SELECT o_orderkey, o_custkey,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |ORDER BY total_price DESC, o_orderkey LIMIT 30""".stripMargin),
    Query("q4_semijoin", q4SemiJoin,
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("q5_antijoin", q5AntiJoin,
      """SELECT n_name, COUNT(*) AS n_orphans
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1998-01-01')
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Query("q6_window_top1", q6WindowTopOrder,
      """SELECT o_custkey, top_orderkey, top_price FROM (
        | SELECT o_custkey, o_orderkey AS top_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS top_price,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t WHERE rn = 1 ORDER BY o_custkey""".stripMargin),
    Query("q7_explode_onetomany", q7ExplodeTokens,
      """SELECT type_token, COUNT(*) AS n_parts FROM (
        | SELECT unnest(string_split(p_type, ' ')) AS type_token FROM part) t
        |GROUP BY type_token ORDER BY type_token""".stripMargin),
    Query("q8_distinct", q8Distinct,
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin),
    Query("q9_range_join", q9RangeJoin,
      """WITH bands(band, lo, hi) AS (
        | VALUES ('b0_low', 0.0, 15.0), ('b1_mid', 15.0, 35.0),
        |        ('b2_high', 35.0, 70.0), ('b3_tail', 70.0, 150.0),
        |        ('b4_extreme', 150.0, 1e18))
        |SELECT band, COUNT(*) AS n_events
        |FROM events JOIN bands ON value >= lo AND value < hi
        |GROUP BY band ORDER BY band""".stripMargin),
    // q40: bucketed interval join — the oracle is the PLAIN range join
    // (bucketing + replication + exact re-check is transparent)
    Query("q40_interval_buckets", q40IntervalBuckets,
      """WITH b AS (SELECT n_name AS band,
        |        n_nationkey * CAST(0.75 AS DOUBLE) AS lo,
        |        n_nationkey * CAST(0.75 AS DOUBLE) + CAST(1.5 AS DOUBLE) AS hi
        |       FROM nation)
        |SELECT band, lo, hi, COUNT(*) AS n_events
        |FROM events JOIN b ON value >= lo AND value < hi
        |GROUP BY 1, 2, 3 ORDER BY band""".stripMargin),
    Query("q10_string_preds", q10StringPredicates,
      """SELECT
        | COUNT(CASE WHEN p_name LIKE 'a%' THEN 1 END) AS n_starts_a,
        | COUNT(CASE WHEN p_name LIKE '%e' THEN 1 END) AS n_ends_e,
        | COUNT(CASE WHEN p_name LIKE '%red%' THEN 1 END) AS n_contains_red,
        | COUNT(CASE WHEN LENGTH(p_name) > 20 THEN 1 END) AS n_long
        |FROM part""".stripMargin),
    Query("q11_ignorecase_join", q11IgnoreCaseJoin,
      """SELECT n.n_name AS n_name, d.dim_key AS dim_key
        |FROM nation n
        |JOIN (SELECT UPPER(n_name) AS dim_name, n_nationkey AS dim_key FROM nation) d
        | ON LOWER(n.n_name) = LOWER(d.dim_name)
        |ORDER BY n_name""".stripMargin),
    Query("q12_twohop_closure", q12TwoHop,
      """SELECT o_custkey, COUNT(DISTINCT l_partkey) AS n_parts
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_custkey ORDER BY n_parts DESC, o_custkey LIMIT 30""".stripMargin),
  )
}

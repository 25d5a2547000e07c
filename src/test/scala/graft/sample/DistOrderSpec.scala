package graft.sample

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpecBase

/** DistOrder — the two-level global-order machinery must reproduce the
  * single-partition window results bit-for-bit (it replaces them in
  * vocabGrowth/rfm), across ties, tiny inputs, and both directions.
  */
class DistOrderSpec extends SparkSpecBase {
  import spark.implicits._

  test("prefixSum equals the unpartitioned running-sum window") {
    val df = (1 to 500).map(i => (i.toLong * 7 % 501, (i % 13).toLong + 1))
      .toDF("k", "v")
    val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    val expect = df.withColumn("off", coalesce(sum("v").over(w), lit(0L)))
      .select("k", "off").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    val got = DistOrder.prefixSum(df, col("k"), col("k"), col("v"), "off",
        nShards = 16)
      .select("k", "off").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(got === expect)
  }

  test("rankBy + ntileFromRank equals ntile().over(global window), asc and desc, with ties") {
    // heavy ties: metric = i % 7 so every shard boundary lands on ties
    val df = (1 to 300).map(i => ((i % 7).toLong, s"u$i")).toDF("m", "u")
    for (asc <- Seq(true, false)) {
      val ord = if (asc) Seq(col("m").asc) else Seq(col("m").desc)
      val expect = df.withColumn("s",
          ntile(5).over(Window.orderBy(ord :+ col("u").asc: _*)))
        .select("u", "s").collect().map(r => r.getString(0) -> r.getInt(1))
        .toMap
      val (ranked, n) = DistOrder.rankBy(df, col("m"), asc, col("u"),
        "rk", nShards = 8)
      assert(n === 300L)
      val got = ranked.withColumn("s",
          DistOrder.ntileFromRank(col("rk"), n, 5).cast("int"))
        .select("u", "s").collect().map(r => r.getString(0) -> r.getInt(1))
        .toMap
      assert(got === expect, s"asc=$asc")
    }
  }

  test("ntile edge: fewer rows than buckets (q = 0) and empty input") {
    val df = Seq((3L, "a"), (1L, "b"), (2L, "c")).toDF("m", "u")
    val expect = df.withColumn("s",
        ntile(5).over(Window.orderBy(col("m").asc, col("u").asc)))
      .select("u", "s").collect().map(r => r.getString(0) -> r.getInt(1))
      .toMap
    val (ranked, n) = DistOrder.rankBy(df, col("m"), asc = true, col("u"),
      "rk", nShards = 4)
    val got = ranked.withColumn("s",
        DistOrder.ntileFromRank(col("rk"), n, 5).cast("int"))
      .select("u", "s").collect().map(r => r.getString(0) -> r.getInt(1))
      .toMap
    assert(got === expect)

    val empty = spark.emptyDataset[(Long, String)].toDF("m", "u")
    val (r2, n2) = DistOrder.rankBy(empty, col("m"), asc = true, col("u"),
      "rk", nShards = 4)
    assert(n2 === 0L && r2.count() === 0L)
    assert(DistOrder.prefixSum(empty, col("m"), col("u"), col("m"), "off",
      nShards = 4).count() === 0L)
  }

  test("prefixSum rejects a non-integral value column, naming its type") {
    val df = Seq((1L, 0.5), (2L, 1.5)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      DistOrder.prefixSum(df, col("k"), col("k"), col("v"), "off", nShards = 4)
    }
    assert(e.getMessage.contains("double"))
  }

  test("prefixSum/rankBy plans carry no unpartitioned window") {
    val df = (1 to 50).map(i => (i.toLong, i.toLong)).toDF("k", "v")
    val p = DistOrder.prefixSum(df, col("k"), col("k"), col("v"), "off",
      nShards = 4).queryExecution.sparkPlan
    val bad = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, "prefixSum produced a single-partition window")
  }
}

package graft.operators

import graft.{SparkSpecBase, SparkEntry}
import org.apache.spark.sql.functions.col

class RelationalSpec extends SparkSpecBase {

  test("every registered query runs at sf0.001 and yields rows") {
    // query -> why it is empty at sf0.001; each must stay empty
    val empties = Map(
      "q5_antijoin" -> ("each of the 150 customers has an order on or " +
        "after 1998-01-01 (8 orphans at sf0.01)"),
      "qkg26_squares" -> ("no entity pair shares two capped neighbors in " +
        "the 193 English pages' triples, so no 4-cycle (2 at sf0.01)"))
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sf1).count()
      info(s"$name -> $n rows")
      if ((n > 0) != empties.contains(name)) None
      else Some(s"$name: $n rows")
    }
    assert(bad.isEmpty, s"unexpected row counts:\n${bad.mkString("\n")}")
  }

  test("the two queries empty at sf0.001 yield their rows at sf0.01") {
    val orphans = SparkEntry.queries("q5_antijoin")(spark, sf10)
      .collect().map(_.getAs[Long]("n_orphans"))
    assert(orphans.length === 7, orphans.toSeq)
    assert(orphans.sum === 8L)
    assert(SparkEntry.queries("qkg26_squares")(spark, sf10).count() === 2L)
  }

  test("q1 pricing summary has the 4-way group structure and positive sums") {
    val rows = Relational.q1PricingSummary(spark, sf1).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Double]("sum_qty") > 0))
    assert(rows.forall(r => r.getAs[Long]("count_order") > 0))
  }

  test("q6 window keeps exactly one order per customer, the max one") {
    val top = Relational.q6WindowTopOrder(spark, sf1)
    val perCust = top.groupBy("o_custkey").count().filter("count > 1").count()
    assert(perCust === 0)
  }

  test("q11 ignore-case join matches every nation exactly once") {
    val rows = Relational.q11IgnoreCaseJoin(spark, sf1).collect()
    val nNations = spark.read.parquet(s"$sf1/nation.parquet").count()
    assert(rows.length.toLong === nNations)
  }

  test("bucketedIntervalJoin equals the broadcast range join on overlapping intervals, boundaries half-open") {
    import spark.implicits._
    val points = Seq(0.0, 0.5, 1.0, 2.5, 3.0, 7.99, 8.0, -0.5)
      .toDF("v")
    val ivs = Seq(("a", 0.0, 1.0), ("b", 0.5, 3.0), ("c", 2.9, 8.0),
      ("neg", -2.0, 0.0)).toDF("name", "lo", "hi")
    val got = Relational.bucketedIntervalJoin(points, "v", ivs, "lo", "hi",
        bucketWidth = 1.0)
      .select("v", "name").as[(Double, String)].collect().toSet
    val want = points.join(ivs,
        col("v") >= col("lo") && col("v") < col("hi"))
      .select("v", "name").as[(Double, String)].collect().toSet
    assert(got === want)
    // half-open boundaries, explicitly: 0.0 ∈ a, 1.0 ∉ a, 8.0 ∉ c,
    // -0.5 ∈ neg only
    assert(got.contains((0.0, "a")) && !got.contains((1.0, "a")))
    assert(!got.contains((8.0, "c")) && got.contains((-0.5, "neg")))
  }

  test("bucketedIntervalJoin fails fast on an interval wider than the bucket cap") {
    import spark.implicits._
    val points = Seq(1.0).toDF("v")
    val wide = Seq(("catchall", 0.0, 1e9)).toDF("name", "lo", "hi")
    val e = intercept[IllegalArgumentException] {
      Relational.bucketedIntervalJoin(points, "v", wide, "lo", "hi", 1.0)
        .count()
    }
    assert(e.getMessage.contains("buckets"), e.getMessage)
  }
}

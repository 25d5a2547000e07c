package graft.snapshot

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import graft.SparkSpecBase

/** A snapshot read is built from the manifest alone: the recorded files
  * with the recorded schema. It runs no Spark job, not even over more
  * than 32 partition directories (where a Spark file listing goes
  * parallel), and reads exactly what a Spark multi-path Parquet read of
  * the same directories reads.
  */
class ManifestReadSpec extends SparkSpecBase {

  private val keys = Seq("label", "id")

  /** 5 labels x 8 buckets = 40 partition dirs, and columns whose
    * nullability a Parquet read changes: non-null longs, a non-null
    * array and struct, next to a nullable string. (No map column: the
    * changelog's null-safe compare cannot order maps.)
    */
  private def fixture(): SnapshotTable = {
    val root = Files.createTempDirectory("graftmanifest").toString
    val t = SnapshotTable(spark, s"$root/t", Some("label"), Some(BucketSpec(Seq("id"), Some(8))))
    val rows = spark.range(400).select(
      concat(lit("L"), (col("id") % 5).cast("string")).as("label"),
      concat(lit("id"), col("id").cast("string")).as("id"),
      col("id").as("v"),
      when(col("id") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("id").cast("string")).as("maybe"),
      array(col("id"), col("id") + 1).as("xs"),
      struct(col("id").as("a"), lit("s").as("b")).as("st"),
      (col("id") / 3).cast("decimal(18,2)").as("amt"),
      timestamp_seconds(col("id")).as("ts"))
    t.commit(rows, 1L)
    val delta = rows.filter(col("v") % 50 === 3).withColumn("v", col("v") + 1000)
    t.rewrite(delta, 2L) { existing =>
      existing.get.join(delta.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(delta)
    }
    t
  }

  /** Spark's own multi-path Parquet read of version `v`'s partitions `ks`. */
  private def parquetOf(t: SnapshotTable, v: Long, ks: Iterable[String]): DataFrame = {
    val parts = t.partitionsOf(v)
    spark.read.parquet(ks.toSeq.sorted.map(k => s"${t.root}/${parts(k)}"): _*)
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def assertSameRead(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema)
    assert(rowsOf(got) === rowsOf(want))
    assert(got.inputFiles.toSet === want.inputFiles.toSet)
    assert(got.inputFiles.forall(_.startsWith("file:/")), got.inputFiles.head)
  }

  private def noJobs(read: => DataFrame): DataFrame = {
    val (df, jobs) = sparkJobs(read)
    assert(jobs === 0, s"opening the read ran $jobs Spark jobs")
    df
  }

  test("read, readPartition and readVersion over 40 partition dirs run no Spark job and equal a Spark Parquet read") {
    val t = fixture()
    val (p1, p2) = (t.partitionsOf(1L), t.partitionsOf(2L))
    assert(p1.size > 32 && p2.size === p1.size)
    assert(p1.count { case (k, dir) => p2(k) != dir } < p1.size, "v2 must carry partitions")

    assertSameRead(noJobs(t.read()), parquetOf(t, 2L, p2.keys))
    assertSameRead(noJobs(t.readVersion(1L)), parquetOf(t, 1L, p1.keys))
    assertSameRead(noJobs(t.readPartition("L3").get),
      parquetOf(t, 2L, p2.keys.filter(_.startsWith("L3~b"))))
    assert(sparkJobs(t.readPartition("L9"))._2 === 0)
    assert(t.readPartition("L9").isEmpty, "a label absent from the manifest reads as None")
    assert(noJobs(t.read()).schema.forall(_.nullable))
  }

  test("building a changelog over 40 partition dirs runs no Spark job and equals the diff of Spark Parquet reads") {
    val t = fixture()
    val (p1, p2) = (t.partitionsOf(1L), t.partitionsOf(2L))
    val changed = p1.keys.filter(k => p1(k) != p2(k)).toSeq
    val log = noJobs(t.changelog(1L, 2L, keys))
    assertSameRead(log, SnapshotTable.diff(parquetOf(t, 1L, changed), parquetOf(t, 2L, changed), keys))
    assert(log.filter(col("op") === "update").count() === 8L)
  }

  test("two reads of one version are the same relation: equal results, sizes and cache hits") {
    val t = fixture()
    assert(t.read().sameSemantics(t.read()))
    assert(!t.read().sameSemantics(t.readVersion(1L)))
    assert(t.read().queryExecution.optimizedPlan.stats.sizeInBytes ===
      parquetOf(t, 2L, t.partitionsOf(2L).keys).queryExecution.optimizedPlan.stats.sizeInBytes)
    val cached = t.read().cache()
    try {
      val plan = t.read().queryExecution.withCachedData
      assert(plan.collectFirst { case r: InMemoryRelation => r }.nonEmpty, plan.treeString)
    } finally cached.unpersist(blocking = true): Unit
  }
}

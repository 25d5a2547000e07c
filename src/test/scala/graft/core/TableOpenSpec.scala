package graft.core

import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder
import graft.SparkSpecBase

/** `Graft.table` and `Graft.parquet` open a parquet input with the
  * schema and rows that `spark.read.parquet` gives, and run no Spark job
  * doing it.
  */
class TableOpenSpec extends SparkSpecBase {
  import spark.implicits._

  private val sfTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Same schema and same row count as Spark's own read of `path`. */
  private def assertSameAsSpark(path: String): Unit = {
    val ours = Graft.parquet(spark, path)
    val theirs = spark.read.parquet(path)
    assert(ours.schema === theirs.schema, path)
    assert(ours.count() === theirs.count(), path)
  }

  test("every sf0.001 table (pyarrow-written, no Spark metadata) opens with Spark's schema") {
    sfTables.foreach(t => assertSameAsSpark(s"$sf1/$t.parquet"))
    assert(Graft.table(spark, sf1, "orders").schema ===
      spark.read.parquet(s"$sf1/orders.parquet").schema)
  }

  test("a Spark-written table opens with the row schema stored in its footer") {
    val dir = tempDir("tableopen").resolve("t").toString
    // field metadata survives only through the stored row schema, and the
    // non-nullable fields come back nullable, as Spark's read makes them
    val tagged = new MetadataBuilder().putString("comment", "kept").build()
    Seq((1L, "a", Seq(1.0f, 2.0f), Map("k" -> 1)), (2L, "b", Seq(3.0f), Map.empty[String, Int]))
      .toDF("id", "s", "v", "m")
      .select(col("id"), col("s").as("s", tagged), col("v"), col("m"),
        struct(col("id"), col("s")).as("st"))
      .write.parquet(dir)
    assertSameAsSpark(dir)
    assert(Graft.parquet(spark, dir).schema("s").metadata === tagged)
  }

  test("a partitioned directory and globs open with Spark's schema") {
    val dir = tempDir("tableopen").resolve("p").toString
    (0 until 40).map(i => (i.toLong, s"r$i", i % 3)).toDF("id", "s", "k")
      .write.partitionBy("k").parquet(dir)
    assertSameAsSpark(dir)
    assert(Graft.parquet(spark, dir).columns.last === "k")
    assertSameAsSpark(s"$dir/k=*")
    assertSameAsSpark(s"$dir/*/*.parquet")
    assertSameAsSpark(s"$dir/k=1")
    val two = Seq(s"$dir/k=0", s"$dir/k=2")
    assert(Graft.parquet(spark, two: _*).schema === spark.read.parquet(two: _*).schema)
    assert(Graft.parquet(spark, two: _*).count() === spark.read.parquet(two: _*).count())
  }

  test("the schema comes from the first data file in path order") {
    val root = tempDir("tableopen")
    def onePart(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val d = root.resolve(s"w_$name")
      df.coalesce(1).write.parquet(d.toString)
      val part = d.toFile.listFiles().map(_.toPath)
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.createDirectories(root.resolve("mixed"))
      Files.move(part, root.resolve("mixed").resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    onePart("b.parquet", Seq((1L, 2.0)).toDF("id", "y"))
    onePart("a.parquet", Seq((3L, "x")).toDF("id", "x"))
    val mixed = root.resolve("mixed").toString
    assertSameAsSpark(mixed)
    assert(Graft.parquet(spark, mixed).columns.toSeq === Seq("id", "x"))
  }

  test("opening a table runs no Spark job") {
    val (df, jobs) = sparkJobs(Graft.table(spark, sf1, "documents"))
    assert(jobs === 0, s"the open ran $jobs Spark jobs")
    assert(df.columns.contains("doc_id"))
    val (_, sparkJobsToo) = sparkJobs(spark.read.parquet(s"$sf1/documents.parquet"))
    assert(sparkJobsToo >= 1, "Spark's own read infers its schema with a job")
  }
}

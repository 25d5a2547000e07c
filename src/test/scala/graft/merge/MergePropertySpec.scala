package graft.merge

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.SparkSpecBase

/** Model-based property test of the MERGE engine: random sequences of
  * key-unique node batches applied through `upsertNodeBatch` into a
  * bucketed SnapshotTable must agree with a trivial in-memory model of
  * the reference's MERGE semantics (insert-or-update, firstseen only on
  * create, lastupdated stamped per touched row, untouched rows
  * unchanged) — and expiring every version but the last must not change
  * the observable table.
  *
  * GraphMergeSpec pins hand-built scenarios; this pins the algebra on
  * random ones, including the bucket-carry-forward path (small batches
  * touch few buckets, so most rewrites carry the rest by reference).
  */
class MergePropertySpec extends SparkSpecBase {
  import spark.implicits._

  private type Key = (String, String)
  private final case class ModelRow(props: Map[String, String],
                                    firstseen: Long, lastupdated: Long)

  test("random batch sequences: upsertNodeBatch == in-memory MERGE model; expiry invisible") {
    val labels = Seq("A", "B")
    val ids = (0 until 12).map(i => s"id$i")
    // one batch: key-unique (label, id) rows each carrying one prop value
    val genBatch: Gen[Seq[(String, String, String)]] = for {
      n <- Gen.choose(1, 10)
      keys <- Gen.pick(n, for { l <- labels; i <- ids } yield (l, i))
      vs <- Gen.listOfN(n, Gen.alphaLowerStr.map(_.take(4)))
    } yield keys.toSeq.zip(vs).map { case ((l, i), v) => (l, i, v) }
    val genScenario: Gen[List[Seq[(String, String, String)]]] =
      Gen.choose(1, 5).flatMap(k => Gen.listOfN(k, genBatch))

    val prop = Prop.forAll(genScenario) { batches =>
      val root = Files.createTempDirectory("graftmergeprop").toString
      val nodes = GraphTables.nodes(spark, root, buckets = Some(4))
      val edges = GraphTables.edges(spark, root)

      var model = Map.empty[Key, ModelRow]
      batches.zipWithIndex.foreach { case (batch, bi) =>
        val tag = 100L + bi
        val df = batch.toDF("label", "id", "v").select(
          col("label"), col("id"),
          map(lit("p"), col("v")).as("props"),
          array().cast("array<string>").as("extra_labels"),
          lit(null).cast("string").as("sub_resource_id"),
          lit(tag).as("firstseen"), lit(tag).as("lastupdated"))
        GraphMerge.upsertNodeBatch(spark, df, tag, nodes): Unit
        batch.foreach { case (l, i, v) =>
          val k = (l, i)
          model += k -> (model.get(k) match {
            case Some(old) => ModelRow(Map("p" -> v), old.firstseen, tag)
            case None => ModelRow(Map("p" -> v), tag, tag)
          })
        }
      }

      def tableState(): Map[Key, ModelRow] =
        nodes.read().select("label", "id", "props", "firstseen", "lastupdated")
          .collect().map { r =>
            (r.getString(0), r.getString(1)) -> ModelRow(
              r.getMap[String, String](2).toMap, r.getLong(3), r.getLong(4))
          }.toMap

      val agreed = tableState() == model
      val (expired, _) = nodes.expireVersions(1)
      val stable = tableState() == model
      val versionsOk = nodes.versions.size == 1 &&
        expired.size == batches.size - 1

      Prop(agreed) :| "table state must equal the MERGE model" &&
        Prop(stable) :| "expiry must not change the observable table" &&
        Prop(versionsOk) :| "one version retained, the rest expired"
    }

    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8)
        .withInitialSeed(Seed(20260817L)), prop)
    assert(res.passed, res.status.toString)
  }
}

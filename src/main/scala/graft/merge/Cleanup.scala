package graft.merge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Concurrently
import graft.model._
import graft.snapshot.SnapshotTable

final case class CleanupStats(nodesDeleted: Long, edgesDeleted: Long)

/** Stale-fact deletion — the Spark-native rewrite of the reference's
  * generated cleanup jobs (cartography/graph/cleanupbuilder.py:15-56):
  *
  *  1. delete stale nodes of the schema's label attached to the current
  *     sub-resource: `lastupdated <> update_tag` scoped to the tenant
  *     (cleanupbuilder.py:123-129,150-169);
  *  2. DETACH: also drop every edge referencing a deleted node;
  *  3. delete stale sub-resource / other-rel edges of the schema's rel
  *     labels (cleanupbuilder.py:131-147).
  *
  * The reference executes this as an iterative LIMIT 100 delete loop
  * (statement.py:116-128, job.py:152-161) to bound Neo4j transaction
  * memory; set-oriented Spark needs no iteration — one declarative
  * anti-filter per table, committed as a new snapshot version.
  *
  * Scale: the node rewrite touches only the hash buckets of the schema's
  * label that contain stale rows, and the edge rewrite only the
  * (rel_label, bucket) partitions containing doomed edges
  * (SnapshotTable.rewrite) — the sub-resource scoping that keeps
  * the reference's cleanup from crossing tenants also keeps ours from
  * rewriting 100 TB. The deleted-id set used for DETACH is the stale
  * subset of one tenant; AQE broadcasts it into the edge semi-joins
  * when it is small.
  */
object Cleanup {

  /** The `<> update_tag` freshness predicate — preserved exactly. */
  private def stale(tag: Long) = col("lastupdated") =!= lit(tag)

  /** Property-clearing scan — the `REMOVE n.prop1, n.prop2` analog
    * (reference: data/jobs/analysis/aws_ec2_asset_exposure.json stmts 1-4,
    * which clear stale exposure flags before re-tagging). Removes the
    * given keys from the props map of every `label` node that matches
    * `predicate` AND holds at least one of the keys. Returns the number
    * of nodes cleared.
    *
    * Scale: bucket-precise like every other mutation — only the buckets
    * containing affected rows are rewritten; a no-op clear commits
    * nothing. The reference's iterative `WITH n LIMIT $LIMIT_SIZE` loop
    * (graph/job.py:152-161) exists to bound Neo4j transaction memory;
    * set-oriented Spark needs no iteration.
    */
  def clearProperties(spark: SparkSession, nodes: SnapshotTable,
                      label: String, props: Seq[String], updateTag: Long,
                      predicate: org.apache.spark.sql.Column = lit(true)): Long = {
    require(props.nonEmpty, "clearProperties requires at least one property name")
    val part = nodes.readPartition(label).getOrElse(return 0L)
    val holdsAny = props.map(p => element_at(col("props"), p).isNotNull)
      .reduce(_ || _)
    val affected = part.filter(predicate && holdsAny).cache()
    try {
      val n = affected.count()
      if (n > 0) {
        val dropKeys = array(props.map(lit): _*)
        nodes.rewrite(affected, updateTag) { existing =>
          bucketsOf(existing, "affected").withColumn("props",
            when(predicate && holdsAny,
              map_filter(col("props"), (k, _) => !array_contains(dropKeys, k)))
              .otherwise(col("props")))
        }: Unit
      }
      n
    } finally affected.unpersist(): Unit
  }

  /** The touched buckets' current rows: a delete's rows came from those
    * buckets, so their absence means the table changed under the write.
    */
  private def bucketsOf(existing: Option[DataFrame], what: String): DataFrame =
    existing.getOrElse(sys.error(s"$what buckets vanished mid-cleanup"))

  /** Rewrite `t` through `f` and return the rows the commit removed: the
    * committed row drop between the base version and the one `rewrite`
    * returned, read from the changed partitions' footers (0 when nothing
    * was committed). It is exact because a cleanup rewrite only deletes.
    */
  private def deleting(t: SnapshotTable, delta: DataFrame, updateTag: Long)
                      (f: Option[DataFrame] => DataFrame): Long =
    t.latestVersion.fold(0L) { base =>
      t.rewrite(delta, updateTag)(f).fold(0L)(v => -t.rowDelta(base, v))
    }

  /** One cleanup pass for `schema` at `updateTag` (steps 1-3 above).
    * The DETACH sweep is one full-scan semi-join of the edge table
    * against the deleted ids: a deleted node's edges can carry any
    * rel label, and edge buckets hash (src_id, dst_id) jointly, so no
    * partition of the table can be skipped.
    *
    * The node delete and the edge delete read the same cached stale set
    * and neither reads the other's table, so they commit at once
    * ([[graft.core.Concurrently]]). DETACH's delete set is that stale
    * set, so one emptiness check of it gates DETACH, in place of the node
    * commit's count; with nothing stale and no rel label declared,
    * nothing can be deleted and no delete plan runs.
    *
    * The deleted counts come from the two commits themselves, the way
    * the reference reads them off each write's summary counters
    * (graph/statement.py:99-112): no count query runs before a rewrite,
    * and a rewrite whose rows touch no partition commits nothing and
    * counts 0.
    */
  def run(spark: SparkSession, schema: NodeSchema,
          kwargs: Map[String, String], updateTag: Long,
          nodes: SnapshotTable, edges: SnapshotTable): CleanupStats = {
    val subId = schema.subResource.map(sr => kwargs.getOrElse(sr.ref.name,
      sys.error(s"cleanup requires kwarg '${sr.ref.name}' — " +
        "sub-resource scoping is mandatory (cleanupbuilder.py:191-206)")))

    // The label-scoped read prunes to the label's buckets only. A label
    // with no partition (never loaded, or its last node deleted by an
    // earlier cleanup) has nothing stale and no tenant scope to sweep.
    val part = nodes.readPartition(schema.label)
      .getOrElse(return CleanupStats(0L, 0L))
    val scope = subId match {
      case Some(id) => col("sub_resource_id") === lit(id)
      case None => lit(true)
    }
    val relLabels = schema.relLabels.distinct.sorted
    // Tenant scope BEFORE deletion — used to scope the edge sweep so other
    // tenants' edges survive (the MATCH ...<-[:RESOURCE]-(:SubRes{id:$kwarg})
    // prefix of every generated cleanup query, cleanupbuilder.py:150-169).
    val tenantIds = part.filter(scope).select(col("id")).cache()
    val staleRows = part.filter(scope && stale(updateTag)).cache()
    val staleIds = staleRows.select(col("id"))
    try {
      val anyStale = !staleRows.isEmpty
      if (!anyStale && relLabels.isEmpty) CleanupStats(0L, 0L)
      else {
        val (nDeleted, eDeleted) = Concurrently.both(spark)(
          // bucket-precise: rewrite only the buckets that contain stale
          // rows; the label's other buckets carry forward by file reference
          if (!anyStale) 0L else deleting(nodes, staleRows, updateTag) { existing =>
            bucketsOf(existing, "stale").join(staleIds.withColumnRenamed("id", "_sid"),
              col("id") === col("_sid"), "left_anti")
          },
          if (!edges.exists) 0L
          else deleteEdges(schema.label, relLabels, anyStale, staleIds, tenantIds,
            updateTag, edges))
        CleanupStats(nDeleted, eDeleted)
      }
    } finally {
      staleRows.unpersist(); tenantIds.unpersist(): Unit
    }
  }

  /** Steps 2 and 3: delete the edges touching a deleted node of `label`
    * (DETACH, when `anyStale`) and the stale edges of `relLabels` scoped
    * to the tenant, in one bucket-precise edge rewrite. Returns the edges
    * deleted.
    */
  private def deleteEdges(label: String, relLabels: Seq[String], anyStale: Boolean,
                          staleIds: DataFrame, tenantIds: DataFrame, updateTag: Long,
                          edges: SnapshotTable): Long = {
    // Every membership test below is TWO equi-semi-joins (src side,
    // dst side) unioned — an OR-of-equalities join condition cannot be
    // planned as a hash join and degrades to a nested loop over
    // |edges| × |ids|. No explicit broadcast: staleIds is usually
    // small (AQE broadcasts it), but with no sub-resource scope
    // tenantIds is the WHOLE label — forcing it into a broadcast would
    // OOM at corpus scale, while a shuffled semi-join just works.
    def touching(base: DataFrame, ids: DataFrame, renamed: String): DataFrame = {
      val r = ids.withColumnRenamed("id", renamed)
      base.filter(col("src_label") === label)
        .join(r, col("src_id") === col(renamed), "left_semi")
        .unionByName(
          base.filter(col("dst_label") === label)
            .join(r, col("dst_id") === col(renamed), "left_semi"))
    }
    // detach: any edge touching a deleted node of this label
    val detached =
      if (anyStale) Seq(touching(edges.read(), staleIds, "_sid")) else Nil
    // stale rels of this schema's rel labels, scoped to this node label
    // AND to the tenant being synced. The labels are the table's
    // partition column — read ONLY those partitions.
    val staleRels = relLabels.flatMap(edges.readPartition)
      .reduceOption(_ unionByName _)
      .map(rels => touching(rels.filter(stale(updateTag)), tenantIds, "_tid"))
    (detached ++ staleRels).reduceOption(_ unionByName _).fold(0L) { all =>
      val doomed = all
        .dropDuplicates("src_label", "src_id", "rel_label", "dst_label", "dst_id")
        .cache()
      // bucket-precise: rewrite only the (rel_label, bucket) partitions
      // that contain doomed edges
      try deleting(edges, doomed, updateTag) { existing =>
        bucketsOf(existing, "doomed")
          .join(doomed.select(col("src_label").as("_dsl"), col("src_id").as("_dsi"),
            col("rel_label").as("_drl"), col("dst_label").as("_ddl"),
            col("dst_id").as("_ddi")),
            col("src_label") === col("_dsl") && col("src_id") === col("_dsi") &&
              col("rel_label") === col("_drl") && col("dst_label") === col("_ddl") &&
              col("dst_id") === col("_ddi"),
            "left_anti")
      } finally doomed.unpersist(): Unit
    }
  }
}

package graft.merge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model._
import graft.snapshot.SnapshotTable

/** Canonical graph-table schemas (FIXTURES.md §3). */
object GraphTables {
  val nodeSchema: StructType = StructType(Seq(
    StructField("label", StringType),
    StructField("id", StringType),
    StructField("props", MapType(StringType, StringType)),
    StructField("extra_labels", ArrayType(StringType)),
    StructField("sub_resource_id", StringType),
    StructField("firstseen", LongType),
    StructField("lastupdated", LongType)))

  val edgeSchema: StructType = StructType(Seq(
    StructField("src_label", StringType),
    StructField("src_id", StringType),
    StructField("rel_label", StringType),
    StructField("dst_label", StringType),
    StructField("dst_id", StringType),
    StructField("props", MapType(StringType, StringType)),
    StructField("firstseen", LongType),
    StructField("lastupdated", LongType)))

  /** Node buckets hash the id; edge buckets hash (src_id, dst_id) — both
    * are merge-key columns, so a batch row maps to a deterministic bucket
    * and an incremental merge reads/rewrites only the buckets it hashes
    * into. The count is the manifest's: with `buckets` None (every sync)
    * a table's first commit sizes it from its rows
    * ([[graft.snapshot.BucketSpec.bucketsFor]]); `buckets` declares it
    * instead, for a re-bucket or a spec that needs a fixed layout.
    */
  def nodes(spark: SparkSession, root: String,
            buckets: Option[Int] = None): SnapshotTable =
    SnapshotTable(spark, s"$root/nodes", Some("label"),
      Some(graft.snapshot.BucketSpec(Seq("id"), buckets)))
  def edges(spark: SparkSession, root: String,
            buckets: Option[Int] = None): SnapshotTable =
    SnapshotTable(spark, s"$root/edges", Some("rel_label"),
      Some(graft.snapshot.BucketSpec(Seq("src_id", "dst_id"), buckets)))

  def emptyNodes(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], nodeSchema)
  def emptyEdges(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], edgeSchema)
}

/** The upsert ("MERGE") operator — Spark-native equivalent of the
  * reference's generated ingestion query
  * (cartography/graph/querybuilder.py:361-413 compiled via
  * build_ingestion_query; entrypoint load(), client/core/tx.py:237-257).
  *
  * Semantics preserved exactly:
  *  - node MERGE keyed on id: insert-or-update; `firstseen` set only on
  *    create (querybuilder.py:384-393), `lastupdated` stamped with the
  *    run's update_tag on every touched row (sync.py:190-192);
  *  - per-row vs per-run property values (RowRef/KwargRef);
  *  - extra labels (querybuilder.py:57-61);
  *  - sub-resource attach skips silently when the container is absent
  *    (querybuilder.py:165-209) — an inner join that yields no rows;
  *  - other-rels matched Exact / IgnoreCase / FuzzyContains / OneToMany
  *    (querybuilder.py:122-141), each rel independent so missing data for
  *    one never kills the others (CALL{} UNION, querybuilder.py:271-303)
  *    — here: independent joins unioned byName;
  *  - rel MERGE keyed (src, label, dst) with firstseen preservation
  *    (querybuilder.py:187-198).
  *
  * Scale design: the nodes table is partitioned by label and the edges
  * table by rel_label, each hash-sub-bucketed on its merge key
  * (BucketSpec) — a load reads and rewrites ONLY the buckets its batch
  * hashes into (SnapshotTable.rewrite; file-level reuse of everything
  * else), so an incremental sync into a corpus-sized label stays
  * proportional to the batch, not the table. There is one node merge
  * ([[upsertNodeBatch]]) and one edge merge ([[upsertEdgeBatch]]);
  * [[load]] projects a schema's batch into both. Target-node lookups
  * join against only the target label's partition, broadcast when
  * small. There is no driver-side batching — the reference's 10k-dict
  * write transactions (tx.py:209) are replaced by Spark's
  * shuffle-partitioned distributed write.
  */
object GraphMerge {

  private def resolve(ref: PropertyRef, kwargs: Map[String, String]): Column =
    ref match {
      case RowRef(f) => col(f).cast("string")
      case KwargRef(n) => lit(kwargs.getOrElse(n,
        sys.error(s"missing kwarg '$n'"))).cast("string")
    }

  /** Deterministic key-wise dedup: among a key's duplicate rows, the one
    * with the greatest canonical JSON rendering of its non-key columns
    * wins. `dropDuplicates` keeps an ARBITRARY row — which row survives
    * then depends on partitioning and task order, so a batch carrying
    * two prop variants for one id would commit different values run to
    * run (the reference's UNWIND batches have a defined order; a
    * DataFrame does not, so the winner must be a pure function of the
    * row values). Costs the same single shuffle.
    */
  private def dedupByKeys(df: DataFrame, keys: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(keys.contains).toSeq
    if (others.isEmpty) df.dropDuplicates(keys)
    else {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(to_json(struct(others.map(col): _*)).desc)
      df.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
    }
  }

  /** Project a batch into canonical node rows for `schema`.
    * `dedup=false` skips the MERGE id-collapse shuffle for batches the
    * caller knows are id-unique (one-row-per-key committed tables).
    */
  def toNodeRows(batch: DataFrame, schema: NodeSchema,
                 kwargs: Map[String, String], updateTag: Long,
                 dedup: Boolean = true): DataFrame = {
    val propCols: Seq[Column] = schema.properties.toSeq.sortBy(_._1).flatMap {
      case (name, ref) => Seq(lit(name), resolve(ref, kwargs))
    }
    // empty map() is map<void,void> — cast so map_keys/map_concat in the
    // upsert's prop-merge resolve against the stored map<string,string>
    val propsMap =
      if (propCols.isEmpty) map().cast("map<string,string>")
      else map(propCols: _*)
    val projected = batch
      .select(
        lit(schema.label).as("label"),
        resolve(schema.idRef, kwargs).as("id"),
        propsMap.as("props"),
        (if (schema.extraLabels.isEmpty) array().cast("array<string>")
         else array(schema.extraLabels.map(lit): _*)).as("extra_labels"),
        schema.subResource
          .map(sr => resolve(sr.ref, kwargs))
          .getOrElse(lit(null).cast("string")).as("sub_resource_id"),
        lit(updateTag).as("firstseen"),
        lit(updateTag).as("lastupdated"))
      .filter(col("id").isNotNull)
    // MERGE collapses duplicate ids within a batch, deterministically
    // (greatest-JSON winner; see dedupByKeys).
    if (dedup) dedupByKeys(projected, Seq("id")) else projected
  }

  /** Key-wise upsert of `fresh` rows into the existing table state,
    * preserving firstseen. Both sides must share the canonical schema;
    * `keys` identifies a row.
    */
  def upsert(existing: DataFrame, fresh: DataFrame, keys: Seq[String],
             updateTag: Long): DataFrame = {
    val oldDf = existing.select(existing.columns.map(c => col(c).as(s"old_$c")).toSeq: _*)
    val joinCond = keys.map(k => col(s"old_$k") <=> col(k)).reduce(_ && _)
    val nonKeyCols = fresh.columns.filterNot(keys.contains)
    val merged = fresh.join(oldDf, joinCond, "full_outer")
    val isFresh = col(keys.head).isNotNull
    val outCols = keys.map(k => coalesce(col(k), col(s"old_$k")).as(k)) ++
      nonKeyCols.map {
        case "firstseen" =>
          coalesce(col("old_firstseen"), lit(updateTag)).as("firstseen")
        case "lastupdated" =>
          when(isFresh, lit(updateTag)).otherwise(col("old_lastupdated")).as("lastupdated")
        case "props" =>
          // MERGE ... SET sets only the batch's DECLARED properties
          // (querybuilder.py:384-393): on a matched row, fresh keys win
          // but keys set by OTHER schemas/modules on the same node
          // survive — replacing the whole map would silently delete a
          // sibling module's enrichment on every re-sync.
          when(isFresh && col("old_props").isNotNull,
            map_concat(
              map_filter(col("old_props"),
                (k, _) => !array_contains(map_keys(col("props")), k)),
              col("props")))
            .otherwise(when(isFresh, col("props")).otherwise(col("old_props")))
            .as("props")
        case c => when(isFresh, col(c)).otherwise(col(s"old_$c")).as(c)
      }
    merged.select(outCols: _*)
  }

  private val NodeKeys = Seq("label", "id")
  private val EdgeKeys = Seq("src_label", "src_id", "rel_label", "dst_label", "dst_id")

  /** Upsert a precomputed edge batch (canonical edge schema) with the
    * same firstseen-preserving MERGE semantics as schema-driven rels —
    * the analog of the reference's 68 handwritten UNWIND+MERGE loads
    * (SURVEY.md §2.3 "handwritten loads"). Used for dynamic rel labels
    * (e.g. one per extracted predicate) where a static RelSchema can't
    * express the label, and by [[load]] for its rel rows.
    *
    * Precondition: the batch is key-unique on (src_label, src_id,
    * rel_label, dst_label, dst_id) — aggregation outputs and
    * [[load]]'s per-rel dedup are; the merge does not re-check it.
    */
  def upsertEdgeBatch(spark: SparkSession, batch: DataFrame, updateTag: Long,
                      edges: SnapshotTable): Unit =
    merge(edges, batch, EdgeKeys, updateTag)

  /** Upsert a precomputed batch of canonical node rows spanning one or
    * more labels in a single merge + single commit — the fused fast path
    * for pipelines loading several schemas per sync (each separate
    * load() pays its own join + write round; a 100 TB sync with k node
    * types does k× the jobs for no extra information).
    *
    * Precondition: the batch is (label, id)-unique — [[toNodeRows]]
    * dedups each label's rows by id; the merge does not re-check it.
    */
  def upsertNodeBatch(spark: SparkSession, batch: DataFrame, updateTag: Long,
                      nodes: SnapshotTable): Unit =
    merge(nodes, batch, NodeKeys, updateTag)

  /** The one MERGE commit: upsert `batch` into the buckets it hashes
    * into (SnapshotTable.rewrite). The batch is read twice on every path
    * (the first commit's per-label row count, or the touched-bucket
    * collect, then the write), so it is cached: node batches are dedup'd
    * and edge batches are aggregation outputs, so an uncached probe would
    * run their shuffle map side and the write would run it again.
    */
  private def merge(table: SnapshotTable, batch: DataFrame, keys: Seq[String],
                    updateTag: Long): Unit = {
    batch.persist()
    try {
      table.rewrite(batch, updateTag) { existing =>
        existing.fold(batch)(upsert(_, batch, keys, updateTag))
      }: Unit
    } finally batch.unpersist(): Unit
  }

  /** Restrict a schema's declared relationships to a selected subset —
    * the filter_selected_relationships semantics
    * (cartography/graph/querybuilder.py:319-358):
    *  - None selects everything (no filtering);
    *  - Some(set) must name only rels declared on the schema (sub-resource
    *    rel label or an otherRels label) — anything else is an error;
    *  - the sub-resource rel is attached ONLY if explicitly selected;
    *  - Some(empty) selects no relationships at all.
    */
  def filterSelectedRels(schema: NodeSchema, selected: Option[Set[String]])
      : (Option[SubResourceRel], Seq[RelSchema]) = selected match {
    case None => (schema.subResource, schema.otherRels)
    case Some(sel) =>
      val declared = schema.relLabels.toSet
      val unknown = sel -- declared
      require(unknown.isEmpty,
        s"selected_relationships ${unknown.mkString(", ")} are not defined on " +
          s"node schema ${schema.label}. Declared relationships: " +
          s"${declared.mkString(", ")}.")
      (schema.subResource.filter(sr => sel(sr.relLabel)),
        schema.otherRels.filter(r => sel(r.relLabel)))
  }

  /** Full load: nodes + relationship attachments, committed to the
    * snapshot tables — [[toNodeRows]] into the node-batch upsert, then
    * the rel rows into the edge-batch upsert. `selectedRels` loads only a
    * subset of the schema's declared relationships (see
    * [[filterSelectedRels]]).
    */
  def load(spark: SparkSession, batch: DataFrame, schema: NodeSchema,
           kwargs: Map[String, String], updateTag: Long,
           nodes: SnapshotTable, edges: SnapshotTable,
           selectedRels: Option[Set[String]] = None): Unit = {
    val (selSubRes, selOtherRels) = filterSelectedRels(schema, selectedRels)
    if (batch.isEmpty) return // no-op on empty input (tx.py:253)

    upsertNodeBatch(spark, toNodeRows(batch, schema, kwargs, updateTag),
      updateTag, nodes)

    // ---- relationships ----------------------------------------------------
    // Target lookups read the *post-commit* node state so self-references
    // and sub-resource containers loaded earlier in the same run resolve.
    // readPartition prunes to the target label's buckets only — read()
    // would list and scan every label of a 100 TB table once per rel.
    def labelState(label: String): DataFrame =
      nodes.readPartition(label).getOrElse(GraphTables.emptyNodes(spark))

    val batchWithId = batch.withColumn("_src_id",
      resolve(schema.idRef, kwargs))

    def edgeRowsFor(rel: RelSchema, targets: DataFrame): DataFrame = {
      val tgt = targets
        .select(col("id").as("_tgt_id"), col("props").as("_tgt_props"))
      def tgtKey(m: TargetMatcher): Column =
        if (m.targetKey == "id") col("_tgt_id")
        else element_at(col("_tgt_props"), m.targetKey)
      val exploded = rel.matchers.zipWithIndex.foldLeft(batchWithId) {
        case (df, (TargetMatcher(_, RowRef(f), MatchMode.OneToMany), i)) =>
          df.withColumn(s"_o2m_$i", explode(col(f)))
        case (df, _) => df
      }
      val conds: Seq[Column] = rel.matchers.zipWithIndex.map { case (m, i) =>
        val refCol = m match {
          case TargetMatcher(_, RowRef(_), MatchMode.OneToMany) =>
            col(s"_o2m_$i").cast("string")
          case _ => resolve(m.ref, kwargs)
        }
        m.mode match {
          case MatchMode.Exact | MatchMode.OneToMany => tgtKey(m) === refCol
          case MatchMode.IgnoreCase => lower(tgtKey(m)) === lower(refCol)
          case MatchMode.FuzzyContains => lower(tgtKey(m)).contains(lower(refCol))
        }
      }
      val joined = exploded.join(tgt, conds.reduce(_ && _))
      val propCols: Seq[Column] = rel.properties.toSeq.sortBy(_._1).flatMap {
        case (name, ref) => Seq(lit(name), resolve(ref, kwargs))
      }
      val propsMap = if (propCols.isEmpty)
        map().cast("map<string,string>") else map(propCols: _*)
      val (srcLabel, srcId, dstLabel, dstId) = rel.direction match {
        case LinkDirection.Outward =>
          (lit(schema.label), col("_src_id"), lit(rel.targetLabel), col("_tgt_id"))
        case LinkDirection.Inward =>
          (lit(rel.targetLabel), col("_tgt_id"), lit(schema.label), col("_src_id"))
      }
      dedupByKeys(joined.select(
        srcLabel.as("src_label"), srcId.cast("string").as("src_id"),
        lit(rel.relLabel).as("rel_label"),
        dstLabel.as("dst_label"), dstId.cast("string").as("dst_id"),
        propsMap.as("props"),
        lit(updateTag).as("firstseen"), lit(updateTag).as("lastupdated")),
        Seq("src_label", "src_id", "rel_label", "dst_label", "dst_id"))
    }

    val subEdges: Seq[DataFrame] = selSubRes.toSeq.map { sr =>
      val container = labelState(sr.targetLabel)
        .filter(col("id") === lit(kwargs.getOrElse(sr.ref.name,
          sys.error(s"missing kwarg '${sr.ref.name}'"))))
      // The container is a single node — broadcast the lookup.
      edgeRowsFor(
        RelSchema(sr.relLabel, sr.targetLabel, sr.direction,
          Seq(TargetMatcher(sr.targetKey, sr.ref, MatchMode.Exact))),
        broadcast(container))
    }
    val otherEdges: Seq[DataFrame] = selOtherRels.map { rel =>
      edgeRowsFor(rel, labelState(rel.targetLabel))
    }
    val allEdges = (subEdges ++ otherEdges).reduceOption(_ unionByName _)

    allEdges.foreach(upsertEdgeBatch(spark, _, updateTag, edges))
  }
}

package graft.kg

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.link.{Blocking, ConnectedComponents}
import graft.merge.{GraphMerge, GraphTables}
import graft.model.{NodeSchema, RowRef}
import graft.snapshot.SnapshotTable

/** End-to-end KG-construction pipeline (the north star):
  *
  *   pages → extract (HTML→text, byte-identical) → mentions (Aho–Corasick
  *   over broadcast dictionary) → links → duplicate-entity candidates
  *   (exact ∪ MinHash-LSH ∪ rare-token blocking, Jaccard-verified) →
  *   large-star/small-star CC canonicalization → triples → GraphMerge
  *   into nodes/edges snapshot tables.
  *
  * Stage protocol (the Sync.run analog, cartography/sync.py:66-124, with
  * the checkpoint/resume semantics the reference lacks): ONE stage table
  * holds each of [[KgPipeline.StageNames]] with the stages it reads and
  * its compute function, and ONE driver walks the selected stages in
  * order. A full run selects every stage (`run`); a partial sync selects
  * a validated subset (`runStages`, the build_sync(selected_modules)
  * analog, cartography/sync.py:210-243). Per stage the driver either
  * resumes the output already committed for the run's update_tag — so a
  * kill/restart resumes at the first incomplete stage — or fails fast on
  * a dependency that is not committed, or computes, commits to a
  * SnapshotTable stamped with the tag and appends per-partition lineage
  * rows (ModuleSyncMetadata + statsd counters analog, cartography/util.py:
  * 133-165, graph/statement.py:99-112).
  *
  * The stage transforms themselves live on the companion object, where
  * the streaming micro-batch sync ([[graft.streaming.StreamingSync]])
  * calls the same code.
  *
  * Scale notes: extract/mentions/links/triples are narrow (zero
  * shuffle); the dictionary is broadcast; entity-space work (CC) is
  * orders of magnitude smaller than the corpus; the merge shuffles once
  * per graph partition. Mention links against a Zipf-headed entity space
  * aggregate per (url, entity) BEFORE any wider join, which is the
  * map-side-combine-style defusal of head-entity skew.
  *
  * @param graphRoot decouples the GRAPH tables from the stage/lineage
  *   work dir: multi-tenant orchestration gives each tenant its own
  *   stage dir (independent checkpoint/resume per tenant) while every
  *   tenant merges into ONE shared graph — the reference's per-account
  *   sync loop over a single Neo4j instance (`_sync_multiple_accounts`).
  * @param graphBuckets lays out a NEW graph only; an existing graph keeps
  *   the bucket count its manifests record.
  */
final class KgPipeline(spark: SparkSession, workRoot: String,
                       graphBuckets: Int = GraphTables.DefaultBuckets,
                       graphRoot: Option[String] = None,
                       maxBroadcastAliases: Long = KgPipeline.MaxBroadcastAliases) {
  import spark.implicits._
  import KgPipeline.{DriverDictionary, TableDictionary}

  KgPipeline.requireCap(maxBroadcastAliases)

  private def stageTable(name: String): SnapshotTable =
    SnapshotTable(spark, s"$workRoot/stage_$name", None)

  private val graphDir: String = graphRoot.getOrElse(s"$workRoot/graph")

  // graphBuckets is deployment-sized (SnapshotTable scaladoc): 8 at test
  // scale, hundreds+ at corpus scale so an incremental merge's touched
  // fraction stays proportional to the batch
  val nodes: SnapshotTable = GraphTables.nodes(spark, graphDir, graphBuckets)
  val edges: SnapshotTable = GraphTables.edges(spark, graphDir, graphBuckets)

  /** True if `name` already committed for this updateTag (resume). */
  def stageDone(name: String, updateTag: Long): Boolean = {
    val t = stageTable(name)
    t.latestVersion.exists(v => t.updateTagOf(v) == updateTag)
  }

  /** One per-partition lineage record (ModuleSyncMetadata + statsd
    * counters analog).
    */
  private final case class LineageRow(stage: String, partitionId: Int,
                                      updateTag: Long, rowsIn: Long,
                                      rowsOut: Long)

  /** Append lineage rows, driver-side, as one JSONL file — written
    * immediately AFTER the stage commit, so the only loss window is the
    * tiny post-commit gap (the same exposure as the reference's
    * per-statement metadata write). The rows are per-FILE counts read
    * from parquet footers: a Spark count job per stage costs more in
    * scheduling than the data, and those fixed per-stage jobs are
    * exactly the serial fraction that caps scaling efficiency between
    * the two bench parallelism levels.
    */
  private def writeLineage(rows: Seq[LineageRow]): Unit = {
    if (rows.isEmpty) return
    val dir = java.nio.file.Paths.get(s"$workRoot/lineage")
    java.nio.file.Files.createDirectories(dir)
    val sb = new StringBuilder
    rows.foreach { r =>
      sb.append(s"""{"stage":"${r.stage}","partition_id":${r.partitionId},""")
        .append(s""""update_tag":${r.updateTag},"rows_in":${r.rowsIn},"rows_out":${r.rowsOut}}""")
        .append('\n'): Unit
    }
    val f = dir.resolve(s"part-${rows.head.stage}-${rows.head.updateTag}-${System.nanoTime()}.json")
    java.nio.file.Files.writeString(f, sb.toString): Unit
  }

  private def footerLineage(stage: String, t: SnapshotTable,
                            updateTag: Long): Seq[LineageRow] =
    t.fileRowCounts(t.latestVersion.get).zipWithIndex.map { case (n, i) =>
      LineageRow(stage, i, updateTag, -1L, n)
    }

  def lineageRows(): DataFrame = spark.read
    .schema("stage STRING, partition_id INT, update_tag LONG, rows_in LONG, rows_out LONG")
    .json(s"$workRoot/lineage")

  /** Per-partition link counts for lineage — the one lineage that needs
    * a scan (links = the kind-0 SUBSET of the committed facts table, so
    * footers can't answer it). One small groupBy job.
    */
  private def linksLineage(factsCommitted: DataFrame, updateTag: Long): Seq[LineageRow] =
    factsCommitted.filter(col("kind") === 0)
      .groupBy(spark_partition_id().as("p")).agg(count(lit(1)).as("n"))
      .collect().toSeq
      .map(r => LineageRow("links", r.getInt(0), updateTag, -1L, r.getLong(1)))

  /** One row of the stage table: the committed stages `name` reads, its
    * output computed from theirs, and the lineage rows its commit adds
    * to the footer counts of its own output. Both functions receive the
    * accessor to committed stage outputs.
    */
  private final case class Stage(name: String, deps: Seq[String],
                                 compute: (String => DataFrame) => DataFrame,
                                 extraLineage: (String => DataFrame) => Seq[LineageRow] =
                                   _ => Nil)

  /** The stage table, in [[KgPipeline.StageNames]] order. */
  private def stages(pagesIn: Dataset[Page], dict: KgPipeline.Dictionary,
                     updateTag: Long): Seq[Stage] = Seq(
    // The pages table is the pipeline's INPUT — in production an
    // immutable Iceberg table that already exists; it is never committed
    // as a stage, so `pagesIn` must be deterministic or table-backed.
    // Its input-cardinality lineage row ("pages") comes from the
    // committed extract output (one row per page), not a re-scan.
    Stage("extract", Nil, _ => KgPipeline.extract(pagesIn).toDF(),
      _ => footerLineage("pages", stageTable("extract"), updateTag)),
    Stage("facts", Seq("extract"), in => dict match {
      case DriverDictionary(rows, _) => KgPipeline.facts(spark, in("extract"), rows)
      // over-cap: k-sharded automaton scan (scratch under the work dir
      // so re-runs overwrite; downstream reads the committed output)
      case TableDictionary(table) =>
        Extract.factsSharded(spark, KgPipeline.english(in("extract")), table,
          Corpus.predicates, s"$workRoot/facts_scratch", maxBroadcastAliases).toDF()
    }, in => linksLineage(in("facts"), updateTag)),
    Stage("canonical", Nil, _ => dict match {
      case DriverDictionary(rows, table) => KgPipeline.canonical(spark, rows, table)
      case TableDictionary(table) => KgPipeline.canonicalDistributed(spark, table)
    }),
    Stage("triples", Seq("facts", "canonical"),
      in => KgPipeline.canonicalTriples(in("facts"), in("canonical"))),
    // the graph write, upserting every canonical entity. The committed
    // extract output (url + lang) supplies the Page nodes: projecting the
    // raw input would re-render/re-read every page's html for two columns.
    Stage("merge", Seq("extract", "facts", "canonical", "triples"), in => {
      KgPipeline.writeGraph(spark, in("extract"), KgPipeline.linksView(in("facts")),
        in("canonical"), in("triples"), in("canonical").select(col("canonical_id").as("id")),
        updateTag, nodes, edges)
      Seq((updateTag, "done")).toDF("tag", "state")
    }))

  /** The stage driver: walk `selected` in order. A stage committed for
    * `updateTag` — by this run or an earlier one — is resumed; any other
    * stage requires its dependencies committed for the tag, then
    * computes, commits and appends lineage, and reports its wall time to
    * stderr (the statsd-timer analog, cartography/util.py:176-196).
    * Returns the accessor to the committed outputs.
    */
  private def runSelected(pagesIn: Dataset[Page], dict: KgPipeline.Dictionary,
                          updateTag: Long, selected: Seq[String]): String => DataFrame = {
    val byName = stages(pagesIn, dict, updateTag).map(s => s.name -> s).toMap
    // committed outputs are opened on first use, and once: opening one
    // runs no Spark job (the manifest records its files and schema), but
    // most outputs only feed a later stage, or nothing in a partial sync
    val read = mutable.Map.empty[String, DataFrame]
    val output: String => DataFrame =
      name => read.getOrElseUpdate(name, stageTable(name).read())
    selected.map(byName).foreach { s =>
      if (!stageDone(s.name, updateTag)) {
        s.deps.foreach(dep => require(stageDone(dep, updateTag),
          s"stage '${s.name}' requires '$dep' to be committed for tag " +
            s"$updateTag — include it in selected_modules or run it first"))
        val t0 = System.nanoTime()
        val t = stageTable(s.name)
        t.commit(s.compute(output), updateTag)
        writeLineage(footerLineage(s.name, t, updateTag) ++ s.extraLineage(output))
        System.err.println(f"[kg-timing] stage=${s.name} sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
    }
    output
  }

  final case class Result(pages: DataFrame, texts: DataFrame,
                          links: DataFrame, canonical: DataFrame,
                          triples: DataFrame)

  /** Run (or resume) every stage — all but `merge` (the graph upsert)
    * when `mergeGraph` is false — and return the committed outputs.
    * Pass driver rows as `DriverDictionary(rows)`; resolve a table-backed
    * dictionary with [[KgPipeline.dictionary]].
    */
  def run(pagesIn: Dataset[Page], dict: KgPipeline.Dictionary, updateTag: Long,
          mergeGraph: Boolean): Result = {
    val out = runSelected(pagesIn, dict, updateTag,
      KgPipeline.StageNames.filter(s => mergeGraph || s != "merge"))
    Result(pagesIn.toDF(), out("extract"), KgPipeline.linksView(out("facts")),
      out("canonical"), out("triples"))
  }

  /** Config-selected partial sync: run ONLY the named stages, in the
    * given order, against this work dir. A later stage reads its inputs
    * from the committed outputs of earlier ones — possibly produced by a
    * previous partial run with the same tag. Stage names are validated
    * against [[KgPipeline.StageNames]] with the reference's error shape.
    */
  def runStages(pagesIn: Dataset[Page], dict: Seq[AliasRow], updateTag: Long,
                selectedModules: String): Unit =
    runSelected(pagesIn, DriverDictionary(dict), updateTag, selection(selectedModules)): Unit

  /** Stage-subset run from a table-backed dictionary (the CLI path). */
  def runStages(pagesIn: Dataset[Page], dict: Dataset[AliasRow],
                updateTag: Long, selectedModules: String): Unit = {
    val selected = selection(selectedModules) // before the dictionary's collect job
    runSelected(pagesIn, KgPipeline.dictionary(dict, maxBroadcastAliases),
      updateTag, selected): Unit
  }

  private def selection(selectedModules: String): Seq[String] =
    graft.jobs.Sync.parseAndValidateSelectedModules(selectedModules, KgPipeline.StageNames)

}

object KgPipeline {
  /** Registry of stage names, in canonical dependency order — the
    * TOP_LEVEL_MODULES analog (cartography/sync.py:47-61).
    */
  val StageNames: Seq[String] =
    Seq("extract", "facts", "canonical", "triples", "merge")

  /** Upper bound on driver-materialized dictionary rows: the AC automaton
    * and alias→entity map are broadcast to every executor, so they must
    * fit in one heap no matter how the rows arrive. ~5M aliases ≈ low
    * hundreds of MB of automaton — the practical ceiling for a broadcast.
    * A dictionary above the cap no longer fails: the pipeline switches to
    * the k-sharded automaton scan ([[Extract.factsSharded]]), which keeps
    * per-executor memory at one shard's automaton and substitutes
    * entities via distributed joins.
    */
  val MaxBroadcastAliases: Long = 5000000L

  /** Below this many dictionary rows, blocking + CC candidate generation
    * runs on the driver (identical semantics, pinned by KgSpec) — small
    * syncs skip ~10 tiny Spark jobs.
    */
  val LocalBlockingBound: Int = 200000

  /** An alias dictionary in the shape the facts and canonical stages
    * consume. Resolve a table-backed one once per sync
    * ([[dictionary]]): a multi-tenant loop then reuses it for every
    * tenant instead of re-collecting it.
    */
  sealed trait Dictionary

  /** At or under the broadcast cap: driver rows for the single broadcast
    * automaton, plus the table they were collected from, if any — the
    * canonical stage reads that table rather than shipping the rows in
    * its plan.
    */
  final case class DriverDictionary(rows: Seq[AliasRow],
                                    table: Option[Dataset[AliasRow]] = None)
    extends Dictionary

  /** Over the cap: the dictionary never round-trips the driver; facts
    * take the sharded scan, canonical the distributed blocking + CC.
    */
  final case class TableDictionary(table: Dataset[AliasRow]) extends Dictionary

  /** The broadcast-vs-sharded choice for a table-backed dictionary — the
    * 100 TB shape, where aliases arrive as a (parquet/Iceberg-backed)
    * Dataset, not a driver Seq. At or under `cap` rows the dictionary is
    * driver-materialized and the single-automaton broadcast path runs;
    * above it the pipeline takes the sharded scan
    * ([[Extract.factsSharded]] — hash-sharded automatons, union + global
    * leftmost-longest resolution, distributed alias→entity joins) and
    * the distributed blocking/CC path, so no dictionary size is a hard
    * input limit.
    */
  def dictionary(table: Dataset[AliasRow], cap: Long = MaxBroadcastAliases): Dictionary =
    boundedCollectOpt(table, cap) match {
      case Some(rows) => DriverDictionary(rows, Some(table))
      case None => TableDictionary(table)
    }

  /** Materialize a table-backed dictionary on the driver with the
    * broadcast bound enforced IN the scan: `limit(cap+1)` collects at
    * most cap+1 rows (one job, bounded driver memory — a count-then-
    * collect pair would scan twice and an unguarded collect of an
    * over-cap dictionary would OOM the driver before any check ran).
    * None = over the cap; the caller switches to the sharded scan.
    */
  def boundedCollectOpt(dict: Dataset[AliasRow],
                        cap: Long = MaxBroadcastAliases): Option[Seq[AliasRow]] = {
    requireCap(cap)
    val rows = dict.limit(cap.toInt + 1).collect()
    if (rows.length <= cap) Some(rows.toSeq) else None
  }

  /** A broadcast cap's `cap+1` collect limit must fit Spark's Int row
    * limit: a larger cap is rejected, not wrapped.
    */
  private def requireCap(cap: Long): Unit =
    require(cap >= 0 && cap < Int.MaxValue,
      s"a broadcast alias cap must be in [0, ${Int.MaxValue}), got $cap")

  // ---- stage transforms, shared by the batch and streaming syncs --------

  /** extract: HTML → text, one row per page. */
  private[graft] def extract(pages: Dataset[Page]): Dataset[PageText] =
    Extract.pageText(pages)

  /** English pages only — the lang filter is part of the pipeline
    * contract (FIXTURES.md §1).
    */
  private[kg] def english(texts: DataFrame): Dataset[PageText] = {
    import texts.sparkSession.implicits._
    texts.filter(col("lang") === "en").as[PageText]
  }

  /** facts: one fused Aho–Corasick scan over the English pages emits
    * links (kind 0) AND raw pattern triples (kind 1), consumed as two
    * filtered views.
    */
  private[graft] def facts(spark: SparkSession, texts: DataFrame,
                           dict: Seq[AliasRow]): DataFrame =
    Extract.facts(spark, english(texts), dict, Corpus.predicates).toDF()

  /** The links view over facts (kind 0 rows). */
  private[graft] def linksView(facts: DataFrame): DataFrame =
    facts.filter(col("kind") === 0)
      .select(col("url"), col("start"), col("end"), col("a").as("entity_id"))

  /** canonical (id → canonical_id): blocking + CC live in entity space
    * (≪ corpus size). Below [[LocalBlockingBound]] the candidate
    * generation runs on the driver (same semantics, pinned by tests);
    * above it the distributed Dataset/LSH path takes over — on `table`
    * when one was provided, so the dictionary never round-trips the
    * driver.
    */
  private[graft] def canonical(spark: SparkSession, dict: Seq[AliasRow],
                               table: Option[Dataset[AliasRow]]): DataFrame = {
    import spark.implicits._
    if (dict.sizeIs <= LocalBlockingBound) {
      val dupEdges = Blocking.duplicateEntityEdgesLocal(dict)
        .map(p => (p.a, p.b)).toDF("u", "v")
      val allEntities = table match {
        case Some(ds) => ds.select(col("entity_id").as("id")).distinct()
        case None => dict.map(_.entity_id).distinct.toDF("id")
      }
      ConnectedComponents.run(spark, dupEdges, allEntities)
    } else canonicalDistributed(spark, table.getOrElse(dict.toDS()))
  }

  /** Dataset-native blocking + CC — the only canonicalization shape an
    * over-cap dictionary can take (it never round-trips the driver).
    */
  private[graft] def canonicalDistributed(spark: SparkSession,
                                          ds: Dataset[AliasRow]): DataFrame = {
    import spark.implicits._
    val dupEdges = Blocking.duplicateEntityEdges(spark, ds).toDF("u", "v")
    val allEntities = ds.select(col("entity_id").as("id")).distinct()
    ConnectedComponents.run(spark, dupEdges, allEntities)
  }

  /** triples: canonicalize subject and object of the raw pattern triples
    * (entity space is small relative to the corpus -> broadcast both
    * joins; no corpus-wide shuffle).
    */
  private[graft] def canonicalTriples(facts: DataFrame, canonical: DataFrame): DataFrame = {
    val raw = facts.filter(col("kind") === 1)
      .select(col("url"), col("a").as("subj"), col("pred"), col("obj"))
    val canonS = broadcast(canonical
      .select(col("id").as("subj"), col("canonical_id").as("csubj")))
    val canonO = broadcast(canonical
      .select(col("id").as("obj"), col("canonical_id").as("cobj")))
    raw.join(canonS, Seq("subj")).join(canonO, Seq("obj"))
      .select(col("url"), col("csubj").as("subj"), col("pred"),
        col("cobj").as("obj"))
      .dropDuplicates()
  }

  /** The KG graph write, shared by the batch and streaming syncs: Page
    * nodes from `texts` and Entity nodes for `entityIds` (an `id`
    * column: every canonical id in a batch sync, only the mentioned ones
    * in a micro-batch) as ONE node upsert, then MENTIONS and triple edges
    * as ONE edge upsert (firstseen/lastupdated semantics). Neither node
    * schema declares relationships; the edges come from the extraction.
    */
  private[graft] def writeGraph(spark: SparkSession, texts: DataFrame, links: DataFrame,
                                canonical: DataFrame, triples: DataFrame,
                                entityIds: DataFrame, updateTag: Long,
                                nodes: SnapshotTable, edges: SnapshotTable): Unit = {
    // a re-crawl lists one url twice: MERGE collapses it to one Page node
    // (toNodeRows' deterministic dedup)
    val pageRows = GraphMerge.toNodeRows(
      texts.select(col("url").as("id"), col("lang")),
      NodeSchema("Page", RowRef("id"), properties = Map("lang" -> RowRef("lang"))),
      Map.empty, updateTag)
    // distinct()'d ids carry no props to choose between: no dedup shuffle
    val entityRows = GraphMerge.toNodeRows(entityIds.distinct(),
      NodeSchema("Entity", RowRef("id")), Map.empty, updateTag, dedup = false)
    // both node inputs are key-unique and the two labels can't collide;
    // both edge inputs are aggregation outputs, hence key-unique too —
    // the batch upserts' precondition
    GraphMerge.upsertNodeBatch(spark, pageRows.unionByName(entityRows), updateTag, nodes)
    GraphMerge.upsertEdgeBatch(spark,
      mentionEdges(links, canonical, updateTag).unionByName(tripleEdges(triples, updateTag)),
      updateTag, edges)
  }

  /** MENTIONS edges with per-pair mention counts, aggregated BEFORE the
    * edge upsert (partial aggregation defuses the Zipf head entity).
    * countDistinct(span) inside ONE groupBy replaces a
    * dropDuplicates-then-count pair — same result, one shuffle fewer.
    */
  private[graft] def mentionEdges(links: DataFrame, canonical: DataFrame,
                                  updateTag: Long): DataFrame = {
    val canonB = broadcast(canonical
      .select(col("id").as("entity_id"), col("canonical_id")))
    links.join(canonB, Seq("entity_id"))
      .groupBy(col("url"), col("canonical_id"))
      .agg(countDistinct(struct(col("start"), col("end"))).as("n_mentions"))
      .select(lit("Page").as("src_label"), col("url").as("src_id"),
        lit("MENTIONS").as("rel_label"),
        lit("Entity").as("dst_label"), col("canonical_id").as("dst_id"),
        map(lit("n_mentions"), col("n_mentions").cast("string")).as("props"),
        lit(updateTag).as("firstseen"), lit(updateTag).as("lastupdated"))
  }

  /** Triple edges with per-triple source-page counts. */
  private[graft] def tripleEdges(triples: DataFrame, updateTag: Long): DataFrame =
    triples.groupBy(col("subj"), col("pred"), col("obj"))
      .agg(countDistinct(col("url")).as("n_sources"))
      .select(lit("Entity").as("src_label"), col("subj").as("src_id"),
        col("pred").as("rel_label"),
        lit("Entity").as("dst_label"), col("obj").as("dst_id"),
        map(lit("n_sources"), col("n_sources").cast("string")).as("props"),
        lit(updateTag).as("firstseen"), lit(updateTag).as("lastupdated"))
}

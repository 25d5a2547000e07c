package graft.jobs

/** Multi-tenant sync orchestration — the `_sync_multiple_accounts` loop
  * (cartography/intel/aws/__init__.py:142-206) recast over the engine's
  * kwarg-scoped load/cleanup:
  *
  *  - tenants sync sequentially, each under its own tenant id (the
  *    AWS_ID kwarg analog);
  *  - in best-effort mode a tenant's failure is recorded (timestamp-free
  *    deterministic message + cause) and the loop CONTINUES to the next
  *    tenant; outside it the first failure propagates immediately;
  *  - after the loop, failures are aggregated into ONE exception
  *    carrying every tenant's error (`raise Exception('\n'.join(
  *    exception_tracebacks))`);
  *  - post-ingestion work (cross-tenant cleanup/analysis — the
  *    aws_post_ingestion_principals_cleanup.json analog) runs ONLY when
  *    every tenant succeeded.
  *
  * Scale note: the loop itself is driver-side control flow over
  * table-scale Spark jobs — tenants are sub-resource containers
  * (thousands at most), not data. Per-tenant isolation comes from the
  * kwarg-scoped merge/cleanup underneath (GraphMerge.load +
  * Cleanup.run), which commit through SnapshotTable.rewrite and so
  * rewrite only the buckets a tenant's batch touches.
  */
object MultiTenant {

  final case class TenantFailure(tenantId: String, error: Throwable)

  final case class SyncReport(succeeded: Seq[String],
                              failed: Seq[TenantFailure]) {
    def allSucceeded: Boolean = failed.isEmpty
  }

  /** Aggregated failure — one exception carrying every failed tenant,
    * raised after the loop completes (the reference's
    * `'\n'.join(exception_tracebacks)`; causes are preserved as
    * suppressed exceptions so stack traces survive).
    */
  final class MultiTenantSyncException(val report: SyncReport)
      extends RuntimeException(
        s"sync failed for tenants ${report.failed.map(_.tenantId).mkString(", ")}:\n" +
          report.failed.map(f =>
            s"Exception for tenant ID: ${f.tenantId}\n${f.error}").mkString("\n")) {
    report.failed.foreach(f => addSuppressed(f.error))
  }

  /** Run `syncOne` for each tenant. Best-effort mode collects failures
    * and continues (aws/__init__.py:168-192); otherwise the first
    * failure propagates as-is. Never throws in best-effort mode — the
    * caller decides via [[syncAndThen]] or [[raiseIfFailed]].
    */
  def syncAll(tenants: Seq[String], bestEffort: Boolean)
             (syncOne: String => Unit): SyncReport = {
    val ok = Seq.newBuilder[String]
    val failed = Seq.newBuilder[TenantFailure]
    tenants.foreach { t =>
      try { syncOne(t); ok += t }
      catch {
        case scala.util.control.NonFatal(e) if bestEffort =>
          System.err.println(
            s"[multi-tenant] tenant $t failed (${e.getMessage}); " +
              "best-effort mode is on so we are continuing to the next " +
              "tenant. All exceptions are aggregated and re-raised at the " +
              "end of the sync.")
          failed += TenantFailure(t, e)
      }
    }
    SyncReport(ok.result(), failed.result())
  }

  /** The reference's post-loop contract in one call: raise the
    * aggregated exception if anything failed (post work SKIPPED — a
    * partially-synced graph must not be analyzed/cleaned cross-tenant,
    * aws/__init__.py:193-206), otherwise run `post` and return the
    * report.
    */
  def syncAndThen(tenants: Seq[String], bestEffort: Boolean)
                 (syncOne: String => Unit)(post: => Unit): SyncReport = {
    val report = syncAll(tenants, bestEffort)(syncOne)
    raiseIfFailed(report)
    post
    report
  }

  def raiseIfFailed(report: SyncReport): Unit =
    if (!report.allSucceeded) throw new MultiTenantSyncException(report)

  /** Dependency-gated analysis — run_analysis_and_ensure_deps
    * (cartography/util.py:68-96): the job runs only when every resource
    * it depends on was part of the requested sync set; returns whether
    * it ran.
    */
  def analysisIfDeps(jobName: String, resourceDependencies: Set[String],
                     requestedSyncs: Set[String])(run: => Unit): Boolean = {
    if (!resourceDependencies.subsetOf(requestedSyncs)) {
      System.err.println(
        s"[multi-tenant] did not run $jobName because it needs " +
          s"${resourceDependencies.mkString(", ")} to be included as a " +
          s"requested sync. You specified: ${requestedSyncs.mkString(", ")}.")
      false
    } else { run; true }
  }
}

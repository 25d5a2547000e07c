package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** PLANS.md is reproducible: the per-run scratch dirs that queries write
  * their tables under are printed as one stable token, and each plan
  * numbers its ids from 1.
  */
class PlansSpec extends AnyFunSuite {

  test("stableScratchDirs writes each per-run scratch dir as <scratch>/<prefix> and leaves other paths alone") {
    val plan =
      """Location: ManifestFileIndex [file:/tmp/kgops8127361523847561234/nodes/data/v1/_pv=Page~b0]
        |Location: InMemoryFileIndex [file:///tmp/graftq42/t/data/v2/all, file:/tmp/kgstream7/cp]
        |Location: InMemoryFileIndex [file:/root/testdata/sf0.01/lineitem.parquet]
        |Location: InMemoryFileIndex [file:/tmp/kgops/fixed, file:/var/tmp/kgops123/x]""".stripMargin
    val stable = Plans.stableScratchDirs(plan, "/tmp/")
    assert(stable ===
      """Location: ManifestFileIndex [file:<scratch>/kgops/nodes/data/v1/_pv=Page~b0]
        |Location: InMemoryFileIndex [file://<scratch>/graftq/t/data/v2/all, file:<scratch>/kgstream/cp]
        |Location: InMemoryFileIndex [file:/root/testdata/sf0.01/lineitem.parquet]
        |Location: InMemoryFileIndex [file:/tmp/kgops/fixed, file:/var/tmp/kgops123/x]""".stripMargin)
    assert(Plans.stableScratchDirs(stable, "/tmp") === stable)
  }

  test("stableIds numbers each id kind from 1 in order of first appearance and drops lambda identities") {
    val plan =
      """Output [2]: [id#4071, n#4077L]
        |Keys [1]: [id#4071], [id=#9636]
        |Arguments: [n#4077L], MapPartitionsRDD[781] at localCheckpoint
        |Arguments: hashpartitioning(id#4071, 4), ENSURE_REQUIREMENTS, [plan_id=19]
        |Arguments: [plan_id=7], MapPartitionsRDD[779], count#12L
        |Arguments: graft.ann.Knn$$$Lambda$8212/0x00007fbe49cd53e0@6e5fe2a0, obj#4: scala.Tuple3""".stripMargin
    val stable = Plans.stableIds(plan)
    assert(stable ===
      """Output [2]: [id#1, n#2L]
        |Keys [1]: [id#1], [id=#3]
        |Arguments: [n#2L], MapPartitionsRDD[1] at localCheckpoint
        |Arguments: hashpartitioning(id#1, 4), ENSURE_REQUIREMENTS, [plan_id=1]
        |Arguments: [plan_id=2], MapPartitionsRDD[2], count#4L
        |Arguments: graft.ann.Knn$$$Lambda, obj#5: scala.Tuple3""".stripMargin)
    assert(Plans.stableIds(stable) === stable)
  }
}

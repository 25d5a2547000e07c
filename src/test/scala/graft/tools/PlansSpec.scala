package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** PLANS.md is reproducible: the per-run scratch dirs that queries write
  * their tables under are printed as one stable token.
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
}

package graft.tools

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.matching.Regex
import graft.SparkEntry
import graft.core.Graft

/** Dumps `explain("formatted")` output for every registered query
  * ([[SparkEntry.all]]) into PLANS.md — the evidence trail that
  * filters/projections reach the parquet scans (PushedFilters /
  * ReadSchema), small dims broadcast, and the hot paths stay inside
  * WholeStageCodegen.
  * args: [sfDir] [outFile]; outFile defaults to PLANS.md in the working
  * directory.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = Graft.session(s"local[$cpus]", cpus, "graft-plans")
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of every registered query\n\n")
    sb.append("Generated by `graft.tools.Plans` (re-run after plan-affecting " +
      "changes).\nWhat to check per plan: `PushedFilters`/`ReadSchema` on " +
      "parquet scans\n(pushdown + pruning), `BroadcastHashJoin`/`BroadcastNestedLoopJoin` " +
      "for small\ndims, `WholeStageCodegen` spans covering the hot " +
      "expressions, and no\nshuffle (`Exchange`) that the query shape doesn't " +
      "require.\n")
    SparkEntry.all.foreach { q =>
      val df = q.build(spark, sfDir)
      // public spelling of formatted-explain: capture df.explain's
      // stdout (the ExplainMode classes are private API)
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
        df.explain("formatted")
      }
      val plan = stableIds(stableScratchDirs(bos.toString("UTF-8")))
      sb.append(s"\n## ${q.name}\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote ${SparkEntry.all.size} plans to $out")
    spark.stop()
  }

  /** `plan` with each per-run scratch dir (`<tmpDir>/<prefix><random
    * digits>`, made by [[Graft.scratchDir]]) written as the stable
    * `<scratch>/<prefix>`, so regenerating PLANS.md rewrites only the
    * plans that changed.
    */
  def stableScratchDirs(plan: String,
                        tmpDir: String = System.getProperty("java.io.tmpdir")): String =
    // the dir must start a path: after `file:`, `file://`, a line start,
    // a space, `[`, `(` or `,` — not inside one such as /var/tmp
    plan.replaceAll("(?m)(?<=^|[\\s\\[(,:]|://)" +
      java.util.regex.Pattern.quote(tmpDir.stripSuffix("/")) + "/([A-Za-z]+)\\d+",
      "<scratch>/$1")

  /** JVM-wide counters number expression ids (`#12`, `#12L`), plan ids
    * (`plan_id=12`) and RDD ids (`RDD[12]`), so each plan's numbers
    * depend on how many plans were analysed before it. Renumber each
    * kind from 1 in order of first appearance within `plan`, and print
    * a lambda (`Foo$$$Lambda$812/0x…@1a2b`) without its per-JVM
    * identity: a plan's text then changes only when the plan does.
    */
  def stableIds(plan: String): String = {
    val seen = mutable.Map.empty[String, mutable.Map[String, Int]]
    IdToken.replaceAllIn(LambdaIdentity.replaceAllIn(plan, "Lambda"), m => {
      val ids = seen.getOrElseUpdate(m.group(1), mutable.Map.empty)
      Regex.quoteReplacement(m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1))
    })
  }

  private val IdToken = """(#|plan_id=|RDD\[)(\d+)""".r
  private val LambdaIdentity = """Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+""".r
}

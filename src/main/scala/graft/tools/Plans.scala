package graft.tools

import java.nio.file.{Files, Paths}
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
      val plan = stableScratchDirs(bos.toString("UTF-8"))
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
}

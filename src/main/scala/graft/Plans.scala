package graft

import java.nio.file.{Files, Paths}

/** Dumps the executed plan of EVERY SparkEntry query to PLANS.md — the
  * explain-and-iterate audit trail (SURVEY.md §5): broadcasts where
  * expected, pushdown reaching scans, codegen stages wide. Coverage is
  * exhaustive by construction: one section per registry operator, in
  * name order — the r9 global-window shape shipped precisely because
  * its plan was never rendered.
  * Usage: graft.Plans [sfDir] [outFile]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    // fixed at 8 cores whatever the host: the committed fingerprints
    // were taken with 8 shuffle partitions
    val spark = SparkEntry.localSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    val all = SparkEntry.operators.sortBy(_.name)
    val sb = new StringBuilder
    sb.append("# PLANS — executed plans of ALL operators\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir` — ${all.size} plans, one per\n")
    sb.append("`SparkEntry.operators` record, in name order. Things to check per\n")
    sb.append("plan: dims broadcast, filters in PushedFilters, ReadSchema\n")
    sb.append("pruned, `*(n)` codegen stages wide, no stray Exchange,\n")
    sb.append("no unpartitioned Window over table-sized input.\n")
    sb.append("tools/check_plans.py holds those shapes as fingerprints;\n")
    sb.append("UNPARTITIONED windows specifically are gated against its\n")
    sb.append("GLOBAL_WINDOW_ALLOWLIST, which mirrors (and is spec-pinned\n")
    sb.append("to) RegistrySpec.boundedGlobalWindows — each entry there carries\n")
    sb.append("the written justification for why that window's input is\n")
    sb.append("domain-bounded, never table-sized.\n")
    all.foreach { case SparkEntry.Op(name, run, _) =>
      val df = run(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      // cap per plan, but NEVER mid-line: a Window/Exchange line cut at
      // the boundary would misclassify in check_plans.py's fingerprint
      // (and a sub-cap truncation made the gate blind below it — the
      // r14 review finding; the 400k cap below clears every current
      // plan with wide margin, and the explicit marker makes any
      // future overflow visible to the gate)
      // giant literal blobs (bloom-filter bytes render as megabytes of
      // hex in `mightContain`) carry no plan structure — scrub them so
      // the cap below never has to truncate a real plan
      val plan = df.queryExecution.executedPlan.toString
        .replaceAll("[0-9A-Fa-f]{512,}", "<LITERAL-BLOB>")
      val cap = 400000
      if (plan.length <= cap) sb.append(plan)
      else {
        val cut = plan.lastIndexOf('\n', cap)
        sb.append(plan.take(math.max(cut, 0)))
        sb.append("\n[PLAN TRUNCATED]")
      }
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out: ${all.size} plans")
    spark.stop()
  }
}

package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for a named set of SparkEntry queries
  * to `plans/<tag>/<query>_<suffix>.txt` — the before/after plan
  * evidence an optimization round commits next to its bench numbers.
  *
  * Usage: graft.tools.ExplainDump <sfDir> <outDir> <suffix> <q1,q2,...>
  *
  * The session is Bench's (`SparkEntry.localSession` at the same core
  * count) so the dumped plan is the shape the bench actually runs —
  * Plans.scala's local[8] fingerprints serve the regression gate,
  * these serve the human diff.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: graft.tools.ExplainDump <sfDir> <outDir> <suffix> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = graft.SparkEntry.localSession(graft.SparkEntry.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.split(",").foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      // formatted mode via the public API: capture explain() output
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        df.explain("formatted")
      }
      val plan = buf.toString("UTF-8")
        .replaceAll("[0-9A-Fa-f]{512,}", "<LITERAL-BLOB>")
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), plan)
      println(s"wrote $outDir/${n}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}

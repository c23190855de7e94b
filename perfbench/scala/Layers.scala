package graft.perfbench

import java.io.File

/** Per-layer metrics every workload shares: Spark execution, Catalyst
  * and `graft.Caches`, all per timed unit of the traced loop. */
object Layers {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private val Mb = 1.0 / (1 << 20)

  def spark(t: Trace, cores: Int, units: Int): Map[String, Double] = {
    val per = 1.0 / units
    val ts = t.tasks.toSeq
    val unitWall = t.spanSeconds(Timer.Span)
    val runS = ts.map(_.runMs).sum / 1000.0
    val cacheStages = t.stages.filter(_.file == "Caches.scala")
    Map(
      "spark.jobs" -> t.jobs.size * per,
      "spark.stages" -> t.stages.size * per,
      "spark.tasks" -> ts.size * per,
      "spark.driver_only_s" -> t.idleSeconds(Timer.Span) * per,
      "spark.task_run_s" -> runS * per,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9 * per,
      "spark.task_gc_s" -> ts.map(_.gcMs).sum / 1000.0 * per,
      "spark.task_deser_s" -> ts.map(_.deserMs).sum / 1000.0 * per,
      "spark.core_util" -> (if (unitWall > 0) runS / (unitWall * cores) else 0.0),
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum * Mb * per,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum * Mb * per,
      "spark.spill_mb" -> ts.map(_.spill).sum * Mb * per,
      "spark.input_rows" -> ts.map(_.inRows).sum * per,
      "spark.input_mb" -> ts.map(_.inBytes).sum * Mb * per,
      "catalyst.analysis_s" -> t.phasesMs("analysis") / 1000.0 * per,
      "catalyst.optimization_s" -> t.phasesMs("optimization") / 1000.0 * per,
      "catalyst.planning_s" -> t.phasesMs("planning") / 1000.0 * per,
      "caches.build_jobs" -> t.jobs.count(_.file == "Caches.scala") * per,
      "caches.build_s" -> cacheStages.map(s => s.completed - s.submitted).sum / 1000.0 * per)
  }

  /** Reads the call-site map: source file name -> graft layer. */
  def layerMap(f: File): Map[String, String] = {
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    """"([^"]+\.scala)"\s*:\s*"([^"]+)"""".r.findAllMatchIn(text)
      .map(m => new File(m.group(1)).getName -> m.group(2)).toMap
  }

  /** Traced jobs per layer, by the source file that launched each job. */
  def jobsByLayer(t: Trace, map: Map[String, String]): Map[String, Int] =
    t.jobs.groupBy(j => map.getOrElse(j.file, if (j.file.isEmpty) "spark" else "other"))
      .map { case (k, v) => k -> v.size }
}

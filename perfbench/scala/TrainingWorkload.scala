package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caches, SparkEntry, Tables}
import graft.dedup.Dedup
import graft.text.TextOps

/** The training-data curation chain, one pass per unit: quality gate,
  * near-duplicate survivors, decontamination, the training mix, mix
  * weights and sequence packing, each result written to parquet.
  * Caches are shared within a pass and cleared at its end. */
final class TrainingWorkload(spark: SparkSession, a: Main.Args, trace: Trace) extends Workload {
  import TrainingWorkload._

  /** Each pass writes the curated results here, overwriting the last pass. */
  private val outDir = new File(a.out, "curated")
  private var nDocs = 0L
  private var storagePeakMb = 0.0
  private var storageAfterClearMb = 0.0
  private var survivors = -1L
  private val warmup = ArrayBuffer.empty[Sample]

  def setup(): Unit = {
    nDocs = Tables.load(spark, a.data, "documents").count()
    (1 to 2).foreach(_ => warmup += unit(-1, new Timer(trace)))
  }

  def unit(i: Int, time: Timer): Sample = {
    time {
      Chain.foreach { case (name, span, fn) =>
        trace.span(span) {
          val df = trace.span("operators.call") { fn(spark, a.data) }
          trace.span("operators.exec") {
            df.write.mode("overwrite").parquet(new File(outDir, name).getPath)
          }
        }
      }
    }
    if (trace.on) storagePeakMb = math.max(storagePeakMb, storageMb(spark))
    time { Caches.clearAll(); spark.catalog.clearCache() }
    if (trace.on) storageAfterClearMb = math.max(storageAfterClearMb, settledStorageMb(spark))
    Sample("pass", "chain", time.seconds, time.jobs, nDocs)
  }

  /** Adds the DuckDB oracles next to the last pass's results, for the
    * runner's comparison (`tools/check_oracle.py`). */
  def check(samples: Seq[Sample]): Seq[String] = {
    val oracle = Chain.map(_._1).filter(SparkEntry.oracleSql.contains)
      .map(n => n -> SparkEntry.oracleSql(n)).toMap
    java.nio.file.Files.writeString(new File(outDir, "oracle_sql.json").toPath, Json.write(oracle))
    survivors = spark.read.parquet(new File(outDir, "pipeline_dedup_survivors").getPath).count()
    Nil
  }

  override def layerMetrics(t: Trace, samples: Seq[Sample]): Map[String, Double] = {
    val n = samples.size.toDouble
    Chain.map { case (_, span, _) => s"${span}_s" -> t.spanSeconds(span) / n }.toMap ++ Map(
      "operators.call_s" -> t.spanSeconds("operators.call") / n,
      "operators.call_jobs" -> t.jobsIn("operators.call") / n,
      "operators.exec_s" -> t.spanSeconds("operators.exec") / n,
      "caches.storage_peak_mb" -> storagePeakMb,
      "caches.storage_after_clear_mb" -> storageAfterClearMb,
      "dedup.survivors_ratio" -> survivors.toDouble / nDocs)
  }

  override def report: Map[String, Any] = Map(
    "docs" -> nDocs, "survivors" -> survivors, "warmup" -> warmup.map(Main.sampleJson).toList)
}

object TrainingWorkload {
  /** (registry name, span name, operator) in chain order. */
  val Chain: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("pipeline_quality_gate", "text.quality_gate", TextOps.qualityGate _),
    ("pipeline_dedup_survivors", "dedup.survivors", Dedup.pipelineSurvivors _),
    ("split_decontaminate", "dedup.decontaminate", Dedup.decontaminate _),
    ("pipeline_training_mix", "dedup.training_mix", Dedup.trainingMix _),
    ("pipeline_mix_weights", "text.mix_weights", TextOps.mixWeights _),
    ("pipeline_pack_sequences", "text.pack_sequences", TextOps.packSequences _))

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Block storage once asynchronous unpersists have landed (up to 2 s). */
  def settledStorageMb(spark: SparkSession): Double = {
    val deadline = System.nanoTime() + 2000000000L
    var mb = storageMb(spark)
    while (mb > 0 && System.nanoTime() < deadline) { Thread.sleep(50); mb = storageMb(spark) }
    mb
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.text.TextOps

/** The training curation chain reads the corpus through its shared
  * per-document caches, not by rescanning it per operator. */
class TrainingChainSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The chain's six operators, in chain order. */
  private val chain: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "qualityGate" -> TextOps.qualityGate _,
    "pipelineSurvivors" -> Dedup.pipelineSurvivors _,
    "decontaminate" -> Dedup.decontaminate _,
    "trainingMix" -> Dedup.trainingMix _,
    "mixWeights" -> TextOps.mixWeights _,
    "packSequences" -> TextOps.packSequences _)

  private def scansDocuments(df: DataFrame): Boolean =
    df.inputFiles.exists(_.contains("documents.parquet"))

  test("chain operators scan documents only in cache builds; the gate is unchanged") {
    Caches.clearAll(); spark.catalog.clearCache()
    try {
      assert(scansDocuments(Tables.documents(spark, sf)), "the probe must see a plain scan")
      val plans = chain.map { case (name, op) => name -> op(spark, sf) }
      val scanning = plans.collect { case (name, df) if scansDocuments(df) => name }
      assert(scanning.isEmpty, s"optimized plans still scan documents.parquet: ${scanning.mkString(", ")}")
      val gate = plans.toMap.apply("qualityGate").collect().toSeq
      val direct = TextOps.qualityGateCols(Tables.documents(spark, sf)).orderBy("doc_id").collect().toSeq
      assert(gate.nonEmpty && gate == direct)
    } finally { Caches.clearAll(); spark.catalog.clearCache() }
  }
}

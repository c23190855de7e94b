package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkEntry.localSession(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

class AnalyticsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q6 filter is pushed to the parquet scan") {
    val plan = operators.Analytics.q6ForecastRevenue(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      "expected pushdown of l_shipdate filter into scan")
  }

  test("approx distinct within the 3-sigma band of exact") {
    val rows = operators.Analytics.qApproxDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("within_band")) == 1L,
        s"HLL estimate off by more than 6% for ${r.getString(0)}")
    }
  }

  test("weighted sample over-represents long documents (PPS property)") {
    // priority = h/weight ranking must pull the sample's mean length
    // above the corpus mean — the property that makes it WEIGHTED
    // sampling rather than uniform; determinism is the oracle's job.
    val sampleMean = text.TextOps.sampleWeighted(spark, sf)
      .agg(avg(col("n_chars"))).head.getDouble(0)
    val corpusMean = Tables.documents(spark, sf)
      .agg(avg(col("n_chars"))).head.getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("incremental agg merge equals full recompute (re-aggregability)") {
    val merged = operators.SourceQueries.aggUpsert(spark, sf)
    val full = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("total_cents"),
        max(col("ts")).as("last_ts"))
      .orderBy("event_type")
    assert(merged.collect().toSeq == full.collect().toSeq,
      "stored-state + batch merge diverged from the full recompute")
  }
}

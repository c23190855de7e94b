package graft

import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** The table catalog: footer schemas are inferred once per file, and
  * `events.ts` loads as `timestamp` from either generator encoding. */
class TablesSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Spark jobs `body` launches on this thread, counted under a job
    * group. A marker job closes the group: the status store is fed in
    * event order, so once the marker is visible every earlier job of
    * the group is too. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime()}"
    sc.setJobGroup(group, "count jobs")
    try { body; sc.parallelize(Seq(1), 1).count() }
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (sc.statusTracker.getJobIdsForGroup(group).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    val ids = sc.statusTracker.getJobIdsForGroup(group)
    assert(ids.nonEmpty, "the marker job never reached the status store")
    ids.length - 1
  }

  /** `events.parquet` with `ts` as parquet TIMESTAMP(NANOS) — the
    * encoding Spark's writer cannot produce — under a fresh directory. */
  private def nanosEventsDir(tsNanos: Long): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos-events").toFile
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"${dir.getPath}/events.parquet"))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("event_id", 1L).append("ts", tsNanos))
    finally w.close()
    dir.getPath
  }

  test("a repeated table load reads its cached footer schema and launches no job") {
    Tables.all.foreach(t => Tables.load(spark, sf, t))
    val jobs = jobsIn {
      Tables.all.foreach { t =>
        Tables.load(spark, sf, t).schema
        Tables.schema(spark, sf, t)
      }
    }
    assert(jobs == 0, s"$jobs footer job(s) on repeated loads of ${Tables.all.size} tables")
  }

  test("events.ts loads as timestamp from both the NANOS and the MICROS encoding") {
    val nanos = 1700000000123456789L
    val nanosDir = nanosEventsDir(nanos)
    // twice each: the first load infers the footer schema, the second reads the cached one
    for (dir <- Seq(nanosDir, sf); _ <- 1 to 2) {
      val ev = Tables.load(spark, dir, "events")
      assert(ev.schema("ts").dataType == TimestampType, s"$dir: ${ev.schema("ts")}")
      assert(ev.selectExpr("ts").head().get(0) != null, s"$dir: null ts")
    }
    val micros = Tables.load(spark, nanosDir, "events").selectExpr("unix_micros(ts)").head().getLong(0)
    assert(micros == nanos / 1000, "nanos truncate to micros, as DuckDB's TIMESTAMP_NS cast does")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(nanosDir))
  }
}

package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.etl.{DlpConfig, LoadRetry, Migration, Reid}
import graft.sources.{FileMessageSink, Jdbc, ParquetWarehouseSink, WarehouseSink}

/** The reference's own program, one pass per unit: a JDBC extract of
  * `customer` from Derby, `Migration.runImport` over every table with a
  * DLP config that uses all eight transform kinds, a micro-batch load
  * of `events` through `LoadRetry.writeWithRetry` into a sink that
  * fails a seeded set of attempts, and the re-identification leg
  * (`Reid.groupBySignature`, `Reid.headerMap`, `Reid.publish`). */
final class ImportWorkload(spark: SparkSession, a: Main.Args, trace: Trace) extends Workload {
  import ImportWorkload._

  private val rnd = new scala.util.Random(a.seed)
  private val root = new File(a.out, "import")
  private val streamSrc = new File(root, "events-batches")
  private val nBatches = 3
  private var cuts = Seq.empty[Long]
  private var failFirst = Set.empty[Int]
  private var alwaysFail = 0
  private var sourceRows = Map.empty[String, Long]
  private var sourceBytes = 0L
  private var jdbcUrl = ""
  private var custBounds = (0L, 0L)
  private var passNo = 0
  private var firstDir: File = null
  private var lastDir: File = null
  private val passes = ArrayBuffer.empty[Map[String, Any]]
  private val warmup = ArrayBuffer.empty[Sample]
  private val planFailures = ArrayBuffer.empty[String]
  private val configs = DlpConfig.parse(Config).map(c => c.tableName -> c).toMap
  private val sinks = ArrayBuffer.empty[TimingSink]
  private val flakies = ArrayBuffer.empty[FlakySink]

  def setup(): Unit = {
    root.mkdirs()
    sourceRows = Tables.all.map(t => t -> Tables.load(spark, a.data, t).count()).toMap
    sourceBytes = Tables.all.map(t => new File(a.data, s"$t.parquet").length()).sum
    // seeded micro-batch boundaries over event_id (equal batches moved by
    // up to a tenth of one) and failure schedule: one batch fails its
    // first attempt, another every attempt — the same retry work per seed
    val nEv = sourceRows("events")
    cuts = (0 to nBatches).map { i =>
      if (i == 0 || i == nBatches) i * nEv / nBatches
      else i * nEv / nBatches + ((rnd.nextDouble() - 0.5) * nEv / nBatches / 5).toLong
    }
    val order = rnd.shuffle((0 until nBatches).toList)
    alwaysFail = order.head
    failFirst = Set(order(1))
    writeBatches()
    // Derby source for the JDBC extract
    jdbcUrl = Jdbc.derbyUrl()
    val cust = Tables.load(spark, a.data, "customer")
    Jdbc.createAndLoad(cust.toDF(cust.columns.map(_.toUpperCase).toIndexedSeq: _*), jdbcUrl,
      "CUSTOMER_SRC",
      """CREATE TABLE CUSTOMER_SRC (
        |  C_CUSTKEY BIGINT NOT NULL PRIMARY KEY, C_NAME VARCHAR(64),
        |  C_NATIONKEY INT, C_ACCTBAL DOUBLE, C_MKTSEGMENT VARCHAR(16))""".stripMargin)
    val b = cust.agg(min("c_custkey"), max("c_custkey")).head()
    custBounds = (b.getLong(0), b.getLong(1) + 1)
    (1 to 3).foreach(_ => warmup += unit(-1, new Timer(trace)))
  }

  private def writeBatches(): Unit = {
    streamSrc.mkdirs()
    val ev = Tables.load(spark, a.data, "events")
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      val tmp = new File(root, s"batch-tmp-$i")
      ev.filter(col("event_id") >= lo && col("event_id") < hi).coalesce(1)
        .write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new File(streamSrc, f"batch-$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 1000L)
      graft.operators.SourceQueries.deleteRecursively(tmp)
    }
  }

  def unit(i: Int, time: Timer): Sample = {
    passNo += 1
    val dir = new File(root, s"pass$passNo")
    val sink = new TimingSink(dir.getPath, trace, keepFrames = i == 0)
    val flaky = new FlakySink(new ParquetWarehouseSink(dir.getPath), failFirst, alwaysFail)
    val (jdbcRows, manifest, loaded) = time {
      val jdbcRows = trace.span("sources.jdbc") { extract(sink) }
      val manifest = trace.span("etl.import") {
        sink.parent = trace.current
        Migration.runImport(spark, a.data, Config, sink, "imported").collect()
      }
      val loaded = trace.span("etl.microbatch") { microBatchLoad(dir, flaky) }
      trace.span("etl.reid") { reid(dir) }
      (jdbcRows, manifest, loaded)
    }
    val rows = manifest.map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    val work = jdbcRows + rows.values.map { case (n, d) => n + d }.sum + sourceRows("events")
    // the first timed pass: every frame the sink wrote for a configured
    // table must still compute each transformed column
    val missing = sink.frames.toSeq.flatMap { case (table, df) =>
      configs.get(table).toSeq.flatMap(cfg => ImportWorkload.missingColumns(cfg, df))
    } ++ (if (i == 0) configs.keySet.diff(sink.frames.map(_._1).toSet).toSeq.sorted
            .map(t => s"no sink write of configured table $t") else Nil)
    planFailures ++= missing
    if (i >= 0) {
      passes += Map("dir" -> dir.getPath, "jdbc_rows" -> jdbcRows,
        "manifest" -> rows.map { case (t, (n, d)) => t -> Map("n_rows" -> n, "n_dead" -> d) },
        "stream_loaded" -> loaded)
      if (firstDir == null) firstDir = dir
      else if (lastDir != null) graft.operators.SourceQueries.deleteRecursively(lastDir)
      if (dir != firstDir) lastDir = dir
      sinks += sink; flakies += flaky
    } else graft.operators.SourceQueries.deleteRecursively(dir)
    Sample("pass", "import", time.seconds, time.jobs, work, failed = missing.nonEmpty)
  }

  private def extract(sink: WarehouseSink): Long = {
    val df = Jdbc.readPartitioned(spark, jdbcUrl, "CUSTOMER_SRC", "C_CUSTKEY",
      custBounds._1, custBounds._2, a.cores)
    val lower = df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)
    val cfg = DlpConfig.parse(Config).find(_.tableName == "customer")
    val obs = new org.apache.spark.sql.Observation(s"jdbc${System.nanoTime()}")
    sink.write(DlpConfig.applyTable(lower, cfg).observe(obs, count(lit(1)).as("n")),
      "extracted", "customer", "WRITE_TRUNCATE")
    obs.get("n").asInstanceOf[Long]
  }

  /** Loads the seeded event batches with a file-source stream whose
    * foreachBatch is the reference's retrying warehouse insert. */
  private def microBatchLoad(dir: File, flaky: FlakySink): Long = {
    val write: (DataFrame, Long) => Unit = (df, id) => {
      flaky.batch = id.toInt
      LoadRetry.writeWithRetry(df, flaky, "stream", "events_loaded",
        new File(dir, "stream/events_dead").getPath, 3)
    }
    val q = spark.readStream.schema(Tables.load(spark, a.data, "events").schema)
      .option("maxFilesPerTrigger", 1).parquet(streamSrc.getPath)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", new File(dir, "stream/_checkpoint").getPath)
      .foreachBatch(write).start()
    q.awaitTermination()
    flaky.rowsWritten
  }

  private def reid(dir: File): Unit = {
    val imported = Seq("customer", "orders", "supplier")
      .map(t => spark.read.parquet(new File(dir, s"imported/$t").getPath))
    Reid.groupBySignature(imported, 500).collect()
    val payload = Reid.headerMap(imported.head, ReidColumnMap)
      .select(to_json(struct(col("*"))).as("message"))
    Reid.publish(payload, new FileMessageSink(new File(dir, "topics").getPath), "reid")
  }

  def check(samples: Seq[Sample]): Seq[String] = Nil

  override def layerMetrics(t: Trace, samples: Seq[Sample]): Map[String, Double] = {
    val n = samples.size.toDouble
    val writes = sinks.takeRight(samples.size).flatMap(_.writes.toSeq)
    val fl = flakies.takeRight(samples.size)
    val configured = configs.keySet
    val bytes = writes.map(_.bytes).sum
    Map(
      "etl.deid_s" -> writes.filter(w => configured(w.table)).map(_.seconds).sum / n,
      "etl.deadletter_s" -> writes.filter(_.table.endsWith("_dead_letter")).map(_.seconds).sum / n,
      "etl.reid_s" -> t.spanSeconds("etl.reid") / n,
      "etl.rows_dead" -> passes.takeRight(samples.size).map(p =>
        p("manifest").asInstanceOf[Map[String, Map[String, Long]]].values.map(_("n_dead")).sum).sum / n,
      "etl.retry_attempts" -> fl.map(_.attempts).sum / n,
      "etl.batches_retried" -> fl.map(_.retried.size).sum / n,
      "etl.batches_exhausted" -> fl.map(_.exhausted).sum / n,
      "etl.retry_wait_s" -> fl.map(_.waitMs).sum / 1000.0 / n,
      "sources.sink_writes" -> writes.size / n,
      "sources.sink_write_s" -> writes.map(_.seconds).sum / n,
      "sources.write_mb" -> bytes / n / (1 << 20),
      "sources.write_amp" -> bytes / n / sourceBytes,
      "sources.jdbc_s" -> t.spanSeconds("sources.jdbc") / n,
      "streaming.batches" -> t.batchMs.size / n,
      "streaming.batch_p50_s" -> Layers.median(t.batchMs.map(_ / 1000.0).toSeq))
  }

  override def report: Map[String, Any] = Map(
    "source_rows" -> sourceRows, "cuts" -> cuts, "fail_first" -> failFirst.toSeq.sorted,
    "always_fail" -> alwaysFail, "passes" -> passes.toList, "plan_failures" -> planFailures.toList,
    "first_dir" -> Option(firstDir).map(_.getPath), "last_dir" -> Option(lastDir).map(_.getPath),
    "warmup" -> warmup.map(Main.sampleJson).toList)
}

object ImportWorkload {

  /** All eight DLP transform kinds, on the tables that carry the rows. */
  val Config: String =
    """[{"tableName": "customer", "batchSize": 500, "transforms": [
      |  {"column": "c_name", "kind": "deterministic_token", "key": "bench-token"},
      |  {"column": "c_acctbal", "kind": "bucketize", "width": 500},
      |  {"column": "c_mktsegment", "kind": "mask_chars", "keep": 2}]},
      | {"tableName": "supplier", "batchSize": 500, "transforms": [
      |  {"column": "s_name", "kind": "fpe_digits", "key": "bench-fpe"}]},
      | {"tableName": "orders", "batchSize": 1000, "transforms": [
      |  {"column": "o_orderdate", "kind": "date_shift", "contextKey": "o_custkey", "maxDays": 30},
      |  {"column": "o_orderpriority", "kind": "redact"}]},
      | {"tableName": "lineitem", "batchSize": 1000, "transforms": [
      |  {"column": "l_shipdate", "kind": "date_shift", "contextKey": "l_orderkey", "maxDays": 30},
      |  {"column": "l_extendedprice", "kind": "bucketize", "width": 1000},
      |  {"column": "l_suppkey", "kind": "crypto_hash", "key": "bench-hash"}]},
      | {"tableName": "events", "batchSize": 1000, "transforms": [
      |  {"column": "props", "kind": "replace_infotype"}]}
      |]""".stripMargin

  val TransformCount: Int = DlpConfig.parse(Config).map(_.transforms.size).sum

  val ReidColumnMap = """{"c_name": "customer_token", "c_acctbal": "balance_band"}"""

  /** The Spark function each transform kind must leave in the physical plan. */
  private def marker(t: DlpConfig.Transform): String = t match {
    case _: DlpConfig.MaskChars => "repeat("
    case _: DlpConfig.Redact | _: DlpConfig.ReplaceInfoType => "regexp_replace("
    case _: DlpConfig.CryptoHash | _: DlpConfig.DeterministicToken => "sha2("
    case _: DlpConfig.Bucketize => "floor("
    case _: DlpConfig.DateShift => "timestampadd("
    case _: DlpConfig.FpeDigits => "transform("
  }

  /** The transformed columns of `cfg` that the physical plan of `df` no
    * longer computes, one line each (a `.count()` would let Catalyst prune
    * the projection down to `struct<>`). */
  def missingColumns(cfg: DlpConfig.TableConfig, df: DataFrame): Seq[String] = {
    val projected = df.queryExecution.sparkPlan.collect {
      case p: org.apache.spark.sql.execution.ProjectExec => p.projectList
    }.flatten
    cfg.transforms.collect {
      case t if !projected.exists(e => e.name == t.column && e.sql.toLowerCase.contains(marker(t))) =>
        s"plan of ${cfg.tableName} does not compute ${t.column} with ${marker(t)}"
    }
  }
}

/** One sink write as the benchmark saw it. */
final case class SinkWrite(table: String, seconds: Double, bytes: Long)

/** Times every warehouse write of the wrapped sink and measures what it wrote. */
final class TimingSink(baseDir: String, trace: Trace, keepFrames: Boolean) extends WarehouseSink {
  val writes = ArrayBuffer.empty[SinkWrite]
  /** (table, frame) of every write, when `keepFrames`, for the plan check. */
  val frames = ArrayBuffer.empty[(String, DataFrame)]
  @volatile var parent = 0
  private val inner = new ParquetWarehouseSink(baseDir)

  override def write(df: DataFrame, dataset: String, table: String,
                     disposition: String = "WRITE_APPEND", partitionBy: Seq[String] = Nil): Unit = {
    val t0 = System.nanoTime()
    trace.spanUnder("sources.sink_write", parent) {
      inner.write(df, dataset, table, disposition, partitionBy)
    }
    val s = (System.nanoTime() - t0) / 1e9
    val bytes = dirBytes(new File(baseDir, s"$dataset/$table"))
    synchronized {
      writes += SinkWrite(table, s, bytes)
      if (keepFrames) frames += table -> df
    }
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(dirBytes).sum) else f.length()
}

/** A warehouse that fails the first insert attempt of the batches in
  * `failFirst` and every attempt of batch `alwaysFail` — the transient
  * errors the reference's insert retry policy exists for. */
final class FlakySink(inner: WarehouseSink, failFirst: Set[Int], alwaysFail: Int)
  extends WarehouseSink {
  @volatile var batch = 0
  var attempts = 0
  var waitMs = 0L
  var rowsWritten = 0L
  val retried = scala.collection.mutable.Set.empty[Int]
  var exhausted = 0
  private val perBatch = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
  private var lastFail = 0L

  override def write(df: DataFrame, dataset: String, table: String,
                     disposition: String = "WRITE_APPEND", partitionBy: Seq[String] = Nil): Unit = {
    attempts += 1
    val n = perBatch(batch) + 1
    perBatch(batch) = n
    if (n > 1) { waitMs += System.currentTimeMillis() - lastFail; retried += batch }
    if (batch == alwaysFail || (n == 1 && failFirst(batch))) {
      if (batch == alwaysFail && n == 3) exhausted += 1
      lastFail = System.currentTimeMillis()
      throw new java.io.IOException(s"transient insert error (batch $batch, attempt $n)")
    }
    val obs = new org.apache.spark.sql.Observation(s"flaky${System.nanoTime()}")
    inner.write(df.observe(obs, count(lit(1)).as("n")), dataset, table, disposition, partitionBy)
    rowsWritten += obs.get("n").asInstanceOf[Long]
  }
}

/** Checks, without a timed loop, the DLP plan check itself: it passes on
  * the configured transforms as `DlpConfig.applyTable` builds them and
  * fails on a consumer that prunes them (the negative control). */
final class SelfTest(spark: SparkSession, a: Main.Args) extends Workload {
  private var failures = Seq.empty[String]
  def setup(): Unit = {
    val frames = DlpConfig.parse(ImportWorkload.Config)
      .map(cfg => cfg -> DlpConfig.applyTable(Tables.load(spark, a.data, cfg.tableName), Some(cfg)))
    failures = frames.flatMap { case (cfg, df) => ImportWorkload.missingColumns(cfg, df) }
    // a consumer that only counts rows lets Catalyst prune every
    // transform, and the check must say so
    val pruned = frames.flatMap { case (cfg, df) => ImportWorkload.missingColumns(cfg, df.select(lit(1))) }
    if (pruned.size != ImportWorkload.TransformCount)
      failures :+= s"negative control: pruned plans reported ${pruned.size} missing columns"
  }
  def unit(i: Int, time: Timer): Sample = Sample("check", "dlp_plan", 0.0, 0L, 1L, failures.nonEmpty)
  def check(samples: Seq[Sample]): Seq[String] = failures
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog over the driver-generated parquet tables.
  *
  * Spark-native analog of the reference's schema discovery
  * (ServerUtil.java:104-137 enumerates INFORMATION_SCHEMA.TABLES): here
  * the "database" is a directory of parquet tables; reads are plain
  * `spark.read.parquet` so Catalyst gets full column pruning +
  * predicate pushdown on every query. On a real cluster the same API
  * fronts `spark.read.jdbc` (see [[graft.etl.Ingest]]).
  */
object Tables {
  /** Parquet footer schemas by table path, stamped with the file's
    * modification time and length: the first load of a file infers its
    * schema (a footer-read Spark job), every later load reads with
    * `spark.read.schema(cached)` and launches none. A rewritten file
    * carries a new stamp and is inferred again. */
  private val footerSchemas = scala.collection.concurrent.TrieMap
    .empty[String, ((Long, Long), org.apache.spark.sql.types.StructType)]

  /** A table's loaded schema — analysis only, no Spark job once its
    * footer schema is cached. */
  def schema(spark: SparkSession, sfDir: String, name: String): org.apache.spark.sql.types.StructType =
    load(spark, sfDir, name).schema

  /** All tables the test corpus ships; mirrors the reference's
    * INFORMATION_SCHEMA.TABLES result set. */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `spark.read.parquet(path)` with the footer schema inferred once
    * per (path, modification time, length). A path whose status cannot
    * be read (missing, unreachable) is read uncached, so Spark reports
    * its own error. */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val stamp =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
        Some((st.getModificationTime, st.getLen))
      } catch { case scala.util.control.NonFatal(_) => None }
    stamp match {
      case None => spark.read.parquet(path)
      case Some(s) =>
        footerSchemas.get(path) match {
          case Some((`s`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            footerSchemas.put(path, (s, df.schema))
            df
        }
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (name == "events") {
      // events.ts encoding varies by generator version: either parquet
      // TIMESTAMP(NANOS) — which Spark's vectorized reader rejects, so
      // it's read as raw nanos and truncated to micros (exactly what
      // DuckDB's TIMESTAMP_NS → TIMESTAMP cast does) — or plain
      // TIMESTAMP(MICROS), which arrives as TIMESTAMP_NTZ and is cast
      // to the session-UTC instant type the operators were written
      // against. Dispatch on the resolved type so both corpora load to
      // an identical `ts: timestamp` column. The conf is set on every
      // load, cached schema or not: the reader needs it to read the
      // NANOS column as long.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = readParquet(spark, path)
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else {
      readParquet(spark, path)
    }
  }

  /** Scale-adaptive post-scan spread (r17 optimization; guide §2.5
    * "input skew: one huge unsplittable file — repartition immediately
    * after the read"). The testdata ships each table as ONE parquet
    * file with ONE row group, so every scan is a single task and any
    * CPU-heavy per-row chain above it (n-gram hashing, md5 sketches,
    * anchor scans) runs single-threaded while the other cores idle.
    * When the table's estimated split count is below the session's
    * core count, hash-repartition on a caller-named key immediately
    * above the scan (a deterministic key, never round-robin — retried
    * tasks must reproduce the same row placement, and hash repartition
    * skips round-robin's sort-before-repartition pass); the exchange
    * carries only the pruned columns (Catalyst prunes through
    * RepartitionByExpression). At production scale the same table
    * arrives in >= cores splits and this is the identity — no exchange
    * is paid where the scan already parallelizes. */
  def spread(spark: SparkSession, dir: String, name: String, key: String): DataFrame = {
    val df = load(spark, dir, name)
    val cores = spark.sparkContext.defaultParallelism
    // Multi-file parquet DIRECTORY (the standard production layout):
    // File.length() on a directory returns the directory-ENTRY size
    // (~4 KB), which would mis-size a large table as tiny and
    // hash-repartition it down to the core count — sum the part files
    // instead, and treat an unreadable/remote path as "don't spread"
    // (r17 ADVICE).
    val bytes =
      try {
        val f = new java.io.File(s"$dir/$name.parquet")
        if (f.isDirectory) {
          val parts = f.listFiles()
          if (parts == null) Long.MaxValue else parts.filter(_.isFile).map(_.length()).sum
        } else f.length()
      }
      catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    val maxSplit =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
      catch { case scala.util.control.NonFatal(_) => 128L << 20 }
    if (bytes <= 0L || bytes / math.max(maxSplit, 1L) >= cores) df
    else df.repartition(cores, col(key))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}

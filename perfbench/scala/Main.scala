package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed unit: its kind, the verb or pass it ran, its wall time,
  * the Spark jobs it launched and the input units it took in. */
final case class Sample(kind: String, name: String, seconds: Double, jobs: Long, work: Long,
                        failed: Boolean = false)

/** A workload drives one layer mix in a closed loop: one client, the
  * next unit starts when the previous one has finished. */
trait Workload {
  /** Staging and untimed warm-up; counted in setup time. */
  def setup(): Unit
  /** Runs timed unit `i`; `time` wraps exactly the part that is timed. */
  def unit(i: Int, time: Timer): Sample
  /** Untimed correctness checks after the timed loop; returns failures. */
  def check(samples: Seq[Sample]): Seq[String]
  /** Workload-specific per-layer metrics from the traced loop. */
  def layerMetrics(trace: Trace, samples: Seq[Sample]): Map[String, Double] = Map.empty
  /** Extra facts for the runner's own checks and report. */
  def report: Map[String, Any] = Map.empty
}

/** Times the block passed to it and counts the jobs launched meanwhile. */
final class Timer(trace: Trace) {
  var seconds = 0.0
  var jobs = 0L
  def apply[A](f: => A): A = {
    trace.drain()
    val j0 = trace.jobsStarted.get
    val t0 = System.nanoTime()
    try trace.span(Timer.Span)(f)
    finally {
      seconds += (System.nanoTime() - t0) / 1e9
      trace.drain()
      jobs += trace.jobsStarted.get - j0
    }
  }
}

object Timer {
  /** The span around each timed part of a unit. */
  val Span = "bench.unit"
}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, out: String, cores: Int, layers: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("out"), m("cores").toInt, m("layers"))
  }

  def session(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Runs exactly `n` units, or else units until `seconds` have passed,
    * finishing the last unit (always at least one unit). */
  def loop(w: Workload, trace: Trace, seconds: Double, n: Option[Int]): Seq[Sample] = {
    val out = ArrayBuffer.empty[Sample]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def more: Boolean = n match {
      case Some(k) => out.size < k
      case None => out.isEmpty || System.nanoTime() < deadline
    }
    while (more) out += w.unit(out.size, new Timer(trace))
    out.toSeq
  }

  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def sampleJson(s: Sample): Map[String, Any] = Map("kind" -> s.kind, "name" -> s.name,
    "s" -> s.seconds, "jobs" -> s.jobs, "work" -> s.work, "failed" -> s.failed)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val mainMs = System.currentTimeMillis()
    val scratch = new File(a.out, "scratch").getAbsolutePath
    val spark = session(a.cores, scratch)
    val trace = new Trace(spark)
    def make(name: String, args: Args): Workload = name match {
      case "import"    => new ImportWorkload(spark, args, trace)
      case "training"  => new TrainingWorkload(spark, args, trace)
      case "selftest"  => new SelfTest(spark, args)
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (a.workload == "prime") {
      // one unit of every workload, so that the class-data archive the
      // build dumps from this JVM holds the classes every run loads
      Seq("selftest", "import", "training").foreach { name =>
        val w = make(name, a.copy(out = new File(a.out, name).getPath))
        w.setup(); w.unit(0, new Timer(trace))
        val failures = w.check(Nil)
        require(failures.isEmpty, s"$name: ${failures.mkString("; ")}")
      }
      spark.stop()
      return
    }
    val w = make(a.workload, a)
    w.setup()
    val firstUnitMs = System.currentTimeMillis()
    val plain = loop(w, trace, a.seconds, None)
    val failures = ArrayBuffer.empty[String]
    failures ++= w.check(plain)
    var layers = Map.empty[String, Double]
    var spans = Seq.empty[Map[String, Any]]
    var jobsByLayer = Map.empty[String, Int]
    if (a.trace) {
      // the traced loop replays the same units as the untraced one
      trace.startRun()
      val traced = loop(w, trace, a.seconds, Some(plain.size))
      trace.stopRun()
      failures ++= w.check(traced)
      layers = Layers.spark(trace, a.cores, traced.size) ++ w.layerMetrics(trace, traced)
      spans = trace.spansJson
      jobsByLayer = Layers.jobsByLayer(trace, Layers.layerMap(new File(a.layers)))
      // passes still get faster here, so the traced loop is compared with
      // the mean of an untraced loop before it and one after it
      val after = loop(w, trace, a.seconds, Some(plain.size))
      failures ++= w.check(after)
      val untraced = (plain.map(_.seconds).sum + after.map(_.seconds).sum) / 2
      layers += "trace.overhead_s" -> (traced.map(_.seconds).sum - untraced) / plain.size
    }
    val result = Map(
      "main_ms" -> mainMs, "first_unit_ms" -> firstUnitMs,
      "samples" -> plain.map(sampleJson), "failures" -> failures.toList,
      "per_layer" -> layers, "jobs_by_layer" -> jobsByLayer,
      "peak_rss_mb" -> vmHwmMb(), "spark_version" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "workload" -> w.report)
    Files.writeString(Paths.get(a.out, "result.json"), Json.write(result))
    if (a.trace) Files.writeString(Paths.get(a.out, "spans.json"), Json.write(spans))
    spark.stop()
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case o: Option[_] => o.fold("null")(write)
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

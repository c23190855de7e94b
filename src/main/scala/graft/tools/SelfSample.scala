package graft.tools

/** Driver-side sampling profiler for a single query: runs the named
  * SparkEntry query REPEAT times while a daemon thread samples the
  * MAIN thread's stack every ~15 ms, then prints the most frequent
  * collapsed frames — the poor man's async-profiler for a sandbox
  * where jstack/attach is blocked. Diagnostic tool only; never on a
  * query path.
  *
  * Usage: graft.tools.SelfSample <sfDir> <query> [repeat]
  */
object SelfSample {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.tools.SelfSample <sfDir> <query> [repeat]")
      sys.exit(2)
    }
    val Array(sfDir, q) = args.take(2)
    val repeat = if (args.length > 2) args(2).toInt else 3
    val spark = graft.SparkEntry.localSession(graft.SparkEntry.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val main = Thread.currentThread()
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = main.getStackTrace
          // collapse: topmost interesting frame + first graft frame
          val top = st.find(f =>
            f.getClassName.startsWith("graft") ||
            f.getClassName.startsWith("org.apache.spark") ||
            f.getClassName.startsWith("java.io") ||
            f.getClassName.startsWith("java.nio") ||
            f.getClassName.startsWith("sun.nio")).map(_.toString).getOrElse(
              st.headOption.map(_.toString).getOrElse("<empty>"))
          val g = st.find(_.getClassName.startsWith("graft"))
            .map(_.toString).getOrElse("<no-graft>")
          val key = s"$top  <<  $g"
          counts.merge(key, 1, (a, b) => a + b)
        }
        Thread.sleep(15)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    (1 to repeat).foreach { i =>
      val t0 = System.nanoTime()
      sampling = i > 1 // skip the cold first run
      graft.SparkEntry.queries(q)(spark, sfDir).count()
      sampling = false
      println(f"[selfsample] run $i ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    import scala.jdk.CollectionConverters._
    val total = counts.values.asScala.map(_.toInt).sum.max(1)
    println(s"[selfsample] $total samples (~${total * 15} ms on main)")
    counts.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, v) =>
      println(f"${v.toInt * 100.0 / total}%5.1f%% $k")
    }
    spark.stop()
  }
}

package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide checks. Each operator's function is called ONCE per
  * run, in [[sweep]]; every sweep test below asserts over what that
  * call recorded, so adding an operator adds one build to the suite,
  * not one per check. */
class RegistrySpec extends AnyFunSuite {
  import SparkTestSession._

  /** What one call of an operator's function showed at sf0.001:
    * output columns, output fields outside the compare-safe set,
    * unpartitioned windows in the optimized plan, row count — or the
    * failure of any of those steps, naming the operator. */
  private case class Swept(name: String, columns: Seq[String], unsafeFields: Seq[String],
                           globalWindows: Int, rows: Long, failure: Option[String])

  // Compare-boundary type guard (the round-1 DECIMAL and round-8/11
  // HUGEINT lessons): the oracle compare's hasher distinguishes physical types
  // even at equal values, so every query output column must stay in
  // the small closed set that DuckDB reproduces bit-identically from
  // the oracle SQL. DecimalType (untyped arithmetic), FloatType
  // (binary32 vs the oracle's DOUBLE), and narrow ints are banned.
  // tools/check_oracle.py --sweep enforces the mirror rule on the
  // DuckDB side (no HUGEINT/DECIMAL).
  private val compareSafe: Set[DataType] =
    Set(LongType, IntegerType, DoubleType, StringType,
        TimestampType, TimestampNTZType, DateType, BooleanType)

  private lazy val sweep: Seq[Swept] = {
    val swept = SparkEntry.operators.sortBy(_.name).map { op =>
      try {
        val df = op.run(spark, sf)
        val unsafe = df.schema.fields.filterNot(f => compareSafe(f.dataType))
          .map(f => s"${op.name}.${f.name}: ${f.dataType.simpleString}").toSeq
        val globals = df.queryExecution.optimizedPlan.collect {
          case w: logical.Window if w.partitionSpec.isEmpty => w
        }.size
        Swept(op.name, df.columns.toSeq, unsafe, globals, df.count(), None)
      } catch { case NonFatal(e) =>
        Swept(op.name, Nil, Nil, 0, 0L, Some(s"operator ${op.name} failed in the registry sweep: $e"))
      }
    }
    Caches.clearAll(); spark.catalog.clearCache()
    swept
  }

  private def assertSweptClean(): Unit = {
    val failures = sweep.flatMap(_.failure)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every queries key runs and every oracleSql key exists in queries") {
    assertSweptClean()
    sweep.foreach(s => assert(s.columns.nonEmpty, s"${s.name} has no columns"))
    // Silent-empty net: a refactor that turns a result empty would
    // still hash-match an empty oracle — every query must return rows
    // at sf0.001 except the documented exceptions: ingest_gap_audit's
    // injected fault lies beyond the tiny keyspace, and
    // q_spearman_rho's 2-suppliers-per-nation floor drops every
    // nation at sf0.001's 10-supplier toy scale (Widening12kSpec pins
    // BOTH the sf0.001 emptiness and the sf0.01 population, so a
    // refactor that empties it at real scale still fails loudly)
    val mayBeEmptyAtTinySf = Set("ingest_gap_audit", "q_spearman_rho")
    val empties = sweep.filter(s => s.rows == 0 && !mayBeEmptyAtTinySf(s.name)).map(_.name)
    assert(empties.isEmpty, s"unexpectedly empty at sf0.001: ${empties.mkString(", ")}")
  }

  test("no DECIMAL column crosses the compare boundary (money = long cents)") {
    // The oracle compare's result hash treats DECIMAL reprs differently across
    // engines even when values match — every output column must be a
    // non-decimal type (BIGINT scaled units / string / timestamp).
    assertSweptClean()
    val decimals = sweep.flatMap(_.unsafeFields).filter(_.contains(": decimal"))
    assert(decimals.isEmpty,
      s"decimals must not cross the oracle boundary: ${decimals.mkString(", ")}")
    val q1 = operators.Analytics.q1PricingSummary(spark, sf)
    assert(q1.schema("sum_qty").dataType.typeName == "long")
  }

  // The r9 lesson: dlp_quantile_bucketing shipped a full-table
  // unpartitioned WindowExec for a round because its plan was never
  // audited. The sweep walks EVERY SparkEntry query's optimized plan
  // and this check fails on any Window with an empty partitionSpec,
  // unless the query is whitelisted here with a justification for why
  // that window's input is provably bounded (sketch-/group-/survivor-
  // sized, never table-sized). Adding a name here requires writing the
  // bound.
  val boundedGlobalWindows: Map[String, String] = Map(
    "ann_cell_balance" -> "window input = k IVF cell rows (k fixed by config)",
    "dedup_component_stats" -> "window input = component-SIZE histogram rows (distinct sizes)",
    "dlp_quantile_bucketing" -> "window input = one row per present value bucket (domain DIV 16384 ~ 70 rows at any table size)",
    "embed_pair_hist" -> "window input = 10 histogram bucket rows (64-vector deterministic sample)",
    "ingest_gap_audit" -> "window input = one row per present 8192-key bucket (two-level gap decomposition)",
    "layout_compaction_plan" -> "window input = file inventory rows (one per planned file), not data rows",
    "pipeline_mix_weights" -> "window input = one row per corpus source (~20)",
    "q_funnel_conversion" -> "window input = funnel survivor counts per stage (3 rows)",
    "q_skyline" -> "phase-2 window input = union of 16 per-bucket Pareto frontiers (survivor-sized)",
    "text_vocab" -> "window input = top-200 vocabulary rows after TakeOrdered",
    "text_zipf_fit" -> "window input = top-50 vocabulary rows after TakeOrdered",
    "q_rfm_segments" -> "3 quartile windows, each over one row per present value bucket (the dlp_quantile_bucketing two-level decomposition, per RFM dimension)",
    "dlp_top_coding" -> "window input = one row per present value bucket (domain DIV 16384 ~ 70 rows at any table size)",
    "q_forecast_backtest" -> "window input = one row per calendar week (bounded by the time domain, never the order count)",
    "q_lorenz_topshare" -> "window input = one row per present spend bucket (domain DIV 10⁶ — the qGini two-level decomposition, global because the Lorenz cut is corpus-wide)",
    "q_abc_class" -> "window input = one row per present revenue bucket (domain DIV 10⁶ — bucket-offset cumulative for the descending ABC prefix)",
    "q_customer_lifespan" -> "window input = one row per present lifespan value (bounded by the calendar-month domain)",
    "q_weekly_volatility" -> "median rank windows over one row per calendar week (time-domain-bounded, the q_forecast_backtest frame)",
    "layout_cluster_depth" -> "sweep windows over the file-stats boundary list (two rows per file — lakehouse metadata, never data rows)",
    "q_discount_elasticity" -> "share window over one row per discount point (<= 11 rows: the whole-percent discount domain)",
    "q_runs_test" -> "median-rank and lag windows over one row per calendar day (time-domain-bounded, the q_weekly_volatility frame)",
    "q_order_linecount_dist" -> "share windows over the fan-out histogram (one row per distinct lines-per-order level, ~7 at any SF)",
    "dedup_pair_sim_histogram" -> "share window over the 21 similarity bands (candidate-sized input already reduced to a bounded histogram)",
    "q_chi_square" -> "marginal/total windows over the ~15 contingency cells (priority × status domain, SF-independent)",
    "stream_concurrency_curve" -> "cumulative depth over the gap-filled minute grid (calendar-bounded ~43k rows/month at any SF; everything fact-sized stays user-partitioned)",
    "q_ks_binned" -> "cumulative ECDF over the $100 bin axis (value-domain-bounded ~5.5k rows at any SF — the fact table reduces to bin counts first)",
    "text_heaps_curve" -> "cumulative vocabulary over the 20-row ventile axis (bucket count is a constant; the per-word first-doc reduce happens before any window)",
    "stream_shadow_diff" -> "user-share window over the session-delta histogram (disagreement-domain-bounded; the lag pass stays user-partitioned)",
    "ann_incremental_assign" -> "share windows over k IVF cell rows (k fixed by config — the ann_cell_balance bound, before AND after the batch merge)")

  test("no query ships an unpartitioned window over table-sized input") {
    assertSweptClean()
    val offenders = sweep
      .filter(s => s.globalWindows > 0 && !boundedGlobalWindows.contains(s.name)).map(_.name)
    assert(offenders.isEmpty,
      s"unpartitioned windows without a boundedness justification: ${offenders.mkString(", ")}")
    // the whitelist must not drift: every justified name must still be a query
    val stale = boundedGlobalWindows.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"whitelist names no longer in SparkEntry.queries: $stale")
  }

  test("check_plans.py GLOBAL_WINDOW_ALLOWLIST mirrors boundedGlobalWindows 1:1") {
    // the Python plan gate (tools/check_plans.py) enforces the same
    // unpartitioned-window rule against PLANS.md text; its allowlist
    // must stay exactly this spec's justified set — parse the literal
    // out of the script so neither side can drift silently.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/check_plans.py")), "UTF-8")
    val body = src.split("GLOBAL_WINDOW_ALLOWLIST = \\{")(1).split("\\}")(0)
    val pyNames = "\"([a-z0-9_]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSet
    assert(pyNames == boundedGlobalWindows.keySet,
      s"allowlist drift: onlyInPython=${(pyNames -- boundedGlobalWindows.keySet).toSeq.sorted} " +
        s"onlyInSpec=${(boundedGlobalWindows.keySet -- pyNames).toSeq.sorted}")
  }

  test("every query output schema uses only compare-safe types") {
    assertSweptClean()
    val offenders = sweep.flatMap(_.unsafeFields)
    assert(offenders.isEmpty,
      s"non-compare-safe output types: ${offenders.mkString(", ")}")
  }
}

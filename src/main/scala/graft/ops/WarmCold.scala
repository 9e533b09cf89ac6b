package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** q132: warm/cold execution profile as a relation — the cold/warm rep
  * split promoted from PLANS.md bookkeeping to a queryable output,
  * completing the self-observability family (q103 cost audit: which query
  * is expensive; q129 scan audit: why its scan is; q130 latency
  * percentiles; q132: how much of a measured time is one-time
  * JIT/codegen/IO-cache warmup vs steady state). The motivating use is
  * cross-round regression triage on a noisy host: cold times carry 3-10x
  * of compile warmup and CPU-steal exposure, so rounds should compare
  * WARM times (CLAUDE.md bench gotchas; the r9->r10 "regression" list was
  * cleared exactly this way).
  *
  * `codegen_pct` is the share of physical operators inside
  * WholeStageCodegen spans in the final (post-AQE) executed plan — the
  * "widen the codegen spans" dial made measurable per query.
  *
  * Timings are machine facts: rows-only in the driver gate; WarmColdSpec
  * pins the structure (one row per query, positive times, codegen share
  * in range and high for a simple agg, checksum equality across reps). */
object WarmCold {

  /** Count operators in/out of codegen spans. A WholeStageCodegenExec's
    * span covers its subtree up to (exclusive) InputAdapter boundaries;
    * wrapper nodes themselves are bookkeeping, not operators, so neither
    * counts toward the denominator. AQE wrappers are unwrapped to the
    * final plan; subquery plans are included. */
  def codegenCounts(plan: SparkPlan): (Int, Int) = {
    def walk(p: SparkPlan, inSpan: Boolean): (Int, Int) = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inSpan)
      // AQE stage wrappers have NO children — the materialized subtree
      // hangs off .plan, so a plain child walk would stop at every stage
      // boundary and see a 1-node plan
      case q: QueryStageExec => walk(q.plan, inSpan)
      case w: WholeStageCodegenExec => walk(w.child, inSpan = true)
      case ia: InputAdapter => walk(ia.child, inSpan = false)
      case op =>
        val self = (1, if (inSpan) 1 else 0)
        // subquery plans execute separately and are never compiled into
        // the enclosing span — they re-enter the walk OUTSIDE it
        val kids = op.children.map(walk(_, inSpan)) ++
          op.subqueries.map(walk(_, inSpan = false))
        ((self +: kids).map(_._1).sum, (self +: kids).map(_._2).sum)
    }
    walk(plan, inSpan = false)
  }

  // NOT private: the generated encoder code calls the accessors from
  // outside the companion, and a private case class drops the whole
  // toDF projection to interpreted eval (Janino CompileException spam)
  case class Prof(query_id: String, cold_ms: Long, warm_ms: Long,
                  warmup_pct: Long, codegen_pct: Long, n_ops: Long)

  /** Profile `names` (keys of SparkEntry.queries): run each twice with the
    * Bench checksum action (forcing every output column — a bare count()
    * lets pruning delete the work under test), report per-query cold/warm
    * wall ms, warmup share, and the codegen share of the executed plan.
    * Integer arithmetic throughout (half-up). */
  def warmColdProfile(spark: SparkSession, dir: String,
                      names: Seq[String]): DataFrame = {
    import spark.implicits._
    profile(spark, dir, names).toDF().orderBy(col("query_id"))
  }

  /** The profile as local rows — [[graft.ops.WarmLedger.record]] needs
    * per-query access to re-run internally-anomalous readings (warm > cold
    * in one session = a clipped rep2, physically impossible as steady
    * state) before they enter the committed cross-round baseline. */
  def profile(spark: SparkSession, dir: String,
              names: Seq[String]): Seq[Prof] =
    names.map { n =>
      def run(): (Long, SparkPlan) = {
        // the timer starts BEFORE construction, matching Bench.run1: some
        // entries run driver-side jobs while building the DataFrame (q96's
        // bloom collect, q127's first-call bucketed writes) and a profile
        // that excluded them would attribute a regression to the wrong
        // phase for exactly the queries being triaged
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(n)(spark, dir)
        val chk = graft.BenchReport.checksummed(df)
        chk.collect()
        // introspect the plan the action MATERIALIZED (AQE only collapses
        // stages into WholeStageCodegen spans at execution; an unexecuted
        // sibling plan reports zero codegen)
        (math.max(1L, (System.nanoTime() - t0) / 1000000L),
          chk.queryExecution.executedPlan)
      }
      val (cold, _) = run()
      val (warm, plan) = run()
      val (total, inGen) = codegenCounts(plan)
      Prof(n, cold, warm,
        (2 * math.max(0L, cold - warm) * 100 + cold) / (2 * cold),
        if (total == 0) 0L else (2 * inGen.toLong * 100 + total) / (2 * total),
        total.toLong)
    }

  /** The q132 driver entry: a cheap representative trio (scan+agg with
    * arg-extrema, JSON-projection, pushdown time-range) so the relation's
    * own bench cost stays ~2s — each profiled query re-executes twice.
    * Regression triage on the expensive families calls [[warmColdProfile]]
    * with those names directly — [[graft.Profile]]'s reps as a relation. */
  def q132WarmColdProfile(spark: SparkSession, dir: String): DataFrame =
    warmColdProfile(spark, dir,
      Seq("q14_props_json", "q50_arg_extrema", "q53_realtime_metrics"))
}

package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.Exchange

/** Per-query profile, split the way Structured Streaming splits a
  * trigger's `durationMs`: building the DataFrame (including the eager
  * jobs a query function runs while building it) apart from the timed
  * action (Bench's checksum).
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.Profile <sfDir> q53_realtime_metrics"
  *
  * Each query runs twice, rep 1 cold and rep 2 warm; each rep prints one
  * JSON [[Rec]] line, then the query's formatted AQE-final plan prints
  * once. */
object Profile {
  case class Rec(query: String, rep: Int, constructMs: Long, constructJobs: Int,
                 actionMs: Long, jobs: Int, stages: Int, tasks: Int,
                 codegenPct: Long, scans: Int, exchanges: Int) {
    def line: String =
      s"""{"query":"$query","rep":$rep,"construct_ms":$constructMs,""" +
        s""""construct_jobs":$constructJobs,"action_ms":$actionMs,"jobs":$jobs,""" +
        s""""stages":$stages,"tasks":$tasks,"codegen_pct":$codegenPct,""" +
        s""""scans":$scans,"exchanges":$exchanges}"""
  }

  /** Counts every job, completed stage and task of the session. */
  private class Counter extends SparkListener {
    val jobs, stages, tasks = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); tasks.addAndGet(e.stageInfo.numTasks)
    }
    def snapshot(): (Int, Int, Int) = (jobs.get, stages.get, tasks.get)
  }

  /** Every executed node of a finished plan: AQE stage wrappers hang the
    * materialized subtree off `.plan`, not off their children. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** Two [[Rec]]s (cold, warm) for query `name` and its formatted
    * AQE-final plan. */
  def run(spark: SparkSession, sfDir: String, name: String): (Seq[Rec], String) = {
    val sc = spark.sparkContext
    val counter = new Counter
    sc.addSparkListener(counter)
    try {
      def phase[T](body: => T): (T, Long, (Int, Int, Int)) = {
        ListenerBusAccess.drain(sc)
        val (j0, s0, t0) = counter.snapshot()
        val start = System.nanoTime()
        val out = body
        val ms = (System.nanoTime() - start) / 1000000L
        ListenerBusAccess.drain(sc)
        val (j1, s1, t1) = counter.snapshot()
        (out, ms, (j1 - j0, s1 - s0, t1 - t0))
      }
      val reps = (1 to 2).map { rep =>
        val (df, constructMs, (constructJobs, _, _)) =
          phase(SparkEntry.queries(name)(spark, sfDir))
        val chk = BenchReport.checksummed(df)
        val (_, actionMs, (jobs, stages, tasks)) = phase(chk.collect())
        val plan = chk.queryExecution.executedPlan
        val (total, inGen) = ops.WarmCold.codegenCounts(plan)
        val all = nodes(plan)
        val scans = all.count {
          case s: FileSourceScanExec => s.relation.fileFormat.isInstanceOf[ParquetFileFormat]
          case _ => false
        }
        (Rec(name, rep, constructMs, constructJobs, actionMs, jobs, stages, tasks,
          if (total == 0) 0L else math.round(100.0 * inGen / total), scans,
          all.count(_.isInstanceOf[Exchange])), chk)
      }
      (reps.map(_._1),
        reps.last._2.queryExecution.explainString(ExplainMode.fromString("formatted")))
    } finally sc.removeSparkListener(counter)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Profile <sfDir> <query>...")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Bench's warm-up, so rep 1 is cold the way Bench's pass is
    try { SparkEntry.entry(spark).count() } catch { case _: Throwable => }
    args.tail.foreach { name =>
      val (recs, plan) = run(spark, args.head, name)
      recs.foreach(r => println(r.line))
      println(s"== $name AQE-final plan ==\n$plan")
    }
    spark.stop()
  }
}

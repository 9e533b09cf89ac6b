package graft.quality

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

import graft.ops.Exprs

/** Quality-metrics side-sink — the engine-scope analog of the reference's
  * CloudWatch publisher + SNS alert egress
  * (`src/lambda/data_transformation/data_quality_validator.py:931-1021`
  * publish_quality_metrics/send_alert, `src/lambda/data_quality/
  * metrics_publisher.py`). Instead of pushing to a metrics service, every
  * validation run APPENDS one row to a `_metrics` parquet ledger next to the
  * data: the lakehouse-native metrics bus. Dashboards read it with partition
  * pruning on `run_id`; an external publisher can tail it; and the alert
  * decision (flag + severity) is materialized in the row itself so alert
  * routing needs no recomputation.
  *
  * Thresholds mirror the reference's defaults: alert below
  * QUALITY_THRESHOLD = 0.8 (`data_quality_validator.py:28`), severity bands
  * from `data_quality/config.py:44-57` (acceptable 0.75, auto-quarantine
  * 0.50) with the reference's LOW/MEDIUM/HIGH/CRITICAL scale.
  *
  * Scale shape: the input is always an already-aggregated one-row check
  * result (q41's 16-check suite or [[batchQualityCheck]]'s streaming
  * subset), so the sink cost is one tiny parquet append per run — metrics
  * cost never grows with corpus size.
  */
object Metrics {

  /** `QUALITY_THRESHOLD` default (`data_quality_validator.py:28`). */
  val DefaultQualityThreshold = 0.8

  /** `acceptable_threshold` / `auto_quarantine_threshold`
    * (`data_quality/config.py:46,57`). */
  val AcceptableThreshold = 0.75
  val QuarantineThreshold = 0.50

  /** Project a one-row check result (must carry `n_rows`, `passed_checks`,
    * `total_checks`, `overall_score`, `grade` — q41's output shape) onto the
    * metrics-ledger schema: the reference's five published metrics
    * (ValidationTime, OverallQualityScore as a percentage, PassedChecks,
    * FailedChecks, RecordsValidated) plus the materialized alert decision.
    *
    * `checks` names the suite's (score column, threshold) table
    * ([[BatchChecks.SuiteChecks]] for q41, [[StreamingChecks]] for the
    * micro-batch subset) and lands as a `check_results` array of
    * (check_name, score, threshold, passed) structs — the engine analog of
    * the reference's one-metric-per-check dimensional publish
    * (`metrics_publisher.py`, per-check publish at
    * `data_quality_validator.py:931-989`), so a dashboard can facet the
    * ledger on check_name without re-running the suite. */
  def metricsRow(check: DataFrame, runId: String, validationTimeS: Double,
                 threshold: Double = DefaultQualityThreshold,
                 checks: Seq[(String, Double)] = Nil): DataFrame = {
    val checkResults =
      if (checks.isEmpty)
        array().cast("array<struct<check_name:string,score:double," +
          "threshold:double,passed:boolean>>")
      else array(checks.map { case (name, thr) =>
        struct(
          lit(name.stripSuffix("_score")).as("check_name"),
          col(name).cast("double").as("score"),
          lit(thr).as("threshold"),
          (col(name) >= thr).as("passed"))
      }: _*)
    check.select(
      lit(runId).as("run_id"),
      Exprs.dround(lit(validationTimeS), 3).as("validation_time_s"),
      col("n_rows").cast("long").as("records_validated"),
      col("passed_checks").cast("long").as("passed_checks"),
      (col("total_checks") - col("passed_checks")).cast("long")
        .as("failed_checks"),
      col("overall_score"),
      Exprs.dround(col("overall_score") * 100, 4).as("overall_score_pct"),
      col("grade"),
      (col("overall_score") < threshold).as("quality_alert"),
      when(col("overall_score") < QuarantineThreshold, "CRITICAL")
        .when(col("overall_score") < AcceptableThreshold, "HIGH")
        .when(col("overall_score") < threshold, "MEDIUM")
        .otherwise("NONE").as("alert_severity"),
      checkResults.as("check_results"))
  }

  /** Append one run's metrics row to the `_metrics` ledger under its own
    * `run_id=` partition through [[graft.ops.Layouts.replacePartitions]]
    * (owned: that partition; no seed), so a re-run (a streaming batch
    * replayed after a crash between sink commit and checkpoint commit, or
    * a batch job retried) replaces its own row instead of double-appending
    * it. */
  def writeMetrics(check: DataFrame, metricsDir: String, runId: String,
                   validationTimeS: Double,
                   threshold: Double = DefaultQualityThreshold,
                   checks: Seq[(String, Double)] = Nil): Unit =
    graft.ops.Layouts.replacePartitions(
      metricsRow(check, runId, validationTimeS, threshold, checks),
      metricsDir, Seq("run_id"),
      owned = Seq(ExternalCatalogUtils.getPartitionPathString("run_id", runId)))

  def readMetrics(spark: SparkSession, metricsDir: String): DataFrame =
    spark.read.parquet(metricsDir)

  /** Gap-based alert suppression (`alerting.py:79-125`
    * AlertSuppressionManager): emit an alert, then suppress every same-key
    * alert within `windowS` of the last EMITTED one; the first alert at
    * least `windowS` after it emits and restarts the window. This is NOT a
    * fixed-bucket dedup (three alerts 20 min apart under a 30-min window
    * must emit #1 and #3; a bucket grid gets that wrong at edges) — the
    * state is "timestamp of last emitted", which only an in-order pass
    * carries. Keys are (alert_type, component, severity), matching the
    * reference's suppression key.
    *
    * Scale shape: flatMapGroups per key — alerts are cadence-bounded
    * (thousands per key-month at worst, nothing like corpus scale), so the
    * per-group sort is safely partition-local and the shuffle is one hash
    * exchange on the key. Input columns: (alert_type, component, severity,
    * ts_s); output adds `emitted` and `suppressed_since_last` — each
    * EMITTED alert reports how many same-key alerts were suppressed since
    * the previous emission (the counter the reference returns with every
    * sent alert, `alerting.py:108-111` get_suppressed_count; it resets on
    * emit and accumulates across any gap, so a quiet period does not wipe
    * an unreported suppression tally). Suppressed rows carry NULL. */
  def suppressAlerts(alerts: DataFrame, windowS: Long = 1800L): DataFrame = {
    val spark = alerts.sparkSession
    import spark.implicits._
    alerts
      .select(col("alert_type"), col("component"), col("severity"),
        col("ts_s"))
      .as[(String, String, String, Long)]
      .groupByKey { case (t, c, s, _) => (t, c, s) }
      .flatMapGroups { (key: (String, String, String),
                        it: Iterator[(String, String, String, Long)]) =>
        val (t, c, s) = key
        val sorted = it.map(_._4).toArray
        java.util.Arrays.sort(sorted)
        var lastEmit = Long.MinValue
        var suppressedSince = 0L
        sorted.iterator.map { ts =>
          val emit = lastEmit == Long.MinValue || ts - lastEmit >= windowS
          if (emit) {
            val reported = suppressedSince
            suppressedSince = 0L
            lastEmit = ts
            (t, c, s, ts, true, Some(reported))
          } else {
            suppressedSince += 1
            (t, c, s, ts, false, Option.empty[Long])
          }
        }
      }
      .toDF("alert_type", "component", "severity", "ts_s", "emitted",
        "suppressed_since_last")
  }

  /** q125: hourly quality alerting with gap-based suppression, end-to-end
    * and ORACLE-CHECKED — per-(event_type, hour) average quality over the
    * planted-corruption corpus, an alert wherever the hourly average drops
    * below a dyadic θ (27/32), and [[suppressAlerts]] (window = 2 h) deciding which
    * alerts actually emit.
    *
    * Why the stateful pass has an exact SQL oracle: alert timestamps sit on
    * a FIXED hourly grid and the window is exactly two grid steps, so
    * "emit, then suppress within 2 h of the last emitted" collapses to
    * "odd positions within each island of consecutive alert-hours"
    * (within an island successive alerts are 1 h apart — the emit cadence
    * is forced to every 2nd — and across islands every gap is ≥ 2 h, so an
    * island always starts emitted). DuckDB replays that as gaps-and-islands
    * (`hour − row_number()`), assuming nothing about the flatMapGroups
    * implementation it checks.
    *
    * Scale shape: one corpus scan → (type, hour) hash aggregation with
    * map-side combine; the alert relation is hours-scale, so the stateful
    * suppression pass costs nothing at any corpus size. */
  def q125AlertSuppression(spark: SparkSession, dir: String): DataFrame = {
    val scored = Quality.scoreColumns()
      .foldLeft(Quarantine.plantCorruption(graft.Tables.events(spark, dir))) {
        case (df, (name, c)) => df.withColumn(name, c)
      }
    val hourly = scored
      .groupBy(col("event_type"),
        expr("ts_ns div 1000000000 div 3600").as("hour"))
      .agg(Exprs.dround(
        Exprs.sumExact(col("quality_score"), 6) / count(lit(1)), 6)
        .as("avg_score"))
    val alerts = hourly.filter(col("avg_score") < 0.84375)
      .select(lit("hourly_quality").as("alert_type"),
        col("event_type").as("component"),
        lit("HIGH").as("severity"),
        (col("hour") * 3600L).as("ts_s"))
    suppressAlerts(alerts, windowS = 7200L)
      .groupBy(col("component")).agg(
        count(lit(1)).as("n_alert_hours"),
        count(when(col("emitted"), 1)).as("n_emitted"),
        count(when(!col("emitted"), 1)).as("n_suppressed"),
        min(col("ts_s")).as("first_alert_ts"),
        max(when(col("emitted"), col("ts_s"))).as("last_emitted_ts"),
        // per-emission counters (NULL on suppressed rows): their sum can
        // undershoot n_suppressed by the unreported tail after the last
        // emission — a real discriminator the oracle replays exactly
        sum(col("suppressed_since_last")).as("reported_suppressed"),
        max(col("suppressed_since_last")).as("max_reported_suppressed"))
      .orderBy(col("component"))
  }

  val oracle: Map[String, String] = Map(
    "q125_alert_suppression" ->
      s"""WITH dirty AS (
        |  SELECT * REPLACE (
        |    CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
        |    CASE WHEN event_id % 34 = 0 THEN NULL ELSE user_id END AS user_id,
        |    CASE WHEN event_id % 51 = 0 THEN 'bogus' ELSE event_type END
        |      AS event_type,
        |    CASE WHEN event_id % 68 = 0 THEN NULL ELSE props END AS props)
        |  FROM events),
        |${Quality.scoreCte(from = "dirty")},
        |hourly AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS hour,
        |    round(sum(quality_score::DECIMAL(25,6))::DOUBLE / count(*), 6)
        |      AS avg_score
        |  FROM scored GROUP BY 1, 2),
        |alerts AS (
        |  SELECT event_type AS component, hour
        |  FROM hourly WHERE avg_score < 0.84375),
        |-- fixed hourly cadence + 2h window: gap-based suppression ==
        |-- odd positions within islands of consecutive alert-hours
        |isl AS (
        |  SELECT component, hour,
        |    hour - row_number() OVER (PARTITION BY component ORDER BY hour)
        |      AS island
        |  FROM alerts),
        |mark AS (
        |  SELECT component, hour,
        |    row_number() OVER (PARTITION BY component, island ORDER BY hour)
        |      % 2 = 1 AS emitted
        |  FROM isl),
        |-- each emitted alert reports the suppressed count since the
        |-- previous emission: cumulative-suppressed minus its value at the
        |-- previous emitted row (the counter resets on emit, accumulates
        |-- across island gaps)
        |counted AS (
        |  SELECT component, hour, emitted,
        |    sum(CASE WHEN emitted THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY component ORDER BY hour
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cumsupp
        |  FROM mark),
        |rep AS (
        |  SELECT component,
        |    (cumsupp - coalesce(
        |      lag(cumsupp) OVER (PARTITION BY component ORDER BY hour),
        |      0))::BIGINT AS since_last
        |  FROM counted WHERE emitted),
        |ragg AS (
        |  SELECT component, sum(since_last)::BIGINT AS reported_suppressed,
        |    max(since_last)::BIGINT AS max_reported_suppressed
        |  FROM rep GROUP BY 1),
        |magg AS (
        |  SELECT component, count(*) AS n_alert_hours,
        |    count(CASE WHEN emitted THEN 1 END) AS n_emitted,
        |    count(CASE WHEN NOT emitted THEN 1 END) AS n_suppressed,
        |    min(hour * 3600)::BIGINT AS first_alert_ts,
        |    max(CASE WHEN emitted THEN hour * 3600 END)::BIGINT
        |      AS last_emitted_ts
        |  FROM mark GROUP BY 1)
        |SELECT m.component, m.n_alert_hours, m.n_emitted, m.n_suppressed,
        |  m.first_alert_ts, m.last_emitted_ts,
        |  r.reported_suppressed, r.max_reported_suppressed
        |FROM magg m JOIN ragg r USING (component)
        |ORDER BY m.component""".stripMargin)

  /** Streaming-side quality check over a micro-batch's columns (`event_id`,
    * `ts`, `user_id`, `event_type`, `value` — the poll-source schema): the
    * ingest-time subset of q41's suite, mirroring the reference's
    * transformation-side validation that runs per file before the full
    * batch validator (completeness / validity / uniqueness,
    * `data_quality_validator.py:80-374` shapes). One single-row aggregation
    * per micro-batch — conditional counts only, no windows, no shuffle
    * beyond the 1-row combine. */
  /** The streaming subset's (score column, threshold) table — the
    * micro-batch counterpart of [[BatchChecks.SuiteChecks]]. */
  val StreamingChecks: Seq[(String, Double)] = Seq(
    "completeness_score" -> 0.8, "validity_score" -> 0.9,
    "uniqueness_score" -> 0.95)

  def batchQualityCheck(batch: DataFrame): DataFrame = {
    val validTypes = Seq("click", "view", "purchase", "signup", "error")
    val n = count(lit(1))
    def cnt(c: org.apache.spark.sql.Column) = count(when(c, 1))
    def r6(c: org.apache.spark.sql.Column) = Exprs.dround(c, 6)
    // streaming DOES deliver empty micro-batches: every ratio here is 0/0
    // there — a DIVIDE_BY_ZERO error under ANSI mode, and a NULL that
    // would cascade into overall_score/grade/quality_alert otherwise
    // (alert routing then sees neither true nor false). The guard makes
    // an empty batch vacuously pass every check; CASE short-circuits, so
    // the division never evaluates when n = 0.
    def guard(c: org.apache.spark.sql.Column) =
      when(n > 0, c).otherwise(lit(1.0))
    val agged = batch.agg(
      n.as("n_rows"),
      r6(guard((count(col("user_id")) + count(col("value")) + count(col("ts"))) /
        (lit(3) * n))).as("completeness_score"),
      r6(guard(greatest(lit(0.0), lit(1.0) -
        (cnt(col("value") < 0 || col("value") > 1000) +
         cnt(col("event_type").isNotNull &&
             !col("event_type").isin(validTypes: _*))) / (lit(2) * n))))
        .as("validity_score"),
      r6(guard(countDistinct(col("event_id")) / n)).as("uniqueness_score"))
    val scoreCols = StreamingChecks
    val passed = scoreCols.map { case (c, thr) => (col(c) >= thr).cast("int") }
      .reduce(_ + _)
    val overall = Exprs.dround(
      scoreCols.map { case (c, _) => col(c) }.reduce(_ + _) / lit(3.0), 6)
    agged
      .withColumn("passed_checks", passed)
      .withColumn("total_checks", lit(3))
      .withColumn("overall_score", overall)
      .withColumn("grade", Exprs.gradeOf(col("overall_score")))
  }
}

package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Exprs, Pct}

/** Core analytics operators, re-expressed Spark-first over the driver test
  * tables. Each query mirrors the *shape* of one of the reference's canonical
  * Athena queries (reference `sql/athena/04_analytical_queries.sql`,
  * `05_analytical_queries_part2.sql`) and carries an exact DuckDB oracle in
  * [[CoreQueries.oracle]].
  *
  * Determinism rules (DuckDB hash-compare parity):
  *   - every aggregate double is `Exprs.dround(...)`-ed identically on both sides
  *   - every output has a total ORDER BY on non-null keys
  *   - timestamps are emitted as formatted strings (never raw timestamp values)
  *   - conditional counts use `count(CASE WHEN ...)` (BIGINT both sides), not
  *     `sum(CASE ...)` (HUGEINT in DuckDB)
  */
object CoreQueries {

  /** Q1-shape: one-row flight-status overview → global multi-aggregate with
    * conditional aggregation (reference 04:13-74). */
  def q01Overview(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.agg(
      count(lit(1)).as("total_events"),
      countDistinct(col("user_id")).as("n_users"),
      Exprs.avgExact2(col("value"), 4).as("avg_value"),
      Exprs.dround(min(col("value")), 2).as("min_value"),
      Exprs.dround(max(col("value")), 2).as("max_value"),
      count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
      count(when(col("event_type") === "error", 1)).as("n_error"),
      Exprs.dround(Exprs.sumExact2(when(col("event_type") === "purchase", col("value")).otherwise(0.0)), 2)
        .as("purchase_value"),
      Exprs.avgExact2(when(col("event_type") === "purchase", col("value")), 4)
        .as("avg_purchase_value"))
  }

  /** Q2-shape: CASE banding + groupBy + percent-of-total + exact percentile
    * (reference 04:82-146, altitude-band distribution). The percent-of-total
    * uses a broadcast 1-row global aggregate instead of an empty-partition
    * window so the plan has no single-partition window at scale. */
  def q02BandDistribution(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val banded = li.withColumn("price_band",
      when(col("l_extendedprice") < 1000, "XS")
        .when(col("l_extendedprice") < 5000, "S")
        .when(col("l_extendedprice") < 20000, "M")
        .when(col("l_extendedprice") < 50000, "L")
        .otherwise("XL"))
    // exact order-statistics percentiles (Pct): one pass per percentile
    // column — engine-version robust where the percentile/quantile_cont
    // pairing is only empirically bitwise-equal. Two column-pruned passes
    // read DISJOINT column bytes in a columnar format, so they are not
    // double I/O. A single-scan stacked form measured 1.6x SLOWER warm at
    // sf0.1 (2.6 s vs 1.6 s — the explode doubles the rows through the
    // grid aggregation), and a histogram-selection form for the p95 column
    // measured slower too (2.37 s vs 2.12 s warm, 25 vs 13 jobs); both were
    // retired — numbers in PLANS.md "Retired measurement harnesses" and
    // r22 "Rejected with numbers".
    val pcts = Pct.relation(banded, Seq("price_band"), "l_discount",
        Seq("mdisc" -> 0.5))
      .join(Pct.relation(banded, Seq("price_band"), "l_extendedprice",
        Seq("p95p" -> 0.95)), "price_band")
    val perBand = banded.groupBy(col("price_band")).agg(
      count(lit(1)).as("n"),
      Exprs.dround(avg(col("l_quantity")), 4).as("avg_qty"))
    // r21: total derives from the per-band counts (sum of the 5-row
    // aggregate, stage-reused with the perBand branch) instead of a third
    // column-pruned lineitem scan — one fewer scan + aggregation job,
    // same exact integer, same broadcast 1-row combine shape (J5)
    val total = perBand.agg(sum(col("n")).as("total_n"))
    perBand.join(broadcast(pcts), "price_band")
      .crossJoin(broadcast(total))
      .select(col("price_band"), col("n"), col("avg_qty"),
        Exprs.dround(col("mdisc"), 6).as("median_discount"),
        Exprs.dround(col("p95p"), 4).as("p95_price"),
        Exprs.pctOf(col("n"), col("total_n")).as("pct"))
      .orderBy(col("price_band"))
  }

  private def hourStr(ts: org.apache.spark.sql.Column) =
    date_format(date_trunc("hour", ts), "yyyy-MM-dd HH:mm:ss")

  /** Q3-shape: hourly trend aggregation with LIMIT 168 (reference 04:154-217). */
  def q03HourlyTrend(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(hourStr(col("ts")).as("hour"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        Exprs.avgExact2(col("value"), 4).as("avg_value"),
        count(when(col("event_type") === "error", 1)).as("n_errors"),
        Exprs.dround(count(when(col("event_type") === "error", 1)) / count(lit(1)), 6)
          .as("error_rate"))
      .orderBy(col("hour"))
      .limit(168)
  }

  /** Q4-shape: peak-traffic ranking — hourly agg → RANK + centered moving
    * average (ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) → top-20
    * (reference 04:225-322). */
  def q04PeakTraffic(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val hourly = e.groupBy(hourStr(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"), Exprs.avgExact2(col("value"), 4).as("avg_value"))
    val byHour = Window.orderBy(col("hour"))
    val byTraffic = Window.orderBy(col("n").desc, col("hour"))
    hourly
      .withColumn("moving_avg_n", Exprs.dround(avg(col("n")).over(byHour.rowsBetween(-2, 2)), 4))
      .withColumn("traffic_rank", rank().over(byTraffic))
      .filter(col("traffic_rank") <= 20)
      .orderBy(col("traffic_rank"))
  }

  /** Q5-shape: corridor analysis — grid-cell aggregation + HAVING + RANK +
    * intensity tiers (reference 04:330-475). Grid = floor(value/25)*25. */
  def q05Corridors(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val cells = e
      .withColumn("cell", (floor(col("value") / 25) * 25).cast("double"))
      .groupBy(col("cell"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        Exprs.avgExact2(col("value"), 4).as("avg_value"))
      .filter(col("n") >= 5)
    val w = Window.orderBy(col("n").desc, col("cell"), col("event_type"))
    cells
      .withColumn("corridor_rank", rank().over(w))
      .withColumn("intensity",
        when(col("n") >= 100, "HIGH").when(col("n") >= 30, "MEDIUM").otherwise("LOW"))
      .filter(col("corridor_rank") <= 25)
      .orderBy(col("corridor_rank"))
  }

  /** Q6-shape: statistical anomaly detection — 1-row global stats (avg, stddev,
    * exact p05/p95) broadcast-cross-joined onto every row, z-score + flags,
    * top-100 (reference 04:483-606, J4 + Q8). */
  def q06AnomalyZscore(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    // Order-independent moments: decimal sums (exact on 2-dp data) so m/sd are
    // bit-identical run-to-run and engine-to-engine; stddev_samp(double) is not.
    val d = col("value").cast("decimal(18,2)")
    val stats = e.agg(
        Exprs.sumExact2(col("value")).as("sx"),
        sum(d * d).cast("double").as("sxx"),
        count(col("value")).as("cnt"))
      // p05/p95 via exact order statistics (Pct): the value grid is bounded
      // (2dp), so the extra pass is a hash agg + one grid-sized window
      .crossJoin(Pct.relation(e, Nil, "value",
        Seq("p05" -> 0.05, "p95" -> 0.95)))
      .select(
        (col("sx") / col("cnt")).as("m"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("cnt")) / (col("cnt") - 1)).as("sd"),
        col("p05"), col("p95"))
    e.crossJoin(broadcast(stats))
      .withColumn("z", (col("value") - col("m")) / col("sd"))
      .withColumn("anomaly_flags", concat_ws(",",
        when(abs(col("z")) > 3, "EXTREME_Z"),
        when(col("value") > col("p95"), "GT_P95"),
        when(col("value") < col("p05"), "LT_P05")))
      .filter(abs(col("z")) > 2 || col("value") > col("p95") || col("value") < col("p05"))
      .select(
        col("event_id"), col("event_type"),
        Exprs.dround(col("value"), 2).as("value"),
        Exprs.dround(col("z"), 4).as("z_score"),
        col("anomaly_flags"))
      .orderBy(abs(col("z")).desc, col("event_id"))
      .limit(100)
  }

  /** DuckDB oracles — same table names, same column aliases, same rounding. */
  val oracle: Map[String, String] = Map(
    "q01_overview" ->
      """SELECT count(*) AS total_events,
        |  count(DISTINCT user_id) AS n_users,
        |  round(sum(value::DECIMAL(18,2))::DOUBLE / count(value), 4) AS avg_value,
        |  round(min(value), 2) AS min_value,
        |  round(max(value), 2) AS max_value,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
        |  round(sum((CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END)::DECIMAL(18,2))::DOUBLE, 2) AS purchase_value,
        |  round(sum((CASE WHEN event_type = 'purchase' THEN value END)::DECIMAL(18,2))::DOUBLE
        |        / count(CASE WHEN event_type = 'purchase' THEN value END), 4) AS avg_purchase_value
        |FROM events""".stripMargin,

    "q02_band_distribution" ->
      s"""WITH banded AS (
        |  SELECT CASE WHEN l_extendedprice < 1000 THEN 'XS'
        |              WHEN l_extendedprice < 5000 THEN 'S'
        |              WHEN l_extendedprice < 20000 THEN 'M'
        |              WHEN l_extendedprice < 50000 THEN 'L'
        |              ELSE 'XL' END AS price_band,
        |         l_quantity, l_discount, l_extendedprice
        |  FROM lineitem),
        |${Pct.ctes("pd", "banded", Seq("price_band"), "l_discount",
            Seq("mdisc" -> 0.5))},
        |${Pct.ctes("pp", "banded", Seq("price_band"), "l_extendedprice",
            Seq("p95p" -> 0.95))},
        |agg AS (
        |  SELECT price_band, count(*) AS n,
        |    round(avg(l_quantity) * 10000) / 10000 AS avg_qty,
        |    round(100.0 * count(*) / (SELECT count(*) FROM banded) * 10000)
        |      / 10000 AS pct
        |  FROM banded GROUP BY price_band)
        |SELECT price_band, n, avg_qty,
        |  round(mdisc * 1000000) / 1000000 AS median_discount,
        |  round(p95p * 10000) / 10000 AS p95_price, pct
        |FROM agg JOIN pd USING (price_band) JOIN pp USING (price_band)
        |ORDER BY price_band""".stripMargin,

    "q03_hourly_trend" ->
      """SELECT strftime(date_trunc('hour', ts)::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS hour,
        |  count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  round(sum(value::DECIMAL(18,2))::DOUBLE / count(value), 4) AS avg_value,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
        |  round(count(CASE WHEN event_type = 'error' THEN 1 END) / count(*), 6) AS error_rate
        |FROM events GROUP BY 1 ORDER BY hour LIMIT 168""".stripMargin,

    "q04_peak_traffic" ->
      """WITH hourly AS (
        |  SELECT strftime(date_trunc('hour', ts)::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS hour,
        |         count(*) AS n,
        |         round(sum(value::DECIMAL(18,2))::DOUBLE / count(value), 4) AS avg_value
        |  FROM events GROUP BY 1),
        |ranked AS (
        |  SELECT hour, n, avg_value,
        |    round(avg(n) OVER (ORDER BY hour ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 4)
        |      AS moving_avg_n,
        |    rank() OVER (ORDER BY n DESC, hour) AS traffic_rank
        |  FROM hourly)
        |SELECT * FROM ranked WHERE traffic_rank <= 20 ORDER BY traffic_rank""".stripMargin,

    "q05_corridors" ->
      """WITH cells AS (
        |  SELECT (floor(value / 25) * 25)::DOUBLE AS cell, event_type,
        |         count(*) AS n, count(DISTINCT user_id) AS n_users,
        |         round(sum(value::DECIMAL(18,2))::DOUBLE / count(value), 4) AS avg_value
        |  FROM events GROUP BY 1, 2 HAVING count(*) >= 5),
        |ranked AS (
        |  SELECT *, rank() OVER (ORDER BY n DESC, cell, event_type) AS corridor_rank,
        |    CASE WHEN n >= 100 THEN 'HIGH' WHEN n >= 30 THEN 'MEDIUM' ELSE 'LOW' END AS intensity
        |  FROM cells)
        |SELECT cell, event_type, n, n_users, avg_value, corridor_rank, intensity
        |FROM ranked WHERE corridor_rank <= 25 ORDER BY corridor_rank""".stripMargin,

    "q06_anomaly_zscore" ->
      s"""WITH s0 AS (
        |  SELECT sum(value::DECIMAL(18,2))::DOUBLE AS sx,
        |         sum((value::DECIMAL(18,2)) * (value::DECIMAL(18,2)))::DOUBLE AS sxx,
        |         count(value) AS cnt
        |  FROM events),
        |${Pct.ctes("pq", "events", Nil, "value",
            Seq("p05" -> 0.05, "p95" -> 0.95))},
        |stats AS (
        |  SELECT sx / cnt AS m, sqrt((sxx - sx * sx / cnt) / (cnt - 1)) AS sd, p05, p95
        |  FROM s0, pq)
        |SELECT event_id, event_type, round(value, 2) AS value,
        |  round((value - m) / sd, 4) AS z_score,
        |  concat_ws(',',
        |    CASE WHEN abs((value - m) / sd) > 3 THEN 'EXTREME_Z' END,
        |    CASE WHEN value > p95 THEN 'GT_P95' END,
        |    CASE WHEN value < p05 THEN 'LT_P05' END) AS anomaly_flags
        |FROM events CROSS JOIN stats
        |WHERE abs((value - m) / sd) > 2 OR value > p95 OR value < p05
        |ORDER BY abs((value - m) / sd) DESC, event_id LIMIT 100""".stripMargin,
  )
}

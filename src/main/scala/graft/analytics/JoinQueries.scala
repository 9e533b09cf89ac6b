package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Exprs

/** Join-centric and rollup operators (SURVEY.md §2.3 J1-J5, §2.4 A5-A11,
  * §2.5 W2/W7), re-expressed over the driver test tables.
  *
  * Scale notes (100 TB design):
  *   - nation/region/supplier are true dimensions → always `broadcast()`
  *     (the reference's aircraft_reference / airports tables, J1/J2).
  *   - customer is a midsize dimension: left to Catalyst/AQE, which picks
  *     broadcast at small SF and shuffled hash join at scale — no hint that
  *     would force a 100 GB broadcast.
  *   - the range join (q08) broadcasts the small side and keeps the range
  *     predicate as a bounding prefilter, exactly the reference's
  *     ±1°-bounding-box-then-distance shape (05:191-195).
  */
object JoinQueries {

  /** Q7-shape (reference 05:13-137): fact ⋈ dimensions → per-group agg →
    * multiple rank windows → composite score → top-N. */
  def q07SegmentPerformance(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val joined = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
    val perNation = joined.groupBy(col("r_name"), col("n_name")).agg(
      count(lit(1)).as("n_orders"),
      countDistinct(col("o_custkey")).as("n_customers"),
      Exprs.dround(Exprs.sumExact(col("o_totalprice"), 6), 2).as("total_value"),
      Exprs.avgExact(col("o_totalprice"), 6, 4).as("avg_value"),
      count(when(col("o_orderstatus") === "F", 1)).as("n_finished"))
    val byValue = Window.orderBy(col("total_value").desc, col("n_name"))
    val byVolume = Window.orderBy(col("n_orders").desc, col("n_name"))
    perNation
      .withColumn("value_rank", rank().over(byValue))
      .withColumn("volume_rank", rank().over(byVolume))
      .withColumn("fill_rate", Exprs.dround(col("n_finished") / col("n_orders"), 4))
      .filter(col("value_rank") <= 50)
      .orderBy(col("value_rank"))
  }

  /** Q8-shape (reference 05:145-308 spatial join, J2+J3): range join with a
    * cheap bounding prefilter, then top-1-nearest per left row (the QUALIFY
    * ROW_NUMBER()=1 idiom, 07:266), then per-right-side aggregation.
    * customer×supplier on |acctbal delta| ≤ 100 stands in for the ±1° box. */
  def q08NearestMatch(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val dist = abs(col("c_acctbal") - col("s_acctbal"))
    val paired = c.join(broadcast(s),
        col("s_acctbal").between(col("c_acctbal") - 100, col("c_acctbal") + 100))
      .withColumn("dist", dist)
    val byNearest = Window.partitionBy(col("c_custkey"))
      .orderBy(col("dist"), col("s_suppkey"))
    val nearest = paired
      .withColumn("rn", row_number().over(byNearest))
      .filter(col("rn") === 1)
    nearest.groupBy(col("s_suppkey"), col("s_name")).agg(
        count(lit(1)).as("n_customers"),
        Exprs.avgExact(col("dist"), 2, 4).as("avg_dist"),
        Exprs.dround(min(col("dist")), 2).as("min_dist"))
      .filter(col("n_customers") >= 3)
      .orderBy(col("n_customers").desc, col("s_suppkey"))
      .limit(25)
  }

  /** Q9-shape (reference 05:316-466): time-of-day × day-type behavioral
    * rollup with ranking. Weekend test is engine-specific DOW — Spark
    * dayofweek() is 1=Sun..7=Sat; oracle uses DuckDB dow 0=Sun..6=Sat. */
  def q09TemporalPatterns(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val hod = hour(col("ts"))
    val bucketed = e
      .withColumn("day_type",
        when(dayofweek(col("ts")).isin(1, 7), "weekend").otherwise("weekday"))
      .withColumn("period",
        when(hod < 6, "night").when(hod < 12, "morning")
          .when(hod < 18, "afternoon").otherwise("evening"))
    val agg = bucketed.groupBy(col("day_type"), col("period")).agg(
      count(lit(1)).as("n"),
      countDistinct(col("user_id")).as("n_users"),
      Exprs.avgExact2(col("value"), 4).as("avg_value"),
      count(when(col("event_type") === "purchase", 1)).as("n_purchases"))
    agg
      .withColumn("activity_rank",
        rank().over(Window.orderBy(col("n").desc, col("day_type"), col("period"))))
      .withColumn("purchase_rate", Exprs.dround(col("n_purchases") / col("n"), 6))
      .orderBy(col("activity_rank"))
  }

  /** Q10-shape (reference 05:474-657): daily quality trend — day agg → LAG
    * delta → weighted health score → letter grade. */
  def q10QualityTrend(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val daily = e.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day")).agg(
      count(lit(1)).as("n"),
      Exprs.dround(count(when(col("event_type") === "error", 1)) / count(lit(1)), 6)
        .as("error_rate"),
      Exprs.avgExact2(col("value"), 4).as("avg_value"),
      countDistinct(col("user_id")).as("n_users"))
    val byDay = Window.orderBy(col("day"))
    val health = Exprs.dround(lit(100.0) * (lit(1.0) - col("error_rate")), 4)
    daily
      .withColumn("prev_error_rate", lag(col("error_rate"), 1).over(byDay))
      .withColumn("error_delta",
        Exprs.dround(col("error_rate") - col("prev_error_rate"), 6))
      .withColumn("health_score", health)
      .withColumn("grade", Exprs.gradeOf(health / 100))
      .orderBy(col("day"))
  }

  /** W2/W7-shape (reference 07:296-299,315-318): per-group top-N via
    * ROW_NUMBER over a partitioned window (QUALIFY idiom). */
  def q11TopPerSegment(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("c_mktsegment"), col("rn"), col("o_orderkey"),
        Exprs.dround(col("o_totalprice"), 2).as("o_totalprice"), col("c_name"))
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  /** A9 rollup (reference 07:359-443 stacked hour→day CTEs, expressed as a
    * true ROLLUP): orders by (year, month) with subtotal + grand-total rows. */
  def q12RollupOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.withColumn("y", year(col("o_orderdate")))
      .withColumn("m", month(col("o_orderdate")))
      .rollup(col("y"), col("m"))
      .agg(count(lit(1)).as("n"),
        Exprs.dround(Exprs.sumExact(col("o_totalprice"), 6), 2).as("total_value"))
      .orderBy(col("y").asc_nulls_first, col("m").asc_nulls_first)
  }

  /** CUBE over (day_type, event_type): every subtotal combination in one
    * pass (survey §2.4 noted cube/grouping-sets as trivially available —
    * this makes it real and oracle-checked). */
  def q47CubeActivity(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.withColumn("day_type",
        when(dayofweek(col("ts")).isin(1, 7), "weekend").otherwise("weekday"))
      .cube(col("day_type"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        Exprs.avgExact2(col("value"), 4).as("avg_value"))
      .orderBy(col("day_type").asc_nulls_first, col("event_type").asc_nulls_first)
  }

  /** A6 histogram (reference 07:163-164): equi-width 20-bucket histogram via
    * a broadcast 1-row global min/max — no single-partition window, scales to
    * any fact size. */
  def q13PriceHistogram(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val bounds = li.agg(min(col("l_extendedprice")).as("lo"),
      max(col("l_extendedprice")).as("hi"))
    li.crossJoin(broadcast(bounds))
      .withColumn("bucket", Exprs.bucketIdx(col("l_extendedprice"), col("lo"), col("hi"), 20))
      .groupBy(col("bucket")).agg(
        count(lit(1)).as("n"),
        Exprs.dround(min(col("l_extendedprice")), 2).as("bucket_min"),
        Exprs.dround(max(col("l_extendedprice")), 2).as("bucket_max"))
      .orderBy(col("bucket"))
  }

  /** min_by/max_by argument-extrema aggregates (the SQL form of the
    * reference's keep-best dedup idea): per segment, which customer holds
    * the extreme balance. Ties broken deterministically by folding the key
    * into the ordering struct. */
  def q50ArgExtrema(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    // deterministic arg-extremum: order by (value, key) so ties cannot
    // pick different rows across engines
    c.groupBy(col("c_mktsegment")).agg(
        count(lit(1)).as("n"),
        max(struct(col("c_acctbal"), col("c_custkey"))).getField("c_custkey")
          .as("richest_cust"),
        min(struct(col("c_acctbal"), col("c_custkey"))).getField("c_custkey")
          .as("poorest_cust"),
        Exprs.dround(max(col("c_acctbal")), 2).as("max_bal"),
        Exprs.dround(min(col("c_acctbal")), 2).as("min_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** q64 (§2.5): the distribution window functions — ntile deciles,
    * percent_rank, cume_dist — per event type with a unique total ordering
    * (value, event_id) so rank == row_number and both engines agree exactly
    * (with ties, percent_rank/cume_dist peer groups would still match, but
    * ntile's tie placement would not be well-defined).
    *
    * Scale note: exact deciles totally order each class (parallelism =
    * class count). At 100 TB, band by `percentile_approx` cut points
    * instead (one aggregation, fully parallel, bands off by at most the
    * sketch error); the exact window form is the oracle-stateable
    * baseline. */
  def q64DistributionRanks(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    e.withColumn("decile", ntile(10).over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .groupBy(col("event_type"), col("decile")).agg(
        count(lit(1)).as("n"),
        Exprs.dround(min(col("value")), 2).as("min_value"),
        Exprs.dround(max(col("value")), 2).as("max_value"),
        Exprs.dround(min(col("pr")), 6).as("min_pct_rank"),
        Exprs.dround(max(col("cd")), 6).as("max_cume_dist"))
      .orderBy(col("event_type"), col("decile"))
  }

  /** Semi/anti joins (absent from the reference, present for API
    * completeness — a user migrating real workloads needs them): customers
    * with vs without high-priority orders, per segment. */
  def q51SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val withUrgent = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with_urgent"))
    val withoutUrgent = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_without_urgent"))
    withUrgent.join(withoutUrgent, Seq("c_mktsegment"), "outer")
      .select(col("c_mktsegment"),
        coalesce(col("n_with_urgent"), lit(0L)).as("n_with_urgent"),
        coalesce(col("n_without_urgent"), lit(0L)).as("n_without_urgent"))
      .orderBy(col("c_mktsegment"))
  }

  /** q65 (§2.6 set operations): INTERSECT / EXCEPT audience segmentation —
    * users who both clicked and purchased, clicked-only, purchased-only.
    * Set ops are distinct-based (one hash shuffle each on user_id); counts
    * summarize so the output stays compact. */
  def q65SetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    // user-DAY entities: at the user grain every user does everything, so
    // the except sides would be empty and the operator untested
    def entitiesOf(t: String) =
      e.filter(col("event_type") === t)
        .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
    val clickers = entitiesOf("click")
    val buyers = entitiesOf("purchase")
    // one lazy plan, no driver-side counts: tag each set-op result, union,
    // aggregate; the static segment frame keeps empty segments visible as 0
    val counts = clickers.intersect(buyers)
      .withColumn("segment", lit("click_and_purchase"))
      .unionByName(clickers.except(buyers).withColumn("segment", lit("click_only")))
      .unionByName(buyers.except(clickers).withColumn("segment", lit("purchase_only")))
      .groupBy(col("segment")).agg(count(lit(1)).as("n"))
    Seq("click_and_purchase", "click_only", "purchase_only").toDF("segment")
      .join(counts, Seq("segment"), "left")
      .select(col("segment"), coalesce(col("n"), lit(0L)).as("n_user_days"))
      .orderBy(col("segment"))
  }

  /** q66 (§2.4): native pivot — per-user-band event-type counts as columns
    * (the reference builds this shape by hand with CASE aggregates in every
    * dashboard view; `groupBy().pivot(values)` is the engine form). The
    * explicit value list keeps the schema static — at scale an un-listed
    * pivot triggers a distinct-values pre-pass AND produces a schema the
    * driver must collect, both avoided here. */
  def q66Pivot(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.withColumn("user_band", expr("user_id div 30"))
      .groupBy(col("user_band"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_band"))
  }

  /** q67 (§2.4): native unpivot/melt — the inverse of q66's pivot, back to
    * long form. Wide-to-long is the shape every metrics store needs before
    * a generic per-metric pipeline; `unpivot` keeps it one local projection
    * per row (no shuffle, no union of N scans). */
  def q67Unpivot(spark: SparkSession, dir: String): DataFrame =
    q66Pivot(spark, dir)
      .unpivot(Array(col("user_band")),
        Array(col("click"), col("view"), col("purchase"), col("signup"),
          col("error")),
        "event_type", "n")
      .orderBy(col("user_band"), col("event_type"))

  /** q68 (§2.4): explicit GROUPING SETS — two independent marginals plus
    * the grand total in ONE pass (rollup/cube are fixed lattices; arbitrary
    * sets are the general form), with grouping_id() disambiguating which
    * set each row belongs to (NULL day vs a genuinely-null day). */
  def q68GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    e.groupingSets(
        Seq(Seq(col("event_type")), Seq(col("day")), Seq()),
        col("event_type"), col("day"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n"),
        Exprs.dround(Exprs.sumExact2(col("value")), 2).as("sum_value"))
      .orderBy(col("gid"), col("event_type"), col("day"))
  }

  /** q69: multi-signal near-dup verification — the top Jaccard pairs get a
    * second, independent similarity signal (Levenshtein distance over a
    * fixed prefix) and a combined verdict. Edit distance is O(len²) per
    * pair, so it runs ONLY on the already-shortlisted candidates — the
    * standard expensive-verifier-after-cheap-filter composition. */
  def q69EditDistance(spark: SparkSession, dir: String): DataFrame =
    editDistanceFrom(Tables.documents(spark, dir),
      graft.text.TextOps.jaccardPairs(Tables.documents(spark, dir), 3))

  /** q69 body over a precomputed (possibly `TextOps.sharedPairs`-persisted)
    * candidate-pair relation. */
  def editDistanceFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val d = docs
      .select(col("doc_id"), substring(col("text"), 1, 60).as("prefix"))
    val top = pairs
      .orderBy(col("jaccard").desc, col("d1"), col("d2")).limit(20)
    top
      .join(d.select(col("doc_id").as("d1"), col("prefix").as("p1")), "d1")
      .join(d.select(col("doc_id").as("d2"), col("prefix").as("p2")), "d2")
      .withColumn("prefix_lev", levenshtein(col("p1"), col("p2")))
      .withColumn("verdict",
        when(col("jaccard") >= 0.5 && col("prefix_lev") <= 20, "confirmed_dup")
          .when(col("jaccard") >= 0.5, "jaccard_only")
          .when(col("prefix_lev") <= 20, "prefix_only")
          .otherwise("weak"))
      .select(col("d1"), col("d2"), col("jaccard"), col("prefix_lev"),
        col("verdict"))
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
  }

  /** JSON scalar extraction (reference parses JSON payloads everywhere, §2.8):
    * pull `props.k`, bucket it, aggregate. */
  def q14PropsJson(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .withColumn("k_bucket", (col("k") - (col("k") % 10)))
      .groupBy(col("k_bucket")).agg(
        count(lit(1)).as("n"),
        Exprs.avgExact2(col("value"), 4).as("avg_value"))
      .orderBy(col("k_bucket"))
  }

  /** A5 approximate distinct (reference 07:132-133 APPROX_COUNT_DISTINCT):
    * HLL++ sketch — no DuckDB oracle (different sketch); spec asserts ≤5%
    * relative error vs exact. */
  def q15ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(col("event_type")).agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .orderBy(col("event_type"))
  }

  /** q127: co-located (bucketed) equi-join — both sides written once via
    * [[graft.sources.Sources.writeBucketed]] with the SAME bucket count on
    * the join key, then sort-merge-joined with ZERO exchange on the key
    * (PlanQualitySpec pins the shuffle-free shape; the MERGE hint keeps the
    * demonstration on the sort-merge path AQE would otherwise broadcast at
    * small SF). The one-time bucketed write is the 100-TB trade: pay the
    * partitioning at ingest, never at query time — every later join or
    * aggregation keyed on custkey rides the stored layout. The oracle
    * checks the join RESULT on the raw tables; bucketing must never change
    * answers, only plans. */
  def q127BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    // One bucketed layout per (JVM catalog, source version): each table is
    // named by a size+mtime fingerprint of BOTH source files, so
    // re-invocations (Verify + Bench timing the query twice, stall
    // retries) reuse it — pay the partitioning once at ingest, never at
    // query time — while a data regeneration inside one long-lived
    // session gets a fresh layout instead of silently serving the stale
    // copy. Don't change the tag parts casually: every existing layout
    // rebuilds under the new name on first use.
    val parts = Seq(graft.ops.Layouts.fileFp(s"$dir/orders.parquet"),
      graft.ops.Layouts.fileFp(s"$dir/customer.parquet"))
    def bucketed(prefix: String, src: => DataFrame, key: String): String =
      graft.ops.Layouts.ensureTable(spark, prefix, parts: _*) {
        (staging, owned) =>
          graft.sources.Sources.writeBucketed(src, staging, s"$owned/index", key, 8)
      }
    val ot = bucketed("g_bkt_orders_", Tables.orders(spark, dir), "o_custkey")
    val ct = bucketed("g_bkt_customer_", Tables.customer(spark, dir), "c_custkey")
    spark.table(ot).hint("merge")
      .join(spark.table(ct), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"),
        Exprs.dround(Exprs.sumExact(col("o_totalprice"), 6), 2)
          .as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  val oracle: Map[String, String] = Map(
    "q127_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  count(DISTINCT c_custkey) AS n_customers,
        |  round(sum(o_totalprice::DECIMAL(25,6))::DOUBLE, 2) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q07_segment_performance" ->
      """WITH per_nation AS (
        |  SELECT r_name, n_name,
        |    count(*) AS n_orders,
        |    count(DISTINCT o_custkey) AS n_customers,
        |    round(sum(o_totalprice::DECIMAL(25,6))::DOUBLE, 2) AS total_value,
        |    round(sum(o_totalprice::DECIMAL(25,6))::DOUBLE / count(o_totalprice), 4) AS avg_value,
        |    count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, n_name),
        |ranked AS (
        |  SELECT *,
        |    rank() OVER (ORDER BY total_value DESC, n_name) AS value_rank,
        |    rank() OVER (ORDER BY n_orders DESC, n_name) AS volume_rank
        |  FROM per_nation)
        |SELECT r_name, n_name, n_orders, n_customers, total_value, avg_value, n_finished,
        |  value_rank, volume_rank,
        |  round(n_finished / n_orders, 4) AS fill_rate
        |FROM ranked WHERE value_rank <= 50 ORDER BY value_rank""".stripMargin,

    "q08_nearest_match" ->
      """WITH paired AS (
        |  SELECT c_custkey, s_suppkey, s_name,
        |         abs(c_acctbal - s_acctbal) AS dist
        |  FROM customer JOIN supplier
        |    ON s_acctbal BETWEEN c_acctbal - 100 AND c_acctbal + 100),
        |nearest AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY dist, s_suppkey) AS rn
        |  FROM paired)
        |SELECT s_suppkey, s_name, count(*) AS n_customers,
        |  round(sum(dist::DECIMAL(25,2))::DOUBLE / count(dist), 4) AS avg_dist,
        |  round(min(dist), 2) AS min_dist
        |FROM nearest WHERE rn = 1
        |GROUP BY s_suppkey, s_name HAVING count(*) >= 3
        |ORDER BY n_customers DESC, s_suppkey LIMIT 25""".stripMargin,

    "q09_temporal_patterns" ->
      """WITH bucketed AS (
        |  SELECT *,
        |    CASE WHEN extract(dow FROM ts) IN (0, 6) THEN 'weekend' ELSE 'weekday' END AS day_type,
        |    CASE WHEN extract(hour FROM ts) < 6 THEN 'night'
        |         WHEN extract(hour FROM ts) < 12 THEN 'morning'
        |         WHEN extract(hour FROM ts) < 18 THEN 'afternoon'
        |         ELSE 'evening' END AS period
        |  FROM events),
        |agg AS (
        |  SELECT day_type, period, count(*) AS n,
        |    count(DISTINCT user_id) AS n_users,
        |    round(sum(value::DECIMAL(18,2))::DOUBLE / count(value), 4) AS avg_value,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
        |  FROM bucketed GROUP BY day_type, period)
        |SELECT day_type, period, n, n_users, avg_value, n_purchases,
        |  rank() OVER (ORDER BY n DESC, day_type, period) AS activity_rank,
        |  round(n_purchases / n, 6) AS purchase_rate
        |FROM agg ORDER BY activity_rank""".stripMargin,

    "q10_quality_trend" ->
      """WITH daily AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
        |    round(count(CASE WHEN event_type = 'error' THEN 1 END) / count(*), 6) AS error_rate,
        |    round(sum(value::DECIMAL(18,2))::DOUBLE / count(value), 4) AS avg_value,
        |    count(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY 1)
        |SELECT day, n, error_rate, avg_value, n_users,
        |  lag(error_rate, 1) OVER (ORDER BY day) AS prev_error_rate,
        |  round(error_rate - lag(error_rate, 1) OVER (ORDER BY day), 6) AS error_delta,
        |  round(100.0 * (1.0 - error_rate), 4) AS health_score,
        |  CASE WHEN round(100.0 * (1.0 - error_rate), 4) >= 95 THEN 'A'
        |       WHEN round(100.0 * (1.0 - error_rate), 4) >= 85 THEN 'B'
        |       WHEN round(100.0 * (1.0 - error_rate), 4) >= 70 THEN 'C'
        |       WHEN round(100.0 * (1.0 - error_rate), 4) >= 50 THEN 'D'
        |       ELSE 'F' END AS grade
        |FROM daily ORDER BY day""".stripMargin,

    "q11_top_per_segment" ->
      """WITH ranked AS (
        |  SELECT c_mktsegment,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |    o_orderkey, round(o_totalprice, 2) AS o_totalprice, c_name
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT * FROM ranked WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin,

    "q12_rollup_orders" ->
      """SELECT extract(year FROM o_orderdate)::INT AS y,
        |       extract(month FROM o_orderdate)::INT AS m,
        |       count(*) AS n,
        |       round(sum(o_totalprice::DECIMAL(25,6))::DOUBLE, 2) AS total_value
        |FROM orders GROUP BY ROLLUP (y, m)
        |ORDER BY y NULLS FIRST, m NULLS FIRST""".stripMargin,

    "q50_arg_extrema" ->
      """WITH ranked AS (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY c_acctbal DESC, c_custkey DESC) AS rd,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY c_acctbal ASC, c_custkey ASC) AS ra
        |  FROM customer)
        |SELECT c_mktsegment, count(*) AS n,
        |  max(CASE WHEN rd = 1 THEN c_custkey END) AS richest_cust,
        |  max(CASE WHEN ra = 1 THEN c_custkey END) AS poorest_cust,
        |  round(max(c_acctbal), 2) AS max_bal,
        |  round(min(c_acctbal), 2) AS min_bal
        |FROM ranked GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q65_set_ops" ->
      """WITH clickers AS (
        |  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
        |  FROM events WHERE event_type = 'click'),
        |buyers AS (
        |  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
        |  FROM events WHERE event_type = 'purchase')
        |SELECT 'click_and_purchase' AS segment,
        |  (SELECT count(*) FROM (SELECT * FROM clickers INTERSECT SELECT * FROM buyers)) AS n_user_days
        |UNION ALL
        |SELECT 'click_only',
        |  (SELECT count(*) FROM (SELECT * FROM clickers EXCEPT SELECT * FROM buyers))
        |UNION ALL
        |SELECT 'purchase_only',
        |  (SELECT count(*) FROM (SELECT * FROM buyers EXCEPT SELECT * FROM clickers))
        |ORDER BY segment""".stripMargin,

    "q66_pivot" ->
      """SELECT user_id // 30 AS user_band,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY user_id // 30 ORDER BY user_band""".stripMargin,

    "q67_unpivot" ->
      """WITH wide AS (
        |  SELECT user_id // 30 AS user_band,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |    count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |    count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |    count(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |  FROM events GROUP BY user_id // 30)
        |SELECT user_band, event_type, n FROM (
        |  SELECT user_band, 'click' AS event_type, click AS n FROM wide
        |  UNION ALL SELECT user_band, 'view', view FROM wide
        |  UNION ALL SELECT user_band, 'purchase', purchase FROM wide
        |  UNION ALL SELECT user_band, 'signup', signup FROM wide
        |  UNION ALL SELECT user_band, 'error', error FROM wide)
        |ORDER BY user_band, event_type""".stripMargin,

    "q68_grouping_sets" ->
      """WITH e AS (
        |  SELECT *, strftime(ts, '%Y-%m-%d') AS day FROM events)
        |SELECT event_type, day,
        |  grouping(event_type, day) AS gid,
        |  count(*) AS n,
        |  round(sum(value::DECIMAL(18,2))::DOUBLE, 2) AS sum_value
        |FROM e GROUP BY GROUPING SETS ((event_type), (day), ())
        |ORDER BY gid, event_type, day""".stripMargin,

    "q69_edit_distance" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)),
        |counts AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |top AS (
        |  SELECT d1, d2,
        |    round(common / (c1.c + c2.c - common) * 1000000) / 1000000 AS jaccard
        |  FROM pairs JOIN counts c1 ON c1.doc_id = d1
        |  JOIN counts c2 ON c2.doc_id = d2
        |  ORDER BY jaccard DESC, d1, d2 LIMIT 20),
        |scored AS (
        |  SELECT t.d1, t.d2, t.jaccard,
        |    levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) AS prefix_lev
        |  FROM top t JOIN documents a ON a.doc_id = t.d1
        |  JOIN documents b ON b.doc_id = t.d2)
        |SELECT d1, d2, jaccard, prefix_lev,
        |  CASE WHEN jaccard >= 0.5 AND prefix_lev <= 20 THEN 'confirmed_dup'
        |       WHEN jaccard >= 0.5 THEN 'jaccard_only'
        |       WHEN prefix_lev <= 20 THEN 'prefix_only'
        |       ELSE 'weak' END AS verdict
        |FROM scored ORDER BY jaccard DESC, d1, d2""".stripMargin,

    "q64_distribution_ranks" ->
      """WITH ranked AS (
        |  SELECT event_type, event_id, value,
        |    ntile(10) OVER w AS decile,
        |    percent_rank() OVER w AS pr,
        |    cume_dist() OVER w AS cd
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id))
        |SELECT event_type, decile, count(*) AS n,
        |  round(min(value), 2) AS min_value,
        |  round(max(value), 2) AS max_value,
        |  round(min(pr) * 1000000) / 1000000 AS min_pct_rank,
        |  round(max(cd) * 1000000) / 1000000 AS max_cume_dist
        |FROM ranked GROUP BY event_type, decile
        |ORDER BY event_type, decile""".stripMargin,

    "q51_semi_anti" ->
      """WITH urgent AS (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |SELECT c_mktsegment,
        |  count(CASE WHEN u.o_custkey IS NOT NULL THEN 1 END) AS n_with_urgent,
        |  count(CASE WHEN u.o_custkey IS NULL THEN 1 END) AS n_without_urgent
        |FROM customer c LEFT JOIN urgent u ON c.c_custkey = u.o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q47_cube_activity" ->
      """SELECT CASE WHEN extract(dow FROM ts) IN (0, 6) THEN 'weekend'
        |            ELSE 'weekday' END AS day_type,
        |       event_type, count(*) AS n,
        |       round(sum(value::DECIMAL(18,2))::DOUBLE / count(value), 4) AS avg_value
        |FROM events GROUP BY CUBE (day_type, event_type)
        |ORDER BY day_type NULLS FIRST, event_type NULLS FIRST""".stripMargin,

    "q13_price_histogram" ->
      """WITH bounds AS (
        |  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem)
        |SELECT greatest(least(floor((l_extendedprice - lo) / ((hi - lo) / 20)), 19), 0)::INT AS bucket,
        |  count(*) AS n,
        |  round(min(l_extendedprice), 2) AS bucket_min,
        |  round(max(l_extendedprice), 2) AS bucket_max
        |FROM lineitem CROSS JOIN bounds
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q14_props_json" ->
      """WITH parsed AS (
        |  SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, value
        |  FROM events)
        |SELECT k - (k % 10) AS k_bucket, count(*) AS n,
        |  round(sum(value::DECIMAL(18,2))::DOUBLE / count(value), 4) AS avg_value
        |FROM parsed GROUP BY 1 ORDER BY k_bucket""".stripMargin,
  )
}

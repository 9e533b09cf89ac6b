package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated percentiles via order statistics, engine-version
  * robust — the generalized (keyed, any-quantile, any-numeric-column) form
  * of `BatchChecks.valuePctRelation`.
  *
  * Why this exists: Spark's `percentile(x, q)` and DuckDB's
  * `quantile_cont(x, q)` are only EMPIRICALLY bitwise-equal. The driver's
  * DuckDB build diverged from the local one on INTEGER-column quantiles in
  * round 7 (q97 red for three rounds with rows/schema green), so every
  * oracle-checked percentile now rides this construction instead: equality
  * holds because BOTH engines run the IDENTICAL sequence of exact integer
  * ranks and IEEE double ops, not because two different interpolation
  * implementations happen to agree.
  *
  * Construction (mirrored op-for-op by [[Pct.ctes]] on the DuckDB side):
  *   1. `groupBy(keys, value).count` — the distinct-value grid. For
  *      fixed-scale columns (2dp value, integer counts/lengths) the grid is
  *      bounded regardless of corpus size; for continuous columns it is at
  *      worst the input size, same cost class as any exact percentile.
  *   2. cumulative count `cum` over the grid ordered by value (windowed per
  *      key), total `nn` per key.
  *   3. for each quantile q: rank r = (nn−1)·q computed as
  *      `(nn-1)::DOUBLE * q::DOUBLE` (one IEEE multiply both engines),
  *      lo = floor(r) as an exact BIGINT, fraction g = r − lo;
  *      order statistics a = min(value where cum > lo),
  *      b = min(value where cum > lo+1) — integer BIGINT compares.
  *   4. interpolate `a + (b − a)·g` with a/b promoted to double first —
  *      the op order spelled identically in both engines. The caller
  *      rounds (dround / half-up floor) as its output contract requires.
  *
  * Scale shape: one hash aggregation (map-side combined) plus one window
  * over the aggregated grid — for keyed use the window is hash-partitioned
  * by key; only the global (no-key) form funnels the GRID (not the corpus)
  * through a single partition, which is bounded for fixed-scale columns
  * and documented at each global call site. */
object Pct {

  /** One row per key (or exactly one row when `keys` is empty) with a
    * double column per `(alias, q)` holding the exact interpolated
    * q-quantile of `valueCol`. NULL inputs are excluded (SQL percentile
    * semantics); an all-NULL key never appears (keyed) / yields NULL
    * (global). */
  def relation(df: DataFrame, keys: Seq[String], valueCol: String,
               qs: Seq[(String, Double)]): DataFrame = {
    require(qs.nonEmpty, "at least one (alias, q) required")
    require(qs.map(_._1).distinct.size == qs.size,
      s"aliases must be unique, got ${qs.map(_._1)}")
    val keyCols = keys.map(col)
    val vc = df.where(col(valueCol).isNotNull)
      .groupBy((keys :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
    val cumW = Window.partitionBy(keyCols: _*).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.partitionBy(keyCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val vcc = vc
      .withColumn("__cum", sum(col("__c")).over(cumW))
      .withColumn("__nn", sum(col("__c")).over(allW))
    val aggs = qs.flatMap { case (alias, q) =>
      val r = (col("__nn") - 1).cast("double") * lit(q)
      val lo = floor(r) // LongType in Spark; ::BIGINT in the SQL mirror
      val g = r - lo.cast("double")
      Seq(
        min(when(col("__cum") > lo, col(valueCol))).as(s"__a_$alias"),
        min(when(col("__cum") > lo + 1, col(valueCol))).as(s"__b_$alias"),
        max(g).as(s"__g_$alias")) // g is constant per key; max just picks it
    }
    val agged =
      if (keys.isEmpty) vcc.agg(aggs.head, aggs.tail: _*)
      else vcc.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
    qs.foldLeft(agged) { case (d, (alias, _)) =>
      val a = col(s"__a_$alias").cast("double")
      val b = coalesce(col(s"__b_$alias"), col(s"__a_$alias")).cast("double")
      d.withColumn(alias, a + (b - a) * col(s"__g_$alias"))
        .drop(s"__a_$alias", s"__b_$alias", s"__g_$alias")
    }
  }

  /** Canonical SQL literal for the quantile — the same decimal string the
    * Scala double prints as, so both engines parse the identical double
    * (always emitted with an explicit ::DOUBLE cast: DuckDB would otherwise
    * read `0.95` as DECIMAL). */
  private def qLit(q: Double): String = s"$q::DOUBLE"

  /** The DuckDB mirror of [[relation]], op-for-op, as a CTE chain to splice
    * after `WITH`. Produces CTEs `<tag>_vc`, `<tag>_vcc`, `<tag>_pa` and the
    * final `<tag>` holding `keys` plus one double column per alias. `tag`
    * must be unique within the query (two percentile relations in one
    * oracle need two tags). */
  def ctes(tag: String, from: String, keys: Seq[String], valueExpr: String,
           qs: Seq[(String, Double)]): String = {
    require(qs.nonEmpty, "at least one (alias, q) required")
    require(qs.map(_._1).distinct.size == qs.size,
      s"aliases must be unique, got ${qs.map(_._1)}")
    val kSel = if (keys.isEmpty) "" else keys.mkString(", ") + ", "
    val kPart =
      if (keys.isEmpty) "" else "PARTITION BY " + keys.mkString(", ") + " "
    val kGroup = if (keys.isEmpty) "" else " GROUP BY " + keys.mkString(", ")
    val paCols = qs.map { case (alias, q) =>
      val r = s"(nn - 1)::DOUBLE * ${qLit(q)}"
      s"""min(CASE WHEN cum > floor($r)::BIGINT THEN v END) AS a_$alias,
         |  min(CASE WHEN cum > floor($r)::BIGINT + 1 THEN v END) AS b_$alias,
         |  max($r - floor($r)) AS g_$alias""".stripMargin
    }.mkString(",\n  ")
    val outCols = qs.map { case (alias, _) =>
      s"a_$alias::DOUBLE + (coalesce(b_$alias, a_$alias)::DOUBLE" +
        s" - a_$alias::DOUBLE) * g_$alias AS $alias"
    }.mkString(",\n  ")
    s"""${tag}_vc AS (SELECT $kSel$valueExpr AS v, count(*) AS c FROM $from
       |  WHERE $valueExpr IS NOT NULL GROUP BY $kSel$valueExpr),
       |${tag}_vcc AS (SELECT ${kSel}v,
       |  sum(c) OVER (${kPart}ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
       |               AND CURRENT ROW) AS cum,
       |  sum(c) OVER (${kPart.trim}) AS nn FROM ${tag}_vc),
       |${tag}_pa AS (SELECT $kSel$paCols
       |  FROM ${tag}_vcc$kGroup),
       |$tag AS (SELECT $kSel$outCols FROM ${tag}_pa)""".stripMargin
  }
}

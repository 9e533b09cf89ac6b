package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.Exprs
import graft.quality.Quality
import graft.ts.TimeSeries

/** Property tests (SURVEY §5 plan): ScalaCheck generates the sample sets,
  * one DataFrame per property evaluates the column expressions in bulk. */
class PropertiesSpec extends SparkSpecBase {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 300): Seq[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(42L)).get

  private val latGen = Gen.choose(-89.9, 89.9)
  private val lonGen = Gen.choose(-180.0, 180.0)
  private val pointPairGen = for {
    a <- latGen; b <- lonGen; c <- latGen; d <- lonGen
  } yield (a, b, c, d)

  test("haversine: symmetric, nonnegative, bounded by half circumference") {
    val df = samples(pointPairGen).toDF("lat1", "lon1", "lat2", "lon2")
      .withColumn("ab", Exprs.haversineKm(col("lat1"), col("lon1"), col("lat2"), col("lon2")))
      .withColumn("ba", Exprs.haversineKm(col("lat2"), col("lon2"), col("lat1"), col("lon1")))
    df.collect().foreach { r =>
      val (ab, ba) = (r.getAs[Double]("ab"), r.getAs[Double]("ba"))
      assert(math.abs(ab - ba) < 1e-9)
      assert(ab >= 0.0 && ab <= math.Pi * Exprs.EarthRadiusKm + 1e-6)
    }
  }

  test("haversine agrees with equirectangular for nearby points") {
    val nearGen = for {
      lat <- Gen.choose(-60.0, 60.0); lon <- Gen.choose(-170.0, 170.0)
      dlat <- Gen.choose(-0.05, 0.05); dlon <- Gen.choose(-0.05, 0.05)
    } yield (lat, lon, lat + dlat, lon + dlon)
    val df = samples(nearGen).toDF("lat1", "lon1", "lat2", "lon2")
      .withColumn("hv", Exprs.haversineMi(col("lat1"), col("lon1"), col("lat2"), col("lon2")))
      .withColumn("eq", Exprs.equirectMi(col("lat1"), col("lon1"), col("lat2"), col("lon2")))
    df.collect().foreach { r =>
      val (hv, eq) = (r.getAs[Double]("hv"), r.getAs[Double]("eq"))
      assert(math.abs(hv - eq) <= math.max(0.15, hv * 0.05), s"hv=$hv eq=$eq")
    }
  }

  test("quality score always lands in [0,1] with a consistent grade") {
    val rowGen = for {
      uid <- Gen.option(Gen.choose(-5L, 100L))
      v <- Gen.option(Gen.choose(-100.0, 1500.0))
      et <- Gen.oneOf("click", "view", "purchase", "signup", "error", "bogus")
      props <- Gen.oneOf("""{"k": 1}""", "not-json", null)
      ageS <- Gen.choose(0L, 100000L)
    } yield (1L, (Quality.RefNowEpoch - ageS) * 1000000000L,
      uid.map(Long.box).orNull, et, v.map(Double.box).orNull, props)
    val df = samples(rowGen).toDF("event_id", "ts_ns", "user_id", "event_type", "value", "props")
    val scoredDf = Quality.scoreColumns().foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
    scoredDf.collect().foreach { r =>
      val s = r.getAs[Double]("quality_score")
      assert(s >= 0.0 && s <= 1.0, s"score $s out of range")
      val g = r.getAs[String]("grade")
      val expected = if (s >= 0.95) "A" else if (s >= 0.85) "B"
        else if (s >= 0.70) "C" else if (s >= 0.50) "D" else "F"
      assert(g === expected)
    }
  }

  test("dround is idempotent and matches BigDecimal half-up at scale 4") {
    val df = samples(Gen.choose(-10000.0, 10000.0), 500).toDF("x")
      .withColumn("r1", Exprs.dround(col("x"), 4))
      .withColumn("r2", Exprs.dround(Exprs.dround(col("x"), 4), 4))
    df.collect().foreach { r =>
      assert(r.getAs[Double]("r1") === r.getAs[Double]("r2"))
    }
  }

  test("interpolation preserves anchors and stays within anchor bounds") {
    val seriesGen = for {
      vs <- Gen.listOfN(12, Gen.option(Gen.choose(0.0, 100.0)))
    } yield vs
    val series = samples(seriesGen, 60).zipWithIndex.flatMap { case (vs, key) =>
      vs.zipWithIndex.map { case (v, i) =>
        (key.toLong, i.toLong, v.map(Double.box).orNull)
      }
    }
    val df = series.toDF("k", "t", "v")
      .withColumn("vi", TimeSeries.interpolateLinear(Seq(col("k")), Seq(col("t")), col("t"), col("v")))
    df.collect().groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val anchors = rows.filter(!_.isNullAt(2)).map(r => r.getLong(1) -> r.getDouble(2)).toMap
      if (anchors.nonEmpty) {
        val (lo, hi) = (anchors.values.min, anchors.values.max)
        rows.foreach { r =>
          val vi = r.getAs[Double]("vi")
          anchors.get(r.getLong(1)).foreach(a => assert(vi === a, "anchor changed"))
          assert(vi >= lo - 1e-9 && vi <= hi + 1e-9, "interpolant outside anchor bounds")
        }
      } else rows.foreach(r => assert(r.isNullAt(3)))
    }
  }

  test("q61 hash split: segments partition the corpus near the 12/2/2 design ratio") {
    val rows = graft.prep.DataPrep.q61DatasetSplit(spark, Sf001).collect()
    val byName = rows.map(r => r.getAs[String]("split") -> r.getAs[Long]("n")).toMap
    val total = byName.values.sum
    assert(total === 10000L, s"splits must partition all rows, got $total")
    // md5 first-hex-char buckets: train 12/16, val 2/16, test 2/16 (±3pp)
    def frac(k: String) = byName(k).toDouble / total
    assert(math.abs(frac("train") - 0.75) < 0.03, s"train ${frac("train")}")
    assert(math.abs(frac("val") - 0.125) < 0.03, s"val ${frac("val")}")
    assert(math.abs(frac("test") - 0.125) < 0.03, s"test ${frac("test")}")
  }

  test("suppressAlerts matches the brute-force suppression model on " +
      "arbitrary timestamp sets, including the per-emission counters") {
    // reference model: in ts order, emit iff >= window since last emitted;
    // each emission reports the suppressed count since the previous one
    def model(ts: Seq[Long], w: Long): Map[Long, (Boolean, Option[Long])] = {
      var last = Long.MinValue; var supp = 0L
      ts.sorted.map { t =>
        if (last == Long.MinValue || t - last >= w) {
          val r = supp; supp = 0L; last = t; t -> ((true, Some(r)))
        } else { supp += 1; t -> ((false, None)) }
      }.toMap
    }
    val tsSetGen = for {
      n <- Gen.choose(1, 40)
      ts <- Gen.listOfN(n, Gen.choose(0L, 20000L))
    } yield ts.distinct
    val windowGen = Gen.choose(1L, 5000L)
    val cases = samples(Gen.zip(tsSetGen, windowGen), 25)
    cases.zipWithIndex.foreach { case ((ts, w), i) =>
      val df = ts.map(t => ("a", s"c$i", "HIGH", t))
        .toDF("alert_type", "component", "severity", "ts_s")
      val got = graft.quality.Metrics.suppressAlerts(df, windowS = w)
        .collect()
        .map(r => r.getLong(3) ->
          ((r.getBoolean(4),
            Option(r.getAs[java.lang.Long]("suppressed_since_last"))
              .map(_.longValue()))))
        .toMap
      assert(got === model(ts, w), s"case $i: window=$w ts=$ts")
    }
  }

  test("valuePctRelation matches the sorted-array percentile definition " +
      "on arbitrary 2dp multisets") {
    def refPct(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted
      val r = (s.length - 1).toDouble * q
      val lo = math.floor(r).toInt
      val g = r - math.floor(r)
      val a = s(lo)
      val b = if (lo + 1 < s.length) s(lo + 1) else a
      math.floor((a + (b - a) * g) * 10000 + 0.5) / 10000
    }
    val multisetGen = for {
      n <- Gen.choose(1, 60)
      // 2dp grid values (real-data-like repr error), deliberately with
      // repeats: 51 grid cells over up to 60 draws
      xs <- Gen.listOfN(n, Gen.choose(0, 50).map(_ / 100.0))
    } yield xs
    samples(multisetGen, 20).zipWithIndex.foreach { case (xs, i) =>
      val df = xs.toDF("value")
      val r = graft.quality.BatchChecks.valuePctRelation(df).collect().head
      assert(r.getAs[Double]("p50_value") === refPct(xs, 0.5), s"case $i p50 $xs")
      assert(r.getAs[Double]("p95_value") === refPct(xs, 0.95), s"case $i p95 $xs")
    }
  }

  test("q60 stratified sample: K per class, sample mean near population mean") {
    val rows = graft.prep.DataPrep.q60StratifiedSample(spark, Sf001).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sampled") === math.min(100L, r.getAs[Long]("n_total")))
      // md5 ordering is a uniform draw; K=100 gives a wide standard error, so
      // this is a sanity bound (deterministic data: observed max dev ~24%)
      val pop = r.getAs[Double]("pop_avg_value")
      val samp = r.getAs[Double]("sample_avg_value")
      assert(math.abs(samp - pop) / pop < 0.4,
        s"${r.getAs[String]("event_type")}: sample $samp vs pop $pop")
    }
  }

  test("TopKSampleAgg: any partitioning of any input reduces+merges to the " +
      "global K smallest — the mergeable-partial contract the shipped q60 " +
      "rests on") {
    import graft.functions.{SampleCand, TopKSampleAgg}
    // cents derives from the id so a generated duplicate id is a fully
    // identical record (the real q60 has unique ids; this keeps tie order
    // unambiguous in the reference sort)
    val candGen = for {
      id <- Gen.choose(0L, 500L)
    } yield SampleCand(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString, id, (id * 31) % 10000)
    val caseGen = for {
      n <- Gen.choose(0, 120)
      cands <- Gen.listOfN(n, candGen)
      k <- Gen.oneOf(1, 3, 7, 50, 200)
      nParts <- Gen.choose(1, 8)
    } yield (cands, k, nParts)
    samples(caseGen, n = 200).foreach { case (cands, k, nParts) =>
      val agg = TopKSampleAgg(k)
      // split into nParts arbitrary chunks, reduce each, merge pairwise in
      // a left fold — the shapes Spark's partial aggregation actually runs
      val parts = cands.grouped(math.max(1, (cands.size + nParts - 1) / nParts))
        .map(_.foldLeft(agg.zero)(agg.reduce)).toSeq
      val merged = parts.foldLeft(agg.zero)(agg.merge)
      val out = agg.finish(merged)
      // reference: plain global sort by (m, id), take k
      val ref = cands.sortBy(c => (c.m, c.id)).take(k)
      assert(out.n_sampled === ref.size.toLong, s"k=$k n=${cands.size}")
      assert(out.sum_cents === ref.map(_.cents).sum, s"k=$k n=${cands.size}")
      // and the buffer itself holds exactly the reference set, in order
      assert(merged.items.toSeq === ref, s"k=$k n=${cands.size}")
    }
  }
}

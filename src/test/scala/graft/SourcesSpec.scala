package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Sources

class SourcesSpec extends SparkSpecBase {
  import spark.implicits._

  test("eventsInRange is row-equivalent to the derived ts_ns filter under " +
      "the current physical encoding") {
    // the pushdown loader must select EXACTLY the rows the (non-pushable)
    // derived-column filter selects — the invariant that survives the
    // driver regenerating events.parquet with a different ts encoding
    val all = Tables.events(spark, Sf0001)
    def derived(fromS: Option[Long], untilS: Option[Long]) = {
      val lo = fromS.map(s => col("ts_ns") >= s * 1000000000L)
      val hi = untilS.map(s => col("ts_ns") < s * 1000000000L)
      (lo.toSeq ++ hi).foldLeft(all)(_.filter(_))
        .select("event_id").as[Long].collect().sorted.toSeq
    }
    def ranged(fromS: Option[Long], untilS: Option[Long]) =
      Tables.eventsInRange(spark, Sf0001, fromS, untilS)
        .select("event_id").as[Long].collect().sorted.toSeq
    val hourStart = 1706655600L
    for (
      (f, u) <- Seq(
        (Some(hourStart), Some(hourStart + 3600)), // closed window
        (Some(hourStart), None),                   // open above
        (None, Some(hourStart)),                   // open below
        (None, None))                              // unbounded = whole table
    ) assert(ranged(f, u) === derived(f, u), s"bounds ($f, $u)")
  }

  private lazy val partedDir = {
    val d = Files.createTempDirectory("parted").toString + "/data"
    Seq(
      (1L, 2024, 1, 1, 10, "old"),
      (2L, 2024, 1, 1, 11, "old"),
      (3L, 2024, 1, 2, 9, "newest"),
      (4L, 2024, 1, 2, 9, "newest"))
      .toDF("id", "year", "month", "day", "hour", "tag")
      .write.partitionBy("year", "month", "day", "hour").parquet(d)
    d
  }

  test("readNewestPartition reads only the max (y,m,d,h) partition") {
    val out = Sources.readNewestPartition(spark, partedDir)
    val rows = out.collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getAs[String]("tag") === "newest"))
    // partition pruning visible in the physical plan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "expected partition filters in scan")
  }

  test("writeLatestSnapshot produces exactly one data file, overwrite-safe") {
    val d = Files.createTempDirectory("latest").toString + "/latest"
    Sources.writeLatestSnapshot(Seq((1, "a"), (2, "b")).toDF("id", "v"), d)
    Sources.writeLatestSnapshot(Seq((3, "c")).toDF("id", "v"), d)
    val files = new java.io.File(d).listFiles().filter(_.getName.startsWith("part-"))
    assert(files.length === 1)
    assert(spark.read.json(d).count() === 1) // second write replaced the first
  }

  test("inferSchemaFromSample freezes a schema from a bounded sample") {
    val d = Files.createTempDirectory("infer").toString
    Files.writeString(java.nio.file.Path.of(d, "a.json"),
      """{"x": 1, "y": "s"}""" + "\n" + """{"x": 2, "y": "t"}""")
    val schema = Sources.inferSchemaFromSample(spark, d)
    assert(schema.fieldNames.toSet === Set("x", "y"))
  }

  test("bucketed tables join without a shuffle on the bucketed key") {
    val tmp = Files.createTempDirectory("bjoin").toString
    Sources.writeBucketed(Tables.orders(spark, Sf0001), "orders_b",
      s"$tmp/orders_b", "o_orderkey", 8)
    Sources.writeBucketed(
      Tables.lineitem(spark, Sf0001).withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", s"$tmp/lineitem_b", "o_orderkey", 8)
    // sorted variant: bucket files pre-sorted by the join key
    Sources.writeBucketed(Tables.orders(spark, Sf0001), "orders_bs",
      s"$tmp/orders_bs", "o_orderkey", 8)
    assert(spark.table("orders_bs").count() === Tables.orders(spark, Sf0001).count())
    val joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n${p.take(1500)}")
    assert(joined.count() === Tables.lineitem(spark, Sf0001).count())
  }

  test("compact rewrites a many-small-files partition into few files, losslessly") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/hour=1"
    val e = Tables.events(spark, Sf001)
    e.repartition(24).write.parquet(dir) // the 30s-trigger landing pattern
    val before = e.count()
    val (nBefore, nAfter) = Sources.compact(spark, dir, targetBytes = 128L << 20)
    assert(nBefore === 24)
    assert(nAfter === 1, s"expected 1 output file for a tiny input, got $nAfter")
    val back = spark.read.parquet(dir)
    assert(back.count() === before)
    // no temp/old directories left behind
    val parent = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(!parent.exists(_.contains("compacting")) && !parent.exists(_.contains(".old")),
      parent.mkString(","))
  }

  test("compactBucketed collapses appended bucket-file generations to one " +
      "file per bucket, losslessly, with the bucket layout (and pruning) intact") {
    val e = Tables.events(spark, Sf0001).select(col("event_id").as("k"), col("value"))
    val n = e.count()
    val tmp = Files.createTempDirectory("bcomp").toString
    Sources.writeBucketed(e.repartition(4), "bcomp_t", s"$tmp/data", "k", 8)
    // two ingest generations: each insertInto writes its own bucket files
    e.select((col("k") + 1000000L).as("k"), col("value")).write.insertInto("bcomp_t")
    e.select((col("k") + 2000000L).as("k"), col("value")).write.insertInto("bcomp_t")
    val before = Sources.countTableDataFiles(spark, "bcomp_t")
    assert(before > 8, s"appends should exceed one file per bucket, got $before")
    // decimal sum digest (the CLAUDE.md sum rule, as in the partitioned
    // twin below): a double sum is accumulation-order-dependent and both
    // the r22 parallel bucketed write and the compaction rewrite
    // legitimately reorder rows — events.value is exactly 2dp
    def digest() = spark.table("bcomp_t")
      .agg(sum("k"), sum(col("value").cast("decimal(20,2)"))).head()
    val expectSum = digest()
    val stats = Sources.compactBucketed(spark, "bcomp_t", "k", 8)
    assert(stats.filesBefore === before)
    assert(stats.filesAfter <= 8 && stats.filesAfter < before,
      s"compaction must land at one file per non-empty bucket, got $stats")
    assert(stats.rows === 3 * n)
    assert(digest() === expectSum)
    // the rewritten table still bucket-prunes a literal key probe (a
    // BARE filter's bucketed scan is auto-disabled by the planner — the
    // serving shape that matters, filter-into-join, keeps it: the q148
    // SimilaritySpec pin — so force the bucketed scan for the layout pin)
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    spark.conf.set(autoKey, "false")
    try {
      val probe = spark.table("bcomp_t").filter(col("k").isin(1L, 1000001L))
      assert(probe.count() >= 2)
      val p = probe.queryExecution.executedPlan.toString
      assert("SelectedBucketsCount: \\d+ out of 8".r.findFirstIn(p).isDefined,
        s"compacted table lost bucket pruning:\n${p.take(1500)}")
    } finally spark.conf.set(autoKey, "true")
    assert(!spark.catalog.tableExists("bcomp_t_compacting"))
  }

  test("compactPartitioned collapses per-partition file generations " +
      "losslessly with partition pruning intact; bucketed flavor rejects " +
      "partitioned tables") {
    val e = Tables.events(spark, Sf0001)
      .select(col("event_id"), col("value"), (col("event_id") % 4).as("p"))
    val n = e.count()
    val tmp = Files.createTempDirectory("pcomp").toString
    // three append generations, several files each
    (0 until 3).foreach { _ =>
      e.repartition(3).write.mode("append").partitionBy("p").parquet(tmp)
    }
    // decimal sum: a double sum is accumulation-order-dependent and the
    // rewrite legitimately reorders rows (the CLAUDE.md sum rule)
    def digest() = spark.read.parquet(tmp)
      .agg(sum("event_id"), sum(col("value").cast("decimal(20,2)"))).head()
    val expect = digest()
    val (np, before, after) = Sources.compactPartitioned(spark, tmp)
    assert(np === 4 && after < before && after === 4,
      s"np=$np before=$before after=$after")
    assert(spark.read.parquet(tmp).count() === 3 * n)
    assert(digest() === expect)
    val plan = spark.read.parquet(tmp).filter(col("p") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(p"), plan.take(1200))
    // the bucketed flavor must refuse a partitioned table outright
    e.limit(10).write.mode("overwrite").partitionBy("p")
      .bucketBy(4, "event_id").option("path", s"$tmp/pbt")
      .format("parquet").saveAsTable("pcomp_pbt")
    val ex = intercept[IllegalArgumentException] {
      Sources.compactBucketed(spark, "pcomp_pbt", "event_id", 4)
    }
    assert(ex.getMessage.contains("partitioned"), ex.getMessage)
  }

  test("compactBucketed resumes a crash between DROP and RENAME: the " +
      "validated staging copy becomes the live table") {
    val e = Tables.events(spark, Sf0001).select(col("event_id").as("k"), col("value"))
    val n = e.count()
    val tmp = Files.createTempDirectory("bcompr").toString
    Sources.writeBucketed(e, "bcomp_r", s"$tmp/data", "k", 8)
    // simulate the crash window: the live name is gone, the complete
    // compacted copy sits under the staging name
    spark.sql("ALTER TABLE bcomp_r RENAME TO bcomp_r_compacting")
    val stats = Sources.compactBucketed(spark, "bcomp_r", "k", 8)
    assert(spark.catalog.tableExists("bcomp_r"))
    assert(!spark.catalog.tableExists("bcomp_r_compacting"))
    assert(stats.rows === n)
    assert(spark.table("bcomp_r").count() === n)
  }

  test("Layouts.ensureTable: a crash inside the staged build publishes " +
      "nothing, and the retry publishes the complete table") {
    val e = Tables.events(spark, Sf0001).select(col("event_id").as("k"), col("value"))
    val n = e.count()
    val delta = e.select((col("k") + 1000000L).as("k"), col("value"))
    val parts = Seq("ensure_crash", graft.ops.Layouts.Version)
    val name = "g_crash_" + graft.ops.Layouts.tag(parts: _*)
    // the q145 shape: the base lands, then the append
    def build(crash: Boolean)(staging: String, owned: String): Unit = {
      Sources.writeBucketed(e, staging, s"$owned/index", "k", 8)
      if (crash) throw new IllegalStateException("crash after the base write")
      Sources.insertBucketed(delta, staging, "k", 8)
    }
    val ex = intercept[IllegalStateException] {
      graft.ops.Layouts.ensureTable(spark, "g_crash_", parts: _*)(build(crash = true))
    }
    assert(ex.getMessage === "crash after the base write")
    // the base-only attempt sits under the staging name, never the live one
    assert(!spark.catalog.tableExists(name))
    assert(spark.catalog.tableExists(s"${name}_build"))
    assert(graft.ops.Layouts.ensureTable(spark, "g_crash_", parts: _*)(
      build(crash = false)) === name)
    assert(!spark.catalog.tableExists(s"${name}_build"))
    assert(spark.table(name).count() === 2 * n)
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(name)).bucketSpec
    assert(spec.map(b => (b.numBuckets, b.bucketColumnNames)) === Some((8, Seq("k"))))
    // a published table is reused: the build never runs again
    assert(graft.ops.Layouts.ensureTable(spark, "g_crash_", parts: _*)(
      (_, _) => fail("ensureTable rebuilt a published table")) === name)
  }

  test("registerViews exposes tables and pruned views; pruned view reads narrow schema") {
    Sources.registerViews(spark, Sf0001)
    assert(spark.catalog.tableExists("efficient_event_overview"))
    val plan = spark.sql("SELECT event_type, count(*) FROM efficient_event_overview GROUP BY 1")
      .queryExecution.executedPlan.toString
    // scan must not read user_id/props — the view prunes to 4 columns and
    // the aggregation to fewer still
    assert(!plan.contains("user_id") && !plan.contains("props"), plan)
    assert(spark.sql("SELECT * FROM recent_orders").count() > 0)
  }
}

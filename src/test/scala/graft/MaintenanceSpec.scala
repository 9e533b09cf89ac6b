package graft

import org.apache.spark.sql.functions._

import graft.ops.Maintenance
import graft.ops.Maintenance.LayoutFacts

/** q155's contract: every trigger condition planted on both sides of its
  * integer threshold against the pure [[Maintenance.schedule]], plus the
  * live relation's facts cross-checked against the layouts
  * independently (the relation is rows-only in the driver gate). */
class MaintenanceSpec extends SparkSpecBase {
  import spark.implicits._

  private def sched(facts: LayoutFacts*) =
    Maintenance.schedule(facts.toDF())
      .collect()
      .map(r => (r.getAs[String]("layout"), r.getAs[String]("check")) ->
        (r.getAs[Boolean]("triggered"), r.getAs[String]("action")))
      .toMap

  test("compact: fires strictly above CompactFilesPerBucket x buckets") {
    val at = sched(LayoutFacts("a", "bucketed_index",
      data_files = 128, buckets = 64, batch_partitions = -1,
      n_entries = 1000, occ_max = -1, keyspace_actual = 64,
      keyspace_target = 64))
    assert(at(("a", "compact")) === ((false, "none"))) // == bound: not yet
    val over = sched(LayoutFacts("a", "bucketed_index", 129, 64, -1,
      1000, -1, 64, 64))
    assert(over(("a", "compact")) === ((true, "compact_bucketed")))
  }

  test("fold: fires strictly above FoldMaxBatchPartitions live partitions") {
    val at = sched(LayoutFacts("s", "appendable_index", 100, 64,
      batch_partitions = 8, n_entries = 1000, occ_max = -1,
      keyspace_actual = 64, keyspace_target = 64))
    assert(at(("s", "fold")) === ((false, "none")))
    val over = sched(LayoutFacts("s", "appendable_index", 100, 64, 9,
      1000, -1, 64, 64))
    // decay ALWAYS binds the AMORTIZED leveled fold (r17; r18 removed
    // the debt re-route too — the base fold is linear in base rows and
    // no schedule path triggers it any more)
    assert(over(("s", "fold")) === ((true, "fold_index_leveled")))
    val decayAndDebt = sched(LayoutFacts("s", "appendable_index", 100, 64,
      9, 1000, -1, 64, 64, tombstones = 1000))
    assert(decayAndDebt(("s", "fold")) === ((true, "fold_index_leveled")))
    assert(decayAndDebt(("s", "purge")) ===
      ((true, "purge_index_tombstones")))
    // an appendable index gets the fold-backed checks plus (since r16)
    // the rederive drift watch — rebuildAppendableIndex is its second
    // tool, mirroring the flat flavor's compact + rebuild pair; no
    // compact rows appear for it
    assert(over.keySet ===
      Set(("s", "fold"), ("s", "purge"), ("s", "purge_age"),
        ("s", "rederive_params"), ("s", "reap")))
  }

  test("purge: DEBT-BANDED for the appendable flavor (r18) — sub-band " +
      "debt stays quiet (deletion is already honored logically by the " +
      "serving anti-join), the integer band and the absolute floor gate " +
      "the physical rewrite, and the AGE bound fires on aged sub-band " +
      "debt so the erasure SLA stays bounded") {
    // sub-band: 7 marks of 100 rows is 7% but below the 64-mark floor
    val subFloor = sched(LayoutFacts("s", "appendable_index", 10, 4, 2, 100,
      -1, 4, 4, tombstones = 7))
    assert(subFloor(("s", "purge")) === ((false, "none")))
    assert(subFloor(("s", "purge_age")) === ((false, "none")))
    // above the floor but inside the band: 100 marks of 1M rows (0.01%)
    val subBand = sched(LayoutFacts("s", "appendable_index", 10, 4, 2,
      1000000, -1, 4, 4, tombstones = 100))
    assert(subBand(("s", "purge")) === ((false, "none")))
    // band breach: 100 marks * 64 > 1000 rows — the scoped purge fires
    val owing = sched(LayoutFacts("s", "appendable_index", 10, 4, 2, 1000,
      -1, 4, 4, tombstones = 100))
    assert(owing(("s", "purge")) === ((true, "purge_index_tombstones")))
    // the band edge is exclusive both ways: 64*t == n stays quiet
    val atEdge = sched(LayoutFacts("s", "appendable_index", 10, 4, 2,
      64 * 100, -1, 4, 4, tombstones = 100))
    assert(atEdge(("s", "purge")) === ((false, "none")))
    // aged sub-band debt fires through the AGE row (same bound tool —
    // tick's (layout, action) dedup runs the purge once if both fire)
    val aged = sched(LayoutFacts("s", "appendable_index", 10, 4, 2,
      1000000, -1, 4, 4, tombstones = 100,
      tombstone_age = Maintenance.PurgeMaxAgeSec + 1))
    assert(aged(("s", "purge")) === ((false, "none")))
    assert(aged(("s", "purge_age")) === ((true, "purge_index_tombstones")))
    // young debt stays quiet on the age row; -1 (no debt / not gathered)
    // too
    val young = sched(LayoutFacts("s", "appendable_index", 10, 4, 2,
      1000000, -1, 4, 4, tombstones = 100,
      tombstone_age = Maintenance.PurgeMaxAgeSec))
    assert(young(("s", "purge_age")) === ((false, "none")))
    // directory layouts stay ANY-debt-triggered: purgeIvfTombstones is
    // already cid-scoped, there is no O(base) to band away
    val ivfOwing = sched(LayoutFacts("v", "ivf_layout", -1, -1, -1, 100,
      10, 4, 4, tombstones = 3))
    assert(ivfOwing(("v", "purge")) === ((true, "purge_ivf_tombstones")))
  }

  test("rebalance: fires when the hottest IVF partition exceeds " +
      "RebalanceHotFactor x its fair share (occ_max*k > 4*n)") {
    // k=10, n=1000: fair share 100; occ_max=400 is exactly 4x -> quiet
    val at = sched(LayoutFacts("v", "ivf_layout", -1, -1, -1,
      n_entries = 1000, occ_max = 400, keyspace_actual = 10,
      keyspace_target = 10))
    assert(at(("v", "rebalance")) === ((false, "none")))
    val over = sched(LayoutFacts("v", "ivf_layout", -1, -1, -1,
      1000, 401, 10, 10))
    assert(over(("v", "rebalance")) === ((true, "rebuild_layout")))
  }

  test("rederive_params: fires only when the keyspace leaves the 2x " +
      "ratio band around the corpus-derived target — in-band drift " +
      "(including the ivfK ±1-per-~2√n-rows flap) stays quiet; a >2x " +
      "breach triggers, both directions, both kinds") {
    // OUT of band: actual far below target (corpus quadrupled since the
    // build: 2*64 < 256) and far above it (corpus shrank: 40 > 2*16)
    val breached = sched(
      LayoutFacts("a", "bucketed_index", 10, 64, -1, 1000, -1,
        keyspace_actual = 64, keyspace_target = 256),
      LayoutFacts("v", "ivf_layout", -1, -1, -1, 1000, 100,
        keyspace_actual = 40, keyspace_target = 16))
    assert(breached(("a", "rederive_params")) ===
      ((true, "rebuild_with_derived_params")))
    assert(breached(("v", "rederive_params")) ===
      ((true, "rebuild_with_derived_params")))
    // IN band: exact match, a ±1 drift (the continuous-ingest flap an
    // exact-match trigger would rebuild on), and the 2x edges themselves
    // (band inclusive: actual == 2*target and 2*actual == target)
    val inBand = sched(
      LayoutFacts("a", "bucketed_index", 10, 64, -1, 1000, -1, 64, 64),
      LayoutFacts("b", "bucketed_index", 10, 64, -1, 1000, -1, 64, 65),
      LayoutFacts("c", "ivf_layout", -1, -1, -1, 1000, 100, 17, 16),
      LayoutFacts("d", "ivf_layout", -1, -1, -1, 1000, 100, 32, 16),
      LayoutFacts("e", "ivf_layout", -1, -1, -1, 1000, 100, 16, 32))
    Seq("a", "b", "c", "d", "e").foreach { l =>
      assert(inBand((l, "rederive_params")) === ((false, "none")), l)
    }
    // just past the inclusive edges: fires
    val justOut = sched(
      LayoutFacts("f", "ivf_layout", -1, -1, -1, 1000, 100, 33, 16),
      LayoutFacts("g", "ivf_layout", -1, -1, -1, 1000, 100, 16, 33))
    assert(justOut(("f", "rederive_params")) ===
      ((true, "rebuild_with_derived_params")))
    assert(justOut(("g", "rederive_params")) ===
      ((true, "rebuild_with_derived_params")))
  }

  test("tick closes the loop: planted decay triggers fold + compact, the " +
      "bound tools run in deterministic order, the re-audit is quiet, and " +
      "no rows are lost") {
    import graft.sources.Sources
    import graft.streaming.Streaming
    graft.sim.Similarity.ensureRegistered(spark)
    val planes = 5; val tables = 2; val buckets = 4
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    // appendable index decayed to 9 live batch partitions (> 8: fold due)
    spark.sql("DROP TABLE IF EXISTS g_tick_ap_idx")
    val tmp = java.nio.file.Files.createTempDirectory("g_tick").toString
    Streaming.createAppendableIndex(spark, "g_tick_ap_idx", s"$tmp/ap", buckets)
    (0 until 9).foreach { b =>
      Streaming.appendIndexBatch(eSlim.filter(col("vec_id") % 9 === b),
        b.toLong, "g_tick_ap_idx", planes, tables)
    }
    // flat bucketed index with 3 write generations (files > 2x buckets:
    // compact due)
    spark.sql("DROP TABLE IF EXISTS g_tick_flat_idx")
    val signed = graft.sim.Similarity.indexedRelation(eSlim, planes, tables)
    Sources.writeBucketed(signed, "g_tick_flat_idx", s"$tmp/flat", "sig", buckets)
    signed.write.insertInto("g_tick_flat_idx")
    signed.write.insertInto("g_tick_flat_idx")

    def factsNow() = Seq(
      LayoutFacts("flat", "bucketed_index",
        Sources.countTableDataFiles(spark, "g_tick_flat_idx").toLong,
        buckets.toLong, -1L, spark.table("g_tick_flat_idx").count(), -1L,
        buckets.toLong, buckets.toLong),
      LayoutFacts("ap", "appendable_index",
        Sources.countTableDataFiles(spark, "g_tick_ap_idx").toLong,
        buckets.toLong,
        spark.table("g_tick_ap_idx").filter(col("batch_id") >= 0)
          .select(col("batch_id")).distinct().count(),
        spark.table("g_tick_ap_idx").count(), -1L,
        buckets.toLong, buckets.toLong))

    val rowsBefore = (spark.table("g_tick_flat_idx").count(),
      spark.table("g_tick_ap_idx").count())
    val before = Maintenance.schedule(factsNow().toDF())
    assert(before.filter(col("triggered")).count() === 2, before.collect().mkString("\n"))
    // bindings via the r19 factory: compact reads key+buckets from the
    // table's own metadata; the fold bound is the committed head (static
    // table, so maxLiveBatch = 8)
    val ran = Maintenance.tick(before, Maintenance.defaultTools(spark,
      appendable = Map("ap" -> (("g_tick_ap_idx",
        () => Streaming.maxLiveBatch(spark, "g_tick_ap_idx")))),
      bucketed = Map("flat" -> "g_tick_flat_idx")))
    assert(ran === Seq(("ap", "fold", "fold_index_leveled", true),
      ("flat", "compact", "compact_bucketed", true)))
    val after = Maintenance.schedule(factsNow().toDF())
    assert(after.filter(col("triggered")).count() === 0,
      after.collect().mkString("\n"))
    // lossless: batches were disjoint vec_id slices, so the fold's
    // (sig, vec_id) dedup must not drop rows; compaction never does
    assert(spark.table("g_tick_flat_idx").count() === rowsBefore._1)
    assert(spark.table("g_tick_ap_idx").count() === rowsBefore._2)
  }

  test("tick runs each distinct (layout, action) ONCE when several checks " +
      "converge on it — purge + purge_age both bind " +
      "purge_index_tombstones — while DIFFERENT actions on one layout " +
      "each run (fold stays leveled) and the replay log keeps every " +
      "triggered check row") {
    // over-band AND over-age debt (both purge rows fire) PLUS partition
    // decay (a different action on the same layout must still run)
    val due = Maintenance.schedule(Seq(LayoutFacts("a", "appendable_index",
      10, 4, batch_partitions = 20, n_entries = 100, occ_max = -1,
      keyspace_actual = 4, keyspace_target = 4, tombstones = 100,
      tombstone_age = Maintenance.PurgeMaxAgeSec + 5)).toDF())
    var purges = 0; var folds = 0
    val ran = Maintenance.tick(due, Map(
      ("a", "purge_index_tombstones") -> (() => { purges += 1 }),
      ("a", "fold_index_leveled") -> (() => { folds += 1 })))
    assert(purges === 1, "one purge, not one per converging check")
    assert(folds === 1, "a distinct action on the same layout must run")
    // the executed flag distinguishes the row that ran the tool from the
    // row satisfied by the earlier row's run — the one thing a replayed
    // log must preserve
    assert(ran === Seq(("a", "fold", "fold_index_leveled", true),
      ("a", "purge", "purge_index_tombstones", true),
      ("a", "purge_age", "purge_index_tombstones", false)))
  }

  test("oldRebuildGenerations survives the rebuild crash window (table " +
      "dropped, staging present) — the audit anchors on the staging " +
      "instead of throwing exactly when byproduct visibility matters") {
    import graft.streaming.Streaming
    val tbl = "g_reap_crashwin_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_rebuild")
    val tmp = java.nio.file.Files.createTempDirectory("g_reap_cw").toString
    // the crash state: only the staging table exists (DROP ran, RENAME
    // did not), plus one dead generation dir in the namespace
    Streaming.createAppendableIndex(spark, s"${tbl}_rebuild",
      s"$tmp/${tbl}_rb2", buckets = 4)
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$tmp/${tbl}_rb1"))
    val dead = Streaming.oldRebuildGenerations(spark, tbl)
    assert(dead.length === 1 && dead.head.endsWith("_rb1"), dead.toString)
    // with NEITHER table present the audit fails LOUD — a mistyped or
    // stale table name must not read as zero debt
    spark.sql(s"DROP TABLE ${tbl}_rebuild")
    val ex = intercept[RuntimeException] {
      Streaming.oldRebuildGenerations(spark, tbl)
    }
    assert(ex.getMessage.contains("neither"), ex.getMessage)
  }

  test("tick refuses a triggered decision with no bound tool") {
    val due = Maintenance.schedule(Seq(LayoutFacts("x", "appendable_index",
      10, 4, batch_partitions = 99, n_entries = 10, occ_max = -1,
      keyspace_actual = 4, keyspace_target = 4)).toDF())
    val ex = intercept[RuntimeException] { Maintenance.tick(due, Map.empty) }
    assert(ex.getMessage.contains("no tool bound"), ex.getMessage)
  }

  test("tick closes the loop for directory layouts too: tombstone debt " +
      "triggers purge_ivf_tombstones, the bound purge runs, the re-audit " +
      "is quiet and the marks are gone") {
    import spark.implicits._
    graft.sim.Similarity.ensureRegistered(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val idxDir = java.nio.file.Files.createTempDirectory("g_tick_ivf")
      .toString + "/layout"
    val e = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 40)
    graft.sim.Similarity.ivfCentroids(e, 4, iters = 1)
      .write.parquet(s"$idxDir/centroids")
    val cd = spark.read.parquet(s"$idxDir/centroids")
    graft.sim.Similarity.assignToCentroid(e, cd)
      .write.partitionBy("cid").parquet(s"$idxDir/assigned")
    graft.sim.Similarity.tombstoneIvfRows(spark, idxDir,
      e.filter(col("vec_id") < 5))
    def factsNow() = {
      val occ = graft.sim.Similarity.ivfLayoutOccupancies(spark, idxDir)
        .agg(sum(col("occ")), max(col("occ"))).head()
      Seq(LayoutFacts("v", "ivf_layout", -1, -1, -1,
        occ.getLong(0), occ.getLong(1), 4, 4,
        tombstones = Maintenance.sidecarTombstones(spark, idxDir)))
    }
    val before = Maintenance.schedule(factsNow().toDF())
    assert(before.filter(col("triggered") &&
      col("check") === "purge").count() === 1)
    // the directory-kind bindings via the r19 factory
    val ran = Maintenance.tick(before,
      Maintenance.defaultTools(spark, directory = Map("v" -> idxDir)))
    assert(ran === Seq(("v", "purge", "purge_ivf_tombstones", true)))
    val after = Maintenance.schedule(factsNow().toDF())
    assert(after.filter(col("triggered")).count() === 0,
      after.collect().mkString("\n"))
    assert(spark.read.parquet(s"$idxDir/assigned")
      .filter(col("vec_id") < 5).count() === 0)
  }

  test("quantized-layout deletion debt closes the same loop: a q160-style " +
      "sidecar mark in a qcode layout triggers purge_ivf_tombstones, the " +
      "payload-agnostic purge rewrites tinyint codes, and the re-audit is " +
      "quiet") {
    import spark.implicits._
    graft.sim.Similarity.ensureRegistered(spark)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val idxDir = java.nio.file.Files.createTempDirectory("g_tick_sqivf")
      .toString + "/layout"
    val e = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 40)
    graft.sim.Similarity.ivfCentroids(e, 4, iters = 1)
      .write.parquet(s"$idxDir/centroids")
    e.select(posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("pos").as("dim"), col("xf").cast("double").as("x"))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .coalesce(1).write.parquet(s"$idxDir/stats")
    val cd = spark.read.parquet(s"$idxDir/centroids")
    val stats = graft.sim.Similarity.sqStatsLocal(spark, s"$idxDir/stats")
    graft.sim.Similarity.assignToCentroid(e, cd)
      .select(col("vec_id"),
        graft.sim.Similarity.quantizeExpr(col("embedding"), stats).as("qcode"),
        col("cid"))
      .write.partitionBy("cid").parquet(s"$idxDir/assigned")
    graft.sim.Similarity.tombstoneIvfRows(spark, idxDir,
      e.filter(col("vec_id") < 5))
    def factsNow() = {
      val occ = graft.sim.Similarity.ivfLayoutOccupancies(spark, idxDir)
        .agg(sum(col("occ")), max(col("occ"))).head()
      Seq(LayoutFacts("sqv", "ivf_layout", -1, -1, -1,
        occ.getLong(0), occ.getLong(1), 4, 4,
        tombstones = Maintenance.sidecarTombstones(spark, idxDir)))
    }
    val before = Maintenance.schedule(factsNow().toDF())
    assert(before.filter(col("triggered") &&
      col("check") === "purge").count() === 1)
    val ran = Maintenance.tick(before, Map(
      ("sqv", "purge_ivf_tombstones") -> (() => {
        graft.sim.Similarity.purgeIvfTombstones(spark, idxDir); ()
      })))
    assert(ran === Seq(("sqv", "purge", "purge_ivf_tombstones", true)))
    val after = Maintenance.schedule(factsNow().toDF())
    assert(after.filter(col("triggered")).count() === 0,
      after.collect().mkString("\n"))
    val assigned = spark.read.parquet(s"$idxDir/assigned")
    assert(assigned.filter(col("vec_id") < 5).count() === 0)
    // the rewrite preserved the quantized payload column and its type
    assert(assigned.schema("qcode").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = true))
    assert(assigned.count() === 35)
  }

  test("appendable deletion debt closes the loop through the SCOPED " +
      "purge (r18): over-band debt triggers purge_index_tombstones, the " +
      "victim partitions rewrite, marks and their landing stamps retire, " +
      "and the re-audit is quiet — no base fold anywhere") {
    import graft.streaming.Streaming
    graft.sim.Similarity.ensureRegistered(spark)
    val planes = 5; val tables = 2
    val tbl = "g_scoped_purge_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val tmp = java.nio.file.Files.createTempDirectory("g_scoped").toString
    Streaming.createAppendableIndex(spark, tbl, s"$tmp/idx", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 120)
    (0 until 3).foreach { b =>
      Streaming.appendIndexBatch(
        eSlim.filter(col("vec_id") >= b * 40 && col("vec_id") < (b + 1) * 40),
        b.toLong, tbl, planes, tables)
    }
    // consolidate batches 0,1 into a generation; batch 2 stays live
    Streaming.foldIndexLeveled(spark, tbl, uptoBatch = 1L)
    // 35 victims x 2 tables = 70 marks: above the 64-mark floor, and
    // 70*64 = 4480 > n_entries — the band breaches
    Streaming.tombstoneIndexRows(spark, tbl,
      eSlim.filter(col("vec_id") < 35), planes, tables, epoch = 1000L)
    def factsNow() = Seq(LayoutFacts("ap", "appendable_index",
      graft.sources.Sources.countTableDataFiles(spark, tbl).toLong, 4L,
      spark.table(tbl).filter(col("batch_id") >= 0)
        .select(col("batch_id")).distinct().count(),
      spark.table(tbl).count(), -1L, 4L, 4L,
      tombstones = spark.table(tbl)
        .filter(col("batch_id") === graft.sim.Similarity.TombstoneBatchId)
        .count(),
      tombstone_age =
        Streaming.appendableTombstoneAge(spark, tbl, now = 2000L)))
    val before = Maintenance.schedule(factsNow().toDF())
    assert(before.filter(col("triggered") && col("check") === "purge")
      .count() === 1, before.collect().mkString("\n"))
    // the debt is young (age 1000 < bound), so only the band row fires
    assert(before.filter(col("triggered") && col("check") === "purge_age")
      .count() === 0)
    val ran = Maintenance.tick(before, Map(
      ("ap", "purge_index_tombstones") -> (() => {
        Streaming.purgeIndexTombstones(spark, tbl); ()
      })))
    assert(ran === Seq(("ap", "purge", "purge_index_tombstones", true)))
    val after = Maintenance.schedule(factsNow().toDF())
    assert(after.filter(col("triggered")).count() === 0,
      after.collect().mkString("\n"))
    // victims physically gone, marks and stamps retired, survivors intact
    assert(spark.table(tbl).filter(col("vec_id") < 35).count() === 0)
    assert(spark.table(tbl).count() === 85L * tables)
    assert(Streaming.appendableTombstoneAge(spark, tbl, now = 2000L) === -1L)
  }

  test("appendableLayoutFacts: the debt-band denominator counts DATA " +
      "rows only — marks (the -3 partition) never inflate n_entries — " +
      "and the gathered facts agree with the table measured directly") {
    import graft.streaming.Streaming
    graft.sim.Similarity.ensureRegistered(spark)
    val planes = 5; val tables = 2
    val tbl = "g_facts_denom_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val tmp = java.nio.file.Files.createTempDirectory("g_denom").toString
    Streaming.createAppendableIndex(spark, tbl, s"$tmp/idx", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 40)
    (0 until 2).foreach { b =>
      Streaming.appendIndexBatch(
        eSlim.filter(col("vec_id") >= b * 20 && col("vec_id") < (b + 1) * 20),
        b.toLong, tbl, planes, tables)
    }
    Streaming.tombstoneIndexRows(spark, tbl,
      eSlim.filter(col("vec_id") < 3), planes, tables, epoch = 500L)
    val f = Maintenance.appendableLayoutFacts(spark, "d", tbl, 4L,
      now = 600L)
    val tombId = graft.sim.Similarity.TombstoneBatchId
    val dataRows = spark.table(tbl)
      .filter(col("batch_id") =!= tombId).count()
    val markRows = spark.table(tbl)
      .filter(col("batch_id") === tombId).count()
    assert(markRows === 3L * tables)
    assert(f.n_entries === dataRows,
      "n_entries must exclude the mark partition")
    assert(f.n_entries === 40L * tables)
    assert(f.tombstones === markRows)
    assert(f.batch_partitions === 2L)
    assert(f.keyspace_actual === 4L)
    assert(f.tombstone_age === 100L)
  }

  test("purge_age on LIVE-batch-resident victims: the plain scoped purge " +
      "is a bounded no-op forever (fold never independently triggers on " +
      "a low-traffic table), the CONVERGING purge folds the committed " +
      "head and erases in one tick — bound by defaultTools") {
    import graft.streaming.Streaming
    graft.sim.Similarity.ensureRegistered(spark)
    val planes = 5; val tables = 2
    val tbl = "g_converge_purge_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val tmp = java.nio.file.Files.createTempDirectory("g_converge").toString
    Streaming.createAppendableIndex(spark, tbl, s"$tmp/idx", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 30)
    // 3 live batches, NEVER folded: fold (>8 partitions) cannot trigger
    (0 until 3).foreach { b =>
      Streaming.appendIndexBatch(
        eSlim.filter(col("vec_id") >= b * 10 && col("vec_id") < (b + 1) * 10),
        b.toLong, tbl, planes, tables)
    }
    // sub-band trickle debt (2 victims x 2 tables = 4 marks < 64 floor),
    // aged past the SLA — exactly the ADVICE scenario
    Streaming.tombstoneIndexRows(spark, tbl,
      eSlim.filter(col("vec_id").isin(7L, 23L)), planes, tables,
      epoch = 1000L)
    val now = 1000L + Maintenance.PurgeMaxAgeSec + 1L
    def factsNow() = Seq(
      Maintenance.appendableLayoutFacts(spark, "lt", tbl, 4L, now))
    val due = Maintenance.schedule(factsNow().toDF())
    assert(due.filter(col("triggered") && col("check") === "purge")
      .count() === 0, "sub-band debt stays off the band row")
    assert(due.filter(col("triggered") && col("check") === "fold")
      .count() === 0, "3 live partitions never trigger the fold")
    assert(due.filter(col("triggered") && col("check") === "purge_age")
      .count() === 1, due.collect().mkString("\n"))
    // the PLAIN purge: victims all live-resident -> nothing rewritten,
    // marks survive and re-land, the SLA row would fire again next tick
    val plain = Streaming.purgeIndexTombstones(spark, tbl)
    assert(plain === ((0L, 0L)))
    assert(Maintenance.schedule(factsNow().toDF())
      .filter(col("triggered") && col("check") === "purge_age")
      .count() === 1, "the no-op purge leaves the SLA owing")
    // the CONVERGING purge via defaultTools: fold committed head, erase
    val ran = Maintenance.tick(Maintenance.schedule(factsNow().toDF()),
      Maintenance.defaultTools(spark, appendable = Map(
        "lt" -> ((tbl, () => Streaming.maxLiveBatch(spark, tbl))))))
    assert(ran === Seq(("lt", "purge_age", "purge_index_tombstones", true)))
    assert(Maintenance.schedule(factsNow().toDF())
      .filter(col("triggered")).count() === 0,
      "the SLA converges in the tick that fired it")
    // victims physically gone, marks and stamps retired, survivors whole
    assert(spark.table(tbl).filter(col("vec_id").isin(7L, 23L))
      .count() === 0)
    assert(spark.table(tbl).count() === 28L * tables)
    assert(Streaming.appendableTombstoneAge(spark, tbl, now) === -1L)
    // serving still bucket-prunes over the folded layout
    val probes = eSlim.filter(col("vec_id") === 7L)
      .select(lit(42L).as("qid"), col("embedding"))
    val served = graft.sim.Similarity.probeIndex(spark, tbl, probes,
      planes, tables)
    served.collect().foreach(r =>
      assert(r.getAs[Long]("retrieved_id") !== 7L, r.toString))
  }

  test("epoch-sidecar crash windows converge at the next writer: a crash " +
      "between the rename-aside and the publish (committed staging, no " +
      "live sidecar) resumes from the staging; a crash before the " +
      "staging rename restores the retired copy — stamps survive either " +
      "way instead of dying with a delete-then-rename publish") {
    import graft.streaming.Streaming
    graft.sim.Similarity.ensureRegistered(spark)
    val planes = 5; val tables = 2
    val tbl = "g_sidecar_crash_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val tmp = java.nio.file.Files.createTempDirectory("g_sidecar").toString
    Streaming.createAppendableIndex(spark, tbl, s"$tmp/idx", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 20)
    Streaming.appendIndexBatch(eSlim, 0L, tbl, planes, tables)
    Streaming.tombstoneIndexRows(spark, tbl,
      eSlim.filter(col("vec_id") < 2), planes, tables, epoch = 1000L)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecar = new org.apache.hadoop.fs.Path(loc, "_tombstone_epochs")
    val staging = new org.apache.hadoop.fs.Path(loc,
      "_tombstone_epochs_staging")
    val retiring = new org.apache.hadoop.fs.Path(loc,
      "_tombstone_epochs_retiring")
    assert(Streaming.appendableTombstoneAge(spark, tbl, now = 1500L) === 500L)

    // crash state A: staging committed, sidecar renamed aside (crash
    // between the two renames)
    spark.read.parquet(sidecar.toString)
      .write.parquet(staging.toString)
    assert(fs.rename(sidecar, retiring))
    // the READ path stays a pure observer: missing stamps read as
    // infinitely old (conservative), no mutation on sight
    assert(Streaming.appendableTombstoneAge(spark, tbl, now = 1500L) === 1500L)
    assert(!fs.exists(sidecar) && fs.exists(staging) && fs.exists(retiring))
    // the next WRITER converges at entry: a purge whose victims are all
    // live-resident retires nothing, so the stamps must survive it
    Streaming.purgeIndexTombstones(spark, tbl)
    assert(fs.exists(sidecar) && !fs.exists(staging) && !fs.exists(retiring))
    assert(Streaming.appendableTombstoneAge(spark, tbl, now = 1500L) === 500L)

    // crash state B: only the retired copy survives (no committed staging)
    assert(fs.rename(sidecar, retiring))
    Streaming.purgeIndexTombstones(spark, tbl)
    assert(fs.exists(sidecar) && !fs.exists(retiring))
    assert(Streaming.appendableTombstoneAge(spark, tbl, now = 1500L) === 500L)

    // crash state C: a mark LANDING inside the window is a sidecar
    // writer too — appending without converging first would re-create
    // the sidecar with only the new stamp, and the next converge would
    // then delete the retired copy holding every pre-crash stamp
    assert(fs.rename(sidecar, retiring))
    Streaming.tombstoneIndexRows(spark, tbl,
      eSlim.filter(col("vec_id") === 5L), planes, tables, epoch = 1400L)
    assert(fs.exists(sidecar) && !fs.exists(retiring))
    // oldest standing debt is still the PRE-crash landing (epoch 1000),
    // not the fresh stamp — the old stamps survived the landing
    assert(Streaming.appendableTombstoneAge(spark, tbl, now = 1500L) === 500L)

    // crash state D (r19 ADVICE): a committed-but-EMPTY staging husk
    // (_SUCCESS landed, zero data files — schema-less) must not be
    // resumed over the retiring copy: renaming it in would discard every
    // retiring stamp on the implicit invariant that an empty semi-join
    // means all their marks retired. The converge makes the conservative
    // choice explicit — restore the retired copy (stale stamps only age
    // debt upward) and clear the husk as debris
    assert(fs.rename(sidecar, retiring))
    fs.mkdirs(staging)
    fs.create(new org.apache.hadoop.fs.Path(staging, "_SUCCESS")).close()
    Streaming.purgeIndexTombstones(spark, tbl)
    assert(fs.exists(sidecar) && !fs.exists(staging) && !fs.exists(retiring))
    assert(Streaming.appendableTombstoneAge(spark, tbl, now = 1500L) === 500L)
  }

  test("appendableTombstoneAge refuses a non-appendable layout loudly " +
      "(the maintenance-op layout-shape rule)") {
    import graft.streaming.Streaming
    spark.sql("DROP TABLE IF EXISTS g_age_guard_plain")
    spark.range(5).write.saveAsTable("g_age_guard_plain")
    val ex = intercept[IllegalArgumentException] {
      Streaming.appendableTombstoneAge(spark, "g_age_guard_plain", 100L)
    }
    assert(ex.getMessage.contains("appendable"), ex.getMessage)
  }

  test("every appendable-index op refuses a plain table loudly and " +
      "leaves its files untouched (one layout guard for writers and fact " +
      "gathers alike)") {
    import graft.streaming.Streaming
    val tbl = "g_layout_guard_plain"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_rebuild")
    spark.range(5).write.saveAsTable(tbl)
    val vecs = Seq((1L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val docs = Seq((1L, "one two three four")).toDF("doc_id", "text")
    val ops: Seq[(String, () => Any)] = Seq(
      "appendIndexBatch" -> (() =>
        Streaming.appendIndexBatch(vecs, 0L, tbl, 5, 2)),
      "appendBandBatch" -> (() => Streaming.appendBandBatch(docs, 0L, tbl)),
      "tombstoneIndexRows" -> (() =>
        Streaming.tombstoneIndexRows(spark, tbl, vecs, 5, 2)),
      "tombstoneBandRows" -> (() =>
        Streaming.tombstoneBandRows(spark, tbl, docs)),
      "foldIndexBase" -> (() => Streaming.foldIndexBase(spark, tbl, 0L)),
      "foldIndexLeveled" -> (() => Streaming.foldIndexLeveled(spark, tbl, 0L)),
      "purgeIndexTombstones" -> (() =>
        Streaming.purgeIndexTombstones(spark, tbl)),
      "purgeIndexTombstonesConverging" -> (() =>
        Streaming.purgeIndexTombstonesConverging(spark, tbl, 0L)),
      "rebuildAppendableIndex" -> (() =>
        Streaming.rebuildAppendableIndex(spark, tbl, 4)),
      "appendableTombstoneAge" -> (() =>
        Streaming.appendableTombstoneAge(spark, tbl, 100L)),
      "appendableLayoutFacts" -> (() =>
        Maintenance.appendableLayoutFacts(spark, "plain", tbl, 4L, 100L)))
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files() = {
      val it = fs.listFiles(loc, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toSet
    }
    val before = files()
    ops.foreach { case (name, op) =>
      val ex = intercept[IllegalArgumentException](op())
      assert(ex.getMessage.contains("appendable"), s"$name: ${ex.getMessage}")
      assert(files() === before, s"$name changed the table's files")
    }
    assert(spark.table(tbl).count() === 5L)
  }

  test("rebuild byproducts surface in the schedule and their tools close " +
      "the loop: a dead _rb generation triggers reap (live and staging " +
      "locations excluded), an orphaned-tombstone slot triggers reissue " +
      "(still-present victims re-hidden under live routing, absent ids " +
      "dropped), and the re-audit goes quiet") {
    import spark.implicits._
    import graft.streaming.Streaming
    graft.sim.Similarity.ensureRegistered(spark)
    val planes = 5; val tables = 2
    // --- appendable table: two rebuilds leave one dead generation
    val tbl = "g_reap_ap_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_rebuild")
    val tmp = java.nio.file.Files.createTempDirectory("g_reap").toString
    Streaming.createAppendableIndex(spark, tbl, s"$tmp/ap", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 30)
    Streaming.appendIndexBatch(eSlim, 0L, tbl, planes, tables)
    Streaming.rebuildAppendableIndex(spark, tbl, 4)
    Streaming.rebuildAppendableIndex(spark, tbl, 8)
    // TWO dead generations: the first rebuild's output (_rb1) AND the
    // original caller-chosen location, which the first rebuild renamed
    // into the generation namespace (_rb2) — previously the original
    // corpus bytes were invisible to the reap check forever
    val dead = Streaming.oldRebuildGenerations(spark, tbl)
    assert(dead.length === 2 && dead.exists(_.endsWith("_rb1")) &&
      dead.exists(_.endsWith("_rb2")), dead.toString)
    // --- directory layout: plant an orphaned-tombstone slot (the state a
    // crashed in-place rebuild preserves aside), marks keyed by DEAD cids
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val idxDir = java.nio.file.Files.createTempDirectory("g_reissue")
      .toString + "/layout"
    val e40 = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 40)
    graft.sim.Similarity.ivfCentroids(e40, 4, iters = 1)
      .write.parquet(s"$idxDir/centroids")
    graft.sim.Similarity.assignToCentroid(e40,
        spark.read.parquet(s"$idxDir/centroids"))
      .write.partitionBy("cid").parquet(s"$idxDir/assigned")
    Seq((999L, 1L), (999L, 2L), (999L, 990099L))
      .toDF("cid", "vec_id")
      .write.parquet(s"${idxDir}_orphaned_tombstones/0")
    assert(graft.sim.Similarity.orphanedTombstoneSlots(spark, idxDir) === 1L)
    def factsNow() = Seq(
      LayoutFacts("ap", "appendable_index",
        graft.sources.Sources.countTableDataFiles(spark, tbl).toLong, 8L,
        0L, spark.table(tbl).count(), -1L, 8L, 8L, tombstones = 0L,
        rb_old_generations =
          Streaming.oldRebuildGenerations(spark, tbl).length.toLong),
      LayoutFacts("v", "ivf_layout", -1, -1, -1, 40L, 20L, 4L, 4L,
        tombstones = Maintenance.sidecarTombstones(spark, idxDir),
        orphan_slots =
          graft.sim.Similarity.orphanedTombstoneSlots(spark, idxDir)))
    val before = Maintenance.schedule(factsNow().toDF())
    assert(before.filter(col("triggered") && col("check") === "reap")
      .count() === 1)
    assert(before.filter(col("triggered") && col("check") === "reissue")
      .count() === 1)
    val ran = Maintenance.tick(before, Map(
      ("ap", "reap_rebuild_generations") -> (() => {
        Streaming.reapRebuildGenerations(spark, tbl); ()
      }),
      ("v", "reissue_orphaned_tombstones") -> (() => {
        graft.sim.Similarity.reissueOrphanedTombstones(spark, idxDir); ()
      })))
    assert(ran === Seq(("ap", "reap", "reap_rebuild_generations", true),
      ("v", "reissue", "reissue_orphaned_tombstones", true)))
    // reap: dead generation gone, live table intact and serving
    assert(Streaming.oldRebuildGenerations(spark, tbl).isEmpty)
    assert(spark.table(tbl).count() === 30L * tables)
    // reissue: the slot retired; the two still-present victims are
    // re-keyed under LIVE routing (their own assigned cids, not 999) and
    // hidden from serving; the absent id landed nothing
    assert(graft.sim.Similarity.orphanedTombstoneSlots(spark, idxDir) === 0L)
    val marks = spark.read.parquet(s"$idxDir/tombstones").collect()
      .map(r => (r.getAs[Number]("cid").longValue(),
        r.getAs[Number]("vec_id").longValue())).sorted
    assert(marks.map(_._2).toSeq === Seq(1L, 2L), marks.mkString(","))
    assert(marks.forall(_._1 !== 999L), marks.mkString(","))
    val probes = e40.filter(col("vec_id").isin(1L, 2L))
      .select((col("vec_id") + 5000L).as("qid"), col("embedding"))
    graft.sim.Similarity.probeIvf(spark, idxDir, probes, nprobe = 4, live = true)
      .collect().foreach { r =>
        assert(r.getAs[Long]("retrieved_id") !== r.getAs[Long]("qid") - 5000L,
          r.toString)
      }
    // the re-audit: reap and reissue are quiet; the reissue converted
    // orphan debt into REGULAR mark debt by design, so purge now owes —
    // run it and the audit goes fully quiet with the victims physically
    // gone
    val mid = Maintenance.schedule(factsNow().toDF())
    assert(mid.filter(col("triggered") &&
      col("check").isin("reap", "reissue")).count() === 0)
    assert(mid.filter(col("triggered") && col("check") === "purge")
      .count() === 1)
    Maintenance.tick(mid, Map(("v", "purge_ivf_tombstones") -> (() => {
      graft.sim.Similarity.purgeIvfTombstones(spark, idxDir); ()
    })))
    assert(Maintenance.schedule(factsNow().toDF())
      .filter(col("triggered")).count() === 0)
    assert(spark.read.parquet(s"$idxDir/assigned")
      .filter(col("vec_id").isin(1L, 2L)).count() === 0)
  }

  test("keyspace drift on an appendable index closes the loop: rederive " +
      "triggers, tick runs rebuildAppendableIndex (marks honored by " +
      "exclusion, base re-bucketed at the derived count), the re-audit " +
      "is quiet and pruning rides the new layout") {
    import graft.streaming.Streaming
    graft.sim.Similarity.ensureRegistered(spark)
    val planes = 5; val tables = 2
    val tbl = "g_rederive_ap_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val tmp = java.nio.file.Files.createTempDirectory("g_rederive").toString
    Streaming.createAppendableIndex(spark, tbl, s"$tmp/stale", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 40)
    Streaming.appendIndexBatch(eSlim, 0L, tbl, planes, tables)
    val copies = eSlim.filter(col("vec_id") < 6)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    Streaming.appendIndexBatch(copies, 1L, tbl, planes, tables)
    Streaming.tombstoneIndexRows(spark, tbl,
      eSlim.filter(col("vec_id") < 6), planes, tables)
    def buckets() = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .bucketSpec.get.numBuckets.toLong
    def factsNow(target: Long) = Seq(LayoutFacts("ap", "appendable_index",
      graft.sources.Sources.countTableDataFiles(spark, tbl).toLong,
      buckets(), 2L, spark.table(tbl).count(), -1L, buckets(), target,
      tombstones = spark.table(tbl)
        .filter(col("batch_id") === graft.sim.Similarity.TombstoneBatchId)
        .count()))
    // target 9 vs built 4: past the inclusive 2x band edge (9 > 2*4), so
    // rederive fires; a target of exactly 8 would sit ON the edge and
    // stay quiet under the r17 deadband
    val before = Maintenance.schedule(factsNow(9L).toDF())
    assert(before.filter(col("triggered") &&
      col("check") === "rederive_params").count() === 1)
    Maintenance.tick(before, Map(
      ("ap", "rebuild_with_derived_params") -> (() => {
        Streaming.rebuildAppendableIndex(spark, tbl, 9); ()
      })))
    // the 12 outstanding marks sit below the r18 purge floor, so only
    // rederive fired — and the rebuild retires them anyway (deletion
    // honored by exclusion), which the re-audit below confirms
    assert(buckets() === 9L)
    assert(Maintenance.schedule(factsNow(9L).toDF())
      .filter(col("triggered")).count() === 0)
    // deleted rows are gone, live rows rebucketed losslessly
    assert(spark.table(tbl).filter(col("vec_id") < 6).count() === 0)
    assert(spark.table(tbl).count() === 40L * tables)
    // probes of deleted content flip to copies through the NEW buckets,
    // still bucket-pruned
    val probes = eSlim.filter(col("vec_id") < 6)
      .select((col("vec_id") + 5000L).as("qid"), col("embedding"))
    val served = graft.sim.Similarity.probeIndex(spark, tbl, probes,
      planes, tables)
    served.collect().foreach { r =>
      assert(r.getAs[Long]("retrieved_id") ===
        r.getAs[Long]("qid") - 5000L + 1000L, r.toString)
    }
    val plan = served.queryExecution.executedPlan.toString
    assert("SelectedBucketsCount: \\d+ out of 9".r.findFirstIn(plan).isDefined,
      plan.take(2000))
  }

  test("q155 live relation: one row per applicable (layout, check), facts " +
      "agreeing with the layouts measured independently, bit-stable") {
    val rows = Maintenance.q155MaintenanceSchedule(spark, Sf001).collect()
    val byKey = rows.map(r => (r.getAs[String]("layout"),
      r.getAs[String]("check")) -> r).toMap
    assert(byKey.keySet === Set(
      ("lsh_index", "compact"), ("lsh_index", "rederive_params"),
      ("ivf_base", "rebalance"), ("ivf_base", "rederive_params"),
      ("ivf_base", "purge"), ("ivf_base", "reissue"),
      ("appendable_index", "fold"), ("appendable_index", "purge"),
      ("appendable_index", "purge_age"),
      ("appendable_index", "rederive_params"),
      ("appendable_index", "reap"),
      ("band_index", "fold"), ("band_index", "purge"),
      ("band_index", "purge_age"),
      ("band_index", "rederive_params"), ("band_index", "reap"),
      ("sq_ivf", "rebalance"), ("sq_ivf", "rederive_params"),
      ("sq_ivf", "purge"), ("sq_ivf", "reissue"),
      ("sq_index", "compact"), ("sq_index", "rederive_params")))
    // no debt -> the age fact is -1 and the age rows are quiet
    Seq("appendable_index", "band_index").foreach { l =>
      assert(byKey((l, "purge_age")).getAs[Long]("observed") === -1L, l)
      assert(byKey((l, "purge_age")).getAs[Boolean]("triggered") === false, l)
    }
    // no deletions have been issued against any audited layout
    Seq("appendable_index", "ivf_base", "band_index", "sq_ivf").foreach { l =>
      assert(byKey((l, "purge")).getAs[Long]("observed") === 0L, l)
      assert(byKey((l, "purge")).getAs[Boolean]("triggered") === false, l)
    }
    // the quantized layouts' facts agree with the layouts themselves
    val sq = graft.sim.Similarity.ensureSqIndex(spark, Sf001)
    assert(byKey(("sq_index", "compact")).getAs[Long]("observed") ===
      graft.sources.Sources.countTableDataFiles(spark, sq.table).toLong)
    val (sqIvfDir, sqK) = graft.sim.Similarity.ensureSqIvfLayout(spark, Sf001)
    val sqOcc = graft.sim.Similarity.ivfLayoutOccupancies(spark, sqIvfDir)
      .agg(sum(col("occ")), max(col("occ"))).head()
    assert(byKey(("sq_ivf", "rebalance")).getAs[Long]("observed") ===
      sqOcc.getLong(1) * sqK)
    assert(byKey(("sq_ivf", "rederive_params")).getAs[Long]("observed") === 0L)
    assert(byKey(("sq_index", "rederive_params")).getAs[Long]("observed") === 0L)
    assert(byKey(("band_index", "fold")).getAs[Long]("observed") === 3L)
    // fold fact: exactly the 3 appended batch partitions
    assert(byKey(("appendable_index", "fold")).getAs[Long]("observed") === 3L)
    assert(byKey(("appendable_index", "fold")).getAs[Boolean]("triggered") === false)
    // a freshly derived layout is never parameter-drifted
    assert(byKey(("lsh_index", "rederive_params")).getAs[Long]("observed") === 0L)
    assert(byKey(("ivf_base", "rederive_params")).getAs[Long]("observed") === 0L)
    // rebalance observed/bound recomputed from the persisted layout itself
    val (ivfDir, k) = graft.sim.Similarity.ensureIvfLayout(spark, Sf001)
    val occ = graft.sim.Similarity.ivfLayoutOccupancies(spark, ivfDir)
      .agg(sum(col("occ")), max(col("occ"))).head()
    assert(byKey(("ivf_base", "rebalance")).getAs[Long]("observed") ===
      occ.getLong(1) * k)
    assert(byKey(("ivf_base", "rebalance")).getAs[Long]("bound") ===
      Maintenance.RebalanceHotFactor * occ.getLong(0))
    // compact fact: the real file count of the bucketed index table
    val (lshTbl, _, _) = graft.sim.Similarity.ensureLshIndex(spark, Sf001)
    assert(byKey(("lsh_index", "compact")).getAs[Long]("observed") ===
      graft.sources.Sources.countTableDataFiles(spark, lshTbl).toLong)
    // deterministic across invocations (pure function of persisted state)
    val again = Maintenance.q155MaintenanceSchedule(spark, Sf001).collect()
    assert(again.map(_.toSeq).toSeq === rows.map(_.toSeq).toSeq)
  }

  test("staging and sidecar reads log no `All paths were ignored` " +
      "warning: an appendable fold + purge and a directory purge read " +
      "their `_`-prefixed dirs through their non-hidden children") {
    import graft.streaming.Streaming
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    implicit val s: org.apache.spark.sql.SparkSession = spark
    graft.sim.Similarity.ensureRegistered(spark)
    val planes = 5; val tables = 2
    val tbl = "g_quiet_staging_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val tmp = java.nio.file.Files.createTempDirectory("g_quiet").toString
    Streaming.createAppendableIndex(spark, tbl, s"$tmp/idx", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 40)
    (0 until 2).foreach { b =>
      Streaming.appendIndexBatch(
        eSlim.filter(col("vec_id") % 2 === b), b.toLong, tbl, planes, tables)
    }
    val idxDir = s"$tmp/layout"
    graft.sim.Similarity.ivfCentroids(eSlim, 4, iters = 1)
      .write.parquet(s"$idxDir/centroids")
    graft.sim.Similarity.assignToCentroid(eSlim,
        spark.read.parquet(s"$idxDir/centroids"))
      .write.partitionBy("cid").parquet(s"$idxDir/assigned")
    val victims = eSlim.filter(col("vec_id") < 5)
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("g_quiet_capture", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit =
        warned.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, null, null)
    ctx.updateLoggers()
    try {
      // the capture sees DataSource's own logger
      LogManager.getLogger(
        "org.apache.spark.sql.execution.datasources.DataSource")
        .warn("g_quiet capture check")
      Streaming.foldIndexLeveled(spark, tbl, uptoBatch = 0L)
      Streaming.tombstoneIndexRows(spark, tbl, victims, planes, tables,
        epoch = 1000L)
      assert(Streaming.appendableTombstoneAge(spark, tbl, now = 1500L) === 500L)
      // victims 0, 2, 4 sit in the folded generation and are purged; the
      // marks of 1 and 3 (live batch 1) stand, so the epoch sync re-reads
      Streaming.purgeIndexTombstones(spark, tbl)
      graft.sim.Similarity.tombstoneIvfRows(spark, idxDir, victims)
      assert(graft.sim.Similarity.purgeIvfTombstones(spark, idxDir)._2 === 5L)
    } finally {
      root.removeAppender("g_quiet_capture")
      ctx.updateLoggers()
      capture.stop()
    }
    val msgs = warned.toArray.map(_.toString).toSeq
    assert(msgs.contains("g_quiet capture check"), msgs.mkString("\n"))
    assert(!msgs.exists(_.contains("All paths were ignored")),
      msgs.filter(_.contains("All paths were ignored")).mkString("\n"))
    val left = spark.table(tbl).filter(col("vec_id") < 5)
    assert(left.filter(col("batch_id") <= Streaming.GenerationBaseId)
      .count() === 0L)
    assert(left.filter(col("batch_id") >= 0).count() === 2L * tables)
    assert(spark.read.parquet(s"$idxDir/assigned").count() === 35L)
  }

  test("an appendable write that clears a partition drops it from the " +
      "catalog too: scans after a fold and a purge log no `was not " +
      "found` warning") {
    import graft.streaming.Streaming
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    graft.sim.Similarity.ensureRegistered(spark)
    val planes = 5; val tables = 2
    val tbl = "g_cleared_parts_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val tmp = java.nio.file.Files.createTempDirectory("g_cleared").toString
    Streaming.createAppendableIndex(spark, tbl, s"$tmp/idx", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf0001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 40)
    (0 until 3).foreach { b =>
      Streaming.appendIndexBatch(
        eSlim.filter(col("vec_id") % 3 === b), b.toLong, tbl, planes, tables)
    }
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("g_cleared_capture", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit =
        warned.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, null, null)
    ctx.updateLoggers()
    try {
      // the fold empties batch partitions 0 and 1; every victim then sits
      // in the folded generation, so the purge retires every mark and
      // empties the tombstone partition
      Streaming.foldIndexLeveled(spark, tbl, uptoBatch = 1L)
      Streaming.tombstoneIndexRows(spark, tbl,
        eSlim.filter(col("vec_id") % 3 =!= 2 && col("vec_id") < 10),
        planes, tables)
      Streaming.purgeIndexTombstones(spark, tbl)
      assert(spark.table(tbl).count() ===
        (40L - eSlim.filter(col("vec_id") % 3 =!= 2 && col("vec_id") < 10)
          .count()) * tables)
    } finally {
      root.removeAppender("g_cleared_capture")
      ctx.updateLoggers()
      capture.stop()
    }
    val msgs = warned.toArray.map(_.toString).toSeq
    assert(!msgs.exists(_.contains("was not found")),
      msgs.filter(_.contains("was not found")).mkString("\n"))
    // the catalog lists exactly the partitions that still have a dir
    val listed = spark.sql(s"SHOW PARTITIONS $tbl").collect()
      .map(_.getString(0)).toSet
    val onDisk = new java.io.File(s"$tmp/idx").list()
      .filter(_.startsWith("batch_id=")).toSet
    assert(listed === onDisk)
    assert(!listed.contains("batch_id=0") && !listed.contains("batch_id=1") &&
      !listed.contains(s"batch_id=${graft.sim.Similarity.TombstoneBatchId}"),
      listed.mkString(", "))
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The committed per-round WARM-time ledger (r11): cross-round regression
  * triage has burned judge+builder cycles three rounds running because
  * single-shot bench times on this host carry 2-10× noise (CPU-steal
  * episodes, cold-JIT rep1) — every "regression" list since r8 dissolved
  * under warm re-measurement. The fix is a ledger of WARM numbers the next
  * round can diff against instead of re-litigating cold readings:
  * [[record]] runs the q132 profiler ([[WarmCold.warmColdProfile]] — each
  * query executed twice, warm = rep2) over the standing watchlist and
  * appends one `round=<r>` partition to a parquet ledger dir committed in
  * the repo (`bench/warm_ledger`); [[regressions]] is the triage view —
  * per query, latest-round warm vs the previous recorded round.
  *
  * Triage rule (supersedes comparing bench JSON times across rounds): a
  * query is a real regression candidate only if its ledger warm time grew
  * >2× round-over-round; anything else is host noise until a warm
  * re-measure says otherwise. */
object WarmLedger {

  /** The standing watchlist: the dedup/clustering families that land in
    * `slow_confirmed` every bench run (their ~3 s standalone cost is the
    * shared-pairs recompute, not a regression — but a real plan break
    * would surface here first), the q96 bloom-gated incremental path, the
    * geo top-1 family (q52: one oracle flip per ~10k rows history), the
    * codec-bound q121, and r10's four below-retry-trigger upticks
    * (q48/q88/q89/q119 — kept to settle their noise-vs-real question with
    * warm data each round), and (r12) the approximate-index oracle family
    * q138-q140 plus the q141 endpoint mirror — index-machinery breaks
    * should surface warm here before they surface as oracle reds. */
  val watchlist: Seq[String] = Seq(
    "q24_ngram_jaccard", "q48_quality_filter", "q52_airport_proximity",
    "q59_dup_clusters", "q88_transitions", "q89_zorder_layout",
    "q96_incremental_dedup", "q104_dup_clusters_star",
    "q114_dedup_survivorship", "q115_cluster_safe_split",
    "q117_curation_export", "q118_incremental_clusters",
    "q119_image_neardup", "q121_video_decode", "q122_post_dedup_mixture",
    "q138_ann_planted", "q139_ivf_planted", "q140_simhash_planted",
    "q141_flight_summary",
    // r13: the persisted-index family + the weighted sampler — layout
    // build/reuse regressions surface warm here
    "q142_lsh_index_probe", "q143_ivf_partitioned_probe",
    "q144_weighted_sample", "q145_index_append_probe",
    "q146_ivf_append_probe", "q148_index_compact_probe",
    "q149_sq_index_probe", "q150_dedup_gate", "q151_text_gate_index",
    "q153_ingest_funnel",
    // r15: the quantized-IVF pair, the maintenance scheduler and the
    // deletion probes (first ledger rows land in r16 — the r15 partition
    // was recorded before these existed, by the record-first discipline)
    "q154_sq_ivf_probe", "q156_sq_ivf_append_probe",
    "q155_maintenance_schedule",
    "q157_index_delete_probe", "q158_text_delete_gate",
    "q159_ivf_delete_probe", "q160_sq_ivf_delete_probe",
    // r16: the maintenance rebuild trio (first ledger rows land in r17)
    "q161_ivf_rebuild_probe", "q162_index_rebuild_probe",
    "q163_sq_ivf_rebuild_probe",
    // r17: the leveled-fold serving probe (first ledger rows land in r18)
    "q164_leveled_fold_probe",
    // r18: the scoped-purge serving probe (first ledger rows land in r19)
    "q165_scoped_purge_probe",
    // r19: the r18 cold-anomaly cluster's two members with no warm
    // history (q12 0.55→3.96 s, q130 0.91→3.28 s cold in one noisy run
    // while the suite total dropped) — warm rows settle noise-vs-real
    "q12_rollup_orders", "q130_latency_profile",
    // r19: the converging-purge probe (first ledger rows land in r20 —
    // the r19 partition was recorded before it existed, record-first)
    "q166_converging_purge_probe")

  /** A reading is internally ANOMALOUS when its same-session rep2 ran
    * SLOWER than its rep1 (`warm_ms > cold_ms`): steady state can only be
    * ≤ first-run-with-codegen, so warm > cold means the warm rep was
    * clipped by a host stall — the number measures the host, not the plan.
    * The r19 partition committed exactly such a row (q141 warm 1718 >
    * cold 1139 ms, reading as a phantom 2.58× regression) and the round's
    * prose was written from a different, clean run — the instrument and
    * its evidence disagreed. STRICTLY greater: an exact millisecond tie is
    * structural for fast queries (a sub-ms query floors to cold=warm=1
    * every session) and is not stall evidence — `>=` would permanently
    * exclude such a query from the baseline. Backfilled rows with no
    * recorded cold (`cold_ms` null) are unknown, not anomalous. ONE rule,
    * two carriers: this Column (the read side — [[annotated]],
    * [[regressions]]' `!anomalousCond` baseline filter) and [[record]]'s
    * local `anom` predicate (the same comparison on driver-side Prof rows
    * at retry time) — refine BOTH together. */
  val anomalousCond: org.apache.spark.sql.Column =
    col("cold_ms").isNotNull && col("warm_ms") > col("cold_ms")

  /** The ledger with the derived `anomalous` flag — derived, not stored,
    * so every historical partition is annotated under one rule without
    * rewriting committed evidence. */
  def annotated(spark: SparkSession, ledgerDir: String): DataFrame =
    read(spark, ledgerDir).withColumn("anomalous", anomalousCond)

  /** Profile `names` at `dir` and write the round's partition. `source`
    * distinguishes profiler-measured rows from backfilled prose numbers
    * (r10's rows carry the warm times recorded in PLANS.md r10, with
    * nulls where only warm was written down). Anomalous readings
    * (warm > cold — see [[anomalousCond]]) are re-profiled up to
    * `retries` times before the partition is written. A retry runs in an
    * already-warm session, so its rep1 is NOT a cold reading: the row
    * keeps its ORIGINAL session-cold, and the warm estimate becomes the
    * MIN over every post-first-run execution observed (original warm +
    * both retry reps) — stall-clipped reps drop out of the min instead of
    * masquerading as steady state. A reading that stays anomalous after
    * retries is kept (the partition records what the host did) but
    * [[regressions]] never admits it to the baseline. Returns what it
    * wrote. */
  /** Half-up integer warmup share for a retried row. Guards `cold = 0`:
    * a sub-ms query rounds to cold_ms = 0 exactly when it profiles
    * anomalous, and the unguarded ratio divided by zero (r20 VERDICT
    * residual defect 2). Unchanged for every cold ≥ 1. */
  def warmupPct(coldMs: Long, warmBestMs: Long): Long = {
    val cold = math.max(1L, coldMs)
    (2 * math.max(0L, cold - warmBestMs) * 100 + cold) / (2 * cold)
  }

  /** The recording session's host-speed probe — the same fixed workload
    * as Bench's calibration (a distributed hash fold over a constant
    * range + a tiny parquet scan; duplicated here rather than shared so
    * the driver-contract Bench.scala stays untouched), in milliseconds.
    * Its nominal cost is constant across rounds, so the ratio of two
    * rounds' calib_ms is the host factor between their recording
    * sessions — the r21 partition carried a +15-80% hot-session factor
    * on untouched rows and weakened the next round's baseline; stamping
    * the factor lets [[regressions]] normalize it out. */
  private[graft] def calibrateMs(spark: SparkSession, dir: String): Long = {
    val t0 = System.nanoTime()
    spark.range(0L, 50000000L, 1L, 32)
      .select(xxhash64(col("id")).as("h")).agg(bit_xor(col("h"))).collect()
    val r = spark.read.parquet(s"$dir/region.parquet")
    r.select(xxhash64(struct(r.columns.toIndexedSeq.map(col): _*)).as("h"))
      .agg(bit_xor(col("h"))).collect()
    math.max(1L, (System.nanoTime() - t0) / 1000000L)
  }

  def record(spark: SparkSession, dir: String, round: String,
             ledgerDir: String,
             names: Seq[String] = watchlist,
             retries: Int = 2): DataFrame = {
    import spark.implicits._
    // a malformed tag would silently corrupt the triage artifact (the
    // regression view orders rounds by their numeric suffix)
    require(round.matches("r\\d+"),
      s"round tag must be r<N> (e.g. r11), got '$round'")
    calibrateMs(spark, dir) // untimed: JIT-warm the probe (the Bench rule)
    val calibMs = calibrateMs(spark, dir)
    // the driver-side twin of anomalousCond (profiler rows always carry a
    // real cold, so no null arm) — refine the two together
    def anom(p: WarmCold.Prof) = p.warm_ms > p.cold_ms
    var profs = WarmCold.profile(spark, dir, names)
    var attempt = 0
    while (attempt < retries && profs.exists(anom)) {
      val bad = profs.filter(anom).map(_.query_id)
      println(s"WarmLedger: re-profiling ${bad.size} anomalous " +
        s"(warm > cold) reading(s): ${bad.mkString(", ")}")
      val redo = WarmCold.profile(spark, dir, bad).map(p => p.query_id -> p).toMap
      profs = profs.map { p =>
        redo.get(p.query_id).fold(p) { r =>
          val warmBest = math.min(p.warm_ms, math.min(r.cold_ms, r.warm_ms))
          p.copy(warm_ms = warmBest,
            warmup_pct = warmupPct(p.cold_ms, warmBest),
            codegen_pct = r.codegen_pct, n_ops = r.n_ops)
        }
      }
      attempt += 1
    }
    profs.filter(anom).foreach(p => println(
      s"WarmLedger: ${p.query_id} still anomalous after $retries retries " +
        s"(cold ${p.cold_ms} ms, best post-first-run ${p.warm_ms} ms) — " +
        "recorded but excluded from the regression baseline"))
    val prof = profs.toDF().orderBy(col("query_id"))
      .withColumn("source", lit("profiler"))
      // the session host factor, constant across the partition (r22) —
      // pre-r22 partitions lack the column and read back null
      .withColumn("calib_ms", lit(calibMs))
    // one self-contained partition per round: re-running a round replaces
    // exactly that round's rows and can never touch another round's
    prof.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$ledgerDir/round=$round")
    prof
  }

  /** The whole ledger, `round` recovered from the partition dirs.
    * mergeSchema: pre-r22 partitions lack `calib_ms` — without the merge
    * the union schema is whichever file the reader samples first, and a
    * pre-r22 sample would silently drop every partition's calibration. A
    * ledger with NO calibrated partition yet still exposes the column
    * (all null) so [[regressions]] resolves against any history. */
  def read(spark: SparkSession, ledgerDir: String): DataFrame = {
    val df = spark.read.option("mergeSchema", "true").parquet(ledgerDir)
    if (df.columns.contains("calib_ms")) df
    else df.withColumn("calib_ms", lit(null).cast("long"))
  }

  /** Cross-round triage view: per query, the two most recent recorded
    * rounds' warm times and their ratio ×100 (integer, half-up). A row
    * only exists once a query has ≥2 recorded rounds; `regressed` flags
    * >2× growth — the rule that replaces cold-time re-litigation. Round
    * recency orders on the tag's NUMERIC suffix ([[record]] enforces the
    * r<N> shape), so r100 correctly follows r99. Anomalous readings
    * ([[anomalousCond]]: warm > cold, a clipped rep2) are excluded BEFORE
    * round selection — an anomalous latest round falls back to comparing
    * the two most recent CLEAN rounds, and an anomalous reading can never
    * become next round's `prev_warm_ms` baseline (the r19 q141 lesson).
    *
    * Known baseline moves (real added work, NOT regressions — the
    * BenchReportSpec canary pattern applied to the ledger):
    * q155_maintenance_schedule grew 1.36→2.44 s in r17 (new reap/reissue
    * fact gathers) and gains purge_age rows + the tombstone-age gather
    * in r18 — treat a q155 flag against a pre-r17 baseline as this move,
    * not a plan defect. */
  def regressions(spark: SparkSession, ledgerDir: String): DataFrame = {
    val roundNum = expr("cast(substring(round, 2) as int)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(roundNum.desc)
    read(spark, ledgerDir)
      // ONE definition of admissibility: the negation of anomalousCond
      // (null-cold backfilled rows are unknown-but-usable — their warm
      // came from a verified PLANS.md measurement — and !(null && …)
      // keeps them); re-spelling the rule here would let a future
      // refinement of anomalousCond silently diverge from the baseline
      // filter
      .filter(!anomalousCond)
      .groupBy(col("query_id"), col("round"))
      .agg(min(col("warm_ms")).as("warm_ms"),
        // constant per partition (record stamps one value per round);
        // null on pre-r22 partitions
        max(col("calib_ms")).as("calib_ms"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .groupBy(col("query_id")).agg(
        max(when(col("rk") === 1, col("round"))).as("cur_round"),
        max(when(col("rk") === 1, col("warm_ms"))).as("cur_warm_ms"),
        max(when(col("rk") === 1, col("calib_ms"))).as("cur_calib_ms"),
        max(when(col("rk") === 2, col("round"))).as("prev_round"),
        max(when(col("rk") === 2, col("warm_ms"))).as("prev_warm_ms"),
        max(when(col("rk") === 2, col("calib_ms"))).as("prev_calib_ms"))
      .filter(col("prev_warm_ms").isNotNull && col("prev_warm_ms") > 0)
      // r22: normalize by the recording sessions' host factor before the
      // >2x test — warm/calib is the host-speed-free reading, so the
      // ratio compares plans, not recording sessions (the r21 partition's
      // +15-80% hot factor read as uniform near-regressions). Rounds
      // without a stamped calibration (pre-r22) compare raw — both
      // factors collapse to 1, the old behavior, so history stays
      // comparable. Integer half-up throughout (the q97 rule).
      .withColumn("__have_calib",
        col("cur_calib_ms").isNotNull && col("prev_calib_ms").isNotNull)
      .withColumn("__cc", when(col("__have_calib"), col("cur_calib_ms"))
        .otherwise(lit(1L)))
      .withColumn("__pc", when(col("__have_calib"), col("prev_calib_ms"))
        .otherwise(lit(1L)))
      .withColumn("warm_ratio_x100",
        expr("(2 * cur_warm_ms * __pc * 100 + prev_warm_ms * __cc) " +
          "div (2 * prev_warm_ms * __cc)"))
      .drop("__have_calib", "__cc", "__pc")
      .withColumn("regressed", col("warm_ratio_x100") > 200)
      .orderBy(col("warm_ratio_x100").desc, col("query_id"))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sim.{IndexParams, Similarity}

/** q155: the MAINTENANCE SCHEDULER — the decision layer above the index
  * lifecycle's three layout flavors, each of which has exactly one
  * physical tool (the r13 rule): flat bucketed table →
  * [[graft.sources.Sources.compactBucketed]], cid-partitioned IVF layout
  * → rebuild, batch_id-partitioned appendable index →
  * [[graft.streaming.Streaming.foldIndexBase]]. The lifecycle already
  * records every fact the decisions need (data-file counts, batch
  * partition counts, partition occupancies, corpus-derived parameter
  * targets); this relation turns them into when-to-act rows so an
  * operator — or a cron'd job — reads one table instead of rediscovering
  * the cost model each round. (r17: the appendable flavor carries TWO
  * fold tools — the amortized leveled fold for decay, the base fold for
  * debt; the fold check picks per-row, see below.)
  *
  * Every threshold is an INTEGER and every comparison integer
  * arithmetic (the q97 rule: no float policy math):
  *  - `compact` when data files exceed [[CompactFilesPerBucket]]× the
  *    bucket count — each insertInto generation adds ≥1 file per touched
  *    bucket and footer I/O eventually dominates pruned probes (q148's
  *    measured slope: a 30 s trigger writes ~2,880 generations/day).
  *  - `fold` when live batch partitions exceed
  *    [[FoldMaxBatchPartitions]] — every live partition is one more dir
  *    in each probe's listing. The bound tool is r17's AMORTIZED
  *    [[graft.streaming.Streaming.foldIndexLeveled]] (binary-counter
  *    generations; the base fold is linear in base rows, so the
  *    schedule never triggers it — r18 routed debt to the mark-scoped
  *    purge, removing the last O(base) schedule path).
  *  - `rebalance` when the hottest IVF partition holds more than
  *    [[RebalanceHotFactor]]× its fair share (occ_max·k > 4·n, the q147
  *    hot rule at the layout grain) — centroid drift concentrating mass
  *    means probes scan far more than nprobe/k of the corpus.
  *  - `purge` when a layout's tombstone debt is DUE — deletion is
  *    honored logically the moment a mark lands (every serving path
  *    anti-joins the marks), so the physical rewrite is pure space/
  *    mark-set reclamation and is PACED, not debt-reflexive (r18; the
  *    r17 any-debt trigger bought a full base fold per trickle
  *    takedown). Appendable tables fire when the debt leaves the
  *    integer band (tombstones·[[PurgeDebtFactor]] > n_entries, above
  *    the [[PurgeMinMarks]] floor), bound to the mark-scoped
  *    [[graft.streaming.Streaming.purgeIndexTombstones]] (rewrites only
  *    victim-bearing consolidated partitions); a separate `purge_age`
  *    row fires at ANY debt older than [[PurgeMaxAgeSec]] (landing
  *    epochs ride the `_tombstone_epochs` sidecar), so sub-band debt
  *    still has a bounded erasure SLA. Directory layouts
  *    ([[Similarity.tombstoneIvfRows]]' sidecar) stay any-debt-
  *    triggered: their `purgeIvfTombstones` is already cid-scoped.
  *  - `rederive_params` when the layout's keyspace leaves a 2× RATIO
  *    band around what [[IndexParams]] derives from the CURRENT corpus
  *    count (`2·actual < target ∨ actual > 2·target`, integer
  *    cross-multiplies) — the corpus grew past the layout's design point
  *    (never hardcode an index keyspace parameter, the r13 rule; this
  *    check is its operational enforcement). The band is the flap guard:
  *    `IndexParams.ivfK = ⌈√n⌉` is un-quantized below its cap and
  *    `indexBuckets = ⌈rows/1M⌉` between its clamps, so under continuous
  *    ingest the target drifts by 1 every ~2√n new vectors (at n = 1M:
  *    every ~2,000 rows) — an exact-match trigger would fire a full
  *    Lloyd + full-corpus rewrite per ±1 drift with no operational
  *    effect. Inside the band the parameter is within 2× of optimal
  *    (candidates-per-probe off by ≤2×, the same tolerance lshPlanes
  *    gets for free from its ceilLog2 quantization); a 2× breach means
  *    the corpus quadrupled (√n targets) or doubled (linear targets)
  *    since the build — a real rebuild, amortized over that growth.
  *  - `reap` when dead `<table>_rb<N>` rebuild generations sit beside an
  *    appendable table (external DROPs keep data files by design) —
  *    [[graft.streaming.Streaming.reapRebuildGenerations]] deletes them.
  *  - `reissue` when a directory layout carries `_orphaned_tombstones`
  *    slots (out-of-contract marks a crashed in-place rebuild preserved
  *    aside) — [[Similarity.reissueOrphanedTombstones]] re-keys them
  *    against the published layout and retires the slots.
  *
  * Rows-only in the driver gate (the PlanAudit flavor: filesystem and
  * catalog facts are not SQL-reproducible); MaintenanceSpec plants each
  * trigger condition against [[schedule]] and cross-checks the live
  * facts against the layouts independently. */
object Maintenance {

  /** Compact a bucketed index when data files exceed this × buckets. */
  val CompactFilesPerBucket = 2L
  /** Fold an appendable index when live batch partitions exceed this. */
  val FoldMaxBatchPartitions = 8L
  /** Rebuild an IVF layout when occ_max·k exceeds this × n_entries. */
  val RebalanceHotFactor = 4L
  /** Appendable purge DEBT BAND (r18): the physical purge fires when
    * tombstones·this exceeds n_entries — debt above ~1/64 ≈ 1.6% of the
    * live corpus is worth a victim-partition rewrite; below it the marks
    * keep riding the serving anti-join for free until the band (or the
    * age bound) is breached. Integer cross-multiply, the q97 rule. */
  val PurgeDebtFactor = 64L
  /** Appendable purge absolute FLOOR: the band alone would fire a
    * rewrite to erase a handful of marks on any small table (3 marks of
    * a 100-row index is 3%) — below this many marks the band stays
    * quiet and only the age bound forces the erasure. */
  val PurgeMinMarks = 64L
  /** Appendable purge AGE bound, in the landing-epoch units the marks
    * carry (wall-clock seconds in deployments — 7 days): debt older than
    * this fires the purge regardless of the band, so sub-band trickle
    * takedowns still get a bounded erasure SLA. */
  val PurgeMaxAgeSec = 604800L

  /** One row per audited layout; -1 marks a fact a kind does not carry.
    * Public top-level (the r11 encoder rule). `rb_old_generations` =
    * dead `<table>_rb<N>` rebuild-generation dirs beside an appendable
    * table ([[graft.streaming.Streaming.oldRebuildGenerations]]);
    * `orphan_slots` = `_orphaned_tombstones` slots beside a directory
    * layout ([[Similarity.orphanedTombstoneSlots]]) — both rebuild
    * byproducts that were previously invisible to the one relation an
    * operator is told to read. */
  case class LayoutFacts(layout: String, kind: String, data_files: Long,
                         buckets: Long, batch_partitions: Long,
                         n_entries: Long, occ_max: Long,
                         keyspace_actual: Long, keyspace_target: Long,
                         tombstones: Long = -1L,
                         rb_old_generations: Long = -1L,
                         orphan_slots: Long = -1L,
                         tombstone_age: Long = -1L)

  /** The pure decision function: per-layout facts → one row per
    * applicable (layout, check) with the observed value, its integer
    * bound, the trigger verdict and the tool to run. A pure projection
    * per check unioned long-format — no joins, no shuffles beyond the
    * input's own partitioning, the same plan at any layout count. */
  def schedule(facts: DataFrame): DataFrame = {
    def check(kinds: Seq[String], name: String, observed: Column,
              bound: Column, action: Column): DataFrame =
      facts.filter(col("kind").isin(kinds: _*))
        .select(col("layout"), col("kind"), lit(name).as("check"),
          observed.cast("long").as("observed"), bound.cast("long").as("bound"),
          when(observed.cast("long") > bound.cast("long"), action)
            .otherwise(lit("none")).as("action"))
        .withColumn("triggered", col("observed") > col("bound"))
        .select(col("layout"), col("kind"), col("check"), col("observed"),
          col("bound"), col("triggered"), col("action"))
    implicit def str2col(s: String): Column = lit(s)
    check(Seq("bucketed_index"), "compact", col("data_files"),
        lit(CompactFilesPerBucket) * col("buckets"), "compact_bucketed")
      // partition decay always takes the AMORTIZED leveled fold (r17:
      // the base fold is measured linear in base rows, so running it on
      // every decay trigger is quadratic lifetime work; r18: debt no
      // longer re-routes decay onto the base fold either — the
      // mark-scoped purge below is the debt tool, so NO schedule path
      // pays O(base) any more)
      .unionByName(check(Seq("appendable_index"), "fold",
        col("batch_partitions"), lit(FoldMaxBatchPartitions),
        lit("fold_index_leveled")))
      // appendable purge, DEBT-BANDED (r18): observed is the positive
      // magnitude of the band violation (the rederive deadband form),
      // gated on the absolute floor — sub-band debt keeps riding the
      // serving anti-join for free (deletion is honored logically the
      // moment the mark lands; the physical rewrite is pure reclamation)
      // and the age row below guarantees the erasure SLA. The bound tool
      // rewrites only victim-bearing consolidated partitions
      // (Streaming.purgeIndexTombstones), never the whole base.
      .unionByName(check(Seq("appendable_index"), "purge",
        when(col("tombstones") > lit(PurgeMinMarks),
          greatest(col("tombstones") * lit(PurgeDebtFactor) -
            col("n_entries"), lit(0L))).otherwise(lit(0L)),
        lit(0L), "purge_index_tombstones"))
      // the AGE bound: debt whose oldest mark is older than
      // PurgeMaxAgeSec fires regardless of the band (tombstone_age is -1
      // with zero debt or when a caller does not gather it — quiet).
      // The SLA only converges when the bound tool can actually erase:
      // victims still in LIVE batches survive the scoped purge by
      // design, and the fold row may never independently trigger on a
      // low-traffic table — so wiring must bind the CONVERGING purge
      // ([[graft.streaming.Streaming.purgeIndexTombstonesConverging]],
      // what [[defaultTools]] binds), which folds the committed live
      // batches and re-purges when marks survive the first pass.
      .unionByName(check(Seq("appendable_index"), "purge_age",
        col("tombstone_age"), lit(PurgeMaxAgeSec),
        "purge_index_tombstones"))
      // the DIRECTORY flavor's purge stays any-debt-triggered: its tool
      // is already partition-scoped (purgeIvfTombstones rewrites only
      // the victim cids), so there is no O(base) cost to band away
      .unionByName(check(Seq("ivf_layout"), "purge",
        col("tombstones"), lit(0L), "purge_ivf_tombstones"))
      .unionByName(check(Seq("ivf_layout"), "rebalance",
        col("occ_max") * col("keyspace_actual"),
        lit(RebalanceHotFactor) * col("n_entries"), "rebuild_layout"))
      // appendable tables included since r16: their bucket count is fixed
      // at creation, so corpus growth drifts them exactly like the flat
      // flavors; rebuildAppendableIndex is the bound tool.
      // observed = the positive magnitude of the 2x-band violation
      // (greatest of actual - 2*target and target - 2*actual, floored at
      // 0) so in-band drift reads 0 > 0 = quiet — an exact-match trigger
      // (abs diff > 0, the pre-r17 form) rebuild-flaps on every ±1
      // parameter drift of the un-quantized targets (see the scaladoc)
      .unionByName(check(
        Seq("bucketed_index", "ivf_layout", "appendable_index"),
        "rederive_params",
        greatest(col("keyspace_actual") - lit(2L) * col("keyspace_target"),
          col("keyspace_target") - lit(2L) * col("keyspace_actual"),
          lit(0L)),
        lit(0L), "rebuild_with_derived_params"))
      // rebuild byproducts (r17): dead _rb<N> generations and orphaned
      // tombstone slots were documented as "for the operator to reap /
      // re-issue" but surfaced nowhere — debt an operator cannot see
      // accrues forever. Facts default to -1 (absent), so callers that
      // do not gather them stay quiet.
      .unionByName(check(Seq("appendable_index"), "reap",
        col("rb_old_generations"), lit(0L), "reap_rebuild_generations"))
      .unionByName(check(Seq("ivf_layout"), "reissue",
        col("orphan_slots"), lit(0L), "reissue_orphaned_tombstones"))
  }

  /** The EXECUTE arm: run every triggered row of a [[schedule]] relation
    * through its layout-specific tool and return what ran, in (layout,
    * check) order — a deterministic replay log. `tools` binds (layout,
    * action) to the thunk that runs it (the spec and any deployment bind
    * the real tools: [[graft.sources.Sources.compactBucketed]],
    * [[graft.streaming.Streaming.foldIndexBase]], a layout rebuild);
    * keeping the bindings caller-side keeps this module free of
    * layout-handle plumbing and makes a missing binding a LOUD error
    * instead of a silently skipped decision. The decisions relation is
    * bounded (one row per layout × check), so the collect is driver-safe
    * at any corpus size.
    *
    * REQUIRED BINDINGS per layout kind (a triggered row whose action has
    * no binding sys.errors, so cron wiring must carry every action its
    * kinds can emit): appendable_index → `fold_index_leveled` (the fold
    * check's decay action since r17 — wiring that still binds only
    * `fold_index_base` errors on the first decay trigger),
    * `purge_index_tombstones` (the purge/purge_age action since r18),
    * `rebuild_with_derived_params`, `reap_rebuild_generations`;
    * bucketed_index → `compact_bucketed`, `rebuild_with_derived_params`;
    * ivf_layout → `purge_ivf_tombstones`, `rebuild_layout`,
    * `rebuild_with_derived_params`, `reissue_orphaned_tombstones`.
    * [[defaultTools]] (r19) builds every non-rebuild binding from layout
    * handles, so future action renames are non-events for callers using
    * it — hand-wire only the rebuild family, which needs caller inputs.
    *
    * Each distinct (layout, action) runs ONCE per tick even when several
    * checks converge on it — an appendable layout's `purge` and
    * `purge_age` checks both bind purge_index_tombstones, and running
    * the purge twice would scan the table twice for a guaranteed no-op
    * second pass. The
    * returned replay log still carries every triggered check row; its
    * `executed` flag is true on the one row per (layout, action) whose
    * tool invocation actually ran and false on rows satisfied by an
    * earlier row's run — so an operator replaying the log can
    * distinguish ran-tool rows from converged-satisfied rows. */
  def tick(decisions: DataFrame,
           tools: Map[(String, String), () => Unit])
      : Seq[(String, String, String, Boolean)] = {
    val due = decisions.filter(col("triggered"))
      .orderBy(col("layout"), col("check"))
      .select(col("layout"), col("check"), col("action")).collect()
    val ran = scala.collection.mutable.Set.empty[(String, String)]
    due.toSeq.map { r =>
      val key = (r.getString(0), r.getString(2))
      val executed = ran.add(key)
      if (executed)
        tools.getOrElse(key, sys.error(
          s"maintenance tick: no tool bound for layout=${key._1} " +
            s"action=${key._2} — every triggered decision must execute"))()
      (r.getString(0), r.getString(1), r.getString(2), executed)
    }
  }

  /** Default (layout, action) tool bindings for [[tick]] — the wiring
    * factory the r17→r18 action renames showed was missing (every rename
    * broke hand-written binding maps twice in two rounds; with the
    * factory a rename is a non-event for any caller using it). Covers
    * every action a kind can emit EXCEPT the rebuild family
    * (`rebuild_layout`, `rebuild_with_derived_params`), which by
    * contract needs caller-supplied inputs — the live corpus for a
    * directory rebuild, the derived parameter for a re-bucketing — so
    * those merge in via `rebuilds` and a triggered rebuild with no
    * binding still fails LOUD in [[tick]].
    *
    * `appendable` maps a layout label to its table plus a
    * COMMITTED-HEAD thunk (the fold/purge `uptoBatch` bound —
    * [[graft.streaming.Streaming.maxLiveBatch]] for a static table, the
    * stream's own committed head when one is live; see
    * [[graft.streaming.Streaming.purgeIndexTombstonesConverging]] for
    * why folding an uncommitted batch is unsafe). The purge binding is
    * the CONVERGING purge, so a `purge_age` SLA erases in the tick that
    * fires it instead of no-op-purging forever when victims are
    * live-batch-resident. `bucketed` maps a label to its flat bucketed
    * table (key and bucket count read from the table's own metadata);
    * `directory` maps a label to its IVF layout dir. */
  def defaultTools(spark: SparkSession,
      appendable: Map[String, (String, () => Long)] = Map.empty,
      bucketed: Map[String, String] = Map.empty,
      directory: Map[String, String] = Map.empty,
      rebuilds: Map[(String, String), () => Unit] = Map.empty)
      : Map[(String, String), () => Unit] = {
    import graft.streaming.Streaming
    val ap = appendable.flatMap { case (layout, (tbl, head)) => Seq(
      (layout, "fold_index_leveled") -> (() => {
        val h = head()
        if (h >= 0) Streaming.foldIndexLeveled(spark, tbl, h)
        else
          // surface the skip (r19 ADVICE): tick's replay log records this
          // row executed=true, so a silent no-op here would read as a
          // satisfied fold while the decision re-fires every tick with no
          // progress — the signature of a stream that never commits (or a
          // static table mis-wired with a stream-head thunk; static heads
          // come from maxLiveBatch, which is >= 0 whenever a fold can
          // trigger)
          println(s"maintenance defaultTools: fold_index_leveled($tbl) " +
            s"SKIPPED — committed head $h < 0 (nothing committed yet); " +
            "a fold row that keeps firing with this skip is spinning, " +
            "not progressing")
        ()
      }),
      (layout, "purge_index_tombstones") -> (() => {
        Streaming.purgeIndexTombstonesConverging(spark, tbl, head()); ()
      }),
      (layout, "reap_rebuild_generations") -> (() => {
        Streaming.reapRebuildGenerations(spark, tbl); ()
      }))
    }
    val flat = bucketed.map { case (layout, tbl) =>
      (layout, "compact_bucketed") -> (() => {
        val meta = Layouts.tableMeta(spark, tbl)
        // the maintenance-op layout-shape rule: a mis-wired plain table
        // must fail loud, not with a bare None.get (compactBucketed's
        // own require rejects partitioned tables; the bucket spec is
        // dereferenced here, so it is guarded here)
        require(meta.bucketSpec.isDefined,
          s"defaultTools compact_bucketed($tbl): expected a bucketed " +
            s"table, got buckets=${meta.bucketSpec}")
        val spec = meta.bucketSpec.get
        graft.sources.Sources.compactBucketed(spark, tbl,
          spec.bucketColumnNames.head, spec.numBuckets)
        ()
      })
    }
    val dir = directory.flatMap { case (layout, d) => Seq(
      (layout, "purge_ivf_tombstones") -> (() => {
        Similarity.purgeIvfTombstones(spark, d); ()
      }),
      (layout, "reissue_orphaned_tombstones") -> (() => {
        Similarity.reissueOrphanedTombstones(spark, d); ()
      }))
    }
    ap ++ flat ++ dir ++ rebuilds
  }

  /** One appendable-index [[LayoutFacts]] gather — the fact side of the
    * q155 audit, factored for deployments and specs. The debt-band
    * DENOMINATOR (`n_entries`) counts DATA rows only (consolidated +
    * live, every partition except the `-3` marks): the band
    * `tombstones·64 > n_entries` measures debt against the live corpus,
    * and counting the marks themselves (plus any crash-window duplicates
    * of them) in the denominator would delay the trigger it gates. `now`
    * must share the MARKS' landing-epoch clock (wall-clock seconds in
    * deployments, pinned in fixtures). */
  def appendableLayoutFacts(spark: SparkSession, layout: String,
      table: String, targetBuckets: Long, now: Long): LayoutFacts = {
    val idx = graft.streaming.Streaming.AppendableIndex(spark, table,
      s"appendableLayoutFacts($table)")
    val buckets = idx.numBuckets.toLong
    val tombId = graft.sim.Similarity.TombstoneBatchId
    val all = idx.rows
    LayoutFacts(layout, "appendable_index",
      graft.sources.Sources.countTableDataFiles(spark, table).toLong,
      buckets,
      all.filter(col("batch_id") >= 0)
        .select(col("batch_id")).distinct().count(),
      all.filter(col("batch_id") =!= tombId).count(),
      -1L, buckets, targetBuckets,
      tombstones = all.filter(col("batch_id") === tombId).count(),
      rb_old_generations = graft.streaming.Streaming
        .oldRebuildGenerations(spark, table).length.toLong,
      tombstone_age = graft.streaming.Streaming.appendableTombstoneAge(
        spark, table, now))
  }

  /** One flat bucketed-table [[LayoutFacts]] gather (q155's `lsh_index`
    * and `sq_index`): data files, buckets and entries from the table
    * itself; keyspace actual is what the table was BUILT at (its own
    * metadata), `target` the derivation for the current corpus — deriving
    * both from the corpus would make the rederive check structurally
    * dead. */
  private def bucketedFacts(spark: SparkSession, layout: String,
                            table: String, target: Long): LayoutFacts = {
    val buckets = Layouts.tableMeta(spark, table).bucketSpec.get.numBuckets.toLong
    LayoutFacts(layout, "bucketed_index",
      graft.sources.Sources.countTableDataFiles(spark, table).toLong,
      buckets, -1L, spark.table(table).count(), -1L, buckets, target)
  }

  /** Outstanding deletion debt of a directory layout's tombstone sidecar
    * — scheme-aware ([[Layouts.exists]], never `java.io.File`): a wrong
    * "absent" on a non-local store would report zero debt while the live
    * serving paths keep anti-joining the marks, so the purge never
    * schedules and the physical rows never die. */
  def sidecarTombstones(spark: SparkSession, idxDir: String): Long =
    // hasParquetData, not exists (the r17 reader guard): a legacy
    // _SUCCESS-only sidecar is schema-less, carries zero debt, and must
    // not wedge the fact gather on the read. Deliberately READ-ONLY (the
    // schedule is a pure observer): the husk itself is retired by the
    // writer-side tools (purgeIvfTombstones and the rebuild drain), not
    // by a fact gather that mutates state on sight.
    if (Layouts.hasParquetData(spark, s"$idxDir/tombstones"))
      spark.read.parquet(s"$idxDir/tombstones").count()
    else 0L

  /** q155 over the session's real layouts: build-or-reuse the three
    * flavors for `dir`'s corpus (the q142 bucketed signature index, the
    * q143 IVF layout, and a 3-batch appendable index — the streaming
    * maintenance shape), gather their facts (bounded: catalog metadata,
    * file counts, one occupancy aggregation per layout), and emit the
    * schedule. Stable layout labels keep the output deterministic across
    * fingerprint regenerations. */
  def q155MaintenanceSchedule(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.embeddings(spark, dir).count()
    val eSlim = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))

    // r21 structure: every layout is ENSURED/BUILT sequentially first —
    // the catalog-table builds flip the session-global dynamic-overwrite
    // conf (withDynamicOverwrite, behind the appendable index's catalog
    // publish), and two overlapping flips clobber each other's restore
    // into a full-table overwrite — and only then do the per-layout FACT
    // gathers (read-only: counts, occupancy aggregations, sidecar reads,
    // file listings) run concurrently from a small pool. Measured: the
    // warm path was 50 sequential jobs of 10-140 ms wall each — pure
    // per-job scheduling/planning overhead; overlapping the independent
    // fact jobs back-fills the idle cores (guide §2.6).
    val (lshTbl, planes, tables) = Similarity.ensureLshIndex(spark, dir)
    val lshFactsF = () => bucketedFacts(spark, "lsh_index", lshTbl,
      IndexParams.indexBuckets(n, tables).toLong)

    // ONE facts gather for both directory-IVF flavors: actual k is the
    // layout's own, target k re-derives from the current corpus
    def ivfFacts(layout: String, ensured: (String, Long)) = () => {
      val (idxDir, k) = ensured
      val occ = Similarity.ivfLayoutOccupancies(spark, idxDir)
        .agg(sum(col("occ")), max(col("occ"))).head()
      LayoutFacts(layout, "ivf_layout", -1L, -1L, -1L,
        occ.getLong(0), occ.getLong(1), k, IndexParams.ivfK(n).toLong,
        tombstones = sidecarTombstones(spark, idxDir),
        orphan_slots = Similarity.orphanedTombstoneSlots(spark, idxDir))
    }
    val ivfFactsF = ivfFacts("ivf_base", Similarity.ensureIvfLayout(spark, dir))

    val apBuckets = IndexParams.indexBuckets(n, tables)
    val apTbl = Layouts.ensureTable(spark, "g_maint_ap_idx_",
        Layouts.fileFp(s"$dir/embeddings.parquet"), apBuckets.toString,
        Layouts.Version) { (staging, owned) =>
      graft.streaming.Streaming.createAppendableIndex(spark, staging,
        s"$owned/index", apBuckets)
      (0 until 3).foreach { b =>
        graft.streaming.Streaming.appendIndexBatch(
          eSlim.filter(col("vec_id") % 50 === b), b.toLong, staging,
          planes, tables)
      }
    }
    // the age fact must share the MARKS' clock — landing epochs default
    // to wall-clock seconds, and an age derived across mismatched clocks
    // (e.g. the pinned oracle RefNowEpoch, which PRECEDES every
    // wall-clock stamp) clamps to 0 and can never fire the SLA it
    // watches. The audited layouts carry zero debt, so the emitted fact
    // is -1 and the relation stays deterministic — guarded loud below:
    // a future fixture that plants standing debt against a wall clock
    // would silently make this rows-only relation time-dependent between
    // driver runs. The pinned-now rule binds oracle-checked emissions,
    // not a policy fact's clock.
    def zeroDebtFacts(layout: String, tbl: String, target: Long) = {
      val f = appendableLayoutFacts(spark, layout, tbl, target,
        System.currentTimeMillis() / 1000L)
      require(f.tombstones == 0L && f.tombstone_age == -1L,
        s"q155 audits zero-debt layouts ($layout carries " +
          s"${f.tombstones} marks, age ${f.tombstone_age}): a fixture " +
          s"with standing debt must gather its facts under a PINNED " +
          s"clock or the rows-only relation becomes time-dependent " +
          s"between driver runs")
      f
    }
    val apFactsF =
      () => zeroDebtFacts("appendable_index", apTbl, apBuckets.toLong)

    // the text-side appendable band index (same flavor, own keyspace)
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val bandBuckets = IndexParams.indexBuckets(d.count(), 4)
    val bandTbl = Layouts.ensureTable(spark, "g_maint_band_idx_",
        Layouts.fileFp(s"$dir/documents.parquet"), bandBuckets.toString,
        Layouts.Version) { (staging, owned) =>
      graft.streaming.Streaming.createAppendableBandIndex(spark, staging,
        s"$owned/index", bandBuckets)
      (0 until 3).foreach { b =>
        graft.streaming.Streaming.appendBandBatch(
          d.filter(col("doc_id") % 50 === b), b.toLong, staging)
      }
    }
    val bandFactsF =
      () => zeroDebtFacts("band_index", bandTbl, bandBuckets.toLong)

    // the QUANTIZED layouts (r15 verdict finding 3): q160-style takedowns
    // land sidecar marks in the SQ8-IVF dir, and the q149 bucketed code
    // table decays by insertInto generations like any other — a schedule
    // that cannot see either lets quantized deletion debt and file decay
    // accrue invisibly
    val sqIvfFactsF = ivfFacts("sq_ivf", Similarity.ensureSqIvfLayout(spark, dir))

    val sq = Similarity.ensureSqIndex(spark, dir)
    val sqIdxFactsF = () => bucketedFacts(spark, "sq_index", sq.table,
      IndexParams.indexBuckets(n, sq.tables).toLong)

    // every layout exists by here — gather the read-only facts
    // concurrently (FIFO scheduling back-fills the tail, guide §2.6)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val facts =
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          Seq(lshFactsF, ivfFactsF, apFactsF, bandFactsF, sqIvfFactsF,
            sqIdxFactsF).map(f => scala.concurrent.Future(f()))),
        scala.concurrent.duration.Duration(15, "min"))
      finally pool.shutdown()

    schedule(facts.toDF())
      .orderBy(col("layout"), col("check"))
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables

/** Source/sink utilities (SURVEY.md §2.1 S3/S6/S7/S8, §2.2 P3).
  *
  * Partition-layout contract: fact data lands hour-partitioned
  * (`year=/month=/day=/hour=`), so "newest partition" resolution and
  * dashboard snapshots never scan history — partition pruning keeps the
  * read proportional to one hour of data regardless of total size. */
object Sources {

  /** S6: single-file "latest" snapshot for the dashboard — overwrite-in-place
    * (the reference's latest.json side output). */
  def writeLatestSnapshot(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").json(path)

  /** Bucketed-table writer for co-located equi-joins — the cluster-scale
    * answer to "this join shuffles both sides every run". Both relations
    * land pre-hash-partitioned on the join key (`bucketBy`) with an
    * in-bucket sort, so the scan reports the bucket HashPartitioning and a
    * sort-merge join between same-bucketed tables plans with NO Exchange
    * on the key: at 100 TB the shuffle that dominates a fact-fact join is
    * paid once at write time and amortized over every subsequent join or
    * aggregation on that key. External-table form (explicit `path`) so the
    * layout lives with the data, not the session catalog; q127 pins the
    * exchange-free plan.
    *
    * r22: the input is repartitioned onto the bucket function before the
    * write. A bucketed WRITE requires no distribution, so whatever
    * parallelism the plan arrives with is what the writer gets — and the
    * index builds arrive as a single input split (one small parquet file
    * → one map task computing signatures/quantization for the whole
    * corpus AND writing every bucket's file serially, measured 1.0-2.5 s
    * single-task stages at any core count, guide §2.4/§6). Routing rows
    * by `pmod(murmur3(key), buckets)` — exactly the bucket-placement
    * hash — gives each task exactly one bucket, so the write runs
    * buckets-wide and still lands ONE file per bucket (the same file
    * set a single-task write produces; layout facts and pruning are
    * byte-for-byte unaffected). Already-bucket-aligned inputs
    * ([[compactBucketed]]'s rewrite) write UNROUTED: a bucket-ID routing
    * expression would not collapse against the scan's key
    * HashPartitioning and would re-shuffle the whole table. */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
                    key: String, buckets: Int): Unit =
    bucketRouted(df, key, buckets).write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(tableName)

  /** THE routed insert into an existing bucketed table — the append twin
    * of [[writeBucketed]] (q145/q148's delta batches, and every
    * appendable-index write that lands rows through
    * `Streaming.AppendableIndex.replaceOrClear`): the same bucket routing,
    * then a positional `insertInto` (`overwrite` replaces under the
    * session's partition-overwrite mode; otherwise the rows append). */
  def insertBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                     overwrite: Boolean = false): Unit =
    bucketRouted(df, key, buckets).write
      .mode(if (overwrite) "overwrite" else "append").insertInto(table)

  /** Route rows onto whole buckets across `min(buckets, parallelism)`
    * write tasks: the routing key is the bucket id itself
    * (`pmod(hash(key), buckets)` — Murmur3 seed 42, exactly the
    * bucket-placement expression), so every bucket lands wholly in one
    * task and the write still produces ONE file per bucket, while the
    * task count stays at the core count instead of the bucket count
    * (r22: a full buckets-wide repartition put 64 near-empty write
    * tasks × parquet-writer setup on every tiny-corpus write — q148's
    * four writes regressed 1.5→3.8 s until the cap). The routing policy's
    * one home: [[writeBucketed]] and [[insertBucketed]] are its only
    * callers. */
  private def bucketRouted(df: DataFrame, key: String, buckets: Int): DataFrame = {
    val n = math.max(1, math.min(buckets,
      df.sparkSession.sparkContext.defaultParallelism))
    df.repartition(n, pmod(hash(col(key)), lit(buckets)))
  }

  /** S8: read only the newest hour partition of a partitioned dataset.
    * The max-partition probe aggregates partition columns only (no data
    * columns → Parquet reads nothing but metadata/dictionary pages), then
    * the main read prunes to that single partition. */
  def readNewestPartition(spark: SparkSession, rootDir: String): DataFrame = {
    val all = spark.read.parquet(rootDir)
    val newest = all
      .select(struct(col("year"), col("month"), col("day"), col("hour")).as("p"))
      .agg(max(col("p")).as("p"))
      .head().getStruct(0)
    if (newest == null) all.limit(0) // empty dataset: max over zero rows is NULL
    else all.filter(
      col("year") === newest.getInt(0) && col("month") === newest.getInt(1) &&
      col("day") === newest.getInt(2) && col("hour") === newest.getInt(3))
  }

  /** S3: sample-based schema inference mirroring the converter's
    * infer_schema_sample_size (reference optimized_converter.py:417-466) —
    * infer on a bounded sample, then apply the frozen schema to the full
    * read so one bad late file cannot flip column types mid-stream.
    * `sampleRatio` defaults to full-read; drop it to ~0.001 at scale where
    * sampling a fraction of files is the point. */
  def inferSchemaFromSample(spark: SparkSession, jsonPath: String,
                            sampleRatio: Double = 1.0): StructType =
    spark.read
      .option("samplingRatio", sampleRatio)
      .json(jsonPath)
      .schema

  /** Small-file compaction — the maintenance pass every micro-batch landing
    * zone needs (a 30 s trigger writes ~2,880 files/day/partition-key; the
    * reference batches conversions for the same reason,
    * optimized_converter.py:83-99). Reads a leaf partition directory, sizes
    * the output by actual bytes on disk (`ceil(bytes / targetBytes)` — file
    * COUNT would mis-size skewed inputs), rewrites into a temp dir,
    * VALIDATES the rewrite (row-count match) before touching the original,
    * then swaps via two renames, and returns (filesBefore, filesAfter).
    * At 100 TB this runs per leaf partition — each hour compacts
    * independently, embarrassingly parallel across a workflow scheduler.
    *
    * Visibility contract: each rename is atomic (HDFS/POSIX), but between
    * the two renames the directory briefly does not exist, and a reader
    * that listed files before the swap can hit deleted files — so run this
    * only on partitions out of the serving window (completed hours), or
    * commit via a manifest/metastore partition pointer where true
    * atomicity is required. A failed validation leaves the original
    * untouched; a crash between the renames leaves the data intact under
    * the `.old` name. */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L << 20): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(path)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val bytes = files.map(_.getLen).sum
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val tmp = new Path(path.getParent, s".${path.getName}.compacting")
    fs.delete(tmp, true)
    // one file-list snapshot feeds the count, the rewrite and the
    // late-arrival sweep — a file landing mid-compaction can neither fail
    // the validation spuriously nor be lost in the swap
    val snapshot = files.map(_.getPath.toString)
    val df = spark.read.parquet(snapshot: _*)
    val inCount = df.count()
    df.repartition(n).write.mode("overwrite").parquet(tmp.toString)
    val outCount = graft.ops.Layouts.readHidden(spark, tmp.toString).count()
    require(outCount == inCount,
      s"compaction of $dir dropped rows ($inCount -> $outCount); original left untouched")
    val out = fs.listStatus(tmp)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val old = new Path(path.getParent, s".${path.getName}.old")
    fs.delete(old, true)
    fs.rename(path, old)
    // a concurrent writer recreating the partition dir between the renames
    // would make the second rename nest tmp INSIDE it (Hadoop rename-into-
    // existing-dir semantics), silently corrupting the layout — abort loudly
    // instead; the data is intact under `.old` and the sweep below is skipped
    require(!fs.exists(path),
      s"compaction of $dir aborted: a concurrent writer recreated the " +
        s"partition directory mid-swap; original data preserved at $old")
    fs.rename(tmp, path)
    // files that landed after the snapshot move into the compacted
    // directory instead of dying with the old one
    val snapNames = files.map(_.getPath.getName).toSet
    fs.listStatus(old)
      .filter(s => s.isFile && !snapNames.contains(s.getPath.getName))
      .foreach(s => fs.rename(s.getPath, new Path(path, s.getPath.getName)))
    fs.delete(old, true)
    (files.length, out)
  }

  /** Per-partition small-file compaction for a PARTITION-structured
    * layout — the maintenance arm of the q143/q146 IVF index (cid=K
    * dirs; every append lands its own files per partition) and any other
    * partitionBy directory sink. Runs [[compact]] on each leaf partition
    * directory, so the partition layout (and PartitionFilters pruning)
    * survives by construction and each partition's rewrite keeps
    * [[compact]]'s snapshot/validate/atomic-swap/late-arrival contract.
    * Single-file partitions are skipped (nothing to collapse).
    *
    * NOT for bucketed tables: a bucketed layout's files are
    * bucket-NUMBERED and a plain rewrite destroys that mapping — the
    * bucketed flavor is [[compactBucketed]]. At scale each partition's
    * rewrite is independent; run them as one maintenance job per layout.
    * Returns (partitions rewritten, files before, files after). */
  def compactPartitioned(spark: SparkSession, rootDir: String,
                         targetBytes: Long = 128L << 20): (Int, Int, Int) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(rootDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // visible partition leaves only: compact() parks its crash backups as
    // dot-prefixed siblings (`.p=1.old`), which also contain '=' — a
    // recovery run must never compact the backup instead of the layout
    val leaves = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
        !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_"))
    var np = 0; var before = 0; var after = 0
    leaves.foreach { l =>
      // loud-guard rule: a nested partitionBy layout has subdirs here and
      // zero files — silently reporting (0,0,0) would read as "nothing to
      // compact" while thousands of small files sit one level down
      require(!fs.listStatus(l.getPath).exists(_.isDirectory),
        s"compactPartitioned($rootDir): nested partition layout under " +
          s"${l.getPath.getName}; compact the inner level's directories")
      val files = fs.listStatus(l.getPath)
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      if (files > 1) {
        val (b, a) = compact(spark, l.getPath.toString, targetBytes)
        np += 1; before += b; after += a
      } else { before += files; after += files }
    }
    (np, before, after)
  }

  /** Result of a [[compactBucketed]] pass. Public so specs (and monitoring
    * relations) can pin the file-count collapse without re-listing.
    * `filesBefore` is -1 on the crash-resume branch (the pre-compaction
    * count died with the crashed attempt). */
  case class BucketCompactStats(filesBefore: Int, filesAfter: Int, rows: Long)

  /** Bucket-layout-PRESERVING small-file compaction — the maintenance arm
    * of an appendable bucketed table ([[writeBucketed]] +
    * `insertInto`): every appended batch lands its own file per bucket,
    * so after B ingest batches each touched bucket holds B+1 small files
    * and a bucket-pruned probe pays B+1 opened footers per touched bucket
    * instead of one — the classic streaming small-files decay, here in
    * its bucketed-table form where a plain directory rewrite
    * ([[compact]]) would DESTROY the layout the pruning depends on.
    *
    * The rewrite is SHUFFLE-FREE and keeps the layout by construction:
    * with auto-bucketed-scan disabled for the pass (a write "needs" no
    * distribution, so by default Spark silently downgrades the source to
    * a file-grouped scan whose tasks mix buckets — measured: 25 files
    * out of an 8-bucket rewrite), the source scan reads bucket-aligned
    * (one task = one bucket's file generations), the explicit
    * `repartition(buckets, key)` collapses as redundant against the
    * scan's own HashPartitioning, and each task rewrites its bucket as
    * exactly one file. If a caller re-buckets to a DIFFERENT count, the
    * repartition stops being redundant and becomes the one aligned
    * shuffle the re-layout genuinely needs (HashPartitioning's
    * partitionIdExpression IS the datasource bucket-id expression, so
    * shuffle task = target bucket either way). The bucket spec rides the
    * staging table's own `bucketBy`, so `key IN (...)` pruning
    * (SelectedBucketsCount) and in-bucket sort survive the swap
    * unchanged. Parallelism is the bucket count — which
    * [[graft.sim.IndexParams.indexBuckets]]-sized tables scale
    * with the corpus, so at 100 TB this is thousands of independent
    * single-bucket rewrite tasks.
    *
    * Crash safety is the staging-NAME + RENAME rule (the q145/q146
    * catalog flavor): the compacted copy is built and VALIDATED
    * (row-count match) under `<table>_compacting` at a fresh path before
    * any metastore op touches the live name; the swap is DROP (external —
    * data files untouched) + RENAME. A crash between those two leaves the
    * complete compacted copy under the staging name and no live table,
    * which the entry branch repairs by finishing the rename — so every
    * interleaving lands on a complete table, and re-running is always
    * safe. At 100 TB this runs per bucketed table (or per partition of a
    * partitioned+bucketed one) as an off-peak maintenance job; cost is
    * one full read + one write, amortized over every probe after it. */
  def compactBucketed(spark: SparkSession, table: String, key: String,
                      buckets: Int): BucketCompactStats = {
    val staging = s"${table}_compacting"
    if (!spark.catalog.tableExists(table)) {
      // resume branch: a crash after DROP left only the validated staging
      // copy — completing the swap is just the rename. The true
      // before-count died with the crash: report -1 rather than fabricate
      // a files-saved-nothing figure into a monitoring ledger
      require(spark.catalog.tableExists(staging),
        s"compactBucketed: neither $table nor $staging exists")
      spark.sql(s"ALTER TABLE $staging RENAME TO $table")
      return BucketCompactStats(-1, countTableDataFiles(spark, table),
        spark.table(table).count())
    }
    if (spark.catalog.tableExists(staging)) spark.sql(s"DROP TABLE $staging")
    // a PARTITIONED+bucketed table (the streaming appendable index) must
    // compact per partition — this flat rewrite would silently strip the
    // partition columns the replay contract depends on, and the swap's
    // row-count check cannot see that
    require(graft.ops.Layouts.tableMeta(spark, table).partitionColumnNames.isEmpty,
      s"compactBucketed($table): table is partitioned; compact its " +
        "partitions individually — a flat rewrite would drop the layout")
    val before = countTableDataFiles(spark, table)
    val src = spark.table(table)
    val inCount = src.count()
    val tmp = graft.ops.Layouts.ownedTempDir(spark, "graft_bcompact")
    // force the bucket-aligned scan for the rewrite: a write requires no
    // distribution, so the auto-bucketed-scan rule would otherwise hand
    // the writer file-grouped tasks that mix buckets (one small file per
    // (task, bucket) — the very decay this pass repairs)
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val autoWas = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "false")
    // UNROUTED (the r13 rule): the explicit repartition collapses against
    // the bucket-aligned scan's own HashPartitioning
    try
      src.repartition(buckets, col(key)).write.mode("overwrite")
        .option("path", s"$tmp/data")
        .bucketBy(buckets, key).sortBy(key)
        .format("parquet").saveAsTable(staging)
    finally spark.conf.set(autoKey, autoWas)
    val outCount = spark.table(staging).count()
    require(outCount == inCount,
      s"compactBucketed($table) dropped rows ($inCount -> $outCount); " +
        "original left untouched")
    spark.sql(s"DROP TABLE $table") // external: the old files outlive the drop
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    BucketCompactStats(before, countTableDataFiles(spark, table), outCount)
  }

  /** Total data bytes at a catalog table's location — the storage-cost
    * fact size-comparison specs pin (e.g. the SQ8 index vs its float
    * twin). */
  def tableDataBytes(spark: SparkSession, table: String): Long =
    tableDataFiles(spark, table).map(_.getLen).sum

  /** Data-file count at a catalog table's location. */
  def countTableDataFiles(spark: SparkSession, table: String): Int =
    tableDataFiles(spark, table).length

  /** The data files at a catalog table's location (bucketed tables are
    * flat directories; `part-*` excludes markers like _SUCCESS). */
  private def tableDataFiles(spark: SparkSession, table: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val loc = graft.ops.Layouts.tableLocation(spark, table)
    loc.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(loc)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-")).toSeq
  }

  /** S7 + P3: register all test tables as temp views plus the reference's
    * column-pruned convenience views (07:57-70 efficient_flight_overview
    * shape) — pruned projections that keep dashboard scans narrow. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(n => Tables.table(spark, dir, n).createOrReplaceTempView(n))
    Tables.events(spark, dir).createOrReplaceTempView("events")
    // column-pruned views: only what the dashboard reads
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW efficient_event_overview AS
        |SELECT event_id, ts, event_type, value FROM events""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW high_value_events AS
        |SELECT event_id, ts, user_id, value FROM events WHERE value > 90""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW recent_orders AS
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
        |WHERE o_orderdate >= (SELECT max(o_orderdate) - INTERVAL 7 DAYS FROM orders)""".stripMargin)
  }
}

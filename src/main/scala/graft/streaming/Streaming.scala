package graft.streaming

import graft.sim.Similarity.TombstoneBatchId
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured-Streaming surface (SURVEY.md §2.10).
  *
  * The reference's "streaming" is scheduled micro-batching: a 30 s
  * EventBridge tick drops one JSON file per batch, S3 events drive per-file
  * ETL, and late/duplicate data is handled by keyed dedup + timeliness
  * scoring rather than true watermarks (reference README.md:127-140,
  * src/lambda/etl/main_etl_processor.py:148-229,
  * data_transformer.py:109-126). The Spark-native equivalents:
  *
  *   - file-drop landing zone → `readStream` file source, one batch per
  *     trigger (`maxFilesPerTrigger`), `Trigger.ProcessingTime("30 seconds")`
  *   - (icao24, timestamp) dedup with 5 s tolerance →
  *     `withWatermark + dropDuplicates` (exactly-once keyed dedup with
  *     bounded state)
  *   - hour-bucket aggregations → tumbling `window($"ts", ...)` with the
  *     watermark bounding state
  *   - per-aircraft rolling history (stuck detection) →
  *     `flatMapGroupsWithState` keeping the last k positions per key
  *
  * State sizing at scale: dedup state is O(keys in watermark horizon) and
  * the stuck-detector state is O(k · aircraft) — both bounded, both
  * partitioned by key, no global state.
  */
object Streaming {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** S1: the REST poll source (reference
    * `src/lambda/data_ingestion/flight_data_ingestion.py` — a scheduled tick
    * fetches one API response and drops it as one file). The fetcher is
    * injected (this library never talks to a network); each response lands
    * via temp-file + atomic rename so `readEventStream`'s file source never
    * observes a partial write — the one correctness requirement a
    * landing-zone producer must meet. Returns the landed paths. */
  def pollToLandingZone(fetch: Int => String, landingDir: java.nio.file.Path,
                        ticks: Int,
                        nameOf: Int => String = i => f"batch_$i%06d.json")
      : Seq[java.nio.file.Path] = {
    import java.nio.file.{Files, StandardCopyOption}
    (0 until ticks).map { i =>
      val tmp = Files.createTempFile(landingDir, ".landing", ".tmp")
      Files.writeString(tmp, fetch(i))
      Files.move(tmp, landingDir.resolve(nameOf(i)),
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Landing-zone file source: one JSON file ≈ one micro-batch. */
  def readEventStream(spark: SparkSession, landingDir: String,
                      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(landingDir)

  /** Keyed dedup with event-time watermark. `toleranceSeconds = 0` is exact
    * (user_id, ts) dedup — the key contains the watermarked event-time
    * column, so `dropDuplicates` state evicts with the watermark. A positive
    * tolerance buckets event time first so observations within the same
    * tolerance bucket collapse — the reference's 5 s-tolerance dedup on
    * (icao24, timestamp) (data_transformer.py:109-114; bucketing
    * approximates "within 5 s" the same way the reference's
    * rounded-timestamp key does). The bucketed key no longer contains the
    * event-time column, so it must use `dropDuplicatesWithinWatermark`:
    * state is keyed on (user_id, ts_bucket) but expires by the `ts`
    * watermark, keeping state O(keys in the watermark horizon) instead of
    * growing forever. */
  def dedup(events: DataFrame, watermark: String = "5 minutes",
            toleranceSeconds: Int = 0): DataFrame = {
    val wm = events.withWatermark("ts", watermark)
    if (toleranceSeconds <= 0) wm.dropDuplicates(Seq("user_id", "ts"))
    else wm
      .withColumn("ts_bucket",
        (unix_timestamp(col("ts")) / toleranceSeconds).cast("long"))
      .dropDuplicatesWithinWatermark(Seq("user_id", "ts_bucket"))
      .drop("ts_bucket")
  }

  /** Tumbling-window aggregation (the reference's hour-bucket GROUP BYs as a
    * real event-time window; watermark bounds the state). */
  def tumblingCounts(events: DataFrame, width: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("n"), col("sum_value"))

  /** Gap-based sessions via the native `session_window` (the streaming/
    * batch-shared form of TimeSeries.q42's manual lag+cumsum idiom): windows
    * merge while events arrive within `gap` of each other. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Hopping-window realtime metrics — the streaming form of the q53
    * realtime dashboard view (reference 06_analytics_views.sql:329-495):
    * every `slide`, emit a snapshot of the trailing `width` of activity
    * (total/active/error split, peak value). Distinct users use
    * `approx_count_distinct` — exact distinct is unsupported in streaming
    * aggregation and HLL state is O(sketch) per window instead of O(users),
    * which is also the right trade at scale. Watermark bounds the number of
    * open windows; state is O(open windows), not O(events). */
  def slidingMetrics(events: DataFrame, width: String = "1 hour",
                     slide: String = "30 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        count(when(col("event_type") =!= "error", 1)).as("active_events"),
        count(when(col("event_type") === "error", 1)).as("error_events"),
        max(col("value")).as("max_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n_events"),
        col("approx_users"), col("active_events"), col("error_events"),
        col("max_value"))

  /** Stream-static enrichment: join each micro-batch against a broadcast
    * dimension (the streaming form of J1 — user/aircraft metadata lookup).
    * The static side re-resolves per micro-batch, so a snapshot-refreshed
    * dim table is picked up without restarting the query; broadcast keeps
    * the join shuffle-free on the stream side. */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join — funnel correlation (a `view` followed by
    * a `purchase` within `horizon`, per user) computed online. Both sides
    * carry watermarks and the join condition bounds `buy_ts` to
    * [view_ts, view_ts + horizon], so Spark derives state-eviction bounds
    * for BOTH buffers: a view is dropped once the purchase-side watermark
    * passes view_ts + horizon, a purchase once the view-side watermark
    * passes buy_ts. State is O(events in the horizon) partitioned by
    * user_id — the required shape for an unbounded 100 TB/day stream.
    * Inner join → append mode; results emit as soon as both sides arrive. */
  def conversionJoin(events: DataFrame, horizon: String = "10 minutes",
                     watermark: String = "5 minutes"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("value").as("view_value"))
      .withWatermark("view_ts", watermark)
    val buys = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"),
        col("value").as("buy_value"))
      .withWatermark("buy_ts", watermark)
    views.join(buys,
        col("user_id") === col("buy_user") &&
        col("buy_ts") >= col("view_ts") &&
        col("buy_ts") <= expr(s"view_ts + INTERVAL $horizon"))
      .select(col("user_id"), col("view_ts"), col("buy_ts"),
        (unix_timestamp(col("buy_ts")) - unix_timestamp(col("view_ts")))
          .as("lag_s"),
        col("view_value"), col("buy_value"))
  }

  case class Obs(userId: Long, tsMs: Long, value: Double)
  case class StuckEvent(userId: Long, tsMs: Long, nObs: Int, spread: Double)

  /** Stateful per-key rolling history: keep the last `k` observations per
    * key; emit an event whenever all of them lie within `maxSpread` of each
    * other (the stuck-aircraft shape, reference anomaly_detector.py:466-520,
    * per-aircraft in-memory histories :656-677). Uses ProcessingTimeTimeout
    * state with a bounded buffer — O(k) per key, and keys idle longer than
    * `idleTimeout` are evicted so state stays bounded under key churn.
    * Pass `idleTimeout = None` only in tests: `processAllAvailable` never
    * idles under ProcessingTimeTimeout because timeout-check batches keep
    * the query busy. */
  def stuckDetector(obs: Dataset[Obs], k: Int = 3, maxSpread: Double = 5.0,
                    idleTimeout: Option[String] = Some("1 hour"))
                   (implicit spark: SparkSession): Dataset[StuckEvent] = {
    import spark.implicits._
    val timeoutConf = if (idleTimeout.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout() else GroupStateTimeout.NoTimeout()
    obs.groupByKey(_.userId)
      .flatMapGroupsWithState[List[Obs], StuckEvent](
        OutputMode.Append(), timeoutConf) {
        case (userId, rows, state: GroupState[List[Obs]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var hist = state.getOption.getOrElse(Nil)
            val out = scala.collection.mutable.ListBuffer[StuckEvent]()
            rows.toSeq.sortBy(_.tsMs).foreach { o =>
              hist = (hist :+ o).takeRight(k)
              if (hist.size == k) {
                val vs = hist.map(_.value)
                val spread = vs.max - vs.min
                if (spread <= maxSpread)
                  out += StuckEvent(userId, o.tsMs, k, spread)
              }
            }
            state.update(hist)
            idleTimeout.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  case class AlertIn(alertType: String, component: String, severity: String,
                     tsS: Long)
  case class AlertDecision(alertType: String, component: String,
                           severity: String, tsS: Long, emitted: Boolean,
                           suppressedSinceLast: Option[Long])

  /** Streaming gap-based alert suppression — the LIVE form of
    * [[graft.quality.Metrics.suppressAlerts]] (the reference's
    * AlertSuppressionManager runs in-process at alert time,
    * `alerting.py:79-125`; the batch pass replays the ledger after the
    * fact). State per (alert_type, component, severity) key is just
    * (last emitted ts, suppressed-since counter) — O(1) per key, idle keys
    * evicted on the [[stuckDetector]] timeout contract.
    *
    * Ordering semantics, stated not hidden: within a micro-batch alerts
    * process in ts order; across batches the state machine consumes
    * ARRIVAL order — exactly what a live alert channel does (an alert
    * arriving after the window re-opened emits). The batch
    * `suppressAlerts` is the event-time-ordered replay for audits; the
    * q125 oracle checks that one. */
  def suppressAlertsStream(alerts: Dataset[AlertIn], windowS: Long = 1800L,
                           idleTimeout: Option[String] = Some("24 hours"))
                          (implicit spark: SparkSession)
      : Dataset[AlertDecision] = {
    import spark.implicits._
    val timeoutConf = if (idleTimeout.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout() else GroupStateTimeout.NoTimeout()
    alerts
      .groupByKey(a => (a.alertType, a.component, a.severity))
      .flatMapGroupsWithState[(Long, Long), AlertDecision](
        OutputMode.Append(), timeoutConf) {
        case (_, rows, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (lastEmit, suppressed) =
              state.getOption.getOrElse((Long.MinValue, 0L))
            val out = rows.toSeq.sortBy(_.tsS).map { a =>
              val emit = lastEmit == Long.MinValue || a.tsS - lastEmit >= windowS
              if (emit) {
                val reported = suppressed
                suppressed = 0L
                lastEmit = a.tsS
                AlertDecision(a.alertType, a.component, a.severity, a.tsS,
                  emitted = true, Some(reported))
              } else {
                suppressed += 1
                AlertDecision(a.alertType, a.component, a.severity, a.tsS,
                  emitted = false, None)
              }
            }
            state.update((lastEmit, suppressed))
            idleTimeout.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  case class DocSig(docId: Long, sig: Long)
  case class DedupDecision(docId: Long, sig: Long, dupOf: Long, kept: Boolean)

  /** Streaming near-dup filter — the dedup family's ingest-time member:
    * batch dedup (q23/q25/q37/q59) runs AFTER landing; a 100-TB ingest
    * pipeline also wants to drop near-copies AT the stream so they never
    * cost storage or a batch pass. Shape: the native `simhash64` kernel
    * signs each doc in the stream (stateless, codegen), docs are keyed by
    * the signature's top `bandBits` (one LSH band), and a
    * `flatMapGroupsWithState` per band keeps the last `maxPerBand`
    * signatures — a new doc within `hammingMax` bits of any remembered one
    * is marked dropped with its partner; first-seen docs pass and enter
    * state.
    *
    * Guarantees and limits (documented, not hidden): exact copies share
    * the signature bitwise → same band, hamming 0 → recall 1 on verbatim
    * re-crawls, the dominant stream-dup mode. Near-dups whose flipped bits
    * land in the band prefix are missed — single-band is the
    * state-bounded tradeoff; the batch LSH passes (q25/q100) with
    * multi-band OR run behind the stream as the full-recall sweep.
    * State is O(maxPerBand) per active band and bands idle past
    * `idleTimeout` are evicted (same contract as [[stuckDetector]]);
    * decisions within a micro-batch are processed in doc_id order so
    * replays are deterministic. */
  def nearDupFilter(docs: DataFrame, hammingMax: Int = 3, bandBits: Int = 16,
                    maxPerBand: Int = 256,
                    idleTimeout: Option[String] = Some("1 hour"))
                   (implicit spark: SparkSession): Dataset[DedupDecision] = {
    import spark.implicits._
    graft.functions.Simhash64Function.register(spark)
    val timeoutConf = if (idleTimeout.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout() else GroupStateTimeout.NoTimeout()
    docs
      .select(col("doc_id").as("docId"),
        call_function("simhash64", col("text")).as("sig"))
      .as[DocSig]
      .groupByKey(_.sig >>> (64 - bandBits))
      .flatMapGroupsWithState[List[DocSig], DedupDecision](
        OutputMode.Append(), timeoutConf) {
        case (_, rows, state: GroupState[List[DocSig]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var seen = state.getOption.getOrElse(Nil)
            val out = scala.collection.mutable.ListBuffer[DedupDecision]()
            rows.toSeq.sortBy(_.docId).foreach { d =>
              seen.find(s =>
                  java.lang.Long.bitCount(s.sig ^ d.sig) <= hammingMax) match {
                case Some(s) =>
                  out += DedupDecision(d.docId, d.sig, s.docId, kept = false)
                case None =>
                  seen = (seen :+ d).takeRight(maxPerBand)
                  out += DedupDecision(d.docId, d.sig, -1L, kept = true)
              }
            }
            state.update(seen)
            idleTimeout.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  case class AnnResult(qid: Long, retrievedId: Long, sim: Double)

  /** Streaming ANN serving — the query-side twin of the persisted LSH
    * index ([[graft.sim.Similarity.q142LshIndexProbe]] builds it; this
    * serves it continuously): a stream of probe vectors is signed with the
    * SAME kernel/parameters the index was built with
    * ([[graft.sim.Similarity.sigTableArray]] is the one source of truth),
    * stream-static equi-joined to the index relation on `sig` (stateless
    * on the stream side), exact-cosine re-scored, and reduced to the
    * per-probe argmax.
    *
    * Cost model — be honest about what the static side pays: a
    * stream-static join carries NO literal `sig` predicate, so there is no
    * bucket pruning here; each micro-batch hash-joins against the full
    * index scan. That amortizes for steady probe traffic (the scan is
    * shared by every probe in the batch and the join is the only corpus
    * work), and the scan is `tables`× the corpus rows — measured
    * (PLANS.md r13, 200k corpus): unpruned 3.0–3.5 s/batch vs
    * bucket-pruned 0.7–1.8 s at batches of 2–32. For anything but heavy
    * steady traffic, run [[graft.sim.Similarity.probeIndex]] inside a
    * `foreachBatch` sink instead — it collects each batch's signatures
    * into the literal `IN` list Spark can bucket-prune on.
    *
    * `index` is the caller's view: for an APPENDABLE table that has seen
    * deletions, pass
    * [[graft.sim.Similarity.liveIndexRelation]]`(spark.table(tbl))` — the
    * raw table would serve tombstoned rows until the purge (the r16 gate
    * rule applies to every consumer that treats the index as the
    * accepted corpus).
    *
    * The argmax runs as a stateless `flatMapGroupsWithState` (state never
    * set): streaming append mode forbids a non-time window, but a probe's
    * candidates are all produced by its own micro-batch (the join is
    * row-local, no cross-batch candidates), so a within-batch group fold
    * is exact. Ties break (sim desc, cid asc) like the batch path; the
    * multi-table signature fan-out dedups inside the fold. State is ZERO —
    * this is a serving pipeline, not an accumulation. */
  def annServeStream(probes: DataFrame, index: DataFrame,
                     planes: Int, tables: Int)
                    (implicit spark: SparkSession): Dataset[AnnResult] = {
    import spark.implicits._
    graft.sim.Similarity.ensureRegistered(spark)
    val probesX = probes.select(col("qid"), col("embedding").as("qe"),
      explode(graft.sim.Similarity.sigTableArray(col("embedding"), planes, tables))
        .as("sig"))
    probesX
      .join(index.select(col("sig"), col("vec_id").as("cid"),
        col("embedding").as("ce")), Seq("sig"))
      .withColumn("sim", graft.sim.Similarity.cosine(col("qe"), col("ce")))
      .select(col("qid"), col("cid"), col("sim"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, AnnResult](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (qid, rows, _) =>
          // Double.compare, not >: the batch path's `ORDER BY sim DESC`
          // ranks NaN as greatest (Spark sort semantics), and `NaN > x` is
          // false for every x — a plain > fold would silently DROP a probe
          // whose candidates all scored NaN where probeIndex emits a row
          var bestCid = Long.MaxValue; var bestSim = Double.NaN
          var any = false
          rows.foreach { case (_, cid, sim) =>
            val c = java.lang.Double.compare(sim, bestSim)
            if (!any || c > 0 || (c == 0 && cid < bestCid)) {
              bestCid = cid; bestSim = sim; any = true
            }
          }
          if (!any) Iterator.empty
          else Iterator.single(AnnResult(qid, bestCid, bestSim))
      }
  }

  /** Create the APPENDABLE persisted signature index: partitioned by
    * `batch_id` (so each streaming micro-batch owns a partition it can
    * idempotently replace) and bucketed by `sig` within every partition
    * (so bucket pruning spans all batches' files at serving time —
    * readers prune `batch_id` away like any partition column). The empty
    * typed write registers schema + layout in the catalog; rows arrive via
    * [[appendIndexBatch]]. */
  def createAppendableIndex(spark: SparkSession, table: String, path: String,
                            buckets: Int = 64): Unit = {
    import spark.implicits._
    Seq.empty[(Long, Array[Float], Long, Long)]
      .toDF("vec_id", "embedding", "sig", "batch_id")
      .write.partitionBy("batch_id").bucketBy(buckets, "sig").sortBy("sig")
      .option("path", path).format("parquet").saveAsTable(table)
  }

  /** Streaming incremental index maintenance — q145's append path as a
    * LIVE pipeline: each micro-batch of new vectors is signed
    * ([[graft.sim.Similarity.indexedRelation]], the same kernel/parameters
    * as every other index site) and lands in the index under its own
    * `batch_id` partition with dynamic partition overwrite — the
    * [[writeBatch]] idempotence contract: a batch replayed after a
    * crash-before-checkpoint replaces its own partition instead of
    * double-appending. Serving queries
    * ([[graft.sim.Similarity.probeIndex]]) see each batch as soon as its
    * commit lands (the table is refreshed after every append). */
  def indexAppendStream(vectors: DataFrame, indexTable: String,
                        planes: Int, tables: Int,
                        checkpointDir: String): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendIndexBatch(batch, batchId, indexTable, planes, tables)
      }
      .start()

  /** The foreachBatch body of [[indexAppendStream]], exposed for direct
    * testing. The batch replaces its own partition through
    * [[AppendableIndex.replaceOrClear]], so an empty replay clears the
    * partition a crashed attempt left (see the step's crash contract). */
  def appendIndexBatch(batch: DataFrame, batchId: Long, indexTable: String,
                       planes: Int, tables: Int): Unit =
    appendSignedBatch(batch, batchId, indexTable,
      graft.sim.Similarity.indexedRelation(_, planes, tables)
        .select(col("vec_id"), col("embedding"), col("sig")))

  /** Shared append body for both appendable-index flavors: sign the
    * batch and land it under its own batch_id partition. An append's rows
    * never read the table, so they are their own staging. */
  private def appendSignedBatch(batch: DataFrame, batchId: Long,
                                indexTable: String,
                                sign: DataFrame => DataFrame): Unit = {
    val idx = AppendableIndex(batch.sparkSession, indexTable,
      s"appendSignedBatch($indexTable)")
    idx.replaceOrClear(
      Staged(sign(batch).withColumn("batch_id", lit(batchId)),
        if (batch.isEmpty) Set.empty else Set(batchId)),
      owned = Seq(batchId), routed = true)
  }

  /** An appendable index resolved ONCE for one operation: one catalog
    * read, the layout-shape guard, and every table fact the writers and
    * fact gathers derive from them. The guard is the layout-shape rule
    * (any maintenance op taking a TABLE must require the layout it assumes):
    * without batch_id partitions a "dynamic" overwrite is a FULL-table
    * replace, and without the bucket spec the dedup keys are misread or
    * die in a bare None.get. Column roles come from the table's own
    * metadata, so one handle serves BOTH flavors — the vector index
    * (vec_id, embedding, sig) and the band index (doc_id, digest, key). */
  private[graft] final class AppendableIndex private (
      val spark: SparkSession, val table: String, meta: CatalogTable) {
    val location: Path = new Path(meta.location)
    val fs: FileSystem =
      location.getFileSystem(spark.sparkContext.hadoopConfiguration)
    /** Data columns in declared order (insertInto is positional). */
    val dataCols: Seq[String] =
      meta.schema.fieldNames.filterNot(_ == "batch_id").toSeq
    val bucketCol: String = meta.bucketSpec.get.bucketColumnNames.head
    val numBuckets: Int = meta.bucketSpec.get.numBuckets
    /** The dedup / purge / mark key: (bucket column, leading id column). */
    val keys: Seq[String] = Seq(bucketCol, dataCols.head)
    // every staged and inserted frame is re-selected in declared order: a
    // using-columns join hoists its keys to the front, and the positional
    // insertInto would write bucket-key bits into the id column
    private val tableCols = (dataCols :+ "batch_id").map(col)

    def rows: DataFrame = spark.table(table)
    /** The standing tombstone marks, data columns only. */
    def marks: DataFrame = rows.filter(col("batch_id") === TombstoneBatchId)
      .select(dataCols.map(col): _*)
    def markKeys: DataFrame = marks.select(keys.map(col): _*)
    def child(name: String): Path = new Path(location, name)

    /** `<location>/_tombstone_epochs` — landing stamps for the mark
      * partition, one (bucket key, id, epoch) row per landed mark. The
      * `_`-prefix hides it from every table reader; it is POLICY metadata
      * only (never serving input): lost or stale rows degrade the q155
      * age fact toward "older", which fires the purge earlier — never
      * later, and never wrong rows. Epoch units are the caller's
      * (wall-clock seconds in deployments; test-controlled in specs) —
      * policy metadata is exempt from the pinned-now oracle rule because
      * no oracle reads it. */
    def epochSidecar: Path = child("_tombstone_epochs")

    /** THE write step of every appendable-index writer — fold, leveled
      * fold, purge, mark landing and append — and its one crash contract,
      * which the ops' docs point at:
      *  (1) STAGE everything before the first mutation: a frame derived
      *      from the table itself is written to a `_`-prefixed dir under
      *      the location (invisible to readers; beside the table, because
      *      a driver-local temp dir would not exist for a cluster's
      *      executors) and read back from there — never read-your-own-
      *      partition inside an overwrite.
      *  (2) REPLACE-OR-CLEAR ([[replaceOrClear]], the catalog flavor of
      *      [[graft.ops.Layouts.replacePartitions]]): dynamic-overwrite the
      *      staged partitions, then delete every partition the write owns
      *      that the staged set leaves EMPTY — an empty frame under dynamic
      *      overwrite is a no-op (the r8 empty-frame rule), so its old rows
      *      would keep serving: a crashed attempt's ghost rows, or purged
      *      victims outliving their retiring marks.
      *  (3) Marks retire LAST: an op replaces its data partitions first and
      *      the mark partition after them, and the epoch sidecar syncs
      *      after the marks. A crash anywhere leaves every mark standing
      *      (extra marks for already-purged rows are harmless to the
      *      serving anti-join and to a re-run), so every replace recomputes
      *      identically on re-entry.
      * Scratch stagings are deleted in `finally` ([[scratch]]); the leveled
      * fold's `_leveled_staging_t<level>_u<upto>` is its crash-resume PLAN
      * and survives a failure. Single-writer: one fold, purge or landing
      * per table at a time. The staging is partitioned by batch_id
      * ([[graft.ops.Layouts.stagePartitions]]), so the partitions it
      * carries are a directory listing, not a job. */
    private[streaming] def stage(name: String, rows: DataFrame): Staged = {
      val dir = child(name)
      val parts = graft.ops.Layouts.stagePartitions(rows.select(tableCols: _*),
        dir.toString, Seq("batch_id"))
      Staged(readStaged(dir), parts.map(_.stripPrefix("batch_id=").toLong).toSet)
    }

    /** Staged rows under the table's own schema (no inference job),
      * through the hidden-dir read ([[graft.ops.Layouts.readHidden]]). A
      * staging written without the batch_id column reads it as null. */
    private[streaming] def readStaged(dir: Path): DataFrame =
      graft.ops.Layouts.readHidden(spark, dir.toString, Some(meta.schema))

    /** Phase (2) of [[stage]]'s contract. `owned` lists the partitions
      * this write replaces, in clearing order; `routed` puts the rows on
      * the bucket function first (r22: corpus-scale appends arrive as ONE
      * input split and the write would run serial; routing by the bucket
      * placement hash keeps one file per (partition, bucket)).
      *
      * r22 REJECTED WITH NUMBERS (don't retry): the per-write dynamic
      * partition-overwrite writer option is not honored by
      * catalog insertInto on this engine — replayed batches DUPLICATED
      * their rows (19 StreamingSpec/soak failures). The session-scoped
      * [[withDynamicOverwrite]] stays, and so does the rule that builds
      * flipping session confs never overlap. */
    private[streaming] def replaceOrClear(staged: Staged, owned: Seq[Long],
                                          routed: Boolean = false): Unit = {
      if (staged.parts.nonEmpty) withDynamicOverwrite(spark) {
        val out = staged.rows.select(tableCols: _*)
        if (routed) graft.sources.Sources.insertBucketed(out, table,
          bucketCol, numBuckets, overwrite = true)
        else out.write.mode("overwrite").insertInto(table)
      }
      val cleared = owned.filterNot(staged.parts)
      cleared.foreach(id => fs.delete(child(s"batch_id=$id"), true))
      // a cleared partition leaves the catalog too: the table tracks its
      // partitions there (saveAsTable + partitionBy), and a listed
      // partition whose dir is gone warns on every later scan. One
      // catalog call for all of them; the refresh below re-reads it
      spark.sessionState.catalog.dropPartitions(meta.identifier,
        cleared.map(id => Map("batch_id" -> id.toString)),
        ignoreIfNotExists = true, purge = false, retainData = true)
      spark.catalog.refreshTable(table)
    }

    /** Run `body`, deleting the scratch stagings `names` afterwards — on
      * the failure path too. */
    private[streaming] def scratch[A](names: String*)(body: => A): A =
      try body finally names.foreach(n => fs.delete(child(n), true))
  }

  private[graft] object AppendableIndex {
    def apply(spark: SparkSession, table: String,
              site: String): AppendableIndex = {
      val meta = graft.ops.Layouts.tableMeta(spark, table)
      require(meta.partitionColumnNames == Seq("batch_id") &&
          meta.bucketSpec.isDefined,
        s"$site: expected the appendable-index layout (batch_id " +
          s"partitions + bucketed), got " +
          s"partitions=${meta.partitionColumnNames} buckets=${meta.bucketSpec}")
      new AppendableIndex(spark, table, meta)
    }
  }

  /** Staged rows and the partitions they carry. */
  private[streaming] final case class Staged(rows: DataFrame, parts: Set[Long])

  /** The distinct batch_ids of `rows`, ascending. */
  private def partitionIds(rows: DataFrame): Seq[Long] =
    rows.select(col("batch_id")).distinct().collect().map(_.getLong(0))
      .sorted.toSeq

  /** THE merge-on-read live view of an appendable index relation: the
    * tombstone partition's marks anti-join their rows out on `keys`
    * (bucket column, id column) — both sides the same bucketed table, so
    * the anti-join rides the bucket partitioning. The keys lead the
    * output (a using-columns join hoists them). Flavor views:
    * [[graft.sim.Similarity.liveIndexRelation]] and
    * [[graft.text.TextOps.liveBandRelation]]. */
  private[graft] def liveRelation(index: DataFrame,
                                  keys: Seq[String]): DataFrame =
    index.filter(col("batch_id") =!= TombstoneBatchId)
      .join(index.filter(col("batch_id") === TombstoneBatchId)
        .select(keys.map(col): _*), keys, "left_anti")

  /** Fold the appendable index's checkpoint-committed batch partitions
    * into ONE base partition — the maintenance arm of the THIRD layout
    * flavor (batch_id partitions × sig buckets), where q148's flat
    * bucketed rewrite and compactPartitioned's per-dir rewrite both
    * break an invariant: partitions carry the replay contract, buckets
    * carry the pruning. A 30 s trigger lands ~2,880 partitions/day;
    * folding batches 0..`uptoBatch` into `batch_id = -2` bounds the
    * partition count while `insertInto` keeps every folded file
    * bucket-numbered, so sig pruning spans base + live batches unchanged.
    * [[foldIndexLeveled]] generation partitions fold in too — the base
    * fold is the one place marks retire and purged rows physically die,
    * so it must consume every consolidated tier. Because this fold
    * rewrites the whole base (cost linear in base rows — PLANS.md r17),
    * it is the PURGE/retirement cadence, not the per-batch one: steady
    * consolidation belongs to the leveled fold.
    *
    * Safety argument, in order:
    * (1) only fold batches the checkpoint has committed BEHIND the live
    *     head — those can never replay, so deleting their partitions
    *     cannot race a re-land (the stream's own idempotence contract
    *     covers only the newest batch);
    * (2) the base is recomputed as dedup(live originals ∪ current base)
    *     — the (bucket, id) dedup makes the result identical no matter
    *     where a prior crash fell, because every row exists in
    *     originals ∪ base at every step ([[AppendableIndex.stage]]'s
    *     crash contract). (vec_id is the stable content key everywhere
    *     in this library — a re-ingest of the same vec_id with DIFFERENT
    *     content would fold to an arbitrary one of the two, as it
    *     already serves as an arbitrary one of the two.)
    * (3) inside the crash window rows exist twice (base + unfolded
    *     original). For the serving shapes this is RESULT-safe — argmax
    *     over duplicated candidates returns the same top-1 — and only
    *     occupancy counts (q147) inflate until the resume finishes.
    * Tombstoned rows do not make it into the folded base. A PARTIAL fold
    * (uptoBatch below the live head) re-lands the marks whose rows live
    * in a LATER batch — retiring them would resurrect the deleted rows in
    * every live serving path; the other marks retire with the fold.
    * Returns (batches folded, base rows after the fold). */
  def foldIndexBase(spark: SparkSession, indexTable: String,
                    uptoBatch: Long): (Long, Long) = {
    val idx = AppendableIndex(spark, indexTable, s"foldIndexBase($indexTable)")
    // a negative bound would sweep the base/tombstone partitions into the
    // "unfolded" mark-retention read below
    require(uptoBatch >= 0, s"foldIndexBase: uptoBatch must be >= 0, " +
      s"got $uptoBatch")
    // drain pending LEVELED plans first: their staging remembers pre-purge
    // rows mark-agnostically, so one replayed after this fold's purge
    // would resurrect the purged victims into a generation
    finishPendingLeveledFolds(idx)
    val live = idx.rows
      .filter(col("batch_id") >= 0 && col("batch_id") <= uptoBatch)
    val batches = partitionIds(live)
    val tomb = idx.markKeys
    val hasTomb = !tomb.isEmpty
    // the base fold is GENERATION-AWARE: every [[foldIndexLeveled]]
    // generation partition folds into the base here and is cleared with
    // the folded batches, BEFORE mark retirement — a retired mark whose
    // row still sat in an uncleared generation would resurrect it
    val genIds = partitionIds(
      idx.rows.filter(col("batch_id") <= GenerationBaseId))
    // a tombstone-only fold (no live batches) still runs: its job is to
    // purge deleted rows out of the BASE partition and retire the marks
    if (batches.isEmpty && !hasTomb && genIds.isEmpty) return (0L, 0L)
    val base = live.unionByName(
        idx.rows.filter(col("batch_id") === -2L ||
          col("batch_id") <= GenerationBaseId))
      .dropDuplicates(idx.keys)
      .join(tomb, idx.keys, "left_anti")
      .withColumn("batch_id", lit(-2L))
    val unfolded = idx.rows.filter(col("batch_id") > uptoBatch)
      .select(idx.keys.map(col): _*)
    idx.scratch("_fold_staging", "_fold_mark_staging") {
      val staged = idx.stage("_fold_staging", base)
      val survivors = if (!hasTomb) None else Some(idx.stage(
        "_fold_mark_staging", idx.marks.join(unfolded, idx.keys, "left_semi")
          .withColumn("batch_id", lit(TombstoneBatchId))))
      val rows = staged.rows.count()
      // an EMPTY folded base (a full takedown followed by a scheduled
      // fold) clears batch_id=-2 with the folded batches
      idx.replaceOrClear(staged, -2L +: (batches ++ genIds))
      survivors.foreach(idx.replaceOrClear(_, Seq(TombstoneBatchId)))
      // landing stamps of retired marks retire with them
      if (hasTomb) syncEpochSidecar(idx)
      (batches.length.toLong, rows)
    }
  }

  /** Generation partitions of the LEVELED fold live at
    * `batch_id = GenerationBaseId - level` (level 0 → −10, level 1 → −11,
    * …), below every reserved id (−2 base, −3 marks) so no consumer can
    * confuse them; serving and gating need no change at all — every read
    * path filters `batch_id =!= TombstoneBatchId`, which includes
    * generations like any other partition. */
  val GenerationBaseId: Long = -10L

  private val LeveledStagingRe = """_leveled_staging_t(\d+)_u(\d+)""".r

  /** LEVELED fold — the amortized sibling of [[foldIndexBase]], closing
    * the 100× question the full fold leaves open: the base fold rewrites
    * EVERYTHING folded so far (measured linear in base rows, PLANS.md
    * r17), so a fixed fold cadence costs QUADRATIC total work over
    * a stream's lifetime — at a 100 TB base every 16th micro-batch would
    * pay a full-corpus rewrite. This fold instead consolidates the live
    * batches 0..`uptoBatch` into binary-counter GENERATION partitions:
    * the target is the smallest empty level j, merged together with every
    * occupied level below j (so after m folds the occupied levels are
    * exactly the set bits of m — at most log₂(m)+1 partitions), each row
    * is rewritten at most log₂ times over the stream's lifetime
    * (O(n log n) total fold work), and the base partition is never read
    * or written. Partition decay stays answered: live batches collapse at
    * the same cadence as before, into log-many generations instead of one
    * ever-growing base.
    *
    * Deliberately MARK-AGNOSTIC (single responsibility): tombstone marks
    * are neither honored nor retired here — serving correctness stays
    * with the live view's anti-join, and the physical purge plus mark
    * retirement remain [[foldIndexBase]]'s job (now generation-aware),
    * run at a much slower cadence or by the q155 schedule's purge check.
    *
    * Crash contract — [[AppendableIndex.stage]]'s, with the PLAN riding
    * the staging dir's NAME (`_leveled_staging_t<level>_u<upto>`): a
    * resume must finish the identical plan, never recompute one from
    * mutated state (a half-cleared source set would derive a different
    * target level and leave the written generation serving duplicate rows
    * forever). Entry finishes any committed pending plan first (deleting
    * uncommitted staging debris), so every invocation converges the table
    * before folding anew; within the window rows exist in staging ∪
    * sources ∪ target and the (bucket, id) dedup makes re-execution
    * identical — the same invariant the base fold holds. Duplicates
    * visible inside the window are argmax-safe, exactly as for the base
    * fold's window. Returns (batch partitions cleared, rows in the
    * written generation). */
  def foldIndexLeveled(spark: SparkSession, indexTable: String,
                       uptoBatch: Long): (Long, Long) = {
    val idx = AppendableIndex(spark, indexTable,
      s"foldIndexLeveled($indexTable)")
    require(uptoBatch >= 0, s"foldIndexLeveled: uptoBatch must be >= 0, " +
      s"got $uptoBatch")
    val pending = finishPendingLeveledFolds(idx)
    val live = idx.rows
      .filter(col("batch_id") >= 0 && col("batch_id") <= uptoBatch)
    if (live.isEmpty) return pending.getOrElse((0L, 0L))
    val occupied = partitionIds(
        idx.rows.filter(col("batch_id") <= GenerationBaseId))
      .map(id => (GenerationBaseId - id).toInt).toSet
    val level = Iterator.from(0).find(!occupied(_)).get
    val target = GenerationBaseId - level
    val plan = s"_leveled_staging_t${level}_u$uptoBatch"
    idx.stage(plan, live.unionByName(idx.rows.filter(
        col("batch_id") <= GenerationBaseId && col("batch_id") > target))
      .dropDuplicates(idx.keys)
      .withColumn("batch_id", lit(target)))
    finishLeveledFold(idx, level, uptoBatch, idx.child(plan))
  }

  /** Execute (or resume) a leveled-fold plan whose committed staging sits
    * at `staging`: replace the target generation with the staged rows,
    * clear the source partitions the plan names (every occupied level
    * below `level`, every batch partition ≤ `upto` still present), drop
    * the staging last. Every step is idempotent, so re-entry from any
    * crash point converges to the same table. */
  private def finishLeveledFold(idx: AppendableIndex, level: Int, upto: Long,
                                staging: Path): (Long, Long) = {
    val target = GenerationBaseId - level
    val staged = idx.readStaged(staging).withColumn("batch_id", lit(target))
    val rows = staged.count()
    val sources = partitionIds(idx.rows.filter(
      (col("batch_id") >= 0 && col("batch_id") <= upto) ||
        (col("batch_id") <= GenerationBaseId && col("batch_id") > target)))
    idx.replaceOrClear(
      Staged(staged, if (rows > 0L) Set(target) else Set.empty),
      target +: sources)
    idx.fs.delete(staging, true)
    (sources.count(_ >= 0).toLong, rows)
  }

  /** Finish every committed pending leveled-fold plan beside the table's
    * location (single-writer means at most one) and delete uncommitted
    * staging debris. Shared by [[foldIndexLeveled]] (entry convergence),
    * [[foldIndexBase]] and [[purgeIndexTombstones]] — those purge rows and
    * retire marks, and a stale plan replayed AFTER the purge would
    * resurrect them (the staging remembers pre-purge rows,
    * mark-agnostically), so they drain pending plans before mutating
    * anything. Returns the last finished plan's counts, if any. */
  private def finishPendingLeveledFolds(idx: AppendableIndex)
      : Option[(Long, Long)] =
    graft.ops.Layouts.listChildren(idx.spark, idx.location.toString)
      .collect { case n @ LeveledStagingRe(level, upto) =>
        (idx.child(n), level.toInt, upto.toLong)
      }
      .flatMap { case (p, level, upto) =>
        if (graft.ops.Layouts.committed(idx.spark, p.toString))
          Some(finishLeveledFold(idx, level, upto, p))
        else { graft.ops.Layouts.delete(idx.spark, p.toString); None }
      }.lastOption

  /** MARK-SCOPED physical purge of an appendable index — the table
    * flavor's analog of [[graft.sim.Similarity.purgeIvfTombstones]]'
    * partition-scoped rewrite, closing the r17 verdict's "any nonzero
    * debt buys a FULL base fold": only the CONSOLIDATED partitions (the
    * `-2` base and the leveled generations) that actually contain
    * victims are read and rewritten — victim-bearing partitions are
    * discovered by a bucket-aligned semi-join (marks and rows share the
    * sig/key bucketing), untouched generations keep their files, and the
    * cost is ∝ victim-bearing partition rows, not base size (measured:
    * PLANS.md r18). LIVE batch partitions are never
    * touched — they belong to the stream's replay contract; their
    * victims stay hidden by the serving anti-join until a fold
    * consolidates them — so marks whose rows still sit in live batches
    * survive the purge and re-land (exactly [[foldIndexBase]]'s
    * partial-fold mark-retention rule, scoped to partitions instead of a
    * batch bound). A purge whose victims ALL sit in live batches is a
    * bounded no-op (zero partitions rewritten, content-free marks still
    * retired); the next fold makes them purgeable. That fold is NOT
    * guaranteed by the q155 schedule alone — its fold row triggers on
    * partition decay, which a low-traffic table may never reach, so a
    * purge_age SLA bound to this plain purge would fire a no-op every
    * tick forever. Schedule-driven erasure must bind
    * [[purgeIndexTombstonesConverging]], which folds the committed live
    * batches and re-purges when marks survive this pass.
    *
    * Crash contract: [[AppendableIndex.stage]]'s. Pending leveled-fold
    * plans drain FIRST — a stale staged plan replayed after this purge
    * would resurrect the victims (leveled staging remembers pre-purge
    * rows, mark-agnostically). Returns (partitions rewritten, rows
    * purged). */
  def purgeIndexTombstones(spark: SparkSession, indexTable: String)
      : (Long, Long) = {
    val idx = AppendableIndex(spark, indexTable,
      s"purgeIndexTombstones($indexTable)")
    finishPendingLeveledFolds(idx)
    val tomb = idx.markKeys
    if (tomb.isEmpty) {
      syncEpochSidecar(idx)
      return (0L, 0L)
    }
    val consolidated = idx.rows.filter(col("batch_id") === -2L ||
      col("batch_id") <= GenerationBaseId)
    val touched =
      partitionIds(consolidated.join(tomb, idx.keys, "left_semi"))
    val scoped = consolidated
      .filter(col("batch_id").isin(touched.map(Long.box): _*))
    // marks whose row still sits in a LIVE batch must survive — after the
    // touched partitions rewrite, live batches hold the only remaining
    // copies, so retiring their marks would resurrect the victims
    val liveRows = idx.rows.filter(col("batch_id") >= 0)
      .select(idx.keys.map(col): _*)
    idx.scratch("_purge_staging", "_purge_mark_staging") {
      val staged = idx.stage("_purge_staging",
        scoped.join(tomb, idx.keys, "left_anti"))
      val survivors = idx.stage("_purge_mark_staging",
        idx.marks.join(liveRows, idx.keys, "left_semi")
          .withColumn("batch_id", lit(TombstoneBatchId)))
      // both sides read the pre-rewrite files (the purgeIvfTombstones
      // accounting rule) — forced before any mutation below
      val purged = scoped.count() - staged.rows.count()
      idx.replaceOrClear(staged, touched)
      idx.replaceOrClear(survivors, Seq(TombstoneBatchId))
      syncEpochSidecar(idx)
      (touched.length.toLong, purged)
    }
  }

  /** [[purgeIndexTombstones]] plus the CONVERGENCE arm a schedule-driven
    * erasure SLA needs: a mark whose victim sits only in LIVE batch
    * partitions survives the scoped purge by design (live batches belong
    * to the replay contract), and on a low-traffic table the q155 fold
    * row (partition decay > 8) may never independently trigger — so a
    * `purge_age` bound to the plain purge would fire a no-op rewrite of
    * the mark partition every tick forever while physical erasure is
    * deferred indefinitely. This variant purges, and if marks survived
    * that pass AND committed live batches exist, consolidates them with
    * ONE leveled fold (amortized — each row rewritten ≤ log₂ times over
    * the table's lifetime, base never read) and purges once more, so the
    * SLA converges in the tick that fires it.
    *
    * `uptoBatch` is the caller's COMMITTED head — the largest live
    * batch_id the stream's checkpoint can no longer replay (the
    * [[maintainedGateStream]] fold bound): folding an uncommitted batch
    * would make a crash replay's own rows visible to its re-gating (its
    * partition filter no longer hides them once they sit in a
    * generation), changing replayed decisions. For a static table with
    * no active stream, pass [[maxLiveBatch]]. Marks whose victims sit
    * in batches BEYOND `uptoBatch` still survive (correctly — the
    * replay window is not erasable); they converge on a later tick once
    * those batches commit. Returns summed (partitions rewritten, rows
    * purged) across both passes. Single-writer contract as for every
    * fold/purge on the table. */
  def purgeIndexTombstonesConverging(spark: SparkSession,
      indexTable: String, uptoBatch: Long): (Long, Long) = {
    val first = purgeIndexTombstones(spark, indexTable)
    val standing = !spark.table(indexTable)
      .filter(col("batch_id") === TombstoneBatchId).isEmpty
    if (!standing || uptoBatch < 0) return first
    val foldable = !spark.table(indexTable)
      .filter(col("batch_id") >= 0 && col("batch_id") <= uptoBatch)
      .isEmpty
    if (!foldable) return first
    foldIndexLeveled(spark, indexTable, uptoBatch)
    val second = purgeIndexTombstones(spark, indexTable)
    (first._1 + second._1, first._2 + second._2)
  }

  /** Largest live batch_id of an appendable index, −1 with none — the
    * `uptoBatch` bound for maintenance on a table with NO active stream
    * (every landed batch is final, so all of them are foldable). A table
    * with a live stream must use the stream's own committed head instead
    * — see [[purgeIndexTombstonesConverging]]. */
  def maxLiveBatch(spark: SparkSession, indexTable: String): Long = {
    val r = spark.table(indexTable).filter(col("batch_id") >= 0)
      .agg(max(col("batch_id"))).head()
    if (r.isNullAt(0)) -1L else r.getLong(0)
  }

  /** Oldest outstanding deletion-debt AGE of an appendable index, in the
    * epoch units its marks were landed with (`now − min(landing epoch)`
    * over stamps whose mark still stands); −1 with zero debt. Marks with
    * no stamp — a legacy table, or a crash between the mark landing and
    * its stamp append — read as infinitely old (`now`), so the q155
    * age-bound purge fires sooner, never later. A q155 fact gather
    * (bounded: one mark-partition read + one sidecar read). */
  def appendableTombstoneAge(spark: SparkSession, indexTable: String,
                             now: Long): Long = {
    val idx = AppendableIndex(spark, indexTable,
      s"appendableTombstoneAge($indexTable)")
    val tomb = idx.markKeys
    if (tomb.isEmpty) return -1L
    val sidecar = idx.epochSidecar
    if (!graft.ops.Layouts.hasParquetData(spark, sidecar.toString)) return now
    // ONE pass answers both questions: min stamp over STANDING marks
    // (stale stamps for retired marks drop out of the left join's left
    // side), and whether ANY standing mark has no stamp at all — which
    // reads as infinitely old, not just the all-unstamped case: a crash
    // between one mark's landing and its stamp append must not hide
    // behind a later mark's younger stamp (the SLA fires sooner, never
    // later — per mark, not per table)
    val stamps = graft.ops.Layouts.readHidden(spark, sidecar.toString)
      .select((idx.keys.map(col) :+ col("epoch")): _*)
    val r = tomb.join(stamps, idx.keys, "left")
      .agg(min(col("epoch")),
        sum(when(col("epoch").isNull, 1L).otherwise(0L))).head()
    if (r.getLong(1) > 0L) now
    else math.max(0L, now - r.getLong(0))
  }

  /** REBUILD an appendable index under a re-derived bucket count — the
    * `rebuild_with_derived_params` tool for the TABLE flavor (the
    * directory twin is [[graft.sim.Similarity.rebuildIvfLayout]]): the
    * live rows (tombstone-anti-joined, (bucket, id)-deduped against
    * crash-window base+original duplicates) land as the `batch_id = -2`
    * base of a FRESH table bucketed at `buckets`, built under a staging
    * NAME and swapped in via DROP + RENAME — the
    * [[graft.sources.Sources.compactBucketed]] crash contract, including
    * the resume branch (a crash between DROP and RENAME leaves only the
    * complete staging copy, which the entry branch finishes renaming).
    * Deletion debt is honored by exclusion, so the new table starts
    * mark-free — the rebuild is also a purge and a full fold.
    *
    * Metadata-generic like [[foldIndexBase]]: column roles come from the
    * old table's [[AppendableIndex]] handle, so one tool serves the vector
    * (vec_id, embedding, sig) and band (doc_id, digest, key) flavors.
    * Signatures/keys are pure functions of content, independent of the
    * bucket COUNT, so stored rows rebucket as-is — no kernel re-run.
    * Each invocation writes to a FRESH generation-indexed sibling of the
    * table's OWN location (`<location>_rb<N>` on the same filesystem —
    * driver-local temp dirs would not exist for a cluster's executors
    * and die with the host, and a fixed caller path would collide with
    * the previous rebuild's now-live files on the second trigger;
    * external-table drops never clean data files, so old generations
    * remain for the operator to reap). Maintenance-op single-writer
    * contract applies. Returns rows written. */
  def rebuildAppendableIndex(spark: SparkSession, table: String,
                             buckets: Int): Long = {
    val staging = s"${table}_rebuild"
    if (!spark.catalog.tableExists(table)) {
      require(spark.catalog.tableExists(staging),
        s"rebuildAppendableIndex: neither $table nor $staging exists")
      val resumedLoc = graft.ops.Layouts.tableLocation(spark, staging)
      spark.sql(s"ALTER TABLE $staging RENAME TO $table")
      // the crashed attempt may have left its retiring-location marker
      // standing (crash between the swap and the retired-location rename)
      // — finish that rename here so the un-namespaced dead dir becomes
      // reapable instead of hand-reap operator debt
      finishRetiredLocationRename(spark,
        resumedLoc.getFileSystem(spark.sparkContext.hadoopConfiguration),
        resumedLoc.getParent, rbBase(table), resumedLoc.getName)
      return spark.table(table).count()
    }
    val idx = AppendableIndex(spark, table, s"rebuildAppendableIndex($table)")
    if (spark.catalog.tableExists(staging)) spark.sql(s"DROP TABLE $staging")
    val live = liveRelation(idx.rows, idx.keys)
      .dropDuplicates(idx.keys)
      .select(idx.dataCols.map(col): _*)
      .withColumn("batch_id", lit(-2L))
    // fresh generation dir BESIDE the table's own location (same
    // filesystem/durability as the data it replaces), namespaced on the
    // TABLE IDENTIFIER — a regex over the location name could merge two
    // tables' generation namespaces when one's dir happens to end in
    // _rb<digits>, and an operator reaping one table's old generations
    // must never be able to hit another's live dir
    val loc = idx.location
    val base = rbBase(table)
    val gen = nextFreeRbSlot(idx.fs, loc.getParent, base)
    val path = new Path(loc.getParent, s"${base}_rb$gen").toString
    live.write.partitionBy("batch_id")
      .bucketBy(buckets, idx.bucketCol).sortBy(idx.bucketCol)
      .option("path", path).format("parquet").saveAsTable(staging)
    val rows = spark.table(staging).count()
    // the FIRST rebuild's dead generation is the original caller-chosen
    // location, whose name cannot match the `_rb<N>` pattern — left
    // as-is it would be invisible to oldRebuildGenerations (and so to
    // the q155 reap check) forever, exactly the debt-visibility hole the
    // reap machinery exists to close. It gets renamed into the
    // generation namespace AFTER the swap — and a MARKER recording the
    // soon-dead location lands BEFORE the swap, so a crash inside the
    // swap→rename window leaves the un-namespaced dir visible to the
    // audit (and finishable by the resume branch) instead of hand-reap
    // operator debt an operator has to notice. Later rebuilds' old
    // locations are already `_rb<N>` names and need neither.
    if (rbRegex(base).findFirstIn(loc.getName).isEmpty)
      writeRetiringMarker(spark, loc.getParent, base, loc.getName)
    spark.sql(s"DROP TABLE $table") // external: old files outlive the drop
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    finishRetiredLocationRename(spark, idx.fs, loc.getParent, base,
      liveLocName = new Path(path).getName)
    rows
  }

  /** The retiring-location MARKER: a one-line file at
    * `<parent>/<base>_rb_retiring` naming the dir the in-flight rebuild
    * is about to orphan. Written before the table swap, consumed by
    * [[finishRetiredLocationRename]] after it (or by the resume branch /
    * [[oldRebuildGenerations]] if the rebuild crashed in between) — the
    * name cannot match [[rbRegex]] (no trailing digits), so the reaper
    * never enumerates the marker itself as a generation. */
  private def retiringMarker(parent: Path, base: String): Path =
    new Path(parent, s"${base}_rb_retiring")

  private def writeRetiringMarker(spark: SparkSession, parent: Path,
                                  base: String, dirName: String): Unit =
    graft.ops.Layouts.writeMarkerFile(spark,
      retiringMarker(parent, base).toString, dirName)

  private def readRetiringMarker(spark: SparkSession, parent: Path,
                                 base: String): Option[String] =
    graft.ops.Layouts.readMarkerFile(spark,
      retiringMarker(parent, base).toString)

  /** Finish (or retire) a standing retiring-location marker: rename the
    * marker-named dir into a free `_rb<N>` slot, then drop the marker.
    * Every state is classifiable — dir already renamed/gone or the
    * marker naming the LIVE location (a crash landed before the swap,
    * then the next attempt resumed) just drops the marker. Idempotent;
    * shared by the rebuild's publish path and its crash-resume branch. */
  private def finishRetiredLocationRename(spark: SparkSession,
      fs: FileSystem, parent: Path, base: String,
      liveLocName: String): Unit =
    readRetiringMarker(spark, parent, base).foreach { name =>
      val dead = new Path(parent, name)
      if (name != liveLocName && fs.exists(dead)) {
        val free = nextFreeRbSlot(fs, parent, base)
        if (!fs.rename(dead, new Path(parent, s"${base}_rb$free")))
          sys.error(s"rebuildAppendableIndex: could not move the retired " +
            s"location $dead into the reapable generation namespace")
      }
      fs.delete(retiringMarker(parent, base), false)
    }

  /** ONE definition of the `_rb<N>` generation namespace — creation
    * ([[rebuildAppendableIndex]]'s fresh dir and its retired-location
    * rename) and enumeration ([[oldRebuildGenerations]], whose matches
    * the reaper DELETES) must never drift apart. */
  private def rbBase(table: String): String =
    table.replaceAll("[^A-Za-z0-9_]", "_")
  private def rbRegex(base: String): scala.util.matching.Regex =
    s"^${java.util.regex.Pattern.quote(base)}_rb\\d+$$".r
  private def nextFreeRbSlot(fs: FileSystem, parent: Path,
                             base: String): Int =
    Iterator.from(1).find(i => !fs.exists(
      new Path(parent, s"${base}_rb$i"))).get

  /** OLD `<table>_rb<N>` rebuild generations of an appendable index —
    * the data-file dirs [[rebuildAppendableIndex]]'s external DROP left
    * behind (deliberately: a drop never deletes external files, and the
    * newest generation IS the live table's location). Enumerated so the
    * maintenance schedule (q155's `reap` check) can surface the debt
    * instead of letting dead generations accrue invisibly beside the
    * live one. Excludes the live table's own location and — when a
    * crashed rebuild left its `<table>_rebuild` staging — the staging's
    * location, whose files the resume branch still needs. Namespaced on
    * the sanitized table identifier (the [[rebuildAppendableIndex]]
    * naming rule), so one table's reap can never see another's dirs. */
  def oldRebuildGenerations(spark: SparkSession,
                            table: String): Seq[String] = {
    val stagingTbl = s"${table}_rebuild"
    val keep = scala.collection.mutable.Set.empty[String]
    // the audit must survive the rebuild crash window (table dropped,
    // staging not yet renamed) — exactly when byproduct visibility
    // matters most: anchor on whichever of the two tables exists,
    // protecting both locations from enumeration
    val parent =
      if (spark.catalog.tableExists(table)) {
        val l = graft.ops.Layouts.tableLocation(spark, table); keep += l.getName
        if (spark.catalog.tableExists(stagingTbl))
          keep += graft.ops.Layouts.tableLocation(spark, stagingTbl).getName
        l.getParent
      } else if (spark.catalog.tableExists(stagingTbl)) {
        val l = graft.ops.Layouts.tableLocation(spark, stagingTbl); keep += l.getName
        l.getParent
      } else sys.error(s"oldRebuildGenerations($table): neither the " +
        s"table nor its $stagingTbl staging exists — a mistyped/stale " +
        "table name must not read as zero debt (the audit would bless " +
        "invisibly accruing generations)")
    val base = rbBase(table)
    val re = rbRegex(base)
    val fs = parent.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a standing retiring-location marker names a dir a crashed rebuild
    // orphaned OUTSIDE the `_rb<N>` namespace (crash between the table
    // swap and the retired-location rename) — surface it like any other
    // dead generation instead of relying on an operator noticing. A
    // marker naming the live/staging location (crash before the swap) is
    // excluded by the same keep set as everything else.
    val markerNamed = readRetiringMarker(spark, parent, base)
      .filter(n => !keep(n) && fs.exists(new Path(parent, n)))
    (graft.ops.Layouts.listChildren(spark, parent.toString)
      .filter(n => re.findFirstIn(n).isDefined && !keep(n)) ++ markerNamed)
      .distinct.sorted
      .map(n => new Path(parent, n).toString)
  }

  /** The `reap_rebuild_generations` tool the q155 schedule's `reap`
    * check binds: delete every old [[oldRebuildGenerations]] dir of
    * `table` and return how many died. Safe by construction — the live
    * location and a crash-resume staging location are excluded at
    * enumeration, and the generation namespace is the table's own. */
  def reapRebuildGenerations(spark: SparkSession, table: String): Long = {
    val old = oldRebuildGenerations(spark, table)
    old.foreach(graft.ops.Layouts.delete(spark, _))
    // a retiring-location marker whose named dir is gone (reaped just
    // now, or renamed by a finished rebuild that crashed before the
    // marker delete) is spent — retire it so nothing stale accrues
    if (spark.catalog.tableExists(table)) {
      val parent = graft.ops.Layouts.tableLocation(spark, table).getParent
      val fs = parent.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val base = rbBase(table)
      readRetiringMarker(spark, parent, base).foreach { n =>
        if (!fs.exists(new Path(parent, n)))
          fs.delete(retiringMarker(parent, base), false)
      }
    }
    old.length.toLong
  }

  /** Run `body` with dynamic partition overwrite on, restoring the
    * session's mode afterwards — never a bare set (the r13 leak rule). The
    * catalog publish of [[AppendableIndex.replaceOrClear]] is its one
    * caller: `insertInto` must keep the bucket-numbered file names and the
    * catalog's partition entries, which a rename publish would not.
    * Directory writers use [[graft.ops.Layouts.replacePartitions]]. The
    * conf is session-global, so two overlapping calls on one session
    * clobber each other's restore. */
  private[graft] def withDynamicOverwrite[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val was = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try body finally spark.conf.set(key, was)
  }

  /** GDPR-style DELETION from the appendable index — the merge-on-read
    * tombstone pattern: deletion marks land as their own
    * `batch_id = -3` partition ([[graft.sim.Similarity.TombstoneBatchId]])
    * of the index table itself, sig-bucketed like every other partition,
    * so the serving anti-join ([[graft.sim.Similarity.probeIndexLive]])
    * stays bucket-aligned and bucket-pruned; the next [[foldIndexBase]]
    * physically purges both the tombstoned rows and the marks. This is
    * the only deletion shape that scales: an eager in-place rewrite of a
    * bucketed table is a full-table job per deletion request, while a
    * mark is one bounded write and the purge amortizes into maintenance
    * the schedule (q155) already runs.
    *
    * `victims` carries (vec_id, embedding) — content is needed because
    * signatures are pure functions of it (a mark must sit in every
    * bucket its row sits in); production fetches it by pushed `vec_id
    * IN` point-lookup from the corpus (the q149 rescore read pattern).
    * Marks store a NULL embedding (they are keys, not vectors) and are
    * deduplicated against the existing marks on (sig, vec_id) — so
    * re-deleting is idempotent. Crash contract:
    * [[AppendableIndex.stage]]'s. Single-writer: see
    * [[landTombstoneMarks]] — landings must be serialized with each other
    * and with [[foldIndexBase]]. */
  def tombstoneIndexRows(spark: SparkSession, indexTable: String,
                         victims: DataFrame, planes: Int, tables: Int,
                         epoch: Long = System.currentTimeMillis() / 1000L)
      : Unit =
    landTombstoneMarks(spark, indexTable, graft.sim.Similarity
      .indexedRelation(victims.select(col("vec_id"), col("embedding")),
        planes, tables)
      .select(col("vec_id"),
        lit(null).cast("array<float>").as("embedding"), col("sig")),
      epoch)

  /** [[tombstoneIndexRows]]' text twin: delete documents from the
    * appendable BAND index ([[createAppendableBandIndex]]) — marks carry
    * the victims' real (doc_id, digest, key) rows (band keys are pure
    * functions of text, so a mark sits in every bucket its row sits in);
    * `victims` carries (doc_id, text). Serving goes through
    * [[graft.text.TextOps.liveBandIndex]]; the next [[foldIndexBase]]
    * purges physically — the gate's decisions flip from `exact_dup` back
    * to `unique` the moment the mark lands, the re-admission contract a
    * takedown implies. */
  def tombstoneBandRows(spark: SparkSession, indexTable: String,
                        victims: DataFrame,
                        epoch: Long = System.currentTimeMillis() / 1000L)
      : Unit =
    landTombstoneMarks(spark, indexTable,
      graft.text.TextOps.bandedSignatures(
          victims.select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("digest"), col("key")),
      epoch)

  /** Streaming DELETION maintenance — takedown requests as a live feed
    * (the delete-side sibling of [[indexAppendStream]]): each micro-batch
    * of victims (vec_id, embedding) lands its tombstone marks via
    * [[tombstoneIndexRows]]. No batch_id bookkeeping is needed, unlike
    * the append paths: mark landing is a (bucket, id)-deduped UNION with
    * the existing marks, so a batch replayed after a
    * crash-before-checkpoint re-lands the identical mark set — replay
    * idempotence comes from the operation's own semantics. One delete
    * stream per table, paused across maintenance ticks — the
    * [[landTombstoneMarks]] single-writer contract.
    *
    * Reader caveat (standard filesystem-table semantics): the mark
    * landing OVERWRITES the tombstone partition, and the foreachBatch
    * body refreshes only its own (cloned) session's relation cache — a
    * concurrent reader session that listed the partition before the
    * overwrite must `REFRESH TABLE` (or re-create its DataFrame) to
    * avoid FILE_NOT_EXIST on the replaced files, exactly as for any
    * non-transactional table under partition overwrite. */
  def indexDeleteStream(victims: DataFrame, indexTable: String,
                        planes: Int, tables: Int,
                        checkpointDir: String): StreamingQuery =
    victims.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          tombstoneIndexRows(batch.sparkSession, indexTable, batch,
            planes, tables)
      }
      .start()

  /** The shared mark-landing body for both index flavors: marks union
    * with the existing marks, dedup on the handle's (bucket column, id
    * column) keys, and replace the tombstone partition through the
    * stage-then-replace step.
    *
    * SINGLE-WRITER contract (the same maintenance-op serialization the
    * fold assumes): landing is read-union-overwrite of ONE partition, so
    * two concurrent landings — two delete streams on one table, or a
    * landing racing [[foldIndexBase]]'s mark-retire step — can silently
    * drop whichever marks the loser read before the winner's overwrite.
    * Deployments must serialize tombstone landing with each other and
    * with the fold (one delete stream per table; pause it across
    * maintenance ticks). Within one serialized writer, replays are
    * idempotent by the (bucket, id) dedup. */
  private def landTombstoneMarks(spark: SparkSession, indexTable: String,
                                 marks: DataFrame,
                                 epoch: Long): Unit = {
    val idx = AppendableIndex(spark, indexTable,
      s"landTombstoneMarks($indexTable)")
    idx.scratch("_tombstone_staging") {
      idx.replaceOrClear(idx.stage("_tombstone_staging",
          idx.marks.unionByName(marks.select(idx.dataCols.map(col): _*))
            .dropDuplicates(idx.keys)
            .withColumn("batch_id", lit(TombstoneBatchId))),
        Seq(TombstoneBatchId))
      // the LANDING-EPOCH sidecar (r18): debt age is a purge-policy input
      // — without it a band-gated schedule could defer a handful of marks
      // forever, unbounding erasure latency. Appended AFTER the marks (a
      // crash in between leaves a mark with no stamp, which the age fact
      // reads as infinitely old — conservative: the purge fires sooner,
      // never later). Append-only: re-deletes append the same keys under
      // later epochs, and min(epoch) per key keeps the FIRST landing.
      // Converge any syncEpochSidecar crash window FIRST (r19): a
      // landing is a sidecar writer, and appending into the no-live-
      // sidecar window would re-create the sidecar with only this
      // batch's stamp — the next converge would then see it exists,
      // skip the resume, and delete the staging/retiring copies holding
      // every pre-crash stamp.
      convergeEpochSidecar(idx)
      marks.select(idx.keys.map(col): _*)
        .withColumn("epoch", lit(epoch))
        .write.mode("append").parquet(idx.epochSidecar.toString)
    }
  }

  /** Re-sync the epoch sidecar ([[AppendableIndex.epochSidecar]]) after
    * mark retirement: keep only stamps whose (bucket, id) key is still
    * marked, or drop the sidecar when the marks cleared. Runs LAST in
    * every purge/fold — a crash before it leaves stale stamps, which only
    * age the debt upward (conservative). Staged beside the sidecar (never
    * read-your-own-dir in an overwrite), and published by RENAME-ASIDE
    * (the r17 retire rule): the live sidecar moves to
    * `_tombstone_epochs_retiring` and is deleted only AFTER the staging
    * rename lands — a delete-then-rename publish whose rename fails
    * destroys BOTH copies and every landing stamp with it (degradation
    * was conservative — unstamped marks read infinitely old — but the
    * loss plus the per-tick no-op purges it buys are avoidable).
    * [[convergeEpochSidecar]] finishes any crash state at the next
    * writer's entry. */
  private def syncEpochSidecar(idx: AppendableIndex): Unit = {
    val sidecar = idx.epochSidecar
    val fs = idx.fs
    convergeEpochSidecar(idx)
    if (!graft.ops.Layouts.hasParquetData(idx.spark, sidecar.toString)) {
      if (fs.exists(sidecar)) fs.delete(sidecar, true)
      return
    }
    val standing = idx.markKeys
    if (standing.isEmpty) { fs.delete(sidecar, true); return }
    val staging = idx.child("_tombstone_epochs_staging")
    val retiring = idx.child("_tombstone_epochs_retiring")
    idx.scratch(staging.getName) {
      graft.ops.Layouts.readHidden(idx.spark, sidecar.toString)
        .join(standing, idx.keys, "left_semi")
        .write.mode("overwrite").parquet(staging.toString)
      if (!fs.rename(sidecar, retiring))
        sys.error(s"epoch-sidecar sync of ${idx.table} could not retire " +
          s"the live copy aside")
      if (!fs.rename(staging, sidecar)) {
        // restore the retired copy so the stamps survive the failure
        fs.rename(retiring, sidecar)
        sys.error(s"epoch-sidecar sync of ${idx.table} failed to publish")
      }
      fs.delete(retiring, true)
    }
  }

  /** Finish a [[syncEpochSidecar]] crash window at the next writer's
    * entry: a crash between the rename-aside and the publish leaves no
    * live sidecar — resume from the committed staging (the fresher,
    * already-filtered copy) or, failing that, restore the retired copy
    * (stale stamps only age debt upward); then clear debris. Writer-side
    * only — the q155 fact gather stays a pure observer, reading missing
    * stamps as infinitely old until the next purge/fold converges. */
  private def convergeEpochSidecar(idx: AppendableIndex): Unit = {
    val sidecar = idx.epochSidecar
    val fs = idx.fs
    val staging = idx.child("_tombstone_epochs_staging")
    val retiring = idx.child("_tombstone_epochs_retiring")
    // a failed resume rename must fail LOUD before the debris deletes
    // below — falling through would erase the only surviving stamp
    // copies, exactly the silent loss the rename-aside protocol exists
    // to prevent (syncEpochSidecar itself sys.errors on the same
    // failures before touching anything)
    if (!fs.exists(sidecar)) {
      // the staging copy must have committed AND carry data (the repo's
      // sidecar-read rule, r19 ADVICE): a committed-but-empty husk (zero
      // stamps survived the sync's semi-join) is schema-less, and resuming
      // it would discard the retiring stamps on the IMPLICIT invariant
      // that an empty semi-join means every retiring stamp's mark retired
      // — restore the retiring copy instead; its stale stamps only age
      // debt upward (conservative) and the next sync re-filters them
      if (graft.ops.Layouts.committed(idx.spark, staging.toString) &&
          graft.ops.Layouts.hasParquetData(idx.spark, staging.toString)) {
        if (!fs.rename(staging, sidecar))
          sys.error(s"epoch-sidecar converge: could not resume the " +
            s"committed staging copy into $sidecar")
      } else if (fs.exists(retiring)) {
        if (!fs.rename(retiring, sidecar))
          sys.error(s"epoch-sidecar converge: could not restore the " +
            s"retired copy into $sidecar")
      }
    }
    fs.delete(staging, true)
    fs.delete(retiring, true)
  }

  /** Streaming ONLINE dedup gate — continuous ingest admission control
    * over the appendable index: each micro-batch is gated
    * ([[graft.sim.Similarity.dedupGateBatch]]) against the index AS OF
    * the previous batch, its decisions land under their own `batch_id`
    * partition of `decisionsDir`, and only the `accepted` rows append to
    * the index ([[appendIndexBatch]]) — so the index IS the accepted
    * corpus and the gate closes the loop the batch-side q96/q150 gates
    * open. The probe side EXCLUDES the batch's own `batch_id` partition,
    * which is what makes replays deterministic: a batch re-run after a
    * crash between the index append and the checkpoint commit recomputes
    * the SAME decisions even though its own accepted rows already landed
    * (they are filtered out of the index view), then overwrites both its
    * partitions idempotently. Gating reads the LIVE (tombstone-anti-
    * joined) view, so replay determinism is relative to the mark set: a
    * takedown landing inside a crash window changes the replayed batch's
    * decisions — correctly, to the fresher deletion baseline. */
  def dedupGateStream(vectors: DataFrame, indexTable: String,
                      planes: Int, tables: Int, decisionsDir: String,
                      checkpointDir: String,
                      theta: Double = 0.75): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        gateBatch(batch, batchId, indexTable, planes, tables, decisionsDir,
          theta)
      }
      .start()

  /** SELF-MAINTAINING gate stream — [[dedupGateStream]] plus the fold arm
    * inside the same foreachBatch thread: every `foldEvery` batches the
    * committed batch partitions (0..batchId−1 — everything the checkpoint
    * can no longer replay once this batch commits is NOT foldable yet, so
    * the bound stops one short of the live head) consolidate via the
    * LEVELED fold ([[foldIndexLeveled]] — amortized, each row rewritten
    * at most log₂ times over the stream's lifetime), and every
    * `majorEvery` batches the BASE fold runs instead, collapsing the
    * generations and paying any tombstone debt. This answers the
    * partition decay a 30 s trigger accrues (~2,880/day) WITHOUT an
    * external cron, and the [[landTombstoneMarks]] single-writer contract
    * holds by construction: gate, append, and fold all run serialized
    * inside one micro-batch thread. (A separate [[indexDeleteStream]]
    * remains an EXTERNAL writer that must be paused across this stream's
    * fold batches; [[maintainedLifecycleStream]] removes that operational
    * hazard by carrying takedowns as an input to this stream's own
    * pipeline.)
    *
    * The two cadences are the fold economics (PLANS.md r17): the base
    * fold's cost is linear in base rows, so running it at a fixed cadence
    * is quadratic total work over the stream's lifetime — it exists here
    * only to bound mark-retirement latency (majorEvery · trigger
    * interval) and can be pushed out (or delegated entirely to the q155
    * schedule's purge check) on deployments with little deletion traffic.
    *
    * Replay semantics compose: a batch re-run after a crash-past-fold
    * gates against base + generations + live batches, which hold exactly
    * the rows the pre-fold view held (both folds are lossless mod purged
    * tombstones), so decisions recompute identically; a leveled fold
    * re-run finishes its named plan or no-ops, and the base fold re-run
    * is the documented tombstone-only no-op. */
  def maintainedGateStream(vectors: DataFrame, indexTable: String,
                           planes: Int, tables: Int, decisionsDir: String,
                           checkpointDir: String, theta: Double = 0.75,
                           foldEvery: Int = 16,
                           majorEvery: Int = 256): StreamingQuery = {
    requireFoldCadence("maintainedGateStream", foldEvery, majorEvery)
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        gateBatch(batch, batchId, indexTable, planes, tables, decisionsDir,
          theta)
        foldArm(batch.sparkSession, indexTable, batchId, foldEvery,
          majorEvery)
      }
      .start()
  }

  /** The shared maintenance arm of both self-maintaining streams: base
    * fold at the major cadence, leveled fold at the minor one. The major
    * arm is DEBT-DRIVEN (r18): with an empty tombstone partition the
    * base fold would be a pure base∪generations rewrite — O(base rows)
    * of work with nothing to retire, quietly re-introducing (at 1/16 the
    * constant) the quadratic lifetime cost the leveled fold eliminated —
    * so a zero-debt major batch runs the amortized leveled fold instead.
    * With ANY debt the base fold runs as before: majorEvery · trigger
    * interval stays the stream's mark-retirement latency bound. */
  private def foldArm(spark: SparkSession, indexTable: String, batchId: Long,
                      foldEvery: Int, majorEvery: Int): Unit =
    if (batchId > 0 && batchId % majorEvery == 0) {
      val debt = !spark.table(indexTable)
        .filter(col("batch_id") === TombstoneBatchId)
        .isEmpty
      if (debt) foldIndexBase(spark, indexTable, batchId - 1)
      else foldIndexLeveled(spark, indexTable, batchId - 1)
      ()
    } else if (batchId > 0 && batchId % foldEvery == 0) {
      foldIndexLeveled(spark, indexTable, batchId - 1); ()
    }

  // fail at START, not inside a foreachBatch mid-stream: 0 would be a
  // divide-by-zero at batch 1, a negative silently never folds. The two
  // cadences need NOT align: foldArm's else-if fires exactly one fold
  // per batch, and the base fold subsumes any leveled fold it displaces.
  private def requireFoldCadence(site: String, foldEvery: Int,
                                 majorEvery: Int): Unit = {
    require(foldEvery > 0,
      s"$site: foldEvery must be positive, got $foldEvery")
    require(majorEvery > 0,
      s"$site: majorEvery must be positive, got $majorEvery")
  }

  /** Row-tag values for [[maintainedLifecycleStream]]'s unioned feed. */
  private val OpIngest = "ingest"
  private val OpDelete = "delete"

  /** The FULL-LIFECYCLE stream — [[maintainedGateStream]] plus an
    * in-stream takedown feed, closing the one seam that family left
    * open: a separate [[indexDeleteStream]] is a second writer whose
    * mark landings race this stream's fold (the [[landTombstoneMarks]]
    * single-writer contract had to be held OPERATIONALLY, by pausing the
    * delete stream across fold batches). Here both feeds union into one
    * source — `vectors` and `takedowns` carry the same (vec_id,
    * embedding) schema, tagged `op = ingest | delete` — so every
    * micro-batch lands its marks, gates its ingest rows, and folds, all
    * serialized inside one foreachBatch thread: the single-writer
    * contract holds by CONSTRUCTION for the whole lifecycle.
    *
    * Per-batch order is marks FIRST, then the gate: a takedown's content
    * must gate as novel again in the very batch that carries the
    * takedown, so a same-batch re-ingest (under a fresh vec_id — the
    * library-wide contract: ids are stable per ingest event, a re-ingest
    * is a new id) re-admits immediately. A same-batch re-ingest under
    * the SAME vec_id stays deleted — marks key on (sig, vec_id), which
    * is exactly the takedown's scope.
    *
    * Replay semantics compose with both arms: mark landing is
    * (sig, vec_id)-deduped union (idempotent — a replay re-lands the
    * identical set; marks for rows an intervening fold already purged
    * are standing no-ops the next fold retires), the gate excludes the
    * batch's own index partition (and only the live head can replay, so
    * the fold never moves a replayable batch's rows out of that
    * partition), and the fold re-run is the documented lossless
    * recompute. Unlike an external delete stream, a takedown can no
    * longer land INSIDE another batch's crash window — it is ordered
    * with its batch — so replayed decisions are deterministic
    * unconditionally, not merely relative to a racing mark set. */
  def maintainedLifecycleStream(vectors: DataFrame, takedowns: DataFrame,
                                indexTable: String, planes: Int, tables: Int,
                                decisionsDir: String, checkpointDir: String,
                                theta: Double = 0.75,
                                foldEvery: Int = 16,
                                majorEvery: Int = 256): StreamingQuery = {
    requireFoldCadence("maintainedLifecycleStream", foldEvery, majorEvery)
    vectors.withColumn("op", lit(OpIngest))
      .unionByName(takedowns.withColumn("op", lit(OpDelete)))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        lifecycleBatch(batch, batchId, indexTable, planes, tables,
          decisionsDir, theta)
        foldArm(batch.sparkSession, indexTable, batchId, foldEvery,
          majorEvery)
      }
      .start()
  }

  /** The foreachBatch body of [[maintainedLifecycleStream]] (minus the
    * fold arm), exposed for direct crash-replay testing: split the
    * op-tagged batch, land the takedown marks first, then gate the
    * ingest rows. An all-ingest batch degenerates to [[gateBatch]]
    * exactly; an all-takedown batch still runs the gate's empty-batch
    * clear-and-seed on both sinks. */
  def lifecycleBatch(batch: DataFrame, batchId: Long, indexTable: String,
                     planes: Int, tables: Int, decisionsDir: String,
                     theta: Double = 0.75): Unit =
    lifecycleBody(batch,
      dels => tombstoneIndexRows(batch.sparkSession, indexTable, dels,
        planes, tables),
      ing => gateBatch(ing, batchId, indexTable, planes, tables,
        decisionsDir, theta))

  /** [[maintainedLifecycleStream]]'s TEXT twin over the appendable band
    * index: `docs` and `takedowns` both carry (doc_id, text); marks land
    * via [[tombstoneBandRows]] before the exact-content gate runs, so a
    * takedown's content gates `unique` again in the very batch that
    * carries the takedown (under a fresh doc_id), folds consolidate at
    * the leveled cadence and the base fold pays the debt at the major
    * one. Same single-writer-by-construction and replay-determinism
    * arguments as the vector flavor — band marks are real (doc_id,
    * digest, key) rows whose landing is (key, doc_id)-dedup idempotent. */
  def maintainedTextLifecycleStream(docs: DataFrame, takedowns: DataFrame,
                                    indexTable: String, decisionsDir: String,
                                    checkpointDir: String,
                                    foldEvery: Int = 16,
                                    majorEvery: Int = 256): StreamingQuery = {
    requireFoldCadence("maintainedTextLifecycleStream", foldEvery, majorEvery)
    docs.withColumn("op", lit(OpIngest))
      .unionByName(takedowns.withColumn("op", lit(OpDelete)))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        textLifecycleBatch(batch, batchId, indexTable, decisionsDir)
        foldArm(batch.sparkSession, indexTable, batchId, foldEvery,
          majorEvery)
      }
      .start()
  }

  /** The foreachBatch body of [[maintainedTextLifecycleStream]] (minus
    * the fold arm), exposed for direct crash-replay testing. */
  def textLifecycleBatch(batch: DataFrame, batchId: Long, indexTable: String,
                         decisionsDir: String): Unit =
    lifecycleBody(batch,
      dels => tombstoneBandRows(batch.sparkSession, indexTable, dels),
      ing => textGateBatchBody(ing, batchId, indexTable, decisionsDir))

  /** ONE lifecycle-body contract for both modalities (the gateBody rule:
    * a replay-semantics fix must not land in two places): marks first,
    * gate second, both over the persisted op-split. */
  private def lifecycleBody(batch: DataFrame, land: DataFrame => Unit,
                            runGate: DataFrame => Unit): Unit = {
    val b = batch.persist()
    try {
      val dels = b.filter(col("op") === OpDelete).drop("op")
      if (!dels.isEmpty) land(dels)
      runGate(b.filter(col("op") === OpIngest).drop("op"))
    } finally b.unpersist()
  }

  /** The foreachBatch body of [[dedupGateStream]], exposed for direct
    * testing. Empty batches follow the clear-and-seed rule on BOTH sinks
    * (the decisions partition here, the index partition inside
    * [[appendIndexBatch]]). */
  def gateBatch(batch: DataFrame, batchId: Long, indexTable: String,
                planes: Int, tables: Int, decisionsDir: String,
                theta: Double = 0.75): Unit =
    gateBody(batch, batchId, indexTable, decisionsDir,
      keyCol = "vec_id", acceptStatus = "accepted",
      // gate against the LIVE view: a takedown's content must gate as
      // novel again the moment its mark lands (the q158 re-admission
      // contract, vector flavor) — the raw table would keep rejecting
      // re-ingests against physically-present deleted rows until the
      // purge
      gate = (s, idx, b) => graft.sim.Similarity.dedupGateBatch(s,
        graft.sim.Similarity.liveIndexRelation(idx), b, planes, tables, theta),
      append = (df, bid) =>
        appendIndexBatch(df, bid, indexTable, planes, tables))

  /** ONE gate-body contract for both modalities (a replay-semantics fix
    * must not have to land in two places): a batch gates against the
    * index AS OF the previous batch (own partition excluded → post-append
    * replays recompute identical decisions), lands its decisions under its
    * batch_id partition through [[graft.ops.Layouts.replacePartitions]]
    * (which clears that partition and seeds `batch_id=-1` when an empty
    * batch yields none), and appends only the `acceptStatus` rows; an
    * empty batch appends nothing, which clears its index partition. */
  private def gateBody(batch: DataFrame, batchId: Long, indexTable: String,
                       decisionsDir: String, keyCol: String,
                       acceptStatus: String,
                       gate: (SparkSession, DataFrame, DataFrame) => DataFrame,
                       append: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    def land(decisions: DataFrame): Unit = graft.ops.Layouts.replacePartitions(
      decisions.withColumn("batch_id", lit(batchId)), decisionsDir,
      Seq("batch_id"), owned = Seq(s"batch_id=$batchId"), seed = Some("batch_id=-1"))
    if (batch.isEmpty) {
      land(gate(spark, spark.table(indexTable).limit(0), batch.limit(0)))
      append(batch, batchId)
      return
    }
    val b = batch.persist()
    try {
      val index = spark.table(indexTable)
        .filter(col("batch_id") =!= lit(batchId))
      val decisions = gate(spark, index, b).persist()
      land(decisions)
      val accepted = b.join(
        decisions.filter(col("status") === acceptStatus).select(keyCol),
        Seq(keyCol))
      append(accepted, batchId)
      decisions.unpersist()
    } finally b.unpersist()
  }

  /** Create the APPENDABLE band index for documents — the text twin of
    * [[createAppendableIndex]]: `batch_id` partitions for idempotent
    * replay, `key` buckets for shuffle-free gate joins. Rows arrive via
    * [[appendBandBatch]]. */
  def createAppendableBandIndex(spark: SparkSession, table: String,
                                path: String, buckets: Int = 64): Unit = {
    import spark.implicits._
    Seq.empty[(Long, String, Long, Long)]
      .toDF("doc_id", "digest", "key", "batch_id")
      .write.partitionBy("batch_id").bucketBy(buckets, "key").sortBy("key")
      .option("path", path).format("parquet").saveAsTable(table)
  }

  /** Sign a document micro-batch ([[graft.text.TextOps.bandedSignatures]])
    * and land it under its own batch_id partition — same idempotence and
    * empty-replay contract as [[appendIndexBatch]]. */
  def appendBandBatch(batch: DataFrame, batchId: Long,
                      indexTable: String): Unit =
    appendSignedBatch(batch, batchId, indexTable,
      b => graft.text.TextOps.bandedSignatures(b)
        .select(col("doc_id"), col("digest"), col("key")))

  /** Streaming TEXT admission gate — [[dedupGateStream]]'s text twin over
    * the appendable band index: per micro-batch, exact-content decisions
    * (exact_dup vs the index / batch_dup within the batch / unique) land
    * under their own batch_id partition of `decisionsDir`, and only the
    * unique docs' signatures append. Gating excludes the batch's own
    * index partition, so a replay after a crash-past-append recomputes
    * identical decisions. */
  def textGateStream(docs: DataFrame, indexTable: String,
                     decisionsDir: String,
                     checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        textGateBatchBody(batch, batchId, indexTable, decisionsDir)
      }
      .start()

  /** The foreachBatch body of [[textGateStream]], exposed for direct
    * testing. */
  def textGateBatchBody(batch: DataFrame, batchId: Long, indexTable: String,
                        decisionsDir: String): Unit =
    gateBody(batch, batchId, indexTable, decisionsDir,
      keyCol = "doc_id", acceptStatus = "unique",
      // LIVE view, not the raw table: the raw table would match deleted
      // content against BOTH the un-purged physical rows and the marks
      // themselves (band marks are real (doc_id, digest, key) rows), so
      // a takedown would never re-admit — the q158 contract inverted
      gate = (s, idx, b) => graft.text.TextOps.textGateBatch(s,
        graft.text.TextOps.liveBandRelation(idx), b),
      append = (df, bid) => appendBandBatch(df, bid, indexTable))

  /** Hour-partitioned parquet sink via foreachBatch (the reference's S5 key
    * template year=/month=/day=/hour=). Replay-idempotent through
    * [[writeBatch]]. Readers prune `batch_id` away like any partition
    * column. */
  def writePartitioned(events: DataFrame, outDir: String,
                       checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, outDir)
      }
      .start()

  /** The foreachBatch body, exposed for direct testing: the batch's rows
    * land under `year=/month=/day=/hour=/batch_id=<batchId>` through
    * [[graft.ops.Layouts.replacePartitions]], which owns every
    * `batch_id=<batchId>` leaf under any hour — a replay replaces its own
    * output, and deletes the hours it no longer writes (all of them when
    * it yields zero rows), instead of appending duplicates or leaving
    * ghost rows. The `year=0/…/batch_id=-1` seed keeps an initially-empty
    * sink readable. Scale shape: the owned glob runs on every trigger and
    * costs one stat per hour dir. */
  def writeBatch(batch: DataFrame, batchId: Long, outDir: String): Unit =
    graft.ops.Layouts.replacePartitions(
      batch.withColumn("year", year(col("ts"))).withColumn("month", month(col("ts")))
        .withColumn("day", dayofmonth(col("ts"))).withColumn("hour", hour(col("ts")))
        .withColumn("batch_id", lit(batchId)),
      outDir, Seq("year", "month", "day", "hour", "batch_id"),
      owned = Seq(s"year=*/month=*/day=*/hour=*/batch_id=$batchId"),
      seed = Some("year=0/month=0/day=0/hour=0/batch_id=-1"))

  /** [[writePartitioned]] + the metrics side-sink: each micro-batch lands
    * its data AND appends its own quality-metrics row (the reference
    * publishes CloudWatch metrics + SNS alerts from the same per-file
    * validation pass — `data_quality_validator.py:931-1021`; here the
    * "publish" is one row in the `_metrics` parquet ledger, see
    * [[graft.quality.Metrics]]). Both writes are replay-idempotent — the
    * data under `batch_id=`, the metrics row under `run_id=` — so a batch
    * re-run after a crash replaces both of its outputs. */
  def writePartitionedWithMetrics(events: DataFrame, outDir: String,
                                  checkpointDir: String,
                                  metricsDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchWithMetrics(batch, batchId, outDir, metricsDir)
      }
      .start()

  /** The foreachBatch body of [[writePartitionedWithMetrics]], exposed for
    * direct testing. */
  def writeBatchWithMetrics(batch: DataFrame, batchId: Long, outDir: String,
                            metricsDir: String): Unit =
    withBatchMetrics(batch, batchId, metricsDir)(writeBatch(batch, batchId, outDir))

  /** Run a micro-batch's data `sinks`, then append its `_metrics` row
    * (run id `batch_<batchId>`, timed over the sinks), with the batch
    * cached so the data writes and the metrics aggregation share one
    * source read. */
  private def withBatchMetrics(batch: DataFrame, batchId: Long,
                               metricsDir: String)(sinks: => Unit): Unit = {
    batch.persist()
    try {
      val t0 = System.nanoTime()
      sinks
      graft.quality.Metrics.writeMetrics(
        graft.quality.Metrics.batchQualityCheck(batch), metricsDir,
        runId = s"batch_$batchId",
        validationTimeS = (System.nanoTime() - t0) / 1e9,
        checks = graft.quality.Metrics.StreamingChecks)
    } finally batch.unpersist()
  }

  /** Rows a micro-batch must NOT land in the good sink: the critical-core
    * failures (out-of-range / null value, unknown / null event type) — the
    * ingest-time subset of q29's routing predicate (`evaluate_for_
    * quarantine`'s critical-issue arm; the low-score arm needs the full
    * scoring pass and runs batch-side). */
  def quarantinePredicate: org.apache.spark.sql.Column = {
    val validTypes = Seq("click", "view", "purchase", "signup", "error")
    !coalesce(col("value").between(0, 1000), lit(false)) ||
      !coalesce(col("event_type").isin(validTypes: _*), lit(false))
  }

  /** The reference's per-file ETL flow — validate → route good vs
    * quarantine → publish metrics (`main_etl_processor.py` +
    * `quarantine_system.quarantine_record` + the CloudWatch publish) — as
    * ONE foreachBatch body. Good rows land hour-partitioned
    * ([[writeBatch]]); quarantined rows land under the quarantine dir with
    * their reason and a `quarantined` status (ledger-compatible, so the
    * batch-side [[graft.quality.Quarantine]] lifecycle picks them up);
    * the batch's metrics row is appended either way. All three sinks go
    * through [[graft.ops.Layouts.replacePartitions]] under their own
    * batch/run id, so each is replay-idempotent; the quarantine sink owns
    * `batch_id=<batchId>` and seeds `batch_id=-1`, so an all-clean stream
    * still reads with its schema. One cache, one source read, three
    * sinks. */
  def writeValidatedBatch(batch: DataFrame, batchId: Long, outDir: String,
                          quarantineDir: String, metricsDir: String): Unit =
    withBatchMetrics(batch, batchId, metricsDir) {
      val bad = quarantinePredicate
      writeBatch(batch.filter(!bad), batchId, outDir)
      graft.ops.Layouts.replacePartitions(
        batch.filter(bad)
          .withColumn("reason", lit("critical_issue"))
          .withColumn("status", lit("quarantined"))
          .withColumn("batch_id", lit(batchId)),
        quarantineDir, Seq("batch_id"), owned = Seq(s"batch_id=$batchId"),
        seed = Some("batch_id=-1"))
    }

  /** [[writeValidatedBatch]] as a streaming sink. */
  def writeValidatedPartitioned(events: DataFrame, outDir: String,
                                quarantineDir: String, checkpointDir: String,
                                metricsDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeValidatedBatch(batch, batchId, outDir, quarantineDir, metricsDir)
      }
      .start()
}

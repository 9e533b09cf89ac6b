package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streaming
import graft.streaming.Streaming.{Obs, StuckEvent}

/** Top-level so its encoder needs no outer scope (toDF on a local Seq of an
  * inner test case class fails ResolveNewInstance). */
case class Vec(vec_id: Long, embedding: Array[Float])
case class GateDoc(doc_id: Long, text: String)

class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class Doc(doc_id: Long, text: String)
  case class Probe(qid: Long, embedding: Array[Float])

  test("readEventStream consumes landing-zone files one per micro-batch") {
    val landing = Files.createTempDirectory("landing")
    def writeBatch(name: String, rows: String*): Unit =
      Files.writeString(landing.resolve(name), rows.mkString("\n"))
    writeBatch("b1.json",
      """{"event_id": 1, "ts": "2024-01-01T10:00:00Z", "user_id": 1, "event_type": "click", "value": 1.0}""",
      """{"event_id": 2, "ts": "2024-01-01T10:01:00Z", "user_id": 2, "event_type": "view", "value": 2.0}""")
    val q = Streaming.readEventStream(spark, landing.toString, maxFilesPerTrigger = 1)
      .writeStream.format("memory").queryName("landing_out")
      .outputMode("append").start()
    q.processAllAvailable()
    writeBatch("b2.json",
      """{"event_id": 3, "ts": "2024-01-01T10:02:00Z", "user_id": 3, "event_type": "error", "value": 3.0}""")
    q.processAllAvailable()
    val rows = spark.sql("select event_id, event_type from landing_out order by event_id").collect()
    q.stop()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows.map(_.getString(1)).toSeq === Seq("click", "view", "error"))
  }

  test("pollToLandingZone lands atomic files the stream source consumes") {
    val landing = Files.createTempDirectory("poll_landing")
    val paths = Streaming.pollToLandingZone(
      i => s"""{"event_id": $i, "ts": "2024-01-01T10:0$i:00Z", "user_id": $i, "event_type": "click", "value": $i.0}""",
      landing, ticks = 3)
    assert(paths.map(_.getFileName.toString) ===
      Seq("batch_000000.json", "batch_000001.json", "batch_000002.json"))
    // no temp files left behind — partial writes are never visible
    assert(!Files.list(landing).toArray.map(_.toString).exists(_.endsWith(".tmp")))
    val q = Streaming.readEventStream(spark, landing.toString, maxFilesPerTrigger = 10)
      .writeStream.format("memory").queryName("poll_out")
      .outputMode("append").start()
    q.processAllAvailable()
    val n = spark.sql("select count(*) from poll_out").head().getLong(0)
    q.stop()
    assert(n === 3)
  }

  test("dedup with tolerance collapses near-duplicate timestamps") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streaming.dedup(in.toDF(), toleranceSeconds = 5)
      .writeStream.format("memory").queryName("tol_out")
      .outputMode("append").start()
    in.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:00:02"), 1, "click", 1.0), // within 5 s bucket → dup
      Ev(3, ts("2024-01-01 10:00:07"), 1, "click", 2.0)) // next bucket → kept
    q.processAllAvailable()
    val n = spark.sql("select count(*) from tol_out").head().getLong(0)
    q.stop()
    assert(n === 2)
  }

  test("tolerance-dedup state is evicted once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streaming.dedup(in.toDF(), watermark = "5 minutes", toleranceSeconds = 5)
      .writeStream.format("memory").queryName("tol_evict_out")
      .outputMode("append").start()
    in.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // advance the watermark to 10:55 (11:00 - 5 min delay)
    in.addData(Ev(2, ts("2024-01-01 11:00:00"), 2, "view", 2.0))
    q.processAllAvailable()
    // next batch runs with the advanced watermark: user 1's bucket (expires
    // 10:00 + 5 min = 10:05 < 10:55) must be dropped from the state store
    in.addData(Ev(3, ts("2024-01-01 11:01:00"), 3, "click", 3.0))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    assert(stateRows === 2,
      s"expected only the 2 in-horizon keys in dedup state, got $stateRows")
  }

  test("dedup drops duplicate (user_id, ts) pairs across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streaming.dedup(in.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    in.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:00:00"), 1, "click", 1.0), // dup key
      Ev(3, ts("2024-01-01 10:00:05"), 2, "view", 2.0))
    q.processAllAvailable()
    in.addData(Ev(4, ts("2024-01-01 10:00:00"), 1, "click", 9.9)) // dup again, later batch
    q.processAllAvailable()
    val n = spark.sql("select count(*) from dedup_out").head().getLong(0)
    q.stop()
    assert(n === 2)
  }

  test("dedup drops late data beyond the watermark even for unseen keys") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streaming.dedup(in.toDF(), watermark = "5 minutes")
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    in.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // advance event time well past the watermark horizon
    in.addData(Ev(2, ts("2024-01-01 11:00:00"), 2, "view", 2.0))
    q.processAllAvailable()
    // a never-seen key arriving 55 min late (< 10:55 watermark) must be dropped
    in.addData(Ev(3, ts("2024-01-01 10:00:30"), 3, "click", 3.0))
    q.processAllAvailable()
    val n = spark.sql("select count(*) from late_out").head().getLong(0)
    q.stop()
    assert(n === 2, s"late row beyond watermark should be dropped, got $n rows")
  }

  test("tumblingCounts aggregates into event-time windows") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streaming.tumblingCounts(in.toDF(), width = "1 hour")
      .writeStream.format("memory").queryName("windows_out")
      .outputMode("complete").start()
    in.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:55:00"), 2, "click", 2.0),
      Ev(3, ts("2024-01-01 11:05:00"), 3, "click", 4.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "select window_start, n, sum_value from windows_out order by window_start").collect()
    q.stop()
    assert(rows.length === 2)
    assert(rows(0).getLong(1) === 2 && rows(0).getDouble(2) === 3.0)
    assert(rows(1).getLong(1) === 1 && rows(1).getDouble(2) === 4.0)
  }

  test("enrichStream joins micro-batches against a broadcast dimension") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = Streaming.enrichStream(in.toDF(), dim)
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    in.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:01:00"), 2, "view", 2.0),
      Ev(3, ts("2024-01-01 10:02:00"), 9, "click", 3.0)) // no dim row
    q.processAllAvailable()
    val rows = spark.sql(
      "select event_id, tier from enrich_out order by event_id").collect()
    q.stop()
    assert(rows.map(r => Option(r.getString(1))).toSeq ===
      Seq(Some("gold"), Some("silver"), None))
  }

  test("slidingMetrics emits overlapping hopping-window snapshots") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streaming.slidingMetrics(in.toDF(), width = "1 hour", slide = "30 minutes")
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode("complete").start()
    in.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:40:00"), 2, "error", 9.0),
      Ev(3, ts("2024-01-01 11:10:00"), 1, "view", 4.0))
    q.processAllAvailable()
    val rows = spark.sql(
      """select window_start, n_events, active_events, error_events, max_value
        |from sliding_out order by window_start""".stripMargin).collect()
    q.stop()
    // events at 10:05, 10:40, 11:10 with 1h windows every 30 min:
    // [09:30,10:30): e1 | [10:00,11:00): e1,e2 | [10:30,11:30): e2,e3 | [11:00,12:00): e3
    assert(rows.length === 4)
    assert(rows.map(_.getLong(1)).toSeq === Seq(1L, 2L, 2L, 1L))
    assert(rows(1).getLong(2) === 1 && rows(1).getLong(3) === 1) // active/error split
    assert(rows(2).getDouble(4) === 9.0) // peak carries across the hop
  }

  test("sessionCounts merges events within the gap and splits across it") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streaming.sessionCounts(in.toDF(), gap = "10 minutes")
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("complete").start()
    in.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:05:00"), 1, "click", 2.0), // same session (5 min gap)
      Ev(3, ts("2024-01-01 10:30:00"), 1, "click", 4.0), // new session (25 min gap)
      Ev(4, ts("2024-01-01 10:02:00"), 2, "view", 8.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "select user_id, n_events, sum_value from sessions_out order by user_id, n_events desc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    assert(rows.toSeq === Seq((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)))
  }

  test("stuckDetector emits when the last k observations stay within the spread") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Obs]
    // idleTimeout = None: processAllAvailable never idles under
    // ProcessingTimeTimeout (timeout-check batches keep the query busy)
    val q = Streaming.stuckDetector(in.toDS(), k = 3, maxSpread = 5.0, idleTimeout = None)
      .writeStream.format("memory").queryName("stuck_out")
      .outputMode("append").start()
    in.addData(
      Obs(1, 1000, 10.0), Obs(1, 2000, 11.0), Obs(1, 3000, 12.0),  // stuck (spread 2)
      Obs(2, 1000, 10.0), Obs(2, 2000, 80.0), Obs(2, 3000, 12.0))  // moving
    q.processAllAvailable()
    // state persists across batches: one more close obs keeps user 1 stuck
    in.addData(Obs(1, 4000, 12.5))
    q.processAllAvailable()
    val rows = spark.sql("select userId, tsMs from stuck_out order by tsMs").collect()
    q.stop()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 1L))
    assert(rows.map(_.getLong(1)).toSeq === Seq(3000L, 4000L))
  }

  test("suppressAlertsStream: window restarts on emit, counters report " +
      "across micro-batches, keys independent") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import Streaming.AlertIn
    val in = MemoryStream[AlertIn]
    val q = Streaming.suppressAlertsStream(in.toDS(), windowS = 1800L,
        idleTimeout = None)
      .writeStream.format("memory").queryName("alert_out")
      .outputMode("append").start()
    in.addData(
      AlertIn("quality", "etl", "HIGH", 0L),     // emit, 0 suppressed before
      AlertIn("quality", "etl", "HIGH", 1000L),  // suppressed
      AlertIn("volume", "api", "LOW", 500L))     // independent key: emit
    q.processAllAvailable()
    // state persists: 1900 is >= 1800 after the 0-emit, reports the one
    // suppressed alert; 3600 falls back inside the restarted window
    in.addData(
      AlertIn("quality", "etl", "HIGH", 1900L),
      AlertIn("quality", "etl", "HIGH", 3600L))
    q.processAllAvailable()
    val rows = spark.sql(
        "select tsS, emitted, suppressedSinceLast from alert_out " +
        "where component = 'etl' order by tsS").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.getAs[java.lang.Long](2)).map(_.longValue())))
    q.stop()
    assert(rows.toSeq === Seq(
      (0L, true, Some(0L)), (1000L, false, None),
      (1900L, true, Some(1L)), (3600L, false, None)))
  }

  test("annServeStream: planted probes retrieve their originals per " +
      "micro-batch against the static signature index, across batches") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val planes = 5; val tables = 4
    val corpus = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding"))
    val index = graft.sim.Similarity.indexedRelation(corpus, planes, tables)
    // probe vectors copied from the corpus (the planted argument: identical
    // value → identical signature in every table → certain candidate whose
    // cosine 1.0 wins the argmax)
    val picks = corpus.filter(col("vec_id").isin(3L, 77L, 200L, 341L))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val in = MemoryStream[Probe]
    val q = Streaming.annServeStream(in.toDF(), index, planes, tables)
      .writeStream.format("memory").queryName("ann_out")
      .outputMode("append").start()
    in.addData(picks.take(2).map { case (id, e) => Probe(id + 500000L, e) }.toSeq)
    q.processAllAvailable()
    in.addData(picks.drop(2).map { case (id, e) => Probe(id + 500000L, e) }.toSeq)
    q.processAllAvailable()
    val rows = spark.sql("select qid, retrievedId, sim from ann_out order by qid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    assert(rows.map(_._1).toSeq === picks.map(_._1 + 500000L).toSeq.sorted)
    rows.foreach { case (qid, rid, sim) =>
      assert(rid === qid - 500000L, s"probe $qid retrieved $rid")
      assert(sim > 0.999999, s"probe $qid sim $sim")
    }
  }

  test("indexAppendStream: batches land under their own batch_id with " +
      "bucket layout, serving sees each append, replays are idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val planes = 5; val tables = 4
    val tbl = "g_stream_idx_test"
    val path = Files.createTempDirectory("stream_idx")
    Streaming.createAppendableIndex(spark, tbl, s"$path/index")
    val corpus = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => Vec(r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    val in = MemoryStream[Vec]
    val q = Streaming.indexAppendStream(in.toDF(), tbl, planes, tables,
      Files.createTempDirectory("stream_idx_ck").toString)
    def top1(id: Long): Long = {
      val probes = Seq((id + 500000L, corpus.find(_.vec_id == id).get.embedding))
        .toDF("qid", "embedding")
      graft.sim.Similarity.probeIndex(spark, tbl, probes, planes, tables)
        .collect()(0).getAs[Long]("retrieved_id")
    }
    in.addData(corpus.take(20).toSeq)
    q.processAllAvailable()
    assert(top1(3) === 3L)
    in.addData(corpus.slice(20, 40).toSeq)
    q.processAllAvailable()
    q.stop()
    assert(top1(25L) === 25L, "the appended batch must serve")
    assert(top1(3L) === 3L, "the first batch must still serve")
    assert(spark.table(tbl).count() === 2L * 20 * tables)
    // replay idempotence: re-running a batch body replaces its partition
    Streaming.appendIndexBatch(corpus.slice(20, 40).toSeq.toDF(), 1L,
      tbl, planes, tables)
    assert(spark.table(tbl).count() === 2L * 20 * tables)
    // a replay that now yields ZERO rows clears the stale partition
    Streaming.appendIndexBatch(
      Tables.embeddings(spark, Sf001).select(col("vec_id"), col("embedding"))
        .limit(0), 1L, tbl, planes, tables)
    assert(spark.table(tbl).count() === 1L * 20 * tables)
    assert(top1(3L) === 3L, "batch 0 survives batch 1's empty replay")
  }

  test("annServeStream over the PERSISTED appendable index: a live serving " +
      "stream sees batches appended while it runs (refreshTable claim)") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val planes = 5; val tables = 4
    val tbl = "g_stream_idx_serve_test"
    val path = Files.createTempDirectory("stream_idx_serve")
    Streaming.createAppendableIndex(spark, tbl, s"$path/index")
    val corpus = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => Vec(r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    Streaming.appendIndexBatch(corpus.take(20).toSeq.toDF(), 0L,
      tbl, planes, tables)
    val in = MemoryStream[Probe]
    val q = Streaming.annServeStream(in.toDF(), spark.table(tbl),
      planes, tables)
      .writeStream.format("memory").queryName("ann_serve_out")
      .outputMode("append").start()
    def emb(id: Long) = corpus.find(_.vec_id == id).get.embedding
    in.addData(Probe(500005L, emb(5)))
    q.processAllAvailable()
    // append WHILE the serving stream is running — later batches must see it
    Streaming.appendIndexBatch(corpus.slice(20, 40).toSeq.toDF(), 1L,
      tbl, planes, tables)
    in.addData(Probe(500030L, emb(30)))
    q.processAllAvailable()
    val rows = spark.sql(
      "select qid, retrievedId from ann_serve_out order by qid")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    q.stop()
    assert(rows.toSeq === Seq((500005L, 5L), (500030L, 30L)))
  }

  test("dedupGateStream: copies reject against the growing index, intra-batch " +
      "dups greedily suppress, accepted rows append, replays idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val planes = 5; val tables = 4
    val tbl = "g_gate_idx_test"
    val path = Files.createTempDirectory("gate_idx")
    val decDir = s"$path/decisions"
    Streaming.createAppendableIndex(spark, tbl, s"$path/index")
    val corpus = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => Vec(r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    val in = MemoryStream[Vec]
    val q = Streaming.dedupGateStream(in.toDF(), tbl, planes, tables, decDir,
      Files.createTempDirectory("gate_ck").toString)
    // batch 0: 20 distinct naturals against an EMPTY index — all accepted
    in.addData(corpus.take(20).toSeq)
    q.processAllAvailable()
    val d0 = spark.read.parquet(decDir).filter(col("batch_id") === 0)
    assert(d0.count() === 20)
    assert(d0.filter(col("status") === "accepted").count() === 20)
    assert(spark.table(tbl).count() === 20L * tables)
    // batch 1: a copy of an accepted vector (dup_index), one new natural
    // (accepted), two copies of one NOVEL vector (greedy: first id wins,
    // second is dup_batch of it)
    val origId = corpus(3).vec_id
    val replay = Seq(Vec(900L, corpus(3).embedding), corpus(30),
      Vec(901L, corpus(31).embedding.reverse),
      Vec(902L, corpus(31).embedding.reverse))
    in.addData(replay)
    q.processAllAvailable()
    q.stop()
    def decisions(bid: Long) = spark.read.parquet(decDir)
      .filter(col("batch_id") === bid).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue()))).toMap
    val d1 = decisions(1)
    assert(d1(900L) === ("dup_index", Some(origId)), d1.toString)
    assert(d1(corpus(30).vec_id) === ("accepted", None))
    assert(d1(901L) === ("accepted", None))
    assert(d1(902L) === ("dup_batch", Some(901L)), d1.toString)
    assert(spark.table(tbl).count() === 22L * tables,
      "only the two accepted rows of batch 1 may append")
    // replay batch 1's body directly (crash-after-append scenario): the
    // gate excludes its own partition, so decisions are IDENTICAL and the
    // index does not double-append
    import spark.implicits._
    Streaming.gateBatch(replay.toDF(), 1L, tbl, planes, tables, decDir)
    assert(decisions(1) === d1)
    assert(spark.table(tbl).count() === 22L * tables)
    // an empty replay clears both of the batch's partitions
    Streaming.gateBatch(corpus.take(0).toSeq.toDF("vec_id", "embedding"),
      1L, tbl, planes, tables, decDir)
    assert(spark.read.parquet(decDir).filter(col("batch_id") === 1).count() === 0)
    assert(spark.table(tbl).count() === 20L * tables)
    assert(decisions(0).size === 20, "batch 0 survives batch 1's empty replay")
  }

  test("foldIndexBase: committed batch partitions fold into one base " +
      "partition losslessly; serving and bucket layout unchanged; the " +
      "crash-window resume (base + originals both present) is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val planes = 5; val tables = 4
    val tbl = "g_fold_idx_test"
    val path = Files.createTempDirectory("fold_idx")
    Streaming.createAppendableIndex(spark, tbl, s"$path/index")
    val corpus = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => Vec(r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    (0 until 3).foreach { b =>
      Streaming.appendIndexBatch(
        corpus.slice(b * 10, b * 10 + 10).toSeq.toDF(), b.toLong,
        tbl, planes, tables)
    }
    def top1(id: Long): Long = {
      val probes = Seq((id + 700000L, corpus.find(_.vec_id == id).get.embedding))
        .toDF("qid", "embedding")
      graft.sim.Similarity.probeIndex(spark, tbl, probes, planes, tables)
        .collect()(0).getAs[Long]("retrieved_id")
    }
    val (nb, rows) = Streaming.foldIndexBase(spark, tbl, uptoBatch = 1L)
    assert(nb === 2 && rows === 20L * tables)
    val parts = spark.table(tbl).select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(parts.toSeq === Seq(-2L, 2L), parts.mkString(","))
    assert(spark.table(tbl).count() === 30L * tables)
    // rows from a folded batch, the base, and the live head all serve
    assert(top1(corpus(5).vec_id) === corpus(5).vec_id)
    assert(top1(corpus(25).vec_id) === corpus(25).vec_id)
    // re-fold: nothing live in range — a no-op
    assert(Streaming.foldIndexBase(spark, tbl, 1L) === (0L, 0L))
    // crash-window resume: originals re-present next to the base (the
    // state a crash between base write and partition deletes leaves) —
    // the dedup union recomputes the identical base, not a doubled one
    (0 until 2).foreach { b =>
      Streaming.appendIndexBatch(
        corpus.slice(b * 10, b * 10 + 10).toSeq.toDF(), b.toLong,
        tbl, planes, tables)
    }
    val (nb2, rows2) = Streaming.foldIndexBase(spark, tbl, 1L)
    assert(nb2 === 2 && rows2 === 20L * tables)
    assert(spark.table(tbl).count() === 30L * tables)
    assert(top1(corpus(5).vec_id) === corpus(5).vec_id)
    // the folded base still bucket-prunes through probeIndex's literal
    // sig filter (insertInto kept every file bucket-numbered)
    val probes = Seq((corpus(5).vec_id + 700000L, corpus(5).embedding))
      .toDF("qid", "embedding")
    val p = graft.sim.Similarity.probeIndex(spark, tbl, probes, planes, tables)
      .queryExecution.executedPlan.toString
    assert("SelectedBucketsCount: \\d+ out of \\d+".r.findFirstIn(p).isDefined,
      p.take(2000))
  }

  test("tombstone deletion: marks hide rows from serving immediately, " +
      "re-delete is idempotent, fold purges physically and retires the " +
      "marks, answers identical across the purge, tombstone-only fold " +
      "purges the base") {
    import spark.implicits._
    val planes = 5; val tables = 2
    val tbl = "g_tomb_idx_test"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = Files.createTempDirectory("tomb_idx")
    Streaming.createAppendableIndex(spark, tbl, s"$path/index", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 40)
    Streaming.appendIndexBatch(eSlim, 0L, tbl, planes, tables)
    val copies = eSlim.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    Streaming.appendIndexBatch(copies, 1L, tbl, planes, tables)
    val victims = eSlim.filter(col("vec_id") < 10)
    Streaming.tombstoneIndexRows(spark, tbl, victims, planes, tables)
    // serving flips every deleted original's probe to its surviving copy
    val probes = victims.select((col("vec_id") + 5000L).as("qid"),
      col("embedding"))
    val pre = graft.sim.Similarity
      .probeIndexLive(spark, tbl, probes, planes, tables)
      .orderBy(col("qid")).collect()
    assert(pre.length === 10)
    pre.foreach { r =>
      assert(r.getAs[Long]("retrieved_id") ===
        r.getAs[Long]("qid") - 5000L + 1000L, r.toString)
      assert(r.getAs[Double]("sim") > 0.999999, r.toString)
    }
    // the anti-join costs no pruning: the serving scan stays bucket-pruned
    val plan = graft.sim.Similarity
      .probeIndexLive(spark, tbl, probes, planes, tables)
      .queryExecution.executedPlan.toString
    assert("SelectedBucketsCount: \\d+ out of \\d+".r.findFirstIn(plan).isDefined,
      plan.take(2000))
    // re-delete is idempotent: the (sig, vec_id) dedup keeps marks stable
    val tombId = graft.sim.Similarity.TombstoneBatchId
    val marksBefore = spark.table(tbl)
      .filter(col("batch_id") === tombId).count()
    Streaming.tombstoneIndexRows(spark, tbl, victims, planes, tables)
    assert(spark.table(tbl).filter(col("batch_id") === tombId).count()
      === marksBefore)
    // fold physically purges the rows and retires the marks
    Streaming.foldIndexBase(spark, tbl, uptoBatch = 1L)
    assert(spark.table(tbl).filter(col("batch_id") === tombId).count() === 0)
    assert(spark.table(tbl).filter(col("vec_id") < 10).count() === 0)
    val post = graft.sim.Similarity
      .probeIndexLive(spark, tbl, probes, planes, tables)
      .orderBy(col("qid")).collect()
    assert(post.map(_.toSeq).toSeq === pre.map(_.toSeq).toSeq)
    // a tombstone-only fold (no live batches) still purges the BASE
    Streaming.tombstoneIndexRows(spark, tbl,
      eSlim.filter(col("vec_id") === 20), planes, tables)
    val (folded, _) = Streaming.foldIndexBase(spark, tbl, 10L)
    assert(folded === 0L)
    assert(spark.table(tbl).filter(col("vec_id") === 20).count() === 0)
    assert(spark.table(tbl).filter(col("batch_id") === tombId).count() === 0)
  }

  test("foldIndexBase FULL takedown: when every base/live row in range " +
      "is tombstoned the fold must clear the batch_id=-2 partition " +
      "explicitly (an empty dynamic overwrite is a no-op) — otherwise " +
      "the old base's deleted rows survive while their marks retire") {
    import spark.implicits._
    val planes = 5; val tables = 2
    val tbl = "g_fulltake_fold_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = Files.createTempDirectory("fulltake_idx")
    Streaming.createAppendableIndex(spark, tbl, s"$path/index", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 10)
    Streaming.appendIndexBatch(eSlim, 0L, tbl, planes, tables)
    // fold batch 0 into the base, then take down EVERY row
    Streaming.foldIndexBase(spark, tbl, uptoBatch = 0L)
    Streaming.tombstoneIndexRows(spark, tbl, eSlim, planes, tables)
    val tombId = graft.sim.Similarity.TombstoneBatchId
    assert(spark.table(tbl).filter(col("batch_id") === tombId).count() > 0)
    // the tombstone-only fold folds an EMPTY base: the -2 partition must
    // be physically cleared, not left behind by a no-op overwrite
    val (folded, rows) = Streaming.foldIndexBase(spark, tbl, uptoBatch = 10L)
    assert(folded === 0L && rows === 0L)
    assert(spark.table(tbl).count() === 0,
      "full takedown + fold must leave an empty table — surviving rows " +
        "are resurrected victims (their marks retired with the fold)")
    val probes = eSlim.select((col("vec_id") + 5000L).as("qid"),
      col("embedding"))
    assert(graft.sim.Similarity
      .probeIndexLive(spark, tbl, probes, planes, tables).count() === 0)
    // re-ingest after the takedown: admitted fresh, serving resumes
    Streaming.appendIndexBatch(eSlim, 5L, tbl, planes, tables)
    assert(graft.sim.Similarity
      .probeIndexLive(spark, tbl, probes, planes, tables).count() === 10)
  }

  test("foldIndexBase PARTIAL fold keeps a mark whose row lives in a " +
      "batch beyond uptoBatch — retiring it would resurrect the deleted " +
      "row in every live serving path — and the next full fold purges " +
      "and retires it") {
    import spark.implicits._
    val planes = 5; val tables = 2
    val tbl = "g_partial_fold_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = Files.createTempDirectory("pfold_idx")
    Streaming.createAppendableIndex(spark, tbl, s"$path/index", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding"))
    def copyOf(id: Long) = eSlim.filter(col("vec_id") === id)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    Streaming.appendIndexBatch(eSlim.filter(col("vec_id") < 10), 0L,
      tbl, planes, tables)
    Streaming.appendIndexBatch(copyOf(3L), 1L, tbl, planes, tables)
    Streaming.appendIndexBatch(
      eSlim.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .unionByName(copyOf(15L)), 2L, tbl, planes, tables)
    // takedowns: vec 3 (lives in batch 0, inside the fold range) and
    // vec 15 (lives in batch 2, BEYOND it)
    Streaming.tombstoneIndexRows(spark, tbl,
      eSlim.filter(col("vec_id").isin(3L, 15L)), planes, tables)
    val probes = eSlim.filter(col("vec_id").isin(3L, 15L))
      .select((col("vec_id") + 5000L).as("qid"), col("embedding"))
    def served() = graft.sim.Similarity
      .probeIndexLive(spark, tbl, probes, planes, tables)
      .orderBy(col("qid")).collect()
    val pre = served()
    pre.foreach { r =>
      assert(r.getAs[Long]("retrieved_id") ===
        r.getAs[Long]("qid") - 5000L + 1000L, r.toString)
    }
    val tombId = graft.sim.Similarity.TombstoneBatchId
    def marks() = spark.table(tbl).filter(col("batch_id") === tombId)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    Streaming.foldIndexBase(spark, tbl, uptoBatch = 1L)
    // vec 3's physical row was purged with the fold, so its marks
    // retire; vec 15's row is still live in batch 2, so its marks MUST
    // survive or serving resurrects a deleted row
    assert(marks().distinct === Seq(15L), marks().toString)
    assert(spark.table(tbl).filter(col("vec_id") === 3L).count() === 0)
    assert(spark.table(tbl).filter(col("vec_id") === 15L
      && col("batch_id") =!= tombId).count() === 1L * tables)
    assert(served().map(_.toSeq).toSeq === pre.map(_.toSeq).toSeq)
    // the next fold past the live head purges vec 15 and goes quiet
    Streaming.foldIndexBase(spark, tbl, uptoBatch = 2L)
    assert(marks().isEmpty)
    assert(spark.table(tbl).filter(col("vec_id") === 15L).count() === 0)
    assert(served().map(_.toSeq).toSeq === pre.map(_.toSeq).toSeq)
  }

  test("indexDeleteStream: takedown batches land marks live, overlapping " +
      "batches accumulate without duplicating, serving hides victims as " +
      "each batch commits") {
    implicit val sqlCtx = spark.sqlContext
    val planes = 5; val tables = 2
    val tbl = "g_delstream_idx_test"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = Files.createTempDirectory("delstream_idx")
    Streaming.createAppendableIndex(spark, tbl, s"$path/index", buckets = 4)
    val corpus = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 30)
    Streaming.appendIndexBatch(corpus, 0L, tbl, planes, tables)
    val copies = corpus.filter(col("vec_id") < 6)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    Streaming.appendIndexBatch(copies, 1L, tbl, planes, tables)
    val vecs = corpus.collect()
      .map(r => Vec(r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_.vec_id)
    val in = MemoryStream[Vec]
    val q = Streaming.indexDeleteStream(in.toDF(), tbl, planes, tables,
      Files.createTempDirectory("delstream_ck").toString)
    val tombId = graft.sim.Similarity.TombstoneBatchId
    // the mark landing runs in the stream's CLONED session; this reader
    // session refreshes after each commit (the scaladoc'd caveat for any
    // partition overwrite on a filesystem table)
    def marks() = {
      spark.catalog.refreshTable(tbl)
      spark.table(tbl).filter(col("batch_id") === tombId).count()
    }
    in.addData(vecs.take(3).toSeq)         // delete vecs 0,1,2
    q.processAllAvailable()
    val m1 = marks()
    assert(m1 === 3L * tables, s"marks after batch 1: $m1")
    // serving hides the victims NOW: probes of deleted content flip to
    // their surviving copies
    val probes = corpus.filter(col("vec_id") < 3)
      .select((col("vec_id") + 5000L).as("qid"), col("embedding"))
    graft.sim.Similarity.probeIndexLive(spark, tbl, probes, planes, tables)
      .collect().foreach { r =>
        assert(r.getAs[Long]("retrieved_id") ===
          r.getAs[Long]("qid") - 5000L + 1000L, r.toString)
      }
    // batch 2 overlaps batch 1 (re-delete 2, new victims 3,4): the
    // (bucket, id) mark dedup accumulates only the NEW marks
    in.addData(Seq(vecs(2), vecs(3), vecs(4)))
    q.processAllAvailable()
    q.stop()
    assert(marks() === 5L * tables, s"marks after overlap: ${marks()}")
  }

  test("band-index tombstones: the gate re-admits deleted docs' content " +
      "immediately, the metadata-generic fold purges the band table and " +
      "answers are identical across the purge") {
    import spark.implicits._
    val tbl = "g_tomb_band_test"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = Files.createTempDirectory("tomb_band")
    Streaming.createAppendableBandIndex(spark, tbl, s"$path/index", buckets = 4)
    val d = Tables.documents(spark, Sf001)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
    Streaming.appendBandBatch(d, 0L, tbl)
    val victims = d.filter(col("doc_id") < 10)
    Streaming.tombstoneBandRows(spark, tbl, victims)
    val batch = victims
      .select((col("doc_id") + 9000L).as("doc_id"), col("text"))
    def gate() = graft.text.TextOps
      .textGateBatch(spark, graft.text.TextOps.liveBandIndex(spark, tbl), batch)
      .orderBy(col("doc_id")).collect()
    val pre = gate()
    // every decision must ignore the deleted docs: dup_of (when matched)
    // points at a surviving id, and docs with no surviving twin re-admit
    pre.filter(_.getAs[String]("status") === "exact_dup").foreach { r =>
      assert(r.getAs[Long]("dup_of") >= 10L, r.toString)
    }
    assert(pre.exists(_.getAs[String]("status") === "unique"), pre.mkString("\n"))
    // the generic fold (column roles from table metadata) purges the
    // band flavor too: rows gone, marks retired, decisions unchanged
    Streaming.foldIndexBase(spark, tbl, uptoBatch = 0L)
    val tombId = graft.sim.Similarity.TombstoneBatchId
    assert(spark.table(tbl).filter(col("batch_id") === tombId).count() === 0)
    assert(spark.table(tbl).filter(col("doc_id") < 10).count() === 0)
    assert(gate().map(_.toSeq).toSeq === pre.map(_.toSeq).toSeq)
  }

  test("textGateStream: exact copies reject against the growing band index, " +
      "intra-batch copies keep the smallest id, unique docs append, " +
      "replays idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val tbl = "g_text_gate_idx_test"
    val path = Files.createTempDirectory("text_gate_idx")
    val decDir = s"$path/decisions"
    Streaming.createAppendableBandIndex(spark, tbl, s"$path/index")
    val docs = Tables.documents(spark, Sf001)
      .filter(size(graft.text.TextOps.tokens(col("text"))) >= 3)
      .select(col("doc_id"), col("text"))
      .collect().map(r => GateDoc(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id)
    val in = MemoryStream[GateDoc]
    val q = Streaming.textGateStream(in.toDF(), tbl, decDir,
      Files.createTempDirectory("text_gate_ck").toString)
    // batch 0: 10 distinct docs against an empty index — all unique
    in.addData(docs.take(10).toSeq)
    q.processAllAvailable()
    val d0 = spark.read.parquet(decDir).filter(col("batch_id") === 0)
    assert(d0.count() === 10)
    assert(d0.filter(col("status") === "unique").count() === 10)
    // every unique doc appended exactly 4 band rows
    assert(spark.table(tbl).count() === 10L * 4)
    // batch 1: a copy of an accepted doc (exact_dup), a new doc (unique),
    // and TWO copies of one unseen doc (batch_dup keeps the smaller id)
    val replay = Seq(GateDoc(900L, docs(3).text), docs(20),
      GateDoc(901L, docs(21).text), GateDoc(902L, docs(21).text))
    in.addData(replay)
    q.processAllAvailable()
    q.stop()
    def decisions(bid: Long) = spark.read.parquet(decDir)
      .filter(col("batch_id") === bid).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue()))).toMap
    val d1 = decisions(1)
    assert(d1(900L) === ("exact_dup", Some(docs(3).doc_id)), d1.toString)
    assert(d1(docs(20).doc_id) === ("unique", None))
    assert(d1(901L) === ("unique", None))
    assert(d1(902L) === ("batch_dup", Some(901L)), d1.toString)
    assert(spark.table(tbl).count() === 12L * 4,
      "only the two unique docs of batch 1 may append")
    // replay batch 1's body (crash-past-append): identical decisions,
    // no double-append
    import spark.implicits._
    Streaming.textGateBatchBody(replay.toDF(), 1L, tbl, decDir)
    assert(decisions(1) === d1)
    assert(spark.table(tbl).count() === 12L * 4)
    // empty replay clears both partitions
    Streaming.textGateBatchBody(Seq.empty[GateDoc].toDF(), 1L, tbl, decDir)
    assert(spark.read.parquet(decDir).filter(col("batch_id") === 1).count() === 0)
    assert(spark.table(tbl).count() === 10L * 4)
  }

  test("textGateBatchBody honors takedowns: after tombstoneBandRows, a " +
      "re-ingest of the deleted content gates unique again — the marks " +
      "(real band rows) and the un-purged physical rows must both be " +
      "invisible to the gate — while still-live content keeps rejecting") {
    import spark.implicits._
    val tbl = "g_text_gate_del_test"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = Files.createTempDirectory("text_gate_del")
    val decDir = s"$path/decisions"
    Streaming.createAppendableBandIndex(spark, tbl, s"$path/index", buckets = 4)
    val docs = Tables.documents(spark, Sf001)
      .filter(size(graft.text.TextOps.tokens(col("text"))) >= 3)
      .select(col("doc_id"), col("text"))
      .collect().map(r => GateDoc(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id)
      // distinct texts only: a natural duplicate of the victim would
      // legitimately keep rejecting the re-ingest (q158's recompute rule)
      .distinctBy(_.text).take(10)
    Streaming.textGateBatchBody(docs.toSeq.toDF(), 0L, tbl, decDir)
    assert(spark.read.parquet(decDir)
      .filter(col("status") === "unique").count() === 10)
    // takedown of docs(3); docs(4) stays live
    Streaming.tombstoneBandRows(spark, tbl,
      Seq(docs(3)).toDF().select(col("doc_id"), col("text")))
    Streaming.textGateBatchBody(Seq(
      GateDoc(900L, docs(3).text), GateDoc(901L, docs(4).text)).toDF(),
      1L, tbl, decDir)
    val d1 = spark.read.parquet(decDir).filter(col("batch_id") === 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d1(900L) === "unique", s"deleted content must re-admit: $d1")
    assert(d1(901L) === "exact_dup", d1.toString)
  }

  test("foldIndexLeveled runs a binary counter over generation " +
      "partitions: occupied levels track the fold count's set bits, rows " +
      "are never lost or duplicated, serving and gating span generations") {
    import spark.implicits._
    val planes = 5; val tables = 2
    val tbl = "g_leveled_fold_test"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = Files.createTempDirectory("leveled_fold")
    Streaming.createAppendableIndex(spark, tbl, s"$path/index", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 50)
    def parts() = spark.table(tbl).select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    def appendSlice(b: Long) = Streaming.appendIndexBatch(
      eSlim.filter(col("vec_id") >= b * 10 && col("vec_id") < b * 10 + 10),
      b, tbl, planes, tables)
    val gen = Streaming.GenerationBaseId
    // fold 1 (m=1, binary 1): batches 0,1 -> level 0
    appendSlice(0L); appendSlice(1L)
    assert(Streaming.foldIndexLeveled(spark, tbl, 1L) === (2L, 20L * tables))
    assert(parts() === Seq(gen))
    // fold 2 (m=2, binary 10): batches 2,3 + level 0 -> level 1
    appendSlice(2L); appendSlice(3L)
    assert(Streaming.foldIndexLeveled(spark, tbl, 3L) === (2L, 40L * tables))
    assert(parts() === Seq(gen - 1))
    // fold 3 (m=3, binary 11): batch 4 -> level 0; level 1 untouched
    appendSlice(4L)
    assert(Streaming.foldIndexLeveled(spark, tbl, 4L) === (1L, 10L * tables))
    assert(parts() === Seq(gen - 1, gen))
    // lossless: every appended row is still present exactly once
    assert(spark.table(tbl).count() === 50L * tables)
    assert(spark.table(tbl).select(col("vec_id")).distinct().count() === 50L)
    // serving spans generations (probeIndex reads every partition)
    val probe = eSlim.filter(col("vec_id") === 7L)
      .select(lit(9007L).as("qid"), col("embedding"))
    assert(graft.sim.Similarity.probeIndex(spark, tbl, probe, planes, tables)
      .collect()(0).getAs[Long]("retrieved_id") === 7L)
    // gating spans generations: a copy of level-1-resident content rejects
    val gated = graft.sim.Similarity.dedupGateBatch(spark,
      graft.sim.Similarity.liveIndexRelation(spark.table(tbl)),
      eSlim.filter(col("vec_id") === 12L)
        .select((col("vec_id") + 9000L).as("vec_id"), col("embedding")),
      planes, tables)
    assert(gated.collect()(0).getString(1) === "dup_index")
    // re-fold with nothing live: no-op
    assert(Streaming.foldIndexLeveled(spark, tbl, 4L) === (0L, 0L))
    assert(parts() === Seq(gen - 1, gen))
  }

  test("foldIndexLeveled crash resume: the staging dir's NAME is the plan " +
      "— a committed pending plan is finished identically from the " +
      "staged-only and target-already-written windows, uncommitted " +
      "debris is deleted") {
    import spark.implicits._
    val planes = 5; val tables = 2
    val tbl = "g_leveled_resume_test"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = Files.createTempDirectory("leveled_resume")
    Streaming.createAppendableIndex(spark, tbl, s"$path/index", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 20)
    Streaming.appendIndexBatch(eSlim.filter(col("vec_id") < 10), 0L, tbl,
      planes, tables)
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location.toString
    val gen = Streaming.GenerationBaseId
    // window 1: crash AFTER the staging write, BEFORE the generation
    // landed — plant the committed staging a real fold would have left
    val signed = graft.sim.Similarity.indexedRelation(eSlim
        .filter(col("vec_id") < 10), planes, tables)
      .select(col("vec_id"), col("embedding"), col("sig"))
    signed.write.mode("overwrite").parquet(s"$loc/_leveled_staging_t0_u0")
    // plus uncommitted debris from an even earlier crash mid-write
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$loc/_leveled_staging_t3_u7"))
    // the next fold call converges the table: plan finished, debris gone
    Streaming.appendIndexBatch(
      eSlim.filter(col("vec_id") >= 10), 1L, tbl, planes, tables)
    Streaming.foldIndexLeveled(spark, tbl, 1L)
    assert(!graft.ops.Layouts.exists(spark, s"$loc/_leveled_staging_t0_u0"))
    assert(!graft.ops.Layouts.exists(spark, s"$loc/_leveled_staging_t3_u7"))
    // the pending plan landed level 0 and cleared batch 0 FIRST; the
    // fresh fold then took batch 1 + level 0 into level 1
    val parts = spark.table(tbl).select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(parts === Seq(gen - 1), parts.mkString(","))
    assert(spark.table(tbl).count() === 20L * tables)
    assert(spark.table(tbl).select(col("vec_id")).distinct().count() === 20L)
    // window 2: crash AFTER the generation landed but BEFORE the source
    // clears — batch rows exist twice (batch partition + generation);
    // finishing the plan dedups nothing (mark-agnostic) but the clears
    // converge the table to the identical end state
    Streaming.appendIndexBatch(
      eSlim.filter(col("vec_id") < 5)
        .select((col("vec_id") + 500L).as("vec_id"), col("embedding")),
      2L, tbl, planes, tables)
    val signed2 = graft.sim.Similarity.indexedRelation(
      eSlim.filter(col("vec_id") < 5)
        .select((col("vec_id") + 500L).as("vec_id"), col("embedding")),
      planes, tables).select(col("vec_id"), col("embedding"), col("sig"))
    signed2.write.mode("overwrite").parquet(s"$loc/_leveled_staging_t0_u2")
    Streaming.withDynamicOverwrite(spark) {
      signed2.withColumn("batch_id", lit(gen)).write.mode("overwrite")
        .insertInto(tbl)
    }
    spark.catalog.refreshTable(tbl)
    assert(spark.table(tbl).count() === (20L + 10L) * tables) // dup window
    Streaming.foldIndexLeveled(spark, tbl, 2L)
    val parts2 = spark.table(tbl).select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(parts2 === Seq(gen - 1, gen), parts2.mkString(","))
    assert(spark.table(tbl).count() === 25L * tables)
    assert(spark.table(tbl).select(col("vec_id")).distinct().count() === 25L)
  }

  test("a tombstone landing that fails at write time leaves no scratch " +
      "staging and an unchanged mark partition — scratch stagings die in " +
      "finally, unlike the leveled fold's resume plan") {
    val planes = 5; val tables = 2
    val tbl = "g_failed_landing_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = Files.createTempDirectory("failed_landing")
    Streaming.createAppendableIndex(spark, tbl, s"$path/index", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 10)
    Streaming.appendIndexBatch(eSlim, 0L, tbl, planes, tables)
    Streaming.tombstoneIndexRows(spark, tbl,
      eSlim.filter(col("vec_id") < 2), planes, tables, epoch = 1000L)
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombId = graft.sim.Similarity.TombstoneBatchId
    val markDir = new org.apache.hadoop.fs.Path(loc, s"batch_id=$tombId")
    def markFiles() = fs.listStatus(markDir)
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSet
    val before = markFiles()
    val boom = udf { (id: Long) =>
      if (id >= 0L) throw new IllegalStateException("boom"); id
    }
    val ex = intercept[Exception] {
      Streaming.tombstoneIndexRows(spark, tbl,
        eSlim.filter(col("vec_id") >= 5)
          .withColumn("vec_id", boom(col("vec_id"))),
        planes, tables, epoch = 2000L)
    }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")), ex)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(loc, "_tombstone_staging")))
    assert(markFiles() === before)
    spark.catalog.refreshTable(tbl)
    assert(spark.table(tbl).filter(col("batch_id") === tombId).count() ===
      2L * tables)
    // no stamp of the failed landing reached the epoch sidecar
    assert(Streaming.appendableTombstoneAge(spark, tbl, now = 1500L) === 500L)
  }

  test("foldIndexBase is generation-aware: generations fold into the base " +
      "with marks honored, generation-resident victims purge and their " +
      "marks retire only after the generation partition is cleared") {
    import spark.implicits._
    val planes = 5; val tables = 2
    val tbl = "g_genaware_base_test"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = Files.createTempDirectory("genaware_base")
    Streaming.createAppendableIndex(spark, tbl, s"$path/index", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 30)
    Streaming.appendIndexBatch(eSlim.filter(col("vec_id") < 10), 0L, tbl,
      planes, tables)
    Streaming.appendIndexBatch(
      eSlim.filter(col("vec_id") >= 10 && col("vec_id") < 20), 1L, tbl,
      planes, tables)
    Streaming.foldIndexLeveled(spark, tbl, 1L) // vecs 0..19 -> level 0
    Streaming.appendIndexBatch(eSlim.filter(col("vec_id") >= 20), 2L, tbl,
      planes, tables)
    // victims: vec 7 (generation-resident) and vec 25 (lives in batch 2,
    // BEYOND the fold bound — its mark must survive)
    Streaming.tombstoneIndexRows(spark, tbl,
      eSlim.filter(col("vec_id").isin(7L, 25L)), planes, tables)
    val tombId = graft.sim.Similarity.TombstoneBatchId
    Streaming.foldIndexBase(spark, tbl, uptoBatch = 1L)
    val parts = spark.table(tbl).select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(parts === Seq(tombId, -2L, 2L), parts.mkString(","))
    assert(spark.table(tbl).filter(col("vec_id") === 7L).count() === 0,
      "the generation-resident victim must purge with the base fold")
    val markIds = spark.table(tbl).filter(col("batch_id") === tombId)
      .select(col("vec_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(markIds === Seq(25L), markIds.mkString(","))
    assert(spark.table(tbl).filter(col("batch_id") === -2L).count() ===
      19L * tables) // vecs 0..19 minus victim 7
  }

  test("maintainedGateStream folds its own committed batches every " +
      "foldEvery without an external cron: partitions stay bounded, " +
      "dedup decisions span the folded generations, serving stays " +
      "correct — and a ZERO-DEBT stream runs ONLY leveled folds through " +
      "a majorEvery boundary (r18: the debt-driven major arm never pays " +
      "O(base) with an empty tombstone partition)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val planes = 5; val tables = 2
    val tbl = "g_maintained_gate_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = Files.createTempDirectory("maint_gate")
    val decDir = s"$path/decisions"
    Streaming.createAppendableIndex(spark, tbl, s"$path/index", buckets = 4)
    val corpus = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 50)
      .collect().map(r => Vec(r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    val in = MemoryStream[Vec]
    val q = Streaming.maintainedGateStream(in.toDF(), tbl, planes, tables,
      decDir, Files.createTempDirectory("maint_gate_ck").toString,
      foldEvery = 2, majorEvery = 4)
    (0 until 5).foreach { b =>
      // batch 3 re-sends batch 0 content under new ids — by then batch 0
      // has been LEVELED-folded into a generation, so the dup decision
      // must span the generation partitions
      val data = if (b == 3)
        corpus.take(5).map(v => Vec(v.vec_id + 9000L, v.embedding)).toSeq
      else corpus.slice(b * 10, b * 10 + 10).toSeq
      in.addData(data)
      q.processAllAvailable()
    }
    q.stop()
    // a LEVELED fold ran at b=2 (upto 1 → level 0); at the b=4 majorEvery
    // boundary the tombstone partition is EMPTY, so the debt-driven arm
    // runs the amortized leveled fold instead of the O(base) base fold
    // (batches 2,3 + level 0 merge into level 1): partitions stay
    // bounded, no batch_id=-2 base ever forms
    val parts = spark.table(tbl).select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(parts.toSeq === Seq(Streaming.GenerationBaseId - 1L, 4L),
      parts.mkString(","))
    // the re-sent batch-0 content was rejected against the FOLDED generation
    val d3 = spark.read.parquet(decDir).filter(col("batch_id") === 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (0 until 5).foreach(i => assert(d3(9000L + i) === "dup_index", d3.toString))
    // the index is the accepted corpus: 40 accepted vecs x tables rows
    assert(spark.table(tbl).count() === 40L * tables)
    // serving: a probe of folded content retrieves its original
    val probes = Seq((corpus(5).vec_id + 700000L, corpus(5).embedding))
      .toDF("qid", "embedding")
    assert(graft.sim.Similarity.probeIndex(spark, tbl, probes, planes, tables)
      .collect()(0).getAs[Long]("retrieved_id") === corpus(5).vec_id)
  }

  test("maintainedLifecycleStream: interleaved ingest+takedown feeds run " +
      "through ONE writer thread — same-batch re-admission is exact, folds " +
      "honor the marks, crash replays lose nothing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val planes = 5; val tables = 2
    val tbl = "g_lifecycle_gate_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = Files.createTempDirectory("lifecycle_gate")
    val decDir = s"$path/decisions"
    Streaming.createAppendableIndex(spark, tbl, s"$path/index", buckets = 4)
    val corpus = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 15)
      .collect().map(r => Vec(r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    def emb(id: Long) = corpus.find(_.vec_id == id).get.embedding
    val ing = MemoryStream[Vec]
    val del = MemoryStream[Vec]
    val ck = Files.createTempDirectory("lifecycle_ck").toString
    def start() = Streaming.maintainedLifecycleStream(ing.toDF(), del.toDF(),
      tbl, planes, tables, decDir, ck, foldEvery = 2, majorEvery = 4)
    var q = start()
    val tombId = graft.sim.Similarity.TombstoneBatchId
    def marks() = {
      spark.catalog.refreshTable(tbl)
      spark.table(tbl).filter(col("batch_id") === tombId).count()
    }
    def decisions(bid: Long) = spark.read.parquet(decDir)
      .filter(col("batch_id") === bid).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // b0: ingest only
    ing.addData(corpus.take(10).toSeq); q.processAllAvailable()
    assert(decisions(0).values.count(_ == "accepted") === 10)
    // b1: takedown of vec 3 INTERLEAVED with a same-batch re-ingest of its
    // content (fresh id 9003) and a copy of still-live vec 5 (id 9005):
    // marks land before the gate, so 9003 re-admits exactly while 9005
    // keeps rejecting. Both feeds fill while the query is stopped and it
    // restarts on the same checkpoint, so no trigger can fire between
    // the two addData calls: batch 1 holds both sides
    q.stop()
    del.addData(Seq(Vec(3L, emb(3L))))
    ing.addData(Seq(Vec(9003L, emb(3L)), Vec(9005L, emb(5L))))
    q = start()
    q.processAllAvailable()
    val d1 = decisions(1)
    assert(d1(9003L) === "accepted", s"takedown must re-admit in-batch: $d1")
    assert(d1(9005L) === "dup_index", d1.toString)
    assert(marks() === 1L * tables)
    // b2: plain ingest; the LEVELED fold arm fires (upto 1) — it is
    // mark-agnostic, so vec 3's row rides into the generation still
    // hidden by its standing mark, and 9003 rides along as a live row
    ing.addData(corpus.slice(10, 15).toSeq); q.processAllAvailable()
    assert(decisions(2).values.count(_ == "accepted") === 5)
    assert(marks() === 1L * tables)
    assert(spark.table(tbl).filter(col("vec_id") === 3L
      && col("batch_id") =!= tombId).count() === 1L * tables)
    assert(graft.sim.Similarity.liveIndexRelation(spark.table(tbl))
      .filter(col("vec_id") === 3L).count() === 0,
      "the generation-resident victim stays hidden until the major fold")
    assert(spark.table(tbl).filter(col("vec_id") === 9003L).count() ===
      1L * tables)
    val gen = Streaming.GenerationBaseId
    val parts2 = spark.table(tbl).select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(parts2.toSeq === Seq(gen, tombId, 2L), parts2.mkString(","))
    val count2 = spark.table(tbl).count()
    // crash replay of b2 (crash past the fold, before the checkpoint
    // commit): the body recomputes identical decisions — the fold moved
    // only batches BEFORE the replayable head — and the fold re-run is
    // the documented no-op
    Streaming.lifecycleBatch(
      corpus.slice(10, 15).toSeq.toDF().withColumn("op", lit("ingest")),
      2L, tbl, planes, tables, decDir)
    Streaming.foldIndexLeveled(spark, tbl, uptoBatch = 1L)
    assert(decisions(2).values.count(_ == "accepted") === 5)
    assert(spark.table(tbl).count() === count2)
    // b3: takedown-only batch (no ingest rows at all); vec 3's marks
    // still stand beside the new 9003 marks
    del.addData(Seq(Vec(9003L, emb(3L)))); q.processAllAvailable()
    assert(marks() === 2L * tables)
    assert(graft.sim.Similarity.liveIndexRelation(spark.table(tbl))
      .filter(col("vec_id") === 9003L).count() === 0,
      "the mark must hide 9003 from every serving/gating path")
    // b4: re-ingest the twice-deleted content under a fresh id; the MAJOR
    // fold arm fires (upto 3), collapses the generation into the base and
    // pays the vec-3 and 9003 debt — no mark is ever lost, no purged row
    // resurrects
    ing.addData(Seq(Vec(9103L, emb(3L)))); q.processAllAvailable()
    q.stop()
    assert(decisions(4)(9103L) === "accepted", decisions(4).toString)
    assert(marks() === 0L)
    assert(spark.table(tbl).filter(col("vec_id") === 9003L).count() === 0)
    assert(spark.table(tbl).filter(col("vec_id") === 9103L).count() ===
      1L * tables)
    // final corpus: ids {0,1,2,4..14} + 9103 = 15 accepted, each x tables
    assert(spark.table(tbl).filter(col("batch_id") =!= tombId).count() ===
      15L * tables)
  }

  test("maintainedTextLifecycleStream: the text twin — takedown marks " +
      "land before the exact-content gate, deleted content re-admits " +
      "in-batch, leveled folds carry standing marks, the major fold pays " +
      "the debt") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tbl = "g_text_lifecycle_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = Files.createTempDirectory("text_lifecycle")
    val decDir = s"$path/decisions"
    Streaming.createAppendableBandIndex(spark, tbl, s"$path/index",
      buckets = 4)
    val docs = Tables.documents(spark, Sf001)
      .filter(size(graft.text.TextOps.tokens(col("text"))) >= 3)
      .select(col("doc_id"), col("text"))
      .collect().map(r => GateDoc(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id).distinctBy(_.text).take(12)
    val ing = MemoryStream[GateDoc]
    val del = MemoryStream[GateDoc]
    val ck = Files.createTempDirectory("text_lifecycle_ck").toString
    def start() = Streaming.maintainedTextLifecycleStream(ing.toDF(),
      del.toDF(), tbl, decDir, ck, foldEvery = 2, majorEvery = 4)
    var q = start()
    val tombId = graft.sim.Similarity.TombstoneBatchId
    def marks() = {
      spark.catalog.refreshTable(tbl)
      spark.table(tbl).filter(col("batch_id") === tombId).count()
    }
    def decisions(bid: Long) = spark.read.parquet(decDir)
      .filter(col("batch_id") === bid).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // b0: ingest only — all unique
    ing.addData(docs.take(8).toSeq); q.processAllAvailable()
    assert(decisions(0).values.count(_ == "unique") === 8)
    // b1: takedown of docs(3) interleaved with a same-batch re-ingest of
    // its content (fresh id) and a copy of still-live docs(4); both feeds
    // fill while the query is stopped, so batch 1 holds both sides
    q.stop()
    del.addData(Seq(docs(3)))
    ing.addData(Seq(GateDoc(900L, docs(3).text), GateDoc(901L, docs(4).text)))
    q = start()
    q.processAllAvailable()
    val d1 = decisions(1)
    assert(d1(900L) === "unique", s"takedown must re-admit in-batch: $d1")
    assert(d1(901L) === "exact_dup", d1.toString)
    assert(marks() === 4L) // one doc x 4 band rows
    // b2: plain ingest; the LEVELED fold consolidates batches 0..1 into a
    // generation, marks standing (mark-agnostic by design)
    ing.addData(Seq(docs(8))); q.processAllAvailable()
    assert(marks() === 4L)
    val parts2 = spark.table(tbl).select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(parts2.toSeq === Seq(Streaming.GenerationBaseId, tombId, 2L),
      parts2.mkString(","))
    // b3: takedown of the re-admitted copy
    del.addData(Seq(GateDoc(900L, docs(3).text))); q.processAllAvailable()
    assert(marks() === 8L)
    // b4: ingest; the MAJOR fold collapses the generation and pays both
    // debts
    ing.addData(Seq(docs(9))); q.processAllAvailable()
    q.stop()
    assert(decisions(4)(docs(9).doc_id) === "unique")
    assert(marks() === 0L)
    assert(spark.table(tbl)
      .filter(col("doc_id").isin(docs(3).doc_id, 900L)).count() === 0,
      "both takedown victims must purge with the major fold")
    val parts4 = spark.table(tbl).select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(parts4.toSeq === Seq(-2L, 4L), parts4.mkString(","))
    // final corpus: 8 + 900 + docs(8) accepted, minus docs(3) and 900
    // purged, plus docs(9) = 9 docs x 4 band rows
    assert(spark.table(tbl).count() === 9L * 4)
  }

  test("purgeIndexTombstones is MARK-SCOPED: only victim-bearing " +
      "consolidated partitions rewrite (an untouched generation keeps " +
      "its exact files), live-batch marks survive and re-land, a " +
      "fully-victim partition clears, the landing-stamp age fact tracks " +
      "the debt, and a re-purge is idempotent") {
    import spark.implicits._
    val planes = 5; val tables = 2
    val tbl = "g_scoped_purge_mech_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val tmp = Files.createTempDirectory("scoped_purge").toString
    Streaming.createAppendableIndex(spark, tbl, s"$tmp/idx", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 100)
    def slice(lo: Int, hi: Int) =
      eSlim.filter(col("vec_id") >= lo && col("vec_id") < hi)
    // two coexisting generations via the binary counter: level 1 holds
    // vecs 0..39 (b0 folded to level 0, then b1+level0 merged up), level
    // 0 holds vecs 40..79 (b2,b3 folded fresh), batch 4 stays live
    Streaming.appendIndexBatch(slice(0, 20), 0L, tbl, planes, tables)
    Streaming.foldIndexLeveled(spark, tbl, uptoBatch = 0L)
    Streaming.appendIndexBatch(slice(20, 40), 1L, tbl, planes, tables)
    Streaming.foldIndexLeveled(spark, tbl, uptoBatch = 1L)
    Streaming.appendIndexBatch(slice(40, 60), 2L, tbl, planes, tables)
    Streaming.appendIndexBatch(slice(60, 80), 3L, tbl, planes, tables)
    Streaming.foldIndexLeveled(spark, tbl, uptoBatch = 3L)
    Streaming.appendIndexBatch(slice(80, 100), 4L, tbl, planes, tables)
    val gen = Streaming.GenerationBaseId
    assert(spark.table(tbl).select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(gen - 1L, gen, 4L))
    // no debt: the age fact is -1
    assert(Streaming.appendableTombstoneAge(spark, tbl, now = 250L) === -1L)
    // victims: 6 rows of level 0 (vecs 40..45) + 1 live-batch row (85)
    Streaming.tombstoneIndexRows(spark, tbl,
      eSlim.filter(col("vec_id").between(40, 45) || col("vec_id") === 85),
      planes, tables, epoch = 100L)
    assert(Streaming.appendableTombstoneAge(spark, tbl, now = 250L) === 150L)
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesOf(batchId: Long) = fs.listStatus(
        new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(loc),
          s"batch_id=$batchId"))
      .map(s => (s.getPath.getName, s.getModificationTime, s.getLen))
      .sortBy(_._1).toSeq
    val level1Before = filesOf(gen - 1L)
    val liveBefore = filesOf(4L)
    val (touched, purged) = Streaming.purgeIndexTombstones(spark, tbl)
    // scoped: ONLY level 0 rewrote — level 1 and the live batch keep
    // their exact files (name, mtime, length)
    assert(touched === 1L && purged === 6L * tables, s"$touched/$purged")
    assert(filesOf(gen - 1L) === level1Before)
    assert(filesOf(4L) === liveBefore)
    // level-0 victims gone, its survivors intact
    assert(spark.table(tbl).filter(col("batch_id") === gen)
      .agg(min(col("vec_id")), max(col("vec_id"))).head().toSeq ===
      Seq(46L, 79L))
    // the live-batch mark survived (row 85 still physically present,
    // hidden from the live view); the level-0 marks retired with their
    // rows — and the age fact still reads the surviving stamp
    val tombId = graft.sim.Similarity.TombstoneBatchId
    assert(spark.table(tbl).filter(col("batch_id") === tombId)
      .select(col("vec_id")).distinct().collect().map(_.getLong(0)).toSeq ===
      Seq(85L))
    assert(spark.table(tbl).filter(col("vec_id") === 85L &&
      col("batch_id") === 4L).count() === 1L * tables)
    assert(graft.sim.Similarity.liveIndexRelation(spark.table(tbl))
      .filter(col("vec_id") === 85L).count() === 0L)
    assert(Streaming.appendableTombstoneAge(spark, tbl, now = 250L) === 150L)
    // re-purge: idempotent no-op (85's row sits in a live batch, which
    // the purge never touches)
    assert(Streaming.purgeIndexTombstones(spark, tbl) === ((0L, 0L)))
    // a lost/never-written stamp sidecar reads as infinitely old — the
    // age-bound purge must fire sooner, never later
    fs.delete(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(loc), "_tombstone_epochs"), true)
    assert(Streaming.appendableTombstoneAge(spark, tbl, now = 250L) === 250L)
    // tombstone the REST of level 0: the emptied partition dir must
    // clear explicitly (a dynamic overwrite of zero rows is a no-op)
    Streaming.tombstoneIndexRows(spark, tbl,
      eSlim.filter(col("vec_id").between(46, 79)), planes, tables,
      epoch = 300L)
    // mark 85 is standing but UNSTAMPED (its stamp died with the sidecar
    // above) while 46..79 carry fresh stamps — ANY unstamped standing
    // mark reads infinitely old, not the youngest stamped one's age
    assert(Streaming.appendableTombstoneAge(spark, tbl, now = 301L) === 301L)
    val (touched2, purged2) = Streaming.purgeIndexTombstones(spark, tbl)
    assert(touched2 === 1L && purged2 === 34L * tables)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(loc), s"batch_id=$gen")))
    // level 1 STILL untouched; serving sees exactly vecs 0..39 + live 80..99
    // minus the marked 85
    assert(filesOf(gen - 1L) === level1Before)
    assert(graft.sim.Similarity.liveIndexRelation(spark.table(tbl))
      .select(col("vec_id")).distinct().count() === 59L)
  }

  test("the LIVE gate stays shuffle-free on the index side: the tombstone " +
      "anti-join rides the sig bucketing (both sides are the same bucketed " +
      "table), so deletion adds no exchange to the ingest path") {
    import spark.implicits._
    val planes = 5; val tables = 2
    val tbl = "g_live_gate_plan_test"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = Files.createTempDirectory("live_gate_plan")
    Streaming.createAppendableIndex(spark, tbl, s"$path/index", buckets = 4)
    val eSlim = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 40)
    Streaming.appendIndexBatch(eSlim, 0L, tbl, planes, tables)
    Streaming.tombstoneIndexRows(spark, tbl,
      eSlim.filter(col("vec_id") < 3), planes, tables)
    val batch = eSlim.filter(col("vec_id") < 8)
      .select((col("vec_id") + 7000L).as("vec_id"), col("embedding"))
    val gated = graft.sim.Similarity.dedupGateBatch(spark,
      graft.sim.Similarity.liveIndexRelation(spark.table(tbl)),
      batch, planes, tables)
    // decisions first (the action materializes the adaptive plan): deleted
    // content re-admits, live content rejects
    val d = gated.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (0L until 3L).foreach(i => assert(d(7000L + i) === "accepted", d.toString))
    (3L until 8L).foreach(i => assert(d(7000L + i) === "dup_index", d.toString))
    // pinned on the REAL pre-checkpoint index tier (r22: dedupGateBatch
    // materializes idxDup, so the gated plan no longer carries the index
    // scan; gateIndexTop1 over the same live view IS that subtree)
    val p = graft.sim.Similarity.gateIndexTop1(
        graft.sim.Similarity.liveIndexRelation(spark.table(tbl)),
        batch, planes, tables)
      .queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), p.take(3000))
    assert(!p.contains("Bucketed: false"), p.take(3000))
  }

  test("rebuildAppendableIndex is metadata-generic: the BAND flavor " +
      "re-buckets at the derived count, marks honored by exclusion, and " +
      "the gate's decisions are unchanged across the rebuild") {
    import spark.implicits._
    val tbl = "g_band_rebuild_test"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val tmp = Files.createTempDirectory("band_rebuild").toString
    Streaming.createAppendableBandIndex(spark, tbl, s"$tmp/stale", buckets = 4)
    val docs = Tables.documents(spark, Sf001)
      .filter(size(graft.text.TextOps.tokens(col("text"))) >= 3)
      .select(col("doc_id"), col("text"))
      .collect().map(r => GateDoc(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id).distinctBy(_.text).take(12)
    Streaming.appendBandBatch(docs.toSeq.toDF(), 0L, tbl)
    Streaming.tombstoneBandRows(spark, tbl, Seq(docs(3)).toDF()
      .select(col("doc_id"), col("text")))
    val batch = Seq(GateDoc(900L, docs(3).text), GateDoc(901L, docs(4).text))
      .toDF().select(col("doc_id"), col("text"))
    def gate() = graft.text.TextOps.textGateBatch(spark,
        graft.text.TextOps.liveBandIndex(spark, tbl), batch)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val pre = gate()
    val rows = Streaming.rebuildAppendableIndex(spark, tbl, 8)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    assert(meta.bucketSpec.get.numBuckets === 8)
    assert(meta.partitionColumnNames === Seq("batch_id"))
    // marks retired, victim's band rows physically gone, live rows kept
    val tombId = graft.sim.Similarity.TombstoneBatchId
    assert(spark.table(tbl).filter(col("batch_id") === tombId).count() === 0)
    assert(spark.table(tbl)
      .filter(col("doc_id") === docs(3).doc_id).count() === 0)
    assert(rows === 11L * 4, s"11 live docs x 4 band rows, got $rows")
    // decisions identical across the rebuild: deleted content re-admits,
    // live content keeps rejecting
    assert(gate() === pre)
    assert(pre.find(_.head == 900L).get(1) === "unique")
    assert(pre.find(_.head == 901L).get(1) === "exact_dup")
  }

  test("nearDupFilter: verbatim copies drop against the first-seen doc, " +
      "distinct docs pass, state persists across micro-batches") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val t1 = "the quick brown fox jumps over the lazy dog near the river bank"
    val t2 = "completely different content about spark aggregation plans and shuffles"
    val in = MemoryStream[Doc]
    val q = Streaming.nearDupFilter(in.toDF(), idleTimeout = None)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    in.addData(Doc(1, t1), Doc(2, t1), Doc(3, t2))
    q.processAllAvailable()
    in.addData(Doc(4, t1))  // state persists: still a dup of doc 1
    q.processAllAvailable()
    val rows = spark.sql(
      "select docId, sig, dupOf, kept from neardup_out order by docId")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    q.stop()
    // signatures come from the same pure kernel function the batch path uses
    val sig1 = graft.functions.ShingleMath.simhash64(
      org.apache.spark.unsafe.types.UTF8String.fromString(t1))
    val sig2 = graft.functions.ShingleMath.simhash64(
      org.apache.spark.unsafe.types.UTF8String.fromString(t2))
    assert(rows.toSeq === Seq(
      (1L, sig1, -1L, true),   // first seen → kept
      (2L, sig1, 1L, false),   // verbatim copy → dropped against doc 1
      (3L, sig2, -1L, true),   // distinct → kept (or band-disjoint entirely)
      (4L, sig1, 1L, false)))  // next batch: state remembered doc 1
  }

  test("conversionJoin matches view→purchase only within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streaming.conversionJoin(in.toDF(), horizon = "10 minutes")
      .writeStream.format("memory").queryName("conv_out")
      .outputMode("append").start()
    in.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
      Ev(2, ts("2024-01-01 10:04:00"), 1, "purchase", 9.0), // within 10 min → match
      Ev(3, ts("2024-01-01 10:00:00"), 2, "view", 1.0),
      Ev(4, ts("2024-01-01 10:30:00"), 2, "purchase", 9.0), // beyond horizon → no match
      Ev(5, ts("2024-01-01 10:02:00"), 3, "purchase", 9.0)) // purchase without view
    q.processAllAvailable()
    // advance both watermarks so in-horizon results are finalized
    in.addData(
      Ev(6, ts("2024-01-01 11:00:00"), 9, "view", 0.0),
      Ev(7, ts("2024-01-01 11:00:00"), 9, "purchase", 0.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "select user_id, lag_s from conv_out where user_id < 9 order by user_id").collect()
    q.stop()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 240L)))
  }

  test("conversionJoin evicts both join buffers as watermarks advance") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streaming.conversionJoin(in.toDF(), horizon = "10 minutes",
        watermark = "5 minutes")
      .writeStream.format("memory").queryName("conv_evict_out")
      .outputMode("append").start()
    in.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
      Ev(2, ts("2024-01-01 10:01:00"), 2, "purchase", 2.0))
    q.processAllAvailable()
    // push event time 2 h forward: both 10:0x rows fall behind their
    // eviction bounds (view_ts + horizon and buy_ts resp.) and must leave
    // the state store rather than accumulate forever
    in.addData(
      Ev(3, ts("2024-01-01 12:00:00"), 3, "view", 1.0),
      Ev(4, ts("2024-01-01 12:00:30"), 3, "purchase", 2.0))
    q.processAllAvailable()
    in.addData(
      Ev(5, ts("2024-01-01 12:01:00"), 4, "view", 1.0))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    assert(stateRows <= 3,
      s"expected only in-horizon rows buffered in join state, got $stateRows")
  }

  test("writePartitioned lands hour-partitioned parquet via foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = Files.createTempDirectory("stream_out").toString
    val chk = Files.createTempDirectory("stream_chk").toString
    val q = Streaming.writePartitioned(in.toDF(), out, chk)
    in.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 11:05:00"), 2, "view", 2.0))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() === 2)
    assert(back.select("hour").distinct().count() === 2)
  }

  test("writePartitionedWithMetrics lands data AND one metrics row per " +
      "micro-batch through a real stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = Files.createTempDirectory("stream_m_out").toString
    val chk = Files.createTempDirectory("stream_m_chk").toString
    val mDir = Files.createTempDirectory("stream_m_metrics").toString
    val q = Streaming.writePartitionedWithMetrics(in.toDF(), out, chk, mDir)
    in.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 11:05:00"), 2, "view", 2.0))
    q.processAllAvailable()
    in.addData(
      Ev(3, ts("2024-01-01 11:06:00"), 3, "view", -4.0)) // invalid value
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(out).count() === 3)
    val m = graft.quality.Metrics.readMetrics(spark, mDir)
      .orderBy("run_id").collect()
    assert(m.length === 2, s"one metrics row per micro-batch, got ${m.length}")
    assert(m.map(_.getAs[String]("run_id")).toSet === Set("batch_0", "batch_1"))
    val b1 = m.find(_.getAs[String]("run_id") == "batch_1").get
    assert(b1.getAs[Long]("records_validated") === 1L)
    // the -4.0 fails exactly the validity check; (1 + 0.5 + 1)/3 ≈ 0.83
    // stays above the 0.8 alert line (full alert semantics: MetricsSpec)
    assert(b1.getAs[Long]("failed_checks") === 1L)
    assert(!b1.getAs[Boolean]("quality_alert"))
  }

  test("writeValidatedPartitioned routes good vs quarantine AND publishes " +
      "metrics through a real stream, replay-idempotently") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = Files.createTempDirectory("val_out").toString
    val qDir = Files.createTempDirectory("val_q").toString
    val chk = Files.createTempDirectory("val_chk").toString
    val mDir = Files.createTempDirectory("val_m").toString
    val q = Streaming.writeValidatedPartitioned(in.toDF(), out, qDir, chk, mDir)
    in.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:06:00"), 2, "bogus", 2.0),   // bad type
      Ev(3, ts("2024-01-01 10:07:00"), 3, "view", 5000.0)) // bad value
    q.processAllAvailable()
    q.stop()
    val good = spark.read.parquet(out)
    assert(good.count() === 1)
    assert(good.select("event_id").collect().head.getLong(0) === 1L)
    val quarantined = spark.read.parquet(qDir)
    assert(quarantined.count() === 2)
    assert(quarantined.select("status").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("quarantined"))
    assert(quarantined.select("reason").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("critical_issue"))
    val m = graft.quality.Metrics.readMetrics(spark, mDir).collect()
    assert(m.length === 1)
    assert(m.head.getAs[Long]("records_validated") === 3L)
    // a crash-replay of the same batch replaces all three outputs
    Streaming.writeValidatedBatch(
      Seq((1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
        (2L, ts("2024-01-01 10:06:00"), 2L, "bogus", 2.0),
        (3L, ts("2024-01-01 10:07:00"), 3L, "view", 5000.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value"),
      0L, out, qDir, mDir)
    assert(spark.read.parquet(out).count() === 1)
    assert(spark.read.parquet(qDir).count() === 2)
    assert(graft.quality.Metrics.readMetrics(spark, mDir).count() === 1)
  }

  test("an all-clean micro-batch still leaves a readable quarantine sink " +
      "and an empty replay clears the stale partition a crash left") {
    val out = Files.createTempDirectory("clean_out").toString
    val qDir = Files.createTempDirectory("clean_q").toString
    val mDir = Files.createTempDirectory("clean_m").toString
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    // 1) an all-clean FIRST batch: no bad rows ever written, yet the
    // quarantine dir must be schema-readable (seeded typed empty file)
    val clean = Seq((1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0))
      .toDF(cols: _*)
    Streaming.writeValidatedBatch(clean, 0L, out, qDir, mDir)
    val q0 = spark.read.parquet(qDir)
    assert(q0.count() === 0)
    assert(q0.columns.contains("reason") && q0.columns.contains("status") &&
      q0.columns.contains("batch_id"))
    // 2) batch 1 quarantines a row...
    val dirty = Seq((2L, ts("2024-01-01 10:06:00"), 2L, "bogus", 2.0))
      .toDF(cols: _*)
    Streaming.writeValidatedBatch(dirty, 1L, out, qDir, mDir)
    assert(spark.read.parquet(qDir).count() === 1)
    // 3) ...and a crash-replay of batch 1 that now yields ZERO bad rows
    // (e.g. upstream fixed) must clear the stale batch_id=1 partition —
    // dynamic overwrite alone would leave it behind forever
    val fixed = Seq((2L, ts("2024-01-01 10:06:00"), 2L, "view", 2.0))
      .toDF(cols: _*)
    Streaming.writeValidatedBatch(fixed, 1L, out, qDir, mDir)
    assert(spark.read.parquet(qDir).count() === 0)
    assert(spark.read.parquet(out).filter(col("event_id") === 2L).count() === 1)
  }

  test("writeBatch: an all-filtered-out replay clears its stale good-row " +
      "partitions and an initially-empty sink stays readable") {
    val out = Files.createTempDirectory("empty_good").toString
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    // an initially-empty stream: the sink must still be schema-readable
    Streaming.writeBatch(
      Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
        .toDF(cols: _*), 0L, out)
    assert(spark.read.parquet(out).count() === 0)
    // batch 1 lands good rows...
    Streaming.writeBatch(
      Seq((1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0)).toDF(cols: _*),
      1L, out)
    assert(spark.read.parquet(out).count() === 1)
    // ...and its crash-replay that now yields ZERO rows (all newly
    // quarantined) must clear the stale partition — otherwise downstream
    // reads serve ghost rows forever
    Streaming.writeBatch(
      Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
        .toDF(cols: _*), 1L, out)
    assert(spark.read.parquet(out).count() === 0)
  }

  test("writeBatch: a replay that lands fewer hours clears the hours it " +
      "no longer writes") {
    val out = Files.createTempDirectory("partial_hours").toString
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    Streaming.writeBatch(Seq(
      (1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 11:05:00"), 2L, "view", 2.0)).toDF(cols: _*), 1L, out)
    assert(spark.read.parquet(out).filter(col("batch_id") === 1).count() === 2)
    // the crash-replay of batch 1 now carries only the hour-10 row: the
    // hour-11 partition of batch 1 is a ghost and must not keep serving
    Streaming.writeBatch(Seq(
      (1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0)).toDF(cols: _*), 1L, out)
    val back = spark.read.parquet(out).filter(col("batch_id") === 1)
    assert(back.count() === 1)
    assert(back.select("hour").collect().map(_.getInt(0)).toSeq === Seq(10))
  }

  test("a staging left by a crash between stage and publish is invisible " +
      "to readers, and the replay publishes only its own rows") {
    val out = Files.createTempDirectory("stale_stage_out").toString
    val qDir = Files.createTempDirectory("stale_stage_q").toString
    val mDir = Files.createTempDirectory("stale_stage_m").toString
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val staging = graft.ops.Layouts.ReplaceStaging
    // a fresh sink holding nothing but a crashed attempt's staging
    val fresh = Files.createTempDirectory("stale_stage_fresh").toString
    Seq((9L, ts("2024-01-01 09:00:00"), 9L, "click", 9.0)).toDF(cols: _*)
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").parquet(s"$fresh/$staging")
    assert(!graft.ops.Layouts.hasParquetData(spark, fresh))
    // batch 0 publishes, then the crashed attempt of batch 1 leaves
    // different rows staged under both sinks
    Streaming.writeValidatedBatch(Seq(
      (1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 10:06:00"), 2L, "bogus", 2.0)).toDF(cols: _*),
      0L, out, qDir, mDir)
    Seq((100L, ts("2024-01-01 12:00:00"), 7L, "view", 3.0),
      (101L, ts("2024-01-01 13:00:00"), 7L, "view", 4.0)).toDF(cols: _*)
      .withColumn("year", year(col("ts"))).withColumn("month", month(col("ts")))
      .withColumn("day", dayofmonth(col("ts"))).withColumn("hour", hour(col("ts")))
      .withColumn("batch_id", lit(1L))
      .write.partitionBy("year", "month", "day", "hour", "batch_id")
      .parquet(s"$out/$staging")
    Seq((102L, ts("2024-01-01 12:00:00"), 7L, "bogus", 5.0)).toDF(cols: _*)
      .withColumn("reason", lit("critical_issue"))
      .withColumn("status", lit("quarantined")).withColumn("batch_id", lit(1L))
      .write.partitionBy("batch_id").parquet(s"$qDir/$staging")
    assert(spark.read.parquet(out).select("event_id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L))
    assert(spark.read.parquet(qDir).select("event_id").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
    // the replay of batch 1 overwrites the leftover and publishes its own
    Streaming.writeValidatedBatch(Seq(
      (3L, ts("2024-01-01 10:07:00"), 3L, "view", 3.0),
      (4L, ts("2024-01-01 10:08:00"), 4L, "view", 5000.0)).toDF(cols: _*),
      1L, out, qDir, mDir)
    assert(spark.read.parquet(out).select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    assert(spark.read.parquet(qDir).select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(2L, 4L))
    Seq(out, qDir, mDir).foreach(d =>
      assert(!graft.ops.Layouts.exists(spark, s"$d/$staging"), d))
    assert(graft.quality.Metrics.readMetrics(spark, mDir).count() === 2)
  }

  test("writeBatch is idempotent under micro-batch replay") {
    val out = Files.createTempDirectory("replay_out").toString
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val b0 = Seq(
      (1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 10:06:00"), 2L, "view", 2.0)).toDF(cols: _*)
    Streaming.writeBatch(b0, 0L, out)
    // crash-before-checkpoint replay: the SAME batch id runs again — dynamic
    // partition overwrite must replace, not append
    Streaming.writeBatch(b0, 0L, out)
    assert(spark.read.parquet(out).count() === 2)
    // a genuinely new batch appends alongside
    val b1 = Seq((3L, ts("2024-01-01 10:07:00"), 3L, "click", 3.0)).toDF(cols: _*)
    Streaming.writeBatch(b1, 1L, out)
    val back = spark.read.parquet(out)
    assert(back.count() === 3)
    assert(back.select("batch_id").distinct().count() === 2)
  }
}

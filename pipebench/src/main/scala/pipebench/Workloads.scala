package pipebench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{BenchReport, SparkEntry, Tables}
import graft.sim.{IndexParams, Similarity}
import graft.streaming.Streaming

/** One timed operation. `round` groups the operations the workload's
  * end-to-end latency is taken over (an index round is several calls);
  * `kind` groups operations of one shape for the tracing-overhead
  * comparison. Times are epoch milliseconds. */
final case class OpRec(id: Int, round: Int, kind: String, start: Double, end: Double,
                       rows: Long, traced: Boolean, var ok: Boolean) {
  def ms: Double = end - start
}

/** What every workload shares: the session, the tracer, the op log and the
  * run's private directory. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val work: Path) {
  val ops = mutable.ArrayBuffer[OpRec]()
  var tracing = false
  private var nextOp = 0
  /** Operation id and root span id of the operation now running (0 while
    * setting up). */
  private var current = (0, -1)

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Runs `body` as operation `kind` of round `round`, timed as a root span.
    * A throw counts as a failed operation. */
  def op[T](round: Int, kind: String, rows: Long)(body: => T): Option[T] = {
    nextOp += 1
    val id = nextOp
    val root = tracer.newId()
    current = (id, root)
    val start = tracer.nowMs
    val result = try Some(body) catch {
      case e: Exception =>
        System.err.println(s"[pipebench] $kind failed: ${e.toString.take(300)}")
        None
    } finally current = (0, -1)
    val end = tracer.nowMs
    tracer.record(Span(root, kind, start, end, -1, id))
    ops += OpRec(id, round, kind, start, end, rows, tracing, result.isDefined)
    result
  }

  /** Records an operation the program timed itself (a streaming trigger). */
  def external(round: Int, kind: String, start: Double, end: Double, rows: Long): OpRec = {
    nextOp += 1
    tracer.record(Span(tracer.newId(), kind, start, end, -1, nextOp))
    val r = OpRec(nextOp, round, kind, start, end, rows, tracing, ok = true)
    ops += r
    r
  }

  /** Times `body` as a child span of the running operation. */
  def child[T](name: String)(body: => T): T =
    tracer.span(name, current._1, parent = current._2)(body)
}

trait Workload {
  /** Builds fresh state and runs the untimed warm-up operation. */
  def setup(rep: Int): Unit
  /** Untimed work after the last set-up that brings every operation of the
    * mix to its warm state before the measured window. */
  def prime(): Unit = ()
  /** Repeats the warm-up operation on the state the last set-up built. */
  def warmOp(): Unit
  /** Runs the next operation(s) of the closed loop. */
  def step(): Unit
  /** Whether the operations run so far form whole cycles of the workload's
    * mix; the measured window always ends on a cycle boundary. */
  def cycleDone: Boolean = true
  /** Checks outputs that can only be checked once the loop has stopped. */
  def finish(): Unit = ()
  /** Median latency of the workload's unit of work, in seconds. */
  def p50S(ops: Seq[OpRec]): Double
  /** Input rows consumed per second of operation time. */
  def rowsPerS(ops: Seq[OpRec]): Double
  /** The latencies the workload's tail is taken over, in seconds. */
  def tailSamples(ops: Seq[OpRec]): Seq[Double]
  /** Bytes the workload left on disk per live input row, if it writes. */
  def storedBytesPerRow: Option[Double] = None
  def close(): Unit = ()
}

object Workloads {
  /** The workload `name`, with its inputs loaded from the tables in `data`. */
  def apply(name: String, ctx: Ctx, data: String): Workload = name match {
    case "ingest" => new Ingest(ctx, Gen.eventPool(ctx.spark, data))
    case "serve" => new Serve(ctx, data)
    case "index" => new Index(ctx, data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq
}

/** Snapshot files landed into the zone and drained one per trigger through
  * the validated three-sink stream. */
final class Ingest(ctx: Ctx, pool: Gen.EventPool) extends Workload {
  import ctx.spark

  /** Files landed per closed-loop step; the stream drains them one per
    * trigger before the next step lands more. */
  val FilesPerStep = 3

  private var root: Path = _
  private var query: StreamingQuery = _
  private var nextFile = 0
  private val landed = mutable.LinkedHashMap[Int, Gen.Snapshot]()
  private var seenBatch = -1L
  /** batch id → the op that timed it. */
  private val batchOps = mutable.LinkedHashMap[Long, OpRec]()
  var drainMs = 0.0

  private def out = root.resolve("good")
  private def quarantine = root.resolve("quarantine")
  private def metrics = root.resolve("metrics")

  private def land(n: Int): Unit = {
    val first = nextFile
    Streaming.pollToLandingZone(i => {
      val s = Gen.snapshot(pool, ctx.seed, first + i)
      landed(first + i) = s.copy(json = "")
      s.json
    }, root.resolve("landing"), n, i => f"snapshot_${first + i}%06d.json")
    nextFile += n
  }

  def setup(rep: Int): Unit = {
    close()
    root = ctx.dir(s"ingest_$rep")
    Files.createDirectories(root.resolve("landing"))
    landed.clear(); batchOps.clear(); seenBatch = -1L
    nextFile = 1000 * rep
    query = Streaming.writeValidatedPartitioned(
      Streaming.readEventStream(spark, root.resolve("landing").toString),
      out.toString, quarantine.toString, root.resolve("checkpoint").toString,
      metrics.toString)
    warmOp()
  }

  def p50S(ops: Seq[OpRec]): Double = Stats.median(tailSamples(ops))
  def rowsPerS(ops: Seq[OpRec]): Double = ops.map(_.rows).sum / (drainMs / 1000)
  def tailSamples(ops: Seq[OpRec]): Seq[Double] = ops.map(_.ms / 1000)

  def warmOp(): Unit = drainUntimed(1)

  /** Trigger latency keeps falling over the first dozens of batches a JVM
    * runs (code generation, compilation), so untimed batches move the
    * measured window further down that slope. */
  val PrimeFiles = 3

  override def prime(): Unit = drainUntimed(PrimeFiles)

  private def drainUntimed(files: Int): Unit = {
    land(files)
    query.processAllAvailable()
    seenBatch = newProgress().map(_.batchId).foldLeft(seenBatch)(math.max)
  }

  private def newProgress() =
    query.recentProgress.toSeq.filter(p => p.batchId > seenBatch && p.numInputRows > 0)

  def step(): Unit = {
    land(FilesPerStep)
    val t0 = ctx.tracer.nowMs
    query.processAllAvailable()
    drainMs += ctx.tracer.nowMs - t0
    newProgress().foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val dur = p.durationMs.get("triggerExecution").toDouble
      val op = ctx.external(p.batchId.toInt, "batch", start, start + dur, p.numInputRows)
      batchOps(p.batchId) = op
      if (ctx.tracing) {
        val d = p.durationMs.asScala
        Seq("addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
          "commitOffsets" -> "commit_offsets_ms", "latestOffset" -> "latest_offset_ms",
          "getBatch" -> "get_batch_ms", "queryPlanning" -> "query_planning_ms")
          .foreach { case (k, m) => ctx.tracer.count(op.id, "streaming." + m,
            d.get(k).map(_.toDouble).getOrElse(0.0)) }
      }
      seenBatch = math.max(seenBatch, p.batchId)
    }
  }

  /** Good + quarantined rows equal the batch's landed file, the quarantine
    * holds exactly the file's defective rows, and the batch has exactly one
    * `_metrics` row. */
  override def finish(): Unit = {
    // partition discovery may type batch_id as int or long
    def id(v: Any): Long = v.asInstanceOf[Number].longValue
    val good = spark.read.parquet(out.toString).filter(col("batch_id") >= 0)
      .groupBy("batch_id").agg(count(lit(1)).as("n"), min("event_id").as("e"))
      .collect().map(r => id(r.get(0)) -> (r.getLong(1), r.getLong(2))).toMap
    val quar = spark.read.parquet(quarantine.toString).filter(col("batch_id") >= 0)
      .groupBy("batch_id").count().collect().map(r => id(r.get(0)) -> r.getLong(1)).toMap
    val mets = spark.read.parquet(metrics.toString).groupBy("run_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    batchOps.foreach { case (b, op) =>
      val ok = good.get(b).exists { case (n, e) =>
        val snap = landed.get((e / 1000000L).toInt)
        val q = quar.getOrElse(b, 0L)
        snap.exists(s => n + q == s.rows && q == s.defects && op.rows == s.rows)
      } && mets.get(s"batch_$b").contains(1L)
      if (!ok) System.err.println(s"[pipebench] ingest batch $b failed its output check")
      op.ok = op.ok && ok
      if (op.traced) ctx.tracer.count(op.id, "quality.quarantined_rows", quar.getOrElse(b, 0L).toDouble)
    }
    if (ctx.tracing) sinkCounters()
  }

  /** Files and partition directories each traced batch wrote. */
  private def sinkCounters(): Unit = {
    val files = Seq(out, quarantine, metrics).flatMap(Workloads.dataFiles)
    def batchOf(f: Path): Option[Long] = f.iterator().asScala.map(_.toString).collectFirst {
      case s if s.startsWith("batch_id=") => s.stripPrefix("batch_id=").toLong
      case s if s.startsWith("run_id=batch_") => s.stripPrefix("run_id=batch_").toLong
    }
    val byBatch = files.groupBy(batchOf)
    batchOps.foreach { case (b, op) if op.traced =>
      val fs = byBatch.getOrElse(Some(b), Nil)
      ctx.tracer.count(op.id, "sink.files", fs.size.toDouble)
      ctx.tracer.count(op.id, "sink.partitions_written", fs.map(_.getParent).distinct.size.toDouble)
    case _ => }
  }

  override def storedBytesPerRow: Option[Double] = {
    val rows = landed.values.map(_.rows.toLong).sum
    Some(Seq(out, quarantine, metrics).map(Workloads.treeBytes).sum.toDouble / rows)
  }

  override def close(): Unit = if (query != null) { query.stop(); query = null }
}

/** Seeded permutations of read-only dashboard and Athena-analog queries. */
final class Serve(ctx: Ctx, data: String) extends Workload {
  import ctx.spark

  /** The queries, the tables each one scans, and its checksum
    * (`BenchReport.checksummed`) over the sf0.1 tables, pinned from the
    * program whose outputs the DuckDB oracle checks: a query that answers
    * differently fails its output check on its first run. */
  val Queries: Seq[(String, Seq[String], Long)] = Seq(
    ("q01_overview", Seq("events"),
      7492082587392953540L),
    ("q03_hourly_trend", Seq("events"),
      -2214193180537989001L),
    ("q04_peak_traffic", Seq("events"),
      1498695322157924093L),
    ("q05_corridors", Seq("events"),
      8950805268007479189L),
    ("q07_segment_performance", Seq("customer", "nation", "orders", "region"),
      -6960153182138924282L),
    ("q12_rollup_orders", Seq("events", "orders"),
      -3188721909916886205L),
    ("q35_dashboard_stats", Seq("events"),
      -8703795924927124556L),
    ("q39_peak_hours", Seq("events"),
      1743436807783126359L),
    ("q46_approx_percentiles", Seq("events"),
      -2233830118476361374L),
    ("q53_realtime_metrics", Seq("events"),
      -3494148979374333639L),
    ("q54_quality_dashboard", Seq("events"),
      -8053774418364641087L),
    ("q141_flight_summary", Seq("events"),
      -7257546080602917088L))
  private val rowsOf = Queries.map(q => q._1 -> q._2.map(Gen.TableRows).sum).toMap
  private val expected = Queries.map(q => q._1 -> q._3).toMap
  private val fns = SparkEntry.queries
  val WarmUp = "q01_overview"

  private var cycle = -1
  private var queue = List.empty[String]
  private var served = 0

  /** Constructs and runs query `name`; returns its checksum. */
  private def run(name: String): Long = {
    val df = ctx.child("construct")(fns(name)(spark, data))
    val rows = ctx.child("action")(BenchReport.checksummed(df).collect())
    if (rows.isEmpty || rows(0).isNullAt(0)) 0L else rows(0).getLong(0)
  }

  /** Per-query median latencies: the serve figures weigh every query once,
    * however often it ran in the window. */
  private def perQuery(ops: Seq[OpRec]): Map[String, Double] =
    ops.groupBy(_.kind).map { case (q, xs) => q -> Stats.median(xs.map(_.ms / 1000)) }

  override def cycleDone: Boolean = queue.isEmpty

  def p50S(ops: Seq[OpRec]): Double = Stats.median(perQuery(ops).values.toSeq)
  def rowsPerS(ops: Seq[OpRec]): Double = {
    val m = perQuery(ops)
    m.keys.map(rowsOf).sum / m.values.sum
  }
  def tailSamples(ops: Seq[OpRec]): Seq[Double] = ops.map(_.ms / 1000)

  def setup(rep: Int): Unit = warmOp()

  def warmOp(): Unit = run(WarmUp)

  /** One untimed run of every query, so the measured window times warm
    * queries rather than their first runs in the JVM, which are slower by
    * code generation and class loading. The runs share the cores (that
    * cost is mostly single-threaded); the measured window's load stays one
    * client. */
  override def prime(): Unit = {
    val threads = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try Queries.map { case (name, _, _) =>
      threads.submit(() => BenchReport.checksummed(fns(name)(spark, data)).collect())
    }.foreach(_.get())
    finally threads.shutdown()
  }

  def step(): Unit = {
    if (queue.isEmpty) {
      cycle += 1
      val r = Gen.rng(ctx.seed, 400000L + cycle)
      val a = Queries.map(_._1).toArray
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      queue = a.toList
    }
    val name = queue.head
    queue = queue.tail
    served += 1
    ctx.op(served, name, rowsOf(name))(run(name)) match {
      case Some(sum) if sum != expected(name) =>
        System.err.println(s"[pipebench] $name checksum $sum, expected ${expected(name)}")
        ctx.ops.last.ok = false
      case _ =>
    }
  }
}

/** The appendable persisted index under write-beside-read: every round
  * appends a delta, probes planted vectors and tombstones victims; every
  * [[MaintenanceEvery]]-th round folds and purges.
  *
  * Sizes reproduce the per-call costs and job counts measured for this
  * lifecycle on a 4-core host (append 0.57-0.71 s in 3 jobs, probe about
  * 1 s in 6, tombstone 1.3-1.5 s in 5, fold + purge about 5 s in 28.5):
  * a 64-vector delta, a serving batch of 16 probes and 16 victims. Tombstone
  * cost grows with the victims (64 take about 1.4 times as long), and a
  * seventh of the corpus per call, as the catalog's lifecycle queries
  * (q157-q166) use, doubles the probe's cost. One appended vector in seven
  * is a copy of live content, the planted-copy ratio of those queries. */
final class Index(ctx: Ctx, data: String) extends Workload {
  import ctx.spark
  import spark.implicits._

  private val corpus = Gen.corpus(spark, data)
  private val n0 = corpus.size.toLong

  /** LSH tables, as the catalog's index queries use. */
  val LshTables = 4
  val Delta = 64
  val CopyShare: Double = 1.0 / 7
  val Probes = 16
  val Victims = 16
  /** Fold + purge cost about as much as a round's three other calls
    * together; every third round keeps maintenance near a third of the
    * workload's time. */
  val MaintenanceEvery = 3

  val planes: Int = IndexParams.lshPlanes(n0)
  val buckets: Int = IndexParams.indexBuckets(n0, LshTables)

  private var table = ""
  private var path: Path = _
  private var round = 0
  /** Rounds run in the measured window. */
  private var measured = 0
  private var priming = false

  // the benchmark's model of the index: content of every id, live ids per
  // content, and every id ever tombstoned
  private val contents = mutable.ArrayBuffer[Array[Float]]()
  private val contentOf = mutable.HashMap[Long, Int]()
  private val liveByContent = mutable.HashMap[Int, mutable.TreeSet[Long]]()
  private val live = mutable.ArrayBuffer[Long]()
  private val livePos = mutable.HashMap[Long, Int]()
  private val dead = mutable.HashSet[Long]()
  private var nextId = 0L
  private var pendingMarks = 0

  private def add(id: Long, content: Int): Unit = {
    contentOf(id) = content
    liveByContent.getOrElseUpdate(content, mutable.TreeSet[Long]()) += id
    livePos(id) = live.size; live += id
  }

  private def kill(id: Long): Unit = {
    liveByContent(contentOf(id)) -= id
    val pos = livePos.remove(id).get
    val last = live.remove(live.size - 1)
    if (last != id) { live(pos) = last; livePos(last) = pos }
    dead += id
  }

  private def frame(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, contents(contentOf(id)))).toDF("vec_id", "embedding")

  private def medianOf(ops: Seq[OpRec], kind: String): Option[Double] = {
    val xs = ops.filter(_.kind == kind).map(_.ms / 1000)
    if (xs.isEmpty) None else Some(Stats.median(xs))
  }

  override def cycleDone: Boolean = measured % MaintenanceEvery == 0

  /** The median round: the median append, probe and tombstone, plus the
    * median fold + purge amortized over its [[MaintenanceEvery]] rounds. */
  def p50S(ops: Seq[OpRec]): Double =
    Seq("append", "probe", "tombstone").map(k => medianOf(ops, k).getOrElse(0.0)).sum +
      medianOf(ops, "maintenance").getOrElse(0.0) / MaintenanceEvery

  /** Vectors appended, probed and tombstoned per second of lifecycle time,
    * maintenance included. */
  def rowsPerS(ops: Seq[OpRec]): Double = ops.map(_.rows).sum / (ops.map(_.ms).sum / 1000)

  def tailSamples(ops: Seq[OpRec]): Seq[Double] = ops.filter(_.kind == "probe").map(_.ms / 1000)

  def setup(rep: Int): Unit = {
    if (table.nonEmpty) spark.sql(s"DROP TABLE IF EXISTS $table")
    table = s"pipebench_index_$rep"
    path = ctx.dir(s"index_$rep").resolve("table")
    contents.clear(); contentOf.clear(); liveByContent.clear(); live.clear()
    livePos.clear(); dead.clear(); round = 0; measured = 0; pendingMarks = 0
    contents ++= corpus
    (0L until n0).foreach(id => add(id, id.toInt))
    nextId = n0
    Streaming.createAppendableIndex(spark, table, path.toString, buckets)
    Streaming.appendIndexBatch(
      Tables.embeddings(spark, data).select(col("vec_id"), col("embedding")),
      0L, table, planes, LshTables)
    warmOp()
  }

  def warmOp(): Unit = {
    val planted = plant(Gen.roundRng(ctx.seed, 0))
    if (!probe(planted)) throw new IllegalStateException("warm-up probe answered wrongly")
  }

  /** [[Probes]] planted probes: copies of the content of random live ids. */
  private def plant(r: java.util.SplittableRandom): (Seq[Int], DataFrame) = {
    val picks = Seq.fill(Probes)(contentOf(live(r.nextInt(live.size))))
    (picks, picks.zipWithIndex.map { case (c, q) => (q.toLong, contents(c)) }
      .toDF("qid", "embedding"))
  }

  /** Each planted probe must return the smallest live id holding its
    * content, and no probe a tombstoned id. */
  private def probe(planted: (Seq[Int], DataFrame)): Boolean = {
    val (picks, probes) = planted
    val df = ctx.child("construct")(
      Similarity.probeIndexLive(spark, table, probes, planes, LshTables))
    val got = ctx.child("action")(df.collect())
      .map(row => row.getAs[Long]("qid") -> row.getAs[Long]("retrieved_id")).toMap
    got.size == Probes && picks.zipWithIndex.forall { case (c, q) =>
      got.get(q.toLong).contains(liveByContent(c).head)
    } && !got.values.exists(dead.contains)
  }

  /** Runs one lifecycle call as an operation (untimed while priming); a
    * traced run then reads the index's file counters. */
  private def call[T](kind: String, rows: Long)(body: => T): Option[T] =
    if (priming) Some(body)
    else {
      val result = ctx.op(round, kind, rows)(body)
      if (ctx.tracing) observe(ctx.ops.last)
      result
    }

  /** One untimed round after set-up: call latency keeps falling over the
    * first rounds a JVM runs (code generation, compilation). */
  override def prime(): Unit = {
    priming = true
    try step() finally priming = false
  }

  def step(): Unit = {
    round += 1
    if (!priming) measured += 1
    val r = Gen.roundRng(ctx.seed, round)
    val fresh = Gen.freshVectors(corpus, ctx.seed, round, Delta)
    val ids = (0 until Delta).map { i =>
      val id = nextId + i
      if (r.nextDouble() < CopyShare) contentOf(live(r.nextInt(live.size))) -> id
      else { contents += fresh(i); (contents.size - 1) -> id }
    }
    nextId += Delta
    ids.foreach { case (c, id) => contentOf(id) = c }
    val delta = frame(ids.map(_._2))
    if (call("append", Delta)(
        Streaming.appendIndexBatch(delta, round.toLong, table, planes, LshTables)).isDefined)
      ids.foreach { case (c, id) => add(id, c) }

    val planted = plant(r)
    call("probe", Probes)(probe(planted)) match {
      case Some(false) if priming => throw new IllegalStateException("priming probe answered wrongly")
      case Some(false) =>
        System.err.println(s"[pipebench] index round $round probe answered wrongly")
        ctx.ops.last.ok = false
      case _ =>
    }

    val victims = {
      val picked = mutable.LinkedHashSet[Long]()
      while (picked.size < Victims) picked += live(r.nextInt(live.size))
      picked.toSeq
    }
    val marks = frame(victims)
    if (call("tombstone", Victims)(
        Streaming.tombstoneIndexRows(spark, table, marks, planes, LshTables)).isDefined) {
      victims.foreach(kill)
      pendingMarks += Victims
    }

    if (!priming && measured % MaintenanceEvery == 0)
      call("maintenance", 0L) {
        ctx.child("fold")(Streaming.foldIndexLeveled(spark, table, round.toLong))
        ctx.child("purge")(Streaming.purgeIndexTombstones(spark, table))
        pendingMarks = 0
      }
  }

  /** Index file counters after a traced call. */
  private def observe(op: OpRec): Unit = {
    val files = Workloads.dataFiles(path).filter(_.toString.endsWith(".parquet"))
    val Bucket = """.*_(\d{5})(\.c\d+)?\..*parquet$""".r
    val perBucket = files.map(_.getFileName.toString).collect { case Bucket(b, _) => b }
      .groupBy(identity).values.map(_.size)
    ctx.tracer.count(op.id, "index.files", files.size.toDouble)
    ctx.tracer.count(op.id, "index.max_files_per_bucket",
      if (perBucket.isEmpty) 0.0 else perBucket.max.toDouble)
    ctx.tracer.count(op.id, "index.marks", pendingMarks.toDouble)
  }

  override def storedBytesPerRow: Option[Double] =
    Some(Workloads.treeBytes(path).toDouble / live.size)

  override def close(): Unit = if (table.nonEmpty) spark.sql(s"DROP TABLE IF EXISTS $table")
}

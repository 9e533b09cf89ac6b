package pipebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** One benchmark run: `--workload <ingest|serve|index> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --data <dir> [--trace-out <file>]`.
  * `--data` holds the sf0.1 tables the workloads read.
  *
  * Load shape: one process, one client thread, closed loop, on
  * `local[cores]` with `spark.sql.shuffle.partitions = cores`. Prints a
  * human-readable summary and, last, one JSON object with the run's
  * metrics: the end-to-end ones untraced, the per-layer ones traced. */
object Main {

  /** Set-ups per run; `setup_s` reports their median. */
  val SetupReps = 3
  /** Warm-up operations timed on each side of the tracing overhead. */
  val OverheadReps = 3

  /** Module of the program (or the benchmark) a job's call-site file
    * belongs to. */
  val ModuleOfFile: Map[String, String] = {
    def m(module: String, files: String*) = files.map(_ + ".scala" -> module)
    (m("streaming", "Streaming") ++
      m("quality", "Metrics", "Quarantine", "Quality", "BatchChecks") ++
      m("sources", "Sources") ++
      m("sim", "Similarity", "IndexParams") ++
      m("analytics", "CoreQueries", "Dashboard", "JoinQueries", "Flight", "Tables") ++
      m("ops", "Layouts", "Maintenance", "Exprs", "Pct") ++
      m("bench", "Main", "Workloads", "Gen", "BenchReport")).toMap
  }
  val Modules: Seq[String] =
    Seq("streaming", "quality", "sources", "sim", "ops", "analytics", "bench", "other")

  private val SiteFile = """ at ([A-Za-z0-9_$]+\.(?:scala|java)):\d+""".r.unanchored

  /** Module of a job recorded at `site`; a job no program frame claims
    * belongs to the streaming layer when a streaming query's thread ran it
    * (file source, offsets, commits). */
  def moduleOf(site: String, streaming: Boolean = false): String = site match {
    case SiteFile(file) if ModuleOfFile.contains(file) => ModuleOfFile(file)
    case _ => if (streaming) "streaming" else "other"
  }

  /** Per-layer metrics, in report order, with their units. */
  val PerLayer: Seq[(String, String)] =
    Seq("add_batch_ms", "wal_commit_ms", "commit_offsets_ms", "latest_offset_ms",
      "get_batch_ms", "query_planning_ms").map(n => s"streaming.$n" -> "ms") ++
    Modules.flatMap(m => Seq(s"$m.jobs" -> "count", s"$m.stage_ms" -> "ms")) ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.driver_gap_ms" -> "ms", "construct.ms" -> "ms", "construct.jobs" -> "count",
      "spark.plan_ms" -> "ms", "spark.stage_wall_ms" -> "ms", "spark.sched_delay_ms" -> "ms",
      "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
      "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.exchanges" -> "count",
      "spark.input_bytes" -> "bytes", "scan.files_read" -> "count",
      "scan.buckets_selected" -> "count", "sink.files" -> "count",
      "sink.partitions_written" -> "count", "spark.output_bytes" -> "bytes",
      "quality.quarantined_rows" -> "count", "index.files" -> "count",
      "index.max_files_per_bucket" -> "count", "index.marks" -> "count",
      "maint.rewritten_bytes" -> "bytes", "store.bytes_per_row" -> "bytes",
      "host.calib_s" -> "s", "gen_s" -> "s", "trace.overhead_ms" -> "ms")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, data: Path, traceOut: Option[Path])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("data")).toAbsolutePath,
      kv.get("trace-out").map(Paths.get(_).toAbsolutePath))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Set("ingest", "serve", "index")(a.workload), s"unknown workload ${a.workload}")
    val tracer = new Tracer
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = tracer.nowMs
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"pipebench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    if (a.trace)
      builder.withExtensions(_.injectCheckRule(s => SparkTrace.unpinStreamCallSite(s.sparkContext)))
    val spark = builder.getOrCreate()
    val sessionS = (tracer.nowMs - t0) / 1000
    try run(a, spark, tracer, sessionS)
    finally spark.stop()
  }

  private def run(a: Args, spark: SparkSession, tracer: Tracer, sessionS: Double): Unit = {
    val ctx = new Ctx(spark, tracer, a.seed, a.work)
    val g0 = tracer.nowMs
    val w = Workloads(a.workload, ctx, a.data.toString)
    val genS = (tracer.nowMs - g0) / 1000
    val setupS = (0 until SetupReps).map { rep =>
      val s0 = tracer.nowMs
      w.setup(rep)
      (tracer.nowMs - s0) / 1000
    }
    val p0 = tracer.nowMs
    w.prime()
    val primeS = (tracer.nowMs - p0) / 1000
    // host speed, so a slow host can be told from a regression: the first
    // call warms the probe
    calibrate(spark)
    val calibS = calibrate(spark)
    // tracing overhead: the workload's warm-up operation timed alternately
    // untraced and traced; the traced run traces everything after it
    val overheadMs = if (!a.trace) 0.0 else {
      def timed() = { val s0 = tracer.nowMs; w.warmOp(); tracer.nowMs - s0 }
      val pairs = (1 to OverheadReps).map { _ =>
        val untraced = timed()
        tracer.attach(spark.sparkContext)
        val traced = timed()
        tracer.detach()
        traced - untraced
      }
      tracer.attach(spark.sparkContext)
      ctx.tracing = true
      Stats.median(pairs)
    }

    // the window holds whole cycles of the workload's mix, at least one, and
    // ends at the cycle boundary nearest to --seconds
    val m0 = tracer.nowMs
    val budgetMs = a.seconds * 1000
    var cycleStart = m0
    var lastCycleMs = 0.0
    var broken = false
    def elapsed = tracer.nowMs - m0
    while (!broken && (!w.cycleDone || elapsed + lastCycleMs / 2 < budgetMs)) {
      try w.step() catch {
        case e: Exception =>
          // a workload whose state broke mid-step cannot go on: count it
          System.err.println(s"[pipebench] ${a.workload} step failed: ${e.toString.take(300)}")
          ctx.op(-1, "broken", 0L)(throw e)
          broken = true
      }
      if (w.cycleDone) {
        lastCycleMs = tracer.nowMs - cycleStart
        cycleStart = tracer.nowMs
      }
    }
    w.finish()
    tracer.drain()
    val stored = w.storedBytesPerRow
    w.close()

    val ops = ctx.ops.toSeq
    val failed = ops.count(!_.ok)
    val rss = peakRssMb()
    val setup = sessionS + Stats.median(setupS)
    val named = namedMetrics(a.workload, ops, w, setup, rss, stored)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) endToEnd(ops, w, setup)
      else {
        val layers = perLayer(ctx, ops.filter(_.traced))
        val extra = Map("host.calib_s" -> calibS, "gen_s" -> genS,
          "store.bytes_per_row" -> stored.getOrElse(0.0),
          "trace.overhead_ms" -> overheadMs)
        PerLayer.map { case (n, u) => (n, extra.getOrElse(n, layers.getOrElse(n, 0.0)), u) }
      }

    println(f"# workload=${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      f"cores=${Runtime.getRuntime.availableProcessors()} ops=${ops.size} failed=$failed " +
      f"gen_s=$genS%.3f session_s=$sessionS%.3f setup_reps_s=${setupS.map(s => f"$s%.3f").mkString(",")} " +
      f"prime_s=$primeS%.3f host.calib_s=$calibS%.3f")
    named.foreach { case (n, v, u) => println(f"# $n%-22s $v%14.4f $u") }
    if (a.trace) {
      metrics.foreach { case (n, v, u) => println(f"# $n%-30s $v%16.3f $u") }
      kindSummary(ctx, ops.filter(_.traced)).foreach(println)
    }
    a.traceOut.foreach(p => writeTrace(p, a, ctx))
    val correct = failed == 0
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    val namedBody = named.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": ${ops.size}, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}, "named": {${namedBody.mkString(", ")}}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** The fixed host probe: a distributed hash fold over a constant range. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, Runtime.getRuntime.availableProcessors())
      .select(xxhash64(col("id")).as("h")).agg(bit_xor(col("h"))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** The metrics the benchmark bounds. Peak RSS and the tails are printed
    * (see [[namedMetrics]]) but not bounded: on a 4-core host a run's RSS
    * swings with heap sizing and a 12 s window holds too few operations for
    * a tail with ten samples above it. */
  def endToEnd(ops: Seq[OpRec], w: Workload, setup: Double): Seq[(String, Double, String)] =
    Seq(("setup_s", setup, "s"),
      ("op_p50_s", w.p50S(ops), "s"),
      ("rows_per_s", w.rowsPerS(ops), "1/s"))

  /** The end-to-end metrics under their workload-specific names; tails
    * follow the tail rule and print the percentile and sample count. */
  def namedMetrics(workload: String, ops: Seq[OpRec], w: Workload, setup: Double,
                   rss: Double, stored: Option[Double]): Seq[(String, Double, String)] = {
    def p50(kind: String) = {
      val xs = ops.filter(_.kind == kind).map(_.ms / 1000)
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    }
    val tailXs = w.tailSamples(ops)
    val tailPct = Stats.tailPercentile(tailXs.size)
    val tail = tailPct.map(Stats.nearestRank(tailXs, _)).getOrElse(Double.NaN)
    val tailUnit = tailPct.fold(s"s (n=${tailXs.size}, too few for a tail)")(
      p => s"s (p$p of n=${tailXs.size})")
    val specific = workload match {
      case "ingest" => Seq(("rows_per_s", w.rowsPerS(ops), "1/s"),
        ("batch_p50_s", w.p50S(ops), "s"), ("batch_tail_s", tail, tailUnit))
      case "serve" => Seq(("query_p50_s", w.p50S(ops), "s"),
        ("query_tail_s", tail, tailUnit))
      case _ => Seq(("append_p50_s", p50("append"), "s"), ("probe_p50_s", p50("probe"), "s"),
        ("probe_tail_s", tail, tailUnit), ("tombstone_p50_s", p50("tombstone"), "s"),
        ("maintenance_p50_s", p50("maintenance"), "s"))
    }
    Seq(("setup_s", setup, "s"),
      ("failed_frac", ops.count(!_.ok).toDouble / math.max(1, ops.size), "ratio"),
      ("peak_rss_mb", rss, "MB")) ++
      stored.map(s => ("stored_bytes_per_row", s, "bytes")) ++ specific
  }

  /** Per-operation means of the per-layer metrics over the traced
    * operations; job and stage records are attributed to the operation
    * whose window their start falls in. */
  def perLayer(ctx: Ctx, ops: Seq[OpRec]): Map[String, Double] = {
    val tr = ctx.tracer
    val jobs = tr.jobs.jobs.values.toSeq.sortBy(_.id)
    val stageOwner = mutable.HashMap[Int, Int]()
    jobs.foreach(j => j.stages.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = j.id))
    val stagesOfJob = stageOwner.toSeq.groupBy(_._2).map { case (j, ss) =>
      j -> ss.flatMap(s => tr.jobs.stages.get(s._1)) }
    val children = tr.spans.filter(_.parent >= 0).groupBy(_.op)
    val sums = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = sums(k) += v
    var maintOps = 0
    var maintBytes = 0.0
    ops.foreach { op =>
      def in(t: Double, lo: Double, hi: Double) = t >= lo - 0.5 && t < hi + 0.5
      val opJobs = jobs.filter(j => in(j.start, op.start, op.end))
      val root = tr.spans.find(s => s.op == op.id && s.parent == -1)
      opJobs.foreach { j =>
        val module = moduleOf(j.site, j.streaming)
        val ss = stagesOfJob.getOrElse(j.id, Nil)
        val wall = ss.map(s => s.completed - s.submitted).sum
        add(s"$module.jobs", 1); add(s"$module.stage_ms", wall)
        add("spark.jobs", 1); add("spark.stages", ss.size); add("spark.stage_wall_ms", wall)
        ss.foreach { s =>
          add("spark.tasks", s.tasks); add("spark.sched_delay_ms", s.schedMs)
          add("spark.executor_run_ms", s.runMs); add("spark.executor_cpu_ms", s.cpuMs)
          add("spark.gc_ms", s.gcMs); add("spark.shuffle_write_bytes", s.shuffleWrite)
          add("spark.shuffle_read_bytes", s.shuffleRead); add("spark.spill_bytes", s.spill)
          add("spark.input_bytes", s.input); add("spark.output_bytes", s.output)
        }
        tr.record(Span(tr.newId(), s"job $module: ${j.site}", j.start, j.end,
          root.map(_.id).getOrElse(-1), op.id))
      }
      val jobSpans = opJobs.map(j => Span(0, "job", j.start, j.end, 0, op.id))
      root.foreach(r => add("spark.driver_gap_ms", Stats.selfTime(r, jobSpans)))
      children.getOrElse(op.id, Nil).filter(_.name == "construct").foreach { c =>
        add("construct.ms", c.end - c.start)
        add("construct.jobs", opJobs.count(j => in(j.start, c.start, c.end)))
      }
      tr.jobs.plans.filter(p => in(p.at, op.start, op.end)).foreach { p =>
        add("spark.plan_ms", p.planMs); add("spark.exchanges", p.exchanges)
        add("scan.files_read", p.filesRead); add("scan.buckets_selected", p.bucketsSelected)
      }
      tr.counters.foreach { case ((o, k), v) => if (o == op.id) add(k, v) }
      if (op.kind == "maintenance") {
        maintOps += 1
        maintBytes += opJobs.flatMap(j => stagesOfJob.getOrElse(j.id, Nil)).map(_.output).sum
      }
    }
    val n = math.max(1, ops.size)
    sums.map { case (k, v) => k -> v / n }.toMap +
      ("maint.rewritten_bytes" -> (if (maintOps == 0) 0.0 else maintBytes / maintOps))
  }

  /** Per operation kind: count, median latency and mean jobs. */
  def kindSummary(ctx: Ctx, ops: Seq[OpRec]): Seq[String] = {
    val jobs = ctx.tracer.jobs.jobs.values.toSeq
    ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, xs) =>
      val n = xs.map(op => jobs.count(j => j.start >= op.start - 0.5 && j.start < op.end + 0.5)).sum
      f"# kind $k%-24s n=${xs.size}%3d p50_s=${Stats.median(xs.map(_.ms / 1000))}%.3f " +
        f"jobs=${n.toDouble / xs.size}%.1f"
    }
  }

  private def writeTrace(p: Path, a: Args, ctx: Ctx): Unit = {
    Files.createDirectories(p.getParent)
    val sb = new StringBuilder
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    sb.append(s"""{"workload": ${q(a.workload)}, "seed": ${a.seed}, "spans": [\n""")
    sb.append(ctx.tracer.spans.map(s =>
      s"""{"id": ${s.id}, "name": ${q(s.name)}, "start": ${num(s.start)}, "end": ${num(s.end)}, "parent": ${s.parent}, "op": ${s.op}}"""
    ).mkString(",\n"))
    sb.append("],\n\"counters\": [\n")
    sb.append(ctx.tracer.counters.map { case ((o, k), v) =>
      s"""{"op": $o, "name": ${q(k)}, "value": ${num(v)}}""" }.mkString(",\n"))
    sb.append("],\n\"ops\": [\n")
    sb.append(ctx.ops.map(o =>
      s"""{"id": ${o.id}, "round": ${o.round}, "kind": ${q(o.kind)}, "ms": ${num(o.ms)}, "rows": ${o.rows}, "traced": ${o.traced}, "ok": ${o.ok}}"""
    ).mkString(",\n"))
    sb.append("]}\n")
    Files.writeString(p, sb.toString)
  }
}

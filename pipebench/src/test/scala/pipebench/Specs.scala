package pipebench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.quality.Metrics
import graft.sources.Sources
import graft.streaming.Streaming

/** Specs for the benchmark's pure helpers and its generator:
  * `python3 pipebench/run.py --selftest`. */
object Specs {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  /** SHA-256 of the sf0.1 test tables the stored tables copy. */
  val Sf01Digests: Map[String, String] = Map(
    "customer.parquet" -> "d5de58d671fa7dbf8805a2fe4f0aee2b570201207c126f9b6069226b42bb1b2b",
    "embeddings.parquet" -> "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
    "events.parquet" -> "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2",
    "nation.parquet" -> "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
    "orders.parquet" -> "128b7e8c223a3934181f7cbfc5460df52b322ea79ec980fd0e0064da08f8e3d3",
    "region.parquet" -> "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0")

  /** Args: a scratch directory and the stored tables' directory. */
  def main(args: Array[String]): Unit = {
    val scratch = Paths.get(args(0))
    val data = Paths.get(args(1))

    // -- tail rule ---------------------------------------------------------
    check("tail rule: 40 samples give p75 (10 above)")(Stats.tailPercentile(40).contains(75))
    check("tail rule: 100 samples give p90")(Stats.tailPercentile(100).contains(90))
    check("tail rule: 11 samples give p9, the smallest sample with 10 above")(
      Stats.tailPercentile(11).contains(9))
    check("tail rule: 10 samples support no tail")(Stats.tailPercentile(10).isEmpty)
    check("tail rule: the chosen percentile leaves at least 10 samples above") {
      (11 to 300).forall { n =>
        val xs = (1 to n).map(_.toDouble)
        val p = Stats.tailPercentile(n).get
        // ... and the next percentile up would not
        xs.count(_ > Stats.nearestRank(xs, p)) >= 10 &&
          (p == 99 || xs.count(_ > Stats.nearestRank(xs, p + 1)) < 10)
      }
    }
    check("nearest rank: p50 of 1..4 is 2, p100 is 4")(
      Stats.nearestRank(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.0 &&
        Stats.nearestRank(Seq(4.0, 1.0, 3.0, 2.0), 100) == 4.0)
    check("median interpolates between the middle samples")(
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 && Stats.median(Seq(7.0)) == 7.0)

    // -- span self time ----------------------------------------------------
    val parent = Span(1, "op", 0, 10, -1, 1)
    def kid(a: Double, b: Double) = Span(2, "job", a, b, 1, 1)
    check("self time: overlapping children count once")(
      Stats.selfTime(parent, Seq(kid(1, 3), kid(2, 5))) == 6.0)
    check("self time: children are clipped to the span")(
      Stats.selfTime(parent, Seq(kid(-5, 1), kid(8, 12))) == 7.0)
    check("self time: no children leaves the whole span")(Stats.selfTime(parent, Nil) == 10.0)
    check("self time: a child covering the span leaves none")(
      Stats.selfTime(parent, Seq(kid(-1, 11), kid(2, 3))) == 0.0)

    // -- job attribution ---------------------------------------------------
    check("call sites map to program modules")(
      Main.moduleOf("collect at Streaming.scala:1950") == "streaming" &&
        Main.moduleOf("parquet at Metrics.scala:103") == "quality" &&
        Main.moduleOf("collect at Similarity.scala:1166") == "sim" &&
        Main.moduleOf("collect at Workloads.scala:12") == "bench" &&
        Main.moduleOf("run at ThreadPoolExecutor.java:1136") == "other" &&
        Main.moduleOf("") == "other" &&
        Main.moduleOf("run at ThreadPoolExecutor.java:1136", streaming = true) == "streaming" &&
        Main.moduleOf("parquet at Metrics.scala:103", streaming = true) == "quality")

    check("call stacks resolve to their innermost program frame") {
      val stack = Seq(
        "org.apache.spark.sql.Dataset.collect(Dataset.scala:3510)",
        "graft.quality.Metrics$.writeMetrics(Metrics.scala:103)",
        "graft.streaming.Streaming$.writeValidatedBatch(Streaming.scala:1990)",
        "java.lang.Thread.run(Thread.java:840)").mkString("\n")
      SparkTrace.site(stack) == "writeMetrics at Metrics.scala:103" &&
        Main.moduleOf(SparkTrace.site(stack)) == "quality" &&
        Main.moduleOf(SparkTrace.site(
          "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\nx.Y.run(CompletableFuture.java:9)")) == "other"
    }

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .withExtensions(_.injectCheckRule(s => SparkTrace.unpinStreamCallSite(s.sparkContext)))
      .getOrCreate()
    try {
      // -- stored tables -----------------------------------------------------
      check("stored tables: byte-identical copies of the sf0.1 test tables") {
        Files.list(data).iterator().asScala.map(f => f.getFileName.toString -> sha(Files.readAllBytes(f)))
          .toMap == Sf01Digests
      }
      check("stored tables: the row counts the workloads assume") {
        Gen.TableRows.forall { case (t, n) => spark.read.parquet(s"$data/$t.parquet").count() == n }
      }

      // -- generator determinism --------------------------------------------
      val pool = Gen.eventPool(spark, data.toString)
      val corpus = Gen.corpus(spark, data.toString)
      check("snapshots: same seed and index give identical bytes")(
        Gen.snapshot(pool, 7, 3) == Gen.snapshot(pool, 7, 3))
      check("snapshots: another seed or index gives other bytes")(
        Gen.snapshot(pool, 7, 3).json != Gen.snapshot(pool, 8, 3).json &&
          Gen.snapshot(pool, 7, 3).json != Gen.snapshot(pool, 7, 4).json)
      check("snapshots: ~10k rows, 1-2% defective, one observation time") {
        val s = Gen.snapshot(pool, 11, 5)
        val lines = s.json.split("\n")
        val share = s.defects.toDouble / s.rows
        lines.length == s.rows && s.rows >= 9500 && s.rows <= 10500 &&
          share > 0.01 && share < 0.02 &&
          lines.map(l => l.substring(l.indexOf("\"ts\":"), l.indexOf(",\"user_id\""))).distinct.length == 1
      }
      check("index round inputs: same seed, same vectors; unit length; another round, others") {
        val a = Gen.freshVectors(corpus, 5, 2, 8)
        a.zip(Gen.freshVectors(corpus, 5, 2, 8)).forall { case (x, y) => x.sameElements(y) } &&
          a.forall(v => math.abs(v.map(x => x.toDouble * x).sum - 1) < 1e-5) &&
          !a.head.sameElements(Gen.freshVectors(corpus, 5, 3, 8).head) &&
          Gen.roundRng(5, 4).nextLong() == Gen.roundRng(5, 4).nextLong()
      }
      val snapDir = Files.createDirectories(scratch.resolve("snap"))
      val snap = Gen.snapshot(pool, 13, 2)
      Files.writeString(snapDir.resolve("s.json"), snap.json)
      val events = spark.read.schema(Streaming.eventSchema).json(snapDir.toString)
      check("snapshots: the quarantine predicate routes exactly the planted defects") {
        events.count() == snap.rows && events.filter(Streaming.quarantinePredicate).count() == snap.defects
      }

      // -- job attribution under a lagging listener bus ----------------------
      // A listener ahead of the tracer on the same queue holds every job
      // event back, so the client has moved on to the next call before the
      // tracer hears of a job.
      val lag = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = Thread.sleep(300)
      }
      def traced(body: => Unit): Tracer = {
        val tracer = new Tracer
        spark.sparkContext.addSparkListener(lag)
        tracer.attach(spark.sparkContext)
        try body finally {
          tracer.detach()
          spark.sparkContext.removeSparkListener(lag)
        }
        tracer
      }
      def modules(t: Tracer, lo: Double, hi: Double): Set[String] =
        t.jobs.jobs.values.filter(j => j.start >= lo && j.start < hi)
          .map(j => Main.moduleOf(j.site, j.streaming)).toSet
      check("back-to-back calls in two modules: each call's jobs go to its module") {
        var marks = Seq.empty[Double]
        val t = traced {
          marks :+= System.currentTimeMillis().toDouble
          Metrics.writeMetrics(Metrics.batchQualityCheck(events), scratch.resolve("m").toString,
            "spec", 0.1)
          marks :+= System.currentTimeMillis().toDouble
          Sources.writeBucketed(events, "spec_bucketed", scratch.resolve("b").toString, "user_id", 4)
          marks :+= System.currentTimeMillis().toDouble
        }
        modules(t, marks(0), marks(1)) == Set("quality") &&
          modules(t, marks(1), marks(2)) == Set("sources")
      }
      check("a micro-batch's jobs go to the modules its actions run in, not the query's start") {
        val root = scratch.resolve("stream")
        Files.createDirectories(root.resolve("landing"))
        Streaming.pollToLandingZone(_ => snap.json, root.resolve("landing"), 1, _ => "s.json")
        val t = traced {
          val q = Streaming.writeValidatedPartitioned(
            Streaming.readEventStream(spark, root.resolve("landing").toString),
            root.resolve("good").toString, root.resolve("quarantine").toString,
            root.resolve("checkpoint").toString, root.resolve("metrics").toString)
          try q.processAllAvailable() finally q.stop()
        }
        val ms = t.jobs.jobs.values.filter(_.streaming).map(j => Main.moduleOf(j.site, j.streaming)).toSet
        ms.contains("quality") && ms.contains("streaming")
      }
    } finally spark.stop()

    println(if (failures == 0) "all specs passed" else s"$failures spec(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}

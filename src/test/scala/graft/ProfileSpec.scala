package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

class ProfileSpec extends SparkSpecBase {

  test("Profile: one cold and one warm record per query, plan counts " +
      "agree with the formatted AQE-final plan") {
    val (recs, plan) = Profile.run(spark, Sf0001, "q53_realtime_metrics")
    assert(recs.map(_.rep) === Seq(1, 2))
    assert(recs.map(r => "\"(\\w+)\":".r.findAllMatchIn(r.line).map(_.group(1)).toSeq)
      .distinct === Seq(Seq("query", "rep", "construct_ms", "construct_jobs",
        "action_ms", "jobs", "stages", "tasks", "codegen_pct", "scans", "exchanges")))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("== Final Plan =="))
    recs.foreach { r =>
      assert(r.query === "q53_realtime_metrics")
      // q53 runs eager jobs while building its DataFrame; the split must
      // keep them out of the action's count
      assert(r.constructJobs > 0, r.line)
      assert(r.jobs >= 1 && r.stages >= 1 && r.tasks >= r.stages, r.line)
      assert(r.constructMs >= 0 && r.actionMs > 0, r.line)
      assert(r.codegenPct >= 0 && r.codegenPct <= 100, r.line)
      assert(r.scans === "Scan parquet".r.findAllIn(finalPlan).size, r.line)
      assert(r.exchanges === "\\b(Broadcast)?Exchange \\(".r.findAllIn(finalPlan).size,
        r.line)
    }
    assert(recs.head.scans > 0 && recs.head.exchanges > 0)
    assert(recs.map(_.constructJobs).distinct.size === 1)
    assert(recs.map(r => (r.jobs, r.stages, r.scans, r.exchanges)).distinct.size === 1)
  }

  test("src/main declares exactly the four main entry points") {
    // measurement belongs in Profile (or a spec), not in a new ad-hoc main
    val mains = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => "def main\\(|extends App\\b".r.findFirstIn(Files.readString(f)).nonEmpty)
      .map(_.getFileName.toString.stripSuffix(".scala")).toSet
    assert(mains === Set("Bench", "Verify", "WarmLedgerCli", "Profile"))
  }

  test("src/main creates temp directories only at the JVM-owned root " +
      "and in EtlBench") {
    // catalog-table dirs come from Layouts.ownedTempDir, reaped at JVM
    // exit; a bare createTempDirectory leaks a dir per build again
    val sites = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => Files.readString(f).contains("createTempDirectory"))
      .map(_.getFileName.toString.stripSuffix(".scala")).toSet
    assert(sites === Set("Layouts", "EtlBench"))
  }

  test("the flat-table layout has one home per step: bucket routing in " +
      "Sources, owned table dirs from ensureTable and compactBucketed, " +
      "no buildTableIfAbsent") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => Paths.get("src/main/scala").relativize(f).toString ->
        Files.readString(f)).toMap
    val code = files.map { case (f, text) => f -> text.linesIterator
      .filterNot(_.trim.matches("(\\*|/\\*|//).*")).mkString("\n") }
    assert(code.filter(_._2.contains("bucketRouted")).keySet ===
      Set("graft/sources/Sources.scala"))
    assert(!files.values.exists(_.contains("buildTableIfAbsent")))
    // every ownedTempDir call, by the def whose body holds it
    val callers = code.toSeq.flatMap { case (f, text) =>
      "ownedTempDir\\(".r.findAllMatchIn(text).map(_.start)
        .filterNot(i => text.lastIndexOf("def ownedTempDir", i) == i - 4)
        .map(i => f -> "def (\\w+)".r.findAllMatchIn(text.take(i)).toSeq.last.group(1))
    }
    assert(callers.sorted === Seq(
      "graft/ops/Layouts.scala" -> "ensureTable",
      "graft/sources/Sources.scala" -> "compactBucketed"))
  }

  test("directory writers replace partitions only through " +
      "Layouts.replacePartitions; dynamic overwrite is the catalog " +
      "publish's alone") {
    val code = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => Paths.get("src/main/scala").relativize(f).toString ->
        Files.readString(f).linesIterator
          .filterNot(_.trim.matches("(\\*|/\\*|//).*")).mkString("\n"))
      .toMap
    def sites(token: String) = code.toSeq.flatMap { case (f, text) =>
      token.r.findAllMatchIn(text).map(m => f -> m.start) }
    // the def whose body holds offset `i` of `text`
    def enclosingDef(text: String, i: Int) =
      "def (\\w+)".r.findAllMatchIn(text.take(i)).toSeq.last.group(1)
    // inside the argument list of a replacePartitions call
    def inCallArgs(text: String, i: Int) = {
      val open = text.lastIndexOf("replacePartitions(", i)
      open >= 0 && { val s = text.substring(open, i); s.count(_ == '(') > s.count(_ == ')') }
    }
    val dyn = sites("withDynamicOverwrite\\(")
      .filterNot { case (f, i) => code(f).lastIndexOf("def withDynamicOverwrite", i) == i - 4 }
    assert(dyn.map(_._1) === Seq("graft/streaming/Streaming.scala"), dyn)
    assert(sites("globStatus").map { case (f, i) => f -> enclosingDef(code(f), i) } ===
      Seq("graft/ops/Layouts.scala" -> "replacePartitions"))
    val seeds = sites("batch_id=-1")
    assert(seeds.nonEmpty)
    seeds.foreach { case (f, i) => assert(inCallArgs(code(f), i), s"$f at $i") }
    assert(sites("partitionOverwriteMode").size === 1)
  }

  test("one connected-components entry: starComponents is called only from " +
      "components and q104, and no code flips AQE") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => Paths.get("src/main/scala").relativize(f).toString ->
        Files.readString(f)).toMap
    assert(!files.values.exists(_.contains("spark.sql.adaptive.enabled")))
    val code = files.map { case (f, text) => f -> text.linesIterator
      .filterNot(_.trim.matches("(\\*|/\\*|//).*")).mkString("\n") }
    // every starComponents call, by the def whose body holds it
    val callers = code.toSeq.flatMap { case (f, text) =>
      "starComponents\\(".r.findAllMatchIn(text).map(_.start)
        .filterNot(i => text.lastIndexOf("def starComponents", i) == i - 4)
        .map(i => f -> "def (\\w+)".r.findAllMatchIn(text.take(i)).toSeq.last.group(1))
    }
    assert(callers.sorted === Seq(
      "graft/text/TextOps.scala" -> "components",
      "graft/text/TextOps.scala" -> "q104DupClustersStar"))
  }
}

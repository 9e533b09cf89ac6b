package graft

import org.apache.spark.sql.functions._
import graft.sim.Similarity

class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  test("cosine: orthogonal=0, identical=1, opposite=-1 (native and composed)") {
    Similarity.ensureRegistered(spark)
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f), 1.0),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), -1.0)
    ).toDF("a", "b", "expected")
    df.withColumn("sim", Similarity.cosine(col("a"), col("b")))
      .withColumn("simc", SimilarityReference.cosineComposed(col("a"), col("b")))
      .collect().foreach { r =>
        assert(math.abs(r.getAs[Double]("sim") - r.getAs[Double]("expected")) < 1e-9)
        // native kernel and composed tree agree bit-for-bit (same fold order)
        assert(r.getAs[Double]("sim") === r.getAs[Double]("simc"))
      }
  }

  test("lshSignature: deterministic, in [0, 2^planes), kernel == composed") {
    Similarity.ensureRegistered(spark)
    val df = Seq.tabulate(50)(i =>
      Tuple1(Array.tabulate(16)(d => ((i * 7 + d) * 0.13f - 1.1f)))).toDF("e")
    for (offset <- Seq(0, 8, 40)) {
      val rows = df.select(
        Similarity.lshSignature(col("e"), 6, lit(offset)).as("k"),
        SimilarityReference.lshSignatureComposed(col("e"), 6, lit(offset)).as("c")).collect()
      rows.foreach { r =>
        // native kernel and the interpreted HOF tree agree bit-for-bit
        // (same sin, same multiply/fold order — q100's oracle depends on it)
        assert(r.getLong(0) === r.getLong(1), s"offset=$offset: $r")
        assert(r.getLong(0) >= 0 && r.getLong(0) < 64)
      }
    }
    val s1 = df.select(Similarity.lshSignature(col("e"), 6)).head().getLong(0)
    val s2 = df.select(Similarity.lshSignature(col("e"), 6)).head().getLong(0)
    assert(s1 === s2)
  }

  test("q26 brute-force top-k: self excluded, ranks 1..3, sims non-increasing per probe") {
    val rows = Similarity.q26CosineTopK(spark, Sf001).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    byQ.foreach { case (qid, rs) =>
      assert(rs.map(_.getAs[Int]("rn")).sorted.toSeq === (1 to rs.length))
      assert(!rs.exists(_.getAs[Long]("cid") == qid))
      val sims = rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b - 1e-9 })
    }
  }

  test("q43 IVF ANN recall@3 clears the floor with bounded candidate sets") {
    val df = Similarity.q43AnnIvf(spark, Sf001).collect()
    val meanRecall = df.map(_.getAs[Double]("recall3")).sum / df.length
    assert(meanRecall >= 0.3, s"mean recall3 = $meanRecall")
    // nprobe=2 of 16 clusters: candidates must stay well under the corpus
    val nVecs = Tables.embeddings(spark, Sf001).count()
    val maxCand = df.map(_.getAs[Long]("n_candidates")).max
    assert(maxCand < nVecs / 2, s"candidates $maxCand not sub-linear vs $nVecs")
  }

  test("q27 ANN recall@3 clears the floor (multi-table LSH)") {
    val df = Similarity.q27AnnLsh(spark, Sf001).collect()
    val meanRecall = df.map(_.getAs[Double]("recall3")).sum / df.length
    assert(meanRecall >= 0.2, s"mean recall3 = $meanRecall")
  }

  test("exactPairsBlocked enumerates every unordered pair exactly once") {
    val e = Seq.tabulate(40)(i => (i.toLong, Array.fill(4)(i * 0.1f + 1f), i % 3))
      .toDF("vec_id", "embedding", "label")
    val pairs = Similarity.exactPairsBlocked(e, nBlocks = 5)
      .select(least(col("i"), col("j")).as("a"), greatest(col("i"), col("j")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length === 40 * 39 / 2, s"got ${pairs.length} pairs")
    assert(pairs.distinct.length === pairs.length, "duplicate pair emitted")
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("approx dedup: planted near-dups recalled, candidates far below N²/2") {
    // 60 well-separated base vectors + a planted near-dup (tiny rotation,
    // cosine ≈ 0.999) for every third base — the regime where LSH is sound
    val rnd = new scala.util.Random(7)
    val bases = Seq.tabulate(60) { i =>
      val v = Array.fill(16)(rnd.nextGaussian().toFloat)
      (i.toLong, v, 0)
    }
    val dups = bases.filter(_._1 % 3 == 0).map { case (id, v, _) =>
      (1000L + id, v.zipWithIndex.map { case (x, d) => x + 0.01f * (d % 2) }, 1)
    }
    val e = (bases ++ dups).toDF("vec_id", "embedding", "label")
    Similarity.ensureRegistered(spark)
    val marked = Similarity.approxEmbeddingDedup(e, threshold = 0.95).collect()
    val flagged = marked.filter(_.getAs[Boolean]("is_dup")).map(_.getAs[Long]("vec_id")).toSet
    // every planted dup has id 1000+base > base, so it is the marked side
    val planted = dups.map(_._1).toSet
    val recall = planted.count(flagged).toDouble / planted.size
    assert(recall >= 0.9, s"recall $recall over ${planted.size} planted dups")
    assert(flagged.subsetOf(planted), s"false positives: ${flagged -- planted}")
    // the LSH bucket join must prune: candidates ≪ N²/2 even counting
    // per-table repeats
    val n = bases.size + dups.size
    val nCand = Similarity.lshCandidatePairs(e, tables = 6, planes = 8).count()
    assert(nCand < n.toLong * (n - 1) / 4,
      s"$nCand candidates not ≪ ${n.toLong * (n - 1) / 2}")
  }
  test("q94: centroid cosine matrix covers all label pairs, bounded in [-1, 1]") {
    val rows = Similarity.q94CentroidCosine(spark, Sf0001).collect()
    val labels = graft.Tables.embeddings(spark, Sf0001)
      .select("label").distinct().count().toInt
    assert(rows.length === labels * (labels - 1) / 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dims") === 64L)
      val c = r.getAs[Double]("cos_sim")
      assert(c >= -1.0 - 1e-6 && c <= 1.0 + 1e-6, s"cosine out of range: $c")
      assert(r.getAs[Int]("l1") < r.getAs[Int]("l2"))
    }
  }

  test("q108: int8 quantization uses the full code range and bounds " +
      "reconstruction error by half a step per dim") {
    val rows = graft.sim.Similarity.q108QuantizationAudit(spark, Sf001).collect()
    assert(rows.length === 64)
    rows.foreach { r =>
      val (mn, mx) = (r.getAs[Double]("mn"), r.getAs[Double]("mx"))
      val step = (mx - mn) / 255.0
      val nCodes = r.getAs[Long]("n_codes")
      assert(nCodes >= 2 && nCodes <= 256, s"dim=${r.get(0)} n_codes=$nCodes")
      // half-up rounding: every value sits within step/2 of its code's
      // reconstruction (plus an ulp of slack for the affine round trip)
      assert(r.getAs[Double]("max_abs_err") <= step / 2 + 1e-12,
        s"dim=${r.get(0)} max_err=${r.getAs[Double]("max_abs_err")} step=$step")
      assert(r.getAs[Double]("mean_abs_err") <= r.getAs[Double]("max_abs_err"))
    }
  }

  test("clusterCandidatePairs: identical vectors always share a cluster " +
      "(planted-copy recall 1.0), candidates stay within-cluster") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val rnd = new scala.util.Random(11)
    val bases = Seq.tabulate(50) { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), 0)
    }
    val copies = bases.filter(_._1 % 4 == 0)
      .map { case (id, v, _) => (500L + id, v.clone(), 1) }
    val e = (bases ++ copies).toDF("vec_id", "embedding", "label")
    Similarity.ensureRegistered(spark)
    val pairs = Similarity.clusterCandidatePairs(e, k = 6, iters = 2)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted (base, base+500) pair must be a candidate — identical
    // vectors rank centroids identically, so they cannot be split
    copies.foreach { case (cid, _, _) =>
      assert(pairs.contains((cid - 500L, cid)), s"planted pair for $cid missing")
    }
    // blocking really prunes: well under the exhaustive pair count
    val n = bases.size + copies.size
    assert(pairs.size < n * (n - 1) / 2, s"${pairs.size} = exhaustive; no pruning")
  }

  test("q111 semantic dedup flags exactly the planted copies") {
    val out = Similarity.q111SemanticDedup(spark, Sf001).collect()
    val nPlanted = out.map(_.getAs[Long]("n_planted")).sum
    val nDups = out.map(_.getAs[Long]("n_dups")).sum
    assert(nPlanted > 0)
    assert(nDups === nPlanted, s"dups $nDups != planted $nPlanted")
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") ===
        r.getAs[Long]("n_vecs") - r.getAs[Long]("n_dups"))
    }
  }

  test("q116 decontam flags exactly the planted probe copies; the natural " +
      "corpus scores far below threshold") {
    val out = Similarity.q116EmbeddingDecontam(spark, Sf001).collect()
    val nPlanted = out.map(_.getAs[Long]("n_planted")).sum
    val nFlagged = out.map(_.getAs[Long]("n_contaminated")).sum
    assert(nPlanted === 31L)  // probes vec_id 0..30 all replanted
    assert(nFlagged === nPlanted, s"flagged $nFlagged != planted $nPlanted")
    // the margin is real: per-label avg max-sim stays well under θ even
    // with the planted 1.0s averaged in (≤ ~50 plants over 500 vecs)
    out.foreach { r =>
      assert(r.getAs[Double]("avg_max_sim") < 0.6,
        s"label ${r.get(0)} avg ${r.getAs[Double]("avg_max_sim")}") }
  }

  test("max-sim formulations: matrix kernel, chunked ladder and broadcast " +
      "max-agg produce bitwise-identical output per vector") {
    // max over the same float set is accumulation-order-independent and
    // every path computes each per-probe cosine with identical loop
    // orders, so all three plans must agree bitwise — the same comparison
    // the 10k-probe measurement in PLANS.md "Big-probe-set max-sim" made
    Similarity.ensureRegistered(spark)
    val e = graft.Tables.embeddings(spark, Sf001)
    val probes = e.filter(col("vec_id") <= 30)
    val corpus = e.filter(col("vec_id") > 30)
    val lad = SimilarityReference.maxSimChunkedLadder(corpus, "embedding",
        probes, "embedding", chunk = 7)
      .select(col("vec_id"), col("max_sim_raw").as("a"))
    val bc = SimilarityReference.maxSimBroadcastAgg(corpus, "vec_id", "embedding",
        probes, "embedding")
      .select(col("vec_id"), col("max_sim_raw").as("b"))
    assert(lad.join(bc, "vec_id").filter(col("a") =!= col("b")).count() === 0L)
    // the single-node matrix kernel (the wired big-probe default) agrees
    // bitwise per vector too
    val ker = Similarity.maxSimProbesKernel(corpus, "embedding",
        probes, "embedding")
      .select(col("vec_id"), col("max_sim_raw").as("c"))
    assert(lad.join(ker, "vec_id").filter(col("a") =!= col("c")).count() === 0L)
  }

  test("centroid assignment: literal ladder and argmax matrix kernel " +
      "agree exactly at small and large k, " +
      "including degenerate (NaN-cosine and null-embedding) vectors") {
    // the r20 ivfK-ceiling lift: assignToCentroid retired the
    // greatest-struct ladder for ONE native argmax_cosine_probes node at
    // every k. Same per-centroid cosine loop, same (csim desc, cid asc)
    // tiebreak, NaN sorts largest on both paths — so the picked cid must
    // agree exactly at ANY k, which is the whole license for the swap
    // (and the ceiling raise) without re-opening the q139/q143/q146/q154
    // planted oracles (assignment stays one pure function)
    Similarity.ensureRegistered(spark)
    val e = graft.Tables.embeddings(spark, Sf001)
    // a zero vector makes every cosine NaN: both paths must send it to
    // the smallest cid (NaN ties broken by cid), not drop or crash it.
    // A NULL embedding likewise: the ladder's greatest compares structs
    // whose csim fields are all null (null sorts smallest, ncid breaks
    // the tie -> smallest cid); the kernel coalesces its nulled argmax to
    // the same smallest cid — the flip must not change null-row routing
    val corpus = e.select(col("vec_id"), col("embedding")).unionByName(
      Seq((9999999L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding"))
      .unionByName(
        Seq(Tuple1(9999998L)).toDF("vec_id")
          .withColumn("embedding", lit(null).cast("array<float>")))
    def centsOf(k: Int): Array[(Long, Array[Double])] =
      e.orderBy(col("vec_id")).limit(k).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
        .sortBy(_._1)
    for (k <- Seq(40, 300)) {
      val cents = centsOf(k)
      val lad = SimilarityReference.assignLadder(corpus, cents)
        .select(col("vec_id"), col("cid").as("a"))
      val ker = Similarity.assignKernel(corpus, cents)
        .select(col("vec_id"), col("cid").as("b"))
      assert(lad.join(ker, "vec_id").filter(col("a") =!= col("b"))
        .count() === 0L, s"ladder/kernel disagreement at k=$k")
      // the wired entry point (kernel at every k) matches both
      val cdf = cents.toSeq.map { case (c, ce) => (c, ce.toSeq) }
        .toDF("cid", "ce")
      val via = Similarity.assignToCentroid(corpus, cdf)
        .select(col("vec_id"), col("cid").as("c"))
      assert(lad.join(via, "vec_id").filter(col("a") =!= col("c"))
        .count() === 0L, s"dispatcher disagreement at k=$k")
      // the degenerate vectors landed on the smallest cid on both paths
      val z = via.filter(col("vec_id") === 9999999L).head().getLong(1)
      assert(z === cents.head._1, s"NaN tiebreak at k=$k")
      val nl = via.filter(col("vec_id") === 9999998L).head()
      assert(!nl.isNullAt(1) && nl.getLong(1) === cents.head._1,
        s"null-embedding routing at k=$k")
    }
    // the registered SQL surface rejects a non-float/double literal
    // matrix loudly (an integer matrix is one typo away and getDouble on
    // int-backed ArrayData would otherwise throw a bare CCE)
    val ex = intercept[Exception] {
      spark.sql("SELECT argmax_cosine_probes(array(1.0f), array(array(1, 2)))")
        .collect()
    }
    assert(ex.getMessage.contains("float or double"), ex.getMessage)
    // ...and a wrong-SHAPE matrix (flat array) fails on the shape
    // require, not a bare ClassCastException in the nested-type casts
    val ex2 = intercept[Exception] {
      spark.sql("SELECT argmax_cosine_probes(array(1.0f), array(1.0, 2.0))")
        .collect()
    }
    assert(ex2.getMessage.contains("array<array"), ex2.getMessage)
  }

  /** Shared planted-retrieval contract: one row per probe, every top-1 is
    * the probe's original at cosine ≈ 1 — the recall-1.0 statement both
    * index families must satisfy by construction. */
  private def checkPlantedRetrieval(df: org.apache.spark.sql.DataFrame,
                                    modulus: Int, offset: Long): Unit = {
    val rows = df.collect()
    val nProbes = Tables.embeddings(spark, Sf001)
      .filter(col("vec_id") % modulus === 0).count()
    assert(rows.length.toLong === nProbes)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("hit"), r.toString)
      assert(r.getAs[Long]("retrieved_id") === r.getAs[Long]("qid") - offset)
      assert(r.getAs[Double]("sim") > 0.999999, r.toString)
    }
  }

  test("q138 planted-probe retrieval: one row per probe, every top-1 is " +
      "the probe's original at sim ~ 1, and the plan is a bucket join") {
    val df = Similarity.q138AnnPlanted(spark, Sf001)
    checkPlantedRetrieval(df, modulus = 9, offset = 4000000L)
    // retrieval must stay a shuffled/broadcast HASH join on the signature
    // key — a nested-loop or cartesian means the index stopped indexing
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q139 planted-probe IVF retrieval: every top-1 is the probe's " +
      "original regardless of where the centroids converged") {
    checkPlantedRetrieval(Similarity.q139IvfPlanted(spark, Sf001),
      modulus = 11, offset = 5000000L)
  }

  test("q142 persisted LSH index probe: every top-1 is the probe's " +
      "original, served from the bucketed layout") {
    checkPlantedRetrieval(Similarity.q142LshIndexProbe(spark, Sf001),
      modulus = 100, offset = 7000000L)
    // a second invocation reuses the persisted layout (fingerprint-named
    // table already in the catalog) and returns the identical answer
    checkPlantedRetrieval(Similarity.q142LshIndexProbe(spark, Sf001),
      modulus = 100, offset = 7000000L)
  }

  test("q145 index append: probes of BOTH the base and the appended delta " +
      "retrieve their originals through one bucket-pruned layout") {
    val rows = Similarity.q145IndexAppendProbe(spark, Sf001).collect()
    // sf0.01: base ids {0,113,226,339,452} + delta ids {9000111,9000224,
    // 9000337,9000450} — the modulus lands on both halves by construction
    assert(rows.length === 9, rows.mkString("\n"))
    rows.foreach { r =>
      assert(r.getAs[Boolean]("hit"), r.toString)
      assert(r.getAs[Double]("sim") > 0.999999, r.toString)
    }
    val deltaHits = rows.count(_.getAs[Long]("qid") >= 19000000L)
    assert(deltaHits === 4, s"append must serve delta rows, got $deltaHits")
    // the scan must still bucket-prune across base + appended files
    val p = Similarity.q145IndexAppendProbe(spark, Sf001)
      .queryExecution.executedPlan.toString
    assert("SelectedBucketsCount: (\\d+) out of 64".r.findFirstIn(p).isDefined,
      p.take(3000))
  }

  test("quantizeExpr/reconExpr roundtrip: error bounded by half a code step, " +
      "constant dims reconstruct exactly to mn") {
    val stats = Array((0.0, 1.0), (-2.0, 2.0), (5.0, 5.0))
    val df = Seq(
      Tuple1(Array(0.37f, -1.234f, 5.0f)),
      Tuple1(Array(0.999f, 1.999f, 5.0f)),
      Tuple1(Array(0.0f, 2.0f, 5.0f))).toDF("embedding")
    val rows = df.select(col("embedding"), Similarity.reconExpr(
      Similarity.quantizeExpr(col("embedding"), stats), stats).as("r")).collect()
    rows.foreach { row =>
      val x = row.getSeq[Float](0); val r = row.getSeq[Float](1)
      stats.zipWithIndex.foreach { case ((mn, mx), i) =>
        val bound = if (mx > mn) (mx - mn) / 255.0 / 2.0 + 1e-6 else 0.0
        assert(math.abs(x(i) - r(i)) <= bound + 1e-9,
          s"dim $i: ${x(i)} vs ${r(i)} (bound $bound)")
      }
    }
  }

  test("q149 SQ8 index: every planted original retrieved via exact rescore; " +
      "index stores tinyint codes only (measured < 0.6x the float twin), " +
      "bucket-pruned candidates, pushed-IN rescore lookup") {
    val df = Similarity.q149SqIndexProbe(spark, Sf001)
    val rows = df.collect()
    val n = Tables.embeddings(spark, Sf001).count()
    assert(rows.length === (n - 1) / 89 + 1, rows.mkString("\n"))
    rows.foreach { r =>
      assert(r.getAs[Boolean]("hit"), r.toString)
      assert(r.getAs[Double]("sim") > 0.999999, r.toString)
    }
    val Similarity.SqLayout(idx, statsDir, planes, tables, _) =
      Similarity.sqLayout(spark, Sf001)
    // physical claim 1: the index schema carries NO float vectors
    val schema = spark.table(idx).schema
    assert(!schema.fieldNames.contains("embedding"), schema.treeString)
    val qt = schema("qcode").dataType
    assert(qt.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
      qt.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ===
        org.apache.spark.sql.types.ByteType, qt.toString)
    // physical claim 2: measured smaller than the float index on the SAME
    // corpus — resolve q142's table by name (a prefix scan could bind
    // q145's base∪delta inc table and halve the claimed ratio)
    val (floatIdx, _, _) = Similarity.ensureLshIndex(spark, Sf001)
    val sqBytes = graft.sources.Sources.tableDataBytes(spark, idx)
    val fBytes = graft.sources.Sources.tableDataBytes(spark, floatIdx)
    assert(sqBytes < (fBytes * 6) / 10,
      s"SQ index $sqBytes bytes vs float $fBytes — expected < 0.6x")
    // physical claim 3: candidate stage bucket-prunes the quantized scan
    val probes = Tables.embeddings(spark, Sf001)
      .filter(col("vec_id") % 89 === 0)
      .select((col("vec_id") + 15000000L).as("qid"), col("embedding"))
    val candPlan = Similarity.sqCandidates(spark, idx, statsDir, probes,
      planes, tables, topR = 8).queryExecution.executedPlan.toString
    assert("SelectedBucketsCount: \\d+ out of \\d+".r.findFirstIn(candPlan).isDefined,
      candPlan.take(3000))
    // physical claim 4: the exact-rescore corpus lookup is a PUSHED
    // vec_id IN (...) filter (point-lookup read pattern)
    val rescorePlan = df.queryExecution.executedPlan.toString
    assert(rescorePlan.contains("In(vec_id"), rescorePlan.take(3000))
  }

  test("q150 dedup gate: every branch lands on its planted rows (copies -> " +
      "dup_index, reversed novels -> accepted, duplicated novels -> dup_batch " +
      "keeping the smaller id); index side scans bucket-aligned") {
    val df = Similarity.q150DedupGate(spark, Sf001)
    val rows = df.collect()
    val n = Tables.embeddings(spark, Sf001).count()
    val nCopies = (n - 1) / 7 + 1; val nNovel = (n - 1) / 11 + 1
    assert(rows.length === nCopies + 2 * nNovel)
    val byStatus = rows.groupBy(_.getAs[String]("status"))
    assert(byStatus("dup_index").length === nCopies)
    assert(byStatus("accepted").length === nNovel)
    assert(byStatus("dup_batch").length === nNovel)
    byStatus("dup_index").foreach { r =>
      assert(r.getAs[Long]("dup_of") === r.getAs[Long]("vec_id") - 16000000L, r)
      assert(r.getAs[Double]("sim") > 0.999999, r)
    }
    byStatus("accepted").foreach { r =>
      assert(r.getAs[Long]("vec_id") >= 17000000L &&
        r.getAs[Long]("vec_id") < 18000000L, r)
      assert(r.isNullAt(r.fieldIndex("dup_of")) && r.isNullAt(r.fieldIndex("sim")), r)
    }
    byStatus("dup_batch").foreach { r =>
      // greedy rule: the 18M twin loses to its 17M twin (smaller id)
      assert(r.getAs[Long]("dup_of") === r.getAs[Long]("vec_id") - 1000000L, r)
      assert(r.getAs[Double]("sim") > 0.999999, r)
    }
    // the distributed gate never shuffles the index relation: its scans
    // come back bucket-aligned (would read "Bucketed: false (disabled by
    // query planner)" if the join stopped requiring the distribution) —
    // pinned on the REAL pre-checkpoint index tier (r22: the gate now
    // materializes idxDup, so the final plan no longer contains the
    // index scan; gateIndexTop1 over the same q150 inputs IS the subtree
    // the checkpoint executes)
    val (index, batch, planes, tables) = Similarity.q150GateInputs(spark, Sf001)
    val p = Similarity.gateIndexTop1(index, batch, planes, tables)
      .queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), p.take(3000))
    assert(!p.contains("Bucketed: false"), p.take(3000))
  }

  test("q148 compacted index: base + both appended generations retrievable, " +
      "one file per bucket, bucket pruning intact post-compaction") {
    val df = Similarity.q148IndexCompactProbe(spark, Sf001)
    val rows = df.collect()
    // sf0.01: base ids {0,97,...,485} (6) + delta ids {13000037,...,
    // 13000425} (5) — the modulus lands on both halves and both appended
    // generations (delta split even/odd) by construction
    assert(rows.length === 11, rows.mkString("\n"))
    rows.foreach { r =>
      assert(r.getAs[Boolean]("hit"), r.toString)
      assert(r.getAs[Double]("sim") > 0.999999, r.toString)
    }
    val deltaHits = rows.count(_.getAs[Long]("qid") >= 27000000L)
    assert(deltaHits === 5, s"compacted index must serve appended rows, got $deltaHits")
    // physical claim the oracle cannot see: the rewrite landed at one
    // file per non-empty bucket (3 generations went in)
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .find(_.startsWith("g_lsh_index_cmp_"))
      .getOrElse(fail("compacted index table not in catalog"))
    val files = graft.sources.Sources.countTableDataFiles(spark, tbl)
    assert(files <= 64, s"expected <= 64 bucket files after compaction, got $files")
    // and the probe still bucket-prunes through the compacted layout
    val p = Similarity.q148IndexCompactProbe(spark, Sf001)
      .queryExecution.executedPlan.toString
    assert("SelectedBucketsCount: (\\d+) out of 64".r.findFirstIn(p).isDefined,
      p.take(3000))
  }

  test("q146 IVF append: probes of BOTH the base and the frozen-centroid " +
      "appended delta retrieve their originals through pruned partitions") {
    val rows = Similarity.q146IvfAppendProbe(spark, Sf001).collect()
    assert(rows.length === 8, rows.mkString("\n"))
    rows.foreach { r =>
      assert(r.getAs[Boolean]("hit"), r.toString)
      assert(r.getAs[Double]("sim") > 0.999999, r.toString)
    }
    val deltaHits = rows.count(_.getAs[Long]("qid") >= 23000000L)
    assert(deltaHits === 4, s"append must serve delta rows, got $deltaHits")
  }

  test("q143 IVF partitioned probe: every top-1 is the probe's original, " +
      "served from the partition-pruned layout with persisted centroids") {
    checkPlantedRetrieval(Similarity.q143IvfPartitionedProbe(spark, Sf001),
      modulus = 150, offset = 8000000L)
    // reuse path: the layout (and its centroids) survive re-invocation —
    // probe ranking against persisted centroids keeps routing exact
    checkPlantedRetrieval(Similarity.q143IvfPartitionedProbe(spark, Sf001),
      modulus = 150, offset = 8000000L)
  }

  /** 600 diverse synthetic vectors under a deliberately tiny 2-plane
    * keyspace (4 buckets, every one hot at cap=32) — the skew scenario the
    * r12 hot-bucket guard exists for. */
  private def guardFixtures() = {
    Similarity.ensureRegistered(spark)
    // seeded-Random components, not a sin/affine lattice: structured
    // fixtures (sin(i*0.37+...) repeats at i+17; affine hashes correlate
    // sign sums across i) plant near-identical families refinement must
    // NOT split — this test needs genuinely diverse vectors. Seeded
    // java.util LCG is spec-pinned, so the fixture is deterministic.
    val corpus = Seq.tabulate(600) { i =>
      val rnd = new scala.util.Random(i * 7919 + 13)
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f))
    }.toDF("cid", "ce")
    val sig2 = Similarity.lshSignature(col("ce"), 2)
    val corpusX = corpus.select(sig2.as("sig"), col("cid"), col("ce"))
    val probesX = corpus.filter(col("cid") % 10 === 0)
      .select(sig2.as("sig"), (col("cid") + 100000L).as("qid"),
        col("ce").as("qe"))
    (corpusX, probesX)
  }

  test("guardedSigJoin: hot buckets split to bounded fan-out, planted " +
      "recall stays exactly 1.0") {
    val (corpusX, probesX) = guardFixtures()
    val unguarded = corpusX.join(probesX, Seq("sig")).count()
    val guarded = Similarity.guardedSigJoin(corpusX, "ce", probesX, "qe",
      cap = 32)
    // every probe is an exact copy: identical embedding → identical sig AND
    // identical refinement bits → the original is ALWAYS a candidate
    assert(guarded.filter(col("cid") === col("qid") - 100000L).count() === 60L)
    // refinement splits the 4 hot ~150-occupant buckets ~2^8 ways: the
    // candidate set collapses from occ_c x occ_p per bucket to near-diagonal
    val guardedCount = guarded.count()
    assert(guardedCount < unguarded / 10,
      s"guard did not reduce candidates: $guardedCount vs $unguarded")
    // bounded fan-out pin: no refined corpus bucket exceeds the cap
    val maxOcc = guarded.groupBy(col("sig"), col("sub"))
      .agg(countDistinct(col("cid")).as("occ"))
      .agg(max(col("occ"))).head().getLong(0)
    assert(maxOcc <= 32, s"refined bucket occupancy $maxOcc exceeds cap")
  }

  test("guardedSigJoin: with no hot buckets it is exactly the plain sig join") {
    val (corpusX, probesX) = guardFixtures()
    val plain = corpusX.join(probesX, Seq("sig"))
      .select(col("qid"), col("cid")).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val guarded = Similarity.guardedSigJoin(corpusX, "ce", probesX, "qe",
      cap = 100000)
      .select(col("qid"), col("cid")).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(guarded.toSeq === plain.toSeq)
  }

  test("guardedSigJoin: refinement width scales with observed occupancy " +
      "and holds the refined fan-out near the cap at any depth") {
    // one constant coarse bucket, 600 diverse embeddings: occ/cap is the
    // only dial. rbits = ceilLog2(ceil(occ/cap)) + 2, so cap=64 splits
    // ~2^6 ways while cap=4 splits ~2^10 — the fixed-8 width would leave
    // the deep case 2^...x over and over-split the shallow one.
    val corpus = Seq.tabulate(600) { i =>
      val rnd = new scala.util.Random(i * 7919 + 13)
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f))
    }.toDF("cid", "ce")
    val cX = corpus.select(lit(0L).as("sig"), col("cid"), col("ce"))
    val pX = cX.select(col("sig"), col("cid").as("qid"), col("ce").as("qe"))
    for (cap <- Seq(4, 64)) {
      val guarded = Similarity.guardedSigJoin(cX, "ce", pX, "qe", cap = cap)
      // identical-copy recall first: every self pair survives refinement
      assert(guarded.filter(col("cid") === col("qid")).count() === 600L)
      val maxOcc = guarded.groupBy(col("sig"), col("sub"))
        .agg(countDistinct(col("cid")).as("occ"))
        .agg(max(col("occ"))).head().getLong(0)
      // expected refined occupancy ≈ cap/4 (the +2 slack bits); allow the
      // Poisson tail but pin the order of magnitude
      assert(maxOcc <= cap * 2L,
        s"cap=$cap: refined occupancy $maxOcc not held near the cap")
    }
  }

  test("guardedSigJoin: bounded hot list refines the hottest keys and " +
      "degrades overflow keys to a candidate superset (recall-safe)") {
    val (corpusX, probesX) = guardFixtures()
    val plain = corpusX.join(probesX, Seq("sig")).count()
    val full = Similarity.guardedSigJoin(corpusX, "ce", probesX, "qe",
      cap = 32).count()
    // maxHotKeys=0: every hot key overflows -> exactly the plain sig join
    val none = Similarity.guardedSigJoin(corpusX, "ce", probesX, "qe",
      cap = 32, maxHotKeys = 0)
    assert(none.count() === plain)
    // maxHotKeys=1: only the hottest bucket refines -> strictly between
    val one = Similarity.guardedSigJoin(corpusX, "ce", probesX, "qe",
      cap = 32, maxHotKeys = 1)
    val oneCount = one.count()
    assert(oneCount < plain && oneCount > full,
      s"expected full=$full < one=$oneCount < plain=$plain")
    // recall is monotone in the degradation: all planted copies survive
    assert(one.filter(col("cid") === col("qid") - 100000L).count() === 60L)
  }

  test("index parameters derive from the BASE corpus count (q100/q111/" +
      "q138/q139/q140 wiring): sf0.01 -> 5 planes, k=23, 8-bit bands") {
    // the wiring contract, not the formula (IndexParamsSpec owns that):
    // the planted queries run their count-derived parameters end-to-end
    // and the planted argument holds at whatever the formulas return —
    // checked by the planted tests above; here pin the derivation inputs
    // so a silent count regression (filtered/planted corpus passed where
    // the base corpus was meant) surfaces loudly. r13 convention: EVERY
    // derivation site — retrieval (q138/q139) and dedup (q100/q111/q140)
    // alike — measures the base relation, never the planted union (whose
    // count is base + base/every and would shift thresholds invisibly).
    val n = Tables.embeddings(spark, Sf001).count()
    assert(n === 500L)
    assert(graft.sim.IndexParams.lshPlanes(n) === 5)
    assert(graft.sim.IndexParams.ivfK(n) === 23)
    val nDocs = Tables.documents(spark, Sf001).count()
    assert(nDocs === 500L)
    assert(graft.sim.IndexParams.simhashBandBits(nDocs) === 8)
    // the planted union the dedup queries used to (wrongly) measure gives
    // a DIFFERENT parameter at this very corpus — the convention is
    // load-bearing, not cosmetic (outputs stay invariant by the planted
    // argument, but thresholds would shift invisibly)
    assert(graft.sim.IndexParams.lshPlanes(n + n / 7) === 6)
  }

  test("intra-batch tier is digest-grain: a 10k-identical group yields " +
      "LINEAR candidates (n-1, each against the class minimum), not the " +
      "~4e8-row quadratic pair join") {
    Similarity.ensureRegistered(spark)
    val x = Tables.embeddings(spark, Sf001).orderBy(col("vec_id")).head()
    val emb = x.getSeq[Float](x.fieldIndex("embedding"))
    val n = 10000
    val clean = spark.range(n).select(col("id").as("vec_id"),
      typedlit(emb.toIndexedSeq).as("embedding"))
    val got = Similarity.intraBatchDupCandidates(clean, planes = 5,
      tables = 4, theta = 0.75).collect()
    assert(got.length === n - 1)
    got.foreach { r =>
      assert(r.getAs[Long]("cand_id") === 0L, r)
      assert(r.getAs[Double]("sim_raw") > 0.999999, r)
    }
  }

  test("digest-grain intra-batch candidates reproduce the raw pair join's " +
      "greedy decisions bit-for-bit on a mixed copies+novel batch") {
    import org.apache.spark.sql.expressions.Window
    Similarity.ensureRegistered(spark)
    val planes = 5; val tables = 4; val theta = 0.75
    val e = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    // two generations of copies under shifted ids: classes of size up to
    // 3 with interleaved id order across classes
    val batch = e
      .unionByName(e.filter(col("vec_id") % 3 === 0)
        .select((col("vec_id") + 1000L).as("vec_id"), col("embedding")))
      .unionByName(e.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 2000L).as("vec_id"), col("embedding")))
    // reference: the pre-r15 raw pair self-join over the whole batch —
    // bit-identical by the class argument (members carry their rep's
    // exact signature set and float array)
    val signed = Similarity.indexedRelation(batch, planes, tables)
    val rawPairs = signed
      .select(col("sig"), col("vec_id").as("i"), col("embedding").as("ei"))
      .join(signed.select(col("sig"), col("vec_id").as("j"),
        col("embedding").as("ej")), Seq("sig"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"),
        Similarity.cosine(col("ei"), col("ej")).as("sim_raw"))
      .distinct()
      .filter(col("sim_raw") >= lit(theta))
    val wRef = Window.partitionBy(col("j")).orderBy(col("i"))
    val ref = rawPairs.withColumn("rn", row_number().over(wRef))
      .filter(col("rn") === 1)
      .select(col("j").as("vec_id"), col("i").as("dup_of"), col("sim_raw"))
      .collect().map(_.toSeq).toSet
    val wNew = Window.partitionBy(col("vec_id")).orderBy(col("cand_id"))
    val got = Similarity.intraBatchDupCandidates(batch, planes, tables, theta)
      .withColumn("rn", row_number().over(wNew)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cand_id").as("dup_of"), col("sim_raw"))
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty)
    assert(got === ref)
  }

  test("q154 SQ8-IVF layout: planted retrieval exact; index stores tinyint " +
      "codes only (<0.6x the float layout); candidate scan partition-prunes") {
    checkPlantedRetrieval(Similarity.q154SqIvfProbe(spark, Sf001),
      modulus = 139, offset = 19000000L)
    // reuse path: frozen centroids + codebook survive re-invocation
    checkPlantedRetrieval(Similarity.q154SqIvfProbe(spark, Sf001),
      modulus = 139, offset = 19000000L)
    val k = graft.sim.IndexParams.ivfK(Tables.embeddings(spark, Sf001).count())
    val sqDir = Similarity.sqIvfLayoutDir(Sf001, k)
    // physical claim 1: the assigned files carry codes, never float vectors
    val schema = spark.read.parquet(s"$sqDir/assigned").schema
    assert(schema.fieldNames.toSet === Set("vec_id", "qcode", "cid"), schema)
    assert(schema("qcode").dataType.simpleString === "array<tinyint>", schema)
    // physical claim 2: quantized partitions are well under the float
    // layout's bytes (q143's assigned dir, same corpus and clustering)
    def dirBytes(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
    Similarity.q143IvfPartitionedProbe(spark, Sf001).collect()
    val floatDir = Similarity.ivfBaseLayoutDir(Sf001, k)
    val (sqB, fB) = (dirBytes(s"$sqDir/assigned"), dirBytes(s"$floatDir/assigned"))
    assert(sqB < (fB * 6) / 10, s"SQ-IVF $sqB bytes vs float $fB")
    // physical claim 3: the candidate stage reads only the wanted cid
    // partitions (PartitionFilters on the partition column)
    val probes = Tables.embeddings(spark, Sf001)
      .filter(col("vec_id") % 139 === 0)
      .select((col("vec_id") + 19000000L).as("qid"), col("embedding"))
    val p = Similarity.sqIvfCandidates(spark, sqDir, probes, nprobe = 2,
      topR = 8).queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [cid"), p.take(3000))
  }

  test("q156 quantized IVF append: base AND frozen-codebook appended delta " +
      "retrieve their originals through pruned quantized partitions") {
    val rows = Similarity.q156SqIvfAppendProbe(spark, Sf001).collect()
    assert(rows.length === 8, rows.mkString("\n"))
    rows.foreach { r =>
      assert(r.getAs[Boolean]("hit"), r.toString)
      assert(r.getAs[Double]("sim") > 0.999999, r.toString)
    }
    // delta probe qids sit at deltaShift + offset = 43M+
    val deltaHits = rows.count(_.getAs[Long]("qid") >= 43000000L)
    assert(deltaHits === 4, s"append must serve delta rows, got $deltaHits")
  }

  test("quantizeExpr saturates out-of-codebook values to edge codes " +
      "(frozen-codebook appends); in-range codes match the raw formula") {
    val stats = Array((0.0, 1.0), (0.0, 1.0), (-1.0, 1.0))
    val codes = Seq(Tuple1(Array(-0.5f, 1.7f, 0.25f))).toDF("e")
      .select(Similarity.quantizeExpr(col("e"), stats).as("q"))
      .head().getSeq[Byte](0)
    assert(codes(0) === (-128: Byte)) // below range clamps
    assert(codes(1) === (127: Byte))  // above range clamps
    assert(codes(2) ===
      (math.floor((0.25 - (-1.0)) / 2.0 * 255.0 + 0.5) - 128).toByte)
  }

  test("q157 index deletion: every probe of deleted content flips to its " +
      "surviving copy (never the deleted original), bucket-pruned serving") {
    val rows = Similarity.q157IndexDeleteProbe(spark, Sf001).collect()
    val n = Tables.embeddings(spark, Sf001).count()
    val nDeleted = (n - 1) / 7 + 1
    assert(rows.length.toLong === nDeleted)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("hit"), r.toString)
      // the copy, at cosine ~1 — and provably not the deleted original
      assert(r.getAs[Long]("retrieved_id") >= 24000000L, r.toString)
      assert(r.getAs[Double]("sim") > 0.999999, r.toString)
    }
    val p = Similarity.q157IndexDeleteProbe(spark, Sf001)
      .queryExecution.executedPlan.toString
    assert("SelectedBucketsCount: \\d+ out of \\d+".r.findFirstIn(p).isDefined,
      p.take(3000))
  }

  test("q159 IVF deletion: probes of deleted content flip to surviving " +
      "copies through partition-pruned serving") {
    val rows = Similarity.q159IvfDeleteProbe(spark, Sf001).collect()
    val n = Tables.embeddings(spark, Sf001).count()
    assert(rows.length.toLong === (n - 1) / 7 + 1)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("hit"), r.toString)
      assert(r.getAs[Long]("retrieved_id") >= 26000000L, r.toString)
      assert(r.getAs[Double]("sim") > 0.999999, r.toString)
    }
    val p = Similarity.q159IvfDeleteProbe(spark, Sf001)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [cid"), p.take(3000))
  }

  test("q160 quantized-IVF deletion: probes flip to surviving copies; the " +
      "live candidate stage never emits a deleted id (rescore cannot " +
      "resurrect it)") {
    val rows = Similarity.q160SqIvfDeleteProbe(spark, Sf001).collect()
    val n = Tables.embeddings(spark, Sf001).count()
    assert(rows.length.toLong === (n - 1) / 7 + 1)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("hit"), r.toString)
      assert(r.getAs[Long]("retrieved_id") >= 28000000L, r.toString)
      assert(r.getAs[Double]("sim") > 0.999999, r.toString)
    }
    // structural claim: no deleted id survives the live candidate stage
    val k = graft.sim.IndexParams.ivfK(n)
    val idxDir = System.getProperty("java.io.tmpdir") + "/graft_ivf_sq_del_" +
      graft.ops.Layouts.tag(
        graft.ops.Layouts.fileFp(s"$Sf001/embeddings.parquet"), k.toString,
        graft.ops.Layouts.Version)
    val probes = Tables.embeddings(spark, Sf001)
      .filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 29000000L).as("qid"), col("embedding"))
    val cands = Similarity.sqIvfCandidates(spark, idxDir, probes, nprobe = 2,
      topR = 8, live = true).collect()
    assert(cands.nonEmpty)
    cands.foreach { c =>
      val id = c.getAs[Long]("cid")
      assert(id % 7 != 0 || id >= 28000000L, s"deleted id $id in candidates")
    }
  }

  test("purgeIvfTombstones is partition-scoped and crash-ordered: only " +
      "marked cids rewrite, emptied partitions clear, marks retire last, " +
      "answers identical across the purge, re-purge is a no-op") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    Similarity.ensureRegistered(spark)
    val idxDir = java.nio.file.Files.createTempDirectory("g_purge_ivf")
      .toString + "/layout"
    val e = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    val copies = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    Similarity.ivfCentroids(e, 4, iters = 1).write.parquet(s"$idxDir/centroids")
    val cd = spark.read.parquet(s"$idxDir/centroids")
    Similarity.assignToCentroid(e.unionByName(copies), cd)
      .write.partitionBy("cid").parquet(s"$idxDir/assigned")
    Similarity.tombstoneIvfRows(spark, idxDir, e.filter(col("vec_id") < 10))
    val probes = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 5000L).as("qid"), col("embedding"))
    def serve() = Similarity.probeIvf(spark, idxDir, probes, nprobe = 2, live = true)
      .orderBy(col("qid")).collect()
    val pre = serve()
    pre.foreach { r =>
      assert(r.getAs[Long]("retrieved_id") ===
        r.getAs[Long]("qid") - 5000L + 1000L, r.toString)
    }
    // record untouched partitions' file mtimes: the purge must not
    // rewrite partitions that carry no marks
    val markedCids = spark.read.parquet(s"$idxDir/tombstones")
      .select(col("cid")).distinct().collect()
      .map(_.getAs[Number](0).intValue).toSet
    def partFiles(cid: Int) = {
      val d = new java.io.File(s"$idxDir/assigned/cid=$cid")
      if (d.exists) d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
      else Map.empty[String, Long]
    }
    val untouched = (0 until 4).filterNot(markedCids)
      .map(c => c -> partFiles(c)).toMap
    val (touched, purged) = Similarity.purgeIvfTombstones(spark, idxDir)
    assert(touched === markedCids.size.toLong)
    assert(purged === 10L)
    assert(!new java.io.File(s"$idxDir/tombstones").exists, "marks must retire")
    untouched.foreach { case (c, files) =>
      assert(partFiles(c) === files, s"unmarked partition cid=$c was rewritten")
    }
    // deleted rows are physically gone and answers are unchanged
    assert(spark.read.parquet(s"$idxDir/assigned")
      .filter(col("vec_id") < 10).count() === 0)
    assert(serve().map(_.toSeq).toSeq === pre.map(_.toSeq).toSeq)
    assert(Similarity.purgeIvfTombstones(spark, idxDir) === ((0L, 0L)))
    // emptied-partition clearing: tombstone EVERYTHING in one cid's
    // partition and purge — the dir itself must disappear
    val all = spark.read.parquet(s"$idxDir/assigned")
    val victimCid = all.groupBy(col("cid")).count().orderBy(col("count"))
      .head().getAs[Number](0).intValue
    val victims = all.filter(col("cid") === victimCid)
      .select(col("vec_id"), col("embedding"))
    Similarity.tombstoneIvfRows(spark, idxDir, victims)
    Similarity.purgeIvfTombstones(spark, idxDir)
    assert(!new java.io.File(s"$idxDir/assigned/cid=$victimCid").exists,
      s"emptied partition cid=$victimCid must be deleted explicitly")
  }

  test("tombstone sidecars are scheme-aware: on a file:-URI layout, live " +
      "serving hides deleted rows and the maintenance audit reports the " +
      "purge debt — java.io.File answers absent on the same URI (the r15 " +
      "silent-takedown hole, reproduced and closed)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    Similarity.ensureRegistered(spark)
    val idxDir = "file:" + java.nio.file.Files
      .createTempDirectory("g_uri_ivf").toString + "/layout"
    val e = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    val copies = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    Similarity.ivfCentroids(e, 4, iters = 1).write.parquet(s"$idxDir/centroids")
    val cd = spark.read.parquet(s"$idxDir/centroids")
    Similarity.assignToCentroid(e.unionByName(copies), cd)
      .write.partitionBy("cid").parquet(s"$idxDir/assigned")
    Similarity.tombstoneIvfRows(spark, idxDir, e.filter(col("vec_id") < 10))
    // the trap this spec pins: java.io.File cannot see through the
    // scheme — the old existence check would report "no tombstones"
    // here and KEEP SERVING the deleted rows with no error
    assert(!new java.io.File(s"$idxDir/tombstones").exists)
    assert(graft.ops.Layouts.exists(spark, s"$idxDir/tombstones"))
    val probes = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 5000L).as("qid"), col("embedding"))
    val served = Similarity.probeIvf(spark, idxDir, probes, nprobe = 2, live = true)
      .collect()
    assert(served.length === 10)
    served.foreach { r =>
      assert(r.getAs[Long]("retrieved_id") ===
        r.getAs[Long]("qid") - 5000L + 1000L, r.toString)
    }
    // the q155 facts gatherer sees the debt through the same scheme, so
    // the purge schedules; purging through the URI retires it
    assert(graft.ops.Maintenance.sidecarTombstones(spark, idxDir) > 0L)
    val (touched, purged) = Similarity.purgeIvfTombstones(spark, idxDir)
    assert(touched > 0L && purged === 10L)
    assert(graft.ops.Maintenance.sidecarTombstones(spark, idxDir) === 0L)
  }

  test("rebuildIvfLayout honors deletion debt by exclusion: the rebuilt " +
      "layout serves WITHOUT the tombstoned rows and starts mark-free, " +
      "in both the in-place (rebalance) and new-dir (re-derived k) cases") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    Similarity.ensureRegistered(spark)
    val root = java.nio.file.Files.createTempDirectory("g_rebuild_ivf")
      .toString
    val oldDir = s"$root/layout_k4"
    val e = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    val copies = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    val corpus = e.unionByName(copies)
    Similarity.ivfCentroids(corpus, 4, iters = 1)
      .write.parquet(s"$oldDir/centroids")
    val cd = spark.read.parquet(s"$oldDir/centroids")
    Similarity.assignToCentroid(corpus, cd)
      .write.partitionBy("cid").parquet(s"$oldDir/assigned")
    Similarity.tombstoneIvfRows(spark, oldDir, e.filter(col("vec_id") < 10))
    val probes = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 5000L).as("qid"), col("embedding"))
    // in-place rebalance: same dir, same k — the rebuild IS the purge
    Similarity.rebuildIvfLayout(spark, corpus, oldDir, oldDir, k = 4)
    assert(Similarity.ivfLayoutBuilt(spark, oldDir))
    assert(graft.ops.Maintenance.sidecarTombstones(spark, oldDir) === 0L)
    assert(spark.read.parquet(s"$oldDir/assigned")
      .filter(col("vec_id") < 10).count() === 0)
    // the PLAIN probe (no live view needed) flips every victim probe to
    // its surviving copy
    Similarity.probeIvf(spark, oldDir, probes, nprobe = 2)
      .collect().foreach { r =>
        assert(r.getAs[Long]("retrieved_id") ===
          r.getAs[Long]("qid") - 5000L + 1000L, r.toString)
      }
    // re-derived-k case: fresh marks, new dir, live corpus (the earlier
    // takedowns have propagated upstream — the documented contract)
    Similarity.tombstoneIvfRows(spark, oldDir,
      e.filter(col("vec_id") === 20))
    val corpusLive = corpus.filter(col("vec_id") >= 10)
    val newDir = s"$root/layout_k6"
    Similarity.rebuildIvfLayout(spark, corpusLive, oldDir, newDir, k = 6)
    assert(!graft.ops.Layouts.exists(spark, oldDir), "old layout retired")
    assert(Similarity.ivfLayoutBuilt(spark, newDir))
    assert(graft.ops.Maintenance.sidecarTombstones(spark, newDir) === 0L)
    val ids = spark.read.parquet(s"$newDir/assigned")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(!ids.contains(20L), "fresh mark honored across the k change")
    assert(ids === (10L until 60L).toSet - 20L ++ (1000L until 1010L).toSet)
  }

  test("q163 quantized rebuild: every probe flips to its surviving copy, " +
      "the published layout is mark-free and stores tinyint codes only") {
    val rows = Similarity.q163SqIvfRebuildProbe(spark, Sf001).collect()
    val n = Tables.embeddings(spark, Sf001).count()
    assert(rows.length.toLong === (n - 1) / 7 + 1)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("hit"), r.toString)
      assert(r.getAs[Double]("sim") > 0.999999, r.toString)
    }
    val k = graft.sim.IndexParams.ivfK(n)
    val idxDir = System.getProperty("java.io.tmpdir") + "/graft_ivf_sq_rb_" +
      graft.ops.Layouts.tag(
        graft.ops.Layouts.fileFp(s"$Sf001/embeddings.parquet"), k.toString,
        graft.ops.Layouts.Version)
    assert(Similarity.sqIvfLayoutBuilt(spark, idxDir))
    assert(graft.ops.Maintenance.sidecarTombstones(spark, idxDir) === 0L,
      "the rebuild IS the purge — it must publish mark-free")
    assert(!graft.ops.Layouts.exists(spark, s"$idxDir.pre"),
      "the pre-rebuild generation must be retired")
    val assigned = spark.read.parquet(s"$idxDir/assigned")
    assert(assigned.schema("qcode").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = true))
    assert(assigned.filter(col("vec_id") % 7 === 0
      && col("vec_id") < 34000000L).count() === 0,
      "no deleted original survives the rebuild")
  }

  test("rebuildIvfLayout finishes a mid-publish crash (live absent, " +
      "staging complete — also the LEGACY pre-rename-aside husk state) " +
      "by publishing the staging, never rebuilding — and an " +
      "out-of-contract husk sidecar is preserved aside then immediately " +
      "RE-KEYED against the published layout (its dead-centroid routing " +
      "is never consumed as-is)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    Similarity.ensureRegistered(spark)
    val root = java.nio.file.Files.createTempDirectory("g_rb_resume")
      .toString
    val idxDir = s"$root/layout"
    val e = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    // the crash state: a COMPLETE staging copy that already honored the
    // takedown of vec_id < 10, and NO live layout (deleted pre-rename);
    // the corpus still carries the victims — a fresh rebuild would
    // resurrect them, which is exactly what the resume must not do
    val staging = s"$idxDir.build"
    val survivors = e.filter(col("vec_id") >= 10)
    Similarity.ivfCentroids(survivors, 4, iters = 1)
      .write.parquet(s"$staging/centroids")
    Similarity.assignToCentroid(survivors,
        spark.read.parquet(s"$staging/centroids"))
      .write.partitionBy("cid").parquet(s"$staging/assigned")
    // an OUT-OF-CONTRACT sidecar appears in the husk (the API cannot
    // land one — tombstoneIvfRows fails loudly on the husk's missing
    // centroids): its (cid, vec_id) routing is keyed to the dead
    // centroids, so consuming it under the new layout would be silently
    // ineffective — the resume must preserve it aside instead
    Similarity.tombstoneIvfRows(spark, staging,
      e.filter(col("vec_id") === 20))
    val huskMark = spark.read.parquet(s"$staging/tombstones")
    huskMark.write.parquet(s"$idxDir/tombstones")
    graft.ops.Layouts.delete(spark, s"$staging/tombstones")
    // the retry: must rename, not rebuild
    Similarity.rebuildIvfLayout(spark, e, idxDir, idxDir, k = 4)
    assert(Similarity.ivfLayoutBuilt(spark, idxDir))
    assert(!graft.ops.Layouts.exists(spark, staging))
    val ids = spark.read.parquet(s"$idxDir/assigned")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(ids === (10L until 60L).toSet,
      "resume must publish the mark-honoring staging copy, never rebuild " +
        "from the corpus (which would resurrect vec_id < 10)")
    // the orphaned marks are preserved aside and immediately RE-KEYED
    // against the published layout (r17: the resume runs the reissue
    // itself instead of leaving schedule debt — the live sidecar can
    // hold VALID marks landed after the crash, and an unbounded wait on
    // an operator would serve those victims): vec 20 survives in the
    // published layout, so its re-keyed mark must hide it NOW, under the
    // live routing, and the orphan slot must be retired
    assert(Similarity.orphanedTombstoneSlots(spark, idxDir) === 0L)
    assert(graft.ops.Maintenance.sidecarTombstones(spark, idxDir) === 1L)
    val mark = spark.read.parquet(s"$idxDir/tombstones").collect()(0)
    assert(mark.getAs[Long]("vec_id") === 20L)
    val liveCid = spark.read.parquet(s"$idxDir/assigned")
      .filter(col("vec_id") === 20L).select(col("cid")).collect()(0)
      .getAs[Number](0).longValue
    assert(mark.getAs[Long]("cid") === liveCid,
      "the re-keyed mark must carry the LIVE layout's routing")
    // ...and a later rebuild consumes the re-keyed mark by exclusion
    Similarity.rebuildIvfLayout(spark, e.filter(col("vec_id") >= 10),
      idxDir, idxDir, k = 4)
    assert(spark.read.parquet(s"$idxDir/assigned")
      .filter(col("vec_id") === 20L).count() === 0L)
    assert(graft.ops.Maintenance.sidecarTombstones(spark, idxDir) === 0L)
  }

  test("in-place rebuild with an INTACT live layout: the live dir is " +
      "authoritative — a stale complete staging (crash before the retire) " +
      "is discarded and the fresh rebuild honors every live-sidecar mark, " +
      "including a takedown landed between the crash and the retry") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    Similarity.ensureRegistered(spark)
    val root = java.nio.file.Files.createTempDirectory("g_rb_intact")
      .toString
    val idxDir = s"$root/layout"
    val e = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    // crash state: staging complete, live layout STILL FULLY INTACT —
    // the crash fell BEFORE the retire rename, so the live dir (which
    // holds the marks the crashed build had honored, still un-retired)
    // is the only authoritative copy
    Similarity.ivfCentroids(e, 4, iters = 1)
      .write.parquet(s"$idxDir/centroids")
    Similarity.assignToCentroid(e,
        spark.read.parquet(s"$idxDir/centroids"))
      .write.partitionBy("cid").parquet(s"$idxDir/assigned")
    Similarity.tombstoneIvfRows(spark, idxDir,
      e.filter(col("vec_id") < 10))
    val staging = s"$idxDir.build"
    val survivors = e.filter(col("vec_id") >= 10)
    Similarity.ivfCentroids(survivors, 4, iters = 1)
      .write.parquet(s"$staging/centroids")
    Similarity.assignToCentroid(survivors,
        spark.read.parquet(s"$staging/centroids"))
      .write.partitionBy("cid").parquet(s"$staging/assigned")
    // a LEGAL takedown lands against the intact live layout while the
    // rebuild is down — the stale staging predates it; publishing the
    // staging would serve this victim (the pre-r17 hazard)
    Similarity.tombstoneIvfRows(spark, idxDir,
      e.filter(col("vec_id") === 30))
    // the retry DISCARDS the stale staging and rebuilds fresh from the
    // live corpus minus the live sidecar — both the crashed attempt's
    // marks and the post-crash takedown are honored physically
    Similarity.rebuildIvfLayout(spark, e, idxDir, idxDir, k = 4)
    val ids = spark.read.parquet(s"$idxDir/assigned")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(ids === (10L until 60L).toSet - 30L)
    assert(Similarity.orphanedTombstoneSlots(spark, idxDir) === 0L)
    assert(graft.ops.Maintenance.sidecarTombstones(spark, idxDir) === 0L,
      "honored-by-exclusion marks retire with the rebuild")
    assert(!graft.ops.Layouts.exists(spark, staging),
      "the stale staging must not survive the fresh rebuild")
    assert(!graft.ops.Layouts.exists(spark, s"$idxDir.retiring"),
      "the retired copy is drained after the publish")
  }

  test("the in-place retire is a RENAME-ASIDE, so the ambiguous " +
      "mid-delete husk state is unreachable: a crash between the retire " +
      "and the publish leaves live ABSENT + .retiring present, the retry " +
      "finishes the publish with the retired sidecar re-keyed; a crash " +
      "after the publish drains the retired copy on the next call") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    Similarity.ensureRegistered(spark)
    val root = java.nio.file.Files.createTempDirectory("g_rb_retiring")
      .toString
    val idxDir = s"$root/layout"
    val e = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    // WINDOW A: the old layout (marks vec_id < 10 read by the build) was
    // renamed to .retiring, the staging (which honored them) is complete,
    // and the crash fell before the publish rename
    Similarity.ivfCentroids(e, 4, iters = 1)
      .write.parquet(s"$idxDir/centroids")
    Similarity.assignToCentroid(e,
        spark.read.parquet(s"$idxDir/centroids"))
      .write.partitionBy("cid").parquet(s"$idxDir/assigned")
    Similarity.tombstoneIvfRows(spark, idxDir, e.filter(col("vec_id") < 10))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(idxDir),
      new org.apache.hadoop.fs.Path(s"$idxDir.retiring")))
    val staging = s"$idxDir.build"
    val survivors = e.filter(col("vec_id") >= 10)
    Similarity.ivfCentroids(survivors, 4, iters = 1)
      .write.parquet(s"$staging/centroids")
    Similarity.assignToCentroid(survivors,
        spark.read.parquet(s"$staging/centroids"))
      .write.partitionBy("cid").parquet(s"$staging/assigned")
    // the retry: finishes the publish — the staging is the only complete
    // copy; the retired sidecar's marks re-key against it (a no-op here:
    // their rows were honored by exclusion) and the retired copy drains
    Similarity.rebuildIvfLayout(spark, e, idxDir, idxDir, k = 4)
    assert(Similarity.ivfLayoutBuilt(spark, idxDir))
    assert(!graft.ops.Layouts.exists(spark, staging))
    assert(!graft.ops.Layouts.exists(spark, s"$idxDir.retiring"))
    val ids = spark.read.parquet(s"$idxDir/assigned")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(ids === (10L until 60L).toSet,
      "the staging copy remembers the honored marks — a corpus rebuild " +
        "would resurrect vec_id < 10")
    assert(Similarity.orphanedTombstoneSlots(spark, idxDir) === 0L)
    assert(graft.ops.Maintenance.sidecarTombstones(spark, idxDir) === 0L)
    // WINDOW B: a crash after the publish leaves only the retired copy —
    // plant one (with a stale already-honored mark inside) and ask for a
    // fresh rebuild: the entry drains it, then rebuilds from live
    spark.read.parquet(s"$idxDir/assigned")
      .write.partitionBy("cid").parquet(s"$idxDir.retiring/assigned")
    spark.read.parquet(s"$idxDir/centroids")
      .write.parquet(s"$idxDir.retiring/centroids")
    Similarity.tombstoneIvfRows(spark, s"$idxDir.retiring",
      e.filter(col("vec_id") === 5)) // vec 5 already purged from live
    Similarity.rebuildIvfLayout(spark, survivors, idxDir, idxDir, k = 4)
    assert(!graft.ops.Layouts.exists(spark, s"$idxDir.retiring"))
    assert(Similarity.orphanedTombstoneSlots(spark, idxDir) === 0L)
    assert(spark.read.parquet(s"$idxDir/assigned")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet ===
      (10L until 60L).toSet)
  }

  test("ensure never undoes a crashed in-place rebuild: with live ABSENT, " +
      "the mark-honoring staging complete and the marks only in " +
      ".retiring, ensureIvfLayout and ensureSqIvfLayout resume the " +
      "publish instead of rebuilding from the corpus") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    Similarity.ensureRegistered(spark)
    val corpusDir = java.nio.file.Files.createTempDirectory("g_ensure_resume")
      .toString
    val e = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    e.write.parquet(s"$corpusDir/embeddings.parquet")
    val k = graft.sim.IndexParams.ivfK(60L)
    val fs = new org.apache.hadoop.fs.Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def layout(target: String, rows: org.apache.spark.sql.DataFrame,
               sq: Boolean): Unit = {
      Similarity.ivfCentroids(rows, k, iters = 1)
        .write.parquet(s"$target/centroids")
      val assigned = Similarity.assignToCentroid(rows,
        spark.read.parquet(s"$target/centroids"))
      if (!sq) assigned.write.partitionBy("cid").parquet(s"$target/assigned")
      else {
        Similarity.writeSqStats(rows, s"$target/stats")
        val stats = Similarity.sqStatsLocal(spark, s"$target/stats")
        assigned.select(col("vec_id"),
            Similarity.quantizeExpr(col("embedding"), stats).as("qcode"),
            col("cid"))
          .write.partitionBy("cid").parquet(s"$target/assigned")
      }
    }
    Seq((Similarity.ivfBaseLayoutDir(corpusDir, k), false,
        () => Similarity.ensureIvfLayout(spark, corpusDir)),
      (Similarity.sqIvfLayoutDir(corpusDir, k), true,
        () => Similarity.ensureSqIvfLayout(spark, corpusDir))).foreach {
      case (idxDir, sq, ensure) =>
        try {
          // the crash state: the old layout (victims vec_id < 10 marked)
          // renamed to .retiring, the staging that honored them complete,
          // the crash before the publish rename
          layout(idxDir, e, sq)
          Similarity.tombstoneIvfRows(spark, idxDir, e.filter(col("vec_id") < 10))
          assert(fs.rename(new org.apache.hadoop.fs.Path(idxDir),
            new org.apache.hadoop.fs.Path(s"$idxDir.retiring")))
          layout(s"$idxDir.build", e.filter(col("vec_id") >= 10), sq)
          assert(ensure()._1 === idxDir)
          val ids = spark.read.parquet(s"$idxDir/assigned")
            .select(col("vec_id")).collect().map(_.getLong(0)).toSet
          assert(ids === (10L until 60L).toSet,
            s"sq=$sq: the ensure must publish the mark-honoring staging, " +
              "never rebuild from the corpus (which serves vec_id < 10)")
          assert(!graft.ops.Layouts.exists(spark, s"$idxDir.build"))
          assert(!graft.ops.Layouts.exists(spark, s"$idxDir.retiring"))
          assert(Similarity.orphanedTombstoneSlots(spark, idxDir) === 0L)
        } finally Seq(idxDir, s"$idxDir.build", s"$idxDir.retiring",
          s"${idxDir}_orphaned_tombstones")
          .foreach(graft.ops.Layouts.delete(spark, _))
    }
  }

  test("a crash inside an ensure's multi-step build is rebuilt on retry, " +
      "never published: the retried layout carries the delta append and " +
      "the takedown marks (both flavors)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    Similarity.ensureRegistered(spark)
    val root = java.nio.file.Files.createTempDirectory("g_ensure_crash")
      .toString
    val e = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    val victims = e.filter(col("vec_id") % 7 === 0)
    val copies = victims.select((col("vec_id") + 1000L).as("vec_id"),
      col("embedding"))
    val k = graft.sim.IndexParams.ivfK(60L)
    Seq(Similarity.FloatIvf, Similarity.SqIvf).foreach { flavor =>
      val idxDir = s"$root/layout_sq_${flavor.quantized}"
      def base(t: String): Unit = Similarity.buildIvf(spark, flavor, e, t, k)(e)
      // the q159 crash point (base and copies landed, originals not yet
      // marked) leaves a staging that already passes `built`, as q146's
      // (base landed, delta not yet appended) does
      intercept[RuntimeException](Similarity.ensureIvf(spark, flavor, idxDir) {
        t => base(t); Similarity.appendIvf(spark, flavor, t, copies)
          sys.error("crash before the marks")
      })
      assert(!flavor.built(spark, idxDir))
      Similarity.ensureIvf(spark, flavor, idxDir) { t =>
        base(t)
        Similarity.appendIvf(spark, flavor, t, copies)
        Similarity.tombstoneIvfRows(spark, t, victims)
      }
      def ids(sub: String) = spark.read.parquet(s"$idxDir/$sub")
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      val victimIds = (0L until 60L by 7L).toSet
      assert(ids("assigned") === (0L until 60L).toSet ++ victimIds.map(_ + 1000L),
        s"quantized=${flavor.quantized}: the retry must rebuild, never " +
          "publish the crashed attempt's staging")
      assert(ids("tombstones") === victimIds,
        s"quantized=${flavor.quantized}: the retry must land the marks")
      assert(!graft.ops.Layouts.exists(spark, s"$idxDir.ensure"))
    }
    graft.ops.Layouts.delete(spark, root)
  }

  test("cross-dir retire is rename-aside too: a crash between the " +
      "publish and the drain is finished on retry — retired sidecar " +
      "re-keyed against the published layout, no rebuild, no loud fail") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    Similarity.ensureRegistered(spark)
    val root = java.nio.file.Files.createTempDirectory("g_rb_xdir")
      .toString
    val oldDir = s"$root/layout_k4"
    val newDir = s"$root/layout_k8"
    val e = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    // crash state: the new dir is published (survivors only), the old
    // dir was renamed aside with its honored sidecar, the drain died
    val survivors = e.filter(col("vec_id") >= 10)
    Similarity.ivfCentroids(survivors, 8, iters = 1)
      .write.parquet(s"$newDir/centroids")
    Similarity.assignToCentroid(survivors,
        spark.read.parquet(s"$newDir/centroids"))
      .write.partitionBy("cid").parquet(s"$newDir/assigned")
    Similarity.ivfCentroids(e, 4, iters = 1)
      .write.parquet(s"$oldDir.retiring/centroids")
    Similarity.assignToCentroid(e,
        spark.read.parquet(s"$oldDir.retiring/centroids"))
      .write.partitionBy("cid").parquet(s"$oldDir.retiring/assigned")
    Similarity.tombstoneIvfRows(spark, s"$oldDir.retiring",
      e.filter(col("vec_id") < 10))
    // the retry: must finish the drain, not throw on built(oldDir)=false
    // and not rebuild the published layout
    Similarity.rebuildIvfLayout(spark, e, oldDir, newDir, k = 8)
    assert(!graft.ops.Layouts.exists(spark, s"$oldDir.retiring"))
    assert(Similarity.orphanedTombstoneSlots(spark, newDir) === 0L)
    assert(spark.read.parquet(s"$newDir/assigned")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet ===
      (10L until 60L).toSet,
      "the published layout must be left as-is (honored marks excluded)")
    // second window: crash AFTER the publish but BEFORE the old retire —
    // both dirs built; the deployment routed a takedown (vec 30) to the
    // PUBLISHED target in the interim. The retry replaces the target,
    // but that mark must never ride the delete: it re-keys against the
    // re-published layout
    val oldDir2 = s"$root/layout_k4b"
    Similarity.ivfCentroids(e, 4, iters = 1)
      .write.parquet(s"$oldDir2/centroids")
    Similarity.assignToCentroid(e,
        spark.read.parquet(s"$oldDir2/centroids"))
      .write.partitionBy("cid").parquet(s"$oldDir2/assigned")
    Similarity.tombstoneIvfRows(spark, oldDir2,
      e.filter(col("vec_id") < 10))
    Similarity.tombstoneIvfRows(spark, newDir,
      e.filter(col("vec_id") === 30))
    Similarity.rebuildIvfLayout(spark, e, oldDir2, newDir, k = 8)
    assert(Similarity.orphanedTombstoneSlots(spark, newDir) === 0L)
    val marks2 = spark.read.parquet(s"$newDir/tombstones")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    assert(marks2 === Seq(30L),
      "the interim takedown on the published target must survive the " +
        s"replace: $marks2")
    assert(!graft.ops.Layouts.exists(spark, oldDir2))
  }

  test("hasParquetData classifies sidecars like Spark's reader: nested " +
      "(partitioned) data counts, a _SUCCESS-only husk does not, and a " +
      "crashed write's _temporary debris does not (counting it would " +
      "wedge every guarded reader on an unreadable dir)") {
    import graft.ops.Layouts
    val root = java.nio.file.Files.createTempDirectory("g_haspq").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def touch(p: String): Unit = {
      fs.mkdirs(new org.apache.hadoop.fs.Path(p).getParent)
      fs.create(new org.apache.hadoop.fs.Path(p), true).close()
    }
    assert(!Layouts.hasParquetData(spark, s"$root/absent"))
    touch(s"$root/husk/_SUCCESS")
    assert(!Layouts.hasParquetData(spark, s"$root/husk"))
    // crashed FIRST write: only uncommitted task files under _temporary
    touch(s"$root/crashed/_temporary/0/task_0/part-0.snappy.parquet")
    assert(!Layouts.hasParquetData(spark, s"$root/crashed"))
    // flat data and nested (partition-level) data both count; the top
    // path itself may be _-prefixed (the epoch sidecar is)
    touch(s"$root/flat/part-0.parquet")
    assert(Layouts.hasParquetData(spark, s"$root/flat"))
    touch(s"$root/_nested/cid=3/part-0.parquet")
    assert(Layouts.hasParquetData(spark, s"$root/_nested"))
  }

  test("a pending orphan slot alone is NOT cross-dir drain evidence: a " +
      "mistyped oldIdxDir fails LOUD even when an unrelated crash left " +
      "slots beside the published target; the retire MARKER naming the " +
      "old dir converges quietly") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    Similarity.ensureRegistered(spark)
    val root = java.nio.file.Files.createTempDirectory("g_rb_evidence")
      .toString
    val newDir = s"$root/layout_k8"
    val e = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 30)
    Similarity.ivfCentroids(e, 8, iters = 1)
      .write.parquet(s"$newDir/centroids")
    Similarity.assignToCentroid(e,
        spark.read.parquet(s"$newDir/centroids"))
      .write.partitionBy("cid").parquet(s"$newDir/assigned")
    // unrelated debt from an earlier crashed in-place rebuild
    Seq((999L, 3L)).toDF("cid", "vec_id")
      .write.parquet(s"${newDir}_orphaned_tombstones/0")
    val ex = intercept[RuntimeException] {
      Similarity.rebuildIvfLayout(spark, e, s"$root/typo_dir", newDir, k = 8)
    }
    assert(ex.getMessage.contains("not a complete layout"), ex.getMessage)
    assert(Similarity.orphanedTombstoneSlots(spark, newDir) === 1L,
      "the loud path must not consume the unrelated slots")
    // the marker state (old drained, retiring gone, reissue pending):
    // converges quietly, re-keys the slots, retires the marker
    val oldDir = s"$root/layout_k4_drained"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = s"$newDir.retiring_from"
    graft.ops.Layouts.writeMarkerFile(spark, marker, oldDir)
    Similarity.rebuildIvfLayout(spark, e, oldDir, newDir, k = 8)
    // raw existence, not readMarkerFile (which also maps a lingering
    // BLANK file to None): retirement means the file is gone
    assert(!fs.exists(new org.apache.hadoop.fs.Path(marker)),
      "a finished drain retires its marker")
    assert(Similarity.orphanedTombstoneSlots(spark, newDir) === 0L)
    // the pending slot was re-keyed into a live mark for vec 3
    val marks = spark.read.parquet(s"$newDir/tombstones")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    assert(marks === Seq(3L), marks.toString)
    // STALE marker invalidation, pinned through the crash window it
    // exists for: a marker naming a still-BUILT old dir (the retire it
    // announces never began) must be deleted at ENTRY — so when the
    // rebuild then dies mid-build and the old dir is later lost
    // unmanaged, the next attempt hits the LOUD require instead of
    // silently converging on the stale evidence (blessed lost
    // takedowns). The failing corpus throws only at build time, AFTER
    // the entry invalidation ran.
    val oldBuilt = s"$root/layout_k4_built"
    Similarity.ivfCentroids(e, 4, iters = 1)
      .write.parquet(s"$oldBuilt/centroids")
    Similarity.assignToCentroid(e,
        spark.read.parquet(s"$oldBuilt/centroids"))
      .write.partitionBy("cid").parquet(s"$oldBuilt/assigned")
    Similarity.tombstoneIvfRows(spark, oldBuilt,
      e.filter(col("vec_id") === 7))
    graft.ops.Layouts.writeMarkerFile(spark, marker, oldBuilt)
    // assert_true throws at EXECUTION (first action inside the build
    // step), never at plan time — the entry invalidation runs first
    val failingCorpus = e.filter(expr("assert_true(vec_id < 0) IS NULL"))
    intercept[Exception] {
      Similarity.rebuildIvfLayout(spark, failingCorpus, oldBuilt, newDir,
        k = 8)
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(marker)),
      "entry must invalidate a marker naming a still-built old dir " +
        "BEFORE any rebuild work, so a mid-build crash leaves no stale " +
        "evidence behind")
    // the old dir is then lost unmanaged: the retry must fail LOUD, not
    // converge on evidence the invalidation just retired
    graft.ops.Layouts.delete(spark, oldBuilt)
    val ex2 = intercept[RuntimeException] {
      Similarity.rebuildIvfLayout(spark, e, oldBuilt, newDir, k = 8)
    }
    assert(ex2.getMessage.contains("not a complete layout"), ex2.getMessage)
  }

  test("empty-sidecar guards: an empty victims frame lands no sidecar, " +
      "and a legacy empty orphan slot retires quietly instead of wedging " +
      "the reissue tool forever") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    Similarity.ensureRegistered(spark)
    val root = java.nio.file.Files.createTempDirectory("g_rb_empty")
      .toString
    val idxDir = s"$root/layout"
    val e = Tables.embeddings(spark, Sf001)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 20)
    Similarity.ivfCentroids(e, 4, iters = 1)
      .write.parquet(s"$idxDir/centroids")
    Similarity.assignToCentroid(e,
        spark.read.parquet(s"$idxDir/centroids"))
      .write.partitionBy("cid").parquet(s"$idxDir/assigned")
    // an empty victims frame must not materialize a schema-less sidecar
    Similarity.tombstoneIvfRows(spark, idxDir, e.filter(col("vec_id") < 0))
    assert(!graft.ops.Layouts.exists(spark, s"$idxDir/tombstones"))
    // a legacy empty slot (only _SUCCESS — an older binary could leave
    // one) retires quietly: reissue returns 0 and the debt disappears
    val slot = new org.apache.hadoop.fs.Path(
      s"${idxDir}_orphaned_tombstones/0")
    val fs = slot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(slot)
    fs.create(new org.apache.hadoop.fs.Path(slot, "_SUCCESS")).close()
    assert(Similarity.orphanedTombstoneSlots(spark, idxDir) === 1L)
    assert(Similarity.reissueOrphanedTombstones(spark, idxDir) === 0L)
    assert(Similarity.orphanedTombstoneSlots(spark, idxDir) === 0L)
  }

  test("localizeProbes: an ingest-scale batch on the literal-IN serving " +
      "path fails loud, naming the distributed gate") {
    Similarity.ensureRegistered(spark)
    val big = spark.range(25001).select(col("id").as("qid"),
      typedlit(Seq(1.0f, 0.5f, -0.25f, 0.125f)).as("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.localizeProbes(spark, big, planes = 8, tables = 4)
    }
    assert(ex.getMessage.contains("dedupGateBatch"), ex.getMessage)
  }
}

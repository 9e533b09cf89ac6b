package graft

import org.apache.spark.sql.functions._
import graft.text.TextOps

class TextOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("q153 ingest funnel: tiers conserve the batch, copies land in " +
      "dup_index, upper-cased plants in quality_reject, dup precedence " +
      "over quality") {
    val rows = TextOps.q153IngestFunnel(spark, Sf001).collect()
    val d = Tables.documents(spark, Sf001)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_batch") ===
        r.getAs[Long]("n_dup_index") + r.getAs[Long]("n_dup_batch") +
        r.getAs[Long]("n_quality_reject") + r.getAs[Long]("n_admitted"), r)
    }
    val shingledCopies = d.filter(col("doc_id") % 13 === 0)
      .filter(size(TextOps.tokens(col("text"))) >= 3).count()
    // >= not ===: a reversal-invariant %17 doc or a letter-free %19 doc
    // would legitimately land its plant in dup_index too
    assert(rows.map(_.getAs[Long]("n_dup_index")).sum >= shingledCopies,
      "every shingled copy must be rejected by the dup tier, " +
        "BEFORE quality gets a say")
    // the upper-cased slice: letters become symbols, so any doc whose
    // letter fraction exceeds the 0.1 cap must land in quality_reject
    val expectReject = d.filter(col("doc_id") % 19 === 0)
      .filter((length(col("text")) -
          length(regexp_replace(upper(col("text")), "[^a-z0-9 ]", ""))) >
        length(col("text")) * 0.1)
      .count()
    assert(expectReject > 0, "fixture must exercise the quality tier")
    assert(rows.map(_.getAs[Long]("n_quality_reject")).sum >= expectReject,
      s"at least the $expectReject symbol-rule violators must be rejected")
  }

  test("q151 text gate: planted copies are exact_dup of their originals, " +
      "token-reversed docs are unique; index side scans bucket-aligned") {
    val df = TextOps.q151TextGateIndex(spark, Sf001)
    val rows = df.collect()
    val d = Tables.documents(spark, Sf001)
    // copies of a SHORT doc (< 3 tokens) have no shingles and stay
    // unique by no-signature — derive the expectation from the data
    val shingled = d.filter(col("doc_id") % 13 === 0)
      .filter(size(TextOps.tokens(col("text"))) >= 3).count()
    val copies = rows.filter(r => r.getAs[Long]("doc_id") < 3000000L)
    val novels = rows.filter(r => r.getAs[Long]("doc_id") >= 3000000L)
    assert(copies.count(_.getAs[String]("status") === "exact_dup") === shingled)
    copies.filter(_.getAs[String]("status") === "exact_dup").foreach { r =>
      // dup_of is the SMALLEST set-equal base doc — at most the original
      assert(r.getAs[Long]("dup_of") <= r.getAs[Long]("doc_id") - 2000000L, r)
    }
    // a reversal-INVARIANT doc (same 3-gram set both directions, e.g.
    // all-identical tokens) would legitimately be exact_dup of its own
    // original — derive the exempt set from the data instead of assuming
    // the regenerated corpus never contains one
    val revInvariant = d.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        TextOps.wordShingles(TextOps.tokens(col("text")), 3).as("a"),
        TextOps.wordShingles(reverse(TextOps.tokens(col("text"))), 3).as("b"))
      .filter(array_sort(array_distinct(col("a"))) ===
        array_sort(array_distinct(col("b"))))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    novels.filterNot(r => revInvariant(r.getAs[Long]("doc_id"))).foreach { r =>
      assert(r.getAs[String]("status") === "unique", r)
      assert(r.isNullAt(r.fieldIndex("dup_of")), r)
    }
    // the gate joins the persisted band index without shuffling it —
    // pinned on the REAL pre-checkpoint index tier (r22: the gate now
    // materializes its signature agg and matches relation, so the final
    // plan no longer contains the index scan; gateMatches over the same
    // q151 inputs IS the subtree the checkpoint executes)
    val (index, batch) = TextOps.q151GateInputs(spark, Sf001)
    val p = TextOps.gateMatches(index, TextOps.docSignatures(batch))
      .queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), p.take(3000))
    assert(!p.contains("Bucketed: false"), p.take(3000))
  }

  test("q158 deletion gate: copies of tombstone-deleted docs re-admit " +
      "(never matched to a deleted doc), copies of surviving docs still " +
      "gate exact_dup") {
    val rows = TextOps.q158TextDeleteGate(spark, Sf001).collect()
    val d = Tables.documents(spark, Sf001)
    val nDel = d.filter(col("doc_id") % 13 === 0).count()
    val nKeep = d.filter(col("doc_id") % 9 === 0).count()
    assert(rows.length.toLong === nDel + nKeep)
    // no decision may ever name a DELETED doc as dup_of
    rows.filter(_.getAs[String]("status") === "exact_dup").foreach { r =>
      assert(r.getAs[Long]("dup_of") % 13 !== 0L, r.toString)
    }
    // copies of surviving, shingled docs still gate exact_dup against the
    // index (dup_of <= the original: the smallest set-equal survivor)
    val survivors = rows.filter(r => r.getAs[Long]("doc_id") >= 5000000L &&
      (r.getAs[Long]("doc_id") - 5000000L) % 13 != 0)
    val shingledSurvivors = d.filter(col("doc_id") % 9 === 0)
      .filter(col("doc_id") % 13 =!= 0)
      .filter(size(TextOps.tokens(col("text"))) >= 3).count()
    assert(survivors.count(_.getAs[String]("status") === "exact_dup")
      === shingledSurvivors)
    survivors.filter(_.getAs[String]("status") === "exact_dup").foreach { r =>
      assert(r.getAs[Long]("dup_of") <= r.getAs[Long]("doc_id") - 5000000L, r)
    }
    // re-admission is visible: deleted docs whose text survives NOWHERE
    // else gate unique — derive the expectation from the data (a deleted
    // doc with a natural set-equal twin at a surviving id legitimately
    // stays exact_dup)
    val deletedCopies = rows.filter(_.getAs[Long]("doc_id") < 5000000L)
    assert(deletedCopies.count(_.getAs[String]("status") === "unique") > 0,
      deletedCopies.take(5).mkString("\n"))
  }

  test("tokens drops empties; wordShingles handles short docs") {
    val df = Seq((1L, "a b  c"), (2L, "x y"), (3L, "")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .withColumn("sh", TextOps.wordShingles(col("t"), 3))
      .orderBy("doc_id").collect()
    assert(out(0).getSeq[String](1) === Seq("a", "b", "c"))
    assert(out(0).getSeq[String](2) === Seq("a b c"))
    assert(out(1).getSeq[String](2) === Seq.empty) // shorter than n
    assert(out(2).getSeq[String](1) === Seq.empty)
  }

  test("jaccardPairs: identical docs have jaccard 1, disjoint docs pair not at all") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5"),
      (2L, "w1 w2 w3 w4 w5"),  // exact dup of 1
      (3L, "z1 z2 z3 z4 z5")   // disjoint
    ).toDF("doc_id", "text")
    val pairs = TextOps.jaccardPairs(df, 3).collect()
    assert(pairs.length === 1)
    val p = pairs.head
    assert(p.getAs[Long]("d1") === 1L && p.getAs[Long]("d2") === 2L)
    assert(p.getAs[Double]("jaccard") === 1.0)
  }

  test("jaccardPairs df-cap bounds hot-shingle pair fan-out, keeps cool pairs exact") {
    // 30 docs all share the hot shingle "h1 h2 h3"; docs 1 and 2 also share
    // a doc-specific tail. Uncapped, the hot shingle alone yields C(30,2)=435
    // candidate pairs; with maxDf=5 it is dropped and only the genuine pair
    // survives — with its denominator still counting ALL its shingles.
    val docs = (1L to 30L).map { i =>
      val tail = if (i <= 2) "t1 t2 t3" else s"u$i v$i w$i"
      (i, s"h1 h2 h3 $tail")
    }.toDF("doc_id", "text")
    val capped = TextOps.jaccardPairs(docs, 3, maxDf = 5).collect()
    assert(capped.length === 1, s"expected only the genuine pair, got ${capped.length}")
    val p = capped.head
    assert(p.getAs[Long]("d1") === 1L && p.getAs[Long]("d2") === 2L)
    // each doc has 4 distinct shingles ("h1 h2 h3","h2 h3 X","h3 X Y","X Y Z");
    // docs 1,2 are identical, so they share all 4 — the hot one is dropped
    // from the JOIN (common=3) but still counts in both denominators (c=4):
    // jaccard = 3 / (4 + 4 - 3) = 0.6, exact under the cap rule
    assert(p.getAs[Long]("common") === 3L)
    assert(math.abs(p.getAs[Double]("jaccard") - 0.6) < 1e-6)
    val uncapped = TextOps.jaccardPairs(docs, 3).collect()
    assert(uncapped.length === 30 * 29 / 2, "uncapped control should pair everything")
  }

  test("bm25: term frequency raises score, document length lowers it, misses rank nothing") {
    val docs = Seq(
      (1L, "q q other other"),              // tf=2, dl=4
      (2L, "q other other other"),          // tf=1, dl=4 → below doc 1
      (3L, "q other other other other other other other"), // tf=1, dl=8 → below doc 2
      (4L, "other other other other")       // no query term → absent
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.q78Bm25Rank(spark, dir, queryTerms = Seq("q"), k = 10)
      .select("doc_id", "score").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L), "rank order")
    val scores = out.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) > scores(2L) && scores(2L) > scores(3L))
  }

  test("pmi: a bigram that always co-occurs scores ln of its lift over independence") {
    // "a b"×5 interleaved + "c"×5: c_xy(a b)=5, c_a=c_b=c_c=5,
    // N_uni=15, N_bi=14 → pmi = ln(5·15·15 / (14·5·5)) ≈ 1.1678.
    // minCount=5 admits only "a b" ("b a" occurs 4×, "c c" 4×).
    val dir = java.nio.file.Files.createTempDirectory("pmi").toString
    Seq((1L, "a b a b a b a b a b c c c c c")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.q84BigramPmi(spark, dir, minCount = 5, k = 10)
      .select("bigram", "c_xy", "pmi").as[(String, Long, Double)].collect()
    assert(out.map(_._1).toSeq === Seq("a b"))
    assert(out.head._2 === 5L)
    assert(math.abs(out.head._3 - math.log(5.0 * 15 * 15 / (14.0 * 5 * 5))) < 1e-4)
  }

  test("tfidf: rare terms outrank common ones; tf scales the score") {
    val dir = java.nio.file.Files.createTempDirectory("tfidf").toString
    Seq((1L, "apple apple banana"), (2L, "banana cherry"),
        (3L, "cherry cherry cherry durian")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val top = TextOps.q85TfidfTop(spark, dir, topn = 2)
      .select("doc_id", "rk", "term").as[(Long, Long, String)].collect()
      .groupBy(_._1).map { case (d, rs) => d -> rs.sortBy(_._2).map(_._3).toSeq }
    // df(apple)=df(durian)=1 < df(banana)=df(cherry)=2 → rare term wins in
    // d1 (helped by tf=2); in d3 tf=3 lifts common cherry above rare durian
    assert(top(1L) === Seq("apple", "banana"))
    // d2: banana and cherry tie exactly (tf=1, df=2) → term-asc tiebreak
    assert(top(2L) === Seq("banana", "cherry"))
    assert(top(3L) === Seq("cherry", "durian"))
  }

  test("minhash: identical shingle sets give identical signatures; LSH recalls exact dups") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "q1 q2 q3 q4 q5 q6")
    ).toDF("doc_id", "text")
    val sig = df.select(col("doc_id"),
        TextOps.minhashSignature(TextOps.wordShingles(TextOps.tokens(col("text")), 3), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(3L))
    assert(sig(1L).length === 16)
  }

  test("simhash: near-dup docs sit close in Hamming space, unrelated docs far") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val nearDup = base.replace("gamma", "gomma")
    val unrelated = "one two three four five six seven eight nine ten " * 5
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val h = df.select(col("doc_id"), TextOps.simhash64(TextOps.tokens(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) <= 12, s"near-dup hamming ${ham(h(1L), h(2L))}")
    assert(ham(h(1L), h(3L)) > 12, s"unrelated hamming ${ham(h(1L), h(3L))}")
    assert(ham(h(1L), h(2L)) < ham(h(1L), h(3L)))
  }

  test("winnowing: near-dup docs share fingerprints, identical docs share all") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val nearDup = base.replace("theta", "thete")
    val df = Seq((1L, base), (2L, base), (3L, nearDup)).toDF("doc_id", "text")
    val fp = df.select(col("doc_id"),
        TextOps.winnowFingerprints(TextOps.tokens(col("text")), 3, 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fp(1L) === fp(2L))
    val overlap = fp(1L).intersect(fp(3L)).size.toDouble / fp(1L).size
    assert(overlap >= 0.3, s"near-dup fingerprint overlap $overlap")
  }

  test("q23 dedup clusters docs equal up to word order") {
    val df = Seq(
      (1L, "alpha beta gamma", "s1"),
      (2L, "gamma beta alpha", "s1"), // same bag of words
      (3L, "delta epsilon zeta", "s1")
    ).toDF("doc_id", "text", "source")
    val key = md5(concat_ws(" ", array_sort(TextOps.tokens(col("text")))))
    val clusters = df.withColumn("k", key).groupBy("k").count().collect()
    assert(clusters.length === 2)
    assert(clusters.map(_.getLong(1)).sorted.toSeq === Seq(1L, 2L))
  }
  test("q91: KL is non-negative and zero for an identically-distributed source") {
    val dir = java.nio.file.Files.createTempDirectory("kl").toString
    // two sources with the same token distribution, one divergent
    Seq(
      (1L, "a a b c", "same1", 7L), (2L, "a b c a", "same1", 7L),
      (3L, "a a b c", "same2", 7L), (4L, "c a b a", "same2", 7L),
      (5L, "z z z z", "other", 7L)
    ).toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.q91TokenKl(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("kl_nats")).toMap
    assert(out.keySet === Set("same1", "same2", "other"))
    out.values.foreach(v => assert(v >= -1e-6, s"negative KL: $v"))
    // same1/same2 match each other but NOT the corpus (which includes
    // 'other'), so their KL is small-positive and equal; 'other' dominates
    assert(out("same1") === out("same2"))
    assert(out("other") > out("same1"))
  }

  test("q96: incremental gate partitions the new batch and catches planted dups") {
    val dir = java.nio.file.Files.createTempDirectory("incdedup").toString
    // corpus: docs 0/1; batch: 400 = exact (reordered words) dup of 0,
    // 401 = near dup of 1 (8/10 shingles shared), 402 = novel
    Seq(
      (0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12", "s1", 1L),
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12", "s1", 1L),
      (400L, "w12 w11 w10 w9 w8 w7 w6 w5 w4 w3 w2 w1", "s1", 1L),
      (401L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 zz zz2", "s1", 1L),
      (402L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12", "s2", 1L)
    ).toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.q96IncrementalDedup(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_new"), r.getAs[Long]("n_exact"),
         r.getAs[Long]("n_near"), r.getAs[Long]("n_unique"))).toMap
    assert(out("s1") === ((2L, 1L, 1L, 0L)))
    assert(out("s2") === ((1L, 0L, 0L, 1L)))
  }

  test("q96 bloom pre-filter: results bitwise identical with the filter on " +
      "and off, and an empty batch yields the same (empty) gate either way") {
    val withBloom = TextOps.q96IncrementalDedup(spark, Sf001, 400L,
      bloomPrefilter = true).collect().toSeq
    val without = TextOps.q96IncrementalDedup(spark, Sf001, 400L,
      bloomPrefilter = false).collect().toSeq
    assert(withBloom === without)
    assert(withBloom.nonEmpty)
    // splitId beyond every doc_id: the batch is empty, the bloom aggregate
    // yields NULL, and the gate must degrade to the same empty rollup the
    // unfiltered path produces — not throw on the NULL filter
    val emptyBatchBloom = TextOps.q96IncrementalDedup(spark, Sf001, Long.MaxValue,
      bloomPrefilter = true).collect().toSeq
    val emptyBatchPlain = TextOps.q96IncrementalDedup(spark, Sf001, Long.MaxValue,
      bloomPrefilter = false).collect().toSeq
    assert(emptyBatchBloom === emptyBatchPlain)
  }

  test("q96 bloom pre-filter PRUNES: a disjoint-vocabulary old corpus loses " +
      "essentially its whole join input to the probe") {
    import spark.implicits._
    // old docs speak vocabulary a*, the new batch speaks w* — no shared
    // 3-gram exists, so an effective pre-filter must reject (almost) every
    // old shingle; only bloom false positives may survive
    val dir = java.nio.file.Files.createTempDirectory("bloomprune").toString
    val docs = (0L until 100L).map(i =>
        (i, s"a${i} a${i + 1} a${i + 2} a${i + 3} a${i + 4} a${i + 5}", "old", 1L)) ++
      Seq((400L, "w1 w2 w3 w4 w5 w6 w7 w8", "new", 1L))
    docs.toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d = Tables.documents(spark, dir)
    graft.functions.BloomFunctions.register(spark)
    val bloom = TextOps.shingleRows(d, 3).filter(col("doc_id") >= 400L)
      .agg(call_function("graft_bloom_agg", col("s"), lit(1000000L), lit(1L << 22)))
      .head.getAs[Array[Byte]](0)
    val oldShingles = TextOps.shingleRows(d, 3).filter(col("doc_id") < 400L)
    val total = oldShingles.count()
    val surviving = oldShingles
      .filter(call_function("graft_bloom_might_contain", lit(bloom), col("s")))
      .count()
    assert(total >= 300L, s"corpus construction broke: $total old shingles")
    // 2^22 bits for ~6 batch shingles: the false-positive rate is
    // astronomically small — anything surviving beyond a stray row means
    // the probe is not actually keyed on the batch's shingle set
    assert(surviving <= total / 100,
      s"bloom pre-filter failed to prune: $surviving of $total old shingles passed")
    // and the gate output is still identical with the filter on
    assert(TextOps.q96IncrementalDedup(spark, dir, 400L).collect().toSeq ===
      TextOps.q96IncrementalDedup(spark, dir, 400L, bloomPrefilter = false)
        .collect().toSeq)
  }

  test("sharedPairs: one persisted shingle-pair relation feeds q24/q59/q96 " +
      "with cached-plan reuse and results identical to the standalone entries") {
    val docs = Tables.documents(spark, Sf001)
    val pairs = graft.text.TextOps.sharedPairs(docs)
    try {
      // relation is registered for caching (persist contract)
      assert(pairs.storageLevel.useMemory, "sharedPairs must persist its relation")
      // first consumer materializes the cache; every consumer's physical
      // plan must then read the in-memory relation, not re-run the
      // exploded-shingle self-join
      val top = graft.text.TextOps.topJaccard(pairs)
      val topRows = top.collect().toSeq
      // (q59's final output plan starts from the loop's localCheckpoint, so
      // its cached-pair scan is inside the edge build, not visible here —
      // covered by the result-equality check below instead.)
      Seq(
        "q24" -> top,
        "q96" -> graft.text.TextOps.incrementalDedupFrom(docs, pairs, 400L),
        "q69" -> graft.analytics.JoinQueries.editDistanceFrom(docs, pairs)
      ).foreach { case (name, df) =>
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("InMemoryTableScan"),
          s"$name must scan the shared cached pair relation:\n$p")
      }
      // shared-path results are bit-identical to the standalone entries
      assert(topRows === TextOps.q24NgramJaccard(spark, Sf001).collect().toSeq)
      assert(graft.text.TextOps.dupClustersFrom(pairs).collect().toSeq ===
        TextOps.q59DupClusters(spark, Sf001).collect().toSeq)
      assert(graft.text.TextOps.incrementalDedupFrom(docs, pairs, 400L)
          .collect().toSeq ===
        TextOps.q96IncrementalDedup(spark, Sf001, 400L).collect().toSeq)
    } finally pairs.unpersist()
  }

  test("components: the driver union-find and the forced star branch give " +
      "identical min-id labels on every topology, a 200-node chain included") {
    import spark.implicits._
    // path 0..15, clique {200..204}, isolated pair (300,301) — edges in
    // shuffled order
    val path = (0L until 15L).map(i => (i, i + 1))
    val clique = for (a <- 200L to 204L; b <- (a + 1) to 204L) yield (a, b)
    val pairEdge = Seq((300L, 301L))
    val mixed = scala.util.Random.shuffle(path ++ clique ++ pairEdge)
      // feed some edges reversed: neither branch may assume d1 < d2
      .map { case (a, b) => if ((a + b) % 3 == 0) (b, a) else (a, b) }
    // diameter 199 ≫ starComponents' round budget (30): only O(log n)
    // rounds label it within budget
    val chain = (0L until 199L).map(i => (i, i + 1))
    val inputs = Seq(
      "mixed" -> mixed,
      "chain" -> chain,
      "no edges" -> Seq.empty[(Long, Long)],
      "one edge" -> Seq((7L, 3L)),
      "duplicated and reversed" -> Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 2L), (2L, 3L)))
    def run(): Seq[(String, Map[Long, Long], String)] = inputs.map { case (name, es) =>
      val labels = TextOps.components(es.toDF("d1", "d2"))
      (name, labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap,
        labels.queryExecution.optimizedPlan.toString)
    }
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val driver = run()
    val star =
      try { conf.set("spark.sql.autoBroadcastJoinThreshold", -1); run() }
      finally conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // the default threshold takes the driver branch, -1 the star branch
    assert(driver.head._3.contains("LocalRelation"), driver.head._3)
    assert(!star.head._3.contains("LocalRelation"), star.head._3)
    assert(driver.map(d => d._1 -> d._2) === star.map(s => s._1 -> s._2),
      "driver union-find and star contraction disagree")
    val m = driver.map(d => d._1 -> d._2).toMap
    assert((0L to 15L).forall(m("mixed")(_) == 0L))
    assert((200L to 204L).forall(m("mixed")(_) == 200L))
    assert(m("mixed")(301L) === 300L)
    assert(m("mixed").size === 16 + 5 + 2)
    assert(m("chain").size === 200)
    assert(m("chain").values.forall(_ == 0L),
      s"chain not fully contracted: ${m("chain").filter(_._2 != 0L).take(5)}")
    assert(m("no edges").isEmpty)
    assert(m("one edge") === Map(3L -> 3L, 7L -> 3L))
    assert(m("duplicated and reversed") === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("sourceOverlapFrom: cross- and within-source dup pairs land on the " +
      "normalized source pair; sub-threshold pairs drop") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5", "web"),
      (2L, "w1 w2 w3 w4 w5", "books"),   // exact dup across sources
      (3L, "w1 w2 w3 w4 w5", "web"),     // exact dup within web (with doc 1)
      (4L, "z1 z2 z3 z4 z5", "books")    // no partner → no pair
    ).toDF("doc_id", "text", "source")
    val out = graft.text.TextOps
      .sourceOverlapFrom(docs, graft.text.TextOps.jaccardPairs(docs, 3))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("n_dup_pairs"), r.getAs[Double]("avg_jaccard")))
    // pairs: (1,2) books|web, (1,3) web|web, (2,3) books|web — all jaccard 1
    assert(out.toSeq === Seq(
      ("books", "web", 2L, 1.0),
      ("web", "web", 1L, 1.0)))
  }

  test("shingle novelty: first introducer owns the gram; verbatim copies " +
      "score zero novelty; fully fresh docs score one") {
    val docs = Seq(
      (1L, "a b c d e", "web"),    // introduces all 3 grams → novelty 1
      (2L, "a b c d e", "web"),    // verbatim copy → novelty 0
      (3L, "x y z w v", "books")   // fresh → novelty 1
    ).toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("novelty").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.text.TextOps.q112ShingleNovelty(spark, dir)
      .collect().map(r => (r.getString(0), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_fully_novel"), r.getAs[Long]("n_mostly_seen"),
        r.getAs[Double]("novelty")))
    assert(out.toSeq === Seq(
      ("books", 1L, 1L, 0L, 1.0),
      ("web", 2L, 1L, 1L, 0.5)))
  }

  test("dedup ROI sweep: thresholds accumulate down, keep-first removes " +
      "only the later doc, token totals follow") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),  // 10 tokens, original
      (2L, "a b c d e f g h i j"),  // exact copy: mj = 1.0, removed at all θ
      (3L, "a b c d e f g r s t"),  // partial overlap: mj between 0.4 and 0.5
      (4L, "m n o p q r s t u v")   // no partner above noise
    ).toDF("doc_id", "text").withColumn("source", lit("web"))
    val pairs = graft.text.TextOps.jaccardPairs(docs, 3)
    val out = graft.text.TextOps.dedupRoiFrom(docs, pairs)
      .collect().map(r => (r.getAs[Double]("theta"), r.getAs[Long]("n_dup_docs"),
        r.getAs[Long]("tokens_removed"), r.getAs[Double]("pct_docs_removed")))
    // doc2 (exact copy) is removed at every θ; doc3's mj (5 common of
    // 8+8-5=11 grams ≈ 0.4545) only clears θ=0.4; doc1/doc4 never removed
    assert(out.toSeq === Seq(
      (0.4, 2L, 20L, 0.5),
      (0.5, 1L, 10L, 0.25),
      (0.6, 1L, 10L, 0.25),
      (0.7, 1L, 10L, 0.25),
      (0.8, 1L, 10L, 0.25),
      (0.9, 1L, 10L, 0.25)))
  }

  test("survivorship: keep-longest wins, ties break to the lowest doc_id, " +
      "discarded tokens account for the rest of the cluster") {
    val docs = Seq(
      (1L, "a b c d e"),      // 5 tokens, cluster {1,2,3}
      (2L, "a b c d e f"),    // 6 tokens → keeper (longest)
      (3L, "a b c d e"),      // exact copy of doc 1
      (10L, "x y z w"),       // 4 tokens, cluster {10,11}: token tie
      (11L, "x y z w"),       //   → keeper is the LOWER doc_id (10)
      (20L, "p q r s t u")    // singleton → not in output
    ).toDF("doc_id", "text").withColumn("source", lit("web"))
    val out = graft.text.TextOps
      .survivorshipFrom(docs, graft.text.TextOps.jaccardPairs(docs, 3))
      .collect().map(r => (r.getAs[Long]("cluster_id"),
        r.getAs[Long]("keeper_doc_id"), r.getAs[Long]("keeper_tokens"),
        r.getAs[Long]("sz"), r.getAs[Long]("n_discarded"),
        r.getAs[Long]("discarded_tokens")))
    assert(out.toSeq === Seq(
      (1L, 2L, 6L, 3L, 2L, 10L),
      (10L, 10L, 4L, 2L, 1L, 4L)))
  }

  test("cluster-safe split: whole clusters land on one side (0 leaky), the " +
      "naive per-doc split leaks the straddling cluster") {
    // md5 first hex chars: "1"→c (val), "2"→c (val), "3"→e (test) — so the
    // {1,3} dup cluster straddles under by_doc and rides rep=1 under
    // by_cluster
    val docs = Seq(
      (1L, "a b c d e"),
      (3L, "a b c d e"),     // exact dup of doc 1
      (2L, "x y z w v")      // singleton
    ).toDF("doc_id", "text").withColumn("source", lit("web"))
    val out = graft.text.TextOps
      .clusterSafeSplitFrom(docs, graft.text.TextOps.jaccardPairs(docs, 3))
      .collect().map(r => (r.getAs[String]("strategy"),
        r.getAs[String]("split"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_groups"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("pct_docs"), r.getAs[Long]("leaky_clusters")))
    assert(out.toSeq === Seq(
      ("by_cluster", "val", 3L, 2L, 15L, 100.0, 0L),
      ("by_doc", "test", 1L, 1L, 5L, 33.33, 1L),
      ("by_doc", "val", 2L, 2L, 10L, 66.67, 1L)))
  }

  test("incremental clustering: a bridging new doc merges old components " +
      "into the from-scratch components") {
    import spark.implicits._
    // old corpus (< 400): chain 0-1-…-8 (diameter 8) and pair {100,101};
    // new batch doc 400 bridges 8 and 100 — all three merge under min 0
    val pairs = ((0L until 8L).map(i => (i, i + 1)) ++
        Seq((100L, 101L), (8L, 400L), (100L, 400L)))
      .toDF("d1", "d2").withColumn("jaccard", lit(1.0))
    val out = graft.text.TextOps.incrementalClustersFrom(pairs, 400L)
      .collect().map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("sz"),
        r.getAs[String]("members"), r.getAs[Long]("n_new")))
    assert(out.toSeq === Seq(
      (0L, 12L, "0,1,2,3,4,5,6,7,8,100,101,400", 1L)))
  }

  test("curation export: keeper survives, dropped near-dups follow it into " +
      "the same split, singletons pass untouched") {
    // md5("1")→'c' (val): the {1,3} cluster (keeper 3, longer) rides
    // rep=1 into val TOGETHER although md5("3")→'e' would say test;
    // singleton doc 2 ("c") lands in val on its own hash
    val docs = Seq(
      (1L, "a b c d e", "web"),        // 5 tokens, loses to doc 3
      (3L, "a b c d e f", "web"),      // 6 tokens → keeper
      (2L, "x y z w v", "books")       // singleton
    ).toDF("doc_id", "text", "source")
    val out = graft.text.TextOps
      .curationExportFrom(docs, graft.text.TextOps.jaccardPairs(docs, 3))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("n_dropped"), r.getAs[Long]("kept_tokens")))
    assert(out.toSeq === Seq(
      ("books", "val", 1L, 1L, 0L, 5L),
      ("web", "val", 2L, 1L, 1L, 6L)))
  }

  test("post-dedup mixture: a copy-heavy source loses share to an " +
      "original-only source after survivorship") {
    val docs = Seq(
      (1L, "a b c d e", "dupes"),   // cluster {1,2,3}: only ONE survives
      (2L, "a b c d e", "dupes"),
      (3L, "a b c d e", "dupes"),
      (4L, "p q r s t", "clean")    // singleton survives
    ).toDF("doc_id", "text", "source")
    val out = graft.text.TextOps
      .postDedupMixtureFrom(docs, graft.text.TextOps.jaccardPairs(docs, 3))
      .collect().map(r => (r.getString(0), r.getAs[Long]("n_docs"),
        r.getAs[Long]("tokens_raw"), r.getAs[Long]("tokens_kept"),
        r.getAs[Double]("raw_share"), r.getAs[Double]("kept_share"),
        r.getAs[Double]("share_shift")))
    // raw: dupes 15/20 = 75%, clean 5/20 = 25%
    // kept: dupes 5/10 = 50%, clean 5/10 = 50% — a 25-point swing
    assert(out.toSeq === Seq(
      ("clean", 1L, 5L, 5L, 25.0, 50.0, 25.0),
      ("dupes", 3L, 15L, 5L, 75.0, 50.0, -25.0)))
  }

  test("repeatedSpans: maximal cross-doc runs merge, doc-internal repeats don't count") {
    val docs = Seq(
      (1L, "a b c d e X Y Z"),       // shares the 5-token run "a b c d e" with doc 2
      (2L, "q q a b c d e r"),       // same run, shifted position
      (3L, "m m m m"),               // repeats only WITHIN itself → no dup grams
      (4L, "a b"),                   // < 3 tokens → no grams, excluded entirely
      (5L, "a b c z1 z2 c d e")      // two disjoint 1-gram hits → two spans
    ).toDF("doc_id", "text")
    val out = graft.text.TextOps.repeatedSpans(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_spans"),
        r.getAs[Long]("max_span_tokens"), r.getAs[Long]("dup_positions"),
        r.getAs[Long]("n_grams"), r.getAs[Double]("dup_frac")))
    // ordered by dup_frac desc then doc_id; doc 4 absent
    assert(out.toSeq === Seq(
      (1L, 1L, 5L, 3L, 6L, 0.5),     // one island over gram positions 0-2
      (2L, 1L, 5L, 3L, 6L, 0.5),     // same island at positions 2-4
      (5L, 2L, 3L, 2L, 6L, 0.333333),
      (3L, 0L, 0L, 0L, 2L, 0.0)))
  }

  test("q140: every planted copy is caught through the SimHash bands " +
      "(recall 1.0 by construction), and the join is band-keyed") {
    val df = TextOps.q140SimhashPlanted(spark, Sf001)
    val rows = df.collect()
    val plantedPerSource = Tables.documents(spark, Sf001)
      .filter(col("doc_id") % 13 === 0)
      .groupBy(col("source")).count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      assert(r.getAs[Long]("n_planted") === plantedPerSource.getOrElse(src, 0L))
      // keep-first marks every planted copy (plus any natural exact dup)
      assert(r.getAs[Long]("n_dups") >= r.getAs[Long]("n_planted"), r.toString)
    }
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  private def simhashFp(texts: Seq[(Long, String)]) = {
    graft.functions.Simhash64Function.register(spark)
    texts.toDF("doc_id", "text").select(col("doc_id"),
      md5(col("text")).as("digest"),
      call_function("simhash64", col("text")).as("sig"))
  }

  test("simhashBandDupIds == the old band self-join's pair semantics " +
      "(i < j sharing a band with equal digest), at both band widths") {
    // 37 distinct texts cycled over 100 ids → every text has 2-3 copies
    val fp = simhashFp(Seq.tabulate(100)(i =>
      (i.toLong, s"document body number ${i % 37} with shared phrasing")))
    for (bandBits <- Seq(8, 16)) {
      val nBands = 64 / bandBits
      val banded = fp.withColumn("band",
        explode(array((0 until nBands).map(b =>
          lit(b.toLong << bandBits) + shiftright(col("sig"), bandBits * b)
            .bitwiseAND(lit((1L << bandBits) - 1))): _*)))
      val a = banded.select(col("band"), col("doc_id").as("i"), col("digest").as("da"))
      val b = banded.select(col("band"), col("doc_id").as("j"), col("digest").as("db"))
      val pairForm = a.join(b, Seq("band"))
        .filter(col("i") < col("j") && col("da") === col("db"))
        .select(col("j")).distinct().collect().map(_.getLong(0)).sorted
      val starForm = TextOps.simhashBandDupIds(fp, bandBits)
        .collect().map(_.getLong(0)).sorted
      assert(starForm.toSeq === pairForm.toSeq, s"bandBits=$bandBits")
      assert(starForm.length === 100 - 37)
    }
  }

  test("simhashBandDupIds hot-mass linearity: a 500-copy identical band " +
      "group resolves through one window, no pair join in the plan") {
    // 500 identical docs — the old pair join would generate ~125k x bands
    // candidate rows from this group alone; the window star emits 499
    val fp = simhashFp(
      Seq.tabulate(500)(i => (i.toLong, "the exact same document body")) ++
      Seq.tabulate(50)(i => (1000L + i, s"unique filler text $i")))
    val dup = TextOps.simhashBandDupIds(fp, 8)
    assert(dup.collect().map(_.getLong(0)).sorted.toSeq === (1L to 499L))
    val p = dup.queryExecution.executedPlan.toString
    assert(p.contains("Window"), p.take(2000))
    assert(!p.toLowerCase.contains("join"),
      s"candidate stage must not join:\n${p.take(2000)}")
  }

}

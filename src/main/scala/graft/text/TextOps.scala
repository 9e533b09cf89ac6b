package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Exprs, Pct}

/** Text-analysis and document-dedup operators for large-scale training-data
  * pipelines: token counting, quality scoring, language-ID heuristic,
  * normalized exact dedup, n-gram Jaccard near-dup.
  *
  * Everything is built from codegen'd collection expressions (split/filter/
  * transform/aggregate) — no UDFs — so the operators scale with the scan and
  * survive whole-stage codegen. The n-gram Jaccard join is the explode-join
  * formulation; at 100 TB you run q25's MinHash/LSH first and feed only
  * candidate pairs into the exact-Jaccard verifier (same `jaccardPairs` code).
  */
object TextOps {

  /** Whitespace tokens with empties dropped (parity with the DuckDB oracle's
    * list_filter(string_split(...))). */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Word n-gram shingles in document order; empty when shorter than n. */
  def wordShinglesOrdered(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Word n-gram shingles (distinct), empty when the doc is shorter than n. */
  def wordShingles(toks: Column, n: Int): Column =
    array_distinct(wordShinglesOrdered(toks, n))

  /** Shingles as rows — (doc_id, s), one row per n-gram occurrence, document
    * order, matching the oracle's `t[i] || ' ' || ... || t[i+n-1]` exactly.
    *
    * Scale formulation history: the array-HOF form
    * (`explode(transform(sequence(...)))`) runs its lambdas interpreted
    * (~8× slower, CLAUDE.md perf rule); the posexplode + window-lead form
    * is fully codegen'd but hash-shuffles the exploded token relation
    * (≫ corpus size) to order each document's tokens. The native
    * [[graft.functions.WordShingles]] kernel beats both: each document's
    * shingle array is built in one partition-local byte pass (no shuffle,
    * no lambda), and `explode` yields the same rows the window form did. */
  def shingleRows(docs: DataFrame, n: Int,
                  extra: Seq[String] = Nil): DataFrame = {
    val keep = (Seq("doc_id") ++ extra).map(col)
    graft.functions.WordShinglesFunction.register(docs.sparkSession)
    docs.select(keep :+
      explode(call_function("word_shingles", col("text"), lit(n))).as("s"): _*)
  }

  /** Distinct shingles as rows — exactly `shingleRows(docs, n).distinct()`
    * per document, but deduped PARTITION-LOCALLY by the native kernel:
    * per-doc distinctness is row-local, so the declarative `.distinct()`
    * paid a full exchange + two hash aggregates over the exploded corpus
    * relation for nothing (r21, guide §2.4). */
  def distinctShingleRows(docs: DataFrame, n: Int): DataFrame = {
    graft.functions.WordShinglesDistinctFunction.register(docs.sparkSession)
    docs.select(col("doc_id"),
      explode(call_function("word_shingles_distinct", col("text"), lit(n)))
        .as("s"))
  }

  private val stopwords = Seq("the", "a")

  /** q21: per-source token statistics + composite quality score (reference
    * quality-score shape Q1 applied to text: length, stopword-, type-token
    * ratios; per-doc ratios rounded before exact-decimal aggregation). */
  def q21TextStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val t = tokens(col("text"))
    val nTok = size(t)
    val nStop = size(filter(t, x => x.isin(stopwords: _*)))
    val nDistinct = size(array_distinct(t))
    val ttr = Exprs.dround(nDistinct / nTok.cast("double"), 6)
    val stopRatio = Exprs.dround(nStop / nTok.cast("double"), 6)
    val lenScore = least(lit(1.0), nTok / lit(50.0))
    val quality = Exprs.dround(
      lit(0.4) * lenScore + lit(0.3) * (lit(1.0) - stopRatio) + lit(0.3) * ttr, 6)
    d.withColumn("n_tokens", nTok)
      .withColumn("ttr", ttr)
      .withColumn("stop_ratio", stopRatio)
      .withColumn("quality", quality)
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        Exprs.dround(sum(col("n_tokens")) / count(lit(1)), 4).as("avg_tokens"),
        Exprs.dround(Exprs.sumExact(col("ttr"), 6) / count(lit(1)), 6).as("avg_ttr"),
        Exprs.dround(Exprs.sumExact(col("stop_ratio"), 6) / count(lit(1)), 6).as("avg_stop_ratio"),
        Exprs.dround(Exprs.sumExact(col("quality"), 6) / count(lit(1)), 6).as("avg_quality"))
      .orderBy(col("source"))
  }

  /** q22: marker-stopword language-ID heuristic (density CASE ladder) vs the
    * labeled `lang` — confusion-matrix output. On this synthetic corpus every
    * language shares one English-ish vocabulary, so the interesting part is
    * the deterministic heuristic, not the accuracy. */
  def q22LangId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val t = tokens(col("text"))
    val nTok = size(t)
    val enMarkers = size(filter(t, x => x.isin("the", "a", "of", "and")))
    val density = enMarkers / nTok.cast("double")
    val guessed = when(nTok === 0, "unknown")
      .when(density >= 0.05, "en")
      .when(density > 0, "en_low_conf")
      .otherwise("unknown")
    d.withColumn("guessed", guessed)
      .groupBy(col("lang"), col("guessed"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("guessed"))
  }

  /** q23: normalized exact dedup — cluster key is md5 of the sorted token
    * bag, so docs equal up to word order collapse (reference §2.7 dedup,
    * generalized to documents). Hash-groupBy: one shuffle on the 128-bit key,
    * scales to any corpus. */
  def q23NormalizedDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val key = md5(concat_ws(" ", array_sort(tokens(col("text")))))
    val clusters = d.withColumn("k", key)
      .groupBy(col("source"), col("k")).agg(count(lit(1)).as("sz"))
    clusters.groupBy(col("source")).agg(
        sum(col("sz")).as("n_docs"),
        count(lit(1)).as("n_clusters"),
        sum(col("sz") - 1).as("n_dups"))
      .orderBy(col("source"))
  }

  /** Exact n-gram Jaccard similarity for all candidate pairs (docs sharing at
    * least one shingle). Returns (doc1, doc2, common, jaccard).
    *
    * `maxDf` caps shingle document frequency before the self-join: a shingle
    * in d docs expands to d(d-1)/2 pair rows on ONE join key, so a single
    * boilerplate phrase shared by 10⁶ docs would otherwise put 5·10¹¹ rows
    * on one reducer. Shingles with df > maxDf are dropped from the join
    * (they carry no similarity signal — that is the standard stop-shingle
    * rule); per-doc shingle counts for the Jaccard denominator are computed
    * BEFORE the cap, so pair scores below the cap are exact. The default is
    * far above any natural df in the test corpora (max 25 at sf0.1) yet
    * bounds any key's pair fan-out at maxDf²/2. The df count rides the same
    * hash partitioning on `s` as the join — a window, not an extra join. */
  /** `aSide`/`bSide` restrict which documents may appear as the LEFT/RIGHT
    * member of a pair (predicates over `doc_id`) — the incremental shape
    * (q96: old×new only) prunes the candidate join's output without
    * changing any surviving pair's score: denominators and the df cap are
    * always computed over the full corpus.
    *
    * `aJoinFilter` additionally prunes the LEFT join input — the hook the
    * q96 bloom pre-filter rides. It must never drop a row whose shingle
    * has a b-side join partner; any predicate with that guarantee leaves
    * the output bitwise identical (rows it passes spuriously simply find
    * no match). It is PLACED above the df-cap window, but Catalyst may
    * legitimately push a predicate on `s` below it: that is still
    * semantics-preserving, because `s` is the window's partition key, so
    * whole partitions drop and every SURVIVING row's df is unchanged (the
    * b-side branch is a separate plan reference and keeps full df either
    * way). The safety argument is key-granularity, not plan position — a
    * predicate on `doc_id` would NOT be safe below the window, so keep
    * `aJoinFilter` a function of `s` only. */
  def jaccardPairs(docs: DataFrame, n: Int, maxDf: Int = 500,
                   aSide: Column = lit(true), bSide: Column = lit(true),
                   aJoinFilter: Column = lit(true)): DataFrame = {
    // r21: the exploded relation dedups PARTITION-LOCALLY via the native
    // distinct-shingle kernel — per-doc distinctness is row-local, so the
    // old `.distinct()` spent a full exchange + two hash aggregates over
    // the widest relation in the query for nothing (guide §2.4). The
    // Jaccard denominator c = size(arr) rides the same projection (the
    // array is built once — projection collapse shares it with the
    // explode), replacing the old separate kernel-count scan + the TWO
    // pair-side joins it needed (measured: two sequential 1-task broadcast
    // stages + 2 BHJs over the 1.1M-row pair relation at sf0.1).
    // Bit-identical: same shingle-string set per doc (the kernel distincts
    // the STRINGS, no hash shortcut), same per-doc count, same df per s.
    graft.functions.WordShinglesDistinctFunction.register(docs.sparkSession)
    // two-step select, NOT one: in a single projection ExtractGenerator
    // hoists size(arr) ABOVE the Generate, re-evaluating the kernel once
    // per EXPLODED row (measured: 0.24 s → 4 s scan stage). With the array
    // bound to an alias first, CollapseProject declines to inline the
    // non-cheap kernel into two references and it runs once per document.
    val sh = docs
      .select(col("doc_id"),
        call_function("word_shingles_distinct", col("text"), lit(n))
          .as("sharr"))
      .select(col("doc_id"), size(col("sharr")).cast("long").as("c"),
        explode(col("sharr")).as("s"))
    val capped = sh
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("s"))))
      .filter(col("df") <= maxDf).drop("df")
    // r21: force sort-merge on the bucket self-join. Left alone, Catalyst's
    // post-aggregation size estimate lets the FULL capped relation (the
    // widest in the query) broadcast — the build side then DUPLICATES the
    // whole scan→explode→distinct→window subtree (measured: two Generate
    // pipelines in the q24 plan) and collects it to the driver, a shape
    // that cannot exist at corpus scale. As sort-merge the two sides are
    // canonically identical, so ReuseExchange computes the subtree ONCE,
    // and the join adds zero exchanges: both sides arrive partitioned AND
    // sorted on `s` from the df-cap window (guide §3.1/§2.4).
    val pairs = capped.filter(aSide).filter(aJoinFilter).as("a").hint("merge")
      .join(capped.filter(bSide).as("b").hint("merge"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      // c is functionally dependent on the group key (one c per doc), so
      // min() just carries it through the aggregation — no counts join
      .agg(count(lit(1)).as("common"),
        min(col("a.c")).as("c1"), min(col("b.c")).as("c2"))
    pairs
      .select(col("d1"), col("d2"), col("common"), col("c1"), col("c2"))
      .withColumn("jaccard",
        Exprs.dround(col("common") / (col("c1") + col("c2") - col("common")), 6))
  }

  /** Materialized candidate-pair contract for the dedup family. q24 (top
    * pairs), q59 (clustering), q69 (edit-distance verify) and q96 (the
    * incremental gate's near path) all start from the same exploded-shingle
    * self-join — the dominant cost of corpus dedup. A pipeline running
    * several of them per batch should compute that relation ONCE:
    *
    * {{{
    * val pairs = TextOps.sharedPairs(docs)     // persisted on first action
    * try {
    *   TextOps.topJaccard(pairs)               // q24
    *   TextOps.dupClustersFrom(pairs)          // q59
    *   JoinQueries.editDistanceFrom(docs, pairs)          // q69
    *   TextOps.incrementalDedupFrom(docs, pairs, splitId) // q96 near path
    *   TextOps.sourceOverlapFrom(docs, pairs)             // q109
    *   TextOps.dedupRoiFrom(docs, pairs)                  // q113
    *   TextOps.survivorshipFrom(docs, pairs)              // q114
    *   TextOps.clusterSafeSplitFrom(docs, pairs)          // q115
    *   TextOps.curationExportFrom(docs, pairs)            // q117
    * } finally pairs.unpersist()
    * }}}
    *
    * Lifecycle contract (same as Cdc's snapshot): the CALLER owns
    * `unpersist()` — consumers never cache or uncache it themselves. The
    * persisted relation is (d1, d2, common, c1, c2, jaccard) — pair-grain,
    * orders of magnitude smaller than the exploded shingle relation it
    * collapses, so MEMORY_AND_DISK is safe at corpus scale. */
  def sharedPairs(docs: DataFrame, n: Int = 3, maxDf: Int = 500): DataFrame =
    jaccardPairs(docs, n, maxDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Top-20 most similar pairs of a candidate-pair relation (q24 body). */
  def topJaccard(pairs: DataFrame): DataFrame =
    pairs
      .select(col("d1"), col("d2"), col("common"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
      .limit(20)

  /** q24: top-20 most similar doc pairs by word-3-gram Jaccard. */
  def q24NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    topJaccard(jaccardPairs(Tables.documents(spark, dir), 3))

  /** Cross-source duplication matrix from a candidate-pair relation
    * (q109 body): near-dup pairs at Jaccard ≥ θ attributed to their
    * source pair — the corpus-curation question "which sources duplicate
    * each other, and how hard". A natural second consumer of
    * [[sharedPairs]] alongside q24/q59/q69/q96.
    *
    * The θ compare runs on the 6-dp-rounded jaccard (identical on both
    * engines by construction) against a dyadic threshold — no raw-double
    * equality; avg jaccard rides the exact-decimal sum rule. The source
    * lookups join the pair-grain relation (≪ corpus), not the shingle
    * relation. */
  def sourceOverlapFrom(docs: DataFrame, pairs: DataFrame,
                        theta: Double = 0.5): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs.filter(col("jaccard") >= theta)
      .join(src.select(col("doc_id").as("d1"), col("source").as("src1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("src2")), "d2")
      .select(least(col("src1"), col("src2")).as("s1"),
        greatest(col("src1"), col("src2")).as("s2"), col("jaccard"))
      .groupBy(col("s1"), col("s2")).agg(
        count(lit(1)).as("n_dup_pairs"),
        Exprs.dround(Exprs.sumExact(col("jaccard"), 6) / count(lit(1)), 6)
          .as("avg_jaccard"))
      .orderBy(col("s1"), col("s2"))
  }

  /** q109: which sources duplicate each other (Jaccard ≥ 0.5 pairs,
    * least/greatest-normalized source pair, count + mean similarity). */
  def q109SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    sourceOverlapFrom(d, jaccardPairs(d, 3))
  }

  /** q112: per-source shingle novelty — a shingle is NOVEL for the
    * lowest-doc_id document containing it (arrival order); a document's
    * novelty is the fraction of its distinct shingles it introduced to the
    * corpus. The curation signal behind "this source mostly re-states what
    * we already have" (the marginal-value question quota capping (q83) and
    * mixture weighting (q90) want answered BEFORE sampling).
    *
    * Plan: first-introducer per gram is a min-window on the gram key — the
    * q106 trick: detection and per-doc rollup ride ONE hash partitioning
    * of the exploded shingle relation, no groupBy-plus-semi-join second
    * scan. The per-doc→per-source rollup is |docs|-sized. Ratios are
    * BIGINT/BIGINT (exact in double on both engines); the below-half flag
    * is an integer cross-multiply, never a double compare. At 100 TB the
    * gram relation shuffles once on the gram key — the same bound as every
    * shingle op in this family. */
  def q112ShingleNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val w = Window.partitionBy(col("s"))
    val perDoc = distinctShingleRows(docs, 3)
      .withColumn("first_doc", min(col("doc_id")).over(w))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_shingles"),
        count(when(col("doc_id") === col("first_doc"), 1)).as("n_novel"))
    perDoc.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_shingles")).as("total_shingles"),
        sum(col("n_novel")).as("novel_shingles"),
        count(when(col("n_novel") === col("n_shingles"), 1)).as("n_fully_novel"),
        count(when(col("n_novel") * 2 < col("n_shingles"), 1)).as("n_mostly_seen"))
      .withColumn("novelty",
        Exprs.dround(col("novel_shingles") / col("total_shingles"), 6))
      .orderBy(col("source"))
  }

  /** Dedup ROI sweep from a candidate-pair relation (q113 body): for each
    * dedup threshold θ, how many documents and tokens keep-first dedup at
    * Jaccard ≥ θ would remove — the "which θ do we run" planning sweep a
    * curation pipeline does before committing to a dedup pass, computed
    * for ALL thresholds in one pass instead of re-running the pair join
    * per θ. Another [[sharedPairs]] consumer.
    *
    * One groupBy on the pair relation collapses it to per-doc max-partner
    * similarity (keep-first: the higher id of a pair is the one removed);
    * the θ sweep then fans each |docs|-sized row out over the threshold
    * array — explode AFTER aggregation, so the fan-out is bounded by
    * |docs|×|θ|, never |pairs|×|θ|. Corpus totals ride the 1-row
    * broadcast combine (J5). θ values and the rounded 6-dp jaccard are
    * bit-identical across engines (the oracle casts its θ list ::DOUBLE —
    * non-dyadic literals parse as DECIMAL in DuckDB otherwise). */
  def dedupRoiFrom(docs: DataFrame, pairs: DataFrame,
                   thetas: Seq[Double] = Seq(0.4, 0.5, 0.6, 0.7, 0.8, 0.9))
      : DataFrame = {
    graft.functions.TokenCountFunction.register(docs.sparkSession)
    val toks = docs.select(col("doc_id"),
      call_function("token_count", col("text")).as("tok"))
    val totals = toks.agg(
      count(lit(1)).as("corpus_docs"), sum(col("tok")).as("corpus_tokens"))
    val mj = pairs.groupBy(col("d2").as("doc_id"))
      .agg(max(col("jaccard")).as("mj"))
    mj.join(toks, "doc_id")
      .select(col("mj"), col("tok"),
        explode(array(thetas.map(lit): _*)).as("theta"))
      .filter(col("mj") >= col("theta"))
      .groupBy(col("theta")).agg(
        count(lit(1)).as("n_dup_docs"),
        sum(col("tok")).as("tokens_removed"))
      .crossJoin(broadcast(totals))
      .select(col("theta"), col("n_dup_docs"), col("tokens_removed"),
        Exprs.dround(col("n_dup_docs") / col("corpus_docs"), 6)
          .as("pct_docs_removed"),
        Exprs.dround(col("tokens_removed") / col("corpus_tokens"), 6)
          .as("pct_tokens_removed"))
      .orderBy(col("theta"))
  }

  /** q113: dedup ROI threshold sweep over the corpus pair relation. */
  def q113DedupRoi(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    dedupRoiFrom(d, jaccardPairs(d, 3))
  }

  /** Survivorship pick over the near-dup clusters (q114 body): clustering
    * (q59) says WHICH docs are mutual near-dups; the pipeline still has to
    * choose the ONE canonical doc per cluster and account for what the
    * discard costs. Policy: keep the longest doc (most whitespace tokens),
    * tie-broken to the lowest doc_id — the common keep-best rule when no
    * richer quality signal is joined in (swap the ordering struct to change
    * policy; the plan shape is policy-invariant).
    *
    * The pick is ONE `max_by` aggregation over the labeled docs — the q110
    * two-struct trick, no window, so the exchange carries |cluster| keys
    * and two small structs, never a row_number sort over the corpus. At
    * 100 TB: labels are the [[components]] output (|dup docs| rows ≪
    * corpus, broadcast while they fit), the token count joins in from a
    * corpus projection, and the single shuffle is on cluster_id. Another
    * [[sharedPairs]] consumer. */
  def survivorshipFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = clusterLabels(pairs)
    val toks = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    labels.join(toks, "doc_id")
      .groupBy(col("label").as("cluster_id"))
      .agg(
        max_by(struct(col("doc_id"), col("n_tokens")),
          struct(col("n_tokens"), -col("doc_id"))).as("keeper"),
        count(lit(1)).as("sz"),
        sum(col("n_tokens")).as("cluster_tokens"))
      .select(col("cluster_id"),
        col("keeper.doc_id").as("keeper_doc_id"),
        col("keeper.n_tokens").as("keeper_tokens"),
        col("sz"),
        (col("sz") - 1).as("n_discarded"),
        (col("cluster_tokens") - col("keeper.n_tokens"))
          .as("discarded_tokens"))
      .orderBy(col("cluster_id"))
  }

  /** q114: canonical-doc survivorship per near-dup cluster. */
  def q114DedupSurvivorship(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    survivorshipFrom(d, jaccardPairs(d, 3))
  }

  /** Split assignment used by q115 (and mirrored in its oracle): first hex
    * char of md5 of the key's decimal string — 12/16 train, 2/16 val,
    * 2/16 test, the same deterministic h<='b'/'d' ladder as q61. */
  def hashSplit(key: Column): Column = {
    val h = substring(md5(key.cast("string")), 1, 1)
    when(h <= "b", "train").when(h <= "d", "val").otherwise("test")
  }

  /** Leakage-safe dataset split (q115 body): a naive per-doc hash split
    * leaks near-duplicates across train/val/test — the eval answer is in
    * the training set verbatim-ish. The fix is to split by CLUSTER: every
    * doc hashes its cluster representative (its component label; itself
    * when unclustered), so whole near-dup clusters land on one side by
    * construction. Output compares both strategies side by side at the
    * (strategy, split) grain — docs, clusters, tokens, doc share — plus
    * each strategy's count of LEAKY clusters (components straddling >1
    * split): the by_cluster row is provably 0, the by_doc row is the
    * leak the naive split would have shipped.
    *
    * Plan: one corpus projection left-joins the labels (broadcast-sized:
    * |dup docs|), then strategy fan-out via explode AFTER assignment —
    * 2·|docs| rows into one hash-agg. The leak flags never touch the
    * corpus: both split assignments are pure functions of (doc_id, label),
    * and both live in the labels relation — so the per-component min≠max
    * flag (the q106 one-partitioning trick) aggregates |dup docs| rows,
    * rolls up to 2 rows and broadcasts onto the 6 result rows. ONE corpus
    * scan total. */
  def clusterSafeSplitFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = clusterLabels(pairs)
    val base = docs.select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("label"), col("doc_id")))
      .withColumn("split_doc", hashSplit(col("doc_id")))
      .withColumn("split_cluster", hashSplit(col("rep")))
    val stats = base
      .select(col("n_tokens"), col("rep"), explode(array(
        struct(lit("by_doc").as("strategy"), col("split_doc").as("split")),
        struct(lit("by_cluster").as("strategy"),
          col("split_cluster").as("split")))).as("sp"))
      .groupBy(col("sp.strategy").as("strategy"), col("sp.split").as("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_groups"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("pct_docs", Exprs.pctOf(col("n_docs"),
        sum(col("n_docs")).over(Window.partitionBy(col("strategy"))), 2))
    // leaky components per strategy: min≠max split within a labeled
    // component — computed from the labels relation ALONE (split_doc is
    // hashSplit(doc_id), split_cluster is hashSplit(label); both columns
    // live there), so this branch never re-scans or re-joins the corpus
    val leak = labels
      .groupBy(col("label"))
      .agg(
        (min(hashSplit(col("doc_id"))) =!= max(hashSplit(col("doc_id"))))
          .as("ld"),
        (min(hashSplit(col("label"))) =!= max(hashSplit(col("label"))))
          .as("lc"))
      .agg(sum(when(col("ld"), 1L).otherwise(0L)).as("by_doc"),
        sum(when(col("lc"), 1L).otherwise(0L)).as("by_cluster"))
      .select(explode(array(
        struct(lit("by_doc").as("strategy"),
          col("by_doc").as("leaky_clusters")),
        struct(lit("by_cluster").as("strategy"),
          col("by_cluster").as("leaky_clusters")))).as("lk"))
      .select(col("lk.strategy").as("strategy"),
        col("lk.leaky_clusters").as("leaky_clusters"))
    // left + coalesce: on a cluster-free corpus the leak rollup carries
    // nulls (Spark's global agg emits one row over empty input; DuckDB's
    // grouped rollup emits none) — both normalize to 0 here
    stats.join(broadcast(leak), Seq("strategy"), "left")
      .select(col("strategy"), col("split"), col("n_docs"), col("n_groups"),
        col("n_tokens"), col("pct_docs"),
        coalesce(col("leaky_clusters"), lit(0L)).as("leaky_clusters"))
      .orderBy(col("strategy"), col("split"))
  }

  /** q115: leakage-safe train/val/test split by near-dup cluster. */
  def q115ClusterSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    clusterSafeSplitFrom(d, jaccardPairs(d, 3))
  }

  /** Curation export (q117 body): the composed doc-level decision a
    * training run actually consumes — q114's survivorship keep flag and
    * q115's cluster-safe split assignment in ONE pass over one set of
    * component labels, rolled up per (source, split). Per doc: kept =
    * unclustered OR the cluster's keeper (longest, tie → lowest doc_id);
    * split = hash of the component representative, so dropped near-dups
    * and their keeper land on the same side by construction.
    *
    * Plan: the keep decision is DOC grain (unlike q114's cluster-grain
    * rollup), so the keeper compare rides a window over ONE partitioning
    * instead of a cluster aggregate joined back — the joined-back shape
    * re-scans the corpus and re-joins the labels (measured: two parquet
    * scans, four exchanges). The window partitions by `rep`, NOT `label`:
    * a label-partitioned window sends every unclustered doc (null label,
    * ~the whole corpus) into ONE partition; under `rep` they are
    * singletons. One corpus scan, one labels join, one window exchange,
    * one rollup exchange. Another [[sharedPairs]] consumer. */
  def curationExportFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = clusterLabels(pairs)
    val ord = struct(col("n_tokens"), -col("doc_id"))
    val best = max(ord).over(Window.partitionBy(col("rep")))
    docs.select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("label"), col("doc_id")))
      .withColumn("kept", col("label").isNull || ord === best)
      .withColumn("split", hashSplit(col("rep")))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("kept"), 1)).as("n_kept"),
        count(when(!col("kept"), 1)).as("n_dropped"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L))
          .as("kept_tokens"))
      .orderBy(col("source"), col("split"))
  }

  /** q117: one-call curation export — dedup keep + leakage-safe split. */
  def q117CurationExport(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    curationExportFrom(d, jaccardPairs(d, 3))
  }

  /** Incremental cluster maintenance (q118 body): at corpus scale you do
    * NOT re-cluster the whole pair graph per ingest batch — you keep the
    * old labels and merge in only the new frontier. The old labels enter
    * as stars, one `(label, doc_id)` edge per labeled doc other than its
    * label, and [[components]] runs over those stars plus the frontier
    * pairs (`d2 ≥ splitId`, so at least one endpoint is new). The stars
    * connect exactly the old components, so the result is the
    * from-scratch per-component min, history-independent — which is
    * exactly what the oracle recomputes — while the edge set shrinks from
    * every old pair to one edge per old labeled doc.
    *
    * Old state here derives from the SAME pair relation restricted to
    * old×old (a real pipeline passes its materialized label table; the
    * restriction makes the oracle exact under the df cap, whose shingle
    * drops depend on corpus-wide frequencies). Output: q59's rollup plus
    * how many docs of each component arrived in the new batch. */
  def incrementalClustersFrom(allPairs: DataFrame, splitId: Long): DataFrame = {
    // NOTE: deliberately NOT persisted across the two passes — each
    // side's `d2` filter pushes through the pair aggregation into the
    // b-side shingle relation, so each pass computes a much SMALLER pair
    // join than the full relation; a persist would force one
    // full-relation materialization first and cost more cold-start than
    // the partial recomputation it saves (measured: cold 6s -> 9s at
    // sf0.1). A pipeline holding an already-persisted sharedPairs can
    // still pass it in and gets reuse for free.
    // d1 < d2 always, so "d2 old" ⇒ both endpoints old
    val oldStars = clusterLabels(allPairs.filter(col("d2") < lit(splitId)))
      .filter(col("doc_id") =!= col("label"))
      .select(col("label").as("d1"), col("doc_id").as("d2"))
    val frontier = nearDupEdges(allPairs.filter(col("d2") >= lit(splitId)))
    components(oldStars.unionByName(frontier))
      .groupBy(col("label").as("cluster_id")).agg(
        count(lit(1)).as("sz"),
        concat_ws(",", array_sort(collect_list(col("doc_id")))
          .cast("array<string>")).as("members"),
        count(when(col("doc_id") >= splitId, 1)).as("n_new"))
      .orderBy(col("cluster_id"))
  }

  /** q118: incremental clustering over the q96 batch boundary. */
  def q118IncrementalClusters(spark: SparkSession, dir: String): DataFrame =
    incrementalClustersFrom(jaccardPairs(Tables.documents(spark, dir), 3), 400L)

  /** Post-dedup mixture shift (q122 body): dedup is not mass-preserving
    * per source — a source whose docs are mostly copies of others loses
    * token mass under survivorship, so any mixture computed on the RAW
    * corpus (q90) misweights the corpus that actually trains. Output per
    * source: raw vs kept token mass, both shares, and the share SHIFT —
    * the decision-relevant number for re-running quota/mixture planning
    * (q83/q90) after dedup.
    *
    * The keep decision is q117's rep-partitioned window (kept ⇔ rank 1 in
    * its component; singletons trivially so); the shares ride the
    * q61-proven pct pattern and the shift subtracts two identically
    * rounded doubles (identical op order both engines, −0.0 normalized in
    * the oracle). One corpus scan; the rollup and the 1-row total
    * broadcast back. Another [[sharedPairs]] consumer. */
  def postDedupMixtureFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = clusterLabels(pairs)
    val ord = struct(col("n_tokens"), -col("doc_id"))
    val kept = ord === max(ord).over(Window.partitionBy(col("rep")))
    val bySrc = docs.select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("label"), col("doc_id")))
      .withColumn("kept", kept)
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens_raw"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L))
          .as("tokens_kept"))
    val tot = bySrc.agg(sum(col("tokens_raw")).as("tot_raw"),
      sum(col("tokens_kept")).as("tot_kept"))
    bySrc.crossJoin(broadcast(tot))
      .withColumn("raw_share", Exprs.pctOf(col("tokens_raw"), col("tot_raw"), 4))
      .withColumn("kept_share",
        Exprs.pctOf(col("tokens_kept"), col("tot_kept"), 4))
      .withColumn("share_shift",
        Exprs.dround(col("kept_share") - col("raw_share"), 4))
      .select(col("source"), col("n_docs"), col("tokens_raw"),
        col("tokens_kept"), col("raw_share"), col("kept_share"),
        col("share_shift"))
      .orderBy(col("source"))
  }

  /** q122: how survivorship dedup shifts the per-source token mixture. */
  def q122PostDedupMixture(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    postDedupMixtureFrom(d, jaccardPairs(d, 3))
  }

  /** MinHash signature: k permutations approximated by seeded xxhash64 of
    * each shingle; signature[i] = min over shingles. */
  def minhashSignature(shingles: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingles, s => xxhash64(s, i))))

  /** q25: MinHash+LSH dedup plumbing over documents — 16 minhashes, 4 bands ×
    * 4 rows; emits per-band bucket stats (buckets, docs, candidate pairs).
    * Rows-only (seeded xxhash64 is not reproducible in DuckDB SQL); the spec
    * checks identical docs always collide and the q24 Jaccard top pair is
    * recalled. At scale this is the pre-filter feeding `jaccardPairs`.
    *
    * Shape: explode shingles → one hash-aggregate computing all 16 minima —
    * fully codegen'd and linear. (The array-HOF formulation
    * ([[minhashSignature]]) is kept for per-row use, but nested lambdas are
    * interpreted and Catalyst's projection collapse re-inlines the shingle
    * construction into every one of the 16×4 references: 60× slower at
    * sf0.1.) */
  def q25MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    // non-distinct shingle rows: min-over-multiset equals min-over-set
    val sh = shingleRows(d, 3)
    val minCols = (0 until 16).map(i => min(xxhash64(col("s"), lit(i))).as(s"m$i"))
    val sig = sh.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    val bandKeys = (0 until 4).map(b =>
      xxhash64(concat_ws(",", (0 until 4).map(r => col(s"m${b * 4 + r}")): _*), lit(b)))
    sig.select(col("doc_id"), posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("sz"))
      .groupBy(col("band")).agg(
        count(lit(1)).as("n_buckets"),
        sum(col("sz")).as("n_docs"),
        sum(expr("sz * (sz - 1) div 2")).as("n_candidate_pairs"))
      .orderBy(col("band"))
  }

  /** q105: the MinHash/LSH banding machinery of q25, driver-verified
    * end-to-end — the q100 pattern applied to the second prop-only sketch.
    * Corpus = documents ∪ exact copies of every 7th doc (id + 1e6); dedup
    * marks a doc duplicate iff a banded candidate pair links it to an
    * earlier doc with an IDENTICAL 3-gram shingle set.
    *
    * Why the probabilistic structure has an exact oracle: at Jaccard = 1
    * the two docs' shingle sets are equal, so every minhash (min over the
    * same set) is equal, so every band key matches — candidate generation
    * has recall exactly 1.0, not probabilistically high. The verify stage
    * compares a canonical set digest (md5 of the sorted distinct-shingle
    * join), so banding false positives cannot leak. The DuckDB oracle
    * derives the same answer from set equality on an exhaustive self-join —
    * it assumes nothing about MinHash. Docs with no 3-gram (< 3 tokens)
    * have no signature on either engine and are never marked.
    *
    * Scale shape: one explode → ONE hash-aggregate computing all 16 minima
    * AND the digest, band keys unrolled per row, bucket self-join on the
    * 64-bit band key (linear for bounded buckets), digest equality checked
    * map-side before the pair distinct. */
  def q105MinhashBandDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
    val corpus = d.unionByName(
      d.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val buckets = bandedSignatures(corpus)
    val dupIds = buckets
      .select(col("key"), col("doc_id").as("d1"), col("digest").as("g1"))
      .join(buckets.select(col("key"), col("doc_id").as("d2"), col("digest").as("g2")),
        Seq("key"))
      .filter(col("d1") < col("d2") && col("g1") === col("g2"))
      .select(col("d2").as("doc_id")).distinct()
    corpus.join(dupIds.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        count(when(col("doc_id") >= 1000000L, 1)).as("n_planted"),
        count(when(col("is_dup"), 1)).as("n_dups"))
      .orderBy(col("source"))
  }

  /** The banded MinHash relation (key, doc_id, digest), one row per
    * (doc, band): 16 minhashes over 3-gram shingles, 4 bands × 4 rows,
    * plus the canonical set digest (md5 of the \u0001-joined sorted
    * distinct shingles —  cannot appear inside a space-split token,
    * so the digest is injective in the shingle SET). ONE explode → ONE
    * hash-aggregate computes all 16 minima and the digest; band keys
    * unroll per row (plan-time constants, whole-stage codegen). Shared by
    * q105 and the persisted band index (q151); docs with fewer than 3
    * tokens have no shingles, hence no rows here, on every engine. */
  def bandedSignatures(docs: DataFrame): DataFrame =
    explodeBandKeys(docSignatures(docs))

  /** The per-doc half of [[bandedSignatures]]: ONE hash-aggregate
    * computing all 16 minhashes + the set digest, one row per doc —
    * extracted (r22) so the gate can materialize it once and derive both
    * its band-exploded and per-doc views from the same rows. */
  private[graft] def docSignatures(docs: DataFrame): DataFrame = {
    val sh = shingleRows(docs, 3)
    val minCols = (0 until 16).map(i => min(xxhash64(col("s"), lit(i))).as(s"m$i"))
    val aggCols = minCols :+
      md5(concat_ws("\u0001", array_sort(collect_set(col("s"))))).as("digest")
    sh.groupBy(col("doc_id")).agg(aggCols.head, aggCols.tail: _*)
  }

  /** The band-key explode over a [[docSignatures]] relation (plan-time
    * constant keys, whole-stage codegen). */
  private[graft] def explodeBandKeys(sig: DataFrame): DataFrame = {
    val bandKeys = (0 until 4).map(b =>
      xxhash64(concat_ws(",", (0 until 4).map(r => col(s"m${b * 4 + r}")): _*), lit(b)))
    sig.select(col("doc_id"), col("digest"),
      explode(array(bandKeys: _*)).as("key"))
  }

  /** Build-or-reuse the PERSISTED band index over the base documents
    * corpus — the text twin of the q142 signature index: the
    * [[bandedSignatures]] relation written once as a key-bucketed table,
    * so ingest gates join it without shuffling the index side and the
    * signature/digest pass over the accepted corpus is paid at ingest,
    * never per gate call. Bucket count derives from the corpus (r13
    * rule). */
  def ensureBandIndex(spark: SparkSession, dir: String): String = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    graft.ops.Layouts.ensureTable(spark, "g_band_index_",
        graft.ops.Layouts.fileFp(s"$dir/documents.parquet"), "mh16b4r4",
        graft.ops.Layouts.Version) { (staging, owned) =>
      graft.sources.Sources.writeBucketed(bandedSignatures(d), staging,
        s"$owned/index", "key",
        graft.sim.IndexParams.indexBuckets(d.count(), 4))
    }
  }

  /** Text-side exact-content admission gate against the persisted band
    * index (the q150 embedding gate's text twin): a batch doc is
    * `exact_dup` iff some indexed doc shares its SHINGLE SET (band-key
    * collision + digest equality — recall is exactly 1 for set-equal
    * pairs since equal sets give equal minhashes in every band, and the
    * digest kills every banding false positive), `unique` otherwise;
    * `dup_of` is the smallest matching indexed doc. NEAR-dup admission
    * (Jaccard ∈ [θ, 1)) stays with q96's verified pair machinery — band
    * recall below 1 makes it LSH-noisy, so this gate deliberately decides
    * only the exact-content tier, which is deterministic for ANY input.
    * Distributed join, no driver collect (ingest batches are not serving
    * batches — the q150 rule). */
  def textGateBatch(spark: SparkSession, index: DataFrame,
                    batch: DataFrame): DataFrame = {
    // r22: materialize the per-doc signature aggregation ONCE. The gate
    // consumes it through two differently-pruned views (band-exploded
    // for the index join, (doc_id, digest) for the intra-batch tier),
    // and — the r21 q52 lesson — per-branch column pruning makes the
    // copies canonically different, so neither static ReuseExchange nor
    // AQE stage reuse ever deduped them: the shingle explode + 16-minhash
    // + digest aggregate over the batch ran FOUR times per gate call
    // (stage-verified: four 3-task agg stages per run, PLANS.md
    // r22; plans/r22/q153_before.txt). One bounded
    // localCheckpoint (|batch| rows × 16 longs + digest) ends that.
    val sig = docSignatures(batch).localCheckpoint()
    // matches feeds both the decision union and the clean anti-join —
    // without its own cut the whole index join would replay per consumer
    // (bounded: ≤|batch| rows, two columns)
    val matches = gateMatches(index, sig).localCheckpoint()
    // intra-batch tier: among index-clean docs, equal digests (⟺ equal
    // shingle sets) keep the smallest id — two batch copies of content
    // the index has never seen must still admit only one. Unlike the
    // vector gate's θ-band greedy rule this is EXACT equality, so it is
    // a true equivalence relation and min-id-per-class IS
    // sequential-accept semantics, not a conservative superset.
    // (sig is already one row per doc — the old band-exploded distinct
    // collapsed 4 identical rows back to exactly this relation)
    val clean = sig.select(col("doc_id"), col("digest"))
      .join(matches.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val wMin = Window.partitionBy(col("digest"))
    val batchDup = clean
      .withColumn("m", min(col("doc_id")).over(wMin))
      .filter(col("doc_id") > col("m"))
      .select(col("doc_id"), col("m").as("dup_of"))
    val dups = matches.withColumn("status", lit("exact_dup"))
      .unionByName(batchDup.withColumn("status", lit("batch_dup")))
    batch.select(col("doc_id"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("status"), lit("unique")).as("status"),
        col("dup_of"))
  }

  /** The gate's index tier BEFORE its localCheckpoint: the band-exploded
    * signatures bucket-aligned-joined to the index, digest-confirmed,
    * min base id per doc. `sig` is a [[docSignatures]] relation.
    * Extracted (r22) so the plan specs pin the REAL subtree's physical
    * claims (Bucketed: true — the index side never shuffles), which the
    * checkpoint hides from the final plan (the q52Nearest pattern). */
  private[graft] def gateMatches(index: DataFrame, sig: DataFrame): DataFrame = {
    val idx = index.select(col("key"),
      col("doc_id").as("base_id"), col("digest").as("base_digest"))
    explodeBandKeys(sig)
      .join(idx, Seq("key"))
      .filter(col("digest") === col("base_digest"))
      .groupBy(col("doc_id")).agg(min(col("base_id")).as("dup_of"))
  }

  /** q151's gate inputs (index table, planted batch) — exposed (r22) so
    * the plan spec pins [[gateMatches]] over the SAME inputs the query
    * serves, not a synthetic twin. */
  private[graft] def q151GateInputs(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val idx = ensureBandIndex(spark, dir)
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val copies = d.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val novel = d.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat_ws(" ", reverse(tokens(col("text")))).as("text"))
    (spark.table(idx), copies.unionByName(novel))
  }

  /** The appendable band index's MERGE-ON-READ view: rows carried by the
    * tombstone partition
    * ([[graft.streaming.Streaming.tombstoneBandRows]]) are anti-joined
    * out — (key, doc_id)-keyed; both sides are the same key-bucketed
    * table, so the anti-join rides the bucket partitioning with no
    * shuffle of the index. Feed this to [[textGateBatch]] and a deleted
    * document's content gates as `unique` again the moment its mark
    * lands — the re-admission contract a takedown implies — while the
    * physical rows wait for the next
    * [[graft.streaming.Streaming.foldIndexBase]] to purge them. */
  def liveBandIndex(spark: SparkSession, indexTable: String): DataFrame =
    liveBandRelation(spark.table(indexTable))

  /** [[liveBandIndex]] over an already-scoped relation (the streaming
    * gate excludes the batch's own partition first):
    * [[graft.streaming.Streaming.liveRelation]] keyed on (key, doc_id),
    * projected to (doc_id, digest, key). */
  def liveBandRelation(index: DataFrame): DataFrame =
    graft.streaming.Streaming.liveRelation(index, Seq("key", "doc_id"))
      .select(col("doc_id"), col("digest"), col("key"))

  /** q158: DELETION from the band index, gate-side observable — the q157
    * embedding-index deletion's text twin, and the decision that makes a
    * takedown REAL for ingest: after every 13th document is
    * tombstone-deleted, a re-ingest batch of their exact copies gates as
    * `unique` (re-admitted — no surviving set-equal corpus doc), while
    * copies of still-indexed documents keep gating `exact_dup`. Both
    * tiers stay oracle-EXACT for any input (the q151 argument: band
    * recall is exactly 1 for shingle-set-equal pairs, the digest kills
    * banding false positives, and deletion only shrinks the corpus side
    * of the set-equality relation — which DuckDB recomputes exhaustively
    * over corpus-minus-deleted). Natural text duplicates are handled by
    * the same recompute: a deleted doc whose text survives under another
    * id still gates its copy `exact_dup` against that survivor, on both
    * engines. */
  def q158TextDeleteGate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val buckets = graft.sim.IndexParams.indexBuckets(d.count(), 4)
    // staged ensure (the q145 rule): the table publishes only after the
    // tombstones landed — never serve a half-built deletion
    val idx = graft.ops.Layouts.ensureTable(spark, "g_band_del_idx_",
        graft.ops.Layouts.fileFp(s"$dir/documents.parquet"), s"del$buckets",
        graft.ops.Layouts.Version) { (staging, owned) =>
      graft.streaming.Streaming.createAppendableBandIndex(spark, staging,
        s"$owned/index", buckets)
      graft.streaming.Streaming.appendBandBatch(d, 0L, staging)
      graft.streaming.Streaming.tombstoneBandRows(spark, staging,
        d.filter(col("doc_id") % 13 === 0))
    }
    val batch = d.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 4000000L).as("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
    textGateBatch(spark, liveBandIndex(spark, idx), batch)
      .orderBy(col("doc_id"))
  }

  /** q151: the text admission gate over a planted ingest batch — copies
    * of every 13th base doc (certain `exact_dup`: identical text ⇒ equal
    * shingle set) plus token-REVERSED every-17th docs (new shingle sets ⇒
    * `unique`; short docs with no 3-gram are unique by no-signature on
    * both engines). The decision is a pure function of shingle-set
    * equality, which DuckDB recomputes exhaustively — exact for any
    * banding outcome, the q105 argument operationalized as a gate. */
  def q151TextGateIndex(spark: SparkSession, dir: String): DataFrame = {
    val (index, batch) = q151GateInputs(spark, dir)
    textGateBatch(spark, index, batch).orderBy(col("doc_id"))
  }

  /** q153: the INGEST ADMISSION FUNNEL — what one gate tick admits and
    * why, per source: the q151 exact-content decisions (dup_index /
    * dup_batch against the persisted band index) take precedence, the
    * C4 quality rules ([[c4Rules]], q48's thresholds) judge the
    * survivors, and everything left is admitted. The operational
    * complement of q76's corpus-wide curation funnel: q76 audits the
    * corpus you already have, q153 audits the batch at the door. Every
    * tier is individually oracle-exact (set equality; the q48 rule
    * expressions), so their composition is too. */
  def q153IngestFunnel(spark: SparkSession, dir: String): DataFrame = {
    val idx = ensureBandIndex(spark, dir)
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val copies = d.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("source"),
        col("text"))
    val novel = d.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("source"),
        concat_ws(" ", reverse(tokens(col("text")))).as("text"))
    // upper-casing flips every letter into the symbol class ([^a-z0-9 ])
    // — a deterministic quality_reject that still passes the gate (the
    // upper-cased shingle set matches nothing indexed)
    val lowQuality = d.filter(col("doc_id") % 19 === 0)
      .select((col("doc_id") + 4000000L).as("doc_id"), col("source"),
        upper(col("text")).as("text"))
    val batch = copies.unionByName(novel).unionByName(lowQuality)
    val gate = textGateBatch(spark, spark.table(idx),
      batch.select(col("doc_id"), col("text")))
    val (rLen, rWordLen, rSymbol, rRep) = c4Rules(col("text"))
    val keepQ = rLen && rWordLen && rSymbol && rRep
    batch.join(gate.select(col("doc_id"), col("status")), Seq("doc_id"))
      .withColumn("verdict",
        when(col("status") === "exact_dup", lit("dup_index"))
          .when(col("status") === "batch_dup", lit("dup_batch"))
          .when(!keepQ, lit("quality_reject"))
          .otherwise(lit("admitted")))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_batch"),
        count(when(col("verdict") === "dup_index", 1)).as("n_dup_index"),
        count(when(col("verdict") === "dup_batch", 1)).as("n_dup_batch"),
        count(when(col("verdict") === "quality_reject", 1))
          .as("n_quality_reject"),
        count(when(col("verdict") === "admitted", 1)).as("n_admitted"))
      .orderBy(col("source"))
  }

  /** q106: maximal repeated cross-document token spans — the exact-substring
    * dedup primitive (a 3-gram position is "duplicated" iff its gram occurs
    * in ≥ 2 distinct docs; maximal runs of consecutive duplicated positions
    * are the repeated spans). Per doc: span count, longest span in tokens,
    * duplicated-position fraction; top 20 docs by that fraction. This is the
    * span-level complement of q24's set-level Jaccard: q24 says WHICH docs
    * overlap, q106 says HOW MUCH contiguous text is shared verbatim.
    *
    * Scale shape: the gram relation is one kernel pass over the scan
    * (posexplode of [[graft.functions.WordShingles]] — positions for free,
    * no window over raw tokens); cross-doc detection is a min≠max window
    * riding one hash partitioning on the gram (not a groupBy + semi-join,
    * which would scan the gram relation twice); the island window
    * (partition doc_id) then runs over the duplicated subset only. Every
    * shuffle is keyed (gram, then doc_id); nothing is collected. The
    * island trick (pos − row_number) turns maximal-run detection into a
    * plain groupBy — no iterative pass.
    *
    * Engine parity: island groups are invariant to the 0- vs 1-based
    * position offset (a constant shift cancels in pos − row_number, span
    * length is max−min+n on both); dup_frac is a ratio of two exact BIGINTs
    * (identical double on both engines per the q98 rule). */
  def q106RepeatedSpans(spark: SparkSession, dir: String): DataFrame =
    repeatedSpans(Tables.documents(spark, dir))

  /** q106 body over any (doc_id, text) relation — see [[q106RepeatedSpans]]. */
  def repeatedSpans(d: DataFrame): DataFrame = {
    graft.functions.WordShinglesFunction.register(d.sparkSession)
    val grams = d.select(col("doc_id"),
      posexplode(call_function("word_shingles", col("text"), lit(3)))
        .as(Seq("pos", "s")))
    // "occurs in ≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id) over the
    // gram — a window riding ONE hash partitioning on `s`, instead of a
    // groupBy + semi-join that scans the gram relation twice (same trick
    // as jaccardPairs' df cap)
    val wS = Window.partitionBy(col("s"))
    val hits = grams
      .withColumn("multi",
        min(col("doc_id")).over(wS) =!= max(col("doc_id")).over(wS))
      .filter(col("multi")).drop("multi")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = hits
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("n_pos"),
        (max(col("pos")) - min(col("pos")) + 3).as("span_tokens"))
    val tot = d.select(col("doc_id"),
        (size(tokens(col("text"))) - 2).cast("long").as("n_grams"))
      .filter(col("n_grams") >= 1)
    tot.join(spans, Seq("doc_id"), "left")
      .groupBy(col("doc_id"), col("n_grams")).agg(
        count(col("grp")).as("n_spans"),
        coalesce(max(col("span_tokens")), lit(0)).cast("long").as("max_span_tokens"),
        coalesce(sum(col("n_pos")), lit(0)).cast("long").as("dup_positions"))
      .select(col("doc_id"), col("n_spans"), col("max_span_tokens"),
        col("dup_positions"), col("n_grams"),
        Exprs.dround(col("dup_positions") / col("n_grams").cast("double"), 6)
          .as("dup_frac"))
      .orderBy(col("dup_frac").desc, col("doc_id")).limit(20)
  }

  /** 64-bit SimHash over tokens: bit j is the sign of Σ_tokens ±1 weighted
    * by bit j of the token's hash. Near-identical docs land within a small
    * Hamming distance (`bit_count(a ^ b)`). Built from 64 independent bit
    * expressions with literal shift amounts — pure codegen, no UDF. */
  def simhash64(toks: Column): Column = {
    val hs = transform(toks, t => xxhash64(t))
    (0 until 64).map { j =>
      val bitSum = aggregate(hs, lit(0),
        (a, h) => a + when(shiftright(h, j).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(bitSum >= 0, lit(1L) * lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _) // disjoint powers of two: addition == bitwise OR
  }

  /** Winnowing document fingerprints (rolling k-gram hashes, min per
    * w-window, distinct): robust selection of representative hashes — the
    * local-min guarantee means any shared substring of length ≥ w+k-1
    * contributes at least one shared fingerprint. */
  def winnowFingerprints(toks: Column, k: Int, w: Int): Column = {
    val hs = transform(wordShinglesOrdered(toks, k), s => xxhash64(s))
    when(size(hs) >= w,
      array_distinct(transform(sequence(lit(0), size(hs) - w),
        i => array_min(slice(hs, i + lit(1), lit(w))))))
      .when(size(hs) > 0, array(array_min(hs)))
      .otherwise(array().cast("array<bigint>"))
  }

  /** q140: SimHash-band dedup with planted copies and an exact oracle —
    * the q138/q139 pattern applied to the last big prop-only index family
    * (q37's fingerprints): corpus = documents ∪ exact text copies of every
    * 13th doc under shifted ids; candidates = pairs sharing ANY 16-bit band
    * of the 64-bit SimHash (the classic Hamming≤3 pigeonhole banding);
    * verify = exact content equality on the md5 digest (the q23 contract);
    * keep-first marks the higher id.
    *
    * Why the seeded-hash index has an exact oracle: an exact copy has
    * identical text → identical SimHash → shares every band with its
    * original, so each planted pair is a CERTAIN candidate — recall is 1.0
    * by construction, not probabilistically — and the md5 verify removes
    * every non-identical candidate. The output is exactly the
    * identical-content duplicate set, which DuckDB recomputes from an
    * md5-equality join assuming nothing about SimHash; a band-extraction
    * bug, sign error in the bit sums, or a broken explode would all break
    * recall and flip the driver hash.
    *
    * Scale shape (r12 rewrite): fingerprint is the one-pass native kernel
    * (q37's); band width derives from the corpus count
    * ([[graft.sim.IndexParams.simhashBandBits]]); and the candidate stage
    * is [[simhashBandDupIds]]'s min-per-(band, digest) window star — NO
    * pair join anywhere, so a hot band of m identical documents costs m
    * window rows instead of the old self-join's m²/2 pairs (the r11
    * verdict's straggler scenario). The N² pass exists only in the
    * oracle. */
  def q140SimhashPlanted(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Simhash64Function.register(spark)
    val offset = 6000000L
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val corpus =
      graft.sim.Similarity.plantedCorpus(d, every = 13, offset, idCol = "doc_id")
    // r13 convention: band width derives from the BASE corpus count (the
    // same rule as every other IndexParams site; output-invariant — the
    // planted argument above holds at either width)
    val bandBits = graft.sim.IndexParams.simhashBandBits(d.count())
    val fp = corpus.select(col("doc_id"), col("source"),
      md5(col("text")).as("digest"),
      call_function("simhash64", col("text")).as("sig"))
    val dupIds = simhashBandDupIds(fp, bandBits)
    corpus.join(dupIds.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        count(when(col("doc_id") >= offset, 1)).as("n_planted"),
        count(when(col("is_dup"), 1)).as("n_dups"))
      .orderBy(col("source"))
  }

  /** Exact-content duplicate ids found through SimHash banding: doc j is a
    * dup iff some i < j with identical digest shares a band with it —
    * i.e. iff j exceeds the min doc_id of one of its (band, digest)
    * groups. That min rides ONE window over the banded relation (same
    * bits as the old band self-join's `i < j ∧ da = db` pair predicate,
    * TextOpsSpec-pinned), so candidate work is LINEAR in corpus × bands:
    * a hot band — the near-constant-document pathology that made the pair
    * join's worst case quadratic — costs its occupancy in window rows, in
    * one task, full stop. Input `fp` needs (doc_id, digest, sig).
    *
    * Band key: position index folded ABOVE the band's own bits (disjoint
    * keyspace per position — the q27/q100 signature-folding rule), width
    * from [[graft.sim.IndexParams.simhashBandBits]]'s corpus-count rule. */
  def simhashBandDupIds(fp: DataFrame, bandBits: Int): DataFrame = {
    require(64 % bandBits == 0, s"band bits must divide 64, got $bandBits")
    val banded = fp.withColumn("band",
      explode(array((0 until (64 / bandBits)).map(b =>
        lit(b.toLong << bandBits) +
          shiftright(col("sig"), bandBits * b).bitwiseAND(lit((1L << bandBits) - 1))): _*)))
    val wBD = Window.partitionBy(col("band"), col("digest"))
    banded
      .withColumn("first_id", min(col("doc_id")).over(wBD))
      .filter(col("doc_id") > col("first_id"))
      .select(col("doc_id")).distinct()
  }

  /** q37: per-source fingerprint stats — winnowing fingerprints (k=3, w=4)
    * + SimHash. Rows-only (seeded hashes are engine-specific); the spec
    * asserts near-dup docs share fingerprints and sit at small Hamming
    * distance while unrelated docs do not.
    *
    * Scale shape: both fingerprints are native one-pass kernels
    * ([[graft.functions.Simhash64]] / [[graft.functions.WinnowFps]]) —
    * per-row, partition-local, no explode/aggregate/window at all, so the
    * only shuffle left is the per-source rollup. Earlier formulations
    * (array-HOF: 64 interpreted lambdas per doc; row-based: explode + a
    * 64-column aggregate + a per-doc window) were both corpus-scale
    * bottlenecks — the kernel ladder is the CLAUDE.md shingle rule applied
    * to fingerprinting. */
  def q37Fingerprints(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Simhash64Function.register(spark)
    graft.functions.WinnowFpsFunction.register(spark)
    Tables.documents(spark, dir)
      .select(col("source"),
        call_function("simhash64", col("text")).as("simhash"),
        size(call_function("winnow_fps", col("text"), lit(3), lit(4)))
          .as("n_fps"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        Exprs.dround(avg(col("n_fps")), 4).as("avg_fps"),
        countDistinct(col("simhash")).as("n_distinct_simhash"))
      .orderBy(col("source"))
  }

  /** q44: token counting three ways (brief: whitespace + a BPE-ish regex) —
    * whitespace tokens, regex subword-ish tokens (letter runs / digit runs /
    * single other-glyphs, the GPT-2-style pre-tokenizer shape), characters.
    * Per-source totals so the oracle stays compact. */
  def q44TokenCounts(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TokenCountFunction.register(spark)
    val d = Tables.documents(spark, dir)
    // native codegen counter: one byte pass, no token-array materialization
    // (size(tokens(...)) runs its lambda interpreted — see TokenCount)
    val wsTokens = call_function("token_count", col("text"))
    val bpeish = size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
    d.withColumn("n_ws", wsTokens)
      .withColumn("n_bpeish", bpeish)
      .withColumn("n_chars_m", length(col("text")))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("ws_tokens"),
        sum(col("n_bpeish")).as("bpeish_tokens"),
        sum(col("n_chars_m")).as("chars"),
        Exprs.dround(sum(col("n_bpeish")) / sum(col("n_ws")), 4).as("bpe_per_ws"))
      .orderBy(col("source"))
  }

  /** The four C4-ish cleaning rules over a text column — (length band,
    * mean-word-length band, symbol-ratio cap, repetition floor) — shared
    * by q48 (per-rule accounting, lenient thresholds) and q76 (the corpus
    * funnel, training-grade thresholds that visibly bite on this corpus). */
  private[text] def c4Rules(text: Column, minTok: Int = 10,
                            repFloor: Double = 0.1)
      : (Column, Column, Column, Column) = {
    val t = tokens(text)
    val nTok = size(t)
    val meanWordLen = (length(text) - (nTok - 1)) / nTok.cast("double")
    val symbolRatio = (length(text) -
      length(regexp_replace(text, "[^a-z0-9 ]", ""))) / length(text).cast("double")
    val repRatio = size(array_distinct(t)) / nTok.cast("double")
    (nTok.between(minTok, 1000), meanWordLen.between(2.0, 12.0),
      symbolRatio <= 0.1, repRatio >= repFloor)
  }

  /** q48: C4-style document cleaning rules — each rule is an independent
    * boolean column, the verdict their conjunction, accounting per source
    * (the keep/drop split every training-data pipeline reports). Rules are
    * deliberately simple ratios: min/max length, mean word length band,
    * symbol ratio cap, repetition cap (distinct/total floor). */
  def q48QualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val (rLen, rWordLen, rSymbol, rRep) = c4Rules(col("text"))
    val keep = rLen && rWordLen && rSymbol && rRep
    d.withColumn("keep", keep)
      .withColumn("fail_len", !rLen).withColumn("fail_wordlen", !rWordLen)
      .withColumn("fail_symbol", !rSymbol).withColumn("fail_rep", !rRep)
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        count(when(col("keep"), 1)).as("n_kept"),
        count(when(col("fail_len"), 1)).as("n_fail_len"),
        count(when(col("fail_wordlen"), 1)).as("n_fail_wordlen"),
        count(when(col("fail_symbol"), 1)).as("n_fail_symbol"),
        count(when(col("fail_rep"), 1)).as("n_fail_rep"))
      .orderBy(col("source"))
  }

  /** q49: benchmark decontamination — flag corpus docs sharing any 5-gram
    * with the "benchmark" set (doc_id < 10 stands in for the eval set).
    * The join is benchmark-shingles (tiny, broadcast) against corpus
    * shingles — at 100 TB the benchmark side is always the broadcast side
    * and the corpus side streams, so decontamination costs one scan. */
  /** Distinct doc_ids of `corpus` docs sharing any word n-gram with the
    * (small) `bench` set — broadcast-benchmark-shingles contamination join,
    * shared by q49 (the report) and q76 (the funnel stage). */
  def contaminatedDocIds(corpus: DataFrame, bench: DataFrame,
                         n: Int = 5): DataFrame = {
    val benchSh = shingleRows(bench, n).select(col("s")).distinct()
    shingleRows(corpus, n).join(broadcast(benchSh), "s")
      .select(col("doc_id")).distinct()
  }

  def q49Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val contaminated =
      contaminatedDocIds(d.filter(col("doc_id") >= 10), d.filter(col("doc_id") < 10))
    d.filter(col("doc_id") >= 10)
      .join(contaminated.withColumn("contaminated", lit(true)), Seq("doc_id"), "left")
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        count(when(col("contaminated"), 1)).as("n_contaminated"))
      .orderBy(col("source"))
  }

  /** q57: Gopher-style repetition signals (Rae et al. 2021 §A1.1, public
    * paper; also the reference-free half of every modern corpus filter) —
    * duplicate-word fraction, top-word fraction and top-bigram fraction per
    * document, flags at corpus-tuned thresholds, keep = no flag.
    *
    * Scale shape: posexplode → two hash aggregations keyed by (doc_id,
    * gram); bigram adjacency is a lead window partitioned by doc_id —
    * every stage is keyed on doc_id (or finer), so the plan is
    * embarrassingly parallel and no stage ever sees a whole-corpus key.
    * No array higher-order functions (they never reach codegen — CLAUDE.md
    * perf rules); everything is row-based. */
  def q57RepetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
    val words = d.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
    val wordCounts = words.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("n"))
    val wordStats = wordCounts.groupBy(col("doc_id")).agg(
      sum(col("n")).as("total_words"),
      count(lit(1)).as("distinct_words"),
      max(col("n")).as("top_word_n"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigramCounts = words
      .withColumn("nxt", lead(col("word"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("doc_id"), concat_ws(" ", col("word"), col("nxt")).as("bigram"))
      .agg(count(lit(1)).as("n"))
    val bigramStats = bigramCounts.groupBy(col("doc_id")).agg(
      max(col("n")).as("top_bigram_n"),
      sum(col("n")).as("total_bigrams"))
    val scored = wordStats.join(bigramStats, "doc_id")
      .withColumn("dup_word_frac", Exprs.dround(
        lit(1.0) - col("distinct_words") / col("total_words"), 6))
      .withColumn("top_word_frac", Exprs.dround(
        col("top_word_n") / col("total_words"), 6))
      .withColumn("top_bigram_frac", Exprs.dround(
        col("top_bigram_n") / col("total_bigrams"), 6))
    val fDup = col("dup_word_frac") > 0.65
    val fWord = col("top_word_frac") > 0.13
    val fBigram = col("top_bigram_frac") > 0.06
    scored
      .withColumn("flag_dup_words", fDup)
      .withColumn("flag_top_word", fWord)
      .withColumn("flag_top_bigram", fBigram)
      .withColumn("keep", !fDup && !fWord && !fBigram)
      .select(col("doc_id"), col("total_words"), col("distinct_words"),
        col("dup_word_frac"), col("top_word_frac"), col("top_bigram_frac"),
        col("flag_dup_words"), col("flag_top_word"), col("flag_top_bigram"),
        col("keep"))
      .orderBy(col("doc_id"))
  }

  /** q59: near-dup cluster assignment + canonical selection — the last mile
    * of corpus dedup: pair detection (q24/q25/q38) only yields edges; the
    * pipeline needs each doc's connected component so ONE canonical doc per
    * component survives. Components via [[components]]: driver union-find
    * while the edge set fits the broadcast threshold, star contraction
    * above it; either way each component is labeled by its min doc_id.
    *
    * Oracle: transitive closure via WITH RECURSIVE + min per doc —
    * identical component labels, independently derived. */
  def q59DupClusters(spark: SparkSession, dir: String): DataFrame =
    dupClustersFrom(jaccardPairs(Tables.documents(spark, dir), 3))

  /** q59 body over a (possibly [[sharedPairs]]-persisted) pair relation. */
  def dupClustersFrom(allPairs: DataFrame): DataFrame =
    clusterRollup(clusterLabels(allPairs))

  /** The near-dup graph's edges: pairs at Jaccard ≥ 0.4, as `(d1, d2)`. */
  private def nearDupEdges(allPairs: DataFrame): DataFrame =
    allPairs.filter(col("jaccard") >= 0.4).select(col("d1"), col("d2"))

  /** Component labels for the near-dup graph — the (doc_id, label)
    * relation underneath q59's rollup, shared by the survivorship pick
    * (q114), the cluster-safe split (q115), the curation export (q117) and
    * the mixture audit (q122). Only docs that appear in at least one edge
    * are labeled (every label names a component of size ≥ 2). */
  def clusterLabels(allPairs: DataFrame): DataFrame =
    components(nearDupEdges(allPairs))

  /** Bytes per edge or label row in the broadcast size rule. */
  private val BytesPerRow = 32L

  /** Connected components of an edge relation `(d1, d2)`: one
    * `(doc_id, label)` row per node, labeled by its component's min id.
    * The canonical `(least, greatest)` edge set is checkpointed once and
    * sized against the session's `autoBroadcastJoinThreshold` at
    * [[BytesPerRow]] a row:
    *
    *   - at most `threshold / 32` edges: they are collected and unioned on
    *     the driver ([[unionFind]]). The labels come back as a
    *     broadcast-hinted local relation: Catalyst knows its size, so the
    *     corpus ⋈ labels joins broadcast without a sizing job;
    *   - above it: [[starComponents]] over the checkpointed set, O(log n)
    *     distributed rounds; its labels (a plan over checkpointed RDDs,
    *     which carry no size statistics) broadcast when their counted rows
    *     fit the same rule.
    *
    * Local work while the edge set is bounded, a distributed merge above
    * the bound — REPOSE's pattern (ICDE 2021). */
  def components(edges: DataFrame): DataFrame = {
    val canon = edges.select(least(col("d1"), col("d2")).as("d1"),
      greatest(col("d1"), col("d2")).as("d2")).distinct().localCheckpoint()
    val thr = edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val cap = thr / BytesPerRow
    Option.when(thr > 0)(canon.limit(math.min(cap + 1, Int.MaxValue).toInt).collect())
      .filter(_.length <= cap) match {
      case Some(local) =>
        broadcast(edges.sparkSession.createDataFrame(
          unionFind(local.map(r => (r.getLong(0), r.getLong(1))))).toDF("doc_id", "label"))
      case None =>
        val labels = starComponents(canon)
        if (thr > 0 && labels.count() <= cap) broadcast(labels) else labels
    }
  }

  /** `(node, component min)` for every node of `edges`: the smaller root
    * becomes the root of each union, so every root is its component's min.
    * Iterative find with path halving — union-by-min can build chains as
    * deep as the component, too deep for a recursive find. */
  private def unionFind(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val root = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (root.getOrElse(r, r) != r) { root(r) = root(root(r)); r = root(r) }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      root(ra) = ra min rb; root(rb) = ra min rb
    }
    root.keys.toSeq.map(k => k -> find(k))
  }

  /** Per-component rollup shared by q59 and q104:
    * (doc_id, label) → (cluster_id, size, member list, dup count). */
  def clusterRollup(labels: DataFrame): DataFrame =
    labels.groupBy(col("label").as("cluster_id")).agg(
        count(lit(1)).as("sz"),
        concat_ws(",", array_sort(collect_list(col("doc_id")))
          .cast("array<string>")).as("members"))
      .withColumn("n_dups", col("sz") - 1)
      .orderBy(col("cluster_id"))

  /** Connected components via alternating large-star / small-star edge
    * contraction — [[components]]' branch for edge sets above the
    * broadcast threshold (public algorithm: Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Star contraction
    * converges in O(log n) rounds on ANY topology, which is what survives
    * a web-scale dedup graph whose chains (A~B~C~... drift chains) can be
    * thousands of hops long.
    *
    *   - large-star: every node points its larger-id neighbors at the
    *     minimum of its closed neighborhood (strictly decreases larger-id
    *     edges; keeps the graph connected).
    *   - small-star: every node folds itself and its smaller-id neighbors
    *     onto that minimum.
    *
    * Fixpoint = star forests rooted at each component's min id — the same
    * labels the driver union-find returns, so the two branches are
    * result-interchangeable (spec-asserted) and q104 shares q59's oracle.
    *
    * Plan shape per round: each star op is ONE window-min over the
    * neighborhood orientation (hash shuffle on the grouping node) — no
    * join, no driver-side state. Only small-star's output is
    * `distinct`ed (large-star's bounded per-round duplicates feed the
    * next window unchanged — a dedup there is a pure extra shuffle), so
    * the edge SET shrinks-or-holds per round pair. `localCheckpoint`
    * truncates the iterative lineage (plain, not partitioning-keeping:
    * the two ops window on different keys by construction, so no
    * partitioning survives a round anyway). Convergence check: a
    * (count, xxhash64-xor) set signature read in ONE action off the
    * checkpointed set — no comparison shuffle (xor, not sum: ANSI mode
    * aborts on Long-sum overflow, and the edges are distinct so xor
    * cancellation needs a hash collision anyway); a colliding non-equal
    * round pair would only cost one early stop, and the oracle/specs
    * pin end-state correctness. */
  def starComponents(pairs: DataFrame): DataFrame = {
    val maxIter = 30
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("a"), col("b")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var edges = pairs
      .select(least(col("d1"), col("d2")).as("a"),
        greatest(col("d1"), col("d2")).as("b"))
      .distinct().localCheckpoint()
    // nodes from the CHECKPOINTED set: deriving them from `pairs` would
    // materialize the (expensive) upstream pair relation a second time
    val nodes = edges.select(col("a").as("doc_id"))
      .unionByName(edges.select(col("b").as("doc_id"))).distinct()
    var sig = signature(edges)
    var converged = sig._1 == 0L
    var iter = 0
    val wU = Window.partitionBy(col("u"))
    // one large-star + small-star contraction round as a pure
    // transformation (no action, no checkpoint)
    def round(es: DataFrame): DataFrame = {
      // large-star over both orientations of the canonical set
      val nbr = es.select(col("a").as("u"), col("b").as("v"))
        .unionByName(es.select(col("b").as("u"), col("a").as("v")))
      val large = nbr
        .withColumn("m", least(min(col("v")).over(wU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))    // m ≤ u < v: canonical
      // small-star on (larger → smaller) orientation: u folds itself and
      // every smaller neighbor onto the neighborhood minimum
      val oriented = large.select(col("b").as("u"), col("a").as("v"))
      val withMin = oriented.withColumn("m", min(col("v")).over(wU))
      withMin.filter(col("v") =!= col("m"))
        .select(col("m").as("a"), col("v").as("b"))
        .unionByName(withMin.select(col("m").as("a"), col("u").as("b")))
        .filter(col("a") =!= col("b"))                 // u may BE the min's peer
        .distinct()
    }
    // r22 REJECTED WITH NUMBERS (VERDICT r21 item 4, don't retry): running
    // TWO contraction rounds per checkpoint + signature to halve the
    // driver-paced actions measured SLOWER, not faster — same-session
    // q104 at sf0.1/32c (PLANS.md r22): batched 31 jobs / 5.4-7.1 s warm vs
    // per-round 25 jobs / 3.1-4.2 s. Convergence is only detectable at a
    // pair boundary, so a fixpoint reached mid-pair costs a FULL extra
    // pair (a graph converging at round k runs ~2·ceil((k+1)/2) rounds),
    // and the deeper per-checkpoint lineage planned MORE AQE stage jobs,
    // not fewer. The per-round check below stays.
    while (!converged && iter < maxIter) {
      val small = round(edges).localCheckpoint()
      val sig2 = signature(small)
      converged = sig2 == sig
      edges = small
      sig = sig2
      iter += 1
    }
    // a silent unconverged exit would extract labels off a non-star edge set
    require(converged || sig._1 == 0L,
      s"star contraction did not converge in $iter rounds (round count is " +
        "log-bounded, so this indicates a bug, not scale)")
    // fixpoint is a star forest rooted at component minima: every non-root
    // carries exactly (root, v); roots label themselves
    nodes.join(edges.select(col("b").as("doc_id"), col("a").as("root")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("label"))
  }

  /** q104: q59's clustering forced through the star-contraction branch
    * of [[components]] whatever the edge count — identical output (shared
    * oracle), distributed iteration; the entry that driver-verifies the
    * web-scale component algorithm end-to-end, the way q100
    * driver-verifies the LSH path. */
  def q104DupClustersStar(spark: SparkSession, dir: String): DataFrame =
    clusterRollup(starComponents(
      nearDupEdges(jaccardPairs(Tables.documents(spark, dir), 3))))

  /** q96: incremental-batch dedup gate — the admission check a continuous
    * ingestion pipeline runs on each incoming batch (here: doc_id ≥ split)
    * against the already-kept corpus: exact duplicates via the normalized
    * bag-of-words key (q23's), near-duplicates via capped 3-gram Jaccard
    * (q24's machinery) restricted to (old, new) pairs, classified
    * exact > near > unique and rolled up per source.
    *
    * Scale shape: the exact path is one hash semi-join on a 32-byte key —
    * new-batch-sized, not corpus-sized. The near path reuses
    * [[jaccardPairs]] with its sides restricted to old×new (the candidate
    * join emits only cross-batch pairs — no old×old fan-out — while
    * denominators and the df cap still see the full corpus), and the OLD
    * join input carries a shingle→batch bloom pre-filter: a bloom built
    * over the NEW batch's raw shingle stream (a pushdown-pruned scan of
    * the batch docs + partition-local kernel explode — no distinct, no
    * shuffle: duplicate shingles re-set the same bits) probes the old
    * side's capped shingle relation before the candidate join. The bloom
    * is built over the small side by contract — the batch — so its bits
    * stay sharp at ANY corpus size, and the relation it prunes is the
    * corpus-scale one. Results are bitwise identical with the filter on
    * or off: the raw new-side shingle set is a superset of the capped one
    * the join matches against, blooms have no false negatives (same
    * XxHash64 seed on both sides), and false positives merely pass old
    * rows that find no join partner (DedupGateSpec pins the equality;
    * PlanQualitySpec pins the might_contain filter in the plan). */
  def q96IncrementalDedup(spark: SparkSession, dir: String,
                          splitId: Long = 400L,
                          bloomPrefilter: Boolean = true): DataFrame = {
    val d = Tables.documents(spark, dir)
    val aJoinFilter = if (!bloomPrefilter) lit(true) else {
      graft.functions.BloomFunctions.register(spark)
      // 2^22 bits (512 KiB serialized) for an expected ~1M distinct batch
      // shingles — fixed at build time, so the collected literal is
      // driver-safe by construction, not by guard
      val bloom = shingleRows(d, 3).filter(col("doc_id") >= splitId)
        .agg(call_function("graft_bloom_agg", col("s"),
          lit(1000000L), lit(1L << 22)))
        .head.getAs[Array[Byte]](0)
      // an empty batch has no shingles, hence no near-dup candidates: the
      // aggregate yields NULL and the join input legitimately empties
      if (bloom == null) lit(false)
      else call_function("graft_bloom_might_contain", lit(bloom), col("s"))
    }
    incrementalDedupFrom(d,
      jaccardPairs(d, 3,
        aSide = col("doc_id") < splitId, bSide = col("doc_id") >= splitId,
        aJoinFilter = aJoinFilter),
      splitId)
  }

  /** q96 body over a precomputed pair relation. Standalone q96 passes the
    * side-restricted join (no old×old fan-out is ever generated); a
    * pipeline that already holds [[sharedPairs]] passes that instead — the
    * cross-batch filter below makes both give identical results, because
    * side restriction never changes a surviving pair's score (denominators
    * and the df cap always see the full corpus). */
  def incrementalDedupFrom(d: DataFrame, pairs: DataFrame,
                           splitId: Long): DataFrame = {
    val normKey = md5(concat_ws(" ", array_sort(tokens(col("text")))))
    val newB = d.filter(col("doc_id") >= splitId)
    val oldKeys = d.filter(col("doc_id") < splitId)
      .select(normKey.as("k")).distinct()
    val exactIds = newB.withColumn("k", normKey)
      .join(oldKeys, Seq("k"), "left_semi")
      .select(col("doc_id")).withColumn("is_exact", lit(true))
    // pairs carry d1 < d2, so "exactly one side is old" ≡ d1 old ∧ d2 new
    val nearIds = pairs
      .filter(col("d1") < splitId && col("d2") >= splitId)
      .filter(col("jaccard") >= 0.4)
      .select(col("d2").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    newB
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .withColumn("status",
        when(col("is_exact"), "exact_dup")
          .when(col("is_near"), "near_dup")
          .otherwise("unique"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_new"),
        count(when(col("status") === "exact_dup", 1)).as("n_exact"),
        count(when(col("status") === "near_dup", 1)).as("n_near"),
        count(when(col("status") === "unique", 1)).as("n_unique"))
      .withColumn("unique_pct", Exprs.pctOf(col("n_unique"), col("n_new"), 2))
      .orderBy(col("source"))
  }

  /** q72: corpus vocabulary statistics — the token-frequency table every
    * BPE/tokenizer build and corpus audit starts from: top tokens by
    * document frequency with term frequency, source spread, and document
    * coverage.
    *
    * Scale shape: two-level aggregation — (token, doc) partial counts get
    * a map-side combine before the token-level rollup, so no reducer ever
    * sees one row per occurrence of a hot token, only one row per (token,
    * doc). Document frequency is then a plain count (not a distinct) and
    * the only countDistinct left (source) runs over doc-level rows. The
    * corpus size joins in as a broadcast 1-row aggregate (J4 shape). */
  def q72VocabStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val perDoc = d
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok"), col("doc_id"), col("source"))
      .agg(count(lit(1)).as("c"))
    val stats = perDoc.groupBy(col("tok")).agg(
      sum(col("c")).as("tf"),
      count(lit(1)).as("df"),
      countDistinct(col("source")).as("n_sources"))
    val tot = d.select(count(lit(1)).as("n_docs"))
    stats.crossJoin(broadcast(tot))
      .withColumn("doc_pct", Exprs.pctOf(col("df"), col("n_docs"), 4))
      .select(col("tok"), col("tf"), col("df"), col("n_sources"), col("doc_pct"))
      .orderBy(col("df").desc, col("tf").desc, col("tok"))
      .limit(25)
  }

  /** q74: repeated-passage (boilerplate) accounting — the CCNet/C4
    * line-dedup idea applied to 5-token passages: a passage appearing in
    * ≥ `dfMin` distinct documents is boilerplate, and each source reports
    * what fraction of its passage occurrences that boilerplate covers
    * (the number line-level dedup would remove).
    *
    * Scale shape: occurrences aggregate to (passage, doc) rows first
    * (map-side combine), global passage df is a count over those, and the
    * boilerplate flag joins back on the SAME passage key the df agg just
    * hash-partitioned on — an exchange-reusing equi-join, never a
    * broadcast of the (unbounded) passage dictionary. */
  def q74BoilerplatePassages(spark: SparkSession, dir: String,
                             dfMin: Int = 3): DataFrame = {
    val d = Tables.documents(spark, dir)
    val perDoc = shingleRows(d, 5, extra = Seq("source"))
      .groupBy(col("s"), col("doc_id"), col("source"))
      .agg(count(lit(1)).as("occ"))
    val bp = perDoc.groupBy(col("s")).agg(count(lit(1)).as("sdf"))
      .filter(col("sdf") >= dfMin)
      .select(col("s"), lit(true).as("bp"))
    perDoc.join(bp, Seq("s"), "left")
      .groupBy(col("source")).agg(
        sum(col("occ")).as("n_passages"),
        coalesce(sum(when(col("bp"), col("occ"))), lit(0L)).as("n_boilerplate"),
        count(when(col("bp"), 1)).as("n_bp_doc_hits"))
      .withColumn("boilerplate_pct",
        Exprs.pctOf(col("n_boilerplate"), col("n_passages"), 4))
      .orderBy(col("source"))
  }

  /** q76: the end-to-end training-corpus funnel — the composition a user
    * of this library actually runs, as ONE oracle-checked query: raw corpus
    * → C4 quality rules ([[c4Rules]], shared with q48) → normalized exact
    * dedup keep-first (q23's md5-of-sorted-token-bag key) → benchmark
    * decontamination (q49's broadcast 5-gram join) → per-source funnel
    * counts and final token budget.
    *
    * Scale shape is the union of its stages' shapes: row-wise rules on the
    * scan, one hash shuffle on the dedup key (WindowGroupLimit prunes the
    * keep-first window map-side), one broadcast of the benchmark shingles,
    * and per-source rollups. In production each stage persists its
    * intermediate corpus; here the lineage recomputes — same plan shapes,
    * no extra shuffles. */
  def q76CorpusFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Tables.documents(spark, dir)
    val corpus = all.filter(col("doc_id") >= 10)
    val (rLen, rWordLen, rSymbol, rRep) =
      c4Rules(col("text"), minTok = 20, repFloor = 0.5)
    val kept = corpus.filter(rLen && rWordLen && rSymbol && rRep)
      .withColumn("k", md5(concat_ws(" ", array_sort(tokens(col("text"))))))
    val uniq = kept
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("k")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")
    val contaminated =
      contaminatedDocIds(uniq, all.filter(col("doc_id") < 10))
    val fin = uniq
      .join(contaminated.withColumn("bad", lit(true)), Seq("doc_id"), "left")
      .filter(col("bad").isNull)
    val raw = corpus.groupBy(col("source")).agg(count(lit(1)).as("n_raw"))
    val nq = kept.groupBy(col("source")).agg(count(lit(1)).as("n_quality"))
    val nu = uniq.groupBy(col("source")).agg(count(lit(1)).as("n_unique"))
    val nf = fin.groupBy(col("source")).agg(
      count(lit(1)).as("n_clean"),
      sum(size(tokens(col("text")))).as("final_tokens"))
    raw.join(nq, Seq("source"), "left").join(nu, Seq("source"), "left")
      .join(nf, Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        coalesce(col("n_clean"), lit(0L)).as("n_clean"),
        coalesce(col("final_tokens"), lit(0L)).as("final_tokens"))
      .orderBy(col("source"))
  }

  /** q77: unigram-LM log-prob scoring — the perplexity-proxy quality filter
    * (CCNet/KenLM idea with the simplest possible LM): token cost is
    * -ln(global tf / corpus total), a document's score is its mean token
    * cost, and each source reports mean/median scores plus how many of its
    * docs land above a "surprising" threshold. Low-probability-token-heavy
    * docs (typos, boilerplate codes, junk) score high and get flagged.
    *
    * Scale shape: the unigram table is one hash aggregation over exploded
    * tokens; the per-token cost lookup joins token rows to that table on
    * the SAME token key (exchange reuse), and everything after is keyed by
    * doc then source. Cross-engine note: ln() can differ by 1 ulp between
    * libm and the JVM, so the per-token cost is rounded to 4dp BEFORE the
    * decimal-exact aggregation — the CLAUDE.md round-before-aggregate rule
    * applied to a transcendental. */
  def q77UnigramLogprob(spark: SparkSession, dir: String,
                        flagThreshold: Double = 3.45): DataFrame = {
    val d = Tables.documents(spark, dir)
    // row-based tokenization (shingleRows n=1): the array-HOF tokens()
    // lambda is interpreted, and this relation is scanned twice (vocab
    // build + cost join) — CLAUDE.md perf rule
    val tok = shingleRows(d, 1, extra = Seq("source"))
      .withColumnRenamed("s", "tok")
    val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    val tot = vocab.agg(sum(col("tf")).as("t_total"))
    val cost = tok
      .join(vocab, "tok")
      .crossJoin(broadcast(tot))
      .withColumn("c", Exprs.dround(-log(col("tf") / col("t_total")), 4))
    // persisted: both the per-source rollup and the exact-median pass (Pct)
    // consume ALL of perDoc — no consumer filter prunes below this boundary
    // (the q118 persist caveat does not apply), and recomputing it would
    // re-run the corpus explode + vocab join
    val perDoc = cost.groupBy(col("doc_id"), col("source")).agg(
      Exprs.avgExact(col("c"), 4, 4).as("nll")).persist()
    val medp = Pct.relation(perDoc, Seq("source"), "nll", Seq("mednll" -> 0.5))
    perDoc.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        Exprs.avgExact(col("nll"), 4, 4).as("avg_nll"),
        count(when(col("nll") > flagThreshold, 1)).as("n_flagged"))
      .join(broadcast(medp), "source")
      .select(col("source"), col("n_docs"), col("avg_nll"),
        Exprs.dround(col("mednll"), 4).as("med_nll"), col("n_flagged"))
      .orderBy(col("source"))
  }

  /** q91: per-source token-distribution divergence — KL(source ‖ corpus)
    * over unigram distributions, the "which source is an outlier?" drift
    * metric a mixture audit runs before training (a source whose token
    * distribution diverges hard from the corpus is boilerplate-heavy,
    * non-prose, or mis-scraped). Also surfaces each source's top
    * contributing token — the one-token explanation of WHY it diverges.
    *
    * Scale shape: (source, token) partial counts get map-side combine;
    * the corpus unigram table derives from those partials (never a second
    * corpus scan); source totals and the 1-row corpus total broadcast.
    * The per-source argmax is the QUALIFY idiom — WindowGroupLimit keeps
    * the shuffle at one row per (source, partition).
    *
    * Cross-engine determinism: ln() may differ by 1 ulp between libm and
    * the JVM, so each token's contribution rounds to 9dp (granularity ≫
    * ulp at contribution magnitude ~1e-4) BEFORE the decimal-exact
    * per-source sum — the q77 transcendental rule. */
  def q91TokenKl(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = shingleRows(Tables.documents(spark, dir), 1, extra = Seq("source"))
      .withColumnRenamed("s", "tok")
    val stf = tok.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("tf_s"))
    val srcTot = stf.groupBy(col("source")).agg(sum(col("tf_s")).as("tot_s"))
    val ctf = stf.groupBy(col("tok")).agg(sum(col("tf_s")).as("tf_c"))
    val tot = ctf.agg(sum(col("tf_c")).as("tot_c"))
    val contrib = stf
      .join(ctf, "tok")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(tot))
      .withColumn("ps", col("tf_s") / col("tot_s"))
      .withColumn("pc", col("tf_c") / col("tot_c"))
      .withColumn("c", Exprs.dround(col("ps") * log(col("ps") / col("pc")), 9))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("tok"))
    val top = contrib.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("tok").as("top_token"),
        Exprs.dround(col("c"), 6).as("top_contrib"))
    contrib.groupBy(col("source")).agg(
        max(col("tot_s")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        Exprs.dround(Exprs.sumExact(col("c"), 9), 6).as("kl_nats"))
      .join(top, "source")
      .select(col("source"), col("n_tokens"), col("vocab"), col("kl_nats"),
        col("top_token"), col("top_contrib"))
      .orderBy(col("source"))
  }

  /** q78: BM25 relevance ranking — the lexical retrieval scorer used to mine
    * task-relevant training documents from a corpus (Okapi BM25, k1=1.2,
    * b=0.75). Corpus statistics (N, avgdl, per-term df) come from one token
    * scan; scoring touches only rows whose token is a query term, so the
    * per-query cost is proportional to the posting lists, not the corpus.
    *
    * Scale shape: doc lengths and term frequencies are two hash aggregations
    * over the same exploded-token relation (same `doc_id` key → exchange
    * reuse); df (|query| rows) and the 1-row corpus stats broadcast. The
    * final top-k is `TakeOrderedAndProject`, never a global sort.
    *
    * Cross-engine note: the per-term contribution rounds to 4dp BEFORE the
    * decimal-exact per-doc sum (the q77 transcendental rule — ln() may
    * differ by 1 ulp between libm and the JVM). k1/k1+1 are non-dyadic, so
    * the oracle casts them ::DOUBLE (CLAUDE.md DECIMAL-literal rule); b and
    * the 0.5 idf offsets are dyadic and safe. */
  def q78Bm25Rank(spark: SparkSession, dir: String,
                  queryTerms: Seq[String] = Seq("join", "vector", "slow"),
                  k: Int = 20): DataFrame = {
    val d = Tables.documents(spark, dir)
    val tok = shingleRows(d, 1).withColumnRenamed("s", "tok")
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_total"))
    val tf = tok.filter(col("tok").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(dl, "doc_id")
      .join(broadcast(df), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("t_total").cast("double") / col("n_docs"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("tf_part",
        col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .withColumn("c", Exprs.dround(col("idf") * col("tf_part"), 4))
    scored.groupBy(col("doc_id"), col("dl")).agg(
        count(lit(1)).as("n_terms_hit"),
        Exprs.sumExact(col("c"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** q84: bigram PMI collocation mining — pointwise mutual information
    * `ln(p(xy) / (p(x)·p(y)))` over corpus bigrams, the standard detector
    * for multi-word expressions (phrases worth treating as single tokens
    * when building a tokenizer or analyzing a training mix). Low-count
    * bigrams are floored at `minCount` — PMI is noise below that.
    *
    * Scale shape: unigram and bigram counts are hash aggregations over the
    * row-based shingle relation (never an array-lambda path); the bigram →
    * unigram-count joins are plain equi-joins on the word (broadcast-able
    * when the vocabulary is small, AQE decides); both corpus totals are
    * 1-row broadcasts. Top-k is `TakeOrderedAndProject`.
    *
    * Cross-engine: counts are exact integers; the single `ln` rounds to
    * 4dp at emission with identical operand order both engines, and ties
    * on rounded PMI break on the bigram string. */
  def q84BigramPmi(spark: SparkSession, dir: String,
                   minCount: Int = 5, k: Int = 30): DataFrame = {
    val d = Tables.documents(spark, dir)
    val uni = shingleRows(d, 1).groupBy(col("s")).agg(count(lit(1)).as("c"))
    val uniTot = uni.agg(sum(col("c")).as("n_uni"))
    val biAll = shingleRows(d, 2).groupBy(col("s")).agg(count(lit(1)).as("c_xy"))
    val biTot = biAll.agg(sum(col("c_xy")).as("n_bi"))
    biAll.filter(col("c_xy") >= minCount)
      .withColumn("x", split(col("s"), " ").getItem(0))
      .withColumn("y", split(col("s"), " ").getItem(1))
      .join(uni.select(col("s").as("x"), col("c").as("c_x")), "x")
      .join(uni.select(col("s").as("y"), col("c").as("c_y")), "y")
      .crossJoin(broadcast(uniTot))
      .crossJoin(broadcast(biTot))
      .withColumn("pmi", Exprs.dround(
        log(col("c_xy").cast("double") * col("n_uni") * col("n_uni") /
          (col("n_bi").cast("double") * col("c_x") * col("c_y"))), 4))
      .select(col("s").as("bigram"), col("c_xy"), col("c_x"), col("c_y"),
        col("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(k)
  }

  /** q85: TF-IDF top terms per document — the per-doc keyword profile
    * (sklearn smooth-idf form: `tf · (ln((N+1)/(df+1)) + 1)`), the
    * feature every lexical doc-similarity / topic-drift monitor starts
    * from. Emits the top `topn` terms per doc with rank, so WHICH terms
    * characterize each document is part of the checked contract.
    *
    * Scale shape: term frequencies and document frequencies are two hash
    * aggregations over the same exploded-token relation; the per-doc top-k
    * window partitions by doc_id (codegen'd `WindowGroupLimit` prunes to
    * `topn` per doc map-side); N is a 1-row broadcast. Ranking happens on
    * the ROUNDED score so rank ties resolve identically in both engines. */
  def q85TfidfTop(spark: SparkSession, dir: String, topn: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
    val tf = shingleRows(d, 1).withColumnRenamed("s", "term")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = d.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nd))
      .withColumn("score", Exprs.dround(
        col("tf") * (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1))) +
          lit(1.0)), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topn)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Transitive closure via WITH RECURSIVE + min per doc — independently
    * derived component labels; shared by q59 ([[components]], driver
    * union-find at this scale) and q104 (star contraction), which compute
    * the same clustering through different algorithms. */
  /** Shared CTE prefix ending at `labels` (doc_id → min-reachable
    * cluster_id): the transitive closure of the Jaccard ≥ 0.4 graph,
    * consumed by the q59/q104 rollup oracle and the label-derived q114
    * (survivorship) and q115 (cluster-safe split) oracles. */
  private val DupClusterLabelCtes: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)),
      |counts AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |scored AS (
      |  SELECT d1, d2,
      |    round(common / (c1.c + c2.c - common) * 1000000) / 1000000 AS j
      |  FROM pairs JOIN counts c1 ON c1.doc_id = d1
      |  JOIN counts c2 ON c2.doc_id = d2),
      |edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM scored WHERE j >= 0.4
      |  UNION ALL SELECT d2, d1 FROM scored WHERE j >= 0.4),
      |reach AS (
      |  SELECT DISTINCT src AS a, src AS b FROM edges
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |labels AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)""".stripMargin

  private val DupClustersOracle: String =
    DupClusterLabelCtes + "\n" +
    """SELECT cluster_id, count(*) AS sz,
      |  string_agg(doc_id, ',' ORDER BY doc_id) AS members,
      |  count(*) - 1 AS n_dups
      |FROM labels GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** q114 oracle: same labels, keeper picked by an explicit row_number
    * (tokens DESC, doc_id) — the declarative statement of the max_by
    * ordering struct. All-integer output: no rounding hazards. */
  private val SurvivorshipOracle: String =
    DupClusterLabelCtes + ",\n" +
    """ntok AS (
      |  SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> ''))
      |    AS n_tokens
      |  FROM documents),
      |ranked AS (
      |  SELECT l.cluster_id, n.doc_id, n.n_tokens,
      |    row_number() OVER (PARTITION BY l.cluster_id
      |      ORDER BY n.n_tokens DESC, n.doc_id) AS rn,
      |    count(*) OVER (PARTITION BY l.cluster_id) AS sz,
      |    sum(n.n_tokens) OVER (PARTITION BY l.cluster_id) AS cluster_tokens
      |  FROM labels l JOIN ntok n USING (doc_id))
      |SELECT cluster_id, doc_id AS keeper_doc_id, n_tokens AS keeper_tokens,
      |  sz, sz - 1 AS n_discarded,
      |  (cluster_tokens - n_tokens)::BIGINT AS discarded_tokens
      |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** q115 oracle: same labels; the two split strategies unpivoted via
    * UNION ALL, leak flags per labeled component via min<>max, left-joined
    * + coalesced so a cluster-free corpus yields 0 (Spark emits one null
    * row from its global agg; DuckDB emits none — both normalize). */
  private val ClusterSafeSplitOracle: String =
    DupClusterLabelCtes + ",\n" +
    """ntok AS (
      |  SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> ''))
      |    AS n_tokens
      |  FROM documents),
      |asg AS (
      |  SELECT n.doc_id, n.n_tokens, l.cluster_id AS label,
      |    coalesce(l.cluster_id, n.doc_id) AS rep,
      |    CASE WHEN substr(md5(n.doc_id::VARCHAR), 1, 1) <= 'b' THEN 'train'
      |         WHEN substr(md5(n.doc_id::VARCHAR), 1, 1) <= 'd' THEN 'val'
      |         ELSE 'test' END AS split_doc,
      |    CASE WHEN substr(md5(coalesce(l.cluster_id, n.doc_id)::VARCHAR), 1, 1)
      |           <= 'b' THEN 'train'
      |         WHEN substr(md5(coalesce(l.cluster_id, n.doc_id)::VARCHAR), 1, 1)
      |           <= 'd' THEN 'val'
      |         ELSE 'test' END AS split_cluster
      |  FROM ntok n LEFT JOIN labels l USING (doc_id)),
      |stats AS (
      |  SELECT strategy, split, count(*) AS n_docs,
      |    count(DISTINCT rep) AS n_groups,
      |    sum(n_tokens)::BIGINT AS n_tokens
      |  FROM (
      |    SELECT 'by_doc' AS strategy, split_doc AS split, rep, n_tokens FROM asg
      |    UNION ALL
      |    SELECT 'by_cluster', split_cluster, rep, n_tokens FROM asg)
      |  GROUP BY strategy, split),
      |leak AS (
      |  SELECT strategy, sum(CASE WHEN l THEN 1 ELSE 0 END)::BIGINT
      |      AS leaky_clusters
      |  FROM (
      |    SELECT 'by_doc' AS strategy,
      |      min(split_doc) <> max(split_doc) AS l
      |    FROM asg WHERE label IS NOT NULL GROUP BY label
      |    UNION ALL
      |    SELECT 'by_cluster', min(split_cluster) <> max(split_cluster)
      |    FROM asg WHERE label IS NOT NULL GROUP BY label)
      |  GROUP BY strategy)
      |SELECT s.strategy, s.split, s.n_docs, s.n_groups, s.n_tokens,
      |  round(100.0 * s.n_docs /
      |    sum(s.n_docs) OVER (PARTITION BY s.strategy) * 100) / 100 AS pct_docs,
      |  coalesce(k.leaky_clusters, 0) AS leaky_clusters
      |FROM stats s LEFT JOIN leak k USING (strategy)
      |ORDER BY strategy, split""".stripMargin

  /** q117 oracle: labels + q114's keeper pick + q115's split ladder, one
    * doc-grain decision CTE, all-integer rollup. */
  private val CurationExportOracle: String =
    DupClusterLabelCtes + ",\n" +
    """ntok AS (
      |  SELECT doc_id, source,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
      |  FROM documents),
      |lab AS (
      |  SELECT n.doc_id, n.source, n.n_tokens, l.cluster_id AS label,
      |    coalesce(l.cluster_id, n.doc_id) AS rep
      |  FROM ntok n LEFT JOIN labels l USING (doc_id)),
      |keepers AS (
      |  SELECT label, doc_id AS keeper_doc FROM (
      |    SELECT label, doc_id, row_number() OVER (PARTITION BY label
      |      ORDER BY n_tokens DESC, doc_id) AS rn
      |    FROM lab WHERE label IS NOT NULL) WHERE rn = 1),
      |fin AS (
      |  SELECT lab.source, lab.n_tokens,
      |    (lab.label IS NULL OR lab.doc_id = k.keeper_doc) AS kept,
      |    CASE WHEN substr(md5(lab.rep::VARCHAR), 1, 1) <= 'b' THEN 'train'
      |         WHEN substr(md5(lab.rep::VARCHAR), 1, 1) <= 'd' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM lab LEFT JOIN keepers k ON lab.label = k.label)
      |SELECT source, split, count(*) AS n_docs,
      |  count(CASE WHEN kept THEN 1 END) AS n_kept,
      |  count(CASE WHEN NOT kept THEN 1 END) AS n_dropped,
      |  sum(CASE WHEN kept THEN n_tokens ELSE 0 END)::BIGINT AS kept_tokens
      |FROM fin GROUP BY source, split ORDER BY source, split""".stripMargin

  /** q118 oracle: the from-scratch transitive closure — valid for the
    * incremental path because the old label stars span exactly the old
    * components, so its component minima are history-independent (see
    * [[incrementalClustersFrom]]). */
  private val IncrementalClustersOracle: String =
    DupClusterLabelCtes + "\n" +
    """SELECT cluster_id, count(*) AS sz,
      |  string_agg(doc_id, ',' ORDER BY doc_id) AS members,
      |  count(CASE WHEN doc_id >= 400 THEN 1 END) AS n_new
      |FROM labels GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** q122 oracle: labels + rank-1 keep per component representative +
    * the q61-proven pct pattern; `+ 0.0` on the shift per the negative-zero
    * rule (a −0.00004 shift rounds to −0.0 in DuckDB, +0.0 in Spark). */
  private val PostDedupMixtureOracle: String =
    DupClusterLabelCtes + ",\n" +
    """ntok AS (
      |  SELECT doc_id, source,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
      |  FROM documents),
      |lab AS (
      |  SELECT n.doc_id, n.source, n.n_tokens,
      |    coalesce(l.cluster_id, n.doc_id) AS rep
      |  FROM ntok n LEFT JOIN labels l USING (doc_id)),
      |dec AS (
      |  SELECT source, n_tokens,
      |    row_number() OVER (PARTITION BY rep
      |      ORDER BY n_tokens DESC, doc_id) = 1 AS kept
      |  FROM lab),
      |by_src AS (
      |  SELECT source, count(*) AS n_docs,
      |    sum(n_tokens)::BIGINT AS tokens_raw,
      |    sum(CASE WHEN kept THEN n_tokens ELSE 0 END)::BIGINT AS tokens_kept
      |  FROM dec GROUP BY source),
      |tot AS (
      |  SELECT sum(tokens_raw)::BIGINT AS tot_raw,
      |    sum(tokens_kept)::BIGINT AS tot_kept
      |  FROM by_src)
      |SELECT source, n_docs, tokens_raw, tokens_kept,
      |  round(100.0 * tokens_raw / tot_raw * 10000) / 10000 AS raw_share,
      |  round(100.0 * tokens_kept / tot_kept * 10000) / 10000 AS kept_share,
      |  round((round(100.0 * tokens_kept / tot_kept * 10000) / 10000
      |       - round(100.0 * tokens_raw / tot_raw * 10000) / 10000)
      |    * 10000) / 10000 + 0.0 AS share_shift
      |FROM by_src CROSS JOIN tot ORDER BY source""".stripMargin

  val oracle: Map[String, String] = Map(
    // exhaustive identical-content oracle for the SimHash-band index:
    // valid because an exact copy shares EVERY band with its original
    // (recall provably 1.0) and the md5 verify removes all non-identical
    // candidates — the SQL assumes nothing about SimHash (q138's argument)
    "q140_simhash_planted" ->
      """WITH corpus AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 6000000, source, text FROM documents
        |  WHERE doc_id % 13 = 0),
        |dup_ids AS (
        |  SELECT DISTINCT b.doc_id AS j
        |  FROM corpus a JOIN corpus b
        |    ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id)
        |SELECT source, count(*) AS n_docs,
        |  count(CASE WHEN doc_id >= 6000000 THEN 1 END) AS n_planted,
        |  count(CASE WHEN d.j IS NOT NULL THEN 1 END) AS n_dups
        |FROM corpus c LEFT JOIN dup_ids d ON c.doc_id = d.j
        |GROUP BY source ORDER BY source""".stripMargin,
    "q117_curation_export" -> CurationExportOracle,
    "q118_incremental_clusters" -> IncrementalClustersOracle,
    "q122_post_dedup_mixture" -> PostDedupMixtureOracle,
    "q84_bigram_pmi" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |uni AS (
        |  SELECT u.tok AS s, count(*) AS c
        |  FROM toks, LATERAL (SELECT unnest(t) AS tok) u GROUP BY u.tok),
        |uni_tot AS (SELECT sum(c)::BIGINT AS n_uni FROM uni),
        |bi AS (
        |  SELECT t[i] || ' ' || t[i+1] AS s, count(*) AS c_xy
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
        |  GROUP BY 1),
        |bi_tot AS (SELECT sum(c_xy)::BIGINT AS n_bi FROM bi)
        |SELECT b.s AS bigram, b.c_xy, ux.c AS c_x, uy.c AS c_y,
        |  -- + 0.0: a slightly-negative PMI rounds to -0.0 in DuckDB but +0.0
        |  -- in Spark's BigDecimal round (CLAUDE.md negative-zero rule)
        |  round(ln(b.c_xy::DOUBLE * n_uni * n_uni /
        |           (n_bi::DOUBLE * ux.c * uy.c)) * 10000) / 10000 + 0.0 AS pmi
        |FROM bi b
        |JOIN uni ux ON ux.s = string_split(b.s, ' ')[1]
        |JOIN uni uy ON uy.s = string_split(b.s, ' ')[2]
        |CROSS JOIN uni_tot CROSS JOIN bi_tot
        |WHERE b.c_xy >= 5
        |ORDER BY pmi DESC, bigram LIMIT 30""".stripMargin,

    "q85_tfidf_top" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |stats AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf,
        |    -- (n_docs + 1)::DOUBLE: DuckDB would do n_docs + 1.0 in DECIMAL;
        |    -- Spark adds in double — force identical double arithmetic
        |    round(tf * (ln((n_docs + 1)::DOUBLE / (df + 1)) + 1.0) * 10000) / 10000 AS score
        |  FROM tf JOIN dfreq USING (term), stats),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, term, tf, score
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "q78_bm25_rank" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n_docs, sum(dl)::BIGINT AS t_total FROM dl),
        |tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM tok
        |  WHERE tok IN ('join', 'vector', 'slow') GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |scored AS (
        |  SELECT doc_id, dl,
        |    round(ln((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) + 1.0)
        |      * (tf * 2.2::DOUBLE
        |         / (tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl
        |                                / (t_total::DOUBLE / n_docs))))
        |      * 10000) / 10000 AS c
        |  FROM tf JOIN dl USING (doc_id) JOIN df USING (tok), stats)
        |SELECT doc_id, dl, count(*) AS n_terms_hit,
        |  sum(c::DECIMAL(25,4))::DOUBLE AS score
        |FROM scored GROUP BY doc_id, dl
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q96_incremental_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |keyed AS (
        |  SELECT doc_id, source,
        |    md5(array_to_string(list_sort(t), ' ')) AS k
        |  FROM toks),
        |old_keys AS (SELECT DISTINCT k FROM keyed WHERE doc_id < 400),
        |exact AS (
        |  SELECT DISTINCT doc_id FROM keyed
        |  WHERE doc_id >= 400 AND k IN (SELECT k FROM old_keys)),
        |sh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)),
        |counts AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |near AS (
        |  SELECT DISTINCT d2 AS doc_id
        |  FROM pairs
        |  JOIN counts c1 ON c1.doc_id = d1
        |  JOIN counts c2 ON c2.doc_id = d2
        |  WHERE round(common / (c1.c + c2.c - common) * 1000000) / 1000000 >= 0.4
        |    AND d1 < 400 AND d2 >= 400),
        |classified AS (
        |  SELECT k.source,
        |    CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
        |         WHEN n.doc_id IS NOT NULL THEN 'near_dup'
        |         ELSE 'unique' END AS status
        |  FROM keyed k
        |  LEFT JOIN exact e ON k.doc_id = e.doc_id
        |  LEFT JOIN near n ON k.doc_id = n.doc_id
        |  WHERE k.doc_id >= 400)
        |SELECT source, count(*) AS n_new,
        |  count(CASE WHEN status = 'exact_dup' THEN 1 END) AS n_exact,
        |  count(CASE WHEN status = 'near_dup' THEN 1 END) AS n_near,
        |  count(CASE WHEN status = 'unique' THEN 1 END) AS n_unique,
        |  round(100.0 * count(CASE WHEN status = 'unique' THEN 1 END)
        |    / count(*) * 100) / 100 AS unique_pct
        |FROM classified GROUP BY source ORDER BY source""".stripMargin,

    "q91_token_kl" ->
      """WITH tok AS (
        |  SELECT source, unnest(list_filter(string_split(text, ' '),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |stf AS (SELECT source, tok, count(*) AS tf_s FROM tok GROUP BY 1, 2),
        |src_tot AS (SELECT source, sum(tf_s)::BIGINT AS tot_s
        |            FROM stf GROUP BY source),
        |ctf AS (SELECT tok, sum(tf_s)::BIGINT AS tf_c FROM stf GROUP BY tok),
        |tot AS (SELECT sum(tf_c)::BIGINT AS tot_c FROM ctf),
        |contrib AS (
        |  SELECT source, tok, tot_s,
        |    round((tf_s / tot_s::DOUBLE) *
        |      ln((tf_s / tot_s::DOUBLE) / (tf_c / tot_c::DOUBLE))
        |      * 1000000000) / 1000000000 AS c
        |  FROM stf JOIN ctf USING (tok) JOIN src_tot USING (source), tot),
        |top AS (
        |  SELECT source, tok AS top_token,
        |    round(c * 1000000) / 1000000 AS top_contrib,
        |    row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rn
        |  FROM contrib),
        |agg AS (
        |  SELECT source, max(tot_s) AS n_tokens, count(*) AS vocab,
        |    round(sum(c::DECIMAL(25,9))::DOUBLE * 1000000) / 1000000 AS kl_nats
        |  FROM contrib GROUP BY source)
        |SELECT source, n_tokens, vocab, kl_nats, top_token, top_contrib
        |FROM agg JOIN top USING (source)
        |WHERE rn = 1 ORDER BY source""".stripMargin,

    "q77_unigram_logprob" ->
      s"""WITH tok AS (
        |  SELECT doc_id, source, unnest(list_filter(string_split(text, ' '),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |vocab AS (SELECT tok, count(*) AS tf FROM tok GROUP BY tok),
        |tot AS (SELECT sum(tf)::BIGINT AS t_total FROM vocab),
        |cost AS (
        |  SELECT doc_id, source,
        |    round(-ln(tf / t_total::DOUBLE) * 10000) / 10000 AS c
        |  FROM tok JOIN vocab USING (tok), tot),
        |per_doc AS (
        |  SELECT doc_id, source,
        |    round(sum(c::DECIMAL(25,4))::DOUBLE / count(*) * 10000) / 10000 AS nll
        |  FROM cost GROUP BY doc_id, source),
        |${Pct.ctes("medp", "per_doc", Seq("source"), "nll",
            Seq("mednll" -> 0.5))},
        |agg AS (
        |  SELECT source, count(*) AS n_docs,
        |    round(sum(nll::DECIMAL(25,4))::DOUBLE / count(*) * 10000) / 10000 AS avg_nll,
        |    count(CASE WHEN nll > 3.45 THEN 1 END) AS n_flagged
        |  FROM per_doc GROUP BY source)
        |SELECT source, n_docs, avg_nll,
        |  round(mednll * 10000) / 10000 AS med_nll, n_flagged
        |FROM agg JOIN medp USING (source) ORDER BY source""".stripMargin,

    "q76_corpus_funnel" ->
      """WITH corpus AS (
        |  SELECT doc_id, source, text,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents WHERE doc_id >= 10),
        |kept AS (
        |  SELECT *, md5(array_to_string(list_sort(t), ' ')) AS k
        |  FROM corpus
        |  WHERE len(t) BETWEEN 20 AND 1000
        |    AND ((length(text) - (len(t) - 1)) / len(t)::DOUBLE) BETWEEN 2.0 AND 12.0
        |    AND ((length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
        |         / length(text)::DOUBLE) <= 0.1
        |    AND (len(list_distinct(t)) / len(t)::DOUBLE) >= 0.5),
        |uniq AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY k ORDER BY doc_id) AS rn
        |    FROM kept) WHERE rn = 1),
        |bench_sh AS (
        |  SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
        |    t[i+3] || ' ' || t[i+4] AS s
        |  FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
        |        FROM documents WHERE doc_id < 10),
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 4)) AS i)),
        |contaminated AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
        |      t[i+3] || ' ' || t[i+4] AS s
        |    FROM uniq, LATERAL (SELECT unnest(generate_series(1, len(t) - 4)) AS i))
        |  JOIN bench_sh USING (s)),
        |fin AS (
        |  SELECT u.* FROM uniq u LEFT JOIN contaminated c ON u.doc_id = c.doc_id
        |  WHERE c.doc_id IS NULL)
        |SELECT r.source, r.n_raw,
        |  coalesce(nq.n_quality, 0) AS n_quality,
        |  coalesce(nu.n_unique, 0) AS n_unique,
        |  coalesce(nf.n_clean, 0) AS n_clean,
        |  coalesce(nf.final_tokens, 0) AS final_tokens
        |FROM (SELECT source, count(*) AS n_raw FROM corpus GROUP BY source) r
        |LEFT JOIN (SELECT source, count(*) AS n_quality FROM kept GROUP BY source) nq
        |  USING (source)
        |LEFT JOIN (SELECT source, count(*) AS n_unique FROM uniq GROUP BY source) nu
        |  USING (source)
        |LEFT JOIN (SELECT source, count(*) AS n_clean,
        |             sum(len(t))::BIGINT AS final_tokens
        |           FROM fin GROUP BY source) nf USING (source)
        |ORDER BY r.source""".stripMargin,

    "q72_vocab_stats" ->
      """WITH tok AS (
        |  SELECT doc_id, source, unnest(list_filter(string_split(text, ' '),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |per_doc AS (
        |  SELECT tok, doc_id, source, count(*) AS c
        |  FROM tok GROUP BY tok, doc_id, source),
        |stats AS (
        |  SELECT tok, sum(c)::BIGINT AS tf, count(*) AS df,
        |    count(DISTINCT source) AS n_sources
        |  FROM per_doc GROUP BY tok),
        |tot AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tok, tf, df, n_sources,
        |  round(100.0 * df / n_docs * 10000) / 10000 AS doc_pct
        |FROM stats, tot
        |ORDER BY df DESC, tf DESC, tok LIMIT 25""".stripMargin,

    "q74_boilerplate_passages" ->
      """WITH toks AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |per_doc AS (
        |  SELECT s, doc_id, source, count(*) AS occ FROM (
        |    SELECT doc_id, source,
        |      t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS s
        |    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 4)) AS i))
        |  GROUP BY s, doc_id, source),
        |bp AS (SELECT s FROM per_doc GROUP BY s HAVING count(*) >= 3)
        |SELECT source, sum(occ)::BIGINT AS n_passages,
        |  coalesce(sum(CASE WHEN bp.s IS NOT NULL THEN occ END), 0)::BIGINT AS n_boilerplate,
        |  count(CASE WHEN bp.s IS NOT NULL THEN 1 END) AS n_bp_doc_hits,
        |  round(100.0 * n_boilerplate / n_passages * 10000) / 10000 AS boilerplate_pct
        |FROM per_doc LEFT JOIN bp USING (s)
        |GROUP BY source ORDER BY source""".stripMargin,

    // q104 runs the same clustering through star contraction — same
    // result by construction, so it shares q59's transitive-closure oracle
    "q104_dup_clusters_star" -> DupClustersOracle,
    "q59_dup_clusters" -> DupClustersOracle,
    "q114_dedup_survivorship" -> SurvivorshipOracle,
    "q115_cluster_safe_split" -> ClusterSafeSplitOracle,

    // Exhaustive set-equality oracle for the MinHash-banded dedup: valid
    // because identical shingle sets collide in every band (recall exactly
    // 1.0, see q105MinhashBandDedup scaladoc) — the SQL assumes nothing
    // about MinHash, it joins canonical per-doc shingle-set strings.
    "q105_minhash_band_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, source FROM documents
        |  WHERE doc_id % 7 = 0),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM corpus),
        |sh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)),
        |sigs AS (
        |  SELECT doc_id, string_agg(s, chr(1) ORDER BY s) AS sig
        |  FROM sh GROUP BY doc_id),
        |dups AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.doc_id < b.doc_id)
        |SELECT source, count(*) AS n_docs,
        |  count(CASE WHEN c.doc_id >= 1000000 THEN 1 END) AS n_planted,
        |  count(CASE WHEN d.doc_id IS NOT NULL THEN 1 END) AS n_dups
        |FROM corpus c LEFT JOIN dups d ON c.doc_id = d.doc_id
        |GROUP BY source ORDER BY source""".stripMargin,

    // q153: the q151 gate CTEs with source carried + the q48 rule
    // expressions over the batch text — counts only, the same compare
    // surface both components are already hash-green on
    "q153_ingest_funnel" ->
      """WITH batch AS (
        |  SELECT doc_id + 2000000 AS doc_id, source, text FROM documents
        |  WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id, source,
        |    array_to_string(list_reverse(
        |      list_filter(string_split(text, ' '), x -> x <> '')), ' ') AS text
        |  FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id + 4000000 AS doc_id, source, upper(text) AS text
        |  FROM documents WHERE doc_id % 19 = 0),
        |bt AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM batch),
        |bsh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM bt, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)),
        |bsig AS (
        |  SELECT doc_id, string_agg(s, chr(1) ORDER BY s) AS sig
        |  FROM bsh GROUP BY doc_id),
        |ct AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |csh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM ct, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)),
        |csig AS (
        |  SELECT doc_id, string_agg(s, chr(1) ORDER BY s) AS sig
        |  FROM csh GROUP BY doc_id),
        |m AS (
        |  SELECT b.doc_id FROM bsig b JOIN csig c ON b.sig = c.sig
        |  GROUP BY b.doc_id),
        |ib AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY sig) AS mn
        |  FROM bsig WHERE doc_id NOT IN (SELECT doc_id FROM m)),
        |bd AS (SELECT doc_id FROM ib WHERE doc_id > mn),
        |judged AS (
        |  SELECT b.source,
        |    CASE WHEN m.doc_id IS NOT NULL THEN 'dup_index'
        |         WHEN bd.doc_id IS NOT NULL THEN 'dup_batch'
        |         WHEN NOT (
        |           len(list_filter(string_split(b.text, ' '), x -> x <> ''))
        |             BETWEEN 10 AND 1000
        |           AND (length(b.text) -
        |                (len(list_filter(string_split(b.text, ' '), x -> x <> '')) - 1))
        |               / len(list_filter(string_split(b.text, ' '), x -> x <> ''))::DOUBLE
        |               BETWEEN 2.0 AND 12.0
        |           AND (length(b.text) -
        |                length(regexp_replace(b.text, '[^a-z0-9 ]', '', 'g')))
        |               / length(b.text)::DOUBLE <= 0.1
        |           AND len(list_distinct(list_filter(string_split(b.text, ' '), x -> x <> '')))
        |               / len(list_filter(string_split(b.text, ' '), x -> x <> ''))::DOUBLE >= 0.1)
        |           THEN 'quality_reject'
        |         ELSE 'admitted' END AS verdict
        |  FROM batch b
        |  LEFT JOIN m ON b.doc_id = m.doc_id
        |  LEFT JOIN bd ON b.doc_id = bd.doc_id)
        |SELECT source, count(*) AS n_batch,
        |  count(CASE WHEN verdict = 'dup_index' THEN 1 END) AS n_dup_index,
        |  count(CASE WHEN verdict = 'dup_batch' THEN 1 END) AS n_dup_batch,
        |  count(CASE WHEN verdict = 'quality_reject' THEN 1 END) AS n_quality_reject,
        |  count(CASE WHEN verdict = 'admitted' THEN 1 END) AS n_admitted
        |FROM judged GROUP BY source ORDER BY source""".stripMargin,

    // q151: the gate's decision is shingle-set equality (band recall is
    // exactly 1 for equal sets; the digest kills banding false
    // positives), which this recomputes exhaustively — exact for any
    // banding outcome. Docs with < 3 tokens have no sigs row on either
    // engine and stay 'unique'.
    // q158: q151's exhaustive set-equality recompute with the corpus side
    // shrunk to corpus-minus-deleted — deletion's gate-side effect (copies
    // of deleted docs re-admit as unique) is exact for any input
    "q158_text_delete_gate" ->
      """WITH batch AS (
        |  SELECT doc_id + 4000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 5000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 9 = 0),
        |bt AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM batch),
        |bsh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM bt, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)),
        |bsig AS (
        |  SELECT doc_id, string_agg(s, chr(1) ORDER BY s) AS sig
        |  FROM bsh GROUP BY doc_id),
        |ct AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents WHERE doc_id % 13 <> 0),
        |csh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM ct, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)),
        |csig AS (
        |  SELECT doc_id, string_agg(s, chr(1) ORDER BY s) AS sig
        |  FROM csh GROUP BY doc_id),
        |m AS (
        |  SELECT b.doc_id, min(c.doc_id) AS dup_of
        |  FROM bsig b JOIN csig c ON b.sig = c.sig
        |  GROUP BY b.doc_id),
        |ib AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY sig) AS mn
        |  FROM bsig WHERE doc_id NOT IN (SELECT doc_id FROM m)),
        |bd AS (SELECT doc_id, mn AS dup_of FROM ib WHERE doc_id > mn)
        |SELECT b.doc_id,
        |  CASE WHEN m.doc_id IS NOT NULL THEN 'exact_dup'
        |       WHEN bd.doc_id IS NOT NULL THEN 'batch_dup'
        |       ELSE 'unique' END AS status,
        |  coalesce(m.dup_of, bd.dup_of) AS dup_of
        |FROM batch b
        |LEFT JOIN m ON b.doc_id = m.doc_id
        |LEFT JOIN bd ON b.doc_id = bd.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    "q151_text_gate_index" ->
      """WITH batch AS (
        |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id,
        |    array_to_string(list_reverse(
        |      list_filter(string_split(text, ' '), x -> x <> '')), ' ') AS text
        |  FROM documents WHERE doc_id % 17 = 0),
        |bt AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM batch),
        |bsh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM bt, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)),
        |bsig AS (
        |  SELECT doc_id, string_agg(s, chr(1) ORDER BY s) AS sig
        |  FROM bsh GROUP BY doc_id),
        |ct AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |csh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM ct, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)),
        |csig AS (
        |  SELECT doc_id, string_agg(s, chr(1) ORDER BY s) AS sig
        |  FROM csh GROUP BY doc_id),
        |m AS (
        |  SELECT b.doc_id, min(c.doc_id) AS dup_of
        |  FROM bsig b JOIN csig c ON b.sig = c.sig
        |  GROUP BY b.doc_id),
        |ib AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY sig) AS mn
        |  FROM bsig WHERE doc_id NOT IN (SELECT doc_id FROM m)),
        |bd AS (SELECT doc_id, mn AS dup_of FROM ib WHERE doc_id > mn)
        |SELECT b.doc_id,
        |  CASE WHEN m.doc_id IS NOT NULL THEN 'exact_dup'
        |       WHEN bd.doc_id IS NOT NULL THEN 'batch_dup'
        |       ELSE 'unique' END AS status,
        |  coalesce(m.dup_of, bd.dup_of) AS dup_of
        |FROM batch b
        |LEFT JOIN m ON b.doc_id = m.doc_id
        |LEFT JOIN bd ON b.doc_id = bd.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    // Same pair machinery as q24 (df cap never fires at test scale — max
    // natural df 25 ≪ 500), aggregated to the source-pair grain; the θ
    // compare runs on the 6dp-rounded jaccard vs a dyadic 0.5.
    "q109_source_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)),
        |counts AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |jac AS (
        |  SELECT d1, d2,
        |    round(common / (c1.c + c2.c - common) * 1000000) / 1000000 AS jaccard
        |  FROM pairs
        |  JOIN counts c1 ON c1.doc_id = d1
        |  JOIN counts c2 ON c2.doc_id = d2),
        |lab AS (
        |  SELECT least(a.source, b.source) AS s1,
        |    greatest(a.source, b.source) AS s2, jaccard
        |  FROM jac
        |  JOIN documents a ON a.doc_id = jac.d1
        |  JOIN documents b ON b.doc_id = jac.d2
        |  WHERE jaccard >= 0.5)
        |SELECT s1, s2, count(*) AS n_dup_pairs,
        |  round(sum(jaccard::DECIMAL(25,6))::DOUBLE / count(*) * 1000000)
        |    / 1000000 AS avg_jaccard
        |FROM lab GROUP BY s1, s2 ORDER BY s1, s2""".stripMargin,

    // First-introducer novelty: min-over-gram window (q106 trick), per-doc
    // rollup, per-source totals. Ratios are BIGINT/BIGINT; the mostly-seen
    // flag is an integer cross-multiply (novelty < 0.5 ⟺ 2·novel < total).
    "q112_shingle_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)),
        |firsts AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY s) AS first_doc FROM sh),
        |per_doc AS (
        |  SELECT doc_id, count(*) AS n_shingles,
        |    count(CASE WHEN doc_id = first_doc THEN 1 END) AS n_novel
        |  FROM firsts GROUP BY doc_id)
        |SELECT source, count(*) AS n_docs,
        |  sum(n_shingles)::BIGINT AS total_shingles,
        |  sum(n_novel)::BIGINT AS novel_shingles,
        |  count(CASE WHEN n_novel = n_shingles THEN 1 END) AS n_fully_novel,
        |  count(CASE WHEN n_novel * 2 < n_shingles THEN 1 END) AS n_mostly_seen,
        |  round(sum(n_novel)::BIGINT / sum(n_shingles)::BIGINT * 1000000)
        |    / 1000000 AS novelty
        |FROM per_doc JOIN documents USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,

    // Same pair machinery as q24/q109; the θ list is cast ::DOUBLE so both
    // engines compare the same IEEE doubles (0.4 parses as DECIMAL in
    // DuckDB otherwise — the q52 lesson). Keep-first: d2 is the removed
    // side; max partner similarity drives every threshold at once.
    "q113_dedup_roi" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)),
        |counts AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |jac AS (
        |  SELECT d2,
        |    round(common / (c1.c + c2.c - common) * 1000000) / 1000000 AS jaccard
        |  FROM pairs
        |  JOIN counts c1 ON c1.doc_id = d1
        |  JOIN counts c2 ON c2.doc_id = d2),
        |mj AS (SELECT d2 AS doc_id, max(jaccard) AS mj FROM jac GROUP BY d2),
        |tk AS (
        |  SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |tot AS (
        |  SELECT count(*) AS corpus_docs, sum(tok)::BIGINT AS corpus_tokens FROM tk),
        |sweep AS (
        |  SELECT theta, count(*) AS n_dup_docs, sum(tok)::BIGINT AS tokens_removed
        |  FROM mj JOIN tk USING (doc_id),
        |    LATERAL (SELECT unnest([0.4, 0.5, 0.6, 0.7, 0.8, 0.9]::DOUBLE[]) AS theta)
        |  WHERE mj >= theta GROUP BY theta)
        |SELECT theta, n_dup_docs, tokens_removed,
        |  round(n_dup_docs / corpus_docs * 1000000) / 1000000 AS pct_docs_removed,
        |  round(tokens_removed / corpus_tokens * 1000000) / 1000000 AS pct_tokens_removed
        |FROM sweep, tot ORDER BY theta""".stripMargin,

    // Island detection (pos - row_number) is offset-invariant, so the
    // 1-based generate_series positions here match Spark's 0-based
    // posexplode grouping exactly; dup_frac is BIGINT/BIGINT (exact double
    // both engines).
    "q106_repeated_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i AS pos, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)),
        |dup AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM hits),
        |spans AS (
        |  SELECT doc_id, grp, count(*) AS n_pos,
        |    max(pos) - min(pos) + 3 AS span_tokens
        |  FROM isl GROUP BY doc_id, grp),
        |tot AS (
        |  SELECT doc_id, len(t) - 2 AS n_grams FROM toks WHERE len(t) >= 3),
        |perdoc AS (
        |  SELECT t.doc_id, t.n_grams, count(s.grp) AS n_spans,
        |    coalesce(max(s.span_tokens), 0) AS max_span_tokens,
        |    coalesce(sum(s.n_pos), 0)::BIGINT AS dup_positions
        |  FROM tot t LEFT JOIN spans s USING (doc_id)
        |  GROUP BY t.doc_id, t.n_grams)
        |SELECT doc_id, n_spans, max_span_tokens, dup_positions, n_grams,
        |  round(dup_positions / n_grams * 1000000) / 1000000 AS dup_frac
        |FROM perdoc ORDER BY dup_frac DESC, doc_id LIMIT 20""".stripMargin,

    "q57_repetition_filter" ->
      """WITH words0 AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |words AS (SELECT * FROM words0 WHERE word <> ''),
        |wc AS (SELECT doc_id, word, count(*) AS n FROM words GROUP BY 1, 2),
        |wstats AS (
        |  SELECT doc_id, sum(n)::BIGINT AS total_words,
        |    count(*) AS distinct_words, max(n) AS top_word_n
        |  FROM wc GROUP BY 1),
        |bi AS (
        |  SELECT doc_id, word,
        |    lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |  FROM words),
        |bc AS (
        |  SELECT doc_id, word || ' ' || nxt AS bigram, count(*) AS n
        |  FROM bi WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |bstats AS (
        |  SELECT doc_id, max(n) AS top_bigram_n, sum(n)::BIGINT AS total_bigrams
        |  FROM bc GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, total_words, distinct_words,
        |    round((1.0 - distinct_words / total_words) * 1000000) / 1000000 AS dup_word_frac,
        |    round(top_word_n / total_words * 1000000) / 1000000 AS top_word_frac,
        |    round(top_bigram_n / total_bigrams * 1000000) / 1000000 AS top_bigram_frac
        |  FROM wstats JOIN bstats USING (doc_id))
        |SELECT doc_id, total_words, distinct_words,
        |  dup_word_frac, top_word_frac, top_bigram_frac,
        |  dup_word_frac > 0.65 AS flag_dup_words,
        |  top_word_frac > 0.13 AS flag_top_word,
        |  top_bigram_frac > 0.06 AS flag_top_bigram,
        |  NOT (dup_word_frac > 0.65) AND NOT (top_word_frac > 0.13)
        |    AND NOT (top_bigram_frac > 0.06) AS keep
        |FROM scored ORDER BY doc_id""".stripMargin,

    "q48_quality_filter" ->
      """WITH t AS (
        |  SELECT source, text,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |rules AS (
        |  SELECT source,
        |    len(toks) BETWEEN 10 AND 1000 AS r_len,
        |    (length(text) - (len(toks) - 1)) / len(toks)::DOUBLE BETWEEN 2.0 AND 12.0 AS r_wordlen,
        |    (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
        |      / length(text)::DOUBLE <= 0.1 AS r_symbol,
        |    len(list_distinct(toks)) / len(toks)::DOUBLE >= 0.1 AS r_rep
        |  FROM t)
        |SELECT source, count(*) AS n_docs,
        |  count(CASE WHEN r_len AND r_wordlen AND r_symbol AND r_rep THEN 1 END) AS n_kept,
        |  count(CASE WHEN NOT r_len THEN 1 END) AS n_fail_len,
        |  count(CASE WHEN NOT r_wordlen THEN 1 END) AS n_fail_wordlen,
        |  count(CASE WHEN NOT r_symbol THEN 1 END) AS n_fail_symbol,
        |  count(CASE WHEN NOT r_rep THEN 1 END) AS n_fail_rep
        |FROM rules GROUP BY source ORDER BY source""".stripMargin,

    "q49_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS s
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 4)) AS i)),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
        |contaminated AS (
        |  SELECT DISTINCT sh.doc_id FROM sh JOIN bench USING (s) WHERE sh.doc_id >= 10)
        |SELECT d.source, count(*) AS n_docs,
        |  count(CASE WHEN c.doc_id IS NOT NULL THEN 1 END) AS n_contaminated
        |FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
        |WHERE d.doc_id >= 10
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q44_token_counts" ->
      """WITH t AS (
        |  SELECT source,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_ws,
        |    len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpeish,
        |    length(text) AS n_chars_m
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  sum(n_ws)::BIGINT AS ws_tokens,
        |  sum(n_bpeish)::BIGINT AS bpeish_tokens,
        |  sum(n_chars_m)::BIGINT AS chars,
        |  round(sum(n_bpeish) / sum(n_ws), 4) AS bpe_per_ws
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "q21_text_stats" ->
      """WITH t AS (
        |  SELECT source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |per_doc AS (
        |  SELECT source, len(toks) AS n_tokens,
        |    round(len(list_distinct(toks)) / len(toks)::DOUBLE * 1000000) / 1000000 AS ttr,
        |    round(len(list_filter(toks, x -> x IN ('the', 'a'))) / len(toks)::DOUBLE * 1000000) / 1000000 AS stop_ratio
        |  FROM t),
        |scored AS (
        |  SELECT source, n_tokens, ttr, stop_ratio,
        |    round((0.4 * least(1.0, n_tokens / 50.0) + 0.3 * (1.0 - stop_ratio) + 0.3 * ttr) * 1000000) / 1000000 AS quality
        |  FROM per_doc)
        |SELECT source, count(*) AS n_docs,
        |  sum(n_tokens)::BIGINT AS total_tokens,
        |  round(sum(n_tokens) / count(*), 4) AS avg_tokens,
        |  round(sum(ttr::DECIMAL(25,6))::DOUBLE / count(*), 6) AS avg_ttr,
        |  round(sum(stop_ratio::DECIMAL(25,6))::DOUBLE / count(*), 6) AS avg_stop_ratio,
        |  round(sum(quality::DECIMAL(25,6))::DOUBLE / count(*), 6) AS avg_quality
        |FROM scored GROUP BY source ORDER BY source""".stripMargin,

    "q22_lang_id" ->
      """WITH t AS (
        |  SELECT lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT lang,
        |    CASE WHEN len(toks) = 0 THEN 'unknown'
        |         WHEN len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and')))
        |              / len(toks)::DOUBLE >= 0.05 THEN 'en'
        |         WHEN len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and'))) > 0
        |              THEN 'en_low_conf'
        |         ELSE 'unknown' END AS guessed
        |  FROM t)
        |SELECT lang, guessed, count(*) AS n
        |FROM g GROUP BY lang, guessed ORDER BY lang, guessed""".stripMargin,

    "q23_normalized_dedup" ->
      """WITH keyed AS (
        |  SELECT source,
        |    md5(array_to_string(list_sort(list_filter(string_split(text, ' '), x -> x <> '')), ' ')) AS k
        |  FROM documents),
        |clusters AS (
        |  SELECT source, k, count(*) AS sz FROM keyed GROUP BY source, k)
        |SELECT source, sum(sz)::BIGINT AS n_docs, count(*) AS n_clusters,
        |  sum(sz - 1)::BIGINT AS n_dups
        |FROM clusters GROUP BY source ORDER BY source""".stripMargin,

    "q24_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)),
        |counts AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT d1, d2, common,
        |  round(common / (c1.c + c2.c - common) * 1000000) / 1000000 AS jaccard
        |FROM pairs
        |JOIN counts c1 ON c1.doc_id = d1
        |JOIN counts c2 ON c2.doc_id = d2
        |ORDER BY jaccard DESC, d1, d2 LIMIT 20""".stripMargin,
  )
}

package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Exprs

/** Similarity search over an embedding column (SURVEY builder brief:
  * ANN as a first-class training-data-pipeline operator).
  *
  *   - [[q26CosineTopK]]: brute-force cosine top-k — the exactness baseline.
  *     The probe side is broadcast; the corpus side streams, so the plan is
  *     one broadcast-nested-loop + a per-query top-k window. At 100 TB you
  *     shard the corpus and keep the same plan per shard.
  *   - [[q27AnnLsh]]: random-hyperplane LSH — 12 deterministic hyperplanes
  *     (sin-derived, reproducible with no RNG state) bucket the corpus; only
  *     same-bucket pairs get exact cosine. The bucket join is a hash
  *     shuffle on the signature, the scale path when N² is unaffordable.
  *
  * All dot products run through the native codegen'd [[graft.functions
  * .CosineSim]] expression — left-fold double accumulation in array order,
  * deterministic, bit-identical to the DuckDB oracle formula.
  */
object Similarity {

  /** Cosine similarity via the native codegen'd [[graft.functions.CosineSim]]
    * kernel — the left-fold double semantics of the DuckDB oracle formula,
    * ~40× faster on pairwise scans than the composed HOF form (whose
    * lambdas run interpreted; the spec keeps it as the bit-identity
    * reference). Callers must have run [[ensureRegistered]] on the session
    * (every query entry here does). */
  def cosine(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** Idempotent registration of the native similarity kernels on a session. */
  def ensureRegistered(spark: SparkSession): Unit = {
    graft.functions.CosineSimFunction.register(spark)
    graft.functions.HyperplaneSigFunction.register(spark)
    graft.functions.MaxCosineProbesFunction.register(spark)
    graft.functions.ArgmaxCosineProbesFunction.register(spark)
  }

  /** q26: exact top-3 cosine neighbors for each probe vector (vec_id ≤ 50). */
  def q26CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    ensureRegistered(spark)
    val e = Tables.embeddings(spark, dir)
    val probes = e.filter(col("vec_id") <= 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val corpus = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim_raw").desc, col("cid"))
    corpus.crossJoin(broadcast(probes))
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim_raw", cosine(col("qe"), col("ce")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("cid"), Exprs.dround(col("sim_raw"), 6).as("sim"))
      .orderBy(col("qid"), col("rn"))
  }

  /** Deterministic pseudo-random hyperplane signature: bit p is the sign of
    * Σ_d e[d]·sin(131·p + (17 + 0.731·p)·d) — the cross term gives every
    * plane its own d-frequency so the hyperplane family is full-rank (the
    * r12 fix: the old sin(131p + 17d) family lay entirely in one 2-d
    * subspace, capping ANY signature at ~2·planes distinct values — see
    * [[graft.functions.SigMath.hyperplaneSigG]]). No RNG state →
    * reproducible across runs, executors, and engines. `offset` shifts the
    * plane index so independent hash tables draw disjoint hyperplanes.
    *
    * Runs on the native codegen'd [[graft.functions.HyperplaneSig]] kernel
    * (callers must [[ensureRegistered]]); bit-identical to the composed
    * HOF form (three nested interpreted lambdas — made the signature stage
    * dominate q100's plan at 8.6 s), which the kernel spec keeps as its
    * reference. */
  def lshSignature(e: Column, planes: Int, offset: Column = lit(0)): Column =
    call_function("hyperplane_sig", e, lit(planes), offset)

  /** q27: ANN via hyperplane LSH, 4 independent tables × 5 planes
    * (OR-amplified: candidate if any table's bucket matches) — per-probe
    * candidate count and recall@3 against the exact q26 neighbours.
    * Rows-only (bit signatures are engine-specific); spec asserts mean
    * recall clears a floor. */
  def q27AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    ensureRegistered(spark)
    val planes = 5; val tables = 4
    val e = Tables.embeddings(spark, dir)
    // per-table bucket key: table id folded in so buckets never collide
    // across tables; each table draws its own disjoint hyperplanes. The
    // table loop unrolls Scala-side (tables is a plan-time constant) so the
    // kernel calls sit directly in whole-stage codegen instead of inside an
    // interpreted transform() lambda.
    val sigs = array((0 until tables).map(t =>
      lit(t * 1000L) + lshSignature(col("embedding"), planes, lit(t * planes))): _*)
    val signed = e.withColumn("sigs", sigs)
    val exploded = signed.select(col("vec_id"), col("embedding"), explode(col("sigs")).as("sig"))
    val probes = exploded.filter(col("vec_id") <= 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("sig").as("qsig"))
    val corpus = exploded.select(col("vec_id").as("cid"), col("embedding").as("ce"), col("sig").as("csig"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim_raw").desc, col("cid"))
    // cosine before distinct: re-scoring a pair that collides in k tables
    // costs k map-side kernel calls, while distinct-then-score would shuffle
    // the full embedding arrays; the distinct shuffles (qid,cid,sim) only
    val annTop = corpus.join(broadcast(probes), col("qsig") === col("csig") && col("qid") =!= col("cid"))
      .withColumn("sim_raw", cosine(col("qe"), col("ce")))
      .select(col("qid"), col("cid"), col("sim_raw")).distinct()
      .withColumn("rn", row_number().over(w))
    val perProbe = annTop.groupBy(col("qid")).agg(
      count(lit(1)).as("n_candidates"),
      max(when(col("rn") <= 3, Exprs.dround(col("sim_raw"), 6))).as("best_sim"))
    val exact = q26CosineTopK(spark, dir)
      .groupBy(col("qid")).agg(collect_set(col("cid")).as("exact_ids"))
    val annIds = annTop.filter(col("rn") <= 3)
      .groupBy(col("qid")).agg(collect_set(col("cid")).as("ann_ids"))
    exact.join(perProbe, Seq("qid"), "left")
      .join(annIds, Seq("qid"), "left")
      .withColumn("recall3",
        Exprs.dround(size(array_intersect(
          coalesce(col("ann_ids"), array().cast("array<long>")), col("exact_ids"))) / lit(3.0), 4))
      .select(col("qid"), coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_sim"), col("recall3"))
      .orderBy(col("qid"))
  }

  /** IVF index: k-means-lite centroids (deterministic init = first k vectors
    * by id, `iters` Lloyd rounds). Centroid state is k×dim doubles — tiny —
    * so updates round-trip through the driver like every Spark k-means; the
    * assignment pass is the only distributed work (broadcast centroids,
    * argmax cosine). */
  def ivfCentroids(emb: DataFrame, k: Int, iters: Int)
                  (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    ensureRegistered(spark)
    // seeds = the k SMALLEST ids, not `vec_id < k`: a corpus that has
    // seen deletions (rebuildIvfLayout's survivors) need not contain ids
    // 0..k-1 at all — on a dense-id corpus the two are the same rows, so
    // existing layouts and their fingerprints are unchanged
    var centroids = emb.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("embedding").cast("array<double>").as("ce"))
    for (_ <- 0 until iters) {
      val assigned = assignToCentroid(emb, centroids)
      val flat = assigned
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("v")).as("m"))
        .collect()
      val rebuilt = flat.groupBy(_.getLong(0)).toSeq.map { case (cid, rows) =>
        (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }
      centroids = rebuilt.toDF("cid", "ce")
    }
    centroids
  }

  /** Assign each vector to its max-cosine centroid — always the single
    * [[assignKernel]] node. Centroid state is k×dim doubles, so it rides
    * the plan driver-side, never as a join: the whole cid-sorted centroid
    * matrix is ONE native [[graft.functions.ArgmaxCosineProbes]] node
    * (the `max_cosine_probes` dissolution, argmax flavor), a pure per-row
    * projection in whole-stage codegen at any k — no k× row blow-up, no
    * window, no shuffle.
    *
    * History (r20, the withMaxSimToProbes r8 story repeating): through
    * r19 this unrolled one literal cosine call per centroid (the
    * greatest-struct ladder — the q27/q100 sig-table rule), which capped
    * `IndexParams.ivfK` at 256 (Janino's 64 KB generated-method limit
    * bites in the low hundreds of calls). The kernel is bitwise-identical
    * to the ladder by construction — same per-centroid cosine arithmetic,
    * same (csim desc, cid asc) tiebreak, same NaN-largest and null-row
    * routing, spec-pinned at k=40 and k=300 including zero-vector and
    * null-embedding rows — and measured FASTER at every k
    * (warm, 200k×64: kernel 0.33/0.60/1.66 s vs ladder 2.26/14.0/34.0 s
    * at k=256/1024/4096; PLANS.md r20 "assignToCentroid ladder->kernel
    * flip"), so the flip guard had no failure mode left to guard and the
    * kernel is the only wired path; the ladder lives on in test scope as
    * the spec's reference. Assignment stays a pure function of the
    * embedding value (the q111 recall proof leans on this). */
  def assignToCentroid(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("cid"), col("ce")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty,
      "assignToCentroid: empty centroid relation — the corpus behind the " +
        "layout (or rebuild survivors) has no rows")
    assignKernel(emb, cents)
  }

  /** Matrix-kernel path: the whole cid-sorted centroid matrix rides one
    * [[graft.functions.ArgmaxCosineProbes]] node; the winning row index
    * maps to its cid through a literal array lookup. The sort order is a
    * CORRECTNESS precondition, not a convention — the kernel breaks ties
    * (and routes NaN-cosine rows) toward the smallest ARRAY INDEX, which
    * equals the documented smallest-cid contract only when rows are
    * cid-ascending — so it is required loudly, not assumed. */
  def assignKernel(emb: DataFrame,
                   cents: Array[(Long, Array[Double])]): DataFrame = {
    // loud before cents.head / the kernel's own require can obscure it
    require(cents.nonEmpty,
      "assignKernel: empty centroid matrix — the corpus behind the " +
        "layout (or rebuild survivors) has no rows")
    require(cents.length <= 1 ||
        cents.iterator.map(_._1).sliding(2).forall(p => p.head < p.last),
      "assignKernel: centroid rows must be strictly cid-ascending — " +
        "tiebreak and NaN routing resolve by array index")
    ensureRegistered(emb.sparkSession)
    val idx = call_function("argmax_cosine_probes", col("embedding"),
      typedlit(cents.map(_._2.toIndexedSeq).toIndexedSeq))
    // rows are cid-sorted, so index i ↔ the i-th smallest cid; ANSI
    // element_at is 1-based and idx ∈ [0, k) by construction. A NULL
    // embedding nulls the kernel (nullSafeEval) — but the ladder sends
    // such a row to the SMALLEST cid (every csim field is null, null
    // sorts smallest in the struct compare, ncid breaks the all-equal
    // tie), so coalesce mirrors that and the flip stays
    // behavior-identical on null rows too (spec-pinned)
    emb.select(col("vec_id"), col("embedding"),
      coalesce(
        element_at(typedlit(cents.map(_._1).toIndexedSeq), idx + lit(1)),
        lit(cents.head._1)).as("cid"))
  }

  /** q43: IVF ANN — 16 clusters, 2 Lloyd rounds, nprobe=2: each probe scans
    * only its 2 nearest clusters (~1/8 of the corpus), exact cosine inside.
    * Rows-only (iterative centroids aren't SQL-expressible); spec asserts
    * recall@3 ≥ floor vs the exact q26 baseline. */
  def q43AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    ensureRegistered(spark)
    implicit val s: SparkSession = spark
    val e = Tables.embeddings(spark, dir)
    val centroids = ivfCentroids(e, k = 16, iters = 2)
    val assigned = assignToCentroid(e, centroids)
      .select(col("vec_id").as("cid_vec"), col("embedding").as("ce2"), col("cid"))
    // probe: top-2 centroids per query
    val probes = e.filter(col("vec_id") <= 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wC = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cid"))
    val probeClusters = probes.crossJoin(broadcast(centroids))
      .withColumn("csim", cosine(col("qe"), col("ce")))
      .withColumn("crn", row_number().over(wC))
      .filter(col("crn") <= 2)
      .select(col("qid"), col("qe"), col("cid"))
    val wS = Window.partitionBy(col("qid")).orderBy(col("sim_raw").desc, col("cid_vec"))
    val annTop = probeClusters.join(assigned, "cid")
      .filter(col("qid") =!= col("cid_vec"))
      .withColumn("sim_raw", cosine(col("qe"), col("ce2")))
      .withColumn("rn", row_number().over(wS))
    val perProbe = annTop.groupBy(col("qid")).agg(
      count(lit(1)).as("n_candidates"),
      max(when(col("rn") <= 3, Exprs.dround(col("sim_raw"), 6))).as("best_sim"))
    val exact = q26CosineTopK(spark, dir)
      .groupBy(col("qid")).agg(collect_set(col("cid")).as("exact_ids"))
    val annIds = annTop.filter(col("rn") <= 3)
      .groupBy(col("qid")).agg(collect_set(col("cid_vec")).as("ann_ids"))
    exact.join(perProbe, Seq("qid"), "left")
      .join(annIds, Seq("qid"), "left")
      .withColumn("recall3",
        Exprs.dround(size(array_intersect(
          coalesce(col("ann_ids"), array().cast("array<long>")), col("exact_ids"))) / lit(3.0), 4))
      .select(col("qid"), coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_sim"), col("recall3"))
      .orderBy(col("qid"))
  }

  /** Exact all-pairs candidate generation, block-partitioned (triangle
    * blocking, the classic exact-APSS distribution shape): vectors hash into
    * `nBlocks` blocks; each unordered block pair (lo ≤ hi) becomes one join
    * key, the left side carries block `lo`, the right side block `hi`, and
    * the join is a plain shuffled hash join on the block-pair key. Every
    * unordered vector pair appears exactly once (lo < hi: once by
    * construction; lo = hi: kept only when i < j). Replication is O(N·√P)
    * rows per side — communication linear in N — while the O(N²) cosine
    * work spreads evenly over P(P+1)/2 keys instead of one
    * broadcast-nested-loop partition.
    *
    * Why not an LSH pre-filter here: measured on the test corpus, pair
    * similarity is a mean-0 σ≈1/√dim random tail (max 0.51, dup pairs
    * straddle the 0.4 threshold continuously — min dup 0.4000, max non-dup
    * 0.3999). At θ ≈ 66° a hyperplane agrees with probability ≈ 0.63, so
    * any banding with enough OR-tables for full recall admits ≈ all random
    * pairs too — LSH provably cannot preserve exact ≥ 0.4 semantics while
    * pruning. Exact threshold dedup on unstructured data is inherently
    * Θ(N²) compares; what scales is distributing them evenly, which this
    * does. For real near-dup corpora (planted sim ≥ ~0.9) use
    * [[approxEmbeddingDedup]], where LSH pruning is sound. */
  def exactPairsBlocked(e: DataFrame, nBlocks: Int): DataFrame = {
    val blocks = e.withColumn("blk", pmod(hash(col("vec_id")), lit(nBlocks)))
    val left = blocks
      .withColumn("hi", explode(sequence(col("blk"), lit(nBlocks - 1))))
      .select(col("blk").as("lo"), col("hi"),
        col("vec_id").as("i"), col("embedding").as("ea"))
    val right = blocks
      .withColumn("lo", explode(sequence(lit(0), col("blk"))))
      .select(col("lo"), col("blk").as("hi"),
        col("vec_id").as("j"), col("embedding").as("eb"))
    left.join(right, Seq("lo", "hi"))
      .filter(col("lo") < col("hi") || col("i") < col("j"))
      .select(col("i"), col("j"), col("ea"), col("eb"))
  }

  /** Keep-first near-dup dedup over a pluggable candidate-pair generator —
    * a vector is a duplicate iff an earlier (lower-id) vector is within
    * cosine ≥ `threshold` AND the generator emitted the pair. The higher id
    * of each qualifying unordered pair is the duplicate (identical to
    * "exists earlier j with sim ≥ t" when the generator is exhaustive).
    *
    * `pairGen` is the scale dial: [[exactPairsBlocked]] (exhaustive, Θ(N²)
    * compares evenly distributed — the only sound choice when the
    * threshold sits inside the random-similarity tail, see its scaladoc)
    * or [[lshCandidatePairs]] (linear-in-N bucketed candidates — the
    * 100-TB default whenever true near-dups are tight, sim ≳ 0.9). Both
    * emit the same (i, j, ea, eb) shape, so the verify/mark stages are
    * strategy-independent. */
  def embeddingDedup(e: DataFrame, threshold: Double,
                     pairGen: DataFrame => DataFrame): DataFrame = {
    val dupIds = pairGen(e)
      .filter(cosine(col("ea"), col("eb")) >= threshold)
      .select(greatest(col("i"), col("j")).as("vec_id")).distinct()
    e.join(dupIds.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** q38: embedding-cosine near-dup dedup at θ=0.4, keep-first semantics,
    * per-label accounting. θ=0.4 sits inside this corpus's random-tail
    * similarity range, so the pair generator must be the exhaustive
    * [[exactPairsBlocked]] (see its scaladoc for why LSH cannot prune
    * here); [[q100LshDedup]] is the same operator on the LSH path. */
  def q38EmbeddingDedup(spark: SparkSession, dir: String): DataFrame = {
    ensureRegistered(spark)
    val e = Tables.embeddings(spark, dir)
    embeddingDedup(e, 0.4, exactPairsBlocked(_, nBlocks = 16))
      .groupBy(col("label")).agg(
        count(lit(1)).as("n_vecs"),
        count(when(col("is_dup"), 1)).as("n_dups"))
      .orderBy(col("label"))
  }

  /** Planted-duplicate corpus: every `every`-th row reappears verbatim
    * with `idCol` shifted by `offset` (> every real id, so keep-first marks
    * the copy, never the original, as the duplicate). The single source of
    * the planting contract all the planted oracles lean on (q100/q111
    * dedup, q138/q139 retrieval, q140 via doc_id). */
  def plantedCorpus(e: DataFrame, every: Int, offset: Long,
                    idCol: String = "vec_id"): DataFrame =
    e.unionByName(
      e.filter(col(idCol) % every === 0)
        .withColumn(idCol, col(idCol) + offset))

  /** q100: the LSH (100-TB) dedup path, driver-verified against the exact
    * oracle. Corpus = embeddings ∪ exact copies of every 7th vector
    * (id + 1e6); dedup via [[lshCandidatePairs]] at θ=0.99.
    *
    * Why the approximate path has an exact oracle here: an exact copy has
    * a bit-identical hyperplane signature in EVERY hash table (the
    * signature is a deterministic function of the embedding values alone),
    * so each planted pair collides with certainty — recall is provably
    * 1.0, not probabilistically high. And at θ=0.99 nothing else
    * qualifies (the corpus's max non-identical pair similarity is ≈ 0.51),
    * so false candidates are eliminated by the exact cosine verify stage.
    * The DuckDB oracle computes the same answer from the exhaustive N²
    * join — it checks the LSH machinery end-to-end, assuming nothing. */
  def q100LshDedup(spark: SparkSession, dir: String): DataFrame = {
    ensureRegistered(spark)
    val e = Tables.embeddings(spark, dir)
    val corpus = plantedCorpus(e, every = 7, offset = 1000000L)
    // r12: planes scale with corpus size — output-invariant, the planted
    // recall proof above holds at any parameter choice. r13 convention:
    // every derivation site measures the BASE corpus (SimilaritySpec
    // wiring test), so a wrong-relation-passed regression surfaces loudly.
    val planes = IndexParams.lshPlanes(e.count())
    embeddingDedup(corpus, 0.99, lshCandidatePairs(_, tables = 6, planes))
      .groupBy(col("label")).agg(
        count(lit(1)).as("n_vecs"),
        count(when(col("vec_id") >= 1000000L, 1)).as("n_planted"),
        count(when(col("is_dup"), 1)).as("n_dups"))
      .orderBy(col("label"))
  }

  /** Cluster-blocked candidate pairs — the SemDeDup shape (Abbas et al.
    * 2023): k-means the corpus, generate candidates only WITHIN each
    * cluster. The third pair-generation strategy next to
    * [[exactPairsBlocked]] (exhaustive) and [[lshCandidatePairs]]
    * (hash-bucketed): clusters are data-adaptive blocks, so at 100 TB the
    * compare volume is Σ|cluster|²/2 — tunable via k (k ≈ N/target keeps
    * clusters bounded; production SemDeDup runs k in the tens of thousands)
    * — and the join is a plain shuffled hash join on `cid`, embeddings
    * shuffled once each side. Centroid state is k×dim doubles through the
    * driver ([[ivfCentroids]]); the assignment pass is broadcast+argmax.
    *
    * Determinism: [[assignToCentroid]] ranks (cosine desc, cid) — a pure
    * function of the embedding VALUE — so bit-identical vectors always land
    * in the same cluster, whatever the centroids converged to. That is what
    * makes an exact-copy recall guarantee possible (see [[q111SemanticDedup]]). */
  def clusterCandidatePairs(e: DataFrame, k: Int, iters: Int)
                           (implicit spark: SparkSession): DataFrame = {
    val assigned = assignToCentroid(e, ivfCentroids(e, k, iters))
    val a = assigned.select(col("cid"), col("vec_id").as("i"), col("embedding").as("ea"))
    val b = assigned.select(col("cid"), col("vec_id").as("j"), col("embedding").as("eb"))
    a.join(b, Seq("cid")).filter(col("i") < col("j"))
      .select(col("i"), col("j"), col("ea"), col("eb"))
  }

  /** q111: semantic (cluster-blocked) dedup, driver-verified against the
    * exhaustive oracle — the q100 pattern applied to the SemDeDup strategy.
    * Corpus = embeddings ∪ exact copies of every 5th vector (id + 2e6);
    * dedup via [[clusterCandidatePairs]] (16 clusters, 2 Lloyd rounds) at
    * θ=0.99.
    *
    * Why a clustering-based path still has an exact oracle: a planted copy
    * is bit-identical to its original, and cluster assignment is a
    * deterministic function of the embedding value alone — so every planted
    * pair shares a cluster with certainty and recall on planted copies is
    * provably 1.0, independent of where k-means converged. At θ=0.99
    * nothing else survives the exact cosine verify (max non-identical pair
    * similarity in this corpus ≈ 0.51), so the output is exactly the
    * planted-duplicate set — which the DuckDB oracle recomputes from the
    * exhaustive N² join, checking centroid build, assignment, and the
    * within-cluster join end-to-end. */
  def q111SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    ensureRegistered(spark)
    implicit val s: SparkSession = spark
    val e = Tables.embeddings(spark, dir)
    val corpus = plantedCorpus(e, every = 5, offset = 2000000L)
    // r12: k ~ √n (identical-copy recall is k-independent: assignment is a
    // pure function of the embedding value). r13 convention: derive from
    // the BASE corpus count, like every other IndexParams site.
    val k = IndexParams.ivfK(e.count())
    embeddingDedup(corpus, 0.99, clusterCandidatePairs(_, k = k, iters = 2))
      .groupBy(col("label")).agg(
        count(lit(1)).as("n_vecs"),
        count(when(col("vec_id") >= 2000000L, 1)).as("n_planted"),
        count(when(col("is_dup"), 1)).as("n_dups"),
        count(when(!col("is_dup"), 1)).as("n_kept"))
      .orderBy(col("label"))
  }

  /** q138: planted-probe ANN retrieval with an exact oracle — the q100/q111
    * pattern applied to the RETRIEVAL surface (q27/q43's recall was
    * spec-only until r11; this makes the LSH index machinery
    * driver-checkable). Probes = exact copies of every 9th vector under
    * shifted ids; retrieval = the q27 hyperplane-LSH table join (signatures
    * over corpus and probes, candidate iff any table's bucket matches,
    * exact cosine re-score, top-1 per probe).
    *
    * Why the approximate index has an exact oracle: a planted probe is
    * bit-identical to its original, the signature is a deterministic
    * function of the embedding value alone, so the original collides with
    * the probe in EVERY hash table — it is a certain candidate — and its
    * cosine ≈ 1.0 strictly dominates every non-identical pair (corpus max
    * ≈ 0.51). The LSH top-1 therefore provably equals the exhaustive
    * argmax, which the DuckDB oracle recomputes with the N² scan, checking
    * signature build, bucket join, re-score and ranking end-to-end while
    * assuming nothing about LSH. Per-pair cosines are bitwise-identical
    * across engines (the q26 contract), so ties rank identically.
    *
    * Scale shape: the candidate join is the [[lshCandidatePairs]] bucket
    * join — both sides shuffle on the (table-folded) signature key, no
    * broadcast of a data-sized relation, no N² pass anywhere; the exact
    * N² argmax lives only in the oracle. */
  def q138AnnPlanted(spark: SparkSession, dir: String): DataFrame = {
    ensureRegistered(spark)
    val tables = 4; val offset = 4000000L
    val e = Tables.embeddings(spark, dir)
    // r12: plane count derives from the corpus count (keyspace ∝ n keeps
    // expected bucket occupancy, hence candidates per probe, constant —
    // the r11 verdict's fixed-parameter soft spot), and the bucket join
    // rides the hot-bucket guard. Both are output-invariant here: the
    // planted argument above is parameter-independent by construction.
    val planes = IndexParams.lshPlanes(e.count())
    val sigs = sigTableArray(col("embedding"), planes, tables)
    val corpusX = e.withColumn("sig", explode(sigs))
      .select(col("sig"), col("vec_id").as("cid"), col("embedding").as("ce"))
    val probesX = e.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + offset).as("qid"), col("embedding").as("qe"),
        explode(sigs).as("sig"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim_raw").desc, col("cid"))
    guardedSigJoin(corpusX, "ce", probesX, "qe", IndexParams.hotBucketCap())
      .withColumn("sim_raw", cosine(col("qe"), col("ce")))
      .select(col("qid"), col("cid"), col("sim_raw")).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("qid"), col("cid").as("retrieved_id"),
        Exprs.dround(col("sim_raw"), 6).as("sim"),
        (col("cid") === col("qid") - offset).as("hit"))
      .orderBy(col("qid"))
  }

  /** q139: planted-probe IVF retrieval with an exact oracle — [[q138AnnPlanted]]'s
    * argument applied to the OTHER index family (q43's cluster-probing
    * path): probes are exact copies of every 11th vector; retrieval is the
    * q43 machinery (Lloyd centroids, nprobe=2 nearest clusters per probe,
    * exact cosine inside, top-1).
    *
    * Why a k-means index has an exact oracle: cluster assignment ranks
    * (cosine to centroid desc, cid) — a pure function of the embedding
    * VALUE — so the probe's top-1 centroid IS its original's assigned
    * cluster, whatever the centroids converged to; the original is
    * therefore always scanned, and its cosine ≈ 1.0 dominates the ≈0.51
    * natural tail. The top-1 is the original = the exhaustive argmax,
    * INDEPENDENT of centroid noise (the averaging pass is
    * accumulation-order-dependent, so the candidate SET varies run to run —
    * but the winner never does; q111 leans on the same invariant).
    *
    * Scale shape: centroid state is k×dim doubles through the driver (like
    * every Spark k-means); the corpus-side work is one assignment
    * projection and one hash join on `cid` — no N² anywhere but the
    * oracle. */
  def q139IvfPlanted(spark: SparkSession, dir: String): DataFrame = {
    ensureRegistered(spark)
    implicit val s: SparkSession = spark
    val offset = 5000000L
    val e = Tables.embeddings(spark, dir)
    // r12: k ~ √n from the corpus count (IVF-flat's probe-vs-centroid-scan
    // balance) instead of the fixed 16 — output-invariant by the planted
    // argument above, which holds for ANY centroid set
    val centroids = ivfCentroids(e, k = IndexParams.ivfK(e.count()), iters = 2)
    val assigned = assignToCentroid(e, centroids)
      .select(col("vec_id").as("cid_vec"), col("embedding").as("ce2"), col("cid"))
    val probes = e.filter(col("vec_id") % 11 === 0)
      .select((col("vec_id") + offset).as("qid"), col("embedding").as("qe"))
    val wC = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cid"))
    val probeClusters = probes.crossJoin(broadcast(centroids))
      .withColumn("csim", cosine(col("qe"), col("ce")))
      .withColumn("crn", row_number().over(wC))
      .filter(col("crn") <= 2)
      .select(col("qid"), col("qe"), col("cid"))
    val wS = Window.partitionBy(col("qid")).orderBy(col("sim_raw").desc, col("cid_vec"))
    // no distinct needed: each corpus vector lives in exactly one cluster,
    // so a (qid, cid_vec) pair can appear at most once
    probeClusters.join(assigned, "cid")
      .withColumn("sim_raw", cosine(col("qe"), col("ce2")))
      .select(col("qid"), col("cid_vec"), col("sim_raw"))
      .withColumn("rn", row_number().over(wS))
      .filter(col("rn") === 1)
      .select(col("qid"), col("cid_vec").as("retrieved_id"),
        Exprs.dround(col("sim_raw"), 6).as("sim"),
        (col("cid_vec") === col("qid") - offset).as("hit"))
      .orderBy(col("qid"))
  }

  /** One persisted layout per (source fingerprint, params) — the q127
    * convention: the name is a pure function of the inputs, so Verify +
    * Bench re-invocations inside one JVM reuse the layout instead of
    * leaking a copy per call, while a data regeneration mid-session
    * changes the fingerprint and gets a fresh build. */
  // layout fingerprinting shared across domains since q151 — see
  // graft.ops.Layouts for the contract
  private val LayoutVersion = graft.ops.Layouts.Version
  private def fileFp(p: String): String = graft.ops.Layouts.fileFp(p)

  /** q142: PERSISTED LSH index probe — the missing half of the q138 story.
    * q138 rebuilds signatures per query; a real 100-TB ANN service pays the
    * signature pass ONCE at ingest: the index is the exploded
    * (sig, vec_id, embedding) relation written as a sig-bucketed table
    * ([[graft.sources.Sources.writeBucketed]]), and a probe batch touches
    * only its own buckets — the probe's signatures are collected (bounded:
    * |batch|×tables longs, the q116 driver-resident-probe precedent) into a
    * `sig IN (...)` predicate, which Spark turns into BUCKET PRUNING on the
    * scan (`SelectedBucketsCount: x out of 64` — PlanQualitySpec pins
    * x < 64 at sf0.01). Query-time corpus cost is therefore
    * touched-buckets I/O + one broadcast hash join against the probe batch:
    * no signature kernel over the corpus, no corpus-side shuffle, no sort.
    *
    * The probe batch is deliberately small (every 100th vector — real ANN
    * batches are queries, not corpora); planted as exact copies under
    * shifted ids, so the q138 argument gives an exact oracle: the original
    * shares every table's signature with its probe (certain candidate,
    * bucket filter provably includes its sig), cosine ≈ 1 dominates the
    * ≈0.51 natural tail, and the index top-1 equals the exhaustive argmax
    * DuckDB recomputes. Bucket count is fixed at 64 here; at 100 TB size
    * buckets to ~target-file-size (corpus_bytes / 128 MB), where a probe
    * batch of hundreds still touches a vanishing fraction of the data.
    * Hot buckets: the scan reads whole buckets, so a skewed sig inflates
    * one bucket's I/O but never a shuffle partition; the re-score is
    * per-candidate and the [[guardedSigJoin]] refinement applies if
    * candidate volume (not I/O) ever dominates. */
  def q142LshIndexProbe(spark: SparkSession, dir: String): DataFrame =
    flatLifecycleProbe(spark, dir, LshPrefix, modulus = 100,
      offset = 7000000L)((c, _) => lshBaseSteps(c))

  /** Build-or-reuse the base-corpus sig-bucketed LSH index (the q142
    * layout) — shared by the probe query and the q150 admission gate.
    * Returns (table, planes, tables); parameters derive from the BASE
    * corpus count (r13 convention). */
  def ensureLshIndex(spark: SparkSession, dir: String): (String, Int, Int) = {
    ensureRegistered(spark)
    val c = lshCorpus(spark, dir)
    (ensureFlat(spark, dir, LshPrefix, c)(lshBaseSteps(c)), c.planes, c.tables)
  }

  private val LshPrefix = "g_lsh_index_"
  private val SqPrefix = "g_sq_index_"

  /** `dir`'s corpus (vec_id, embedding), its BASE count and the LSH
    * parameters that count derives (the r13 rule) — resolved once per
    * flat index site ([[ensureLshIndex]], [[appendableLifecycleProbe]],
    * [[ensureSqIndex]], [[flatLifecycleProbe]], q147). The bucket count
    * derives from the corpus like every other parameter (64 at test SFs,
    * ~n·tables/1M at scale — IndexParamsSpec). */
  private[graft] final case class LshCorpus(eSlim: DataFrame, n: Long,
                                            planes: Int, tables: Int) {
    def buckets: Int = IndexParams.indexBuckets(n, tables)
    def indexed(src: DataFrame): DataFrame = indexedRelation(src, planes, tables)
  }

  private[graft] def lshCorpus(spark: SparkSession, dir: String): LshCorpus = {
    val eSlim = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val n = eSlim.count()
    LshCorpus(eSlim, n, IndexParams.lshPlanes(n), 4)
  }

  /** The flat table `prefix` over `dir`'s corpus at `c`'s planes, through
    * THE flat ensure ([[graft.ops.Layouts.ensureTable]]): `build` gets the
    * staging table and its owned dir. */
  private def ensureFlat(spark: SparkSession, dir: String, prefix: String,
                         c: LshCorpus)(build: (String, String) => Unit): String =
    graft.ops.Layouts.ensureTable(spark, prefix,
      fileFp(s"$dir/embeddings.parquet"), c.planes.toString, LayoutVersion)(build)

  /** The base float index: the corpus's (sig, vec_id, embedding) rows,
    * routed into `<owned>/index` (the q142 build, and q145/q148's base). */
  private def lshBaseSteps(c: LshCorpus)(staging: String, owned: String): Unit =
    graft.sources.Sources.writeBucketed(c.indexed(c.eSlim), staging,
      s"$owned/index", "sig", c.buckets)

  /** Online near-dup ADMISSION GATE against a persisted signature index —
    * the ingest-side counterpart of q96's text-batch gate, and the batch
    * body of the streaming gate (`Streaming.dedupGateStream`): decide,
    * for every row of an incoming batch, whether it is a near-duplicate
    * of the already-accepted corpus (`dup_index`), of an earlier row in
    * its own batch (`dup_batch`), or novel (`accepted`).
    *
    * An ingest batch is NOT a serving batch: it can be arbitrarily large,
    * so the gate is a DISTRIBUTED sig equi-join — shuffle the batch to the
    * index's bucket partitioning, never a driver-side collect
    * ([[probeIndex]]'s literal-IN pruning is the SMALL-batch form; the
    * pruning win vanishes once batch·tables ≳ buckets, the r13 serving
    * cost model, and collecting an ingest batch is the driver-OOM the
    * q111 rule bans). Against a sig-bucketed index table the scan comes
    * back bucket-aligned, so only the batch side shuffles.
    *
    * Intra-batch rule — greedy pair-suppression, deliberately
    * conservative: reject j iff SOME index-clean i < j lies within θ
    * (smallest such i reported as `dup_of`). Sequential-accept semantics
    * would reject j only against ACCEPTED i; accepted ⊆ clean, so this
    * rejects a superset — the safe side for training-data dedup, without
    * the per-row sequential state a distributed pass cannot express.
    *
    * `index` must carry (sig, vec_id, embedding); `batch` (vec_id,
    * embedding). θ defaults to 0.75 — dyadic (oracle-safe compare) and
    * hazard-free on this corpus (natural cosine tops out ≈0.53). */
  /** MERGE-ON-READ live view of an appendable vector index relation:
    * [[graft.streaming.Streaming.liveRelation]] keyed on (sig, vec_id).
    * The text twin is [[graft.text.TextOps.liveBandRelation]]; every
    * consumer that treats the index as "the accepted corpus" (serving
    * probes, admission gates) must read THIS view, or a takedown's
    * content keeps gating dup / serving until the physical purge —
    * deletion must be observable the moment the mark lands. */
  def liveIndexRelation(index: DataFrame): DataFrame =
    graft.streaming.Streaming.liveRelation(index, Seq("sig", "vec_id"))

  /** The gate's index tier BEFORE its localCheckpoint — the signed batch
    * bucket-aligned-joined to the index, exact cosine, per-probe argmax.
    * Extracted (r22) so the plan specs pin the REAL subtree's physical
    * claims (Bucketed: true — the index side never shuffles), which the
    * checkpoint hides from the final plan (the q52Nearest pattern). */
  private[graft] def gateIndexTop1(index: DataFrame, batch: DataFrame,
                                   planes: Int, tables: Int): DataFrame = {
    val idx = index.select(col("sig"), col("vec_id").as("cid"),
      col("embedding").as("ce"))
    val w1 = Window.partitionBy(col("qid")).orderBy(col("sim_raw").desc, col("cid"))
    indexedRelation(batch.select(col("vec_id"), col("embedding")),
        planes, tables)
      .select(col("sig"), col("vec_id").as("qid"), col("embedding").as("qe"))
      .join(idx, Seq("sig"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("sim_raw"))
      .distinct()
      .withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
  }

  def dedupGateBatch(spark: SparkSession, index: DataFrame, batch: DataFrame,
                     planes: Int, tables: Int, theta: Double = 0.75): DataFrame = {
    ensureRegistered(spark)
    val top1 = gateIndexTop1(index, batch, planes, tables)
    // r22: idxDup feeds BOTH the clean anti-join and the decision union,
    // and per-branch pruning makes the copies canonically different (the
    // r21 q52 lesson) — without this bounded cut (≤|batch| rows) the
    // whole sign→index-join→window pipeline replayed per consumer
    val idxDup = top1.filter(col("sim_raw") >= lit(theta))
      .select(col("qid").as("vec_id"), col("cid").as("dup_of"), col("sim_raw"))
      .localCheckpoint()
    val clean = batch.select(col("vec_id"), col("embedding"))
      .join(idxDup.select(col("vec_id")), Seq("vec_id"), "left_anti")
    val w2 = Window.partitionBy(col("vec_id")).orderBy(col("cand_id"))
    val batchDup = intraBatchDupCandidates(clean, planes, tables, theta)
      .withColumn("rn", row_number().over(w2))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cand_id").as("dup_of"), col("sim_raw"))
    val dups = idxDup.withColumn("status", lit("dup_index"))
      .unionByName(batchDup.withColumn("status", lit("dup_batch")))
    batch.select(col("vec_id"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("status"), lit("accepted")).as("status"),
        col("dup_of"),
        Exprs.dround(col("sim_raw"), 6).as("sim"))
  }

  /** The intra-batch tier of [[dedupGateBatch]]: per index-clean row j,
    * the (vec_id = j, cand_id = i, sim_raw) rows for every clean i < j
    * within θ — the relation the greedy rule takes the min-`cand_id` of.
    *
    * Candidate generation is DIGEST-GRAIN (the q151 min-id-per-class
    * pattern, vector flavor): identical content means an identical
    * signature in every table, so a raw pair self-join is QUADRATIC in
    * the size of any identical-content group — and duplicate-heavy
    * batches are exactly the input an admission gate exists for
    * (measured: a 10k-identical group materializes ~4×10⁸ pair rows; see
    * PLANS.md). Instead, each exact-content class (grouped on the
    * embedding bytes themselves — no hash, no collision hazard)
    * collapses to its min-id representative, the θ-band pair join runs
    * over representatives only, and the class decision fans back out
    * through a linear join. This is bit-for-bit the raw rule's output:
    * reps are class MINIMA, so the smallest clean i < j within θ is
    * always a representative (of j's own class or of a θ-neighbor
    * class), and every emitted sim is the same cosine kernel over the
    * same float arrays the raw pair join would have scored.
    *
    * Scale shape: one linear shuffle of the batch by embedding (the
    * class window), a pair join quadratic only in DISTINCT near-dup
    * structure, and a scalar-keyed fan-out join — candidate rows grow
    * linearly in identical-content mass (pinned in SimilaritySpec). */
  private[graft] def intraBatchDupCandidates(clean: DataFrame, planes: Int,
      tables: Int, theta: Double): DataFrame = {
    val wClass = Window.partitionBy(col("embedding"))
    // r22: withRep feeds the reps filter AND the class fan-out join with
    // different prunings — one bounded cut (|clean| rows) instead of two
    // runs of the class window over the anti-joined batch
    val withRep = clean.withColumn("rep_id", min(col("vec_id")).over(wClass))
      .localCheckpoint()
    val reps = withRep.filter(col("vec_id") === col("rep_id"))
      .select(col("vec_id"), col("embedding"))
    val signedReps = indexedRelation(reps, planes, tables)
    // cosine BEFORE the multi-table dedup so the distinct exchanges
    // (i, j, sim) scalars, not two 512-byte arrays per candidate pair —
    // the probeIndex shape; duplicate kernel calls are cheaper than the
    // wide-row shuffle on an ingest-scale batch
    val repPairs = signedReps
      .select(col("sig"), col("vec_id").as("i"), col("embedding").as("ei"))
      .join(signedReps.select(col("sig"), col("vec_id").as("j"),
        col("embedding").as("ej")), Seq("sig"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"), cosine(col("ei"), col("ej")).as("sim_raw"))
      .distinct()
      .filter(col("sim_raw") >= lit(theta))
    // per-class candidate reps: θ-neighbor reps in both directions, plus
    // the class's own rep scored by the SAME kernel on its own array (so
    // a pathological content whose self-cosine misses θ — a zero vector —
    // is excluded exactly as the raw pair join excluded it)
    val cand = repPairs
      .select(col("j").as("rep_id"), col("i").as("cand_id"), col("sim_raw"))
      .unionByName(repPairs
        .select(col("i").as("rep_id"), col("j").as("cand_id"), col("sim_raw")))
      .unionByName(reps
        .select(col("vec_id").as("rep_id"), col("vec_id").as("cand_id"),
          cosine(col("embedding"), col("embedding")).as("sim_raw"))
        .filter(col("sim_raw") >= lit(theta)))
    withRep.select(col("vec_id"), col("rep_id"))
      .join(cand, Seq("rep_id"))
      .filter(col("cand_id") < col("vec_id"))
      .select(col("vec_id"), col("cand_id"), col("sim_raw"))
  }

  /** q150: the admission gate over a PLANTED ingest batch against the
    * q142 base-corpus index — every decision branch exercised with an
    * exact exhaustive oracle: copies of every 7th corpus vector are
    * certain `dup_index` hits (identical signature in every table, cosine
    * 1 vs the ≈0.53 natural tail); reversed every-11th vectors are
    * genuinely novel (`accepted`); a second identical set of those
    * reversed vectors under higher ids exercises `dup_batch` (both clean
    * vs the index, pairwise cosine 1, greedy rule keeps the smaller id).
    * Every pair that crosses θ is an exact copy — a certain LSH candidate
    * — so the gate's candidate-join decisions coincide with the
    * exhaustive decisions DuckDB recomputes, and every emitted (dup_of,
    * sim) is the full-precision argmax both engines agree on bitwise. */
  /** q150's gate inputs (index relation, planted batch, planes, tables) —
    * exposed (r22) so the plan spec pins [[gateIndexTop1]] over the SAME
    * inputs the query serves, not a synthetic twin. */
  private[graft] def q150GateInputs(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, Int, Int) = {
    val (idx, planes, tables) = ensureLshIndex(spark, dir)
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val copies = e.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 16000000L).as("vec_id"), col("embedding"))
    val novel = e.filter(col("vec_id") % 11 === 0)
      .select((col("vec_id") + 17000000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    val novelDup = e.filter(col("vec_id") % 11 === 0)
      .select((col("vec_id") + 18000000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    (spark.table(idx), copies.unionByName(novel).unionByName(novelDup),
      planes, tables)
  }

  def q150DedupGate(spark: SparkSession, dir: String): DataFrame = {
    val (index, batch, planes, tables) = q150GateInputs(spark, dir)
    dedupGateBatch(spark, index, batch, planes, tables)
      .orderBy(col("vec_id"))
  }

  /** The OR-amplified multi-table signature array: one entry per hash
    * table, table id folded above the widest signature (planes ≤ 24 < 32
    * bits) so buckets never collide across tables at any scale. The one
    * source of truth for every signature-index site (q138/q142/q145,
    * [[lshCandidatePairs]], the streaming server). */
  def sigTableArray(emb: Column, planes: Int, tables: Int): Column =
    array((0 until tables).map(t =>
      lit(t.toLong << 32) + lshSignature(emb, planes, lit(t * planes))): _*)

  /** The persisted-index relation shape: (sig, vec_id, embedding), one row
    * per (vector, table). Self-registering (the signature kernel resolves
    * at analysis time, and this is public API). */
  def indexedRelation(src: DataFrame, planes: Int, tables: Int): DataFrame = {
    ensureRegistered(src.sparkSession)
    src.select(col("vec_id"), col("embedding"),
      explode(sigTableArray(col("embedding"), planes, tables)).as("sig"))
  }

  /** The float scorer against a persisted signature index (the q142
    * probe shape, shared with [[q145IndexAppendProbe]] and the streaming
    * maintenance spec): the exact-cosine top-1 per probe (qid,
    * retrieved_id, sim), straight from [[flatCandidates]]. `probes` must
    * carry (qid, embedding).
    *
    * `live = true` serves the APPENDABLE index flavor with merge-on-read
    * DELETION semantics: rows carried by the `batch_id = −3` tombstone
    * partition ([[graft.streaming.Streaming.tombstoneIndexRows]]) are
    * anti-joined out before scoring. Deleted rows stay invisible from the
    * mark's landing until the next fold physically purges them; the
    * answer is identical before and after the purge. */
  def probeIndex(spark: SparkSession, indexTable: String, probes: DataFrame,
                 planes: Int, tables: Int, live: Boolean = false): DataFrame =
    flatCandidates(spark, indexTable, probes, planes, tables,
        FloatPayload.decode, topR = 1, live)._1
      .select(col("qid"), col("cid").as("retrieved_id"),
        Exprs.dround(col("score"), 6).as("sim"))

  /** THE candidate read of every flat bucketed-table serve — the flat twin
    * of [[ivfCandidates]]: the batch localizes once ([[localizeProbes]]:
    * the literal sig list and the relation the join broadcasts), the scan
    * prunes to the batch's buckets (`sig IN (...)` →
    * SelectedBucketsCount), `live` applies THE merge-on-read view
    * ([[liveIndexRelation]]) after pruning — both sides of its anti-join
    * sit inside the same pruned bucket set, so it adds no scan — and the
    * probe batch broadcasts into the sig join. Each distinct candidate
    * scores by cosine against the layout's decoded payload (`decode`);
    * the top `topR` per probe survive as (qid, cid, score). Returns them
    * with the localized (qid, qe, sig) batch, which a rescore reuses. */
  private def flatCandidates(spark: SparkSession, table: String,
      probes: DataFrame, planes: Int, tables: Int, decode: Column, topR: Int,
      live: Boolean): (DataFrame, DataFrame) = {
    ensureRegistered(spark)
    val (probesLocal, probeSigs) = localizeProbes(spark, probes, planes, tables)
    val pruned = spark.table(table)
      .filter(col("sig").isin(probeSigs.map(Long.box): _*))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    val cands = (if (live) liveIndexRelation(pruned) else pruned)
      .withColumnRenamed("vec_id", "cid")
      .join(broadcast(probesLocal), Seq("sig"))
      .withColumn("score", cosine(col("qe"), decode))
      .select(col("qid"), col("cid"), col("score")).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topR)
      .select(col("qid"), col("cid"), col("score"))
    (cands, probesLocal)
  }

  /** The appendable index's partition namespace: live batches ≥ 0, the
    * folded base is −2, deletion tombstones are −3 (one constant so the
    * append, fold, delete and serve sites cannot drift). */
  val TombstoneBatchId: Long = -3L

  /** [[probeIndex]] with merge-on-read deletion (`live = true`). */
  def probeIndexLive(spark: SparkSession, indexTable: String,
                     probes: DataFrame, planes: Int, tables: Int): DataFrame =
    probeIndex(spark, indexTable, probes, planes, tables, live = true)

  /** q157: DELETION from the persisted index — the lifecycle arm every
    * real training-data pipeline eventually needs (takedowns,
    * right-to-be-forgotten, licensing reversals): build the appendable
    * index over the corpus plus exact copies of every 7th vector under
    * shifted ids, then tombstone-delete the ORIGINALS
    * ([[graft.streaming.Streaming.tombstoneIndexRows]]; the request
    * carries only ids — content comes from the corpus by point lookup)
    * and probe with the deleted vectors' content through
    * [[probeIndexLive]].
    *
    * The planted argument makes deletion OBSERVABLE and exact: while the
    * original was present it was the certain argmax (cosine 1, smaller
    * id); with it deleted, its surviving COPY is the certain argmax
    * (cosine 1 — identical signature in every table — vs the ≈0.53
    * natural tail), so every probe's top-1 provably flips from original
    * to copy, and the DuckDB oracle recomputes the same answer
    * exhaustively over corpus-minus-deleted ∪ copies. A deletion that
    * silently failed (mark not landing, anti-join dropped, purge
    * resurrecting rows) flips retrieved ids back and breaks the driver
    * hash. */
  def q157IndexDeleteProbe(spark: SparkSession, dir: String): DataFrame =
    appendableLifecycleProbe(spark, dir, "del",
        copyShift = 24000000L, offset = 25000000L, live = true) {
      (staging, c, copies) => plantedDeleteIngest(spark, staging, c, copies)
    }

  /** q162: REBUILD of the appendable index under a re-derived bucket
    * count, with outstanding deletion debt —
    * [[graft.streaming.Streaming.rebuildAppendableIndex]] made
    * hash-observable, the table twin of q161: the index is built at a
    * deliberately stale keyspace (4 buckets), loaded with corpus ∪
    * copies, the originals tombstoned (the q157 shape), then the
    * maintenance rebuild re-buckets at the corpus-derived count — marks
    * honored by exclusion, the new table starting mark-free and fully
    * folded. The probe goes through the PLAIN [[probeIndex]], no live
    * view: a rebuild that resurrected a deleted row or broke the bucket
    * function (pruning would read the wrong buckets) flips retrieved
    * ids and breaks the driver hash. Exactness is q157's argument over
    * the rebuilt corpus. */
  def q162IndexRebuildProbe(spark: SparkSession, dir: String): DataFrame =
    // stale keyspace by construction: the rebuild is the point
    appendableLifecycleProbe(spark, dir, "rb",
        copyShift = 32000000L, offset = 33000000L, live = false,
        createBuckets = Some(4)) {
      (staging, c, copies) =>
        plantedDeleteIngest(spark, staging, c, copies)
        graft.streaming.Streaming.rebuildAppendableIndex(spark, staging,
          c.buckets)
        ()
    }

  /** The shared build-and-probe scaffold of the appendable-lifecycle
    * probe family (q157/q162/q164/q165/q166): the corpus and planted
    * copies of every 7th vector ingest through `build` — which owns the
    * appends and the maintenance steps under test against the staging
    * table — and the originals' content probes the result (the q157
    * planted-delete argument: each top-1 provably flips original →
    * copy). `live` picks [[probeIndexLive]] (merge-on-read serving)
    * versus the PLAIN [[probeIndex]] (physical-death certification);
    * `createBuckets` overrides the corpus-derived bucket count the table
    * is created with (q162's deliberately stale keyspace). One
    * definition so a scaffold fix cannot drift across the family — the
    * next probe is a lambda, not another copy. */
  private def appendableLifecycleProbe(spark: SparkSession, dir: String,
      tag: String, copyShift: Long, offset: Long, live: Boolean,
      createBuckets: Option[Int] = None)(
      build: (String, LshCorpus, DataFrame) => Unit): DataFrame = {
    ensureRegistered(spark)
    val c = lshCorpus(spark, dir)
    val copies = c.eSlim.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + copyShift).as("vec_id"), col("embedding"))
    val idx = graft.ops.Layouts.ensureTable(spark, s"g_${tag}_index_",
        fileFp(s"$dir/embeddings.parquet"), s"$tag${c.planes}", LayoutVersion) {
      (staging, owned) =>
        graft.streaming.Streaming.createAppendableIndex(spark, staging,
          s"$owned/index", createBuckets.getOrElse(c.buckets))
        build(staging, c, copies)
    }
    val probes = c.eSlim.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + offset).as("qid"), col("embedding"))
    probeIndex(spark, idx, probes, c.planes, c.tables, live)
      .withColumn("hit",
        col("retrieved_id") === col("qid") - (offset - copyShift))
      .orderBy(col("qid"))
  }

  /** The q157/q162 ingest sequence: corpus as batch 0, the planted
    * copies as batch 1, originals tombstoned (merge-on-read). */
  private def plantedDeleteIngest(spark: SparkSession, staging: String,
                                  c: LshCorpus, copies: DataFrame): Unit = {
    graft.streaming.Streaming.appendIndexBatch(c.eSlim, 0L, staging,
      c.planes, c.tables)
    graft.streaming.Streaming.appendIndexBatch(copies, 1L, staging,
      c.planes, c.tables)
    graft.streaming.Streaming.tombstoneIndexRows(spark, staging,
      c.eSlim.filter(col("vec_id") % 7 === 0), c.planes, c.tables)
  }

  /** The q164/q165 ingest sequence: corpus in two leveled-folded
    * generations, copies leveled-folded in as a third batch, originals
    * tombstoned (merge-on-read) — one definition so the two probes
    * cannot drift. */
  private def leveledIngest(spark: SparkSession, staging: String,
                            c: LshCorpus, copies: DataFrame): Unit = {
    val LshCorpus(eSlim, _, planes, tables) = c
    graft.streaming.Streaming.appendIndexBatch(
      eSlim.filter(col("vec_id") % 2 === 0), 0L, staging, planes, tables)
    graft.streaming.Streaming.appendIndexBatch(
      eSlim.filter(col("vec_id") % 2 === 1), 1L, staging, planes, tables)
    graft.streaming.Streaming.foldIndexLeveled(spark, staging, 1L)
    graft.streaming.Streaming.appendIndexBatch(copies, 2L, staging,
      planes, tables)
    graft.streaming.Streaming.foldIndexLeveled(spark, staging, 2L)
    graft.streaming.Streaming.tombstoneIndexRows(spark, staging,
      eSlim.filter(col("vec_id") % 7 === 0), planes, tables)
  }

  /** q164: serving across the LEVELED fold's generation partitions with
    * standing deletion marks —
    * [[graft.streaming.Streaming.foldIndexLeveled]] made hash-observable,
    * completing the fold family's driver evidence (base fold via
    * q157/q162, leveled fold here): the index ingests the corpus in two
    * batches, leveled-folds them into level 0, ingests the planted copies
    * as a third batch, leveled-folds again (binary counter: level 0 +
    * batch → level 1), then tombstones the originals WITHOUT any base
    * fold — so at serving time every row lives in a generation partition
    * and every deletion is merge-on-read. The probe goes through
    * [[probeIndexLive]]: a leveled fold that lost or duplicated rows,
    * broke the bucket function (pruning would read the wrong buckets), or
    * leaked marked rows past the anti-join flips retrieved ids and breaks
    * the driver hash. Exactness is q157's argument — the physical layout
    * (generations vs batches vs base) is invisible to the top-1. */
  def q164LeveledFoldProbe(spark: SparkSession, dir: String): DataFrame =
    appendableLifecycleProbe(spark, dir, "lev",
        copyShift = 36000000L, offset = 37000000L, live = true) {
      (staging, c, copies) => leveledIngest(spark, staging, c, copies)
    }

  /** q165: the MARK-SCOPED physical purge made hash-observable —
    * [[graft.streaming.Streaming.purgeIndexTombstones]]' driver evidence,
    * completing the appendable deletion lifecycle's oracle coverage
    * (logical delete q157, rebuild-as-purge q162, leveled serving q164,
    * scoped physical purge here): the q164 build shape (corpus in two
    * leveled-folded generations, copies in a third), originals
    * tombstoned, then the SCOPED purge rewrites exactly the
    * victim-bearing generations and retires the marks. The probe goes
    * through the PLAIN [[probeIndex]] — no live view, no anti-join — so
    * the hash certifies PHYSICAL death: a purge that left a victim's
    * row standing would retrieve the original (smaller id wins the
    * tiebreak at cosine 1), one that dropped a survivor or broke the
    * bucket function flips ids elsewhere. Exactness is q157's planted
    * argument over corpus-minus-deleted ∪ copies. */
  def q165ScopedPurgeProbe(spark: SparkSession, dir: String): DataFrame =
    appendableLifecycleProbe(spark, dir, "purge",
        copyShift = 38000000L, offset = 39000000L, live = false) {
      (staging, c, copies) =>
        leveledIngest(spark, staging, c, copies)
        graft.streaming.Streaming.purgeIndexTombstones(spark, staging)
        ()
    }

  /** q166: the CONVERGING purge made hash-observable —
    * [[graft.streaming.Streaming.purgeIndexTombstonesConverging]]'s
    * driver evidence, the r18 ADVICE scenario certified physically: the
    * corpus and the planted copies land as three LIVE batches that are
    * NEVER folded, so every victim is live-batch-resident and the plain
    * scoped purge ([[q165ScopedPurgeProbe]]'s tool) would be a bounded
    * no-op forever — exactly the state in which a schedule's `purge_age`
    * SLA used to spin. The converging purge folds the committed head
    * (all three batches — no stream, so [[graft.streaming.Streaming
    * .maxLiveBatch]] IS the committed head) and re-purges in the same
    * call. The probe goes through the PLAIN [[probeIndex]] — no live
    * view, no anti-join — so the hash certifies PHYSICAL death through
    * the fold+purge composition: a victim row left standing in the
    * folded generation retrieves the original at cosine 1 and flips the
    * id. Exactness is q157's planted argument over corpus-minus-deleted
    * ∪ copies. Cost model is MEASURED, not asserted (the converging
    * arm, PLANS.md r20): flat across a 1×–100× base ladder at 1%
    * live-resident debt (11–14 s at 10k-row batches regardless of base
    * size) — the second pass pays a leveled fold of the committed head
    * plus a scoped re-purge, never O(base), with a fixed ~1.2–1.4×
    * bookkeeping premium over the manual purge+fold+purge decomposition. */
  def q166ConvergingPurgeProbe(spark: SparkSession, dir: String): DataFrame =
    appendableLifecycleProbe(spark, dir, "cvg",
        copyShift = 40000000L, offset = 41000000L, live = false) {
      (staging, c, copies) =>
        val LshCorpus(eSlim, _, planes, tables) = c
        graft.streaming.Streaming.appendIndexBatch(
          eSlim.filter(col("vec_id") % 2 === 0), 0L, staging, planes, tables)
        graft.streaming.Streaming.appendIndexBatch(
          eSlim.filter(col("vec_id") % 2 === 1), 1L, staging, planes, tables)
        graft.streaming.Streaming.appendIndexBatch(copies, 2L, staging,
          planes, tables)
        graft.streaming.Streaming.tombstoneIndexRows(spark, staging,
          eSlim.filter(col("vec_id") % 7 === 0), planes, tables)
        graft.streaming.Streaming.purgeIndexTombstonesConverging(spark,
          staging, graft.streaming.Streaming.maxLiveBatch(spark, staging))
        ()
    }

  /** ONE pass over a serving batch's lineage (bounded by contract:
    * |batch|×tables rows, embeddings included): the collected batch yields
    * both the literal sig list for bucket pruning AND the local relation
    * the index join broadcasts, instead of re-running the probe scan +
    * signature kernel once per use. Shared by every persisted-index
    * serving path. Returns (local (qid, qe, sig) relation, distinct sigs). */
  private[graft] def localizeProbes(spark: SparkSession, probes: DataFrame,
                                    planes: Int, tables: Int): (DataFrame, Array[Long]) = {
    val probesX = probes.select(col("qid"), col("embedding").as("qe"),
      explode(sigTableArray(col("embedding"), planes, tables)).as("sig"))
    // the small-batch contract is ENFORCED, not advisory (the
    // MaxCollectProbes pattern): a misrouted ingest-scale batch must
    // error with guidance, never OOM the driver
    val localProbes = probesX.limit(MaxCollectProbes + 1).collect()
    require(localProbes.length <= MaxCollectProbes,
      s"serving batch exceeds $MaxCollectProbes (probe, table) rows — too " +
        "large to collect for the literal-IN bucket-pruned serving path; " +
        "ingest-scale batches go through dedupGateBatch's distributed " +
        "sig join instead")
    val sigs = localProbes.map(_.getAs[Long]("sig")).distinct.sorted
    (spark.createDataFrame(
      java.util.Arrays.asList(localProbes: _*), probesX.schema), sigs)
  }

  /** Per-dim affine int8 quantization of an embedding against FROZEN
    * per-dim (mn, mx) codebook stats — the q108 audit's codebook promoted
    * to a STORAGE format (reference keeps float32 vectors; SQ8 is the
    * standard first move when the index, not the corpus, must fit a
    * serving tier's budget): code = ⌊(x−mn)/(mx−mn)·255 + 0.5⌋ − 128 as
    * tinyint, 4× smaller than float32. SATURATING: a value outside the
    * codebook's [mn, mx] clamps to the edge code (standard SQ behavior —
    * the frozen-codebook append path quantizes NEW data against OLD
    * stats, and under ANSI mode an unclamped out-of-range code would be
    * a tinyint cast error, not a graceful degradation; in-range codes
    * are bitwise unchanged by the clamp). Unrolled per dimension (the
    * stats are plan-time constants) so the projection stays in
    * whole-stage codegen — a transform() lambda would drop the whole
    * build pass to interpreted eval (the q27/q100 sig-table rule). */
  def quantizeExpr(emb: Column, stats: Array[(Double, Double)]): Column =
    array(stats.zipWithIndex.map { case ((mn, mx), i) =>
      val x = element_at(emb, i + 1).cast("double")
      (if (mx > mn)
        least(lit(127L), greatest(lit(-128L),
          floor((x - lit(mn)) / lit(mx - mn) * lit(255.0) + lit(0.5)) - lit(128L)))
      else lit(-128L)).cast("tinyint")
    }: _*)

  /** Dequantization back to array<float>: r = mn + (q+128)/255·(mx−mn).
    * Same unrolled plan-time-constant shape as [[quantizeExpr]]; feeds the
    * native cosine kernel, so the approximate scoring pass is one codegen
    * projection over the pruned buckets. */
  def reconExpr(qcode: Column, stats: Array[(Double, Double)]): Column =
    array(stats.zipWithIndex.map { case ((mn, mx), i) =>
      (lit(mn) + (element_at(qcode, i + 1).cast("double") + lit(128.0)) /
        lit(255.0) * lit(mx - mn)).cast("float")
    }: _*)

  /** Write the per-dim SQ8 codebook (min/max per dimension) for `eSlim`
    * to `target` — the one stats-build every quantized layout shares
    * (frozen beside the codes it writes, the q149 rule). */
  private[graft] def writeSqStats(eSlim: DataFrame, target: String): Unit =
    // r22: the corpus arrives as one input split, so the posexplode +
    // partial min/max agg ran as a single 1.5-2.2 s task (guide §2.4) —
    // spread it with a deterministic-key repartition at a conf-derived
    // width (the r21 explicit-count rule; bare repartition(col) would be
    // AQE-coalesced right back). min/max are exact and order-free, so
    // the written codebook is bit-identical at any parallelism.
    eSlim.repartition(eSlim.sparkSession.sparkContext.defaultParallelism,
        col("vec_id"))
      .select(posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("pos").as("dim"), col("xf").cast("double").as("x"))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .coalesce(1)
      .write.mode("overwrite").parquet(target)

  /** The persisted codebook, read back sorted by dim (element_at(·, i+1)
    * aligns with dim=i from posexplode). Bounded: one row per dimension. */
  private[graft] def sqStatsLocal(spark: SparkSession, statsDir: String): Array[(Double, Double)] =
    spark.read.parquet(statsDir).orderBy(col("dim")).collect()
      .map(r => (r.getAs[Double]("mn"), r.getAs[Double]("mx")))

  /** A layout's stored payload: the projection an `embedding` row is
    * written as (`encode`) and the float vector a stored row scores with
    * (`decode`). */
  private[sim] final case class Payload(encode: Column, decode: Column)

  private[sim] val FloatPayload = Payload(col("embedding"), col("embedding"))

  /** THE SQ8 codec: tinyint `qcode` under the frozen per-dim codebook at
    * `codebook`, read once per codec (codes are only valid with the
    * codebook that wrote them — the q149 rule). One codec for both
    * quantized flavors: q149's flat table passes `<owned dir>/codebook`,
    * the SQ8 directory IVF its `<idxDir>/stats`. */
  private[sim] def sq8Payload(spark: SparkSession, codebook: String): Payload = {
    val stats = sqStatsLocal(spark, codebook)
    Payload(quantizeExpr(col("embedding"), stats).as("qcode"),
      reconExpr(col("qcode"), stats))
  }

  /** First stage of the quantized serving path: bucket-pruned scan of the
    * SQ8 index, approximate cosine against the dequantized codes, top-R
    * candidates per probe ([[flatCandidates]] under the SQ8 codec).
    * Public so specs can pin the plan shape (SelectedBucketsCount) that
    * [[probeSqIndex]] consumes eagerly. */
  def sqCandidates(spark: SparkSession, indexTable: String, statsDir: String,
                   probes: DataFrame, planes: Int, tables: Int,
                   topR: Int): DataFrame =
    flatCandidates(spark, indexTable, probes, planes, tables,
        sq8Payload(spark, statsDir).decode, topR, live = false)._1
      .withColumnRenamed("score", "approx")

  /** Serving path against a QUANTIZED persisted index (q149): candidate
    * generation reads only tinyint codes from the pruned buckets
    * ([[sqCandidates]]), then the bounded candidate set is re-scored
    * EXACTLY against the full-precision corpus ([[exactRescoreTop1]]; at
    * 100 TB the corpus side would additionally be bucketed by vec_id so
    * the lookup prunes buckets too). The emitted similarity is the exact
    * full-precision cosine: quantization affects WHICH candidates are
    * ranked, never the reported score. */
  def probeSqIndex(spark: SparkSession, indexTable: String, statsDir: String,
                   probes: DataFrame, planes: Int, tables: Int,
                   corpus: DataFrame, topR: Int = 8): DataFrame = {
    val (cands, probesLocal) = flatCandidates(spark, indexTable, probes,
      planes, tables, sq8Payload(spark, statsDir).decode, topR, live = false)
    exactRescoreTop1(spark, corpus, cands.select(col("qid"), col("cid")),
      probesLocal.select(col("qid"), col("qe")).distinct())
  }

  /** The exact second stage every quantized serving path shares (q149 LSH
    * and q154 IVF flavors): the bounded candidate set (qid, cid rows;
    * ≤ |batch|·topR, collected) is re-scored at FULL precision against the
    * corpus via a literal `vec_id IN (...)` — a pushed point-lookup read —
    * and a per-probe argmax picks the answer. Quantization decides WHICH
    * candidates are ranked, never the reported score. */
  private def exactRescoreTop1(spark: SparkSession, corpus: DataFrame,
                               candStage: DataFrame,
                               probeRel: DataFrame): DataFrame = {
    val cands = candStage.collect()
    val candIds = cands.map(_.getAs[Long]("cid")).distinct.sorted
    val candLocal = spark.createDataFrame(
      java.util.Arrays.asList(cands: _*), candStage.schema)
    val w = Window.partitionBy(col("qid")).orderBy(col("sim_raw").desc, col("cid"))
    corpus.filter(col("vec_id").isin(candIds.map(Long.box): _*))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .join(broadcast(candLocal), Seq("cid"))
      .join(broadcast(probeRel), Seq("qid"))
      .withColumn("sim_raw", cosine(col("qe"), col("ce")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("qid"), col("cid").as("retrieved_id"),
        Exprs.dround(col("sim_raw"), 6).as("sim"))
  }

  /** The q149 layout coordinates for a corpus dir — (index table, codebook
    * dir, planes, tables) — shared by the query and the specs that pin its
    * physical claims (tinyint-only schema, size vs the float twin, bucket
    * pruning). Parameters derive from the BASE corpus count (r13 rule). */
  case class SqLayout(table: String, statsDir: String, planes: Int,
                      tables: Int, n: Long)

  /** [[ensureSqIndex]]: the codebook dir is the built table's own. */
  def sqLayout(spark: SparkSession, dir: String): SqLayout =
    ensureSqIndex(spark, dir)

  /** Build-or-reuse the q149 quantized signature index (codebook +
    * sig-bucketed tinyint-code table, one staged build) — extracted so the
    * q155 maintenance audit sees the same layout the probe serves. */
  def ensureSqIndex(spark: SparkSession, dir: String): SqLayout = {
    ensureRegistered(spark)
    val c = lshCorpus(spark, dir)
    val idx = ensureFlat(spark, dir, SqPrefix, c)(sqSteps(spark, c))
    SqLayout(idx, codebookDir(spark, idx), c.planes, c.tables, c.n)
  }

  /** The q149 build: the codebook lands at `<owned>/codebook`, then the
    * (sig, vec_id, qcode) rows coded by its FROZEN copy (not the plan)
    * land at `<owned>/index`. */
  private def sqSteps(spark: SparkSession, c: LshCorpus)(
      staging: String, owned: String): Unit = {
    writeSqStats(c.eSlim, s"$owned/codebook")
    graft.sources.Sources.writeBucketed(c.indexed(c.eSlim).select(col("sig"),
        col("vec_id"), sq8Payload(spark, s"$owned/codebook").encode),
      staging, s"$owned/index", "sig", c.buckets)
  }

  /** A q149 table's codebook: `codebook` beside its `index` data dir. */
  private def codebookDir(spark: SparkSession, table: String): String =
    graft.ops.Layouts.tableLocation(spark, table).getParent.toString + "/codebook"

  /** q149: SQ8-QUANTIZED persisted index with exact rescore — the storage
    * tier q108's audit priced out, wired into the q142 lifecycle: the
    * index table stores (sig, vec_id, qcode array<tinyint>) — no float
    * vectors, 4× less index I/O per probed bucket — and serving is
    * two-stage: approximate cosine over dequantized codes picks top-R per
    * probe from the pruned buckets, exact full-precision rescore of the
    * collected candidate ids (pushed `vec_id IN` corpus lookup) picks the
    * answer. The per-dim codebook is persisted BESIDE the codes, in the
    * table's own dir (`<owned dir>/codebook` next to `<owned dir>/index`,
    * written inside the same staged build), and read back for both build
    * and probe (the q143 frozen-centroid rule — appends or probes
    * quantizing against recomputed stats could disagree with stored
    * codes).
    *
    * The planted oracle stays EXACT through both approximations: a probe
    * is a bit-exact copy of its original, so the original is a certain
    * candidate (identical signature in every table) whose approximate
    * score ≈ 1 − ε(quantization) still clears the ≈0.51 natural tail by a
    * wide margin — it survives any top-R cut with R ≥ 1 — and the exact
    * rescore then reproduces the exhaustive argmax wholesale (the same
    * emitted doubles: full-precision cosine, identical tiebreak). So the
    * output equals [[plantedRetrievalOracle]] independent of codebook
    * noise, R, and quantization error. */
  def q149SqIndexProbe(spark: SparkSession, dir: String): DataFrame =
    flatLifecycleProbe(spark, dir, SqPrefix, modulus = 89,
      offset = 15000000L, quantized = true)((c, _) => sqSteps(spark, c))

  /** q145: INCREMENTAL index maintenance — the append path without which a
    * persisted index ([[q142LshIndexProbe]]) is a one-shot artifact: at
    * 100 TB you never rebuild, you append each ingest batch. The base
    * corpus is indexed once into the sig-bucketed table; a later delta
    * batch (here: reversed embeddings under shifted ids — genuinely new
    * content, max cosine to any base vector ≈ 0.53, measured) lands via
    * `insertInto`, which writes its own bucket files under the SAME
    * hash-bucket layout — so bucket pruning spans base and delta files
    * alike and a probe batch serves from both without any rebuild or
    * compaction. The layout is fingerprint-named and built+appended inside
    * one staged ensure, so re-invocations reuse it (no double-append) and
    * a failure mid-append never leaves a registered base-only index.
    *
    * Probes are exact copies of every 113th vector of the UNION — the
    * modulus lands on both halves, so the oracle proves base AND delta rows
    * are retrievable through the appended index: a probe of a delta row
    * collides with it in every table (signature is a pure function of the
    * value), and its cosine 1.0 dominates the ≈0.55 natural/reversal tail,
    * so the index top-1 equals the exhaustive argmax DuckDB recomputes over
    * the same union (`list_reverse` mirrors `reverse`; float→float
    * reversal is bit-exact). A broken append — delta rows missing, or
    * insertInto not respecting the bucket function (pruning would then
    * skip delta files) — flips retrieved ids and breaks the driver hash. */
  def q145IndexAppendProbe(spark: SparkSession, dir: String): DataFrame =
    flatLifecycleProbe(spark, dir, "g_lsh_index_inc_", modulus = 113,
        offset = 10000000L, shift = 9000000L) { (c, delta) =>
      (staging, owned) =>
        lshBaseSteps(c)(staging, owned)
        // the incremental ingest: routed, position-based insert, bucketing
        // preserved — the delta's sign+write runs buckets-wide, not as the
        // source scan's single split, and still lands one file per bucket
        graft.sources.Sources.insertBucketed(c.indexed(delta), staging,
          "sig", c.buckets)
    }

  /** q148: index COMPACTION — the maintenance arm that keeps the append
    * path ([[q145IndexAppendProbe]]) serviceable. Every `insertInto`
    * batch writes its own file per touched bucket, so after B streaming
    * ingests a probed bucket opens B+1 small files instead of one — at a
    * 30 s trigger that is ~2,880 files/bucket/day and the bucket-pruned
    * probe's footer I/O, not its data I/O, becomes the cost (the
    * reference batches conversions against the same decay,
    * optimized_converter.py:78-91). A plain directory rewrite
    * ([[graft.sources.Sources.compact]]) would destroy the bucket layout
    * the pruning depends on; [[graft.sources.Sources.compactBucketed]]
    * rewrites to ONE file per bucket while preserving it (placement hash
    * reproduced via `repartition(buckets, sig)`), swapping in
    * crash-safely via the staging-name + RENAME rule with an idempotent
    * resume branch.
    *
    * This query exercises the full lifecycle — build, append TWICE (two
    * bucket-file generations), compact, probe — and its output is the
    * exact planted oracle over base ∪ delta: compaction that dropped or
    * duplicated rows, or broke the bucket function (pruning would then
    * skip the wrong files), flips retrieved ids and breaks the driver
    * hash. SimilaritySpec pins the physical claims the oracle cannot see:
    * file count collapses to ≤ buckets and SelectedBucketsCount still
    * prunes post-compaction. */
  def q148IndexCompactProbe(spark: SparkSession, dir: String): DataFrame =
    flatLifecycleProbe(spark, dir, "g_lsh_index_cmp_", modulus = 97,
        offset = 14000000L, shift = 13000000L) { (c, delta) =>
      (staging, owned) =>
        lshBaseSteps(c)(staging, owned)
        // two separate ingest batches: each insert lands its own
        // bucket-file generation — the small-files decay compaction repairs
        Seq(delta.filter(col("vec_id") % 2 === 0),
            delta.filter(col("vec_id") % 2 =!= 0)).foreach(batch =>
          graft.sources.Sources.insertBucketed(c.indexed(batch), staging,
            "sig", c.buckets))
        // compacting the staging name keeps the publish atomic: a crash
        // mid-compact leaves no live table, and the rebuild re-enters here
        graft.sources.Sources.compactBucketed(spark, staging, "sig", c.buckets)
    }

  /** The shared build-and-probe scaffold of the flat bucketed-table probes
    * (q142/q145/q148/q149) — the flat twin of [[ivfLifecycleProbe]]. It
    * resolves the corpus and its LSH parameters once ([[lshCorpus]]),
    * plants a reversed-embedding delta under a nonzero `shift` (the q145
    * append shape: genuinely new content), and ensures the `prefix` table
    * through `steps` — given (corpus, delta), the build against (staging,
    * owned dir). Exact copies of every `modulus`-th row of the union probe
    * under `offset` through the float scorer ([[probeIndex]]) or, when
    * `quantized`, the SQ8 two-stage scorer ([[probeSqIndex]], rescoring
    * against the union). One definition so a scaffold fix cannot drift
    * across the family — the next probe is a lambda, not another copy. */
  private def flatLifecycleProbe(spark: SparkSession, dir: String,
      prefix: String, modulus: Int, offset: Long, shift: Long = 0L,
      quantized: Boolean = false)(
      steps: (LshCorpus, DataFrame) => (String, String) => Unit): DataFrame = {
    ensureRegistered(spark)
    val c = lshCorpus(spark, dir)
    val delta = c.eSlim.select((col("vec_id") + shift).as("vec_id"),
      reverse(col("embedding")).as("embedding"))
    val idx = ensureFlat(spark, dir, prefix, c)(steps(c, delta))
    val union = if (shift != 0L) c.eSlim.unionByName(delta) else c.eSlim
    val probes = union.filter(col("vec_id") % modulus === 0)
      .select((col("vec_id") + offset).as("qid"), col("embedding"))
    val served =
      if (quantized) probeSqIndex(spark, idx, codebookDir(spark, idx), probes,
        c.planes, c.tables, union)
      else probeIndex(spark, idx, probes, c.planes, c.tables)
    served.withColumn("hit", col("retrieved_id") === col("qid") - offset)
      .orderBy(col("qid"))
  }

  /** q143: IVF with a PARTITION-PRUNED persisted layout — q139's index
    * made storage-native: the corpus is written once `partitionBy(cid)`
    * (cluster id from [[assignToCentroid]] against Lloyd centroids), the
    * CENTROIDS ARE PERSISTED NEXT TO IT, and a probe batch reads ONLY its
    * nprobe nearest clusters' partitions — `cid IN (...)` lands in
    * PartitionFilters (PlanQualitySpec pins the pruned scan), so query-time
    * I/O is nprobe/k of the corpus, the IVF contract at any scale.
    *
    * Persisting the centroids is load-bearing, not a convenience: the Lloyd
    * averaging pass is accumulation-order noisy, so a probe ranking FRESH
    * centroids against a layout built with OLD ones could route a probe
    * away from its original's partition. Probe ranking and stored
    * assignment must share one centroid relation; both read the persisted
    * copy (double round-trip through parquet is exact). With that, the q139
    * argument holds verbatim: assignment ranks (cosine, cid) — a pure
    * function of (embedding, persisted centroids) — so a planted probe's
    * top-1 cluster IS its original's partition, the original is always
    * scanned, and its cosine ≈ 1 makes the index top-1 equal the exhaustive
    * argmax the DuckDB oracle recomputes (candidate SET varies with the
    * centroid build; the winner never does).
    *
    * Scale shape: layout build is one assignment projection + one
    * partitioned write (k ~ √n directories); per query, centroid ranking is
    * a broadcast of k×dim doubles, the wanted cluster ids collect as ≤ k
    * ints (bounded driver state), and the scan reads nprobe partitions per
    * probe — no shuffle of the corpus at query time.
    *
    * Layout naming: the fingerprint includes the source file identity AND
    * [[LayoutVersion]], so a regeneration or a semantic code change mints a
    * fresh directory rather than silently serving a stale layout. The old
    * generation's directory is deliberately left behind (one small /tmp
    * dir per regeneration — reclaiming it is an ops sweep's job, not the
    * query path's; deleting sibling tags here could race a concurrent
    * session still probing them). */
  def q143IvfPartitionedProbe(spark: SparkSession, dir: String): DataFrame =
    ivfLifecycleProbe(spark, dir, FloatIvf, "idx", modulus = 150,
      offset = 8000000L)(ivfBaseSteps(spark, FloatIvf))

  /** The directory-IVF FLAVOR as data — all that differs between the
    * float layout (q143) and the SQ8 layout (q154). Every lifecycle step
    * below (naming, ensure, build, append, candidate read, rebuild, marks,
    * purge) is written once against it:
    *  - `subdirs`, what a complete layout commits: `centroids` (float,
    *    frozen — the q143/q146 rule) and `assigned` (cid-partitioned
    *    rows), plus for SQ8 `stats` (the per-dim codebook, frozen beside
    *    the codes it wrote — the q149 rule);
    *  - the stored payload ([[payload]]): the float `embedding`, or its
    *    tinyint `qcode` under the frozen codebook (no float vectors, 4×
    *    less I/O per probed partition);
    *  - the candidate scorer: exact cosine top-1 ([[probeIvf]]), or
    *    approximate cosine over the dequantized codes top-R plus the exact
    *    full-precision rescore ([[probeSqIvf]]). */
  final case class IvfFlavor(quantized: Boolean) {
    val subdirs: Seq[String] =
      if (quantized) Seq("centroids", "stats", "assigned")
      else Seq("centroids", "assigned")

    /** True iff `idxDir` holds a complete layout (every subdir committed —
      * the q143 `_SUCCESS` convention). */
    def built(spark: SparkSession, idxDir: String): Boolean =
      subdirs.forall(sub => graft.ops.Layouts.committed(spark, s"$idxDir/$sub"))

    /** The `assigned` payload under `idxDir`: the float `embedding`, or
      * THE SQ8 codec ([[sq8Payload]]) under the layout's frozen `stats`. */
    private[sim] def payload(spark: SparkSession, idxDir: String): Payload =
      if (quantized) sq8Payload(spark, s"$idxDir/stats") else FloatPayload
  }

  val FloatIvf: IvfFlavor = IvfFlavor(quantized = false)
  val SqIvf: IvfFlavor = IvfFlavor(quantized = true)

  def ivfLayoutBuilt(spark: SparkSession, idxDir: String): Boolean =
    FloatIvf.built(spark, idxDir)
  def sqIvfLayoutBuilt(spark: SparkSession, idxDir: String): Boolean =
    SqIvf.built(spark, idxDir)

  /** THE directory-IVF layout name for `dir`'s embeddings at cluster count
    * `k`: `<java.io.tmpdir>/graft_ivf_<role>_<tag>`, fingerprint-named
    * (layout naming rules as documented on [[q143IvfPartitionedProbe]]).
    * `role` separates the layouts one corpus carries: `idx` (the q143
    * base, audited by q147 and q155), `sq` (the q154 base), and the
    * lifecycle probes' `inc`/`del`/`rb` with their `sq_` twins. */
  def ivfLayoutDir(dir: String, k: Int, role: String): String =
    System.getProperty("java.io.tmpdir") + s"/graft_ivf_${role}_" +
      graft.ops.Layouts.tag(fileFp(s"$dir/embeddings.parquet"), k.toString, LayoutVersion)

  def ivfBaseLayoutDir(dir: String, k: Int): String = ivfLayoutDir(dir, k, "idx")
  def sqIvfLayoutDir(dir: String, k: Int): String = ivfLayoutDir(dir, k, "sq")

  /** THE build-or-reuse of a directory-IVF layout. When `idxDir` is not
    * built:
    *  - rebuild evidence — a built `<idxDir>.build` or a
    *    `<idxDir>.retiring` — means a crashed in-place [[rebuildIvf]]
    *    publish: that staging is the only copy honoring the marks that sit
    *    in `.retiring/tombstones`, so the publish RESUMES
    *    ([[publishIvfStaging]]) and the corpus is never read — a fresh
    *    build would serve every taken-down row again, with no schedule fact
    *    counting them;
    *  - otherwise `steps` writes a fresh `<idxDir>.ensure` (a partial one
    *    is deleted first) and the same publish renames it into place, so a
    *    failure anywhere leaves only that staging, never a partial layout.
    *    It is NOT the rebuild's `.build`: a multi-step build (q146's delta
    *    append, q159's copies and marks) passes `built` after its first
    *    step, so a crash inside the steps would read as rebuild evidence
    *    and publish a base-only or unmarked layout.
    * Rename is atomic on local FS and HDFS; on object stores the
    * per-subdir `_SUCCESS` gating ([[IvfFlavor.built]]) is the read-path
    * guard. */
  private[graft] def ensureIvf(spark: SparkSession, flavor: IvfFlavor,
      idxDir: String)(steps: String => Unit): Unit =
    if (!flavor.built(spark, idxDir)) {
      if (flavor.built(spark, s"$idxDir.build") ||
          graft.ops.Layouts.exists(spark, s"$idxDir.retiring"))
        publishIvfStaging(spark, flavor, s"$idxDir.build", idxDir)
      else {
        val fresh = s"$idxDir.ensure"
        graft.ops.Layouts.delete(spark, fresh)
        steps(fresh)
        publishIvfStaging(spark, flavor, fresh, idxDir)
      }
    }

  /** Publish the complete `staging` over `idxDir` — the one publish of
    * [[ensureIvf]] and [[rebuildIvf]]: a husk's sidecar is preserved
    * aside, the staging renamed into place, THEN a retired copy drained
    * (its sidecar preserved aside; draining after the rename keeps the
    * live dir's absence to one rename, and a built live dir beside a
    * `.retiring` is a classified state), and every preserved mark re-keyed
    * against the published layout IMMEDIATELY (the reissue, not operator
    * debt — a takedown must never wait on a human). */
  private def publishIvfStaging(spark: SparkSession, flavor: IvfFlavor,
                                staging: String, idxDir: String): Unit = {
    require(flavor.built(spark, staging),
      s"$idxDir: rebuild evidence without a complete staging copy — " +
        "rebuilding from the corpus would resurrect the retired marks' rows")
    preserveSidecarAside(spark, s"$idxDir/tombstones", idxDir)
    graft.ops.Layouts.delete(spark, idxDir)
    graft.ops.Layouts.renameOrFail(spark, staging, idxDir,
      s"atomic publish of $idxDir failed")
    drainRetired(spark, s"$idxDir.retiring", idxDir)
    reissueOrphanedTombstones(spark, idxDir)
  }

  /** `dir`'s corpus (vec_id, embedding), the k its BASE count derives (the
    * r13 rule) and the `role` layout dir at that k. */
  private def resolveIvf(spark: SparkSession, dir: String,
                         role: String): (DataFrame, Int, String) = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val k = IndexParams.ivfK(base.count())
    (base, k, ivfLayoutDir(dir, k, role))
  }

  /** Build-or-reuse the q143 float base layout. Returns (layout dir, k);
    * shared by the probe, the q147 health monitor and the q155
    * maintenance scheduler. */
  def ensureIvfLayout(spark: SparkSession, dir: String): (String, Long) =
    ensureBaseIvf(spark, dir, FloatIvf, "idx")

  /** Build-or-reuse the q154 SQ8 base layout (frozen centroids + frozen
    * codebook + cid-partitioned tinyint codes); shared by the probe and
    * the q155 maintenance audit. */
  def ensureSqIvfLayout(spark: SparkSession, dir: String): (String, Long) =
    ensureBaseIvf(spark, dir, SqIvf, "sq")

  private def ensureBaseIvf(spark: SparkSession, dir: String,
                            flavor: IvfFlavor, role: String): (String, Long) = {
    ensureRegistered(spark)
    val (base, k, idxDir) = resolveIvf(spark, dir, role)
    ivfBaseSteps(spark, flavor)(idxDir, base, base, k)
    (idxDir, k.toLong)
  }

  /** THE directory-IVF build: train Lloyd centroids on `base` and persist
    * them (plus, for SQ8, the per-dim codebook over `base`), then land
    * `batches` through [[appendIvf]] — assignment and coding run against
    * the PERSISTED copies, the same doubles probes will rank and decode.
    * Every caller builds into a freshly deleted target. */
  private[graft] def buildIvf(spark: SparkSession, flavor: IvfFlavor,
      base: DataFrame, target: String, k: Int)(batches: DataFrame*): Unit = {
    implicit val s: SparkSession = spark
    ivfCentroids(base, k, iters = 2).write.parquet(s"$target/centroids")
    if (flavor.quantized) writeSqStats(base, s"$target/stats")
    appendIvf(spark, flavor, target, batches: _*)
  }

  /** THE frozen-centroid, frozen-codebook append (q146/q156): each batch
    * of (vec_id, embedding) rows, one append write apiece, is routed by the
    * layout's PERSISTED centroids — never retrained: re-running Lloyd over
    * base+delta would reshuffle stored assignments and invalidate every
    * partition — and coded by its PERSISTED codebook — never re-derived:
    * old codes would become unreadable; out-of-codebook values saturate
    * ([[quantizeExpr]]). Both are read once per call. */
  private[graft] def appendIvf(spark: SparkSession, flavor: IvfFlavor,
                               idxDir: String, batches: DataFrame*): Unit = {
    val cd = spark.read.parquet(s"$idxDir/centroids")
    val payload = flavor.payload(spark, idxDir).encode
    batches.foreach(rows =>
      assignToCentroid(rows.select(col("vec_id"), col("embedding")), cd)
        .select(col("vec_id"), payload, col("cid"))
        .write.mode("append").partitionBy("cid").parquet(s"$idxDir/assigned"))
  }

  /** Probe→centroid routing for the IVF serving paths, collected ONCE
    * (r21): the routing pipeline (probes scan → broadcast centroid cross
    * join → top-nprobe window) previously ran TWICE per probe call — once
    * to collect the wanted partition ids for pruning and once recomputed
    * inside the candidate query itself. Probes are a bounded serving
    * batch by contract (the [[localizeProbes]] rule, enforced with the
    * same loud [[MaxCollectProbes]] guard), so the (qid, qe, cid) routing
    * relation collects once, the partition list derives driver-side, and
    * the routing re-enters the candidate join as a broadcast LOCAL
    * relation — one pipeline run instead of two, and the candidate join's
    * build side is exact instead of estimate-driven. */
  private def localizeProbeClusters(spark: SparkSession, probes: DataFrame,
      centroidsDisk: DataFrame, nprobe: Int): (DataFrame, Array[Int]) = {
    val wC = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cid"))
    val pc = probes.select(col("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(centroidsDisk))
      .withColumn("csim", cosine(col("qe"), col("ce")))
      .withColumn("crn", row_number().over(wC))
      .filter(col("crn") <= nprobe)
      .select(col("qid"), col("qe"), col("cid"))
    val rows = pc.limit(MaxCollectProbes + 1).collect()
    require(rows.length <= MaxCollectProbes,
      s"serving batch exceeds $MaxCollectProbes (probe, cluster) rows — " +
        "too large to collect for the partition-pruned serving path; " +
        "ingest-scale batches belong on a distributed join, not probeIvf")
    val cids = rows.map(_.getAs[Long]("cid")).distinct.sorted.map(_.toInt)
    (spark.createDataFrame(java.util.Arrays.asList(rows: _*), pc.schema), cids)
  }

  /** THE candidate read of every directory-IVF serve: route the probes to
    * their nprobe nearest PERSISTED centroids ([[localizeProbeClusters]]),
    * read only those partitions of `assigned` (int literals, so `cid IN`
    * lands in PartitionFilters with no cast — nprobe/k of the index bytes),
    * and with `live = true` anti-join the (cid, vec_id) tombstone sidecar
    * pruned to the SAME partitions: merge-on-read deletion for one bounded
    * side read and no extra corpus I/O, answers identical before and after
    * the physical purge. Each candidate scores by cosine against the
    * flavor's decoded payload; the top `topR` per probe survive as (qid,
    * cid, score). `probes` must carry (qid, embedding). */
  private def ivfCandidates(spark: SparkSession, flavor: IvfFlavor,
      idxDir: String, probes: DataFrame, nprobe: Int, topR: Int,
      live: Boolean): DataFrame = {
    ensureRegistered(spark)
    val (probeClusters, wantedCids) = localizeProbeClusters(spark, probes,
      spark.read.parquet(s"$idxDir/centroids"), nprobe)
    val wanted = col("cid").isin(wantedCids.map(Int.box): _*)
    val scoped = spark.read.parquet(s"$idxDir/assigned").filter(wanted)
    val alive = (if (live) ivfTombstones(spark, idxDir) else None) match {
      case Some(t) => scoped.join(t.filter(wanted), Seq("cid", "vec_id"), "left_anti")
      case None => scoped
    }
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid_vec"))
    alive.withColumnRenamed("vec_id", "cid_vec")
      .join(broadcast(probeClusters), "cid")
      .withColumn("score",
        cosine(col("qe"), flavor.payload(spark, idxDir).decode))
      .select(col("qid"), col("cid_vec"), col("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topR)
      .select(col("qid"), col("cid_vec").as("cid"), col("score"))
  }

  /** The float scorer: the exact-cosine top-1 per probe (qid,
    * retrieved_id, sim), straight from [[ivfCandidates]]. */
  def probeIvf(spark: SparkSession, idxDir: String, probes: DataFrame,
               nprobe: Int, live: Boolean = false): DataFrame =
    ivfCandidates(spark, FloatIvf, idxDir, probes, nprobe, 1, live)
      .select(col("qid"), col("cid").as("retrieved_id"),
        Exprs.dround(col("score"), 6).as("sim"))

  /** The SQ8 candidate stage: approximate cosine over the dequantized codes
    * of the pruned partitions, top-R per probe (qid, cid, approx). Public
    * so specs can pin the pruned-scan shape [[probeSqIvf]] consumes. With
    * `live`, a tombstoned code leaves HERE, which suffices for the whole
    * two-stage serve: the exact rescore inner-joins the collected candidate
    * list, so an absent row cannot re-enter via the corpus lookup. */
  def sqIvfCandidates(spark: SparkSession, idxDir: String, probes: DataFrame,
                      nprobe: Int, topR: Int,
                      live: Boolean = false): DataFrame =
    ivfCandidates(spark, SqIvf, idxDir, probes, nprobe, topR, live)
      .withColumnRenamed("score", "approx")

  /** The SQ8 scorer (q154): [[sqIvfCandidates]] then the shared exact
    * rescore ([[exactRescoreTop1]], the q149 second stage) of the bounded
    * candidate set against the full-precision `corpus` — quantization
    * decides WHICH candidates are ranked, never the reported score.
    * `probes` is a serving batch by contract (it broadcasts into the
    * rescore). */
  def probeSqIvf(spark: SparkSession, idxDir: String, probes: DataFrame,
                 nprobe: Int, corpus: DataFrame, topR: Int = 8,
                 live: Boolean = false): DataFrame =
    exactRescoreTop1(spark, corpus,
      ivfCandidates(spark, SqIvf, idxDir, probes, nprobe, topR, live)
        .select(col("qid"), col("cid")),
      probes.select(col("qid"), col("embedding").as("qe")))

  /** The REBUILD tool behind the q155 schedule's `rebalance` /
    * `rederive_params` actions for directory IVF layouts: re-derive k
    * from the CURRENT corpus count, re-run Lloyd, and rebuild the
    * cid-partitioned assignment — excluding every vec_id the old
    * layout's tombstone sidecar marks. A rebuild that read only the
    * corpus would RESURRECT taken-down rows (the corpus still contains
    * them until its own erasure pipeline runs), so outstanding deletion
    * debt is honored by exclusion and the new layout starts mark-free —
    * the rebuild IS the purge.
    *
    * `corpus` must be the LIVE corpus: directory-layout marks are the
    * FAST deletion path, upstream corpus erasure the eventual truth, and
    * a rebuild honors both — sidecar exclusion covers takedowns that
    * have not yet propagated upstream, while rows already erased
    * upstream are simply absent. Passing a corpus that still carries
    * rows whose marks an EARLIER rebuild or purge retired would
    * resurrect them (the marks are gone; nothing else remembers).
    *
    * Deployment wiring: `k = IndexParams.ivfK(corpus.count())`,
    * `newIdxDir = ivfBaseLayoutDir(dir, k)` — a changed k mints a new
    * fingerprint dir beside the old one (the old retired by rename-aside
    * and drained only after the publish), while an unchanged k (the
    * rebalance case, oldIdxDir == newIdxDir) replaces in place. Crash
    * windows, retire semantics, and the immediate re-keying of preserved
    * sidecars are [[rebuildIvf]]'s (r17: retire is RENAME-ASIDE,
    * every crash state classified; orphaned marks re-key at publish,
    * never operator debt). Maintenance-op single-writer contract applies
    * (no concurrent takedowns mid-run). */
  def rebuildIvfLayout(spark: SparkSession, corpus: DataFrame,
                       oldIdxDir: String, newIdxDir: String, k: Int): Unit =
    rebuildIvf(spark, FloatIvf, corpus, oldIdxDir, newIdxDir, k)

  /** Preserve a layout sidecar ASIDE as an `_orphaned_tombstones/<slot>`
    * dir (outside the layout dir — an orphan preserved inside it would be
    * destroyed by the next rebuild's replace before anyone saw it).
    * EMPTY sidecars (only a `_SUCCESS`, nothing to preserve) are deleted
    * instead of preserved — an empty slot would crash the reissue read
    * with UNABLE_TO_INFER_SCHEMA and leave permanently un-retirable
    * schedule debt. No-op when the sidecar is absent. */
  private def preserveSidecarAside(spark: SparkSession, sidecar: String,
                                   idxDir: String): Unit = {
    if (!graft.ops.Layouts.hasParquetData(spark, sidecar)) {
      graft.ops.Layouts.delete(spark, sidecar); return
    }
    val orphanBase = new org.apache.hadoop.fs.Path(s"${idxDir}_orphaned_tombstones")
    orphanBase.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(orphanBase)
    val slot = Iterator.from(0).find(i =>
      !graft.ops.Layouts.exists(spark, s"$orphanBase/$i")).get
    graft.ops.Layouts.renameOrFail(spark, sidecar, s"$orphanBase/$slot",
      s"could not preserve out-of-contract marks at $sidecar")
  }

  /** ONE drain semantics for a retired copy: its sidecar rescued into an
    * orphan slot beside `idxDir` (marks must never ride a delete), then the
    * dir dropped; no-op when absent. Re-keying is each caller's explicit
    * finish step. */
  private def drainRetired(spark: SparkSession, dir: String,
                           idxDir: String): Unit = {
    preserveSidecarAside(spark, s"$dir/tombstones", idxDir)
    graft.ops.Layouts.delete(spark, dir)
  }

  /** THE directory-IVF rebuild, behind [[rebuildIvfLayout]] and the
    * q163 probe: survivors (`corpus` minus the old sidecar's marks) go
    * through [[buildIvf]] into `<newIdxDir>.build` and publish by rename.
    * For SQ8 the build re-derives the full frozen-artifact set (fresh
    * centroids, a fresh codebook over the SURVIVOR value distribution,
    * fresh codes): codes are only valid with the codebook that wrote them
    * (the q149 rule — a rebuild is the one place re-deriving stats is
    * correct, because every code is rewritten with them). The in-place
    * retire is a RENAME-ASIDE (`<dir>.retiring`), never a recursive
    * delete (r17: a crash mid-delete left ambiguous half-states —
    * `built(live)` true with the sidecar already gone — that no entry
    * condition could classify safely; a rename is atomic, so every crash
    * state is now unambiguous):
    *
    *  - staging complete, live NOT built (retiring may exist) — the
    *    crash fell between the retire and the publish (or the state is a
    *    legacy mid-delete husk): the staging is the only complete copy;
    *    finish the publish, preserving every reachable sidecar aside and
    *    re-keying it against the published layout IMMEDIATELY (the
    *    reissue, not operator debt — a takedown must never wait on a
    *    human). The staging's parameters are the crashed attempt's; if
    *    the caller re-derived k since, the next trigger applies it.
    *  - live built — the live dir is AUTHORITATIVE: any stale staging is
    *    discarded and rebuilt fresh (it may predate appends, marks, and
    *    the caller's re-derived k — publishing it would silently drop
    *    them), a leftover `.retiring` from a crash-after-publish is
    *    drained (sidecar preserved + re-keyed, dir dropped), and any
    *    dangling orphan slots are re-keyed.
    *
    * Nothing can land between the retire and the publish: both
    * tombstoneIvfRows and the append path fail loudly on the missing
    * centroids of a renamed-away live dir, so in-contract marks are
    * always either in the live sidecar (fresh path reads them) or in the
    * retired sidecar (already honored by the staging build; the
    * defensive re-key is a no-op for them and only rescues
    * out-of-contract landings). The cross-dir branch retires the OLD dir
    * by the same rename-aside (a recursive delete could crash into a
    * sidecar-less husk that passes `built` and re-trigger a rebuild with
    * zero visible debt — the exact ambiguity the in-place fix removes).
    * `built` is the flavor's own completeness check ([[IvfFlavor.built]]).
    * The same classification binds [[ensureIvf]]: a not-built live dir
    * beside a built staging or a `.retiring` copy is resumed by the one
    * publish ([[publishIvfStaging]]), never rebuilt from the corpus.
    *
    * UPGRADE CAVEAT: a crash under a PRE-rename-aside binary could leave
    * the live dir as a mid-delete husk whose `_SUCCESS` files survived
    * the sidecar's deletion — indistinguishable from an intact live, so
    * this protocol classifies it live-authoritative and would rebuild
    * without the husk's lost marks. Similarly, a PRE-marker binary's
    * cross-dir retire crash (old dir drained, orphan slots pending)
    * carries no `.retiring_from` marker, so a re-run under this binary
    * fails the loud require instead of converging — run
    * [[reissueOrphanedTombstones]] on the published dir by hand (the
    * require's message says so; the slot re-key is the only pending
    * step). Likewise a PRE-`.ensure` binary staged its ensure builds at
    * `<dir>.build`, so its crash inside a multi-step build can leave a
    * built but incomplete `.build` that [[ensureIvf]] would publish.
    * Drain in-flight rebuilds and ensures before upgrading (the states
    * THIS protocol leaves are all classified). */
  private def rebuildIvf(spark: SparkSession, flavor: IvfFlavor,
      corpus: DataFrame, oldIdxDir: String, newIdxDir: String, k: Int): Unit = {
    ensureRegistered(spark)
    def built(d: String) = flavor.built(spark, d)
    val staging = s"$newIdxDir.build"
    val retiring = s"$newIdxDir.retiring"
    val oldRetiring = s"$oldIdxDir.retiring"
    // the cross-dir retire MARKER: written beside the target right after
    // the publish, naming the old dir the retire is about to consume,
    // deleted only once the drain + reissue completed — so every
    // crash-window state inside the retire carries evidence NAMING
    // oldIdxDir. (Pending orphan slots alone are NOT evidence: slots are
    // keyed to the target, not to which old dir they came from, so an
    // unrelated earlier crash's slots plus a mistyped oldIdxDir would
    // silently read as a completed rebuild.)
    val crossMarker = s"$newIdxDir.retiring_from"
    def readCrossMarker(): Option[String] =
      graft.ops.Layouts.readMarkerFile(spark, crossMarker)
    // a marker whose named old dir is still BUILT is STALE evidence: the
    // retire it announces never consumed the old dir (crash between the
    // marker write and the old dir's rename — the old dir kept serving).
    // Invalidate it NOW, or an old dir later lost for unrelated reasons
    // (manual decommission, a mid-delete husk) would silently convert
    // the loud-fail path below into a blessed-lost-takedowns converge.
    // Residual window (documented, not closed): if NO rebuild of this
    // pair runs between the crash and an unmanaged loss of the old dir,
    // the stale marker still converges — bounded by the same rule as
    // the mid-delete-husk caveat below: a published target supersedes
    // the old dir, so routing takedowns to a superseded layout is
    // already outside the deployment contract.
    if (newIdxDir != oldIdxDir && built(oldIdxDir) &&
        readCrossMarker().contains(oldIdxDir))
      graft.ops.Layouts.deleteMarkerFile(spark, crossMarker)
    // cross-dir crash window: the publish landed but the old dir's
    // retire/drain didn't finish — the states are old-renamed-aside
    // (retiring present), old-drained-but-slots-pending (marker still
    // naming oldIdxDir), and everything between. Complete the drain and
    // the re-key instead of failing the built(oldIdxDir) require on a
    // state that is already published. ONLY when drain evidence exists
    // (the retiring dir, or the marker naming THIS old dir): a
    // mistyped/stale oldIdxDir also reads as !built(old) && built(new),
    // and silently returning "converged" on it would bless zero debt on
    // a name that never held a layout — the same loud-fail rule
    // oldRebuildGenerations enforces.
    if (newIdxDir != oldIdxDir && !built(oldIdxDir) && built(newIdxDir) &&
        (graft.ops.Layouts.exists(spark, oldRetiring) ||
          readCrossMarker().contains(oldIdxDir))) {
      drainRetired(spark, oldRetiring, newIdxDir)
      reissueOrphanedTombstones(spark, newIdxDir)
      graft.ops.Layouts.deleteMarkerFile(spark, crossMarker)
      return
    }
    if (newIdxDir == oldIdxDir) {
      if (built(staging) && !built(newIdxDir)) {
        // crash between retire and publish: finish it
        publishIvfStaging(spark, flavor, staging, newIdxDir)
        return
      }
      if (built(newIdxDir)) {
        // crash after publish: drain the retired copy and any dangling
        // slots before rebuilding anew — the live dir is authoritative
        drainRetired(spark, retiring, newIdxDir)
        reissueOrphanedTombstones(spark, newIdxDir)
      }
    }
    // a missing/husk source layout cannot prove zero deletion debt — its
    // sidecar (and the mark-honoring staging of a crashed in-place
    // publish) must not be silently ignored. A crashed publish resumes
    // under its ORIGINAL dir; a cross-fingerprint retry resumes first,
    // then rebuilds from the resumed layout.
    require(built(oldIdxDir),
      s"rebuildIvf: $oldIdxDir is not a complete layout — " +
        "rebuilding from the corpus alone would resurrect any honored " +
        "takedowns; resume the crashed publish under its original dir " +
        "first (oldIdxDir == newIdxDir), then rebuild. If this state was " +
        "left by a PRE-marker binary's cross-dir retire (old dir drained, " +
        s"orphan slots pending beside $newIdxDir), run " +
        "reissueOrphanedTombstones on the published dir instead — the " +
        "slot re-key is the only pending step")
    val eSlim = corpus.select(col("vec_id"), col("embedding"))
    val survivors = ivfTombstones(spark, oldIdxDir) match {
      case Some(t) => eSlim.join(t.select(col("vec_id")).distinct(),
        Seq("vec_id"), "left_anti")
      case None => eSlim
    }
    graft.ops.Layouts.delete(spark, staging)
    // every read of the old sidecar and corpus happens HERE, before any
    // mutation below
    buildIvf(spark, flavor, survivors, staging, k)(survivors)
    if (newIdxDir == oldIdxDir) {
      // in-place publish: retire by RENAME (atomic — the crash states it
      // can leave are exactly the ones the entry windows above and
      // [[ensureIvf]] classify), then publish: the retired copy drains
      // (its sidecar holds only marks the build just honored; the re-key
      // is their no-op and an out-of-contract landing's rescue)
      graft.ops.Layouts.renameOrFail(spark, newIdxDir, retiring,
        s"in-place retire of $newIdxDir failed")
      publishIvfStaging(spark, flavor, staging, newIdxDir)
    } else {
      // a pre-existing cross-dir target (stale same-k dir) cannot be
      // trusted to honor the old layout's debt — the publish replaces it,
      // rescuing its sidecar first: a crash-after-publish retry lands here
      // with the PUBLISHED target as newIdxDir (the old dir not yet
      // retired), and the deployment may have routed takedowns to it in
      // the interim — those marks must never ride the delete (they re-key
      // against the re-published layout)
      publishIvfStaging(spark, flavor, staging, newIdxDir)
      // the retire carries its marker from here to completion (see the
      // entry guard): written before the first mutation of the old dir,
      // dropped after the drain + reissue — a crash anywhere inside
      // leaves evidence naming exactly this oldIdxDir
      graft.ops.Layouts.writeMarkerFile(spark, crossMarker, oldIdxDir)
      // retire the old dir by RENAME (same rationale as in-place: a
      // recursive delete can crash into a built-looking sidecar-less
      // husk, and a re-trigger would then rebuild from it with zero
      // visible debt), then drain it — a stale leftover retiring dir is
      // drained first
      drainRetired(spark, oldRetiring, newIdxDir)
      graft.ops.Layouts.renameOrFail(spark, oldIdxDir, oldRetiring,
        s"cross-dir retire of $oldIdxDir failed")
      drainRetired(spark, oldRetiring, newIdxDir)
      reissueOrphanedTombstones(spark, newIdxDir)
      graft.ops.Layouts.deleteMarkerFile(spark, crossMarker)
    }
  }


  /** Per-cluster occupancy of a PERSISTED IVF layout — one count
    * aggregation grouped on the `cid` partition column of the `assigned`
    * dir, spanning base and any q146-style appended generations alike;
    * never recomputes assignments (fresh Lloyd runs are
    * accumulation-noisy and can disagree with the frozen centroids the
    * layout actually serves under). */
  def ivfLayoutOccupancies(spark: SparkSession, idxDir: String): DataFrame =
    spark.read.parquet(s"$idxDir/assigned")
      .groupBy(col("cid")).agg(count(lit(1)).as("occ"))


  /** Tombstone deletion for the DIRECTORY IVF layouts — the table
    * flavor's marks partition re-expressed as an append-only
    * `tombstones` sidecar under the layout dir: (cid, vec_id) rows
    * routed by the layout's own FROZEN persisted centroids (a mark must
    * sit in the partition its row sits in, and frozen routing guarantees
    * it — the q143/q146 rule doing double duty). Append-mode landing is
    * crash-safe (a failed job commits nothing) and a replayed delete at
    * worst duplicates marks, which the serving anti-join tolerates and
    * [[purgeIvfTombstones]] clears wholesale. `victims` carries
    * (vec_id, embedding). */
  def tombstoneIvfRows(spark: SparkSession, idxDir: String,
                       victims: DataFrame): Unit = {
    // an empty victims frame must not materialize a sidecar: a dir
    // holding only _SUCCESS reads as schema-less and would crash every
    // downstream sidecar consumer (reissue above all)
    if (victims.isEmpty) return
    val cd = spark.read.parquet(s"$idxDir/centroids")
    assignToCentroid(victims.select(col("vec_id"), col("embedding")), cd)
      .select(col("cid"), col("vec_id"))
      .write.mode("append").parquet(s"$idxDir/tombstones")
  }

  // scheme-aware existence check (Layouts.exists, never java.io.File):
  // a wrong "absent" here silently serves deleted rows on any non-local
  // store — the r15 verdict's right-to-be-forgotten hole
  private def ivfTombstones(spark: SparkSession,
                            idxDir: String): Option[DataFrame] =
    // hasParquetData, not exists (the r17 reader guard): a legacy
    // _SUCCESS-only sidecar is schema-less — gating on exists would
    // wedge serving, facts, and the repair tools on the read
    if (graft.ops.Layouts.hasParquetData(spark, s"$idxDir/tombstones"))
      Some(spark.read.parquet(s"$idxDir/tombstones")
        .select(col("cid"), col("vec_id")))
    else None

  /** Physically purge an IVF layout's tombstoned rows — PARTITION-SCOPED:
    * only the cids carrying marks are read, and their survivors replace
    * them through [[graft.ops.Layouts.replacePartitions]] (owned: the
    * affected cids, so a cid left EMPTY is cleared rather than kept — the
    * r8 stale-partition rule, directory flavor); the marks retire LAST, so
    * a crash anywhere in the window leaves [[probeIvf]]'s live view
    * correct and a re-purge idempotent. Returns (partitions touched, rows
    * purged). */
  def purgeIvfTombstones(spark: SparkSession, idxDir: String): (Long, Long) = {
    val tombDir = s"$idxDir/tombstones"
    val marks = ivfTombstones(spark, idxDir).map(_.distinct())
    val affected = marks.toSeq.flatMap(_.select(col("cid")).distinct()
      .collect().map(_.getAs[Number](0).intValue)).sorted
    // no marks, or a schema-less (_SUCCESS-only) legacy sidecar: zero debt,
    // so retire it instead of wedging on the read (the r17 reader guard)
    if (affected.isEmpty) { graft.ops.Layouts.delete(spark, tombDir); return (0L, 0L) }
    val scoped = spark.read.parquet(s"$idxDir/assigned")
      .filter(col("cid").isin(affected.map(Int.box): _*))
    // payload-agnostic (the foldIndexBase metadata rule): column order
    // comes from the layout's own schema, so one purge serves the float
    // (embedding) AND quantized (qcode) directory flavors alike
    val survivors = scoped.join(marks.get, Seq("cid", "vec_id"), "left_anti")
      // using-columns joins hoist keys to the front (the r15 rule) —
      // restore the layout's column order before the partitioned write
      .select(scoped.schema.fieldNames.map(col): _*)
    val purged = scoped.count() - survivors.count() // both pre-rewrite
    graft.ops.Layouts.replacePartitions(survivors, s"$idxDir/assigned",
      Seq("cid"), owned = affected.map(cid => s"cid=$cid"))
    graft.ops.Layouts.delete(spark, tombDir) // marks retire LAST
    (affected.length.toLong, purged)
  }

  /** Outstanding `_orphaned_tombstones` slots beside a directory layout —
    * the out-of-contract marks a crashed in-place rebuild preserved aside
    * (see [[rebuildIvfLayout]]). Surfaced as a q155 fact so the schedule's
    * `reissue` check makes the debt visible; 0 when the dir is absent. */
  def orphanedTombstoneSlots(spark: SparkSession, idxDir: String): Long =
    graft.ops.Layouts.listChildren(spark,
      s"${idxDir}_orphaned_tombstones").length.toLong

  /** The `reissue_orphaned_tombstones` tool the q155 schedule's
    * `reissue` check binds: re-key every orphaned mark against the
    * PUBLISHED layout and retire the orphan slots. An orphaned
    * (cid, vec_id) mark is routed by centroids that died with the
    * rebuild, so its cid is meaningless — but its vec_id is not: a row
    * still present in the live `assigned` dir must be re-hidden under
    * the live layout's OWN routing (the assigned row's cid, exact by
    * definition), while a vec_id absent from `assigned` was already
    * honored by the rebuild's exclusion (or purged) and needs nothing.
    * Marks land FIRST (append-mode, the [[tombstoneIvfRows]] crash
    * contract), the orphan dir dies LAST — a crash between leaves
    * duplicate-tolerant marks plus a re-runnable orphan dir, never a
    * lost takedown. Single-writer contract with other mark landings and
    * the purge applies. Returns marks re-issued. */
  def reissueOrphanedTombstones(spark: SparkSession, idxDir: String): Long = {
    val orphanDir = s"${idxDir}_orphaned_tombstones"
    if (orphanedTombstoneSlots(spark, idxDir) == 0L) return 0L
    // per-slot data check: [[preserveSidecarAside]] never creates empty
    // slots, but a legacy/foreign empty slot must retire quietly instead
    // of crashing the schema inference forever (un-retirable debt)
    val slots = graft.ops.Layouts.listChildren(spark, orphanDir)
      .map(s => s"$orphanDir/$s")
      .filter(graft.ops.Layouts.hasParquetData(spark, _))
    if (slots.isEmpty) { graft.ops.Layouts.delete(spark, orphanDir); return 0L }
    val orphanIds = spark.read.parquet(slots: _*)
      .select(col("vec_id")).distinct()
    // the live assigned rows for still-present victims, keyed by the
    // LIVE layout's own routing — a distributed semi-join, never a
    // driver collect (orphan volume is unbounded takedown backlog)
    val marks = spark.read.parquet(s"$idxDir/assigned")
      .join(orphanIds, Seq("vec_id"), "left_semi")
      // partition discovery types the assigned dir's cid INT while the
      // sidecar's files carry assignToCentroid's LONG — an un-cast append
      // would mix int32/int64 parquet schemas in one dir
      .select(col("cid").cast("long").as("cid"), col("vec_id"))
      // persisted across the count + write actions: the semi-join scans
      // the full assigned dir, and re-executing it for the write would
      // double the tool's I/O on a large layout
      .persist()
    try {
      val n = marks.count()
      if (n > 0L)
        marks.write.mode("append").parquet(s"$idxDir/tombstones")
      graft.ops.Layouts.delete(spark, orphanDir)
      n
    } finally marks.unpersist()
  }

  /** The shared build-and-probe scaffold of the directory-IVF lifecycle
    * probes (q143/q146/q154/q156/q159/q160/q161/q163) — the directory twin
    * of [[appendableLifecycleProbe]]. It resolves the corpus once (k from
    * the BASE count), names the `role` layout, and plants the query's rows
    * under `shift`: with `copies`, exact copies of every 7th vector (the
    * q157 planted-delete shape — probes are the originals' content, and
    * each top-1 provably flips original → copy); otherwise, for a nonzero
    * `shift`, a reversed-embedding delta (the q145 append shape — probes
    * are every `modulus`-th vector of the union). `steps` gets (layout dir,
    * base corpus, planted rows, k) and owns the build plus the lifecycle
    * steps under test; the probes then serve through the flavor's scorer
    * (`live` = merge-on-read; the SQ8 rescore reads the union). One
    * definition so a scaffold fix cannot drift across the family — the
    * next probe is a lambda, not another copy. */
  private def ivfLifecycleProbe(spark: SparkSession, dir: String,
      flavor: IvfFlavor, role: String, modulus: Int, offset: Long,
      shift: Long = 0L, copies: Boolean = false, live: Boolean = false)(
      steps: (String, DataFrame, DataFrame, Int) => Unit): DataFrame = {
    ensureRegistered(spark)
    val (base, k, idxDir) = resolveIvf(spark, dir, role)
    val planted =
      if (copies) base.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + shift).as("vec_id"), col("embedding"))
      else base.select((col("vec_id") + shift).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    steps(idxDir, base, planted, k)
    val union = if (copies || shift != 0L) base.unionByName(planted) else base
    val probes = (if (copies) base else union)
      .filter(col("vec_id") % modulus === 0)
      .select((col("vec_id") + offset).as("qid"), col("embedding"))
    val served =
      if (flavor.quantized) probeSqIvf(spark, idxDir, probes, 2, union, live = live)
      else probeIvf(spark, idxDir, probes, 2, live)
    served.withColumn("hit", col("retrieved_id") ===
        col("qid") - (offset - (if (copies) shift else 0L)))
      .orderBy(col("qid"))
  }

  /** q143/q154 (and their ensures): the base corpus, built once. */
  private def ivfBaseSteps(spark: SparkSession, flavor: IvfFlavor)(
      idxDir: String, base: DataFrame, planted: DataFrame, k: Int): Unit =
    ensureIvf(spark, flavor, idxDir)(buildIvf(spark, flavor, base, _, k)(base))

  /** q146/q156: the base build plus the frozen-artifact append of the
    * delta, one atomic unit — a crash between them leaves only the
    * staging, never a base-only layout that silently fails every delta
    * probe. */
  private def ivfAppendSteps(spark: SparkSession, flavor: IvfFlavor)(
      idxDir: String, base: DataFrame, delta: DataFrame, k: Int): Unit =
    ensureIvf(spark, flavor, idxDir)(buildIvf(spark, flavor, base, _, k)(base, delta))

  /** q159/q160: base plus copies, the originals tombstoned inside the same
    * atomic unit (a half-built layout can never serve undeleted rows). */
  private def ivfDeleteSteps(spark: SparkSession, flavor: IvfFlavor)(
      idxDir: String, base: DataFrame, copies: DataFrame, k: Int): Unit =
    ensureIvf(spark, flavor, idxDir) { t =>
      buildIvf(spark, flavor, base, t, k)(base.unionByName(copies))
      tombstoneIvfRows(spark, t, base.filter(col("vec_id") % 7 === 0))
    }

  /** q161/q163: a pre-rebuild generation at `<idxDir>.pre` (the q159 shape
    * over corpus ∪ copies, originals tombstoned), then the maintenance
    * rebuild from the same corpus relation into `idxDir` — the takedown
    * has NOT propagated upstream, the exact case sidecar exclusion exists
    * for. A crash between the rebuild's publish and its old-dir retire
    * leaves the scratch generation behind; re-entry retires it. */
  private def ivfRebuildSteps(spark: SparkSession, flavor: IvfFlavor)(
      idxDir: String, base: DataFrame, copies: DataFrame, k: Int): Unit = {
    val pre = s"$idxDir.pre"
    graft.ops.Layouts.delete(spark, pre)
    if (!graft.ops.Layouts.exists(spark, idxDir)) {
      val union = base.unionByName(copies)
      buildIvf(spark, flavor, union, pre, k)(union)
      tombstoneIvfRows(spark, pre, base.filter(col("vec_id") % 7 === 0))
      rebuildIvf(spark, flavor, union, pre, idxDir, k)
    }
  }

  /** q154: SQ8-QUANTIZED IVF layout with exact rescore — q149's storage
    * tier applied to the OTHER index family, closing the quantization
    * story for both (LSH buckets q149, IVF partitions here): the
    * `assigned` dir stores (vec_id, qcode array<tinyint>) partitioned by
    * cid — no float vectors in the index, 4× less I/O per probed
    * partition on top of the nprobe/k partition pruning — while the
    * centroids stay float (k×dim doubles, the routing state every IVF
    * probe broadcasts; quantizing them would change routing for no
    * storage win).
    *
    * Frozen-artifact rules compose: centroids are persisted and never
    * retrained (q143/q146 — retraining would re-route probes away from
    * stored partitions), the codebook is persisted beside the codes it
    * wrote (q149 — recomputed stats could disagree with stored codes),
    * and the multi-step build (centroids → stats → assigned) is
    * crash-atomic via [[ensureIvf]]'s staging + rename (a partial build
    * is invisible, a re-invocation rebuilds from scratch).
    *
    * The planted oracle is exact through BOTH approximations, by the
    * composed q143 + q149 arguments: a probe is a bit-exact copy of its
    * original, so centroid ranking (a pure function of embedding ×
    * frozen centroids) routes it to the partition its original is stored
    * under at any nprobe ≥ 1; there its approximate score ≈ 1 − ε clears
    * the ≈0.53 natural tail at any top-R ≥ 1, and the exact rescore
    * reproduces the exhaustive full-precision argmax DuckDB recomputes —
    * independent of centroid noise, codebook noise, nprobe, and R. */
  def q154SqIvfProbe(spark: SparkSession, dir: String): DataFrame =
    ivfLifecycleProbe(spark, dir, SqIvf, "sq", modulus = 139,
      offset = 19000000L)(ivfBaseSteps(spark, SqIvf))

  /** q146: IVF incremental append under FROZEN centroids — [[q145IndexAppendProbe]]'s
    * maintenance story for the other index family. A delta batch is
    * assigned against the PERSISTED centroid relation (never re-trained:
    * re-running Lloyd on base+delta would reshuffle existing assignments
    * and invalidate every stored partition — the production IVF contract
    * is frozen centroids between rebuilds) and appended into the same
    * `cid`-partitioned layout; serving reads nprobe partitions spanning
    * base and delta files alike.
    *
    * The build is CRASH-ATOMIC via [[ensureIvf]]'s staging + rename: a
    * failure between the base write and the delta append leaves only the
    * `.ensure` staging, so a re-invocation rebuilds from scratch instead of serving a base-only
    * layout that silently fails every delta probe.
    *
    * Exactness: assignment ranks (cosine, cid) against the frozen persisted
    * centroids — a pure function of (embedding, centroids) — so a planted
    * probe's top-1 cluster IS its original's stored partition whether the
    * original arrived in the base build or the append; cosine ≈ 1 then
    * dominates the ≈0.55 natural/reversal tail and the index top-1 equals
    * the exhaustive argmax the DuckDB oracle recomputes over the union. */
  def q146IvfAppendProbe(spark: SparkSession, dir: String): DataFrame =
    ivfLifecycleProbe(spark, dir, FloatIvf, "inc", modulus = 127,
      offset = 12000000L, shift = 11000000L)(ivfAppendSteps(spark, FloatIvf))

  /** q156: incremental append into the QUANTIZED IVF layout — the q146
    * append story for the q154 flavor, completing the append symmetry
    * across all four index shapes (float LSH q145, float IVF q146,
    * quantized LSH via the same insertInto contract, quantized IVF
    * here). A delta batch is routed by the FROZEN persisted centroids
    * (q146 rule) and coded by the FROZEN persisted codebook (q149 rule —
    * re-deriving stats over base+delta would make old codes unreadable);
    * out-of-codebook delta values SATURATE to edge codes
    * ([[quantizeExpr]]) instead of erroring, the graceful-degradation
    * contract a frozen codebook needs. Build is crash-atomic via
    * [[ensureIvf]] spanning base write AND delta append (q146
    * convention).
    *
    * Oracle exactness composes the q146 + q149 arguments: a probe is a
    * bit-exact copy of a union vector, so frozen-centroid ranking routes
    * it to its original's stored partition (pure function of the value);
    * the original's code equals the probe-content's code (same frozen
    * codebook), so its approximate score ≈ 1 − ε survives any top-R; and
    * the exact rescore over the full-precision union emits the
    * exhaustive argmax DuckDB recomputes. Saturation only widens ε on
    * out-of-range dims — the certain candidate still clears the ≈0.55
    * natural/reversal tail (validated at both SFs). */
  def q156SqIvfAppendProbe(spark: SparkSession, dir: String): DataFrame =
    ivfLifecycleProbe(spark, dir, SqIvf, "sq_inc", modulus = 131,
      offset = 22000000L, shift = 21000000L)(ivfAppendSteps(spark, SqIvf))

  /** q159: deletion from the DIRECTORY IVF layout — q157's
    * partition-pruned sibling, closing deletion across every index
    * flavor (bucketed table q157, band table q158, partitioned dir
    * here): the layout is built over the corpus PLUS exact copies of
    * every 7th vector, the originals are tombstoned INSIDE the same
    * crash-atomic build (a half-built layout can never serve undeleted
    * rows), and probes of the deleted content route — by the frozen
    * centroids, identically for original and copy since assignment is a
    * pure function of the embedding — to the partition where the
    * surviving copy lives. Same observable-flip exactness argument as
    * q157, recomputed exhaustively by the shared oracle. */
  def q159IvfDeleteProbe(spark: SparkSession, dir: String): DataFrame =
    ivfLifecycleProbe(spark, dir, FloatIvf, "del", modulus = 7,
      offset = 27000000L, shift = 26000000L, copies = true, live = true)(
      ivfDeleteSteps(spark, FloatIvf))

  /** q160: deletion from the QUANTIZED IVF layout — the last serving path
    * without a takedown story (q157 bucketed table, q158 band table,
    * q159 float directory): the same frozen-centroid-routed sidecar marks
    * as q159 ([[tombstoneIvfRows]] reads only `centroids`, which both
    * directory flavors persist identically), anti-joined out of the
    * candidate stage (`live = true` on [[sqIvfCandidates]]) — which
    * suffices for the whole two-stage serve, because the exact rescore
    * inner-joins the collected candidate list and a row absent from it
    * cannot re-enter via the corpus lookup. Marks land inside the same
    * crash-atomic build; [[purgeIvfTombstones]] applies unchanged (the
    * purge never reads the payload columns it rewrites).
    *
    * Exactness composes q159's flip argument with q154's quantization
    * margin: probe and surviving copy share the embedding bits, so
    * routing, stored codes and approximate score coincide; with the
    * original anti-joined out, the copy's ≈ 1 − ε approximate score
    * clears the natural tail at any top-R ≥ 1 and the exact rescore
    * emits the exhaustive argmax over corpus-minus-deleted. */
  def q160SqIvfDeleteProbe(spark: SparkSession, dir: String): DataFrame =
    ivfLifecycleProbe(spark, dir, SqIvf, "sq_del", modulus = 7,
      offset = 29000000L, shift = 28000000L, copies = true, live = true)(
      ivfDeleteSteps(spark, SqIvf))

  /** q161: REBUILD of a directory IVF layout with outstanding deletion
    * debt — [[rebuildIvfLayout]] made hash-observable, closing the
    * maintenance-tool symmetry (fold purges the table flavors q157/q158,
    * purgeIvfTombstones pays sidecar debt in place q159/q160, the
    * REBUILD pays it by exclusion here): the pre-rebuild generation is
    * built over corpus ∪ copies with the originals' takedown marks
    * landed (the q159 shape), then the maintenance rebuild re-derives
    * the layout from the same corpus relation — the takedown has NOT
    * yet propagated upstream, the exact case the sidecar-exclusion path
    * exists for — and publishes mark-free.
    *
    * The probe goes through the PLAIN [[probeIvf]], no live view: a
    * rebuild that failed to honor the marks would serve the deleted
    * originals at cosine 1 and flip every probe's id back — visible to
    * the driver hash. Exactness is q159's argument verbatim (frozen
    * fresh centroids route probe and copy identically; the copy's
    * cosine ≈ 1 clears the natural tail; the oracle recomputes
    * exhaustively over corpus-minus-deleted ∪ copies). */
  def q161IvfRebuildProbe(spark: SparkSession, dir: String): DataFrame =
    ivfLifecycleProbe(spark, dir, FloatIvf, "rb", modulus = 7,
      offset = 31000000L, shift = 30000000L, copies = true)(
      ivfRebuildSteps(spark, FloatIvf))

  /** q163: REBUILD of the QUANTIZED IVF layout with outstanding deletion
    * debt — the SQ8 [[rebuildIvf]] made hash-observable, completing the
    * rebuild symmetry across all three rebuildable flavors (float dir
    * q161, appendable table q162, quantized dir here): pre-rebuild
    * generation = the q160 shape (sq layout over corpus ∪ copies,
    * originals tombstoned), then the maintenance rebuild re-derives
    * centroids, codebook AND codes over the survivors and publishes
    * mark-free. The probe goes through the PLAIN two-stage path (no
    * `live` mode): exactness composes q161's flip argument with q154's
    * quantization margin over the REBUILT artifacts — probe and
    * surviving copy share embedding bits, so fresh-frozen routing and
    * fresh codes coincide, the ≈1−ε approximate score survives any
    * top-R, and the exact rescore emits the exhaustive argmax over
    * corpus-minus-deleted ∪ copies. */
  def q163SqIvfRebuildProbe(spark: SparkSession, dir: String): DataFrame =
    ivfLifecycleProbe(spark, dir, SqIvf, "sq_rb", modulus = 7,
      offset = 35000000L, shift = 34000000L, copies = true)(
      ivfRebuildSteps(spark, SqIvf))

  /** q147: index health audit — the MONITOR arm of the index lifecycle
    * (build q142/q143, serve [[probeIndex]]/[[probeIvf]], append
    * q145/q146): per-LSH-table bucket occupancy, IVF cluster balance and
    * SimHash band occupancy as one long-format relation — what an operator
    * watches to decide when to re-derive parameters
    * ([[IndexParams.lshPlanes]] as the corpus grows) or rebuild (IVF
    * imbalance from centroid drift). All statistics are integers (counts,
    * min/max, half-up ×100 mean) so the relation is hash-stable per run.
    *
    * The IVF arm audits the PERSISTED q143 layout when it exists — its
    * partition occupancies (spanning q146-style appended generations) are
    * the balance probes actually experience, and a fresh Lloyd recompute
    * can assign differently than the frozen persisted centroids; the
    * recompute is only the no-layout fallback.
    *
    * Rows-only in the driver gate (signatures are engine-seeded and the
    * audited layout lives outside the warehouse — not SQL-reproducible);
    * IndexStatsSpec pins the conservation invariants instead: every LSH
    * table's and every band position's occupancies sum to the corpus
    * count, the IVF row conserves n, min ≤ mean ≤ max, the LSH/SimHash
    * rows are bit-deterministic across invocations (pure functions of
    * content), and the layout-backed IVF row equals the layout's actual
    * partition row counts, including after an append.
    *
    * Scale shape: each family is one map-side-combinable count aggregation
    * over its exploded relation, collapsed to keys×1 rows then to a
    * per-unit stats row — the same two-level aggregation at any corpus
    * size; nothing driver-side but the ≤k×dim centroid state IVF always
    * carries. */
  def q147IndexStats(spark: SparkSession, dir: String): DataFrame = {
    ensureRegistered(spark)
    implicit val s: SparkSession = spark
    val c @ LshCorpus(eSlim, n, _, _) = lshCorpus(spark, dir)
    val cap = IndexParams.hotBucketCap()
    def statsOf(occ: DataFrame, family: String, unit: Column,
                hot: Column): DataFrame =
      occ.groupBy(unit.as("unit")).agg(
        count(lit(1)).as("n_keys"),
        sum(col("occ")).as("n_entries"),
        min(col("occ")).as("occ_min"),
        max(col("occ")).as("occ_max"),
        count(when(hot, 1)).as("n_hot"))
      .select(lit(family).as("family"), col("unit"), col("n_keys"),
        col("n_entries"), col("occ_min"), col("occ_max"),
        expr("(2*n_entries*100 + n_keys) div (2*n_keys)").as("occ_avg_x100"),
        col("n_hot"))
    val lsh = statsOf(
      c.indexed(eSlim)
        .groupBy(shiftright(col("sig"), 32).cast("int").as("t"), col("sig"))
        .agg(count(lit(1)).as("occ")),
      "lsh", concat(lit("table_"), col("t")), col("occ") > cap)
    val k = IndexParams.ivfK(n)
    // audit the layout ACTUALLY SERVING when the q143 build exists: its
    // partition occupancies are the balance the probes experience, and a
    // fresh Lloyd recompute can assign differently (accumulation noise vs
    // the frozen persisted centroids) — so the recompute is only the
    // no-layout fallback
    val ivfDir = ivfBaseLayoutDir(dir, k)
    val (ivfOcc, nIvf) =
      if (ivfLayoutBuilt(spark, ivfDir))
        (ivfLayoutOccupancies(spark, ivfDir),
          spark.read.parquet(s"$ivfDir/assigned").count())
      else
        (assignToCentroid(eSlim, ivfCentroids(eSlim, k, iters = 2))
          .groupBy(col("cid")).agg(count(lit(1)).as("occ")), n)
    val ivf = statsOf(ivfOcc,
      // hot = cluster more than 4× its fair share — the rebuild signal
      "ivf", lit("clusters"), col("occ") * k > lit(4L) * nIvf)
    graft.functions.Simhash64Function.register(spark)
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val bandBits = IndexParams.simhashBandBits(d.count())
    val nBands = 64 / bandBits
    val banded = d.select(col("doc_id"),
      call_function("simhash64", col("text")).as("sig"))
      .withColumn("band", explode(array((0 until nBands).map(b =>
        lit(b.toLong << bandBits) + shiftright(col("sig"), bandBits * b)
          .bitwiseAND(lit((1L << bandBits) - 1))): _*)))
    val simhash = statsOf(
      banded.groupBy(shiftright(col("band"), bandBits).cast("int").as("bp"), col("band"))
        .agg(count(lit(1)).as("occ")),
      "simhash", concat(lit("band_"), col("bp")), col("occ") > cap)
    lsh.unionByName(ivf).unionByName(simhash)
      .orderBy(col("family"), col("unit"))
  }

  /** q116: embedding-space benchmark decontamination — the semantic
    * complement of the shingle-based q49: flag corpus vectors whose max
    * cosine to ANY benchmark probe clears θ (paraphrased eval answers that
    * share no 5-gram survive q49 but sit next to the probe in embedding
    * space). Probes = vec_id ≤ 30; corpus = the rest ∪ exact copies of
    * every probe under shifted ids — the planted-contamination harness
    * (q100/q105 pattern), giving a provable answer: planted copies score
    * cosine ≈ 1 ≥ θ while the natural corpus tops out ≈ 0.49 ≪ 0.75-θ
    * (measured), so recall on plants is exactly 1 with a wide margin on
    * both sides of the dyadic threshold.
    *
    * Plan shape (the q111 argmax rule, r8-strengthened): a benchmark set
    * is driver-resident by nature, so the per-vector max-sim is ONE
    * native `max_cosine_probes` node carrying the whole probe matrix as a
    * flattened reference object — a pure projection in whole-stage
    * codegen at ANY probe count. No crossJoin row blow-up, no per-vector
    * re-aggregation; the only shuffle is the |labels|-row rollup. At
    * 100 TB this is one corpus scan with map-side combine. */
  /** Corpus rows + a `max_sim` column = max cosine of `embCol` to ANY probe
    * embedding — always the single-node [[maxSimProbesKernel]].
    *
    * History (r7→r8): this used to be a probe-count GUARD choosing between
    * a literal greatest-ladder (small probe sets) and a broadcast fan-out
    * + max-agg (large ones), because the ladder's plan grew linearly with
    * the probe count and fell over in the thousands. The
    * `max_cosine_probes` matrix kernel dissolves the trade: ONE plan node
    * at any probe count, whole-stage codegen survives, and the measured
    * ordering at 10k probes × 200k corpus is kernel 4.1 s ≪ chunked
    * ladder 16.8 s ≪ broadcast 29.6 s warm (PLANS.md "Big-probe-set
    * max-sim") — so the guard no longer has a failure mode to guard
    * against. All three formulations are bitwise-equal (same
    * accumulation orders; pinned per-vector in SimilaritySpec, which keeps
    * the ladder and broadcast forms as its references). */
  def withMaxSimToProbes(corpus: DataFrame, embCol: String,
                         probes: DataFrame, probeEmbCol: String): DataFrame =
    maxSimProbesKernel(corpus, embCol, probes, probeEmbCol)

  /** The wired big-probe-set plan: the whole probe matrix
    * rides ONE native [[graft.functions.MaxCosineProbes]] expression as a
    * flattened reference object with precomputed norms — one plan node,
    * one fused loop per row, whole-stage codegen at any probe count. */
  def maxSimProbesKernel(corpus: DataFrame, embCol: String,
                         probes: DataFrame, probeEmbCol: String): DataFrame = {
    ensureRegistered(corpus.sparkSession)
    val pv = collectProbeVecs(probes, probeEmbCol)
    corpus.withColumn("max_sim_raw",
      call_function("max_cosine_probes", col(embCol),
        typedlit(pv.map(_.toIndexedSeq).toIndexedSeq)))
  }

  /** Probe relations are driver-resident by contract (a benchmark/probe
    * set, not a data-sized relation); the cap makes a violated contract a
    * loud error instead of a silent driver OOM. */
  private val MaxCollectProbes = 100000

  private def collectProbeVecs(probes: DataFrame,
                               probeEmbCol: String): Array[Array[Double]] = {
    val rows =
      probes.select(col(probeEmbCol)).limit(MaxCollectProbes + 1).collect()
    require(rows.length <= MaxCollectProbes,
      s"probe relation exceeds $MaxCollectProbes rows — too large to collect " +
        "into a plan-side kernel; split the probes into batches of at most " +
        s"$MaxCollectProbes rows and take the max of the per-batch max_sim_raw")
    rows.map(_.getSeq[Float](0).map(_.toDouble).toArray)
  }

  def q116EmbeddingDecontam(spark: SparkSession, dir: String,
                            theta: Double = 0.75): DataFrame = {
    ensureRegistered(spark)
    val e = Tables.embeddings(spark, dir)
    val probes = e.filter(col("vec_id") <= 30)
    val corpus = e.filter(col("vec_id") > 30)
      .unionByName(probes.withColumn("vec_id", col("vec_id") + lit(3000000L)))
    withMaxSimToProbes(corpus, "embedding", probes, "embedding")
      .withColumn("max_sim", Exprs.dround(col("max_sim_raw"), 6))
      .groupBy(col("label")).agg(
        count(lit(1)).as("n_vecs"),
        count(when(col("vec_id") >= 3000000L, 1)).as("n_planted"),
        count(when(col("max_sim") >= theta, 1)).as("n_contaminated"),
        Exprs.avgExact(col("max_sim"), 6, 6).as("avg_max_sim"))
      .orderBy(col("label"))
  }

  /** Approximate near-dup dedup for genuinely-clustered corpora: hyperplane
    * LSH buckets (OR over `tables` tables × `planes` planes each) generate
    * candidate pairs, exact cosine verifies them, the higher id of each
    * verified pair is marked duplicate. Sound when true near-dups are tight
    * (sim ≥ ~0.9 → per-plane agreement ≥ 0.86, so a handful of tables
    * reaches high recall while random pairs collide at ~0.5^planes).
    * Candidate volume is the bucket self-join — linear in N for bounded
    * bucket sizes — never N². Approximate by construction (recall < 1), so
    * property-spec'd on planted duplicates rather than oracle-checked. */
  /** LSH bucket self-join: candidate pairs (i < j) with embeddings, possibly
    * repeated once per colliding table. Volume is Σ bucket²/2 — linear in N
    * for bounded buckets — never N². */
  def lshCandidatePairs(e: DataFrame, tables: Int, planes: Int): DataFrame = {
    // unrolled like q27's sigs: kernel calls in codegen, not under a lambda
    // (r12: the old t*1e6 table spacing collided past 20 planes — the
    // shared sigTableArray folds the table id above the widest signature)
    val exploded = indexedRelation(e, planes, tables)
    val a = exploded.select(col("sig"), col("vec_id").as("i"), col("embedding").as("ea"))
    val b = exploded.select(col("sig"), col("vec_id").as("j"), col("embedding").as("eb"))
    // self-join through the hot-bucket guard (r12): skewed buckets refine
    // with extra planes, so the pair fan-out stays bounded; exact copies
    // refine identically, keeping the q100 planted-recall proof intact
    guardedSigJoin(a, "ea", b, "eb", IndexParams.hotBucketCap())
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"), col("ea"), col("eb"))
  }

  /** Hot-bucket-guarded signature-bucket join — the r12 scale fix for the
    * LSH candidate stage (r11 verdict: a bucket keyspace that doesn't grow
    * with the corpus turns a near-constant-embedding bucket into an
    * n²/keyspace straggler). Buckets whose CORPUS-side occupancy exceeds
    * `cap` get their join key refined with `refinePlanes` extra hyperplane
    * bits drawn at a plane offset (1 << 20) disjoint from every table's;
    * cold buckets keep a −1 sentinel sub-key, so the join key is always
    * (sig, sub).
    *
    * Recall: the refinement is a pure function of the embedding VALUE, so
    * an exact copy refines identically to its original and planted recall
    * stays exactly 1.0 (the q138 oracle argument survives unchanged);
    * genuinely-different vectors that merely share a coarse bucket split
    * ~2^rbits ways. The irreducible case — a hot bucket of
    * bit-identical embeddings — cannot be split by ANY content-derived
    * refinement; that mass is exact-duplicate pathology and belongs to the
    * digest-grain dedup path (q23/q140's min-per-group star), not to ANN
    * candidate generation.
    *
    * Refinement width scales with OBSERVED occupancy (r13): a hot key
    * splits with rbits = ceilLog2(⌈occ/cap⌉) + 2 slack bits, clamped to
    * [1, maxRefinePlanes] — so a bucket 2^12× over cap refines ~2^14 ways
    * where the old fixed-8 split left it 2^4× over. Residual: a bucket of
    * NEAR-identical (not bit-identical) vectors more than cap·2^maxRefinePlanes
    * deep still exceeds the cap after refinement — same pathology class as
    * the bit-identical case above, and the same digest-grain answer.
    *
    * The broadcast hot relation is BOUNDED to the hottest `maxHotKeys`
    * keys (deterministic (occ desc, sig) order): overflow keys keep the
    * coarse key on BOTH sides, i.e. degrade to a candidate SUPERSET —
    * recall never drops, and driver/broadcast memory is O(maxHotKeys)
    * (~20 B/key) no matter how pathological the corpus.
    *
    * PRECONDITION: occupancy is measured on the CORPUS side only, so the
    * guard assumes probe keys derive from corpus content — self-joins
    * ([[lshCandidatePairs]]) or probes ⊆ corpus (q138's planted probes).
    * An asymmetric caller whose probes concentrate on corpus-cold buckets
    * gets no guard for those keys; measure occupancy over the union of
    * both sides before adding such a caller.
    *
    * Scale shape: the occupancy pass is one map-side-combinable count over
    * the exploded corpus; the hot-key relation is the skew TAIL (≤ n/cap
    * keys in theory, a handful in practice once planes scale with n —
    * [[IndexParams.lshPlanes]]), bounded and broadcast; both join sides
    * then shuffle on (sig, sub). SimilaritySpec pins the bounded fan-out,
    * the occupancy-scaled width, and the bounded-hot-list superset. */
  def guardedSigJoin(corpusX: DataFrame, corpusEmb: String,
                     probesX: DataFrame, probesEmb: String,
                     cap: Int, maxRefinePlanes: Int = 16,
                     maxHotKeys: Int = 1 << 20): DataFrame = {
    // rbits in pure integer arithmetic: ⌈occ/cap⌉ ≥ 2 because occ > cap,
    // and ceilLog2(r) = length(bin(r − 1)) for r ≥ 2.
    val hot = corpusX.groupBy(col("sig")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") > cap)
      .orderBy(col("occ").desc, col("sig")).limit(maxHotKeys)
      .select(col("sig"), least(lit(maxRefinePlanes),
        expr(s"2 + length(bin(((occ + $cap - 1) div $cap) - 1))").cast("int")
      ).as("rbits"))
    def keyed(df: DataFrame, embCol: String) =
      df.join(broadcast(hot), Seq("sig"), "left")
        .withColumn("sub",
          when(col("rbits").isNotNull,
            lshSignature(col(embCol), maxRefinePlanes, lit(1 << 20))
              .bitwiseAND(expr("shiftleft(1L, rbits) - 1")))
            .otherwise(lit(-1L)))
        .drop("rbits")
    keyed(corpusX, corpusEmb).join(keyed(probesX, probesEmb), Seq("sig", "sub"))
  }

  def approxEmbeddingDedup(e: DataFrame, threshold: Double,
                           tables: Int = 6, planes: Int = 8): DataFrame =
    // verify before any distinct: a pair colliding in k tables costs k
    // cosines (cheap, map-side) instead of shuffling embedding arrays
    // through a pair-level distinct
    embeddingDedup(e, threshold, lshCandidatePairs(_, tables, planes))

  /** q94: label-centroid cosine matrix — per-class mean embedding, then
    * pairwise cosine between class centroids: the "which classes are
    * semantically entangled?" audit run before stratified splits (q60/q61)
    * or cluster-based semantic dedup — entangled labels (high centroid
    * cosine) are where near-dup leakage across a train/test split happens.
    *
    * Scale shape: one posexplode → (label, dim) hash aggregation (map-side
    * combine collapses to labels × dims rows regardless of corpus size);
    * the pairwise stage joins the tiny centroid relation to itself on the
    * dim key — labels² × dims rows, independent of N.
    *
    * Cross-engine determinism: per-dim means are decimal-exact sums of
    * 6dp-rounded components (order-independent), each rounded back to 6dp;
    * dot/norm accumulators are then decimal-exact sums of the 12dp-exact
    * products of those means, so the final cosine divides identical doubles
    * in both engines. `sum(double)` anywhere here would be accumulation-
    * order-dependent and break the oracle hash (CLAUDE.md stddev rule). */
  def q94CentroidCosine(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
      .withColumn("x6", graft.ops.Exprs.dround(col("x").cast("double"), 6))
    val cent = dims.groupBy(col("label"), col("d"))
      .agg(graft.ops.Exprs.avgExact(col("x6"), 6, 6).as("m"))
    val a = cent.select(col("label").as("l1"), col("d"), col("m").as("m1"))
    val b = cent.select(col("label").as("l2"), col("d"), col("m").as("m2"))
    a.join(b, Seq("d")).filter(col("l1") < col("l2"))
      .groupBy(col("l1"), col("l2"))
      .agg(
        count(lit(1)).as("n_dims"),
        graft.ops.Exprs.sumExact(col("m1") * col("m2"), 12).as("dot"),
        graft.ops.Exprs.sumExact(col("m1") * col("m1"), 12).as("nn1"),
        graft.ops.Exprs.sumExact(col("m2") * col("m2"), 12).as("nn2"))
      .withColumn("cos_sim", graft.ops.Exprs.dround(
        col("dot") / (sqrt(col("nn1")) * sqrt(col("nn2"))), 6))
      .select(col("l1"), col("l2"), col("n_dims"), col("cos_sim"))
      .orderBy(col("l1"), col("l2"))
  }

  /** q108: int8 scalar-quantization audit — the storage-side companion to
    * the ANN family (builder brief: similarity search at 100 TB starts by
    * shrinking the vectors 4×). Per-dim affine quantization to [0,255]
    * (code = ⌊(x−mn)/(mx−mn)·255 + 0.5⌋, the half-up trick that avoids
    * both engines' round-to-even differences entirely — floor of the SAME
    * double is exact), reconstruction r = mn + q/255·(mx−mn), and a per-dim
    * distortion report: distinct codes used, max and mean absolute error.
    *
    * Scale shape: the exploded (vec,dim) relation aggregates per-dim stats
    * map-side into 64 rows, which broadcast back onto the second pass —
    * stats pass + quantize pass, no shuffle of the exploded relation
    * beyond the 64-key aggregations (the q41 stats-pass pattern applied to
    * vectors). Numerics: float→double casts are exact, every derived value
    * is the same IEEE expression on both engines, max is order-free, and
    * the mean rides per-row 9-dp rounding into an exact decimal sum
    * (CLAUDE.md sum rule). */
  def q108QuantizationAudit(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"),
        col("xf").cast("double").as("x"))
    val stats = ex.groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val code = when(col("mx") > col("mn"),
        floor((col("x") - col("mn")) / (col("mx") - col("mn")) * lit(255.0)
          + lit(0.5)))
      .otherwise(lit(0L))
    val recon = col("mn") +
      col("q").cast("double") / lit(255.0) * (col("mx") - col("mn"))
    ex.join(broadcast(stats), Seq("dim"))
      .withColumn("q", code)
      .withColumn("err", abs(col("x") - recon))
      .groupBy(col("dim"), col("mn"), col("mx"))
      .agg(
        count_distinct(col("q")).as("n_codes"),
        Exprs.dround(max(col("err")), 9).as("max_abs_err"),
        Exprs.dround(
          Exprs.sumExact(Exprs.dround(col("err"), 9), 9) / count(lit(1)), 9)
          .as("mean_abs_err"))
      .select(col("dim"), col("mn"), col("mx"), col("n_codes"),
        col("max_abs_err"), col("mean_abs_err"))
      .orderBy(col("dim"))
  }

  /** The shared q138/q139 oracle body: exhaustive top-1 cosine over probes
    * planted as exact copies of every `modulus`-th vector under `offset`-
    * shifted ids. See the map entries below for why this exact SQL checks
    * both approximate indexes. */
  private def plantedRetrievalOracle(modulus: Int, offset: Long): String =
    s"""WITH probes AS (
       |  SELECT vec_id + $offset AS qid, embedding FROM embeddings
       |  WHERE vec_id % $modulus = 0),
       |pairs AS (
       |  SELECT p.qid, c.vec_id AS cid,
       |    list_sum(list_transform(list_zip(p.embedding, c.embedding),
       |      x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
       |    (sqrt(list_sum(list_transform(p.embedding, x -> x::DOUBLE * x::DOUBLE))) *
       |     sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS sim_raw
       |  FROM probes p CROSS JOIN embeddings c),
       |ranked AS (
       |  SELECT qid, cid, sim_raw,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim_raw DESC, cid) AS rn
       |  FROM pairs)
       |SELECT qid, cid AS retrieved_id,
       |  round(sim_raw * 1000000) / 1000000 AS sim,
       |  (cid = qid - $offset) AS hit
       |FROM ranked WHERE rn = 1 ORDER BY qid""".stripMargin

  /** The shared q157/q159 deletion oracle: [[plantedRetrievalOracle]] over
    * corpus-minus-deleted ∪ copies — deleted originals (every
    * `modulus`-th vector) are absent, their exact copies under
    * `copyShift` survive, and probes of the deleted content (qid =
    * original + `offset`) provably retrieve the copy. One generator, only
    * the planting parameters differ (r10 rule). */
  private def plantedDeleteOracle(modulus: Int, copyShift: Long,
                                  offset: Long): String =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % $modulus <> 0
       |  UNION ALL
       |  SELECT vec_id + $copyShift AS vec_id, embedding FROM embeddings
       |  WHERE vec_id % $modulus = 0),
       |probes AS (
       |  SELECT vec_id + $offset AS qid, embedding FROM embeddings
       |  WHERE vec_id % $modulus = 0),
       |pairs AS (
       |  SELECT p.qid, c.vec_id AS cid,
       |    list_sum(list_transform(list_zip(p.embedding, c.embedding),
       |      x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
       |    (sqrt(list_sum(list_transform(p.embedding, x -> x::DOUBLE * x::DOUBLE))) *
       |     sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS sim_raw
       |  FROM probes p CROSS JOIN corpus c),
       |ranked AS (
       |  SELECT qid, cid, sim_raw,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim_raw DESC, cid) AS rn
       |  FROM pairs)
       |SELECT qid, cid AS retrieved_id,
       |  round(sim_raw * 1000000) / 1000000 AS sim,
       |  (cid = qid - ${offset - copyShift}) AS hit
       |FROM ranked WHERE rn = 1 ORDER BY qid""".stripMargin

  /** The shared q145/q146 oracle body: [[plantedRetrievalOracle]] over the
    * base ∪ delta union (delta = reversed embeddings under `deltaShift` —
    * `list_reverse` mirrors Spark `reverse`, float reversal is bit-exact).
    * One generator, only the planting parameters differ (r10 rule). */
  private def plantedUnionRetrievalOracle(modulus: Int, offset: Long,
                                          deltaShift: Long): String =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $deltaShift AS vec_id, list_reverse(embedding) AS embedding
       |  FROM embeddings),
       |probes AS (
       |  SELECT vec_id + $offset AS qid, embedding FROM corpus
       |  WHERE vec_id % $modulus = 0),
       |pairs AS (
       |  SELECT p.qid, c.vec_id AS cid,
       |    list_sum(list_transform(list_zip(p.embedding, c.embedding),
       |      x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
       |    (sqrt(list_sum(list_transform(p.embedding, x -> x::DOUBLE * x::DOUBLE))) *
       |     sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS sim_raw
       |  FROM probes p CROSS JOIN corpus c),
       |ranked AS (
       |  SELECT qid, cid, sim_raw,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim_raw DESC, cid) AS rn
       |  FROM pairs)
       |SELECT qid, cid AS retrieved_id,
       |  round(sim_raw * 1000000) / 1000000 AS sim,
       |  (cid = qid - $offset) AS hit
       |FROM ranked WHERE rn = 1 ORDER BY qid""".stripMargin

  val oracle: Map[String, String] = Map(
    "q108_quantization_audit" ->
      """WITH ex AS (
        |  SELECT vec_id,
        |    unnest(range(1, len(embedding) + 1)) AS dim,
        |    unnest(embedding)::DOUBLE AS x
        |  FROM embeddings),
        |stats AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM ex GROUP BY dim),
        |qz AS (
        |  SELECT e.dim, s.mn, s.mx, e.x,
        |    CASE WHEN s.mx > s.mn
        |      THEN floor((e.x - s.mn) / (s.mx - s.mn) * 255 + 0.5)
        |      ELSE 0 END AS q
        |  FROM ex e JOIN stats s USING (dim)),
        |errs AS (
        |  SELECT dim, mn, mx, q,
        |    abs(x - (mn + q / 255 * (mx - mn))) AS err
        |  FROM qz)
        |SELECT dim, mn, mx, count(DISTINCT q) AS n_codes,
        |  round(max(err) * 1000000000) / 1000000000 AS max_abs_err,
        |  round(sum((round(err * 1000000000) / 1000000000)::DECIMAL(25,9))::DOUBLE
        |        / count(*) * 1000000000) / 1000000000 AS mean_abs_err
        |FROM errs GROUP BY dim, mn, mx ORDER BY dim""".stripMargin,

    "q94_centroid_cosine" ->
      """WITH dims AS (
        |  SELECT label,
        |    unnest(range(1, len(embedding) + 1)) AS d,
        |    round(unnest(embedding)::DOUBLE * 1000000) / 1000000 AS x6
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, d,
        |    round(sum(x6::DECIMAL(25,6))::DOUBLE / count(*) * 1000000) / 1000000
        |      AS m
        |  FROM dims GROUP BY label, d),
        |pairs AS (
        |  SELECT a.label AS l1, b.label AS l2, count(*) AS n_dims,
        |    sum((a.m * b.m)::DECIMAL(25,12))::DOUBLE AS dot,
        |    sum((a.m * a.m)::DECIMAL(25,12))::DOUBLE AS nn1,
        |    sum((b.m * b.m)::DECIMAL(25,12))::DOUBLE AS nn2
        |  FROM cent a JOIN cent b ON a.d = b.d AND a.label < b.label
        |  GROUP BY a.label, b.label)
        |SELECT l1, l2, n_dims,
        |  round(dot / (sqrt(nn1) * sqrt(nn2)) * 1000000) / 1000000 AS cos_sim
        |FROM pairs ORDER BY l1, l2""".stripMargin,

    "q38_embedding_dedup" ->
      """WITH dup_ids AS (
        |  SELECT DISTINCT a.vec_id AS i
        |  FROM embeddings a JOIN embeddings b ON b.vec_id < a.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |          x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
        |        (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
        |         sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) >= 0.4),
        |marked AS (
        |  SELECT e.vec_id, e.label, (d.i IS NOT NULL) AS is_dup
        |  FROM embeddings e LEFT JOIN dup_ids d ON e.vec_id = d.i)
        |SELECT label, count(*) AS n_vecs,
        |  count(CASE WHEN is_dup THEN 1 END) AS n_dups
        |FROM marked GROUP BY label ORDER BY label""".stripMargin,
    // Exhaustive-N² oracle for the LSH path: valid because planted exact
    // copies collide in every hash table (recall provably 1.0, see
    // q100LshDedup scaladoc) — the SQL assumes nothing about LSH.
    // The planted-copy set is what both the LSH (q100) and cluster-blocked
    // (q111) strategies provably recover in full; only planting params
    // differ (every 5th, offset 2e6). n_kept is derivable but emitted by
    // the engine, so the oracle emits it too.
    "q111_semantic_dedup" ->
      """WITH corpus AS (
        |  SELECT vec_id, label, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 2000000, label, embedding FROM embeddings
        |  WHERE vec_id % 5 = 0),
        |dup_ids AS (
        |  SELECT DISTINCT b.vec_id AS j
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |          x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
        |        (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
        |         sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) >= 0.99),
        |marked AS (
        |  SELECT c.vec_id, c.label, (d.j IS NOT NULL) AS is_dup
        |  FROM corpus c LEFT JOIN dup_ids d ON c.vec_id = d.j)
        |SELECT label, count(*) AS n_vecs,
        |  count(CASE WHEN vec_id >= 2000000 THEN 1 END) AS n_planted,
        |  count(CASE WHEN is_dup THEN 1 END) AS n_dups,
        |  count(CASE WHEN NOT is_dup THEN 1 END) AS n_kept
        |FROM marked GROUP BY label ORDER BY label""".stripMargin,
    "q100_lsh_dedup" ->
      """WITH corpus AS (
        |  SELECT vec_id, label, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, label, embedding FROM embeddings
        |  WHERE vec_id % 7 = 0),
        |dup_ids AS (
        |  SELECT DISTINCT b.vec_id AS j
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |          x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
        |        (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
        |         sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) >= 0.99),
        |marked AS (
        |  SELECT c.vec_id, c.label, (d.j IS NOT NULL) AS is_dup
        |  FROM corpus c LEFT JOIN dup_ids d ON c.vec_id = d.j)
        |SELECT label, count(*) AS n_vecs,
        |  count(CASE WHEN vec_id >= 1000000 THEN 1 END) AS n_planted,
        |  count(CASE WHEN is_dup THEN 1 END) AS n_dups
        |FROM marked GROUP BY label ORDER BY label""".stripMargin,
    // planted copies give the decontam flag a provable answer (recall 1 on
    // plants, natural corpus ≪ θ); max over identical per-pair doubles is
    // bitwise-identical across engines, avg rides the exact-decimal sum
    "q116_embedding_decontam" ->
      """WITH probes AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <= 30),
        |corpus AS (
        |  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id > 30
        |  UNION ALL
        |  SELECT vec_id + 3000000, embedding, label FROM embeddings
        |  WHERE vec_id <= 30),
        |scored AS (
        |  SELECT c.vec_id, c.label,
        |    round(max(
        |      list_sum(list_transform(list_zip(p.embedding, c.embedding),
        |        x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
        |      (sqrt(list_sum(list_transform(p.embedding, x -> x::DOUBLE * x::DOUBLE))) *
        |       sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE))))
        |    ) * 1000000) / 1000000 AS max_sim
        |  FROM corpus c CROSS JOIN probes p
        |  GROUP BY c.vec_id, c.label)
        |SELECT label, count(*) AS n_vecs,
        |  count(CASE WHEN vec_id >= 3000000 THEN 1 END) AS n_planted,
        |  count(CASE WHEN max_sim >= 0.75 THEN 1 END) AS n_contaminated,
        |  round(sum(max_sim::DECIMAL(25,6))::DOUBLE / count(max_sim)
        |    * 1000000) / 1000000 AS avg_max_sim
        |FROM scored GROUP BY label ORDER BY label""".stripMargin,
    // ONE exhaustive-argmax oracle for BOTH planted-retrieval queries (the
    // r10 one-generator rule — only the planting parameters differ): valid
    // because a planted probe's original is a CERTAIN candidate — identical
    // signature in every LSH table (q138) / same assigned cluster, the
    // assignment being a pure function of the embedding value (q139) — and
    // its cosine ≈ 1.0 dominates the ≈0.51 natural tail, so each index's
    // top-1 provably equals this SQL's N² argmax, which assumes nothing
    // about either index (and is centroid-noise-independent for q139 even
    // though the candidate SET is not).
    "q138_ann_planted" -> plantedRetrievalOracle(modulus = 9, offset = 4000000L),
    "q139_ivf_planted" -> plantedRetrievalOracle(modulus = 11, offset = 5000000L),
    // r13: the persisted-index twins — same exhaustive oracle, smaller
    // probe batches (persisted-index queries are batches, not corpora; the
    // small batch is also what makes bucket/partition pruning visible)
    "q142_lsh_index_probe" -> plantedRetrievalOracle(modulus = 100, offset = 7000000L),
    "q143_ivf_partitioned_probe" -> plantedRetrievalOracle(modulus = 150, offset = 8000000L),
    // q145/q146: same exhaustive argmax, over the base ∪ appended-delta
    // corpus (probes of every modulus-th union vector hit BOTH halves —
    // the proof that appended rows serve through the same persisted layout)
    "q145_index_append_probe" ->
      plantedUnionRetrievalOracle(modulus = 113, offset = 10000000L,
        deltaShift = 9000000L),
    "q146_ivf_append_probe" ->
      plantedUnionRetrievalOracle(modulus = 127, offset = 12000000L,
        deltaShift = 11000000L),
    // q148: same union oracle — compaction is a physical rewrite, so the
    // logical answer is exactly the appended index's (the file-count and
    // pruning claims live in SimilaritySpec, invisible to SQL by design)
    "q148_index_compact_probe" ->
      plantedUnionRetrievalOracle(modulus = 97, offset = 14000000L,
        deltaShift = 13000000L),
    // q149: the quantized index serves the SAME exhaustive answer — the
    // planted original is a certain candidate whose ≈1−ε approximate
    // score survives any top-R cut, and the exact rescore emits the
    // full-precision cosine (quantization picks candidates, never scores)
    "q149_sq_index_probe" ->
      plantedRetrievalOracle(modulus = 89, offset = 15000000L),
    // q154: the quantized IVF layout serves the same exhaustive answer,
    // by the composed q143+q149 arguments (frozen-centroid routing is a
    // pure function of the copied embedding; the certain candidate's
    // ≈1−ε approximate score survives any top-R; exact rescore emits the
    // full-precision cosine)
    "q154_sq_ivf_probe" ->
      plantedRetrievalOracle(modulus = 139, offset = 19000000L),
    // q156: the appended quantized layout serves the same exhaustive
    // union answer (frozen centroids route, frozen codebook codes, exact
    // rescore emits — the composed q146+q149 arguments)
    "q156_sq_ivf_append_probe" ->
      plantedUnionRetrievalOracle(modulus = 131, offset = 22000000L,
        deltaShift = 21000000L),
    // q157/q159: exhaustive argmax over corpus-minus-deleted ∪ copies —
    // every probe's top-1 provably flips from its (deleted) original to
    // the surviving copy, making each deletion path's correctness visible
    // to the hash (a resurrected or un-deleted row flips ids back)
    "q157_index_delete_probe" ->
      plantedDeleteOracle(modulus = 7, copyShift = 24000000L,
        offset = 25000000L),
    "q159_ivf_delete_probe" ->
      plantedDeleteOracle(modulus = 7, copyShift = 26000000L,
        offset = 27000000L),
    "q160_sq_ivf_delete_probe" ->
      plantedDeleteOracle(modulus = 7, copyShift = 28000000L,
        offset = 29000000L),
    // q161: a rebuild that honored the sidecar marks serves the same
    // corpus-minus-deleted ∪ copies answer as the merge-on-read paths —
    // same exhaustive recompute, no live view on the Spark side
    "q161_ivf_rebuild_probe" ->
      plantedDeleteOracle(modulus = 7, copyShift = 30000000L,
        offset = 31000000L),
    // q162: the appendable-table rebuild serves the same answer through
    // the re-derived bucket layout — ids flip back if the rebuild
    // resurrected a deleted row or broke the bucket function
    "q162_index_rebuild_probe" ->
      plantedDeleteOracle(modulus = 7, copyShift = 32000000L,
        offset = 33000000L),
    // q163: the quantized rebuild serves the same corpus-minus-deleted ∪
    // copies answer through fresh-frozen centroids, codebook and codes
    "q163_sq_ivf_rebuild_probe" ->
      plantedDeleteOracle(modulus = 7, copyShift = 34000000L,
        offset = 35000000L),
    // q164: the leveled fold's generations serve the same answer as the
    // flat layout would — ids flip if a fold lost/duplicated rows or a
    // marked row leaked past the live view's anti-join
    "q164_leveled_fold_probe" ->
      plantedDeleteOracle(modulus = 7, copyShift = 36000000L,
        offset = 37000000L),
    // q165: the scoped PHYSICAL purge serves the same answer through the
    // plain probe (no anti-join) — a victim row the partition rewrite
    // left standing flips ids back to the original at cosine 1
    "q165_scoped_purge_probe" ->
      plantedDeleteOracle(modulus = 7, copyShift = 38000000L,
        offset = 39000000L),
    // q166: the CONVERGING purge (fold committed head + re-purge when
    // victims are live-batch-resident) serves the same
    // corpus-minus-deleted ∪ copies answer through the plain probe — a
    // victim surviving the fold+purge composition flips ids back
    "q166_converging_purge_probe" ->
      plantedDeleteOracle(modulus = 7, copyShift = 40000000L,
        offset = 41000000L),
    // q150: every θ-crossing pair is an exact copy (a certain LSH
    // candidate), so the gate's candidate-join decisions equal these
    // exhaustive ones; θ=0.75 is dyadic and hazard-free (naturals ≤0.53)
    "q150_dedup_gate" ->
      """WITH batch AS (
        |  SELECT vec_id + 16000000 AS vec_id, embedding FROM embeddings
        |  WHERE vec_id % 7 = 0
        |  UNION ALL
        |  SELECT vec_id + 17000000 AS vec_id, list_reverse(embedding) AS embedding
        |  FROM embeddings WHERE vec_id % 11 = 0
        |  UNION ALL
        |  SELECT vec_id + 18000000 AS vec_id, list_reverse(embedding) AS embedding
        |  FROM embeddings WHERE vec_id % 11 = 0),
        |pairs AS (
        |  SELECT b.vec_id, c.vec_id AS cid,
        |    list_sum(list_transform(list_zip(b.embedding, c.embedding),
        |      x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))) *
        |     sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS sim_raw
        |  FROM batch b CROSS JOIN embeddings c),
        |best AS (
        |  SELECT vec_id, cid, sim_raw,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim_raw DESC, cid) AS rn
        |  FROM pairs),
        |idx_dup AS (
        |  SELECT vec_id, cid AS dup_of, sim_raw FROM best
        |  WHERE rn = 1 AND sim_raw >= 0.75),
        |clean AS (
        |  SELECT * FROM batch
        |  WHERE vec_id NOT IN (SELECT vec_id FROM idx_dup)),
        |intra0 AS (
        |  SELECT j.vec_id, i.vec_id AS dup_of,
        |    list_sum(list_transform(list_zip(i.embedding, j.embedding),
        |      x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(i.embedding, x -> x::DOUBLE * x::DOUBLE))) *
        |     sqrt(list_sum(list_transform(j.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS sim_raw
        |  FROM clean j JOIN clean i ON i.vec_id < j.vec_id),
        |intra AS (
        |  SELECT vec_id, dup_of, sim_raw,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dup_of) AS rn
        |  FROM intra0 WHERE sim_raw >= 0.75),
        |batch_dup AS (SELECT vec_id, dup_of, sim_raw FROM intra WHERE rn = 1)
        |SELECT b.vec_id,
        |  CASE WHEN d.vec_id IS NOT NULL THEN 'dup_index'
        |       WHEN p.vec_id IS NOT NULL THEN 'dup_batch'
        |       ELSE 'accepted' END AS status,
        |  coalesce(d.dup_of, p.dup_of) AS dup_of,
        |  round(coalesce(d.sim_raw, p.sim_raw) * 1000000) / 1000000 AS sim
        |FROM batch b
        |LEFT JOIN idx_dup d ON b.vec_id = d.vec_id
        |LEFT JOIN batch_dup p ON b.vec_id = p.vec_id
        |ORDER BY b.vec_id""".stripMargin,
    "q26_cosine_topk" ->
      """WITH pairs AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |      x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
        |    (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE))) *
        |     sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS sim_raw
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <= 50 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT qid, cid, sim_raw,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim_raw DESC, cid) AS rn
        |  FROM pairs)
        |SELECT qid, rn, cid, round(sim_raw * 1000000) / 1000000 AS sim
        |FROM ranked WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
  )
}

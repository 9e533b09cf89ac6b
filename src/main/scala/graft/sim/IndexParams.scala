package graft.sim

/** Corpus-size-derived parameters for the approximate-index families
  * (hyperplane LSH, IVF, SimHash banding) — the r11 verdict's one 100-TB
  * soft spot was that these were compile-time constants (10 planes, k=16,
  * 4×16-bit bands), so candidate-pair counts grew ~n²/keyspace on any real
  * scale-up. Every formula here is a pure function of a corpus COUNT the
  * caller measures (one cheap metadata-ish action), so the keyspace grows
  * with the data and the planted-copy oracles (q138/q139/q140) stay exact:
  * an exact copy collides with its original under ANY parameter choice,
  * because signatures/assignments are pure functions of the content value.
  *
  * Reference behavior being scaled: the dedup/similarity semantics of
  * `sql/analytics-queries.sql`-era near-dup tooling; the scaling itself is
  * standard LSH theory (Leskovec/Rajaraman/Ullman, MMDS ch. 3) — keyspace
  * ∝ n keeps expected bucket occupancy, and hence candidate pairs per
  * item, constant. */
object IndexParams {

  /** ⌈log₂ x⌉ for x ≥ 1 (0 for x ≤ 1). */
  def ceilLog2(x: Long): Int =
    if (x <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x - 1)

  /** Hyperplane count per LSH table so the expected random-signature bucket
    * occupancy n / 2^planes ≈ `targetOcc`: planes = ⌈log₂(n / targetOcc)⌉,
    * clamped to [minPlanes, maxPlanes].
    *
    * Candidate pairs per table under uniform occupancy ≈ n·occ/2, i.e.
    * LINEAR in n once planes scales — versus n²/2^planes for a fixed plane
    * count (the r11 q138 shape: 10 planes = 1,024 buckets at ANY corpus
    * size). The clamp ceiling (24 → 16M buckets/table) is where per-bucket
    * metadata would stop being driver-trivial; beyond it the hot-bucket
    * guard ([[Similarity.guardedSigJoin]]) carries the growth.
    *
    * Real embedding buckets are NOT uniform (data clusters → hot buckets);
    * the occupancy target sizes the keyspace, the guard handles the tail. */
  def lshPlanes(n: Long, targetOcc: Int = 16,
                minPlanes: Int = 5, maxPlanes: Int = 24): Int =
    math.min(maxPlanes, math.max(minPlanes, ceilLog2(math.max(1L, n / targetOcc))))

  /** Occupancy cap above which a bucket counts as HOT and gets its key
    * refined with extra signature planes: generous multiple of the
    * occupancy target, so only genuine skew (clustered/near-constant
    * embedding mass) triggers refinement, never Poisson noise. */
  def hotBucketCap(targetOcc: Int = 16): Int = 8 * targetOcc

  /** IVF cluster count ~ ⌈√n⌉ (the classic IVF-flat balance: probe cost
    * n/k ≈ centroid-scan cost k at k = √n), clamped to [4, 4096].
    *
    * The ceiling was 256 through r19 — the comfort zone of the literal
    * assignment ladder (one codegen'd cosine call per centroid; Janino's
    * 64 KB method limit bites in the low hundreds of calls). r20 took the
    * q116 matrix-kernel escape hatch: [[Similarity.assignToCentroid]]
    * rides ONE native `argmax_cosine_probes` node at every k
    * (bit-identical to the retired ladder, spec-pinned), so assignment
    * cost is k·dims multiply-adds per row at
    * any k — measured warm on 200k×64 vectors: kernel 0.33/0.60/1.66 s at
    * k=256/1024/4096 vs ladder 2.26/14.0/34.0 s (PLANS.md
    * r20). k now tracks √n to n ≈ 16.7M vectors per layout; the
    * 4096 ceiling is the next genuine driver bound, not codegen:
    * [[Similarity.ivfCentroids]]' Lloyd step collects k×dim averaged
    * components per iteration (262k rows at k=4096 — fine; 4M at 65536 —
    * not), and the centroid matrix itself rides the plan as a collected
    * reference object (2 MB at k=4096). Beyond it, nprobe pruning
    * saturates at nprobe/4096 of the corpus — at 10⁹ vectors, nprobe=2
    * scans ~500k candidates. */
  def ivfK(n: Long, minK: Int = 4, maxK: Int = 4096): Int =
    math.min(maxK, math.max(minK, math.ceil(math.sqrt(math.max(1L, n).toDouble)).toInt))

  /** Bucket count for a PERSISTED signature index (q142/q145): the index
    * relation is n×tables rows, and one bucket should hold ~targetRows of
    * them (≈128 MB at typical embedding widths) so a probe batch's bucket
    * reads stay file-sized. Floored at 64 — small corpora still
    * demonstrate pruning — and capped at 65536 (each append writes up to
    * buckets×writer-tasks files; past the cap, widen targetRows instead).
    * At 10⁹ vectors × 4 tables this gives 4,000 buckets, so a 100-probe
    * batch touches ≤ 400/4000 = 10% of the files — the pruning fraction
    * the r13 persisted-index measurement (PLANS.md) shows is the whole
    * game. */
  def indexBuckets(n: Long, tables: Int, targetRows: Long = 1000000L,
                   minBuckets: Int = 64, maxBuckets: Int = 65536): Int = {
    val rows = math.max(1L, n * tables)
    math.min(maxBuckets.toLong, math.max(minBuckets.toLong,
      (rows + targetRows - 1) / targetRows)).toInt
  }

  /** SimHash band width in bits over the 64-bit fingerprint. Narrow bands
    * (8 bits → 8 bands) give the Hamming≤7 pigeonhole guarantee and more
    * recall slack — affordable while the per-band keyspace (256 values ×
    * 8 band positions) still dwarfs expected collisions; wide bands
    * (16 bits → 4 bands, the textbook Hamming≤3 guarantee) cut false
    * candidates ~256× once the corpus outgrows the narrow keyspace.
    * Threshold: 256·targetOcc-ish ≈ 64k docs. */
  def simhashBandBits(n: Long): Int = if (n < 65536L) 8 else 16

  /** Band count implied by [[simhashBandBits]] (64-bit fingerprint). */
  def simhashBands(n: Long): Int = 64 / simhashBandBits(n)
}

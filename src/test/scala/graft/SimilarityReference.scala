package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sim.Similarity.cosine

/** Composed-expression and plan-level reference forms of the native
  * similarity kernels. None is wired into a query: each is the
  * bit-identity witness a kernel spec compares against (same
  * accumulation order, same tiebreaks), and the ladder/broadcast forms are
  * the measured alternatives the kernels replaced (numbers in PLANS.md:
  * "Big-probe-set max-sim", r20 "assignToCentroid ladder->kernel flip"). */
object SimilarityReference {

  /** Σ aᵢ·bᵢ in index order, double precision (interpreted HOF tree). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Composed-expression twin of [[graft.sim.Similarity.cosine]]. */
  def cosineComposed(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Composed-HOF twin of [[graft.sim.Similarity.lshSignature]]: three
    * nested interpreted lambdas, the same sin and multiply/fold order as
    * the native `hyperplane_sig` kernel. */
  def lshSignatureComposed(e: Column, planes: Int, offset: Column = lit(0)): Column =
    aggregate(
      transform(sequence(offset, offset + lit(planes - 1)), p =>
        when(aggregate(zip_with(e, sequence(lit(0), size(e) - 1),
            (x, d) => x.cast("double") * sin(lit(131.0) * p.cast("double") +
              (lit(17.0) + lit(0.731) * p.cast("double")) * d.cast("double"))),
          lit(0.0), (acc, v) => acc + v) >= 0, lit(1L)).otherwise(lit(0L))),
      lit(0L), (acc, bit) => acc * 2 + bit)

  /** Centroid assignment as one literal cosine kernel call per centroid
    * under a `greatest` over (csim, -cid) structs — the form
    * [[graft.sim.Similarity.assignKernel]] replaced. Output is
    * independent of `cents` order (greatest is commutative). */
  def assignLadder(emb: DataFrame,
                   cents: Array[(Long, Array[Double])]): DataFrame = {
    val best = greatest(cents.map { case (c, ce) =>
      struct(cosine(col("embedding"), typedlit(ce)).as("csim"),
        lit(-c).as("ncid"))
    }.toIndexedSeq: _*)
    emb.select(col("vec_id"), col("embedding"),
      (-best.getField("ncid")).as("cid"))
  }

  /** `max_sim_raw` as a ladder of literal cosine-kernel calls nested in
    * `chunk`-wide `greatest` chunks — one corpus scan, zero shuffle, plan
    * size O(probes × dims) literals. */
  def maxSimChunkedLadder(corpus: DataFrame, embCol: String,
                          probes: DataFrame, probeEmbCol: String,
                          chunk: Int = 256): DataFrame = {
    val pv = probes.select(col(probeEmbCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val chunkMax = pv.grouped(chunk).toSeq.map { g =>
      if (g.length == 1) cosine(col(embCol), typedlit(g.head))
      else greatest(g.map(pe => cosine(col(embCol), typedlit(pe))).toIndexedSeq: _*)
    }
    corpus.withColumn("max_sim_raw",
      if (chunkMax.length == 1) chunkMax.head else greatest(chunkMax: _*))
  }

  /** `max_sim_raw` by broadcasting the probe embeddings, fanning out
    * |corpus|×|probes| rows and taking the per-key max — plan size O(1)
    * in the probe count. Max over the same float set is
    * accumulation-order-independent, so it is bitwise-equal to the
    * ladder and the kernel. */
  def maxSimBroadcastAgg(corpus: DataFrame, keyCol: String, embCol: String,
                         probes: DataFrame, probeEmbCol: String): DataFrame = {
    val perKey = corpus.select(col(keyCol), col(embCol))
      .crossJoin(broadcast(probes.select(col(probeEmbCol).as("__probe_emb"))))
      .groupBy(col(keyCol))
      .agg(max(cosine(col(embCol), col("__probe_emb"))).as("max_sim_raw"))
    corpus.join(perKey, Seq(keyCol))
  }
}

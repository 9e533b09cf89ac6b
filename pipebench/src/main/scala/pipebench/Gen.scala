package pipebench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Seeded input generator. The stored data is a copy of the sf0.1 test
  * tables the queries were written against (pipebench/data/sf0.1: events,
  * orders, customer, nation, region, embeddings; byte-identical, so the
  * serve queries read exactly what the catalog's oracle-checked runs read).
  * Everything the workloads feed the program is drawn from those tables by
  * a pure function of the run's seed and a stream number naming the input,
  * so the same seed yields byte-identical landing files, index deltas,
  * probes and victims regardless of how long a run lasts. */
object Gen {

  /** Row counts of the sf0.1 tables the workloads read. */
  val TableRows: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 15000L,
    "orders" -> 150000L, "events" -> 100000L, "embeddings" -> 2000L)

  /** Snapshot cadence and the observation time of file 0 (2024-01-30 00:00
    * UTC): every file's rows share one observation time, so each
    * micro-batch falls in exactly one hour partition. */
  val SnapshotCadenceS = 30L
  val SnapshotBaseEpochS = 1706572800L
  /** Share of snapshot rows carrying a critical defect (the reference
    * reports a 98.4% quality score). */
  val DefectRate = 0.016
  /** Length of the Gaussian offset that makes a fresh index vector from a
    * corpus vector (cosine to its source about 0.97). */
  val FreshNoise = 0.25

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream + 0x632BE59BD9B4E019L))

  // ---- the stored tables ---------------------------------------------------

  /** The sf0.1 events rows snapshots are resampled from, in event_id order. */
  final case class EventPool(userId: Array[Long], eventType: Array[String],
                             value: Array[Double]) {
    def size: Int = userId.length
  }

  def eventPool(spark: SparkSession, dir: String): EventPool = {
    val rows = spark.read.parquet(s"$dir/events.parquet").orderBy("event_id")
      .select(col("user_id"), col("event_type"), col("value")).collect()
    EventPool(rows.map(_.getLong(0)), rows.map(_.getString(1)), rows.map(_.getDouble(2)))
  }

  /** The sf0.1 embeddings corpus, in vec_id order (ids 0 until its size). */
  def corpus(spark: SparkSession, dir: String): IndexedSeq[Array[Float]] = {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet").orderBy("vec_id")
      .select(col("vec_id"), col("embedding")).collect()
    require(rows.zipWithIndex.forall { case (r, i) => r.getLong(0) == i },
      "embeddings vec_id must run 0 until the row count")
    rows.map(_.getSeq[Float](1).toArray).toIndexedSeq
  }

  // ---- index round inputs (pure) -------------------------------------------

  /** Fresh vectors for index round `round`: each a random corpus vector
    * moved by a Gaussian offset of length about [[FreshNoise]] and
    * renormalized, so deltas land where the corpus does. */
  def freshVectors(corpus: IndexedSeq[Array[Float]], seed: Long, round: Int,
                   n: Int): Array[Array[Float]] = {
    val r = rng(seed, 100000L + round)
    Array.fill(n) {
      val base = corpus(r.nextInt(corpus.size))
      val scale = FreshNoise / math.sqrt(base.length)
      val v = base.map(x => x + scale * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
  }

  /** The random stream that picks round `round`'s copies, probes and
    * victims. */
  def roundRng(seed: Long, round: Int): SplittableRandom = rng(seed, 200000L + round)

  // ---- landing snapshots (pure) --------------------------------------------

  final case class Snapshot(json: String, rows: Int, defects: Int)

  /** Snapshot file `idx`: about 10k records resampled from the sf0.1
    * events (user, type and value of a random source row) in the
    * landing-zone JSON shape (`graft.streaming.Streaming.eventSchema`), all
    * observed at one instant on the 30 s cadence; about [[DefectRate]] of
    * them carry a critical defect the quarantine predicate must route.
    * Event ids are `idx·10⁶ + row`, so a batch's source file is
    * recoverable from its ids. */
  def snapshot(pool: EventPool, seed: Long, idx: Int): Snapshot = {
    val r = rng(seed, 300000L + idx)
    val rows = 9500 + r.nextInt(1001)
    val ts = java.time.Instant.ofEpochSecond(SnapshotBaseEpochS + SnapshotCadenceS * idx).toString
    val sb = new java.lang.StringBuilder(rows * 96)
    var defects = 0
    var i = 0
    while (i < rows) {
      val src = r.nextInt(pool.size)
      var tpe = "\"" + pool.eventType(src) + "\""
      var value = java.lang.Double.toString(pool.value(src))
      if (r.nextDouble() < DefectRate) {
        defects += 1
        r.nextInt(5) match {
          case 0 => value = java.lang.Double.toString(-(1 + r.nextInt(9999)) / 100.0)
          case 1 => value = java.lang.Double.toString((100001 + r.nextInt(100000)) / 100.0)
          case 2 => value = "null"
          case 3 => tpe = "\"unknown\""
          case _ => tpe = "null"
        }
      }
      sb.append("{\"event_id\":").append(idx.toLong * 1000000L + i)
        .append(",\"ts\":\"").append(ts)
        .append("\",\"user_id\":").append(pool.userId(src))
        .append(",\"event_type\":").append(tpe)
        .append(",\"value\":").append(value).append("}\n")
      i += 1
    }
    Snapshot(sb.toString, rows, defects)
  }
}

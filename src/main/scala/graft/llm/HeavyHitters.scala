package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Two-pass exact heavy hitters — the corpus-scale form of "which items
  * occur more often than N/k": a per-partition Misra–Gries sketch pass
  * finds a small CANDIDATE superset without shuffling the item universe,
  * then an exact recount restricted to the candidates produces the final
  * answer.
  *
  * Why two passes beat one exact groupBy at 100 TB: a full `groupBy(item)`
  * shuffles every distinct item (for text n-grams, a key space comparable
  * to the corpus itself). The sketch pass streams each partition once in
  * O(counters) memory and emits ≤ `counters` candidates per partition;
  * only the candidate-matching rows ever reach an aggregation shuffle
  * (the restriction broadcasts while the k × partitions candidate bound
  * is broadcast-sized, and falls back to a keyed semi join above it).
  *
  * Correctness: Misra–Gries undercounts any item by at most
  * n_p/(counters+1) within a partition, so an item with GLOBAL frequency
  * > N/counters must exceed its local threshold in at least one partition
  * (pigeonhole) and therefore survives that partition's sketch. The
  * candidate union is thus a superset of every true heavy hitter for ANY
  * partitioning — the candidate set itself varies with layout, but the
  * exact-recount output never does (HeavyHittersSpec pins both).
  */
object HeavyHitters {

  /** One Misra–Gries update on a mutable counter map: increment a
    * tracked item, admit while below capacity, else decrement-all. The
    * undercount bound is ≤ n/(counters+1) per item over the updates the
    * map has absorbed.
    */
  private def mgUpdate(counts: java.util.HashMap[String, Long], x: String,
      counters: Int): Unit = {
    val cur = counts.get(x)
    if (cur != 0L || counts.containsKey(x)) counts.put(x, cur + 1L)
    else if (counts.size < counters) counts.put(x, 1L)
    else {
      val entries = counts.entrySet().iterator()
      while (entries.hasNext) {
        val e = entries.next()
        if (e.getValue == 1L) entries.remove()
        else e.setValue(e.getValue - 1L)
      }
    }
  }

  /** Pass 1: per-partition Misra–Gries candidates (≤ `counters` per
    * partition). Decrement-all is amortized O(1)/item: each sweep removes
    * `counters` units that matching increments previously added.
    */
  def candidates(items: DataFrame, itemCol: String, counters: Int): DataFrame = {
    require(counters >= 1, s"counters must be >= 1 (got $counters)")
    val spark = items.sparkSession
    import spark.implicits._
    items.select(col(itemCol).cast("string")).as[String]
      .mapPartitions { it =>
        val counts = new java.util.HashMap[String, Long]()
        while (it.hasNext) mgUpdate(counts, it.next(), counters)
        counts.keySet().iterator().asScala
      }
      .toDF(itemCol)
      .distinct()
  }

  /** Default candidate-row ceiling for forcing the semi-join's build
    * side to broadcast. The candidate bound is k × input partitions: at
    * q86's k=20000 over a 32k-partition corpus that is 6.4e8 rows —
    * past Spark's hard broadcast limits (512M rows / 8 GB). Above the
    * ceiling the restriction falls back to a plain (shuffle) semi join
    * on the item key: same answer, still candidate-restricted, no
    * broadcast detonation. 1M rows of ~100-byte n-gram keys is ~100 MB
    * of explicit broadcast (which ignores autoBroadcastJoinThreshold) —
    * the bound is row-denominated, so lower it for wide keys or small
    * drivers.
    */
  final val DefaultMaxBroadcastCandidates = 1000000L

  /** Exact heavy hitters: every item with frequency strictly greater than
    * N/k, with its exact count and share. Two scans of `items` (sketch +
    * recount; under a shared shuffle barrier Spark reuses one exchange),
    * but the only aggregation shuffle is over candidate-matching rows.
    * The integer cross-multiplication `freq · k > N` keeps the threshold
    * exact on both engines. Candidate volume is bounded by
    * k × input partitions — size `k` to the heavy-hitter contract, not
    * as a top-k knob.
    */
  def exactOverThreshold(items: DataFrame, itemCol: String, k: Int,
      maxBroadcastCandidates: Long = DefaultMaxBroadcastCandidates): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val cand = candidates(items, itemCol, k)
    val candBound = k.toLong * items.rdd.getNumPartitions
    val candRel =
      if (candBound <= maxBroadcastCandidates) broadcast(cand) else cand
    val total = items.agg(count(lit(1)).as("n_total"))
    items
      .join(candRel, Seq(itemCol), "left_semi")
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("freq"))
      .crossJoin(broadcast(total))
      .filter(col("freq") * k > col("n_total"))
      .withColumn("share", col("freq").cast("double") / col("n_total"))
      .select(col(itemCol), col("freq"), col("n_total"), col("share"))
  }
}

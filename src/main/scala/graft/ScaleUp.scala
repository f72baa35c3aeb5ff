package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Derive a larger benchmark corpus from a driver fixture by replicating it
  * `factor`× under disjoint key spaces — the scale-evidence harness: the
  * fixtures stop at sf0.1 (~600k lineitem rows), and the 100 TB design
  * claims need measured per-query scaling exponents, not design review.
  *
  * Replication rules (referential integrity preserved; replica `i` offsets
  * every key by `i × 100M`):
  *
  *   - `region`/`nation` are dimensions — copied once, like TPC-H's
  *     fixed-size dims.
  *   - fact keys (`customer`/`supplier`/`part`/`orders`/`lineitem`/
  *     `events`) shift consistently, so every join key resolves within
  *     its replica.
  *   - `documents.text` gets a per-replica Caesar substitution over
  *     letters: a bijection on the alphabet preserves every within-replica
  *     shingle/token relation EXACTLY (dedup finds the same structure in
  *     each replica) while cross-replica shingle sets are disjoint — so
  *     near-dup pair counts grow linearly with factor, as a real corpus
  *     union would, not quadratically as verbatim copies would.
  *   - `embeddings.embedding` rotates by `(i*7) mod 64` positions: an
  *     orthogonal transform, so within-replica cosine geometry is exact
  *     and cross-replica clones decorrelate (no artificial near-dup
  *     explosion).
  *
  * Output layout matches TESTDATA.md (`<dst>/<table>.parquet`, one file
  * each) so `Tables`, `Verify`, `Bench` and the DuckDB oracle all read it
  * unchanged. Timestamps are written as micros (Spark's native parquet
  * type); `Tables` handles both that and the fixtures' TIMESTAMP(NANOS).
  *
  * Usage: `runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/sf1 10`
  */
object ScaleUp {
  /** Key offset between replicas — far above any fixture key (max fixture
    * key at sf0.1 is o_orderkey < 1.5M), so replica key spaces never
    * collide even at factor 100.
    */
  private val Offset = 100000000L

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val upper = lower.toUpperCase

  /** Per-replica letter bijection (Caesar rotation by `i`). */
  private def caesar(c: Column, i: Int): Column = {
    val rl = lower.drop(i % 26) + lower.take(i % 26)
    val ru = upper.drop(i % 26) + upper.take(i % 26)
    if (i % 26 == 0) c else translate(c, lower + upper, rl + ru)
  }

  /** Rotate an array column left by `r` positions (orthogonal on a fixed
    * 64-dim embedding: a coordinate permutation).
    */
  private def rotate(c: Column, r: Int, dim: Int = 64): Column =
    if (r % dim == 0) c
    else concat(slice(c, r % dim + 1, dim - r % dim), slice(c, 1, r % dim))

  private def shifted(df: DataFrame, i: Int, keys: String*): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * Offset)))

  private def replica(table: String, df: DataFrame, i: Int): DataFrame = table match {
    case "region" | "nation" => df // dimensions: fixed size at every sf
    case "customer" => shifted(df, i, "c_custkey")
    case "supplier" => shifted(df, i, "s_suppkey")
    case "part"     => shifted(df, i, "p_partkey")
    case "orders"   => shifted(df, i, "o_orderkey", "o_custkey")
    case "lineitem" => shifted(df, i, "l_orderkey", "l_partkey", "l_suppkey")
    case "events"   => shifted(df, i, "event_id", "user_id")
    case "documents" =>
      shifted(df, i, "doc_id").withColumn("text", caesar(col("text"), i))
    case "embeddings" =>
      shifted(df, i, "vec_id")
        .withColumn("embedding", rotate(col("embedding"), i * 7))
  }

  /** Write as ONE parquet file at `<dst>/<table>.parquet` — the fixture
    * layout both Spark and the DuckDB oracle read. Single-file writes are
    * fine at this corpus size (~170 MB total at factor 10); Bench re-splits
    * on read via files.maxPartitionBytes.
    */
  private def writeOne(df: DataFrame, dst: String, table: String): Unit = {
    val tmp = Paths.get(dst, s"_tmp_$table")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow()
    Files.move(part, Paths.get(dst, s"$table.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) Files.list(p).forEach(rm(_))
      Files.deleteIfExists(p)
    }
    rm(tmp)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcSfDir> <dstDir> [factor]")
    val (src, dst) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    require(!dst.startsWith("/root/testdata") && !dst.startsWith("/root/reference"),
      "ScaleUp must not write into the read-only fixture trees")
    val spark = Session.local("graft-scaleup")
    Files.createDirectories(Paths.get(dst))
    Tables.names.foreach { t =>
      val base = Tables(spark, src, t)
      val reps =
        if (t == "region" || t == "nation") Seq(base)
        else (0 until factor).map(replica(t, base, _))
      writeOne(reps.reduce(_ unionByName _), dst, t)
      println(s"[scaleup] $t x${reps.size} -> $dst/$t.parquet")
    }
    spark.stop()
  }
}

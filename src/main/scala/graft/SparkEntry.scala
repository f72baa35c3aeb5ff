package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a
  * named query over the driver fixtures, with a DuckDB oracle where the
  * semantics are ANSI-SQL-expressible (the rest are ScalaTest-covered).
  */
object SparkEntry {

  /** All operator modules, in presentation order. */
  def all: Seq[QueryDef] =
    ops.Relational.queries ++ ops.Events.queries ++ ops.Extended.queries ++
      ops.Stats.queries ++ ops.Graph.queries ++
      llm.Dedup.queries ++ llm.Similarity.queries ++ llm.TextAnalysis.queries ++
      llm.Pipeline.queries ++ multimodal.Multimodal.queries ++ llm.Gates.queries ++
      llm.Search.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The SURVEY §7.2 end-to-end slice: purchase events joined to the
    * customer dimension, tumbling 1-hour revenue windows.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val ev = Tables(spark, d, "events").filter(col("event_type") === "purchase")
    val cust = Tables(spark, d, "customer")
    ev.join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy(
        window(col("ts"), "1 hour").getField("start").as("window_start"),
        col("c_mktsegment"))
      .agg(count(lit(1)).as("n_purchases"), Det.dsum(col("value")).as("revenue"))
      .orderBy("window_start", "c_mktsegment")
  }

  /** One entry per implemented operator from SURVEY.md §2. Each build
    * owns the snapshots it creates: `Checkpoints.release` of the returned
    * frame frees them all (see [[Checkpoints.owning]]).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> Checkpoints.owning(q.name)(q.run)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}

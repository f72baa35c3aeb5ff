package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * `events.ts` comes in two physical types. The corpus fixtures are
  * parquet TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
  * TIMESTAMP_NTZ and which passes through. A TIMESTAMP(NANOS) file,
  * which Spark 4 refuses to read as a timestamp, is read as raw nanos
  * (`spark.sql.legacy.parquet.nanosAsLong`) and truncated to microseconds —
  * exactly what DuckDB does on read, so oracle comparisons line up — and
  * comes back as TIMESTAMP.
  *
  * Schema cache: a bare `spark.read.parquet` infers the schema from the
  * file footers, and that inference runs one Spark job per call, even for
  * one file. So each session infers a table's schema once and later calls
  * read with it (`spark.read.schema(s).parquet(path)`, which starts no
  * job). The cache is keyed by session and path. An entry is valid while
  * the length and modification time of the table's data files (the file
  * itself, or every non-hidden file under a directory table) are
  * unchanged; on any change the next call infers again and replaces the
  * entry. A child session (`newSession`) infers under its own conf and
  * never sees another session's schemas, and a session's entries go with
  * the session. Every call still builds a fresh relation, with its own
  * file listing and fresh attribute ids, so two reads self-join as before.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = read(spark, s"$dir/events.parquet")
      // a TIMESTAMP(NANOS) file is read here as raw longs; micros files
      // (the fixtures, and corpora Spark writes itself, e.g. ScaleUp's
      // sf1) are already timestamps and pass through
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ => raw
      }
    case other =>
      read(spark, s"$dir/$other.parquet")
  }

  /** The `spark.sql(...)` surface: register every corpus table as a temp
    * view (with the same timestamp handling as [[apply]]), so literal
    * ANSI SQL runs against the engine — the views are lazy relations,
    * and every Catalyst benefit (pushdown, pruning, whole-stage codegen)
    * applies to SQL text exactly as to the DataFrame API.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** (path, length, modification time) of each data file of a table. */
  private type Stamp = Seq[(String, Long, Long)]

  /** Per session: path → the data-file stamp at inference and the schema.
    * Weak keys, so a dropped session drops its entries.
    */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (Stamp, StructType)]]())

  private def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) spark.read.parquet(path) // Spark's own PATH_NOT_FOUND
    else {
      val cache = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
      // stamped before inference: a rewrite in between leaves a stale stamp,
      // so the next call infers again
      val now = stamp(fs, fs.getFileStatus(p))
      cache.get(path) match {
        case (at, schema) if at == now => spark.read.schema(schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          cache.put(path, (now, df.schema))
          df
      }
    }
  }

  /** The file itself, or every file under a directory except the ones
    * Spark skips as hidden (`_SUCCESS`, `.crc`). `listStatus`, not
    * `listFiles`: a local located status would load permissions through
    * a shell process.
    */
  private def stamp(fs: FileSystem, st: FileStatus): Stamp =
    if (!st.isDirectory) Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    else fs.listStatus(st.getPath).toSeq
      .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .flatMap(stamp(fs, _))
}

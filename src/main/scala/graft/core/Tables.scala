package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

/** Loaders for the driver fixture tables (TESTDATA.md).
  *
  * All fixture access goes through here so that scan-level concerns
  * (format, future bucketing/partitioning of a materialized layout)
  * live in one place. At 100 TB these would be partitioned/bucketed
  * catalog tables; the API shape (name -> DataFrame) is unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Resolved-relation memo per (session, dir, table): a bare
  // spark.read.parquet re-reads the file footer for schema inference
  // on EVERY call — pure driver-side latency paid hundreds of times
  // per suite run (each query loads 1-5 tables). A catalog table
  // resolves its schema from the metastore once; this memo is that
  // shape. Only the ANALYZED PLAN (scan node) is shared — every query
  // still scans the parquet data itself, so nothing result-shaped is
  // cached.
  private val relCache = new SessionScoped(
    () => new java.util.concurrent.ConcurrentHashMap[String, DataFrame])

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    relCache(spark).computeIfAbsent(dir + "\u0000" + name, _ => {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") df.withColumn("ts", normalizedTs(df.schema))
      else df
    })

  /** Fixture generations have written events.ts as either parquet
    * TIMESTAMP(NANOS) — surfaced as int64 nanos under GraftSession's
    * nanosAsLong — or TIMESTAMP(MICROS, isAdjustedToUTC=false) —
    * surfaced as TIMESTAMP_NTZ. Normalize both to session-TZ (UTC)
    * TimestampType so every downstream operator sees one type. The
    * nanos branch divides as integers — ns epochs (~1.7e18) exceed
    * double's 2^53 mantissa, so a floating divide would corrupt
    * timestamps; the NTZ cast is wall-clock identity under UTC. */
  def normalizedTs(schema: StructType): Column =
    schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case _        => col("ts").cast(TimestampType)
    }

  /** Register every fixture table as a temp view named after the table,
    * mirroring how the DuckDB oracle sees them. Idempotent. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

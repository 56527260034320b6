package graft.core

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.graftshims.DatasetShim
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

/** Loaders for the driver fixture tables (TESTDATA.md), and the one
  * binder of tables into SQL text ([[sql]]).
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

  /** Runs SQL `text` with its table names bound to plans, not to
    * session state. Every single-part table name in `text` that names
    * one of `frames` (case-insensitively) reads that frame; every other
    * that names a fixture table (`names`) reads `load(spark, dir, _)`;
    * any other name is left to the session catalog. The rule applies in
    * the main query, in every CTE body and in every subquery expression
    * (`IN`/`EXISTS`/scalar/`LATERAL`). So a query written against the
    * bare table names — the text its DuckDB twin runs over the same
    * parquet files — runs here unchanged.
    *
    * No temp view is registered: a view name is session-global, so two
    * queries binding the same name at once (or one run at two scales
    * from two threads) would read each other's tables. A CTE whose name
    * is one of the bound names would shadow it inside its scope; that is
    * rejected with an error naming it rather than bound by guesswork. */
  def sql(spark: SparkSession, dir: String, text: String,
          frames: (String, DataFrame)*): DataFrame =
    DatasetShim.ofRows(spark, plan(spark, dir, text, frames: _*))

  /** The plan [[sql]] runs: `text` parsed and its tables bound, not yet
    * analyzed — for a caller that wraps it before analysis (named
    * parameter binding). */
  private[graft] def plan(spark: SparkSession, dir: String, text: String,
          frames: (String, DataFrame)*): LogicalPlan = {
    val given = frames.map { case (n, df) => n.toLowerCase(Locale.ROOT) -> df }.toMap
    def table(name: String): Option[DataFrame] = name.toLowerCase(Locale.ROOT) match {
      case n if given.contains(n) => given.get(n)
      case n if names.contains(n) => Some(load(spark, dir, n))
      case _ => None
    }
    def bind(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
      case u: UnresolvedRelation if u.multipartIdentifier.size == 1 =>
        val name = u.multipartIdentifier.head
        table(name).fold[LogicalPlan](u)(df =>
          SubqueryAlias(name, df.queryExecution.analyzed))
      case w: UnresolvedWith =>
        w.cteRelations.map(_._1).find(table(_).isDefined).foreach { n =>
          throw new IllegalArgumentException(
            s"CTE `$n` shadows a table bound by name; rename the CTE")
        }
        w.copy(cteRelations = w.cteRelations.map { case (n, body, depth) =>
          (n, bind(body).asInstanceOf[SubqueryAlias], depth)
        })
    }
    bind(DatasetShim.parsePlan(spark, text))
  }

  /** Register every fixture table as a temp view named after the table,
    * mirroring how the DuckDB oracle sees them. Idempotent. Graded
    * queries do not use this (see [[sql]]); it serves ad-hoc `spark.sql`
    * sessions and `SqlSurfaceSpec`. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

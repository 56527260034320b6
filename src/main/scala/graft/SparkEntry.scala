package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.core.Tables
import graft.etl.StockEtl
import graft.multimodal.Multimodal
import graft.queries._
import graft.streaming.{StatefulOps, StreamingOps}
import graft.udf.Udfs

/** One graded query: its name in the registry, the Spark plan that
  * computes it over a fixture directory, and its DuckDB twin — ANSI SQL
  * over the same parquet tables that must return the same rows (see
  * graft.queries.Relational's determinism notes). Each query object
  * lists its queries once as a `Seq[QueryDef]`, so a query cannot lack
  * a twin and a twin cannot outlive its query. A `run` that reads SQL
  * text gets its tables from `graft.core.Tables.sql`, not from session
  * temp views (only texts that `spark.sql` alone can run — a script,
  * `EXECUTE IMMEDIATE` — read a view). */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String)

object QueryDef {
  /** A query whose Spark SQL is its DuckDB twin, byte for byte: `text`
    * runs through `Tables.sql`, so each fixture table name in it reads
    * that table under the fixture directory. */
  def sql(name: String, text: String): QueryDef =
    QueryDef(name, (s, dir) => Tables.sql(s, dir, text), text)
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query object's `Seq[QueryDef]` (`families`) is merged once
  * into the two public maps: `queries`, the Spark side by name, and
  * `oracleSql`, the DuckDB twin of each, with the same key set.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("join_inner_star")(spark, "/root/testdata/sf0.001")

  type Query = (SparkSession, String) => DataFrame

  /** Every query family once. */
  private def families: Seq[Seq[QueryDef]] = Seq(
    Relational.queries, Advanced.queries, ScaleOps.queries, Analytics.queries,
    Analytics2.queries, Analytics3.queries, Analytics4.queries,
    Analytics5.queries, Analytics6.queries, Analytics7.queries,
    Analytics8.queries, Analytics9.queries, Analytics10.queries,
    Analytics11.queries, Analytics12.queries, Analytics13.queries,
    Analytics14.queries, Analytics15.queries, Analytics16.queries,
    Analytics17.queries, Analytics18.queries, Analytics19.queries,
    Analytics20.queries, Analytics21.queries, Analytics22.queries,
    Analytics23.queries, Analytics24.queries, Analytics25.queries,
    Analytics26.queries, Analytics27.queries, Analytics28.queries,
    Analytics29.queries, Analytics30.queries, Analytics31.queries,
    Analytics32.queries, Analytics33.queries, Analytics34.queries,
    Analytics35.queries, Analytics36.queries, Analytics37.queries,
    Analytics38.queries, Analytics39.queries, Analytics40.queries,
    Analytics41.queries, Analytics42.queries, Analytics43.queries,
    Analytics44.queries, Analytics45.queries, Analytics46.queries,
    Analytics47.queries, Analytics48.queries, Analytics49.queries,
    Analytics50.queries, Analytics51.queries, Analytics52.queries,
    Analytics53.queries, Analytics54.queries, Analytics55.queries,
    Analytics56.queries, Analytics57.queries, Analytics58.queries,
    Analytics59.queries, Analytics60.queries, Analytics61.queries,
    Analytics62.queries, Scalars.queries, StockEtl.queries, Udfs.queries,
    LlmText.queries, LlmVectors.queries, StreamingOps.queries,
    Multimodal.queries, StatefulOps.queries)

  /** The union of `parts`; a name in two of them is an error, not a
    * silent overwrite of the earlier entry. */
  private[graft] def merged[V](parts: Seq[Map[String, V]]): Map[String, V] =
    parts.foldLeft(Map.empty[String, V]) { (acc, part) =>
      val repeated = part.keySet.intersect(acc.keySet)
      require(repeated.isEmpty,
        s"query names defined twice: ${repeated.toSeq.sorted.mkString(", ")}")
      acc ++ part
    }

  private lazy val defs: Map[String, QueryDef] =
    merged(families.flatten.map(d => Map(d.name -> d)))

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, Query] = defs.map { case (n, d) => n -> d.run }

  /** The DuckDB twin of each query in `queries`, under the same name. */
  lazy val oracleSql: Map[String, String] =
    defs.map { case (n, d) => n -> d.oracleSql }
}

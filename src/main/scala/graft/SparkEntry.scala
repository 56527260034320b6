package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.etl.StockEtl
import graft.multimodal.Multimodal
import graft.queries._
import graft.streaming.{StatefulOps, StreamingOps}
import graft.udf.Udfs

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator family's named
  * queries; `oracleSql` their DuckDB twins (identical column names and
  * canonicalization — see graft.queries.Relational's determinism notes).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("join_inner_star")(spark, "/root/testdata/sf0.001")

  type Query = (SparkSession, String) => DataFrame

  /** Every query family once: its queries and their DuckDB twins. */
  private def families: Seq[(Map[String, Query], Map[String, String])] = Seq(
    Relational.queries -> Relational.oracle,
    Advanced.queries -> Advanced.oracle,
    ScaleOps.queries -> ScaleOps.oracle,
    Analytics.queries -> Analytics.oracle,
    Analytics2.queries -> Analytics2.oracle,
    Analytics3.queries -> Analytics3.oracle,
    Analytics4.queries -> Analytics4.oracle,
    Analytics5.queries -> Analytics5.oracle,
    Analytics6.queries -> Analytics6.oracle,
    Analytics7.queries -> Analytics7.oracle,
    Analytics8.queries -> Analytics8.oracle,
    Analytics9.queries -> Analytics9.oracle,
    Analytics10.queries -> Analytics10.oracle,
    Analytics11.queries -> Analytics11.oracle,
    Analytics12.queries -> Analytics12.oracle,
    Analytics13.queries -> Analytics13.oracle,
    Analytics14.queries -> Analytics14.oracle,
    Analytics15.queries -> Analytics15.oracle,
    Analytics16.queries -> Analytics16.oracle,
    Analytics17.queries -> Analytics17.oracle,
    Analytics18.queries -> Analytics18.oracle,
    Analytics19.queries -> Analytics19.oracle,
    Analytics20.queries -> Analytics20.oracle,
    Analytics21.queries -> Analytics21.oracle,
    Analytics22.queries -> Analytics22.oracle,
    Analytics23.queries -> Analytics23.oracle,
    Analytics24.queries -> Analytics24.oracle,
    Analytics25.queries -> Analytics25.oracle,
    Analytics26.queries -> Analytics26.oracle,
    Analytics27.queries -> Analytics27.oracle,
    Analytics28.queries -> Analytics28.oracle,
    Analytics29.queries -> Analytics29.oracle,
    Analytics30.queries -> Analytics30.oracle,
    Analytics31.queries -> Analytics31.oracle,
    Analytics32.queries -> Analytics32.oracle,
    Analytics33.queries -> Analytics33.oracle,
    Analytics34.queries -> Analytics34.oracle,
    Analytics35.queries -> Analytics35.oracle,
    Analytics36.queries -> Analytics36.oracle,
    Analytics37.queries -> Analytics37.oracle,
    Analytics38.queries -> Analytics38.oracle,
    Analytics39.queries -> Analytics39.oracle,
    Analytics40.queries -> Analytics40.oracle,
    Analytics41.queries -> Analytics41.oracle,
    Analytics42.queries -> Analytics42.oracle,
    Analytics43.queries -> Analytics43.oracle,
    Analytics44.queries -> Analytics44.oracle,
    Analytics45.queries -> Analytics45.oracle,
    Analytics46.queries -> Analytics46.oracle,
    Analytics47.queries -> Analytics47.oracle,
    Analytics48.queries -> Analytics48.oracle,
    Analytics49.queries -> Analytics49.oracle,
    Analytics50.queries -> Analytics50.oracle,
    Analytics51.queries -> Analytics51.oracle,
    Analytics52.queries -> Analytics52.oracle,
    Analytics53.queries -> Analytics53.oracle,
    Analytics54.queries -> Analytics54.oracle,
    Analytics55.queries -> Analytics55.oracle,
    Analytics56.queries -> Analytics56.oracle,
    Analytics57.queries -> Analytics57.oracle,
    Analytics58.queries -> Analytics58.oracle,
    Analytics59.queries -> Analytics59.oracle,
    Analytics60.queries -> Analytics60.oracle,
    Analytics61.queries -> Analytics61.oracle,
    Analytics62.queries -> Analytics62.oracle,
    Scalars.queries -> Scalars.oracle,
    StockEtl.queries -> StockEtl.oracle,
    Udfs.queries -> Udfs.oracle,
    LlmText.queries -> LlmText.oracle,
    LlmVectors.queries -> LlmVectors.oracle,
    StreamingOps.queries -> StreamingOps.oracle,
    Multimodal.queries -> Multimodal.oracle,
    StatefulOps.queries -> StatefulOps.oracle)

  /** The union of `parts`; a name in two of them is an error, not a
    * silent overwrite of the earlier entry. */
  private[graft] def merged[V](parts: Seq[Map[String, V]]): Map[String, V] =
    parts.foldLeft(Map.empty[String, V]) { (acc, part) =>
      val repeated = part.keySet.intersect(acc.keySet)
      require(repeated.isEmpty,
        s"query names defined twice: ${repeated.toSeq.sorted.mkString(", ")}")
      acc ++ part
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, Query] = merged(families.map(_._1))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = merged(families.map(_._2))
}

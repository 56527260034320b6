package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch AA: the two user-facing API families not yet on the
  * graded surface.
  *
  *  - `typed_user_stats` — the TYPED Dataset path end-to-end:
  *    case-class `Encoder`s, `groupByKey(...).mapGroups(...)` with
  *    exact `BigDecimal` cent arithmetic inside the group function.
  *    Graded for API completeness: `mapGroups` plans an object-mode
  *    MapGroups (full shuffle, JVM-object serialization, NO
  *    whole-stage codegen) — the documented trade against the
  *    DataFrame twin, which is why the suite's scale paths are
  *    declarative and this one exists as the typed-API exemplar.
  *    Results are deterministic by construction: count/min/max and an
  *    exact decimal sum are accumulation-order-free.
  *  - `stat_crosstab` — `DataFrameStatFunctions.crosstab` over
  *    documents lang × source, melted back to long form before
  *    grading (crosstab's column names are data-dependent; the long
  *    form keeps the graded schema stable). Exercises the stat-API
  *    entry point the DataFrame-level chi2/G queries bypass.
  */
object Analytics46 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // typed_user_stats
  // ---------------------------------------------------------------------

  case class Ev(user_id: Long, us: Long, cents: Long)
  case class UserStats(user_id: Long, n_events: Long, total_value: Double,
      span_hours: Double)

  def typedUserStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evs = t(s, dir, "events")
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        // 2-decimal rationals -> exact integer cents
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
      .as[Ev]
    evs.groupByKey(_.user_id)
      .mapGroups { (uid, it) =>
        var n = 0L; var cents = 0L
        var minUs = Long.MaxValue; var maxUs = Long.MinValue
        it.foreach { e =>
          n += 1; cents += e.cents
          if (e.us < minUs) minUs = e.us
          if (e.us > maxUs) maxUs = e.us
        }
        UserStats(uid, n,
          (BigDecimal(cents) / 100).toDouble,
          (maxUs - minUs).toDouble / 3600000000.0)
      }(Encoders.product[UserStats])
      .toDF()
  }

  private val typedOracleSql: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  CAST(max(epoch_us(CAST(ts AS TIMESTAMP)))
      |       - min(epoch_us(CAST(ts AS TIMESTAMP))) AS DOUBLE)
      |    / 3600000000.0 AS span_hours
      |FROM events GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // stat_crosstab
  // ---------------------------------------------------------------------

  def statCrosstab(s: SparkSession, dir: String): DataFrame = {
    val ct = t(s, dir, "documents").stat.crosstab("lang", "source")
    val valueCols = ct.columns.filter(_ != "lang_source").sorted
    if (valueCols.isEmpty) {
      // empty corpus: crosstab has ZERO value columns and unpivot
      // rejects an empty value list — return the schema-correct
      // empty frame instead (the EmptyInputSpec contract)
      import org.apache.spark.sql.types._
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("lang", StringType),
          StructField("source", StringType),
          StructField("n_docs", LongType, nullable = false))))
    } else ct.unpivot(
        Array(col("lang_source").as("lang")),
        valueCols.map(col).toArray,
        "source", "n_docs")
      .filter(col("n_docs") > 0)
  }

  private val crosstabOracleSql: String =
    """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
      |FROM documents GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("typed_user_stats", typedUserStats, typedOracleSql),
    QueryDef("stat_crosstab", statCrosstab, crosstabOracleSql))
}

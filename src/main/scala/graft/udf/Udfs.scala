package graft.udf

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** UDF surface (SURVEY §2B UDF row): a scalar function callable from SQL
  * text, a typed Aggregator UDAF, and a generator (posexplode) query.
  *
  * The scalar magnitude parse is ALSO provided as a pure Column
  * expression (CleanFns.parseMagnitude, codegen'd) — the UDF variant
  * exists to prove the SQL-registration surface, not as the recommended
  * hot-path form.
  */
object Udfs {

  /** Scala twin of CleanFns.parseMagnitude (reference dump_bigq.py:70-86). */
  def parseMagnitudeScala(x: String): Option[Double] = {
    if (x == null) return None
    val t = x.trim
    val lower = t.toLowerCase
    if (lower.isEmpty || lower == "nan") return None
    // Reject non-numeric text with a character scan BEFORE toDouble:
    // the exception path costs microseconds PER ROW (thrown, filled
    // and swallowed for every unparseable cell — it dominated the
    // whole scan when a column is mostly garbage). The try stays as
    // the backstop so accepted-by-scan oddities ("1e", "..") still
    // return None; letter-bearing Infinity/NaN spellings that the
    // scan rejects are routed through the slow path explicitly, so
    // the function's accept set is EXACTLY java.lang.Double's.
    def num(s: String): Option[Double] = {
      var i = 0
      var digit = false
      var plausible = s.nonEmpty
      while (plausible && i < s.length) {
        val c = s.charAt(i)
        if (c >= '0' && c <= '9') digit = true
        else if (c != '+' && c != '-' && c != '.' && c != 'e' && c != 'E' &&
          c != 'd' && c != 'D' && c != 'f' && c != 'F' &&
          !Character.isWhitespace(c)) plausible = false
        i += 1
      }
      if (plausible && digit)
        try Some(s.toDouble) catch { case _: NumberFormatException => None }
      else if (!plausible && (s.contains("Inf") || s.contains("inf") ||
          s.contains("NaN") || s.contains("nan")))
        try Some(s.toDouble) catch { case _: NumberFormatException => None }
      else None
    }
    if (t.endsWith("K")) num(t.dropRight(1)).map(_ * 1e3)
    else if (t.endsWith("M")) num(t.dropRight(1)).map(_ * 1e6)
    else if (t.endsWith("B")) num(t.dropRight(1)).map(_ * 1e9)
    else num(t.replace(",", ""))
  }

  /** Input row for the VWAP aggregator. */
  case class PriceQty(price: Double, qty: Double)

  /** Volume-weighted average price as a typed Aggregator UDAF.
    * Buffer is (notional, volume); merge is associative+commutative so
    * Spark can combine map-side partials — the property that keeps a
    * UDAF scalable (single shuffle of 2-double buffers, not rows). */
  object Vwap extends Aggregator[PriceQty, (Double, Double), Double] {
    override def zero: (Double, Double) = (0.0, 0.0)
    override def reduce(b: (Double, Double), a: PriceQty): (Double, Double) =
      (b._1 + a.price * a.qty, b._2 + a.qty)
    override def merge(x: (Double, Double), y: (Double, Double)): (Double, Double) =
      (x._1 + y._1, x._2 + y._2)
    override def finish(b: (Double, Double)): Double =
      if (b._2 == 0.0) Double.NaN else b._1 / b._2
    override def bufferEncoder: Encoder[(Double, Double)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Scalar UDF registered into SQL text (once per session) and invoked
    * from spark.sql. */
  def udfMagnitudeSql(s: SparkSession, dir: String): DataFrame = {
    if (!s.catalog.functionExists("parse_magnitude"))
      s.udf.register("parse_magnitude", (x: String) => parseMagnitudeScala(x))
    Tables.load(s, dir, "lineitem").createOrReplaceTempView("graft_udf_lineitem")
    s.sql(
      """SELECT l_orderkey, l_linenumber,
        |  round(parse_magnitude(concat(cast(l_quantity AS STRING), 'K')), 4) AS qty_k,
        |  parse_magnitude('garbage') AS bad
        |FROM graft_udf_lineitem""".stripMargin)
  }

  /** UDAF: per-supplier VWAP. */
  def udafVwap(s: SparkSession, dir: String): DataFrame = {
    val vwap = udaf(Vwap, Encoders.product[PriceQty])
    Tables.load(s, dir, "lineitem")
      .groupBy("l_suppkey")
      .agg(round(vwap(col("l_extendedprice"), col("l_quantity")), 4).as("vwap"))
  }

  /** SQL-bodied UDF (Spark 4 `CREATE FUNCTION … RETURN <expr>`): the
    * fourth UDF surface — unlike the Scala UDF above, the body is a
    * SQL expression, so Catalyst INLINES it at analysis time and the
    * query plans/codegens exactly as if the expression were written
    * in place (no serialization boundary, full pushdown — the form to
    * recommend whenever the logic is expressible in SQL). Decimal
    * accumulation matches the engine's sum_disc determinism rule.
    * The function is created once per session (OR REPLACE only settles
    * two threads that both found it missing). */
  def udfSqlFunction(s: SparkSession, dir: String): DataFrame = {
    if (!s.catalog.functionExists("graft_disc_price"))
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(p DOUBLE, d DOUBLE)
          |RETURNS DECIMAL(27,8)
          |RETURN CAST(p AS DECIMAL(18,4)) * CAST(1 - d AS DECIMAL(8,4))""".stripMargin)
    Tables.load(s, dir, "lineitem")
      .createOrReplaceTempView("graft_sqlf_lineitem")
    s.sql(
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(ROUND(SUM(graft_disc_price(l_extendedprice, l_discount)), 2)
        |       AS DOUBLE) AS sum_disc
        |FROM graft_sqlf_lineitem GROUP BY l_returnflag""".stripMargin)
  }

  /** Generator (UDTF-shape): posexplode tokens with 1-based positions. */
  def udtfPosexplode(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos0", "token")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("token"))

  val queries: Seq[QueryDef] = Seq(
    QueryDef("udf_magnitude_sql", udfMagnitudeSql,
      """SELECT l_orderkey, l_linenumber,
        |  ROUND(l_quantity * 1000, 4) AS qty_k,
        |  CAST(NULL AS DOUBLE) AS bad
        |FROM lineitem""".stripMargin),
    QueryDef("udf_sql_function", udfSqlFunction,
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |                 * CAST(1 - l_discount AS DECIMAL(8,4))), 2)
        |       AS DOUBLE) AS sum_disc
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("udaf_vwap", udafVwap,
      """SELECT l_suppkey,
        |  ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4) AS vwap
        |FROM lineitem GROUP BY l_suppkey""".stripMargin),
    QueryDef("udtf_posexplode", udtfPosexplode,
      """SELECT doc_id, CAST(generate_subscripts(arr, 1) AS BIGINT) AS pos,
        |  UNNEST(arr) AS token
        |FROM (SELECT doc_id, string_split(text, ' ') AS arr
        |      FROM documents WHERE doc_id < 50)""".stripMargin))
}

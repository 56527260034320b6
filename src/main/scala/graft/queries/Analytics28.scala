package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-11 batch H: reader-level robustness and the data-quality
  * expectation suite.
  *
  *  - `scan_csv_permissive` — a landing file carrying two malformed
  *    classes (unparseable numeric, over-arity row), read through
  *    typed-schema PERMISSIVE mode with a corrupt-record column: good
  *    rows flow, bad rows are quarantined and counted — graded against
  *    an oracle that knows exactly which keys were corrupted.
  *  - `etl_dq_expectations` — a Great-Expectations-style suite as ONE
  *    query: row-count floor, null-fraction ceiling, value-range
  *    coverage, key uniqueness, and two referential-integrity checks,
  *    each emitting (metric, threshold, pass).
  *
  * Determinism rules as in [[Analytics]] (all censuses integer; the
  * fractions are int-ratio doubles).
  */
object Analytics28 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // scan_csv_permissive
  // ---------------------------------------------------------------------

  /** Build the dirty landing file from orders: k%13=0 rows carry an
    * unparseable price, k%17=0 (and not %13) rows an extra field;
    * everything else is `k,price`. Read back headerless with a typed
    * schema + PERMISSIVE + `_corrupt`: Spark nulls the unparseable
    * field / flags the over-long row and stores the raw line — the
    * auditable alternative to DROPMALFORMED's silent loss. The cache
    * before filtering on `_corrupt` is the documented Spark contract
    * (the corrupt column cannot be filtered on a column-pruned
    * scan). */
  def scanCsvPermissive(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = graft.core.ScratchDirs.path(s, "graft_csv_permissive", dir)
    t(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        // decimal → string renders plain "12345.67" (no grouping
        // separators, fixed 2-digit scale) — CSV-safe
        col("o_totalprice").cast(DecimalType(18, 2)).cast("string").as("p"))
      .select(when(col("k") % 13 === 0,
          concat(col("k").cast("string"), lit(",oops")))
        .when(col("k") % 17 === 0,
          concat(col("k").cast("string"), lit(","), col("p"), lit(",extra")))
        .otherwise(concat(col("k").cast("string"), lit(","), col("p")))
        .as("value"))
      .write.mode("overwrite").text(path)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("price", DoubleType),
      StructField("_corrupt", StringType)))
    val raw = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
      .cache()
    try {
      raw.agg(
        sum(when(col("_corrupt").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L))
          .as("n_corrupt"),
        sum(when(col("_corrupt").isNull,
          col("price").cast(DecimalType(18, 2))))
          .cast("double").as("good_total"))
        // materialize before unpersist: the graded frame must not
        // depend on the cache after this method returns
        .tappedLocalCheckpoint()
    } finally { raw.unpersist(); () }
  }

  // ---------------------------------------------------------------------
  // etl_dq_expectations
  // ---------------------------------------------------------------------

  /** Six expectations over the warehouse tables, one result row each:
    * the suite a nightly data-quality job runs before publishing. The
    * FK orphan checks are the two distributed ones (anti-join shape);
    * everything else is a single-pass aggregate. */
  private def dqSql(orders: String, customer: String,
      lineitem: String): String =
    s"""o AS (SELECT COUNT(*) AS n,
       |        SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nn,
       |        SUM(CASE WHEN o_totalprice > 0 AND o_totalprice < 1000000
       |                 THEN 1 ELSE 0 END) AS nr
       |      FROM $orders),
       |u AS (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) AS dups
       |      FROM $orders),
       |fk1 AS (SELECT COUNT(*) AS orphans FROM $orders
       |        WHERE o_custkey NOT IN (SELECT c_custkey FROM $customer)),
       |fk2 AS (SELECT COUNT(*) AS orphans FROM $lineitem
       |        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM $orders))
       |SELECT * FROM (
       |  SELECT 'orders_rowcount_min' AS expectation,
       |    CAST(o.n AS DOUBLE) AS metric, CAST(1000.0 AS DOUBLE) AS threshold,
       |    '>=' AS op, o.n >= 1000 AS pass FROM o
       |  UNION ALL
       |  SELECT 'o_totalprice_null_frac', CAST(o.nn AS DOUBLE) / o.n,
       |    CAST(0.001 AS DOUBLE), '<=', CAST(o.nn AS DOUBLE) / o.n <= 0.001 FROM o
       |  UNION ALL
       |  SELECT 'o_totalprice_in_range_frac', CAST(o.nr AS DOUBLE) / o.n,
       |    CAST(0.999 AS DOUBLE), '>=', CAST(o.nr AS DOUBLE) / o.n >= 0.999 FROM o
       |  UNION ALL
       |  SELECT 'o_orderkey_unique', CAST(u.dups AS DOUBLE), CAST(0.0 AS DOUBLE), '<=',
       |    u.dups <= 0 FROM u
       |  UNION ALL
       |  SELECT 'orders_customer_fk', CAST(fk1.orphans AS DOUBLE), CAST(0.0 AS DOUBLE),
       |    '<=', fk1.orphans <= 0 FROM fk1
       |  UNION ALL
       |  SELECT 'lineitem_orders_fk', CAST(fk2.orphans AS DOUBLE), CAST(0.0 AS DOUBLE),
       |    '<=', fk2.orphans <= 0 FROM fk2) x""".stripMargin

  def etlDqExpectations(s: SparkSession, dir: String): DataFrame = {
    Seq("orders", "customer", "lineitem").foreach(n =>
      t(s, dir, n).createOrReplaceTempView("graft_dq_" + n))
    s.sql("WITH " + dqSql("graft_dq_orders", "graft_dq_customer",
      "graft_dq_lineitem"))
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("scan_csv_permissive", scanCsvPermissive,
      """SELECT
        |  CAST(SUM(CASE WHEN o_orderkey % 13 <> 0 AND o_orderkey % 17 <> 0
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        |  CAST(SUM(CASE WHEN o_orderkey % 13 = 0 OR o_orderkey % 17 = 0
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |  CAST(SUM(CASE WHEN o_orderkey % 13 <> 0 AND o_orderkey % 17 <> 0
        |            THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |       AS DOUBLE) AS good_total
        |FROM orders""".stripMargin),
    QueryDef("etl_dq_expectations", etlDqExpectations,
      "WITH " + dqSql("orders", "customer", "lineitem")))
}

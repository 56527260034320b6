package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch A: the SQL row-level statement surface —
  * `MERGE INTO`, `UPDATE`, `DELETE` against the DSv2 row-level
  * catalog.
  *
  *  - `sql_merge_into` — a REAL four-clause `MERGE INTO` statement
  *    (matched-conditional UPDATE, matched DELETE, not-matched
  *    conditional INSERT, not-matched-by-source conditional UPDATE)
  *    executed against a DataSource-V2 table that supports row-level
  *    operations ([[graft.sources.MemRowCatalog]]), then the merged
  *    table re-read and aggregated for grading. This is the
  *    statement-level spelling of the warehouse upsert the engine
  *    previously exposed only as DataFrame logic (`etl_upsert`,
  *    `etl_cdc_apply` — the incremental half of the reference's
  *    WRITE_TRUNCATE load, dump_bigq.py:137).
  *
  * Determinism: target/source prices stay in DECIMAL(18,4); the
  * uplift multiplies two 2-decimal values (price × 1.05), whose
  * product has ≤4 decimals — exactly representable, so the cast back
  * to (18,4) never rounds and both engines agree bit-for-bit (the
  * `etl_upsert` × 1.1 precedent).
  */
object Analytics22 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // sql_merge_into
  // ---------------------------------------------------------------------

  /** Target = orders with k%3=0 (status/price/version), source =
    * orders with k%2=0 at a 1.05 price uplift. The merge exercises
    * every clause type Spark's MERGE grammar has:
    *   - matched ∧ uplifted price > 150k  → UPDATE (take source price,
    *     status 'U', bump version);
    *   - matched otherwise                → DELETE;
    *   - not matched ∧ price ≤ 200k       → INSERT as status 'I';
    *   - not matched BY SOURCE ∧ price < 100k → UPDATE to status 'S'
    *     (stale-mark), other unmatched target rows pass through
    *     untouched — pinning that copy-on-write carries unaffected
    *     rows forward verbatim.
    *
    * Scale note: the in-memory catalog is the protocol demo; the MERGE
    * plan Spark produces (scan target ⋈ source, rewrite affected
    * groups, atomic replace-commit) is byte-identical in shape to what
    * it plans over a file-backed row-level table — at 100 TB only the
    * group granularity (files/partitions instead of whole-table) and
    * the commit payload (file manifests instead of rows) change. */
  def sqlMergeInto(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft_mem",
      classOf[graft.sources.MemRowCatalog].getName)
    s.sql("DROP TABLE IF EXISTS graft_mem.db.orders_merge")
    // k is the delta rowId (first column by MemRowCatalog convention)
    // and must be NOT NULL: Spark rejects nullable row-id attributes.
    s.sql("""CREATE TABLE graft_mem.db.orders_merge
            |  (k BIGINT NOT NULL, status STRING, price DECIMAL(18,4),
            |   version INT)
            |""".stripMargin)
    t(s, dir, "orders").filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("price"),
        lit(1).as("version"))
      .createOrReplaceTempView("graft_merge_seed")
    s.sql("""INSERT INTO graft_mem.db.orders_merge
            |SELECT * FROM graft_merge_seed""".stripMargin)
    t(s, dir, "orders").filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast(DecimalType(18, 4)) *
          lit(1.05).cast(DecimalType(8, 4)))
          .cast(DecimalType(18, 4)).as("price"))
      .createOrReplaceTempView("graft_merge_src")
    s.sql("""MERGE INTO graft_mem.db.orders_merge t
            |USING graft_merge_src s
            |ON t.k = s.k
            |WHEN MATCHED AND s.price > 150000 THEN
            |  UPDATE SET price = s.price, status = 'U',
            |             version = t.version + 1
            |WHEN MATCHED THEN DELETE
            |WHEN NOT MATCHED AND s.price <= 200000 THEN
            |  INSERT (k, status, price, version) VALUES (s.k, 'I', s.price, 1)
            |WHEN NOT MATCHED BY SOURCE AND t.price < 100000 THEN
            |  UPDATE SET status = 'S'
            |""".stripMargin)
    s.sql("""SELECT status, count(*) AS n,
            |  CAST(sum(price) AS DOUBLE) AS total,
            |  CAST(sum(version) AS BIGINT) AS sum_version
            |FROM graft_mem.db.orders_merge
            |GROUP BY status""".stripMargin)
  }

  // ---------------------------------------------------------------------
  // sql_update / sql_delete
  // ---------------------------------------------------------------------

  /** Seed a MemRowCatalog table `name` with the k%3=0 orders slice
    * (the `sql_merge_into` target shape). Drop-and-recreate per
    * invocation: each statement query owns its table, so Verify/Bench
    * order cannot couple them. */
  private def seedStatementTable(s: SparkSession, dir: String,
      name: String): Unit = {
    s.conf.set("spark.sql.catalog.graft_mem",
      classOf[graft.sources.MemRowCatalog].getName)
    s.sql(s"DROP TABLE IF EXISTS graft_mem.db.$name")
    s.sql(s"""CREATE TABLE graft_mem.db.$name
             |  (k BIGINT NOT NULL, status STRING, price DECIMAL(18,4),
             |   version INT)""".stripMargin)
    t(s, dir, "orders").filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("price"),
        lit(1).as("version"))
      .createOrReplaceTempView(s"graft_seed_$name")
    s.sql(s"INSERT INTO graft_mem.db.$name SELECT * FROM graft_seed_$name")
  }

  private def statusCensusSql(name: String): String =
    s"""SELECT status, count(*) AS n,
       |  CAST(sum(price) AS DOUBLE) AS total,
       |  CAST(sum(version) AS BIGINT) AS sum_version
       |FROM graft_mem.db.$name
       |GROUP BY status""".stripMargin

  /** The SQL `UPDATE … SET … WHERE` statement against the row-level
    * catalog: a 10%-off repricing of one key slice, planned by Spark
    * as a delta write (per-row update ops, atomic commit). The ×0.9
    * product of a 2-decimal price has ≤3 decimals — exact in
    * DECIMAL(18,4), no rounding anywhere. */
  def sqlUpdate(s: SparkSession, dir: String): DataFrame = {
    seedStatementTable(s, dir, "orders_upd")
    s.sql("""UPDATE graft_mem.db.orders_upd
            |SET status = 'X',
            |    price = CAST(price * CAST(0.9 AS DECIMAL(8,4))
            |                 AS DECIMAL(18,4)),
            |    version = version + 1
            |WHERE k % 7 = 0""".stripMargin)
    s.sql(statusCensusSql("orders_upd"))
  }

  /** The SQL `DELETE FROM … WHERE` statement (compound predicate)
    * against the row-level catalog — per-row delete ops, atomic
    * commit. */
  def sqlDelete(s: SparkSession, dir: String): DataFrame = {
    seedStatementTable(s, dir, "orders_del")
    s.sql("""DELETE FROM graft_mem.db.orders_del
            |WHERE k % 5 = 0 OR price > 300000""".stripMargin)
    s.sql(statusCensusSql("orders_del"))
  }

  /** DuckDB has no MERGE at the pinned oracle version, so the twin is
    * the clause-by-clause relational expansion: matched-update via
    * inner join + condition, matched-delete by omission, not-matched
    * insert via anti join, not-matched-by-source via anti join from
    * the target side with the stale-mark CASE. */
  val queries: Seq[QueryDef] = Seq(
    QueryDef("sql_merge_into", sqlMergeInto,
      """WITH tgt AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |               CAST(o_totalprice AS DECIMAL(18,4)) AS price,
        |               1 AS version
        |             FROM orders WHERE o_orderkey % 3 = 0),
        |src AS (SELECT o_orderkey AS k,
        |          CAST(CAST(o_totalprice AS DECIMAL(18,4))
        |               * CAST(1.05 AS DECIMAL(8,4)) AS DECIMAL(18,4)) AS price
        |        FROM orders WHERE o_orderkey % 2 = 0),
        |kept AS (
        |  SELECT t.k, 'U' AS status, s.price AS price,
        |         t.version + 1 AS version
        |  FROM tgt t JOIN src s ON t.k = s.k
        |  WHERE s.price > 150000
        |  UNION ALL
        |  SELECT t.k,
        |    CASE WHEN t.price < 100000 THEN 'S' ELSE t.status END AS status,
        |    t.price, t.version
        |  FROM tgt t LEFT JOIN src s ON t.k = s.k
        |  WHERE s.k IS NULL
        |  UNION ALL
        |  SELECT s.k, 'I' AS status, s.price, 1 AS version
        |  FROM src s LEFT JOIN tgt t ON t.k = s.k
        |  WHERE t.k IS NULL AND s.price <= 200000)
        |SELECT status, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total,
        |  CAST(SUM(version) AS BIGINT) AS sum_version
        |FROM kept GROUP BY status""".stripMargin),
    QueryDef("sql_update", sqlUpdate,
      """WITH tgt AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |               CAST(o_totalprice AS DECIMAL(18,4)) AS price,
        |               1 AS version
        |             FROM orders WHERE o_orderkey % 3 = 0),
        |upd AS (SELECT k,
        |          CASE WHEN k % 7 = 0 THEN 'X' ELSE status END AS status,
        |          CASE WHEN k % 7 = 0
        |               THEN CAST(price * CAST(0.9 AS DECIMAL(8,4))
        |                         AS DECIMAL(18,4))
        |               ELSE price END AS price,
        |          CASE WHEN k % 7 = 0 THEN version + 1
        |               ELSE version END AS version
        |        FROM tgt)
        |SELECT status, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total,
        |  CAST(SUM(version) AS BIGINT) AS sum_version
        |FROM upd GROUP BY status""".stripMargin),
    QueryDef("sql_delete", sqlDelete,
      """WITH tgt AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |               CAST(o_totalprice AS DECIMAL(18,4)) AS price,
        |               1 AS version
        |             FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT status, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total,
        |  CAST(SUM(version) AS BIGINT) AS sum_version
        |FROM tgt WHERE NOT (k % 5 = 0 OR price > 300000)
        |GROUP BY status""".stripMargin))
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch V: the remaining warehouse-statement surface.
  *
  *  - `sql_pivot` / `sql_unpivot` — the SQL-CLAUSE spellings of the
  *    existing DataFrame-level `agg_pivot` / `reshape_unpivot`
  *    (Spark's `PIVOT (… FOR … IN …)` and `UNPIVOT (… FOR … IN …)`
  *    clauses). A warehouse user types these, not `.pivot()`; both
  *    pin explicit value lists (an unpinned pivot runs a distinct
  *    scan first — wrong at scale).
  *  - `etl_dynamic_partition_overwrite` — the daily-refresh idiom:
  *    rewrite ONE partition of a priority-partitioned warehouse table
  *    under `partitionOverwriteMode=dynamic` and prove the other
  *    partitions are untouched. Static overwrite mode would TRUNCATE
  *    the whole table — the classic production data-loss bug this
  *    query exists to pin.
  *  - `etl_vacuum_retention` — retention GC over the miniature
  *    transaction-log format of `scan_time_travel`
  *    ([[Analytics25.scanTimeTravel]]): versions older than the
  *    retention floor stop being materializable, their unreferenced
  *    data files are deleted, and the LIVE snapshot's census is
  *    byte-identical before/after — vacuum is metadata-pure for
  *    readers of retained versions.
  */
object Analytics42 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // sql_pivot / sql_unpivot
  // ---------------------------------------------------------------------

  def sqlPivot(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_pv_orders")
    s.sql(
      """SELECT o_orderpriority,
        |  coalesce(F, 0L) AS f_cnt, coalesce(O, 0L) AS o_cnt,
        |  coalesce(P, 0L) AS p_cnt
        |FROM (SELECT o_orderpriority, o_orderstatus
        |      FROM graft_pv_orders)
        |PIVOT (count(1) FOR o_orderstatus IN ('F' AS F, 'O' AS O,
        |                                      'P' AS P))""".stripMargin)
  }

  private val pivotOracleSql: String =
    """SELECT o_orderpriority,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |       AS BIGINT) AS f_cnt,
      |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
      |       AS BIGINT) AS o_cnt,
      |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
      |       AS BIGINT) AS p_cnt
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  def sqlUnpivot(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_upv_lineitem")
    s.sql(
      """SELECT l_orderkey, l_linenumber, metric,
        |  CAST(value AS DOUBLE) AS value
        |FROM (SELECT l_orderkey, l_linenumber,
        |        CAST(l_quantity AS DECIMAL(18,2)) AS l_quantity,
        |        CAST(l_extendedprice AS DECIMAL(18,2)) AS l_extendedprice
        |      FROM graft_upv_lineitem)
        |UNPIVOT (value FOR metric IN (l_quantity, l_extendedprice))
        |""".stripMargin)
  }

  private val unpivotOracleSql: String =
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
      |  CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS value
      |FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_extendedprice',
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------------
  // etl_dynamic_partition_overwrite
  // ---------------------------------------------------------------------

  /** Writes orders partitioned by priority, then overwrites ONLY the
    * 1-URGENT partition with a re-derived slice (prices re-stated
    * with a flat 10.00 credit — exact in DECIMAL(18,2); a percentage
    * markdown puts odd cents on cross-engine half-cent rounding ties,
    * the documented etl_cdc_apply class) under dynamic
    * partition-overwrite mode.
    * Graded census: per-priority row count + decimal total from the
    * REFRESHED table — 1-URGENT shows the markdown, every other
    * partition is bit-identical to the source (which is exactly what
    * the oracle computes directly from orders). */
  def etlDynamicPartitionOverwrite(s: SparkSession, dir: String): DataFrame = {
    val base = new java.io.File(graft.core.ScratchDirs.path(s, "graft_dpo", dir))
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"),
        col("o_orderpriority").as("prio"))
    orders.write.mode("overwrite").partitionBy("prio")
      .parquet(base.toString)
    val markdown = orders.filter(col("prio") === "1-URGENT")
      .withColumn("price",
        (col("price") - lit(10.00)).cast(DecimalType(18, 2)))
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try markdown.write.mode("overwrite").partitionBy("prio")
      .parquet(base.toString)
    finally prev match {
      case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    s.read.parquet(base.toString)
      .groupBy("prio").agg(
        count(lit(1)).as("n_orders"),
        sum("price").cast("double").as("total"))
      .select(col("prio").as("o_orderpriority"), col("n_orders"),
        col("total"))
  }

  private val dpoOracleSql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
      |       THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) - 10.00
      |                 AS DECIMAL(18,2))
      |       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
      |    AS DOUBLE) AS total
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // etl_vacuum_retention
  // ---------------------------------------------------------------------

  /** Builds the scan_time_travel transaction log fresh (v0 base, v1
    * append, v2 copy-on-write rewrite of v0's files), then vacuums
    * with retention floor v2: data files unreferenced by any retained
    * snapshot (exactly v0's rewritten-away files) are deleted from
    * disk. Emits the deleted-file census, whether pre-floor versions
    * are still materializable (they must not be), and the live
    * snapshot's census read AFTER the delete — proof the GC only
    * touched dead files. File counts are deterministic: each slice is
    * written `repartition(2)` over a non-empty slice. */
  def etlVacuumRetention(s: SparkSession, dir: String): DataFrame = {
    val base = new java.io.File(graft.core.ScratchDirs.path(s, "graft_vac", dir))
    val logDir = new java.io.File(base, "_log")
    logDir.mkdirs()
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
    def writeData(name: String, df: DataFrame): Seq[String] = {
      val p = new java.io.File(base, s"data/$name")
      df.repartition(2).write.mode("overwrite").parquet(p.toString)
      Option(p.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted.toSeq
    }
    def commit(v: Int, adds: Seq[String], removes: Seq[String]): Unit =
      java.nio.file.Files.write(
        new java.io.File(logDir, s"$v.txt").toPath,
        (adds.map("A " + _) ++ removes.map("R " + _))
          .mkString("\n").getBytes("UTF-8"))
    val aFiles = writeData("v0", orders.filter(col("k") % 3 === 0))
    commit(0, aFiles, Nil)
    commit(1, writeData("v1", orders.filter(col("k") % 3 === 1)), Nil)
    commit(2, writeData("v2", orders.filter(col("k") % 3 === 0)
      .filter(col("price") <= 200000)), aFiles)
    def snapshot(v: Int): Seq[String] = {
      val active = scala.collection.mutable.LinkedHashSet.empty[String]
      (0 to v).foreach { i =>
        java.nio.file.Files.readAllLines(
          new java.io.File(logDir, s"$i.txt").toPath).forEach { line =>
          if (line.startsWith("A ")) active += line.substring(2)
          else if (line.startsWith("R ")) active -= line.substring(2)
          ()
        }
      }
      active.toSeq
    }
    // vacuum: retain snapshots >= 2; delete files no retained one uses
    val allFiles = (0 to 2).flatMap(v =>
      java.nio.file.Files.readAllLines(
        new java.io.File(logDir, s"$v.txt").toPath)
        .toArray.map(_.toString).collect {
          case l if l.startsWith("A ") => l.substring(2)
        }).distinct
    val retained = snapshot(2).toSet
    val dead = allFiles.filterNot(retained)
    dead.foreach(f => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(f)))
    val v0Gone = aFiles.forall(f => !new java.io.File(f).exists())
    val live = s.read.parquet(snapshot(2): _*)
    live.agg(count(lit(1)).as("n_rows_live"),
        sum("price").cast("double").as("total_live"))
      .select(
        lit(allFiles.size.toLong).as("n_files_before"),
        lit(dead.size.toLong).as("n_files_vacuumed"),
        lit(v0Gone).as("prefloor_unreadable"),
        col("n_rows_live"), col("total_live"))
  }

  private val vacuumOracleSql: String =
    """WITH live AS (
      |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders WHERE o_orderkey % 3 = 1
      |  UNION ALL
      |  SELECT CAST(o_totalprice AS DECIMAL(18,2))
      |  FROM orders WHERE o_orderkey % 3 = 0
      |    AND CAST(o_totalprice AS DECIMAL(18,2)) <= 200000)
      |SELECT CAST(6 AS BIGINT) AS n_files_before,
      |  CAST(2 AS BIGINT) AS n_files_vacuumed,
      |  true AS prefloor_unreadable,
      |  CAST(count(*) AS BIGINT) AS n_rows_live,
      |  CAST(sum(price) AS DOUBLE) AS total_live
      |FROM live""".stripMargin

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("sql_pivot", sqlPivot, pivotOracleSql),
    QueryDef("sql_unpivot", sqlUnpivot, unpivotOracleSql),
    QueryDef("etl_dynamic_partition_overwrite", etlDynamicPartitionOverwrite,
      dpoOracleSql),
    QueryDef("etl_vacuum_retention", etlVacuumRetention, vacuumOracleSql))
}

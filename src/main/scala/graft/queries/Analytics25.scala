package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-11 batch E: robust location, the transaction-log table
  * pattern, and HMM regime filtering.
  *
  *  - `agg_huber_mean` — Huber M-estimator of location per event
  *    type: median/MAD start, 3 fixed IRLS rounds with
  *    decimal-pinned weights.
  *  - `scan_time_travel` — a miniature transaction-log table format
  *    (manifest per commit: adds/removes of parquet files) with
  *    snapshot-at-version reads: append then copy-on-write rewrite,
  *    graded at two versions.
  *  - `win_hmm_filter` — 2-state hidden-Markov forward filtering of
  *    each user's event stream (Bernoulli emissions over a
  *    median-thresholded observation), per-step filtered P(high) and
  *    local-decoded state.
  *
  * Determinism rules as in [[Analytics]]; the IRLS weights and HMM
  * probabilities stay engine-exact by rounding every reentrant
  * quantity (weight, center) onto a decimal lattice before it feeds
  * the next arithmetic step.
  */
object Analytics25 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // agg_huber_mean
  // ---------------------------------------------------------------------

  /** Shared dialect text: `pctl(expr)` spells the interpolated median
    * of `expr`. Each IRLS round recomputes weights against the
    * PREVIOUS round's center: w = 1 inside the c = 2·MAD tube, else
    * c/|x−μ| — the ratio is one double division rounded to the 6-dp
    * lattice (engine-identical), so Σwx and Σw are exact DECIMAL sums
    * and every center lands back on the 4-dp lattice. Three rounds,
    * three scans — the map-side-combinable shape at any scale. */
  private def huberSql(events: String, pctl: String => String): String = {
    def round(k: Int): String = {
      val prev = if (k == 1) "m0" else s"it${k - 1}"
      s"""w$k AS (SELECT x.f, x.x,
         |  CASE WHEN s.c = 0 THEN CAST(1.0 AS DECIMAL(8,6))
         |       WHEN abs(x.x - p.mu) <= s.c THEN CAST(1.0 AS DECIMAL(8,6))
         |       ELSE CAST(ROUND(CAST(s.c AS DOUBLE)
         |                       / CAST(abs(x.x - p.mu) AS DOUBLE), 6)
         |                 AS DECIMAL(8,6)) END AS w
         |FROM x JOIN sc s ON s.f = x.f JOIN $prev p ON p.f = x.f),
         |it$k AS (SELECT f,
         |  CAST(ROUND(CAST(SUM(x * w) AS DOUBLE)
         |             / CAST(SUM(w) AS DOUBLE), 4) AS DECIMAL(18,4)) AS mu
         |FROM w$k GROUP BY f)""".stripMargin
    }
    s"""WITH x AS (SELECT event_type AS f,
       |             CAST(value AS DECIMAL(18,4)) AS x
       |           FROM $events),
       |m0 AS (SELECT f, CAST(ROUND(${pctl("CAST(x AS DOUBLE)")}, 4)
       |                  AS DECIMAL(18,4)) AS mu
       |       FROM x GROUP BY f),
       |ad AS (SELECT x.f, CAST(abs(x.x - m.mu) AS DOUBLE) AS adev
       |       FROM x JOIN m0 m ON m.f = x.f),
       |mad AS (SELECT f, CAST(ROUND(${pctl("adev")}, 4)
       |                   AS DECIMAL(18,4)) AS mad
       |        FROM ad GROUP BY f),
       |sc AS (SELECT m0.f, m0.mu AS med, mad.mad,
       |         CAST(2 * mad.mad AS DECIMAL(18,4)) AS c
       |       FROM m0 JOIN mad ON mad.f = m0.f),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |n AS (SELECT f, COUNT(*) AS n FROM x GROUP BY f)
       |SELECT sc.f AS event_type, CAST(sc.med AS DOUBLE) AS med,
       |  CAST(sc.mad AS DOUBLE) AS mad,
       |  CAST(it3.mu AS DOUBLE) AS huber_mean, n.n
       |FROM sc JOIN it3 ON it3.f = sc.f JOIN n ON n.f = sc.f""".stripMargin
  }

  /** Spark side of the identical lattice arithmetic. The earlier
    * SQL-CTE spelling over lineitem re-inlined its decimal-cast scan
    * once per reference (≈6 scans, 8.7 s at sf0.1); the estimator now
    * runs over the event-value series — two exact percentile passes
    * are the irreducible cost of a median/MAD start, and pricing them
    * on the 100k-row table keeps the query in the same cost class as
    * its `agg_mad_outliers` sibling instead of 2× the whole-suite
    * per-query budget. The DuckDB oracle keeps the shared
    * [[huberSql]] text. */
  def aggHuberMean(s: SparkSession, dir: String): DataFrame = {
    // No checkpoint: every pass is a 2-column pushed-down parquet scan
    // — cheaper than materializing the decimal rows.
    val x = t(s, dir, "events")
      .select(col("event_type").as("f"),
        col("value").cast(DecimalType(18, 4)).as("x"))
    // median over the RAW double column: a ≤4-dec value's
    // DECIMAL(18,4) → double round-trip is the identity, so the values
    // (and the interpolated median) are bit-identical to the oracle's
    // CAST(x AS DOUBLE) — and the pass skips the decimal conversion.
    val m0 = t(s, dir, "events")
      .groupBy(col("event_type").as("f"))
      .agg(round(expr("percentile(value, 0.5)"), 4)
        .cast(DecimalType(18, 4)).as("mu"))
    val mad = x.join(broadcast(m0), "f")
      .select(col("f"), abs(col("x") - col("mu")).cast("double").as("adev"))
      .groupBy("f")
      .agg(round(expr("percentile(adev, 0.5)"), 4)
        .cast(DecimalType(18, 4)).as("mad"))
    // The per-flag constants are a |groups|-row relation that each
    // IRLS round joins back BROADCAST — the shape that stays correct
    // if the group column ever becomes high-cardinality (a driver
    // collect would silently OOM there). Each tiny frame is eagerly
    // localCheckpoint-ed so iteration k+1's lineage starts from ≤
    // |groups| materialized rows instead of re-executing the whole
    // k-deep scan-aggregate chain per reference (the
    // `llm_bradley_terry` exponential-CTE lesson).
    val sc = m0.join(mad, "f")
      .select(col("f"), col("mu").as("med"), col("mad"),
        (lit(2) * col("mad")).cast(DecimalType(18, 4)).as("c"))
      .tappedLocalCheckpoint()
    var mu = sc.select(col("f"), col("med").as("mu"))
    for (_ <- 1 to 3) {
      val w = when(col("c") === 0 ||
          abs(col("x") - col("mu")) <= col("c"),
          lit(1.0).cast(DecimalType(8, 6)))
        .otherwise(round(col("c").cast("double") /
          abs(col("x") - col("mu")).cast("double"), 6)
          .cast(DecimalType(8, 6)))
      mu = x.join(broadcast(sc.select("f", "c")), "f")
        .join(broadcast(mu), "f")
        .withColumn("w", w)
        .groupBy("f")
        .agg(round(sum(col("x") * col("w")).cast("double") /
          sum("w").cast("double"), 4).cast(DecimalType(18, 4)).as("mu"))
        .tappedLocalCheckpoint()
    }
    val n = x.groupBy("f").agg(count(lit(1)).as("n"))
    sc.join(mu, "f").join(n, "f")
      .select(col("f").as("event_type"),
        col("med").cast("double").as("med"),
        col("mad").cast("double").as("mad"),
        col("mu").cast("double").as("huber_mean"), col("n"))
  }

  // ---------------------------------------------------------------------
  // scan_time_travel
  // ---------------------------------------------------------------------

  /** A miniature transaction-log table format — the pattern behind
    * Delta/Iceberg, built from nothing but parquet files and text
    * manifests: commit v0 writes the base slice, v1 APPENDS a second
    * slice (manifest adds files), v2 is a COPY-ON-WRITE rewrite of the
    * base slice under a delete predicate (manifest removes v0's files
    * and adds the rewritten ones). A snapshot at version v is the
    * fold of manifests 0..v; the graded query reads versions 1 and 2
    * and emits each census — time travel as a pure metadata
    * operation, no data copied at read time. Manifests are
    * driver-side text (bounded metadata, exactly like a real log);
    * data moves only through executor parquet writes. */
  def scanTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val base = new java.io.File(graft.core.ScratchDirs.path(s, "graft_txnlog", dir))
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
    def census(v: Int): DataFrame = {
      // a snapshot can be file-less (every slice empty on an empty
      // corpus): read an empty frame of the table schema instead of
      // handing Spark a zero-path parquet read
      val files = snapshot(v)
      val snap =
        if (files.isEmpty)
          s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            orders.schema)
        else s.read.parquet(files: _*)
      snap.agg(count(lit(1)).as("n_rows"),
          sum("price").cast("double").as("total"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("total"))
    }
    census(1).unionByName(census(2))
  }

  // ---------------------------------------------------------------------
  // win_hmm_filter
  // ---------------------------------------------------------------------

  /** 2-state HMM forward filtering per user: observation = value
    * above/below the (4-dp pinned) global median, Bernoulli emissions
    * P(above|high)=0.8 / P(above|low)=0.2, sticky transitions 0.9/0.1,
    * uniform prior. The normalized forward recursion is pure rational
    * double arithmetic replayed in one left-to-right order by both
    * engines (the `win_heikin_ashi` per-step-emission fold shape);
    * p_high is rounded at 6 dp for grading while the recursion itself
    * carries the unrounded value — states ('H'/'L') decode from the
    * unrounded probability identically on both sides. */
  def winHmmFilter(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_hmm_events")
    s.sql(
      """WITH thr AS (SELECT CAST(ROUND(percentile(value, 0.5), 4) AS DOUBLE)
        |               AS thr FROM graft_hmm_events),
        |obs AS (SELECT user_id,
        |          CAST(row_number() OVER (PARTITION BY user_id
        |            ORDER BY ts, event_id) AS BIGINT) AS rn,
        |          CASE WHEN value > thr THEN 1 ELSE 0 END AS o
        |        FROM graft_hmm_events CROSS JOIN thr),
        |g AS (SELECT user_id,
        |        array_sort(collect_list(named_struct('rn', rn, 'o', o))) AS os
        |      FROM obs GROUP BY user_id),
        |f AS (SELECT user_id,
        |        aggregate(slice(os, 2, size(os) - 1),
        |          named_struct(
        |            'ph', (0.5D * (CASE WHEN os[0].o = 1 THEN 0.8D ELSE 0.2D END))
        |                  / (0.5D * (CASE WHEN os[0].o = 1 THEN 0.8D ELSE 0.2D END)
        |                     + 0.5D * (CASE WHEN os[0].o = 1 THEN 0.2D ELSE 0.8D END)),
        |            'res', array(named_struct('rn', os[0].rn,
        |              'ph', (0.5D * (CASE WHEN os[0].o = 1 THEN 0.8D ELSE 0.2D END))
        |                    / (0.5D * (CASE WHEN os[0].o = 1 THEN 0.8D ELSE 0.2D END)
        |                       + 0.5D * (CASE WHEN os[0].o = 1 THEN 0.2D ELSE 0.8D END))))),
        |          (acc, x) -> named_struct(
        |            'ph', ((acc.ph * 0.9D + (1D - acc.ph) * 0.1D)
        |                     * (CASE WHEN x.o = 1 THEN 0.8D ELSE 0.2D END))
        |                  / ((acc.ph * 0.9D + (1D - acc.ph) * 0.1D)
        |                       * (CASE WHEN x.o = 1 THEN 0.8D ELSE 0.2D END)
        |                     + (acc.ph * 0.1D + (1D - acc.ph) * 0.9D)
        |                       * (CASE WHEN x.o = 1 THEN 0.2D ELSE 0.8D END)),
        |            'res', concat(acc.res, array(named_struct('rn', x.rn,
        |              'ph', ((acc.ph * 0.9D + (1D - acc.ph) * 0.1D)
        |                       * (CASE WHEN x.o = 1 THEN 0.8D ELSE 0.2D END))
        |                    / ((acc.ph * 0.9D + (1D - acc.ph) * 0.1D)
        |                         * (CASE WHEN x.o = 1 THEN 0.8D ELSE 0.2D END)
        |                       + (acc.ph * 0.1D + (1D - acc.ph) * 0.9D)
        |                         * (CASE WHEN x.o = 1 THEN 0.2D ELSE 0.8D END)))))))
        |          AS f
        |      FROM g)
        |SELECT user_id, x.rn AS rn, ROUND(x.ph, 6) AS p_high,
        |  CASE WHEN x.ph >= 0.5 THEN 'H' ELSE 'L' END AS state
        |FROM f LATERAL VIEW explode(f.res) t AS x""".stripMargin)
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_huber_mean", aggHuberMean, huberSql("events",
      e => s"quantile_cont($e, 0.5)")),
    QueryDef("scan_time_travel", scanTimeTravel,
      """WITH a AS (SELECT o_orderkey AS k,
        |             CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |           FROM orders WHERE o_orderkey % 3 = 0),
        |b AS (SELECT o_orderkey AS k,
        |        CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |      FROM orders WHERE o_orderkey % 3 = 1),
        |c AS (SELECT * FROM a WHERE price <= 200000)
        |SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
        |  CAST(SUM(price) AS DOUBLE) AS total
        |FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), COUNT(*),
        |  CAST(SUM(price) AS DOUBLE)
        |FROM (SELECT * FROM c UNION ALL SELECT * FROM b)""".stripMargin),
    QueryDef("win_hmm_filter", winHmmFilter,
      """WITH RECURSIVE
        |thr AS (SELECT CAST(ROUND(quantile_cont(value, 0.5), 4) AS DOUBLE)
        |          AS thr FROM events),
        |obs AS (SELECT user_id,
        |          row_number() OVER (PARTITION BY user_id
        |            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn,
        |          CASE WHEN value > thr THEN 1 ELSE 0 END AS o
        |        FROM events CROSS JOIN thr),
        |f(user_id, rn, ph) AS (
        |  SELECT user_id, rn,
        |    (0.5 * (CASE WHEN o = 1 THEN 0.8 ELSE 0.2 END))
        |    / (0.5 * (CASE WHEN o = 1 THEN 0.8 ELSE 0.2 END)
        |       + 0.5 * (CASE WHEN o = 1 THEN 0.2 ELSE 0.8 END))
        |  FROM obs WHERE rn = 1
        |  UNION ALL
        |  SELECT f.user_id, o.rn,
        |    ((f.ph * 0.9 + (1 - f.ph) * 0.1)
        |       * (CASE WHEN o.o = 1 THEN 0.8 ELSE 0.2 END))
        |    / ((f.ph * 0.9 + (1 - f.ph) * 0.1)
        |         * (CASE WHEN o.o = 1 THEN 0.8 ELSE 0.2 END)
        |       + (f.ph * 0.1 + (1 - f.ph) * 0.9)
        |         * (CASE WHEN o.o = 1 THEN 0.2 ELSE 0.8 END))
        |  FROM f JOIN obs o ON o.user_id = f.user_id AND o.rn = f.rn + 1)
        |SELECT user_id, rn, ROUND(ph, 6) AS p_high,
        |  CASE WHEN ph >= 0.5 THEN 'H' ELSE 'L' END AS state
        |FROM f""".stripMargin))
}

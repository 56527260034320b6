package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch R: model-evaluation metrics and sequential testing.
  *
  *  - `agg_auc_roc` — ROC AUC via the Mann–Whitney rank identity
  *    over (event value → error label); the deterministic
  *    (score, event_id) total order makes the rank census exact
  *    integers, and the 2·rsum spelling keeps everything integral
  *    until one final division.
  *  - `agg_brier_calibration` — reliability diagram (10 probability
  *    bins) for a PIT-uniform score against the error label:
  *    per-bin confidence vs observed frequency and the Brier term —
  *    the calibration audit every deployed classifier needs.
  *  - `events_sprt` — Wald's sequential probability ratio test per
  *    user (H₀ error-rate 0.25 vs H₁ 0.35, A/B error bounds 5%):
  *    the log-likelihood-ratio walk with precomputed literal
  *    increments, frozen at the first threshold crossing — the
  *    always-valid testing shape experiment platforms run. Fold on
  *    the Spark side, identical-arithmetic recursion in the oracle.
  */
object Analytics38 {

  // ---------------------------------------------------------------------
  // agg_auc_roc
  // ---------------------------------------------------------------------

  private def aucSql(events: String): String =
    s"""e AS (SELECT CAST(value AS DOUBLE) AS score,
       |        CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y,
       |        event_id
       |      FROM $events),
       |r AS (SELECT y,
       |        CAST(row_number() OVER (ORDER BY score, event_id)
       |             AS BIGINT) AS rk
       |      FROM e),
       |c AS (SELECT CAST(sum(y) AS BIGINT) AS n1,
       |        CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CASE WHEN y = 1 THEN rk ELSE 0 END) AS BIGINT)
       |          AS rsum
       |      FROM r)
       |SELECT n1, n - n1 AS n0,
       |  CAST(2 * rsum - n1 * (n1 + 1) AS DOUBLE)
       |    / (2.0 * n1 * (n - n1)) AS auc
       |FROM c""".stripMargin

  /** Spark side: the score rank over ALL events is O(data), so it
    * rides [[graft.operators.ScalableNtile.withRowNumber]] (parallel
    * bucket decomposition — identical integer ranks to the oracle's
    * single-task window); the Mann–Whitney identity then consumes one
    * exact integer rank sum. */
  def aggAucRoc(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events").select(
      col("value").cast("double").as("score"),
      when(col("event_type") === "error", 1).otherwise(0).as("y"),
      col("event_id"))
    graft.operators.ScalableNtile.withRowNumber(
        e, Nil, col("score"), Seq(col("event_id")), "rk")
      .agg(sum("y").cast("long").as("n1"),
        count(lit(1)).cast("long").as("n"),
        sum(when(col("y") === 1, col("rk")).otherwise(0L)).cast("long")
          .as("rsum"))
      .select(col("n1"), (col("n") - col("n1")).as("n0"),
        ((lit(2) * col("rsum") - col("n1") * (col("n1") + 1))
          .cast("double") /
          (lit(2.0) * col("n1") * (col("n") - col("n1")))).as("auc"))
  }

  // ---------------------------------------------------------------------
  // agg_brier_calibration
  // ---------------------------------------------------------------------

  /** Scores are the PIT transform rank/(n+1) of the event value
    * (deterministic total order, exactly uniform), binned into 10
    * deciles of predicted probability; per bin: confidence (mean
    * score), observed positive rate, |gap|, and the mean-squared
    * Brier contribution. */
  private def brierSql(events: String): String =
    s"""e AS (SELECT CAST(value AS DOUBLE) AS v,
       |        CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y,
       |        event_id
       |      FROM $events),
       |r AS (SELECT y,
       |        CAST(row_number() OVER (ORDER BY v, event_id) AS BIGINT)
       |          AS rk,
       |        count(*) OVER () AS n
       |      FROM e),
       |p AS (SELECT y, CAST(rk AS DOUBLE) / (n + 1) AS prob,
       |        least(9, CAST(floor(CAST(rk AS DOUBLE) / (n + 1) * 10.0)
       |             AS INT)) AS bin
       |      FROM r),
       |b AS (SELECT CAST(bin AS BIGINT) AS bin,
       |        CAST(count(*) AS BIGINT) AS n_bin,
       |        CAST(sum(y) AS BIGINT) AS n_pos,
       |        sum(prob) / count(*) AS confidence,
       |        CAST(sum(y) AS DOUBLE) / count(*) AS observed,
       |        sum((prob - y) * (prob - y)) / count(*) AS brier_term
       |      FROM p GROUP BY bin)
       |SELECT bin, n_bin, n_pos, confidence, observed,
       |  abs(confidence - observed) AS calib_gap, brier_term
       |FROM b""".stripMargin

  /** Spark side: the PIT rank (and the n it divides by) comes from
    * [[graft.operators.ScalableNtile.withRowNumberAndCount]] instead
    * of the oracle's single-task `OVER ()` pair; prob/bin/Brier
    * expressions are spelled identically. */
  def aggBrierCalibration(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events").select(
      col("value").cast("double").as("v"),
      when(col("event_type") === "error", 1).otherwise(0).as("y"),
      col("event_id"))
    val p = graft.operators.ScalableNtile.withRowNumberAndCount(
        e, Nil, col("v"), Seq(col("event_id")), "rk", "n")
      .select(col("y"),
        (col("rk").cast("double") / (col("n") + 1)).as("prob"))
      .withColumn("bin", least(lit(9),
        floor(col("prob") * 10.0).cast("int")))
    p.groupBy(col("bin").cast("long").as("bin"))
      .agg(count(lit(1)).cast("long").as("n_bin"),
        sum("y").cast("long").as("n_pos"),
        (sum("prob") / count(lit(1))).as("confidence"),
        (sum("y").cast("double") / count(lit(1))).as("observed"),
        (sum((col("prob") - col("y")) * (col("prob") - col("y")))
          / count(lit(1))).as("brier_term"))
      .select(col("bin"), col("n_bin"), col("n_pos"), col("confidence"),
        col("observed"),
        abs(col("confidence") - col("observed")).as("calib_gap"),
        col("brier_term"))
  }

  // ---------------------------------------------------------------------
  // events_sprt
  // ---------------------------------------------------------------------

  /** LLR increments ln(0.35/0.25) and ln(0.65/0.75) and the ±ln(19)
    * thresholds are PRE-COMPUTED literals so neither engine computes a
    * log. State: (llr, dec ∈ {−1,0,1}, step, i); once dec ≠ 0 the
    * walk freezes — Wald's stopping rule. */
  private val IncPos = "0.3364722366212129"   // ln(0.35/0.25)
  private val IncNeg = "-0.14310084364067554" // ln(0.65/0.75)
  private val Thresh = "2.9444389791664403"   // ln(0.95/0.05)

  /** Next-state expressions over accessor names (verbatim in both the
    * fold lambda and the recursion — one IEEE sequence). */
  private def sprtStep(llr: String, dec: String, step: String,
      i: String, y: String): (String, String, String, String) = {
    val nl = s"($llr + CASE WHEN $y = 1 THEN CAST($IncPos AS DOUBLE) " +
      s"ELSE CAST($IncNeg AS DOUBLE) END)"
    (s"CASE WHEN $dec <> 0 THEN $llr ELSE $nl END",
      s"""CASE WHEN $dec <> 0 THEN $dec
         |     WHEN $nl >= CAST($Thresh AS DOUBLE) THEN 1
         |     WHEN $nl <= -CAST($Thresh AS DOUBLE) THEN -1
         |     ELSE 0 END""".stripMargin,
      s"""CASE WHEN $dec <> 0 THEN $step
         |     WHEN $nl >= CAST($Thresh AS DOUBLE)
         |       OR $nl <= -CAST($Thresh AS DOUBLE) THEN $i + 1
         |     ELSE 0 END""".stripMargin,
      s"$i + 1")
  }

  def eventsSprt(s: SparkSession, dir: String): DataFrame = {
    val (nllr, ndec, nstep, ni) =
      sprtStep("acc.llr", "acc.dec", "acc.step", "acc.i", "y")
    Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        when(col("event_type") === "error", 1).otherwise(0).as("y"))))
        .as("xs"))
      .select(col("user_id"), expr("transform(xs, x -> x.y)").as("ys"))
      .select(col("user_id"), size(col("ys")).cast("long").as("n_events"),
        expr(s"""aggregate(ys,
                 named_struct('llr', CAST(0.0 AS DOUBLE), 'dec', 0,
                   'step', 0, 'i', 0),
                 (acc, y) -> named_struct(
                   'llr', $nllr, 'dec', $ndec, 'step', $nstep,
                   'i', $ni))""").as("f"))
      .select(col("user_id"), col("n_events"),
        col("f.llr").as("llr_final"),
        col("f.dec").cast("long").as("decision"),
        col("f.step").cast("long").as("decision_step"))
  }

  private def sprtOracleSql: String = {
    val (nllr, ndec, nstep, ni) =
      sprtStep("f.llr", "f.dec", "f.step", "f.i", "v.y")
    s"""WITH RECURSIVE
       |v0 AS (SELECT user_id,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS i,
       |        CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
       |      FROM events),
       |v AS (SELECT user_id, i, y FROM v0),
       |n AS (SELECT user_id, max(i) AS n FROM v GROUP BY user_id),
       |f(user_id, i, llr, dec, step) AS (
       |  SELECT user_id, 0, CAST(0.0 AS DOUBLE), 0, 0
       |  FROM n
       |  UNION ALL
       |  SELECT f.user_id, $ni, $nllr, $ndec, $nstep
       |  FROM f JOIN v ON v.user_id = f.user_id AND v.i = f.i + 1)
       |SELECT f.user_id, CAST(n.n AS BIGINT) AS n_events,
       |  f.llr AS llr_final, CAST(f.dec AS BIGINT) AS decision,
       |  CAST(f.step AS BIGINT) AS decision_step
       |FROM f JOIN n ON n.user_id = f.user_id WHERE f.i = n.n""".stripMargin
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_auc_roc", aggAucRoc, "WITH " + aucSql("events")),
    QueryDef("agg_brier_calibration", aggBrierCalibration,
      "WITH " + brierSql("events")),
    QueryDef("events_sprt", eventsSprt, sprtOracleSql))
}

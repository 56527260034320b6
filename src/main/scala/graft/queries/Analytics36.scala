package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-11 batch P: robust location estimation and graph-based
  * keyword scoring.
  *
  *  - `agg_hodges_lehmann` — the Hodges–Lehmann pseudo-median (median
  *    of all Walsh pairwise averages) of daily revenue; the location
  *    estimator behind the Wilcoxon signed-rank interval. The pair
  *    relation is O(days²) — bounded by the CALENDAR, not the row
  *    count (the `agg_theil_sen` scale argument).
  *  - `agg_trimmed_mean` — 5%-trimmed mean of order totals
  *    (deterministic rank cutoffs, exact decimal mean of the kept
  *    mass) next to the winsorized variant's clamp semantics.
  *  - `text_textrank` — TextRank keyword scores (Mihalcea & Tarau
  *    2004): co-occurrence graph (window ≤ 2) over corpus words,
  *    4 unrolled damped power iterations, d = 0.85.
  *
  * Determinism: Walsh averages are exact integer halves; trims are
  * integer rank cutoffs; TextRank sums ≤|vocab| O(1) doubles per node
  * per iteration (round-6 absorbs the fold drift — the
  * `graph_pagerank` contract).
  */
object Analytics36 {

  // ---------------------------------------------------------------------
  // agg_hodges_lehmann
  // ---------------------------------------------------------------------

  /** Walsh-average median: pairs i ≤ j of the daily whole-dollar
    * revenue census, avg = (yᵢ+yⱼ)/2 — an exact double (integer sums
    * < 2⁵³, halves exact) — then the explicit-middle median rule over
    * the (avg, i, j) total order.
    *
    * The median is found by HISTOGRAM REFINEMENT, not a global sort:
    * a first aggregation buckets the ~n²/2 Walsh averages into
    * 1000-dollar bins (a parallel map-side-combined group-by), the
    * cumulative bin census locates which bin(s) hold the middle
    * ranks, and only THAT sliver (≈1/1000 of the pairs) is sorted,
    * with its global rank offset added back. Equal Walsh values land
    * in the same bin, so per-bin (walsh, i, j) order + offset
    * reproduces the global total order exactly. The naive
    * single-partition row_number over 2.9M pairs cost 5.9 s at
    * sf0.1 and cannot scale-out; this spelling keeps every heavy
    * stage parallel. */
  private def hlSql(orders: String, dayIdx: String,
      intdiv: String): String =
    s"""daily AS (
       |  SELECT CAST($dayIdx AS BIGINT) AS x,
       |         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
       |              AS DECIMAL(19,0)) AS y
       |  FROM $orders GROUP BY 1),
       |pairs AS (SELECT a.x AS i, b.x AS j,
       |    CAST(a.y + b.y AS DOUBLE) / 2.0 AS walsh
       |  FROM daily a JOIN daily b ON a.x <= b.x),
       |hist AS (SELECT CAST(floor(walsh / 1000.0) AS BIGINT) AS b,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM pairs GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
       |    CAST((sum(c) + 1) $intdiv 2 AS BIGINT) AS t1,
       |    CAST((sum(c) + 2) $intdiv 2 AS BIGINT) AS t2
       |  FROM hist),
       |cum AS (SELECT b, c,
       |    sum(c) OVER (ORDER BY b
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM hist),
       |sel AS (SELECT cum.b, cum.cum - cum.c AS offset_
       |  FROM cum CROSS JOIN tot
       |  WHERE cum.cum >= tot.t1 AND cum.cum - cum.c < tot.t2),
       |cand AS (SELECT p.walsh, s.offset_
       |  FROM pairs p JOIN sel s
       |    ON CAST(floor(p.walsh / 1000.0) AS BIGINT) = s.b),
       |r AS (SELECT walsh,
       |    row_number() OVER (PARTITION BY offset_
       |      ORDER BY walsh) + offset_ AS rn
       |  FROM cand)
       |SELECT CAST(max(tot.n) AS BIGINT) AS n_pairs,
       |  avg(r.walsh) AS hodges_lehmann
       |FROM r CROSS JOIN tot
       |WHERE r.rn IN (tot.t1, tot.t2)""".stripMargin

  /** Spark spelling (r16): same arithmetic as [[hlSql]], with the two
    * relations the chain references more than once STAGED — left as
    * deterministic CTEs, `pairs` (referenced by hist and cand, and
    * hist itself by tot and cum) re-ran the O(days²) pair build FOUR
    * times and the orders scan 16× (plan-verified). `daily` and `hist`
    * are both tiny (calendar / dollar-bin bounded) and are eagerly
    * checkpointed; the pair build runs twice (hist, cand), each time
    * streamed from a by-`x` repartition so it parallelizes instead of
    * running inside the checkpoint's single partition. Every value —
    * walsh, bins, ranks — is the identical expression; the oracle
    * keeps the inline CTE spelling. */
  def aggHodgesLehmann(s: SparkSession, dir: String): DataFrame = {
    import graft.core.CkptTap._
    val daily = Tables.sql(s, dir,
      """SELECT CAST(datediff(CAST(o_orderdate AS DATE),
        |                     DATE '1995-01-01') AS BIGINT) AS x,
        |  CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
        |       AS DECIMAL(19,0)) AS y
        |FROM orders GROUP BY 1""".stripMargin)
      .tappedLocalCheckpoint()
    def pairs = daily.select(col("x").as("i"), col("y").as("ya"))
      .repartition(col("i"))
      .join(broadcast(daily.select(col("x").as("j"), col("y").as("yb"))),
        col("i") <= col("j"))
      .select(col("i"), col("j"),
        ((col("ya") + col("yb")).cast("double") / 2.0).as("walsh"))
    val bin = floor(col("walsh") / 1000.0).cast("long")
    val hist = pairs.groupBy(bin.as("b"))
      .agg(count(lit(1)).cast("long").as("c"))
      .tappedLocalCheckpoint()
    val tot = hist.agg(sum("c").cast("long").as("n"),
      expr("CAST((sum(c) + 1) DIV 2 AS BIGINT)").as("t1"),
      expr("CAST((sum(c) + 2) DIV 2 AS BIGINT)").as("t2"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("b")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val sel = hist.withColumn("cum", sum("c").over(wCum))
      .crossJoin(broadcast(tot))
      .filter(col("cum") >= col("t1") && col("cum") - col("c") < col("t2"))
      .select(col("b"), (col("cum") - col("c")).as("offset_"))
    val cand = pairs.join(broadcast(sel), bin === col("b"))
      .select(col("walsh"), col("offset_"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("offset_").orderBy("walsh")
    val r = cand
      .withColumn("rn", row_number().over(wRank).cast("long") + col("offset_"))
    r.crossJoin(broadcast(tot))
      .filter(col("rn") === col("t1") || col("rn") === col("t2"))
      .agg(max("n").cast("long").as("n_pairs"),
        avg("walsh").as("hodges_lehmann"))
  }

  // ---------------------------------------------------------------------
  // agg_trimmed_mean
  // ---------------------------------------------------------------------

  /** 5% symmetric trim: rank by (price, orderkey), drop the bottom and
    * top ⌊n/20⌋ ranks, exact decimal mean of the survivors (vs the
    * raw mean, for the robustness delta). */
  private def trimSql(orders: String, intdiv: String): String =
    s"""r AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
       |        row_number() OVER (ORDER BY o_totalprice, o_orderkey)
       |          AS rn,
       |        count(*) OVER () AS n
       |      FROM $orders),
       |k AS (SELECT rn, v, n, n $intdiv 20 AS cut FROM r)
       |SELECT CAST(max(n) AS BIGINT) AS n,
       |  CAST(count(*) AS BIGINT) AS n_kept,
       |  CAST(sum(v) AS DOUBLE) / count(*) AS trimmed_mean,
       |  CAST(max(tot.s) AS DOUBLE) / max(n) AS raw_mean
       |FROM k CROSS JOIN (SELECT sum(v) AS s FROM r) tot
       |WHERE rn > cut AND rn <= n - cut""".stripMargin

  /** Spark side rides [[graft.operators.ScalableNtile
    * .withRowNumberAndCount]] — rank-by-price over ALL orders is
    * O(data), so the global row_number/count pair comes from the
    * parallel bucket decomposition instead of the oracle's
    * single-task `OVER ()` windows; the integer ranks (and therefore
    * the trim cut) are identical. */
  def aggTrimmedMean(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val r = graft.operators.ScalableNtile.withRowNumberAndCount(
      Tables.load(s, dir, "orders")
        .select(col("o_totalprice").cast(DecimalType(18, 2)).as("v"),
          col("o_totalprice"), col("o_orderkey")),
      Nil, col("o_totalprice"), Seq(col("o_orderkey")), "rn", "n")
    val tot = r.agg(sum("v").as("s"))
    r.filter(col("rn") > expr("n DIV 20") &&
        col("rn") <= col("n") - expr("n DIV 20"))
      .crossJoin(broadcast(tot))
      .agg(max("n").cast("long").as("n"),
        count(lit(1)).cast("long").as("n_kept"),
        (sum("v").cast("double") / count(lit(1))).as("trimmed_mean"),
        (max("s").cast("double") / max("n")).as("raw_mean"))
  }

  // ---------------------------------------------------------------------
  // text_textrank
  // ---------------------------------------------------------------------

  /** TextRank: undirected co-occurrence edges (token distance ≤ 2
    * inside a document, weight = pair count), out-strength-normalized
    * damped power iteration ×4 from the uniform start. `tok` is the
    * dialect-split (doc_id, pos, w) tokenizer. */
  /** The O(corpus) part: token co-occurrence census → symmetric
    * weighted edges. Everything after is a ≤|vocab|² relation. */
  private def textrankEdgeCtes(tok: String): String =
    s"""tok AS ($tok),
       |co AS (SELECT a.w AS src, b.w AS dst, CAST(count(*) AS BIGINT)
       |         AS wt
       |       FROM tok a JOIN tok b ON a.doc_id = b.doc_id
       |         AND b.pos - a.pos BETWEEN 1 AND 2
       |         AND a.w <> b.w
       |       GROUP BY 1, 2)""".stripMargin

  private val textrankEdgeSelect: String =
    """SELECT src, dst, wt FROM co
      |UNION ALL SELECT dst, src, wt FROM co""".stripMargin

  /** The ≤|vocab|² fit over a materialized `edges` relation. (Split
    * so Spark checkpoints the corpus-sized census once — the four
    * iteration CTEs reference `edges` nine times, and CTE inlining
    * re-ran the whole co-occurrence join per reference: 3.1 s →
    * sub-second.) */
  private def textrankFitSql(edges: String, words: String): String = {
    def iter(prev: String, next: String): String =
      s"""$next AS (SELECT w.w AS word,
         |    coalesce(0.15 + 0.85 * sum(e.wt / o.out_w * p.score), 0.15)
         |      AS score
         |  FROM $words w
         |    LEFT JOIN $edges e ON e.dst = w.w
         |    LEFT JOIN outw o ON o.src = e.src
         |    LEFT JOIN $prev p ON p.word = e.src
         |  GROUP BY w.w)""".stripMargin
    s"""outw AS (SELECT src, CAST(sum(wt) AS DOUBLE) AS out_w
       |         FROM $edges GROUP BY src),
       |p0 AS (SELECT w AS word, CAST(1.0 AS DOUBLE) AS score
       |       FROM $words),
       |${iter("p0", "p1")},
       |${iter("p1", "p2")},
       |${iter("p2", "p3")},
       |${iter("p3", "p4")},
       |deg AS (SELECT src AS word, CAST(count(*) AS BIGINT) AS degree
       |        FROM $edges GROUP BY src)
       |SELECT p4.word, coalesce(deg.degree, 0) AS degree, p4.score
       |FROM p4 LEFT JOIN deg ON deg.word = p4.word""".stripMargin
  }

  def textTextrank(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.sql(s, dir, "WITH " + textrankEdgeCtes(
      """SELECT doc_id, p.pos, p.w FROM documents
        |LATERAL VIEW posexplode(split(text, ' ')) p AS pos, w""".stripMargin)
      + "\n" + textrankEdgeSelect)
      // repartition(1), NOT coalesce(1): coalesce fuses into the
      // upstream stage, so the corpus-sized co-occurrence join and
      // census ran in ONE task; an exchange keeps the census parallel
      // and moves only the small edge table to the single partition
      // the fit's nine references probe.
      .repartition(1).tappedLocalCheckpoint()
    val words = Tables.sql(s, dir, """SELECT DISTINCT p.w FROM documents
            |LATERAL VIEW posexplode(split(text, ' ')) p AS pos, w"""
        .stripMargin)
      .repartition(1).tappedLocalCheckpoint()
    Tables.sql(s, dir, "WITH " + textrankFitSql("graft_tr_edges",
      "graft_tr_words"), "graft_tr_edges" -> edges, "graft_tr_words" -> words)
  }

  // ---------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("agg_hodges_lehmann", aggHodgesLehmann, "WITH " + hlSql("orders",
      "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))",
      "//")),
    QueryDef("agg_trimmed_mean", aggTrimmedMean,
      "WITH " + trimSql("orders", "//")),
    QueryDef("text_textrank", textTextrank, "WITH " + textrankEdgeCtes(
      """SELECT doc_id, CAST(generate_subscripts(string_split(text, ' '), 1)
        |  AS BIGINT) - 1 AS pos,
        |  unnest(string_split(text, ' ')) AS w FROM documents""".stripMargin)
      + ",\nedges AS (" + textrankEdgeSelect + "),\n"
      + "words AS (SELECT DISTINCT w FROM tok),\n"
      + textrankFitSql("edges", "words")))
}

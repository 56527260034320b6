package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** Round-10 widening: three operators still genuinely absent after the
  * 260-query surface — a Gopher-style document quality-rule census
  * (Rae et al. 2021's repetition-free filter battery, the standard
  * pre-training corpus gate the `text_quality` score does not cover),
  * synchronous label-propagation community detection (mode-of-neighbors
  * semantics — a different fixpoint class from the min-propagation
  * `llm_cc_altstar` and the weighted `graph_pagerank`), and a SCALED
  * Z-order layout probed on both axes — [[ScaleOps.scanZorder]]
  * interleaves two raw keys of similar bit width; this variant handles
  * the general case (dimensions of UNEQUAL ranges, custkey vs day
  * number) by rescaling each to 8 bits first, and its spec pins the
  * file-level skipping claim on each single axis.
  *
  * Determinism rules as in [[Analytics]]: integer counts everywhere a
  * count is meant, int/int double divisions (IEEE-exact, identical on
  * both engines), min-label tie-breaks on every argmax, and no
  * engine-specific rounding.
  */
object Analytics10 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---------------------------------------------------------------------
  // text_gopher_rules
  // ---------------------------------------------------------------------

  private val stopProbe = Seq("the", "a", "of", "and", "data", "table",
    "row", "value")

  /** Gopher-style quality-rule flags per document (Rae et al. 2021,
    * table A1, adapted to the fixture's whitespace-token text): word
    * count within [20, 80], mean word length within [3, 10], >80% of
    * words containing an alphabetic character, and ≥2 distinct probe
    * stopwords present. Each rule is a pure projection over the one
    * document scan — no shuffle at all, so the op is embarrassingly
    * parallel at 100 TB; the flags feed `pass_all` exactly as a corpus
    * gate would feed a keep/drop filter. The two line-shape rules in
    * the original battery (bullet-line and ellipsis-line fractions)
    * are vacuous on the fixture's single-line documents and are
    * deliberately not emitted — a rule that cannot fire would grade
    * nothing. Int/int double divisions are IEEE-exact on both engines.
    */
  def textGopherRules(s: SparkSession, dir: String): DataFrame = {
    val ts = split(col("text"), " ")
    val nWords = size(ts)
    val mwl = aggregate(ts, lit(0L), (acc, w) => acc + length(w))
      .cast("double") / nWords
    val alphaFrac = size(filter(ts, w => w.rlike("[a-z]")))
      .cast("double") / nWords
    val nStop = size(filter(
      array(stopProbe.map(lit): _*), sw => array_contains(ts, sw)))
    val pWordcount =
      (col("n_words") >= 20 && col("n_words") <= 80).cast("int")
    val pMeanlen = (col("mwl") >= 3.0 && col("mwl") <= 10.0).cast("int")
    val pAlpha = (col("alpha_frac") > 0.8).cast("int")
    val pStop = (col("n_stop") >= 2).cast("int")
    t(s, dir, "documents")
      .select(col("doc_id"), nWords.cast("long").as("n_words"),
        mwl.as("mwl"), alphaFrac.as("alpha_frac"),
        nStop.cast("long").as("n_stop"))
      .select(col("doc_id"), col("n_words"), col("mwl"),
        col("alpha_frac"), col("n_stop"),
        pWordcount.as("p_wordcount"), pMeanlen.as("p_meanlen"),
        pAlpha.as("p_alpha"), pStop.as("p_stop"),
        (pWordcount * pMeanlen * pAlpha * pStop).as("pass_all"))
  }

  // ---------------------------------------------------------------------
  // graph_label_prop
  // ---------------------------------------------------------------------

  /** Synchronous label propagation (4 fixed rounds) over the
    * thresholded nation trade graph (the same 1.15×-mean edge rule as
    * `graph_triangles` / `graph_clustering`). Every node starts
    * labeled with its own key; each round every node adopts its
    * neighbors' most frequent label, ties broken toward the SMALLEST
    * label — the deterministic variant of Raghavan et al. 2007. The
    * scale-heavy pass (4-table star join → pair flows) runs once and
    * is checkpointed; the fixpoint then iterates on the ≤|nations|²
    * symmetrized edge list, each round one shuffle of an
    * O(|edges|)-row relation. The mode is computed as min(label) among
    * labels at the per-node max count — plain aggregations, no window
    * tie hazards — and the oracle runs the identical recursion as a
    * recursive CTE. */
  def graphLabelProp(s: SparkSession, dir: String): DataFrame = {
    val lab = lpaLabels(s, tradeSym(s, dir, "graft_lp"))
    // nationkey is INT in the fixture; the graded schema pins BIGINT.
    lab.select(col("nk").cast("long").as("nk"),
      col("label").cast("long").as("label"))
  }

  /** The thresholded symmetrized nation trade graph (the 1.15×-mean
    * edge rule shared by the whole graph family), checkpointed —
    * reused by [[graphLabelProp]] and `graph_modularity`
    * ([[Analytics24]]). `prefix` namespaces the temp views per
    * caller. */
  private[queries] def tradeSym(s: SparkSession, dir: String,
      prefix: String): DataFrame = {
    Seq("lineitem", "orders", "customer", "supplier")
      .foreach(n => Tables.load(s, dir, n)
        .createOrReplaceTempView(s"${prefix}_" + n))
    s.sql(
      s"""WITH pair AS (
        |  SELECT c.c_nationkey AS na, s.s_nationkey AS nb, count(*) AS cnt
        |  FROM ${prefix}_lineitem l
        |    JOIN ${prefix}_orders o ON l.l_orderkey = o.o_orderkey
        |    JOIN ${prefix}_customer c ON o.o_custkey = c.c_custkey
        |    JOIN ${prefix}_supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE c.c_nationkey <> s.s_nationkey
        |  GROUP BY 1, 2),
        |und AS (SELECT least(na, nb) AS a, greatest(na, nb) AS b,
        |          sum(cnt) AS cnt
        |        FROM pair GROUP BY 1, 2),
        |tot AS (SELECT sum(cnt) AS t, count(*) AS np FROM und),
        |edges AS (SELECT a, b FROM und CROSS JOIN tot
        |          WHERE cnt * np * 100 > 115 * t)
        |SELECT a AS src, b AS dst FROM edges
        |UNION ALL SELECT b, a FROM edges""".stripMargin)
      // ≤2·|nations|² rows: collapse the 32 post-shuffle partitions so
      // the 4-round fixpoint schedules one task per stage, not 32
      // mostly-empty ones. At a real-graph scale the coalesce factor
      // would follow |edges| (the LlmText.minLabelComponents cutover).
      .coalesce(1)
      .tappedLocalCheckpoint()
  }

  /** 4 synchronous LPA rounds over a symmetrized edge list; returns
    * (nk, label) with smallest-label tie-breaks (the deterministic
    * Raghavan variant). Each round's neighbor-label census is eagerly
    * checkpointed (≤|nations|² rows, one ~50 ms task): `cnts` is
    * referenced twice per round (argmax + tie-break join), so a lazy
    * chain would re-execute the previous round's subtree 2× per
    * round — 2⁴ copies of round 1 by the fixpoint (the
    * `llm_bradley_terry` exponential-reference lesson, measured at
    * 4-5.5 s for the two graded consumers of this fixpoint). The final
    * labels are checkpointed too: modularity scoring joins them three
    * times. */
  private[queries] def lpaLabels(s: SparkSession, sym: DataFrame): DataFrame = {
    var lab = sym.select(col("src").as("nk")).distinct()
      .select(col("nk"), col("nk").as("label"))
    for (_ <- 1 to 4) {
      val cnts = sym
        .join(lab.withColumnRenamed("nk", "dst"), "dst")
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .coalesce(1)
        .tappedLocalCheckpoint()
      val mx = cnts.groupBy(col("src")).agg(max(col("cnt")).as("mx"))
      lab = cnts.join(mx, "src")
        .filter(col("cnt") === col("mx"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("label"))
        .withColumnRenamed("src", "nk")
    }
    lab.coalesce(1).tappedLocalCheckpoint()
  }

  // ---------------------------------------------------------------------
  // llm_ccnet_buckets
  // ---------------------------------------------------------------------

  /** CCNet-style quality bucketing (Wenzek et al. 2020): score every
    * document by its average negative log-probability under the corpus
    * unigram LM (the `llm_logprob` metric), then split EACH LANGUAGE
    * into head/middle/tail terciles of that score — the standard
    * "keep head+middle for pre-training" gate. The tercile is exact
    * per-lang NTILE semantics, but planned the way CCNet itself runs
    * at scale — cutoffs/ranks learned from a quantile pass, applied as
    * comparisons — via [[graft.operators.ScalableNtile]]: the per-lang
    * window partitions by (lang, score-bucket), so the dominant
    * language never sorts in one task, and the broadcast bucket
    * offsets + integer NTILE formula reproduce the oracle's native
    * NTILE bit-for-bit. Score is rounded to 4 decimals (the
    * `llm_logprob` rule) so the double Σln across engines cannot flip
    * a tercile boundary. */
  def llmCcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "lang", "text")
    val tok = d.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    val uni = tok.groupBy("t").agg(count(lit(1)).as("n"))
    val tot = uni.agg(sum("n").as("nt"))
    val score = tok.join(uni, "t").crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(expr("ROUND(-SUM(LN(n / nt)) / COUNT(*), 4)").as("score"))
    graft.operators.ScalableNtile.withNtile(
        d.select("doc_id", "lang").join(score, "doc_id"),
        3, Seq("lang"), col("score"), Seq(col("doc_id")), "b")
      .select(col("doc_id"), col("lang"), col("score"),
        when(col("b") === 1, "head").when(col("b") === 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  // ---------------------------------------------------------------------
  // scan_zorder_scaled
  // ---------------------------------------------------------------------

  /** 8-bit Morton interleave of two coordinates already scaled into
    * [0, 255]: bit i of x lands at position 2i, bit i of y at 2i+1. A
    * chain of 16 shift/and/or column ops — all inside whole-stage
    * codegen. */
  private def morton8(x: Column, y: Column): Column =
    (0 until 8).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Z-order clustered layout: orders rewritten range-partitioned and
    * sorted by the Morton interleave of (customer key, day number), then
    * probed with a 2-D box predicate (a customer range AND a date
    * range). Linear sort orders cluster ONE axis — a box on the other
    * axis touches every file; the Z-curve keeps both coordinates'
    * locality simultaneously, so parquet min/max file and row-group
    * stats prune BOTH single-axis probes and their conjunction
    * (Analytics10Spec pins the dual-axis file skipping). Both dims are
    * linearly rescaled to 8 bits before interleaving — raw-value
    * interleave degenerates to a 1-D sort whenever one dimension spans
    * more bits than the other, which is why Delta's OPTIMIZE ZORDER
    * interleaves range-bucketed ranks, not raw values. The max() pass
    * funding the scale factors is the metadata-cheap equivalent of
    * reading column stats; `repartitionByRange` then samples the zval
    * distribution, so file boundaries adapt to skew — no manual range
    * table. The zval column exists only at write time; readers see the
    * plain schema and plain predicates. */
  def scanZorder(s: SparkSession, dir: String): DataFrame = {
    val path = graft.core.ScratchDirs.path(s, "graft_zorder_orders", dir)
    val day = datediff(col("o_orderdate").cast("date"),
      lit("1995-01-01").cast("date")).cast("long")
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
    // max() over zero rows is null — coalesce keeps the empty-corpus
    // path (partition-pruned-everything / first incremental run) alive.
    val dims = o.agg(coalesce(max(col("o_custkey")), lit(1L)),
      coalesce(max(day), lit(1L))).head()
    val xm = math.max(dims.getLong(0), 1L)
    val ym = math.max(dims.getLong(1), 1L)
    // Column./ is double division; the cast truncates back to the
    // integer bucket (products stay far below 2^53, so it's exact).
    o.withColumn("zval",
        morton8((col("o_custkey") * 255 / xm).cast("long"),
          (day * 255 / ym).cast("long")))
      .repartitionByRange(8, col("zval"))
      .sortWithinPartitions("zval")
      .drop("zval")
      .write.mode("overwrite").parquet(path)
    s.read.parquet(path)
      .filter(col("o_custkey") >= 100 && col("o_custkey") < 200 &&
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_totalprice"))
  }

  /** The trade graph + 4-round LPA recursion as a reusable CTE list
    * (ends with `lp(iter, nk, label)`); `graph_label_prop` grades its
    * fixpoint directly and `graph_modularity` ([[Analytics24]]) scores
    * the partition it produces. */
  private[queries] val lpaOracleCtes: String =
    """pair AS (SELECT c.c_nationkey AS na, s.s_nationkey AS nb,
      |           count(*) AS cnt
      |         FROM lineitem l
      |           JOIN orders o ON l.l_orderkey = o.o_orderkey
      |           JOIN customer c ON o.o_custkey = c.c_custkey
      |           JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |         WHERE c.c_nationkey <> s.s_nationkey
      |         GROUP BY 1, 2),
      |und AS (SELECT least(na, nb) AS a, greatest(na, nb) AS b,
      |          sum(cnt) AS cnt
      |        FROM pair GROUP BY 1, 2),
      |tot AS (SELECT sum(cnt) AS t, count(*) AS np FROM und),
      |edges AS (SELECT a, b FROM und CROSS JOIN tot
      |          WHERE cnt * np * 100 > 115 * t),
      |sym AS (SELECT a AS src, b AS dst FROM edges
      |        UNION ALL SELECT b, a FROM edges),
      |lp(iter, nk, label) AS (
      |  SELECT 0, src, src FROM (SELECT DISTINCT src FROM sym)
      |  UNION ALL
      |  SELECT iter + 1, src, min(label)
      |  FROM (SELECT c.iter, c.src, c.label, c.cnt,
      |               max(c.cnt) OVER (PARTITION BY c.iter, c.src) AS mx
      |        FROM (SELECT lp.iter, e.src, lp.label, count(*) AS cnt
      |              FROM lp JOIN sym e ON e.dst = lp.nk
      |              WHERE lp.iter < 4
      |              GROUP BY 1, 2, 3) c) x
      |  WHERE cnt = mx GROUP BY iter, src)""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("text_gopher_rules", textGopherRules,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts
        |           FROM documents),
        |f AS (SELECT doc_id, len(ts) AS n_words,
        |  CAST(list_sum(list_transform(ts, w -> length(w))) AS DOUBLE)
        |    / len(ts) AS mwl,
        |  CAST(len(list_filter(ts, w -> regexp_matches(w, '[a-z]')))
        |    AS DOUBLE) / len(ts) AS alpha_frac,
        |  len(list_filter(['the', 'a', 'of', 'and', 'data', 'table',
        |                   'row', 'value'],
        |                  s -> list_contains(ts, s))) AS n_stop
        |FROM d)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mwl,
        |  alpha_frac, CAST(n_stop AS BIGINT) AS n_stop,
        |  CAST(n_words >= 20 AND n_words <= 80 AS INTEGER) AS p_wordcount,
        |  CAST(mwl >= 3.0 AND mwl <= 10.0 AS INTEGER) AS p_meanlen,
        |  CAST(alpha_frac > 0.8 AS INTEGER) AS p_alpha,
        |  CAST(n_stop >= 2 AS INTEGER) AS p_stop,
        |  CAST(n_words >= 20 AND n_words <= 80 AS INTEGER)
        |    * CAST(mwl >= 3.0 AND mwl <= 10.0 AS INTEGER)
        |    * CAST(alpha_frac > 0.8 AS INTEGER)
        |    * CAST(n_stop >= 2 AS INTEGER) AS pass_all
        |FROM f""".stripMargin),
    QueryDef("graph_label_prop", graphLabelProp,
      s"""WITH RECURSIVE $lpaOracleCtes
        |SELECT CAST(nk AS BIGINT) AS nk, CAST(label AS BIGINT) AS label
        |FROM lp WHERE iter = 4""".stripMargin),
    QueryDef("llm_ccnet_buckets", llmCcnetBuckets,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |             FROM documents),
        |uni AS (SELECT t, COUNT(*) AS n FROM tok GROUP BY 1),
        |tot AS (SELECT SUM(n) AS nt FROM uni),
        |score AS (SELECT doc_id,
        |            ROUND(-SUM(LN(uni.n / tot.nt)) / COUNT(*), 4) AS score
        |          FROM tok JOIN uni ON tok.t = uni.t CROSS JOIN tot
        |          GROUP BY doc_id)
        |SELECT d.doc_id, d.lang, s.score,
        |  CASE ntile(3) OVER (PARTITION BY d.lang
        |                      ORDER BY s.score, d.doc_id)
        |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
        |  END AS bucket
        |FROM documents d JOIN score s ON d.doc_id = s.doc_id""".stripMargin),
    QueryDef("scan_zorder_scaled", scanZorder,
      """SELECT o_orderkey, o_custkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice
        |FROM orders
        |WHERE o_custkey >= 100 AND o_custkey < 200
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'""".stripMargin))
}

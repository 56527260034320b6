package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Tables

/** Round-11 batch B: scan/statistics/curation widening.
  *
  *  - `scan_csv_multiline` — quoted CSV with embedded newlines,
  *    written and read back with `multiLine=true` (the CSV shape that
  *    breaks naive line-split readers).
  *  - `text_entropy` — per-document token Shannon entropy + its
  *    vocabulary-normalized form, the repetition/diversity quality
  *    signal next to `text_ttr`.
  *  - `agg_tukey` — Tukey-fence outlier census per return flag from
  *    exact quartiles.
  *  - `agg_power_law` — Hill tail-index estimator over the order-value
  *    distribution.
  *  - `llm_curriculum_order` — difficulty-scored curriculum phases
  *    (rare-word ratio + word length + doc length), the data-ordering
  *    op of curriculum-learning pipelines.
  *  - `llm_tokenizer_fertility` — tokens-per-word per language under
  *    the trained BPE merges ([[Analytics12]] chain), the
  *    tokenizer-equity audit.
  *
  * Determinism rules as in [[Analytics]]: exact integer/decimal
  * censuses as long as possible; doubles only in final closed-form
  * steps; integer ratios emitted raw; transcendental-bearing outputs
  * rounded (6 dp) inside both engines before comparison.
  */
object Analytics23 {

  // ---------------------------------------------------------------------
  // scan_csv_multiline
  // ---------------------------------------------------------------------

  /** Documents re-written with every space turned into a newline, sunk
    * to quoted CSV, and read back with `multiLine=true` — each record
    * then SPANS as many physical lines as it has tokens, so the only
    * correct parse is the quote-aware one (`multiLine` reads files
    * whole instead of splitting on line boundaries; at 100 TB that
    * costs per-file parallelism, which is why the option exists per
    * source rather than globally — the Scaladoc'd trade). Graded per
    * lang on the read-back side; the oracle derives the same census
    * from the base table (the transform is length-preserving and
    * lines = tokens). */
  def scanCsvMultiline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = graft.core.ScratchDirs.path(s, "graft_csv_multiline", dir)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        regexp_replace(col("text"), " ", "\n").as("text"))
      .write.mode("overwrite").option("header", "true").csv(path)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    s.read.schema(schema)
      .option("header", "true").option("multiLine", "true").csv(path)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        // Spark CSV reads an empty string back as NULL (default
        // nullValue "") — coalesce to '' so a zero-length document
        // counts length 0 / one split element, like the oracle.
        sum(length(coalesce(col("text"), lit("")))).cast("long")
          .as("sum_chars"),
        sum(size(split(coalesce(col("text"), lit("")), "\n")))
          .cast("long").as("sum_lines"))
  }

  // ---------------------------------------------------------------------
  // text_entropy
  // ---------------------------------------------------------------------

  /** Token-level Shannon entropy per document,
    * H = log₂n − (Σ c·log₂c)/n over the doc's token histogram, plus
    * H/log₂(distinct) — 1.0 for all-distinct docs, → 0 for loops.
    * Counts are exact integers; log₂ enters only in the final
    * closed-form step and the outputs are rounded at 6 dp inside both
    * engines. One explode + two keyed aggregations, all map-side
    * combinable. */
  def textEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_distinct"),
        round(log2(sum("c")) -
          sum(col("c") * log2(col("c"))) / sum("c"), 6).as("entropy"),
        round(when(count(lit(1)) > 1,
          (log2(sum("c")) - sum(col("c") * log2(col("c"))) / sum("c")) /
            log2(count(lit(1)))).otherwise(0.0), 6).as("norm_entropy"))

  // ---------------------------------------------------------------------
  // agg_tukey
  // ---------------------------------------------------------------------

  /** Tukey-fence outlier census per return flag: quartiles via the
    * engines' interpolated percentile (parity pinned by `agg_median`,
    * rounded at 4 dp so a quartile can never differ), fences at
    * ±1.5·IQR in plain double arithmetic ON the rounded quartiles
    * (identical IEEE ops both sides), then exact integer counts of
    * rows outside the fences. Two bounded-key aggregations. */
  def aggTukey(s: SparkSession, dir: String): DataFrame = {
    // Quartiles census-style (ExactPercentile): l_extendedprice is
    // ~97% distinct, so the Percentile aggregate's per-partition maps
    // are the whole column — bit-identical values, relational cost.
    val q = graft.operators.ExactPercentile.of(
        Tables.load(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_extendedprice"), Seq(0.25 -> "eq1", 0.75 -> "eq3"))
      .select(col("l_returnflag"),
        round(col("eq1"), 4).as("q1"), round(col("eq3"), 4).as("q3"))
      .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
      .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
    Tables.load(s, dir, "lineitem").join(broadcast(q), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(first("q1").as("q1"), first("q3").as("q3"),
        count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L))
          .as("n_below"),
        sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L))
          .as("n_above"))
  }

  // ---------------------------------------------------------------------
  // agg_power_law
  // ---------------------------------------------------------------------

  /** Hill estimator of the order-value tail index over the top k=1000
    * order statistics: α̂ = 1 + k / Σ ln(xᵢ/x_min), x_min = the k-th
    * largest value. Selection is an exact integer-ranked top-k
    * (ties broken by o_orderkey); ln appears only in the final sum
    * (the `llm_ccnet_buckets` Σln parity precedent) and α is rounded
    * at 6 dp in both engines. The top-k is `orderBy().limit(k)` —
    * Spark plans TakeOrderedAndProject (per-partition k-heaps merged
    * on the driver), so no task ever sorts the whole table; the
    * estimator itself is one bounded sum. */
  def aggPowerLaw(s: SparkSession, dir: String): DataFrame = {
    val k = 1000
    val top = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)
    top.agg(min(col("o_totalprice")).as("x_min"),
        count(lit(1)).cast("long").as("k"))
      .crossJoin(top.select(col("o_totalprice").as("x")))
      .agg(first("k").as("k"), first("x_min").as("x_min"),
        round(lit(1.0) + first("k") / sum(log(col("x") / col("x_min"))), 6)
          .as("alpha"))
  }

  // ---------------------------------------------------------------------
  // llm_curriculum_order
  // ---------------------------------------------------------------------

  /** Curriculum-learning phase assignment: difficulty =
    * 0.5·rare-word ratio + 0.3·(mean word length / 10) +
    * 0.2·min(tokens/500, 1), phases = quartiles of the global
    * (difficulty, doc_id) order, reported as a per-phase census.
    * "Rare" = corpus document frequency ≤ 2 — the corpus-wide df
    * table builds once (same shape as the tf-idf df); the quartile
    * split rides [[graft.operators.ScalableNtile]] (exact distributed
    * rank → integer NTILE formula), so no task ever sorts the whole
    * corpus — the oracle keeps native NTILE, bit-identical. Difficulty
    * is rounded at 6 dp BEFORE the split so an engine ulp cannot flip
    * a phase boundary. */
  def llmCurriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    val df = tok.select("doc_id", "t").distinct()
      .groupBy("t").agg(count(lit(1)).as("df"))
    val perDoc = tok.join(df, "t")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("df") <= 2, 1L).otherwise(0L)).as("n_rare"),
        sum(length(col("t"))).as("sum_len"))
      .withColumn("difficulty", round(
        col("n_rare") / col("n_tokens") * 0.5 +
          col("sum_len") / col("n_tokens") / 10.0 * 0.3 +
          least(col("n_tokens") / 500.0, lit(1.0)) * 0.2, 6))
    graft.operators.ScalableNtile.withNtile(
        perDoc, 4, Nil, col("difficulty"), Seq(col("doc_id")), "phase")
      .groupBy("phase")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("total_tokens"),
        min("difficulty").as("min_difficulty"),
        max("difficulty").as("max_difficulty"))
  }

  // ---------------------------------------------------------------------
  // llm_tokenizer_fertility
  // ---------------------------------------------------------------------

  /** Tokens-per-word per language under the 3-round trained BPE
    * merges — the tokenizer-equity audit (fertility ≫ 1 for a
    * language means its text pays more sequence length per word).
    * Reuses the [[Analytics12]] train+apply chain with a per-lang
    * rollup; all counts exact integers, fertility an integer ratio
    * emitted raw. */
  def llmTokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    // st0 staged once (see llmBpeApply: CTE inlining re-ran the corpus
    // tokenize 9× through the doubled stN references — plan-verified).
    val st0 = Analytics12.stageBpeSt0(s, dir)
    val words = "st0 AS (SELECT w, c, s FROM graft_fert_st0)"
    val pairs = (st: String) =>
      s"""(SELECT pr, sum(c) AS cnt FROM (
         |  SELECT c, explode(transform(slice(syms, 1, size(syms) - 1),
         |    (x, i) -> concat(x, ' ', element_at(syms, i + 2)))) AS pr
         |  FROM (SELECT c, split(trim(s), ' ') AS syms FROM $st))
         |GROUP BY pr)""".stripMargin
    val docToks =
      """SELECT lang, w FROM (
        |  SELECT lang, explode(split(text, ' ')) AS w
        |  FROM documents) WHERE w RLIKE '^[a-z]+$'""".stripMargin
    Tables.sql(s, dir, Analytics12.bpeFertilityChain(words, pairs, docToks,
      "size(split(trim(s), ' '))"), "graft_fert_st0" -> st0)
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("scan_csv_multiline", scanCsvMultiline,
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_lines
        |FROM documents GROUP BY lang""".stripMargin),
    QueryDef("text_entropy", textEntropy,
      """WITH tc AS (SELECT doc_id, t, COUNT(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |    FROM documents) x GROUP BY doc_id, t)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6) AS entropy,
        |  ROUND(CASE WHEN COUNT(*) > 1
        |    THEN (log2(SUM(c)) - SUM(c * log2(c)) / SUM(c)) / log2(COUNT(*))
        |    ELSE 0.0 END, 6) AS norm_entropy
        |FROM tc GROUP BY doc_id""".stripMargin),
    QueryDef("agg_tukey", aggTukey,
      """WITH q AS (SELECT l_returnflag,
        |             ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
        |             ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS q3
        |           FROM lineitem GROUP BY l_returnflag),
        |f AS (SELECT l_returnflag, q1, q3,
        |        q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi
        |      FROM q)
        |SELECT l.l_returnflag, f.q1, f.q3, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN l.l_extendedprice < f.lo THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_below,
        |  CAST(SUM(CASE WHEN l.l_extendedprice > f.hi THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_above
        |FROM lineitem l JOIN f ON l.l_returnflag = f.l_returnflag
        |GROUP BY l.l_returnflag, f.q1, f.q3""".stripMargin),
    QueryDef("agg_power_law", aggPowerLaw,
      """WITH top AS (SELECT o_totalprice AS x FROM orders
        |             ORDER BY o_totalprice DESC, o_orderkey LIMIT 1000),
        |m AS (SELECT MIN(x) AS x_min, CAST(COUNT(*) AS BIGINT) AS k
        |      FROM top)
        |SELECT m.k, m.x_min,
        |  ROUND(1.0 + m.k / SUM(LN(top.x / m.x_min)), 6) AS alpha
        |FROM top CROSS JOIN m GROUP BY m.k, m.x_min""".stripMargin),
    QueryDef("llm_curriculum_order", llmCurriculumOrder,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |             FROM documents),
        |df AS (SELECT t, COUNT(*) AS df FROM (
        |         SELECT DISTINCT doc_id, t FROM tok) x GROUP BY t),
        |pd AS (SELECT tok.doc_id, COUNT(*) AS n_tokens,
        |         SUM(CASE WHEN df.df <= 2 THEN 1 ELSE 0 END) AS n_rare,
        |         SUM(length(tok.t)) AS sum_len
        |       FROM tok JOIN df ON df.t = tok.t GROUP BY tok.doc_id),
        |sc AS (SELECT doc_id, n_tokens,
        |         ROUND(n_rare / CAST(n_tokens AS DOUBLE) * 0.5
        |           + sum_len / CAST(n_tokens AS DOUBLE) / 10.0 * 0.3
        |           + LEAST(n_tokens / 500.0, 1.0) * 0.2, 6) AS difficulty
        |       FROM pd),
        |ph AS (SELECT doc_id, n_tokens, difficulty,
        |         CAST(ntile(4) OVER (ORDER BY difficulty, doc_id) AS BIGINT)
        |           AS phase
        |       FROM sc)
        |SELECT phase, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  MIN(difficulty) AS min_difficulty,
        |  MAX(difficulty) AS max_difficulty
        |FROM ph GROUP BY phase""".stripMargin),
    QueryDef("llm_tokenizer_fertility", llmTokenizerFertility,
      Analytics12.bpeFertilityOracleSql))
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Tables

/** Scalar-function query surface (SURVEY §2B): string, date, math,
  * conditional, JSON, array/higher-order. Pure projections — these pin
  * per-function semantics against the oracle; no aggregation noise.
  */
object Scalars {

  /** IS NULL / IN / LIKE / BETWEEN predicate stack on part. */
  def filterPredicates(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part")
      .filter(col("p_type").like("P%")
        && col("p_size").isin(5, 10, 15, 20, 25)
        && col("p_retailprice").between(900, 1500)
        && col("p_name").isNotNull)
      .select("p_partkey", "p_name", "p_type", "p_size")

  /** String functions over customer names. */
  def scalarString(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer").select(
      col("c_custkey"),
      upper(col("c_name")).as("uname"),
      substring(col("c_name"), 1, 8).as("pre"),
      length(col("c_name")).cast("long").as("len"),
      concat(col("c_mktsegment"), lit("-"), col("c_nationkey").cast("string"))
        .as("tag"),
      expr("split_part(c_name, '#', 2)").as("numpart"),
      trim(lower(col("c_mktsegment"))).as("seg"),
      regexp_replace(col("c_name"), "0+", "0").as("squeezed"))

  /** Date functions over orders. */
  def scalarDate(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders").select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("odate"),
      year(col("o_orderdate")).cast("long").as("yr"),
      month(col("o_orderdate")).cast("long").as("mo"),
      dayofmonth(col("o_orderdate")).cast("long").as("dom"),
      dayofweek(col("o_orderdate")).cast("long").as("dow"),
      date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
      last_day(col("o_orderdate")).as("month_end"),
      datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
        .cast("long").as("days_to_2002"))

  /** Math functions over lineitem. */
  def scalarMath(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice").cast(DecimalType(18,4)) * (lit(1) - col("l_discount")).cast(DecimalType(8,4))).cast("double").as("net"),
      round(abs(col("l_discount") - col("l_tax")), 4).as("absdiff"),
      round(log(col("l_extendedprice")), 4).as("ln_price"),
      round(sqrt(col("l_quantity")), 4).as("sqrt_qty"),
      floor(col("l_extendedprice")).cast("long").as("floor_price"),
      ceil(col("l_quantity")).cast("long").as("ceil_qty"),
      round(pow(col("l_quantity"), 2), 4).as("qty_sq"))

  /** Bit ops, trig, sign, greatest/least — the long tail of scalar
    * coverage. Trig outputs are irrational, so a round(6) can never sit
    * on a midpoint; bit ops are exact integers. */
  def scalarMisc(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_orderkey").bitwiseAND(lit(255L))).as("key_and"),
      (col("l_orderkey").bitwiseOR(col("l_linenumber"))).as("key_or"),
      (col("l_orderkey").bitwiseXOR(col("l_linenumber"))).as("key_xor"),
      shiftleft(col("l_linenumber"), 3).cast("long").as("ln_shl"),
      round(sin(col("l_quantity")), 6).as("sin_qty"),
      round(cos(col("l_quantity")), 6).as("cos_qty"),
      round(atan2(col("l_quantity"), col("l_linenumber")), 6).as("atan2_ql"),
      signum(col("l_discount") - col("l_tax")).cast("long").as("sign_dt"),
      greatest(col("l_quantity"), col("l_linenumber").cast("double"))
        .as("g_ql"),
      least(col("l_discount"), col("l_tax")).as("l_dt"))

  /** when/otherwise, coalesce, nullif. */
  def scalarConditional(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders").select(
      col("o_orderkey"),
      when(col("o_totalprice") > 300000, "high")
        .when(col("o_totalprice") > 150000, "mid")
        .otherwise("low").as("bucket"),
      coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open"))
        .as("status2"),
      (col("o_orderpriority") === "1-URGENT").as("is_urgent"))

  /** JSON extraction from events.props (both get_json_object and a
    * schema-full from_json path must agree). */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events").select(
      col("event_id"),
      get_json_object(col("props"), "$.k").as("k_str"),
      get_json_object(col("props"), "$.k").cast("long").as("k_num"),
      from_json(col("props"), lit("k LONG")).getField("k").as("k_struct"))

  /** Spark 4 VARIANT path over the same payloads: parse_json once into
    * a variant column (staged behind a projection boundary), then typed
    * variant_get extraction — the open-schema ingestion surface that
    * replaces rigid from_json schemas for semi-structured 100 TB feeds
    * (shredded storage + lazy per-path access instead of a full struct
    * materialization per row). A missing path surfaces null, not an
    * error, under variant_get's try semantics here. */
  def jsonVariant(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_id"), expr("parse_json(props)").as("v"))
      .select(
        col("event_id"),
        expr("variant_get(v, '$.k', 'long')").as("k_long"),
        expr("variant_get(v, '$.k', 'double')").as("k_double"),
        expr("try_variant_get(v, '$.missing', 'long')").as("k_missing"))

  /** Array + higher-order functions over the embedding column. The
    * fold casts each float element to double *before* multiplying so the
    * oracle (which has no float arithmetic surprises) sees identical
    * IEEE operations in identical order. */
  def arrayOps(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings").select(
      col("vec_id"),
      size(col("embedding")).cast("long").as("dim"),
      round(element_at(col("embedding"), 1).cast("double"), 6).as("e1"),
      round(element_at(col("embedding"), -1).cast("double"), 6).as("e_last"),
      round(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")), 6)
        .as("norm2"),
      round(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double")), 6).as("sum_e"))

  /** Map-type functions: construction, key access (missing key → null
    * under non-ANSI element_at), cardinality. */
  def scalarMap(s: SparkSession, dir: String): DataFrame = {
    val m = map(lit("qty"), col("l_quantity"), lit("disc"), col("l_discount"))
    Tables.load(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      element_at(m, "qty").as("qty_val"),
      element_at(m, "disc").as("disc_val"),
      element_at(m, "missing").isNull.as("missing_is_null"),
      size(map_keys(m)).cast("long").as("n_keys"))
  }

  /** Struct-type functions: construction, field access, nested struct. */
  def scalarStruct(s: SparkSession, dir: String): DataFrame = {
    val pricing = struct(col("l_extendedprice").as("price"),
      col("l_discount").as("disc"))
    val nested = struct(pricing.as("pricing"), col("l_returnflag").as("flag"))
    Tables.load(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      pricing.getField("price").as("price_out"),
      nested.getField("pricing").getField("disc").as("disc_out"),
      nested.getField("flag").as("flag_out"))
  }

  /** Bitwise scalar surface over part keys: AND/OR/XOR/NOT, shifts,
    * popcount — pure integer ops, bit-identical by construction. The
    * xor and shift SPELLINGS differ per dialect (Spark `^`/shiftleft,
    * DuckDB `xor()`/`<<`); semantics are two's-complement BIGINT on
    * both. */
  def scalarBitwise(s: SparkSession, dir: String): DataFrame = {
    Tables.sql(s, dir,
      """SELECT p_partkey,
        |  p_partkey & 170 AS band, p_partkey | 85 AS bor,
        |  p_partkey ^ 204 AS bxor, ~p_partkey AS bnot,
        |  shiftleft(p_partkey, 2) AS shl, shiftright(p_partkey, 1) AS shr,
        |  bit_count(p_partkey) AS bcnt
        |FROM part WHERE p_partkey < 512""".stripMargin)
  }

  /** Generator surface: explode tokens, global top-20 token counts. */
  def explodeTokens(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  val queries: Seq[QueryDef] = Seq(
    QueryDef("filter_predicates", filterPredicates,
      """SELECT p_partkey, p_name, p_type, p_size FROM part
        |WHERE p_type LIKE 'P%' AND p_size IN (5, 10, 15, 20, 25)
        |  AND p_retailprice BETWEEN 900 AND 1500 AND p_name IS NOT NULL""".stripMargin),
    QueryDef("scalar_string", scalarString,
      """SELECT c_custkey, UPPER(c_name) AS uname, SUBSTRING(c_name, 1, 8) AS pre,
        |  LENGTH(c_name) AS len,
        |  CONCAT(c_mktsegment, '-', CAST(c_nationkey AS VARCHAR)) AS tag,
        |  SPLIT_PART(c_name, '#', 2) AS numpart,
        |  TRIM(LOWER(c_mktsegment)) AS seg,
        |  REGEXP_REPLACE(c_name, '0+', '0', 'g') AS squeezed
        |FROM customer""".stripMargin),
    QueryDef("scalar_date", scalarDate,
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate,
        |  YEAR(o_orderdate) AS yr, MONTH(o_orderdate) AS mo,
        |  DAYOFMONTH(o_orderdate) AS dom, DAYOFWEEK(o_orderdate) + 1 AS dow,
        |  CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
        |  LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
        |  DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002
        |FROM orders""".stripMargin),
    QueryDef("scalar_math", scalarMath,
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4)) AS DOUBLE) AS net,
        |  ROUND(ABS(l_discount - l_tax), 4) AS absdiff,
        |  ROUND(LN(l_extendedprice), 4) AS ln_price,
        |  ROUND(SQRT(l_quantity), 4) AS sqrt_qty,
        |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS floor_price,
        |  CAST(CEIL(l_quantity) AS BIGINT) AS ceil_qty,
        |  ROUND(POW(l_quantity, 2), 4) AS qty_sq
        |FROM lineitem""".stripMargin),
    QueryDef("scalar_misc", scalarMisc,
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey & 255 AS key_and,
        |  l_orderkey | l_linenumber AS key_or,
        |  xor(l_orderkey, l_linenumber) AS key_xor,
        |  CAST(l_linenumber << 3 AS BIGINT) AS ln_shl,
        |  ROUND(SIN(l_quantity), 6) AS sin_qty,
        |  ROUND(COS(l_quantity), 6) AS cos_qty,
        |  ROUND(ATAN2(l_quantity, l_linenumber), 6) AS atan2_ql,
        |  CAST(SIGN(l_discount - l_tax) AS BIGINT) AS sign_dt,
        |  GREATEST(l_quantity, CAST(l_linenumber AS DOUBLE)) AS g_ql,
        |  LEAST(l_discount, l_tax) AS l_dt
        |FROM lineitem""".stripMargin),
    QueryDef("scalar_conditional", scalarConditional,
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 300000 THEN 'high'
        |       WHEN o_totalprice > 150000 THEN 'mid' ELSE 'low' END AS bucket,
        |  COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status2,
        |  o_orderpriority = '1-URGENT' AS is_urgent
        |FROM orders""".stripMargin),
    QueryDef("json_extract", jsonExtract,
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct
        |FROM events""".stripMargin),
    QueryDef("json_variant", jsonVariant,
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long,
        |  CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_double,
        |  CAST(json_extract_string(props, '$.missing') AS BIGINT) AS k_missing
        |FROM events""".stripMargin),
    QueryDef("array_ops", arrayOps,
      """SELECT vec_id, len(embedding) AS dim,
        |  ROUND(CAST(embedding[1] AS DOUBLE), 6) AS e1,
        |  ROUND(CAST(embedding[-1] AS DOUBLE), 6) AS e_last,
        |  ROUND(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS norm2,
        |  ROUND(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE))), 6) AS sum_e
        |FROM embeddings""".stripMargin),
    QueryDef("scalar_map", scalarMap,
      """SELECT l_orderkey, l_linenumber,
        |  CAST((MAP(['qty','disc'], [l_quantity, l_discount])['qty'])[1] AS DOUBLE) AS qty_val,
        |  CAST((MAP(['qty','disc'], [l_quantity, l_discount])['disc'])[1] AS DOUBLE) AS disc_val,
        |  (MAP(['qty','disc'], [l_quantity, l_discount])['missing'])[1] IS NULL AS missing_is_null,
        |  CAST(cardinality(MAP(['qty','disc'], [l_quantity, l_discount])) AS BIGINT) AS n_keys
        |FROM lineitem""".stripMargin),
    QueryDef("scalar_struct", scalarStruct,
      """SELECT l_orderkey, l_linenumber,
        |  ({'price': l_extendedprice, 'disc': l_discount}).price AS price_out,
        |  ({'pricing': {'price': l_extendedprice, 'disc': l_discount},
        |    'flag': l_returnflag}).pricing.disc AS disc_out,
        |  ({'pricing': {'price': l_extendedprice, 'disc': l_discount},
        |    'flag': l_returnflag}).flag AS flag_out
        |FROM lineitem""".stripMargin),
    QueryDef("scalar_bitwise", scalarBitwise,
      """SELECT p_partkey,
        |  p_partkey & 170 AS band, p_partkey | 85 AS bor,
        |  xor(p_partkey, 204) AS bxor, ~p_partkey AS bnot,
        |  p_partkey << 2 AS shl, p_partkey >> 1 AS shr,
        |  CAST(bit_count(p_partkey) AS INTEGER) AS bcnt
        |FROM part WHERE p_partkey < 512""".stripMargin),
    QueryDef("explode_tokens", explodeTokens,
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin))
}

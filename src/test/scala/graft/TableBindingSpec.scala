package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.core.Tables

/** `Tables.sql` binds table names to plans, not to session state: a
  * query run at two scales at once, or beside session views that share
  * the fixture names, reads only its own `dir`; the rule reaches CTE
  * bodies and subqueries; a CTE that would shadow a bound name is an
  * error. */
class TableBindingSpec extends SparkTestBase {

  private val sf01 = "/root/testdata/sf0.01"

  /** Rows as sorted strings, doubles rounded to 6 places — the oracle's
    * canonical form; the last bits of a double sum vary run to run. */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double if !d.isNaN && !d.isInfinite =>
        BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toString
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def run(name: String, dir: String): Seq[String] =
    canon(SparkEntry.queries(name)(spark, dir))

  test("one query at two scales from two threads: each answer is its own scale's") {
    val scales = Seq(sf, sf01)
    val pool = Executors.newFixedThreadPool(scales.size)
    try {
      for (name <- Seq("agg_cpk", "agg_rollup", "win_donchian")) {
        val alone = scales.map(d => d -> run(name, d)).toMap
        assert(alone(sf) != alone(sf01), s"$name: the two scales agree")
        val wrong = scales.map { d =>
          pool.submit(new Callable[Int] {
            def call(): Int = (1 to 20).count(_ => run(name, d) != alone(d))
          })
        }.map(_.get(5, TimeUnit.MINUTES)).sum
        assert(wrong == 0, s"$name: $wrong of 40 answers were not their scale's")
      }
    } finally pool.shutdown()
  }

  test("session views named like the fixture tables do not capture a bound query") {
    val names = Seq("agg_rollup", "agg_cpk", "subq_correlated")
    val expected = names.map(run(_, sf01))
    Tables.registerAll(spark, sf)
    try assert(names.map(run(_, sf01)) == expected)
    finally Tables.names.foreach(spark.catalog.dropTempView)
  }

  /** Root paths of every file relation in the analyzed plan, subqueries
    * and CTE definitions included. */
  private def scannedPaths(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten

  test("fixture names in CTEs, subqueries, LATERAL and self-joins bind to dir") {
    val texts = Seq(
      "WITH o AS (SELECT o_orderkey FROM orders) SELECT count(*) FROM o",
      """SELECT count(*) FROM orders o WHERE o_totalprice >
        |  (SELECT avg(o2.o_totalprice) FROM orders o2
        |   WHERE o2.o_custkey = o.o_custkey)""".stripMargin,
      """SELECT count(*) FROM orders o WHERE EXISTS
        |  (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)""".stripMargin,
      """SELECT count(*), sum(mq) FROM orders o,
        |  LATERAL (SELECT max(l_quantity) AS mq FROM lineitem
        |           WHERE l_orderkey = o.o_orderkey)""".stripMargin,
      """SELECT count(*) FROM orders a JOIN orders b
        |  ON a.o_custkey = b.o_custkey""".stripMargin,
      """SELECT count(*) FROM (WITH l AS (SELECT l_orderkey FROM lineitem)
        |  SELECT * FROM l WHERE l_orderkey IN (SELECT o_orderkey FROM orders))""".stripMargin)
    Tables.registerAll(spark, sf01)
    val expected = try texts.map(t => canon(spark.sql(t)))
      finally Tables.names.foreach(spark.catalog.dropTempView)
    Tables.registerAll(spark, sf)
    try {
      texts.zip(expected).foreach { case (text, want) =>
        val df = Tables.sql(spark, sf01, text)
        val paths = scannedPaths(df)
        assert(paths.nonEmpty && paths.forall(_.contains("/sf0.01/")),
          s"scans outside $sf01: $paths\n$text")
        assert(canon(df) == want, text)
      }
    } finally Tables.names.foreach(spark.catalog.dropTempView)
  }

  test("a CTE that shadows a bound name is an error naming it") {
    val e = intercept[IllegalArgumentException](
      Tables.sql(spark, sf, "WITH orders AS (SELECT 1 AS x) SELECT x FROM orders"))
    assert(e.getMessage.contains("`orders`"))
    val f = intercept[IllegalArgumentException](Tables.sql(spark, sf,
      "SELECT * FROM (WITH hist AS (SELECT 1 AS x) SELECT x FROM hist)",
      "hist" -> spark.range(1).toDF()))
    assert(f.getMessage.contains("`hist`"))
  }
}

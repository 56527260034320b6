package graft

/** Every registered query runs at sf0.001, (except the legitimately
  * sparse near-dup outputs) returns rows, and leaves the session's
  * temporary views as it found them: queries bind their tables through
  * `graft.core.Tables.sql`, not through session-global view names.
  * Complements the driver's sf0.01 oracle gate with a fast local smoke. */
class QuerySmokeSpec extends SparkTestBase {

  private val mayBeEmpty = Set(
    "llm_ngram_jaccard", "llm_minhash_neardup", "llm_embed_neardup",
    "stream_late_drop", "join_anti")

  /** The queries that register a temp view by design: SQL texts that
    * only `spark.sql` itself can bind (a `BEGIN … END` script,
    * `EXECUTE IMMEDIATE`), and streaming queries whose memory sink is a
    * view named after the query. */
  private val registersViews = Set(
    "sql_scripting", "sql_execute_immediate",
    "stream_available_now", "stream_dsv2", "stream_timer_sessions")

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).toSet

  test("oracle coverage: every query has an oracle SQL twin") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val before = tempViews()
      val n = fn(spark, sf).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
      if (!registersViews(name)) {
        val after = tempViews()
        assert(after == before, s"$name changed the session's temp views: " +
          s"added ${after -- before}, removed ${before -- after}")
      }
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}

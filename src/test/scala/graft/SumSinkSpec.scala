package graft

import org.apache.spark.sql.functions._

import graft.sources.SumSink

/** Commit-protocol pins for the custom DSv2 sink: a successful write
  * publishes the exact distributed aggregate via driver-side commit;
  * a mid-write task failure aborts the job and publishes NOTHING. */
class SumSinkSpec extends SparkTestBase {

  private def events =
    graft.core.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"))

  test("successful write publishes merged task partials on driver commit") {
    SumSink.results.remove("ok")
    events.repartition(7)
      .write.format("graft.sources.SumSink")
      .option("key", "ok").option("sumCol", "event_id")
      .mode("append").save()
    val expected = events.agg(count(lit(1)), sum("event_id")).head()
    assert(SumSink.results.get("ok") ===
      ((expected.getLong(0), expected.getLong(1))))
  }

  test("streaming write: checkpointed restart re-publishes nothing (exactly-once)") {
    import org.apache.spark.sql.streaming.Trigger
    SumSink.results.remove("stream")
    SumSink.epochs.remove("stream")
    val ck = tempDir("graft_sumsink_ck").toString
    def runOnce(): Unit = {
      val q = graft.streaming.StreamingOps.eventsStream(spark, sf)
        .select(col("event_id"))
        .writeStream.format("graft.sources.SumSink")
        .option("key", "stream").option("sumCol", "event_id")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val expected = events.agg(count(lit(1)), sum("event_id")).head()
    val first = SumSink.results.get("stream")
    assert(first === ((expected.getLong(0), expected.getLong(1))))
    // Same checkpoint, unchanged input: the offset log yields no new
    // epochs with data, so the published totals must not change.
    runOnce()
    assert(SumSink.results.get("stream") === first,
      "restart over an unchanged source must not re-publish")
  }

  test("mid-write task failure aborts the job and publishes nothing") {
    SumSink.results.remove("boom")
    val err = intercept[Exception] {
      events.repartition(7)
        .write.format("graft.sources.SumSink")
        .option("key", "boom").option("sumCol", "event_id")
        .option("failAtRow", "123")
        .mode("append").save()
    }
    assert(err.getMessage != null)
    assert(!SumSink.results.containsKey("boom"),
      "aborted write must not publish a partial result")
  }
}

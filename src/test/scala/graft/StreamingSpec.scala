package graft

import graft.core.Tables
import graft.streaming.StreamingOps

/** Drives the SAME transforms the batch oracle checks through real
  * Structured Streaming execution (file source → state → memory sink). */
class StreamingSpec extends SparkTestBase {

  private def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("tumbling windows: streaming (complete mode) equals batch") {
    val q = StreamingOps.tumbling(StreamingOps.eventsStream(spark, sf))
      .writeStream.outputMode("complete")
      .format("memory").queryName("graft_tumb").start()
    try {
      q.processAllAvailable()
      val streamed = canon(spark.table("graft_tumb"))
      val batch = canon(StreamingOps.tumbling(Tables.load(spark, sf, "events")))
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("keyed dedup: streaming state emits one row per key") {
    val q = StreamingOps.dedupStreaming(StreamingOps.eventsStream(spark, sf))
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_dedup").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("graft_dedup").count()
      val batch = StreamingOps.dedupFirstPerKey(
        Tables.load(spark, sf, "events")).count()
      assert(streamed == batch && streamed > 0)
    } finally q.stop()
  }

  test("flatMapGroupsWithState anomalies: streaming equals batch") {
    import graft.streaming.StatefulOps
    import spark.implicits._
    val streamEv = StreamingOps.eventsStream(spark, sf)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("value"))
      .as[StatefulOps.Ev]
    val q = StatefulOps.anomalies(streamEv).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_anom").start()
    try {
      q.processAllAvailable()
      val streamed = canon(spark.table("graft_anom"))
      val batch = canon(StatefulOps.anomalies(
        StatefulOps.eventsTyped(spark, sf)).toDF())
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("transformWithState on RocksDB state store: streaming equals batch") {
    import graft.streaming.StatefulOps
    import spark.implicits._
    // transformWithState's streaming path requires the RocksDB provider
    // — which is also the right store at scale (disk-backed state,
    // changelog checkpointing); scope the conf and restore after.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val streamEv = StreamingOps.eventsStream(spark, sf)
        .select(org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.col("value"))
        .as[StatefulOps.Ev]
      val q = StatefulOps.newHighs(streamEv).toDF()
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_tws").start()
      try {
        q.processAllAvailable()
        val streamed = canon(spark.table("graft_tws"))
        val batch = canon(StatefulOps.newHighs(
          StatefulOps.eventsTyped(spark, sf)).toDF())
        assert(streamed == batch && streamed.nonEmpty)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming CUSUM final state equals the batch fold") {
    import graft.streaming.StatefulOps
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val streamEv = StreamingOps.eventsStream(spark, sf)
        .select(org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.col("value"))
        .as[StatefulOps.Ev]
      val q = StatefulOps.cusum(streamEv).toDF()
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_tws_cusum").start()
      try {
        q.processAllAvailable()
        // a streaming run emits one row per (key, batch); the FINAL row
        // per key (largest n_events) must equal the batch fold
        val streamed = spark.table("graft_tws_cusum").collect()
          .groupBy(_.getAs[Long]("user_id"))
          .map { case (_, rows) => rows.maxBy(_.getAs[Long]("n_events")) }
          .map(_.mkString("|")).toSet
        val batch = canon(StatefulOps.cusum(
          StatefulOps.eventsTyped(spark, sf)).toDF())
        assert(streamed == batch && streamed.nonEmpty)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-stream join: signups joined to later errors per user") {
    import org.apache.spark.sql.functions._
    def side(tpe: String, prefix: String) =
      StreamingOps.eventsStream(spark, sf)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${prefix}_user"),
          col("ts").as(s"${prefix}_ts"),
          col("event_id").as(s"${prefix}_id"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    val joined = side("signup", "s")
      .join(side("error", "e"),
        expr("""s_user = e_user AND e_ts > s_ts
                AND e_ts <= s_ts + INTERVAL 2 HOURS""")) // time-bounded state
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("graft_ss_join").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("graft_ss_join").count()
      val e = graft.core.Tables.load(spark, sf, "events")
      val su = e.filter(col("event_type") === "signup")
        .select(col("user_id").as("su"), col("ts").as("s_ts"))
      val er = e.filter(col("event_type") === "error")
        .select(col("user_id").as("eu"), col("ts").as("e_ts"))
      val batch = su.join(er, col("su") === col("eu")
        && col("e_ts") > col("s_ts")
        && col("e_ts") <= col("s_ts") + expr("INTERVAL 2 HOURS")).count()
      assert(streamed == batch && streamed > 0)
    } finally q.stop()
  }

  test("stream-static join: streaming aggregate equals the batch query") {
    import org.apache.spark.sql.functions._
    val customers = graft.core.Tables.load(spark, sf, "customer")
    val streamed = StreamingOps.streamStaticJoin(
      StreamingOps.eventsStream(spark, sf), customers)
    val q = streamed.writeStream.outputMode("complete")
      .format("memory").queryName("graft_ss_static").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Number]("c_nationkey").longValue,
          r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))
      val got = spark.table("graft_ss_static").collect().map(key).toSet
      val want = SparkEntry.queries("stream_static_join")(spark, sf)
        .collect().map(key).toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("stream anti-dedup: streaming counts equal the batch query") {
    import org.apache.spark.sql.functions._
    val seen = graft.core.Tables.load(spark, sf, "events")
    val streamed = StreamingOps.streamAntiDedup(
      StreamingOps.eventsStream(spark, sf), seen)
    val q = streamed.writeStream.outputMode("complete")
      .format("memory").queryName("graft_anti_dedup").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[String]("event_type"), r.getAs[Long]("n_in"),
          r.getAs[Long]("n_dropped"), r.getAs[Long]("n_kept"))
      val got = spark.table("graft_anti_dedup").collect().map(key).toSet
      val want = SparkEntry.queries("stream_anti_dedup")(spark, sf)
        .collect().map(key).toSet
      assert(got == want && got.nonEmpty)
      // the fixture carries real duplicate deliveries
      assert(got.exists(_._3 > 0))
    } finally q.stop()
  }

  test("stateful anti-dedup: state-store digest set equals the " +
      "join-shape verdicts when driven through streaming") {
    import graft.streaming.StatefulOps
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      // One AvailableNow-style drain of the whole fixture: every row
      // of a digest lands in one micro-batch, where the state-store
      // semantics and the static-join semantics provably agree.
      val streamEv = StreamingOps.eventsStream(spark, sf)
        .select(
          md5(concat_ws("|", col("user_id"), col("event_type"),
            col("props"))).as("digest"),
          col("event_type"),
          (col("event_id") % 5 === 0).as("is_seen"))
        .as[StatefulOps.DigestEv]
      val q = StatefulOps.antiDedupStateful(streamEv).toDF()
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_anti_state").start()
      try {
        q.processAllAvailable()
        val got = spark.table("graft_anti_state")
          .groupBy("event_type")
          .agg((sum("n_dropped") + sum("n_kept")).as("n_in"),
            sum("n_dropped").as("n_dropped"), sum("n_kept").as("n_kept"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSet
        val want = SparkEntry.queries("stream_anti_dedup")(spark, sf)
          .collect()
          .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_in"),
            r.getAs[Long]("n_dropped"), r.getAs[Long]("n_kept"))).toSet
        assert(got == want && got.nonEmpty)
        assert(got.exists(_._3 > 0)) // real duplicate deliveries exist
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("session windows: append-mode emissions are a subset of batch sessions") {
    val q = StreamingOps.sessionized(StreamingOps.eventsStream(spark, sf))
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_sess").start()
    try {
      q.processAllAvailable()
      val streamed = canon(spark.table("graft_sess"))
      val batch = canon(StreamingOps.sessionized(Tables.load(spark, sf, "events")))
      // the final watermark withholds the trailing sessions
      assert(streamed.nonEmpty && streamed.subsetOf(batch))
    } finally q.stop()
  }
}

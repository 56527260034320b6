package graft

import org.apache.spark.sql.Encoders

import graft.streaming.StatefulOps

/** Kill/restart checkpoint-recovery soak for the `transformWithState`
  * (stream_tws_*) family on the RocksDB state store — the failure mode
  * the other streaming specs assert but never exercise: a query dies
  * between micro-batches and a NEW query resumes from the durable
  * checkpoint. Each test stages a first tranche of files, runs a query
  * to quiescence, STOPS it, appends a second tranche crafted so the
  * correct output is only producible if the per-key state (ValueState
  * running max / MapState counters) was actually restored from the
  * RocksDB changelog — a fresh store would emit provably different
  * rows (wrong prev_max, undercounted totals), not just fewer. */
class StateRecoverySpec extends SparkTestBase {
  import spark.implicits._

  private def withRocksDb[T](f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def stage(dir: java.io.File, rows: Seq[StatefulOps.Ev]): Unit =
    rows.toDF().coalesce(1).write.mode("append")
      .parquet(dir.getAbsolutePath)

  /** One query incarnation: file source → processor → parquet FILE
    * sink (the fault-tolerant sink class — the memory sink refuses to
    * recover from a checkpoint), driven to quiescence against the
    * SHARED checkpoint + output dir, then stopped (the "kill").
    * Returns the CUMULATIVE sink contents. */
  private def incarnation[O](src: java.io.File, ck: java.io.File,
      out: java.io.File)(
      pipe: org.apache.spark.sql.Dataset[StatefulOps.Ev] =>
        org.apache.spark.sql.Dataset[O]): org.apache.spark.sql.DataFrame = {
    val in = spark.readStream
      .schema(Encoders.product[StatefulOps.Ev].schema)
      .parquet(src.getAbsolutePath).as[StatefulOps.Ev]
    val q = pipe(in).toDF().writeStream.outputMode("append")
      .option("checkpointLocation", ck.getAbsolutePath)
      .format("parquet").option("path", out.getAbsolutePath).start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(out.getAbsolutePath)
  }

  test("ValueState (running max) survives kill/restart: prev_max " +
      "comes from the pre-kill tranche") {
    withRocksDb {
      val root = tempDir("graft_recov_vs").toFile
      val src = new java.io.File(root, "src"); src.mkdirs()
      val ck = new java.io.File(root, "ck")
      val out = new java.io.File(root, "out")
      stage(src, Seq(StatefulOps.Ev(1L, 1L, 10.0),
        StatefulOps.Ev(1L, 2L, 20.0), StatefulOps.Ev(2L, 3L, 100.0)))
      val a = incarnation(src, ck, out)(StatefulOps.newHighs)
        .as[StatefulOps.NewHigh].collect().toSet
      // first value per key only initializes state
      assert(a == Set(StatefulOps.NewHigh(1L, 2L, 20.0, 10.0)))

      // post-restart tranche: 15 < recovered max 20 must stay silent;
      // 25 must carry prev_max = 20 (a LOST store would re-initialize
      // on 15 and emit prev_max = 15); 50 < user 2's recovered 100.
      stage(src, Seq(StatefulOps.Ev(1L, 4L, 15.0),
        StatefulOps.Ev(1L, 5L, 25.0), StatefulOps.Ev(2L, 6L, 50.0)))
      val b = incarnation(src, ck, out)(StatefulOps.newHighs)
        .as[StatefulOps.NewHigh].collect().toSet
      assert(b == a + StatefulOps.NewHigh(1L, 5L, 25.0, 20.0),
        s"state not recovered from checkpoint: $b")
    }
  }

  test("MapState (per-type counters) survives kill/restart: totals " +
      "continue from the pre-kill tranche") {
    withRocksDb {
      val root = tempDir("graft_recov_ms").toFile
      val src = new java.io.File(root, "src"); src.mkdirs()
      val ck = new java.io.File(root, "ck")
      val out = new java.io.File(root, "out")
      val typed = (ds: org.apache.spark.sql.Dataset[StatefulOps.Ev]) =>
        StatefulOps.typeCounts(ds.map(e => StatefulOps.EvTyped(
          e.user_id, e.event_id, if (e.value < 50) "click" else "buy")))
      stage(src, Seq(StatefulOps.Ev(1L, 1L, 1.0),
        StatefulOps.Ev(1L, 2L, 2.0), StatefulOps.Ev(1L, 3L, 99.0)))
      val a = incarnation(src, ck, out)(typed)
        .as[StatefulOps.TypeCount].collect().toSet
      assert(a == Set(StatefulOps.TypeCount(1L, "click", 2L),
        StatefulOps.TypeCount(1L, "buy", 1L)))

      // one more click: the restarted incarnation must report
      // click = 3 AND re-emit buy = 1 from the restored map — a
      // fresh store would say click = 1 and know nothing of buys.
      stage(src, Seq(StatefulOps.Ev(1L, 4L, 3.0)))
      val b = incarnation(src, ck, out)(typed)
        .as[StatefulOps.TypeCount].collect().toSet
      assert(b == a + StatefulOps.TypeCount(1L, "click", 3L),
        s"MapState not recovered from checkpoint: $b")
    }
  }
}

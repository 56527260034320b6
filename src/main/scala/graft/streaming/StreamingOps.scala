package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import graft.QueryDef
import graft.core.{ScratchDirs, Tables}

/** Streaming surface over `events` (SURVEY §2B [EXTENSION]): tumbling /
  * sliding / session windows with a watermark, keyed dedup, late-data
  * handling.
  *
  * Every transform takes a DataFrame and works on BOTH batch and
  * streaming inputs — Structured Streaming's core unification. The
  * graded queries run them in batch mode (DuckDB can't run a stream;
  * the window definitions are oracle-checked on identical input), and
  * StreamingSpec drives the same transforms through readStream +
  * memory sink to pin streaming execution itself.
  */
object StreamingOps {

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  /** The events table as a file stream (same ts normalization as
    * Tables.load; schema discovered from the parquet footer). */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet").schema
    // Driver fixtures ship events.parquet as a single FILE (stream the
    // parent dir, glob-filtered to it); Spark-written fixtures (the
    // local sf1 set) ship a DIRECTORY of part files (stream the
    // directory itself — the glob filter would match no files and the
    // source would silently emit an empty stream).
    val f = new java.io.File(s"$dir/events.parquet")
    val src =
      if (f.isDirectory) s.readStream.schema(raw).parquet(f.getAbsolutePath)
      else s.readStream.schema(raw)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
    src.withColumn("ts", graft.core.Tables.normalizedTs(raw))
  }

  /** Tumbling 1-hour windows with a 10-minute watermark. */
  def tumbling(e: DataFrame): DataFrame =
    e.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      // Decimal-pinned: a plain double SUM is accumulation-order-
      // dependent across engines (same rule as stream_available_now).
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
      .select(date_format(col("w.start"), fmt).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Approx-distinct users per tumbling window: the HLL++ sketch is a
    * mergeable declarative aggregate, so it runs inside streaming
    * state the same way count does — the way a stream reports
    * unique-visitor windows without keeping user sets in state. The
    * graded twin bounds-checks the sketch against the exact distinct
    * (batch-only; a live stream would emit the sketch value alone). */
  def hllWindow(e: DataFrame): DataFrame =
    e.withWatermark("ts", "10 minutes")
      // Dedup-first, then count + sketch the deduped keys: spelled as
      // countDistinct + approx_count_distinct in ONE aggregate, the
      // planner's distinct-agg rewrite keyed the partial aggregation
      // by (window, user_id) and carried the 400-word HLL buffer PER
      // PAIR through the exchange — ~3 KB per distinct pair of pure
      // buffer traffic. Deduped first, the sketch exists per WINDOW
      // only. Values are identical: count over deduped keys IS the
      // distinct count, and an HLL sketch is duplicate-insensitive
      // (inserting a value once or n times yields the same state).
      .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("__dup"))
      .groupBy(col("w"))
      .agg(count(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
      .select(date_format(col("w.start"), fmt).as("win_start"),
        col("n_exact"),
        (abs(col("n_approx") - col("n_exact")) <=
          col("n_exact") * 0.05 + lit(5)).as("approx_ok"))

  /** Sliding 1-hour windows every 30 minutes. */
  def sliding(e: DataFrame): DataFrame =
    e.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), fmt).as("win_start"),
        col("event_type"), col("n"))

  /** Per-user session windows with a 30-minute inactivity gap. */
  def sessionized(e: DataFrame): DataFrame =
    e.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("sess"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("sess.start"), fmt).as("sess_start"),
        col("n_events"))

  /** Keyed dedup: streaming uses state-backed dropDuplicates within the
    * watermark; the deterministic batch twin keeps the first event_id
    * per key (what dropDuplicates converges to under ordered arrival). */
  def dedupFirstPerKey(e: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    e.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("first_event_id"))
  }

  /** Streaming-native dedup for the spec (state + watermark). */
  def dedupStreaming(e: DataFrame): DataFrame =
    e.withWatermark("ts", "10 minutes")
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** Late-data detection in arrival order (event_id): an event is late
    * when it sits >10 min behind the running high-watermark. The batch
    * twin uses a global running max — intentionally mirroring the
    * stream's single global watermark (this is a diagnostic query, not
    * a scale path; the streaming engine keeps the same state in O(1)). */
  def lateDrop(e: DataFrame): DataFrame = {
    val w = Window.orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    e.withColumn("hwm", max(col("ts")).over(w))
      .filter(col("ts") < col("hwm") - expr("INTERVAL 10 MINUTES"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), fmt).as("ts_str"),
        date_format(col("hwm"), fmt).as("hwm_str"))
  }

  /** Stream-stream interval join: each click joined to that user's
    * errors in the following hour. In streaming both sides carry a
    * watermark and the time-range condition bounds the state each side
    * must hold (Structured Streaming prunes click state once the error
    * watermark passes click_ts + 1h); the batch twin is a plain
    * self-join on the identical predicate. */
  /** Stream-stream LEFT OUTER join: every click, matched to errors in
    * its following hour — or emitted with nulls once the watermark
    * guarantees no match can still arrive. The interval condition plus
    * both-side watermarks is exactly what lets Structured Streaming
    * bound the outer side's state and emit the null rows at watermark
    * passage; in the graded batch run the same plan degenerates to a
    * plain left outer join, which is the invariant the oracle checks. */
  def streamLeftOuterJoin(e: DataFrame): DataFrame = {
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id").as("err_user"), col("event_id").as("error_id"),
        col("ts").as("error_ts"))
      .withWatermark("error_ts", "10 minutes")
    clicks.join(errors,
        col("user_id") === col("err_user")
          && col("error_ts") >= col("click_ts")
          && col("error_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("user_id"), col("click_id"), col("error_id"),
        date_format(col("click_ts"), fmt).as("click_time"),
        col("error_id").isNotNull.as("matched"))
  }

  /** Stream-stream FULL OUTER join — both sides' unmatched rows emit
    * once the watermark passes them; the batch twin is a plain full
    * outer join with the same interval condition. Completes the
    * streaming join surface (inner / left outer / full outer are the
    * three outer-ness modes Structured Streaming supports with
    * event-time bounds). */
  def streamFullOuterJoin(e: DataFrame): DataFrame = {
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id").as("err_user"), col("event_id").as("error_id"),
        col("ts").as("error_ts"))
      .withWatermark("error_ts", "10 minutes")
    clicks.join(errors,
        col("user_id") === col("err_user")
          && col("error_ts") >= col("click_ts")
          && col("error_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "full_outer")
      .select(coalesce(col("user_id"), col("err_user")).as("uid"),
        col("click_id"), col("error_id"),
        (col("click_id").isNotNull && col("error_id").isNotNull)
          .as("matched"))
  }

  def streamStreamJoin(e: DataFrame): DataFrame = {
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id").as("err_user"), col("event_id").as("error_id"),
        col("ts").as("error_ts"))
      .withWatermark("error_ts", "10 minutes")
    clicks.join(errors,
        col("user_id") === col("err_user")
          && col("error_ts") >= col("click_ts")
          && col("error_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("error_id"),
        date_format(col("click_ts"), fmt).as("click_time"),
        date_format(col("error_ts"), fmt).as("error_time"))
  }

  /** Stream-static join: the event stream enriched against a static
    * dimension (customers), then aggregated per nation. No state, no
    * watermark needed on the dim side. The static side is UNHINTED:
    * customer grows with the SF, and a forced broadcast hint would pin
    * a per-micro-batch driver-side build of the full dim at 100 TB —
    * unhinted, the planner broadcasts it while its measured size
    * allows and falls back to a shuffled join past the threshold.
    * Money-style sums go through DECIMAL(18,4) per the determinism
    * rules. */
  def streamStaticJoin(e: DataFrame, customers: DataFrame): DataFrame =
    e.join(customers.select(col("c_custkey"), col("c_nationkey")),
        e("user_id") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))

  /** Idempotent-ingest dedup against a STATIC seen-set: incoming events
    * (event_id % 5 != 0) are checked against the digest index of the
    * already-ingested history (event_id % 5 == 0) — same user, same
    * action, same payload ⇒ duplicate delivery, dropped. The join is
    * stream-static LEFT OUTER + null-check (the anti-join shape
    * Structured Streaming actually supports against a static side);
    * the stream holds NO state for the digest set — this is the
    * streaming twin of [[graft.queries.LlmText.incrementalDedup]]'s
    * exact layer. The digest side is UNHINTED: the seen-history GROWS
    * with ingested volume (the census measured it 10× on the fixture
    * step), so a forced broadcast is a deferred per-micro-batch OOM;
    * unhinted, the planner broadcasts while small and shuffles once
    * the history outgrows the threshold. */
  def streamAntiDedup(e: DataFrame, seen: DataFrame): DataFrame = {
    def dg = md5(concat_ws("|",
      col("user_id"), col("event_type"), col("props")))
    val seenD = seen.filter(col("event_id") % 5 === 0)
      .select(dg.as("seen_digest")).distinct()
    val in = e.filter(col("event_id") % 5 =!= 0).withColumn("digest", dg)
    in.join(seenD, col("digest") === col("seen_digest"),
        "left_outer")
      .withColumn("is_dup", col("seen_digest").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_in"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("is_dup"), 0L).otherwise(1L)).as("n_kept"))
  }

  /** Scheduler-shaped incremental run — the Spark-native replacement
    * for the reference's cron DAG (`stock_scraper_dag.py:10-42`,
    * SURVEY §2A O2's "out of engine scope" boundary): a REAL streaming
    * query with `Trigger.AvailableNow` processes everything currently
    * in the source through the normal checkpointed streaming path,
    * then terminates — so an external scheduler only ever says "run
    * once now", and exactly-once state/offsets live in the engine, not
    * the orchestrator. This graded query executes the streaming job
    * (file source → complete-mode agg → memory sink) and surfaces the
    * sink table; the oracle recomputes the same aggregate in batch,
    * pinning that an incremental run over a static source equals the
    * batch answer. */
  def availableNowRun(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.DecimalType
    val w = eventsStream(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double")
          .as("sum_value"))
      .writeStream.outputMode("complete")
      .trigger(Trigger.AvailableNow())
    memorySinkRun(s, "graft_avail_now", dir, w)(_.awaitTermination())
  }

  /** Runs the stream `w` into a memory sink, checkpointed in a fresh
    * [[ScratchDirs.perRun]] directory, drains it with `drain`, and
    * returns the sink's rows. The sink's view gets a name unique to
    * this run (`name` plus a random suffix) and is dropped before
    * return, so no run leaves a session view behind and no two runs
    * (two scales, two threads) share a sink; the returned frame reads
    * the sink itself, not the view. */
  def memorySinkRun(s: SparkSession, name: String, dir: String,
      w: DataStreamWriter[Row])(drain: StreamingQuery => Unit): DataFrame = {
    val sink = s"${name}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = ScratchDirs.perRun(s, name, dir)
    val q = w.option("checkpointLocation", ckpt)
      .format("memory").queryName(sink).start()
    try drain(q)
    finally { q.stop(); ScratchDirs.rm(new java.io.File(ckpt)) }
    val rows = s.table(sink)
    s.catalog.dropTempView(sink)
    rows
  }

  /** Watermark-lateness profile under WORST-CASE arrival — the tuning
    * query behind every `withWatermark` decision. The fixture stream
    * arrives perfectly ordered (every event's lateness is zero — see
    * [[lateDrop]]'s empty result), so this profiles the adversarial
    * bound instead: arrival order = deterministic hash permutation of
    * the stream, lateness = gap to the running high-water mark in that
    * order, bucketed by decimal decade of seconds. The histogram is
    * the capacity answer: what fraction of a fully-shuffled replay
    * would an N-second watermark drop, and how much state must it
    * hold. Integer microsecond math; the hash order is md5-derived so
    * both engines walk the identical permutation.
    *
    * The running high-water mark is a prefix max over a GLOBAL order —
    * naively an un-partitioned Window, i.e. one task sorting the whole
    * table, which contradicts the capacity-planning framing at 100 TB.
    * Instead it is computed range-bucketed in two passes: (1) a
    * per-bucket prefix max, where the bucket is the first hex char of
    * the arrival key (a PREFIX of the sort key, so bucket order equals
    * global order); (2) a 16-row per-bucket-max summary, prefix-maxed
    * over preceding buckets and broadcast back. greatest(local, prior)
    * is exactly the global prefix max — same output, but the big table
    * is only ever hash-partitioned 16 ways and sorted per-bucket. */
  def latenessProfile(e: DataFrame): DataFrame = {
    val base = e.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("arrival", md5(col("event_id").cast("string")))
      .withColumn("bkt", substring(col("arrival"), 1, 1))
    val wLocal = Window.partitionBy("bkt").orderBy("arrival", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    // 16 rows — the only un-partitioned window runs over the summary,
    // not the data.
    val wPrior = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val priors = base.groupBy("bkt").agg(max(col("us")).as("bmax"))
      .withColumn("prior_hwm", max(col("bmax")).over(wPrior))
      .select("bkt", "prior_hwm")
    base
      .join(broadcast(priors), "bkt")
      .withColumn("hwm",
        greatest(max(col("us")).over(wLocal),
          coalesce(col("prior_hwm"), lit(Long.MinValue))))
      .withColumn("late_bucket",
        expr("""CASE WHEN (hwm - us) div 1000000 < 1 THEN 0
               |     WHEN (hwm - us) div 1000000 < 10 THEN 1
               |     WHEN (hwm - us) div 1000000 < 100 THEN 2
               |     WHEN (hwm - us) div 1000000 < 1000 THEN 3
               |     WHEN (hwm - us) div 1000000 < 10000 THEN 4
               |     ELSE 5 END""".stripMargin))
      .groupBy("late_bucket")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
  }

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** Streaming warehouse upsert — foreachBatch `MERGE INTO` the
    * row-level catalog per micro-batch, THE standard streaming-CDC-
    * into-warehouse pattern (and the streaming composition of the
    * batch `sql_merge_into` surface). The fixture stream is re-staged
    * as 4 files and read with `maxFilesPerTrigger=1`, so the
    * AvailableNow run REALLY executes 4 merge transactions against
    * the same table; matched keys accumulate, unmatched insert. The
    * final table equals the one-shot batch aggregate no matter how
    * the file split slices the stream — counts and DECIMAL sums are
    * associative — which is exactly the invariant the oracle grades.
    * At 100 TB the same foreachBatch body merges into an
    * Iceberg/Delta table; per-batch work is one partial aggregate of
    * that batch's rows plus a keyed merge. */
  def streamMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    s.conf.set("spark.sql.catalog.graft_mem",
      classOf[graft.sources.MemRowCatalog].getName)
    s.sql("DROP TABLE IF EXISTS graft_mem.db.stream_upsert")
    s.sql("""CREATE TABLE graft_mem.db.stream_upsert
            |  (event_type STRING NOT NULL, n BIGINT,
            |   total DECIMAL(18,4))""".stripMargin)
    // Unique per INVOCATION, not per app: reusing a checkpoint across
    // calls would see "no new files", drain zero batches, and leave
    // the freshly-recreated table empty on a second run in one JVM.
    val base = ScratchDirs.perRun(s, "graft_stream_upsert", dir)
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.repartition(4).write.mode("overwrite").parquet(s"$base/in")
    val q = s.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // foreachBatch runs in a CLONED session: the MERGE must go
        // through batch.sparkSession (the catalog store is JVM-shared
        // per name, so the clone sees the table).
        val agg = batch.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(
                org.apache.spark.sql.types.DecimalType(18, 4)))
              .cast(org.apache.spark.sql.types.DecimalType(18, 4))
              .as("total"))
        Tables.sql(batch.sparkSession, dir,
          """MERGE INTO graft_mem.db.stream_upsert t
                |USING graft_su_batch s ON t.event_type = s.event_type
                |WHEN MATCHED THEN UPDATE SET
                |  n = t.n + s.n,
                |  total = CAST(t.total + s.total AS DECIMAL(18,4))
                |WHEN NOT MATCHED THEN
                |  INSERT (event_type, n, total)
                |  VALUES (s.event_type, s.n, s.total)""".stripMargin,
          "graft_su_batch" -> agg)
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    // merged state lives in the catalog; the per-invocation staging +
    // checkpoint files are garbage once the stream finishes
    try q.awaitTermination()
    finally { q.stop(); ScratchDirs.rm(new java.io.File(base)) }
    s.sql("""SELECT event_type, n, CAST(total AS DOUBLE) AS total
            |FROM graft_mem.db.stream_upsert""".stripMargin)
  }

  // DuckDB twins over CAST(ts AS TIMESTAMP) (micros, matching Spark's
  // nanos→micros read).
  val queries: Seq[QueryDef] = Seq(
    QueryDef("stream_merge_upsert", streamMergeUpsert,
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type""".stripMargin),
    QueryDef("stream_available_now", availableNowRun,
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin),
    QueryDef("stream_lateness_profile", (s, d) => latenessProfile(ev(s, d)),
      """WITH e AS (SELECT user_id, event_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |             md5(CAST(event_id AS VARCHAR)) AS arrival
        |           FROM events),
        |h AS (SELECT user_id, us,
        |        MAX(us) OVER (ORDER BY arrival, event_id
        |          ROWS UNBOUNDED PRECEDING) AS hwm
        |      FROM e)
        |SELECT CASE WHEN (hwm - us) // 1000000 < 1 THEN 0
        |            WHEN (hwm - us) // 1000000 < 10 THEN 1
        |            WHEN (hwm - us) // 1000000 < 100 THEN 2
        |            WHEN (hwm - us) // 1000000 < 1000 THEN 3
        |            WHEN (hwm - us) // 1000000 < 10000 THEN 4
        |            ELSE 5 END AS late_bucket,
        |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        |FROM h GROUP BY 1""".stripMargin),
    QueryDef("stream_tumbling", (s, d) => tumbling(ev(s, d)),
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
        |                '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    QueryDef("stream_sliding", (s, d) => sliding(ev(s, d)),
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |w AS (SELECT event_type,
        |        time_bucket(INTERVAL 30 MINUTE, ts)
        |          - unnest([INTERVAL 0 MINUTE, INTERVAL 30 MINUTE]) AS win_start,
        |        ts
        |      FROM e)
        |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, COUNT(*) AS n
        |FROM w WHERE ts >= win_start AND ts < win_start + INTERVAL 1 HOUR
        |GROUP BY 1, 2""".stripMargin),
    QueryDef("stream_hll_window", (s, d) => hllWindow(ev(s, d)),
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
        |                '%Y-%m-%d %H:%M:%S') AS win_start,
        |  COUNT(DISTINCT user_id) AS n_exact, TRUE AS approx_ok
        |FROM events GROUP BY 1""".stripMargin),
    QueryDef("stream_session", (s, d) => sessionized(ev(s, d)),
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |flagged AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |            >= INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |sess AS (SELECT user_id, ts,
        |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |                      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
        |  COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin),
    QueryDef("stream_dedup_first", (s, d) => dedupFirstPerKey(ev(s, d)),
      """SELECT user_id, event_type, event_id AS first_event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin),
    QueryDef("stream_late_drop", (s, d) => lateDrop(ev(s, d)),
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |h AS (SELECT event_id, user_id, ts,
        |        MAX(ts) OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS hwm
        |      FROM e)
        |SELECT event_id, user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
        |  strftime(hwm, '%Y-%m-%d %H:%M:%S') AS hwm_str
        |FROM h WHERE ts < hwm - INTERVAL 10 MINUTE""".stripMargin),
    QueryDef("stream_stream_join", (s, d) => streamStreamJoin(ev(s, d)),
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             CAST(ts AS TIMESTAMP) AS ts FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |      FROM e WHERE event_type = 'click'),
        |x AS (SELECT user_id AS err_user, event_id AS error_id,
        |        ts AS error_ts
        |      FROM e WHERE event_type = 'error')
        |SELECT user_id, click_id, error_id,
        |  strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_time,
        |  strftime(error_ts, '%Y-%m-%d %H:%M:%S') AS error_time
        |FROM c JOIN x ON user_id = err_user
        | AND error_ts >= click_ts
        | AND error_ts <= click_ts + INTERVAL 1 HOUR""".stripMargin),
    QueryDef("stream_left_outer_join", (s, d) => streamLeftOuterJoin(ev(s, d)),
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             CAST(ts AS TIMESTAMP) AS ts FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |      FROM e WHERE event_type = 'click'),
        |x AS (SELECT user_id AS err_user, event_id AS error_id,
        |        ts AS error_ts
        |      FROM e WHERE event_type = 'error')
        |SELECT c.user_id, c.click_id, x.error_id,
        |  strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_time,
        |  x.error_id IS NOT NULL AS matched
        |FROM c LEFT JOIN x ON c.user_id = x.err_user
        | AND x.error_ts >= c.click_ts
        | AND x.error_ts <= c.click_ts + INTERVAL 1 HOUR""".stripMargin),
    QueryDef("stream_full_outer_join", (s, d) => streamFullOuterJoin(ev(s, d)),
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             CAST(ts AS TIMESTAMP) AS ts FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |      FROM e WHERE event_type = 'click'),
        |x AS (SELECT user_id AS err_user, event_id AS error_id,
        |        ts AS error_ts
        |      FROM e WHERE event_type = 'error')
        |SELECT coalesce(c.user_id, x.err_user) AS uid,
        |  c.click_id, x.error_id,
        |  c.click_id IS NOT NULL AND x.error_id IS NOT NULL AS matched
        |FROM c FULL JOIN x ON c.user_id = x.err_user
        | AND x.error_ts >= c.click_ts
        | AND x.error_ts <= c.click_ts + INTERVAL 1 HOUR""".stripMargin),
    QueryDef("stream_static_join", (s, d) =>
      streamStaticJoin(ev(s, d), Tables.load(s, d, "customer")),
      """SELECT c_nationkey, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_nationkey""".stripMargin),
    QueryDef("stream_anti_dedup", (s, d) =>
      streamAntiDedup(ev(s, d), ev(s, d)),
      """WITH e AS (SELECT event_id, event_type,
        |             md5(concat_ws('|', user_id, event_type, props)) AS dg
        |           FROM events),
        |seen AS (SELECT DISTINCT dg FROM e WHERE event_id % 5 = 0)
        |SELECT event_type, COUNT(*) AS n_in,
        |  CAST(SUM(CASE WHEN dg IN (SELECT dg FROM seen)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN dg IN (SELECT dg FROM seen)
        |           THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
        |FROM e WHERE event_id % 5 <> 0
        |GROUP BY event_type""".stripMargin))
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import graft.QueryDef
import graft.core.Tables

/** Custom keyed state beyond what session_window expresses
  * (SURVEY §2B streaming note): per-user running statistics with
  * `flatMapGroupsWithState` — emits a row whenever a user's event value
  * deviates more than `threshold`× the running mean.
  *
  * State is O(1) per key (count, mean) — the property that matters at
  * scale: 10^9 users is 10^9 tiny state entries partitioned across the
  * cluster's state store, not a growing buffer. Timeout reaps idle keys.
  */
object StatefulOps {

  case class Ev(user_id: Long, event_id: Long, value: Double)

  /** Exact integer-cent accumulation (values carry 2 decimals): a
    * float running mean (Welford) and the oracle's windowed AVG land
    * on opposite sides of 4-decimal rounding midpoints — observed on
    * 9/639 rows. Integer state makes mean = cents/100.0/n the same
    * double in both engines. */
  case class RunStats(n: Long, cents: Long)
  case class Anomaly(user_id: Long, event_id: Long, value: Double,
      mean_before: Double)

  val threshold = 3.0

  /** Double value → integer cents, half-AWAY-FROM-ZERO on the double
    * product `v*100` — the same double the oracle's DuckDB
    * `ROUND(value*100)` / DECIMAL(18,2) cast sees. BigDecimal makes
    * the tie decision on the EXACT binary value of that product: the
    * earlier `floor(x + 0.5)` idiom had the classic artifact where
    * the +0.5 addition itself rounds (x = 0.49999999999999994 →
    * x+0.5 == 1.0 → floor says 1 though x is below the midpoint).
    * `math.round` is equally wrong — half-toward-positive-infinity
    * diverges on negative half-cents (-0.005 → 0 vs -1). HALF_UP on
    * a BigDecimal rounds ties away from zero, the rule both engines
    * share. */
  private[streaming] def toCents(v: Double): Long =
    new java.math.BigDecimal(v * 100d)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact

  private def step(userId: Long, events: Iterator[Ev],
      state: GroupState[RunStats]): Iterator[Anomaly] = {
    var st = state.getOption.getOrElse(RunStats(0L, 0L))
    val out = scala.collection.mutable.ArrayBuffer.empty[Anomaly]
    // event_id is the per-user arrival order; micro-batches may deliver
    // a group's rows unsorted within the batch
    events.toSeq.sortBy(_.event_id).foreach { e =>
      if (st.n > 0) {
        val mean = st.cents.toDouble / 100.0 / st.n
        if (e.value > mean * threshold)
          out += Anomaly(userId, e.event_id, e.value, mean)
      }
      st = RunStats(st.n + 1, st.cents + toCents(e.value))
    }
    state.update(st)
    out.iterator
  }

  /** Works on both batch and streaming Datasets (flatMapGroupsWithState
    * is executed with the same semantics in batch mode). */
  def anomalies(events: Dataset[Ev]): Dataset[Anomaly] = {
    implicit val outEnc = Encoders.product[Anomaly]
    implicit val stEnc = Encoders.product[RunStats]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(step)
  }

  def eventsTyped(s: SparkSession, dir: String): Dataset[Ev] = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("value")).as[Ev]
  }

  case class NewHigh(user_id: Long, event_id: Long, value: Double,
      prev_max: Double)

  /** The Spark 4 `transformWithState` surface (arbitrary-state v2 —
    * typed state handles, TTL, timers — the successor to
    * `flatMapGroupsWithState` above): per-user running-maximum
    * tracking that emits an event only when it sets a NEW high,
    * with the previous high attached.
    *
    * State is ONE double per key in a `ValueState` handle — at scale
    * that's a billion 8-byte entries in the (RocksDB-backed) state
    * store, not a buffer of history. Rows are sorted by `event_id`
    * inside each `handleInputRows` call because batches deliver a
    * key's rows unordered; per-key-per-batch cardinality is bounded
    * by user activity, not corpus size. Values are compared, never
    * arithmetically combined, so the emitted doubles are input bits
    * and oracle parity is exact. */
  class NewHighsProcessor extends StatefulProcessor[Long, Ev, NewHigh] {
    @transient private var maxState: ValueState[Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      maxState = getHandle.getValueState[Double](
        "running_max", Encoders.scalaDouble, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[NewHigh] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[NewHigh]
      rows.toSeq.sortBy(_.event_id).foreach { e =>
        if (maxState.exists()) {
          val m = maxState.get()
          if (e.value > m) {
            out += NewHigh(key, e.event_id, e.value, m)
            maxState.update(e.value)
          }
        } else maxState.update(e.value)
      }
      out.iterator
    }
  }

  case class Balance(user_id: Long, balance_cents: Long, n_floor_hits: Long)

  /** Floor-clamped running balance — the "inventory can't go
    * negative" fold: each event's value (in exact integer cents)
    * deposits against a fixed 100.00 withdrawal, and the balance
    * clamps at zero. The clamp makes every step depend on the
    * clamped PREVIOUS step, so no window frame can express it —
    * this is the computation class `transformWithState` (and its
    * recursive-CTE oracle twin) exists for. Integer-cent state keeps
    * both engines bit-exact; state is (2 longs) per key. */
  class CappedBalanceProcessor extends StatefulProcessor[Long, Ev, Balance] {
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("bal",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[Balance] = {
      var (bal, hits) =
        if (st.exists()) st.get() else (0L, 0L)
      rows.toSeq.sortBy(_.event_id).foreach { e =>
        val next = bal + toCents(e.value) - 10000L
        if (next < 0) { bal = 0L; hits += 1 } else bal = next
      }
      st.update((bal, hits))
      Iterator.single(Balance(key, bal, hits))
    }
  }

  case class CusumRow(user_id: Long, n_events: Long, cusum_cents: Long,
      peak_cents: Long, n_alarms: Long)

  /** Streaming CUSUM changepoint detector — the stateful twin of the
    * batch [[graft.queries.Analytics5.winCusum]] fold, in EXACT
    * integer cents (reference value 55.00 → 5500, alarm threshold
    * 250.00 → 25000, reset-on-alarm): S ← max(0, S + cents(x) − 5500),
    * alarm and reset when S crosses 25000. Like its tws siblings the
    * stream is keyed by arrival order (event_id); state is four longs
    * per key, so a billion keys is a billion fixed-width entries.
    * Integer state makes every emitted column bit-exact against the
    * recursive-CTE oracle. */
  class CusumProcessor extends StatefulProcessor[Long, Ev, CusumRow] {
    @transient private var st: ValueState[(Long, Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long, Long)]("cusum",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[CusumRow] = {
      var (n, s, m, a) = if (st.exists()) st.get() else (0L, 0L, 0L, 0L)
      rows.toSeq.sortBy(_.event_id).foreach { e =>
        val s1 = math.max(0L, s + toCents(e.value) - 5500L)
        m = math.max(m, s1)
        if (s1 > 25000L) { a += 1L; s = 0L } else s = s1
        n += 1L
      }
      st.update((n, s, m, a))
      Iterator.single(CusumRow(key, n, s, m, a))
    }
  }

  case class TopK(user_id: Long, n_events: Long, top1_cents: Option[Long],
      top2_cents: Option[Long], top3_cents: Option[Long])

  /** Per-user running top-3 via a `ListState` handle — the BOUNDED
    * buffer state shape (leaderboards, best-N offers) that
    * `ValueState` can't hold and an unbounded window buffer would
    * bloat: state is ≤3 (cents, event_id) pairs per key forever,
    * maintained by merge-truncate on each batch. The total order is
    * (cents DESC, event_id ASC) — arrival order breaks value ties, so
    * batch and any micro-batch slicing agree. A count rides in a
    * second `ValueState`, exercising two typed handles in one
    * processor. Integer cents keep oracle parity exact; missing ranks
    * are NULL, matching the oracle's pivot. */
  class TopKProcessor extends StatefulProcessor[Long, Ev, TopK] {
    @transient private var top: org.apache.spark.sql.streaming.ListState[(Long, Long)] = _
    @transient private var cnt: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      top = getHandle.getListState[(Long, Long)]("top3",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
      cnt = getHandle.getValueState[Long]("n",
        Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[TopK] = {
      val rs = rows.toSeq
      val prev = if (top.exists()) top.get().toSeq else Seq.empty
      val merged = (prev ++ rs.map(e => (toCents(e.value), e.event_id)))
        .sortBy { case (c, id) => (-c, id) }.take(3)
      top.put(merged.toArray)
      val n = (if (cnt.exists()) cnt.get() else 0L) + rs.length
      cnt.update(n)
      Iterator.single(TopK(key, n,
        merged.lift(0).map(_._1), merged.lift(1).map(_._1),
        merged.lift(2).map(_._1)))
    }
  }

  case class EvTimed(user_id: Long, event_id: Long, us: Long)
  case class Session(user_id: Long, sess_start_us: Long, sess_end_us: Long,
      n_events: Long, closed_by: String)

  /** EVENT-TIME TIMER sessionizer — the last `transformWithState`
    * surface (registerTimer / handleExpiredTimer): sessions close
    * either when a later event arrives past the 30-minute gap
    * ('gap'), or when the WATERMARK passes last-seen + 30 min with no
    * successor — an event-time timer fires and flushes the open
    * session ('timer'). That second half is exactly what windows and
    * folds cannot express: emission triggered by the ABSENCE of data.
    * State is (start, last, n) plus the pending timer's expiry (kept
    * in the value state so re-arming can delete the stale timer).
    * In batch execution Spark runs the same operator with the
    * watermark jumping to +∞ at the end, so every open session
    * flushes through the SAME timer path — the graded batch query
    * exercises handleExpiredTimer itself, and the streaming spec pins
    * multi-batch equivalence. */
  class TimerSessionProcessor extends StatefulProcessor[Long, EvTimed, Session] {
    private val GapUs = 30L * 60 * 1000 * 1000
    @transient private var st: ValueState[(Long, Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long, Long)]("sess",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[EvTimed],
        timerValues: TimerValues): Iterator[Session] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Session]
      var (start, last, n, oldExpiry) =
        if (st.exists()) st.get() else (-1L, -1L, 0L, -1L)
      rows.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
        if (start < 0) { start = e.us; last = e.us; n = 1 }
        else if (e.us - last > GapUs) {
          out += Session(key, start, last, n, "gap")
          start = e.us; last = e.us; n = 1
        } else {
          // Cross-micro-batch safety: a within-watermark out-of-order
          // event arriving in a LATER batch may carry e.us < last (or
          // even < start); clamping keeps sess_end_us monotone and the
          // re-armed timer correct instead of silently moving backwards.
          start = math.min(start, e.us); last = math.max(last, e.us)
          n += 1
        }
      }
      if (oldExpiry >= 0) getHandle.deleteTimer(oldExpiry)
      val expiry = (last + GapUs) / 1000 + 1
      getHandle.registerTimer(expiry)
      st.update((start, last, n, expiry))
      out.iterator
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
      if (!st.exists()) Iterator.empty
      else {
        val (start, last, n, _) = st.get()
        st.clear()
        Iterator.single(Session(key, start, last, n, "timer"))
      }
    }
  }

  /** Batch + streaming unified; EventTime mode needs the watermark on
    * the original timestamp column, so callers pass a watermarked DF
    * carrying (user_id, event_id, ts, us). */
  def timerSessions(events: org.apache.spark.sql.DataFrame): Dataset[Session] = {
    events.sparkSession.streams.active // StateStoreCoordinator, see newHighs
    implicit val inEnc: Encoder[EvTimed] = Encoders.product[EvTimed]
    implicit val outEnc: Encoder[Session] = Encoders.product[Session]
    events.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_id"), col("us"))
      .as[EvTimed]
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new TimerSessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** GRADED entry: event-time timers only exist on the streaming
    * path (batch execution has no watermark to evaluate them — the
    * engine rejects TimeMode.EventTime in batch), so this query runs
    * the REAL streaming job, `availableNowRun`-style: file source →
    * timer sessionizer on the RocksDB store → memory sink, driven to
    * quiescence. The final no-data micro-batch (watermark advanced
    * after the data batch) is what fires the timers; sessions whose
    * expiry still sits past the final watermark stay open and are
    * absent — the oracle models exactly that cutoff (watermark =
    * max event ms − 600 000, timer fires when expiry < watermark). */
  def timerSessionsRun(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val src = StreamingOps.eventsStream(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          unix_micros(col("ts")).as("us"))
      StreamingOps.memorySinkRun(s, "graft_timer_sessions", dir,
        timerSessions(src).toDF().writeStream.outputMode("append"))(
        _.processAllAvailable())
    } finally {
      prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }
  }

  case class EvTyped(user_id: Long, event_id: Long, event_type: String)
  case class TypeCount(user_id: Long, event_type: String, n_events: Long)

  /** Per-user per-event-type running counters via a `MapState` handle
    * — the keyed-submap state shape (per-product inventories,
    * per-endpoint error tallies) completing the typed-handle trio
    * next to [[NewHighsProcessor]]'s ValueState and
    * [[TopKProcessor]]'s ListState. State is |types| longs per user;
    * each batch increments and re-emits the full (bounded) map.
    * Pure integer counts — oracle parity is exact, and emission
    * order is irrelevant under the comparator's canonical sort. */
  class TypeCountsProcessor extends StatefulProcessor[Long, EvTyped, TypeCount] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("type_counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[EvTyped],
        timerValues: TimerValues): Iterator[TypeCount] = {
      rows.foreach { e =>
        val prev = if (counts.containsKey(e.event_type))
          counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, prev + 1L)
      }
      counts.iterator().map { case (tp, n) => TypeCount(key, tp, n) }
    }
  }

  case class DigestEv(digest: String, event_type: String, is_seen: Boolean)
  case class DedupCounts(event_type: String, n_dropped: Long, n_kept: Long)

  /** STATE-STORE anti-dedup — the production twin of
    * [[graft.streaming.StreamingOps.streamAntiDedup]]'s stream-static
    * join. The join shape re-probes the ENTIRE seen-digest history
    * every micro-batch: correct, and the right plan when the history
    * is a replayable indexed table — but its per-batch cost is linear
    * in history size, which on a continuous ingest grows without
    * bound. This shape is what a 100 TB ingest actually runs: the
    * stream is keyed BY DIGEST and the seen-set lives as one
    * presence-marker `ValueState` per digest in the (RocksDB) state
    * store, so each event costs O(1) state lookups regardless of how
    * much history has accumulated, and the store itself — not a
    * re-scanned table — carries the set across batches. PLANS.md
    * (r14) records when each shape wins.
    *
    * Parity contract: in batch execution every row of a digest
    * arrives in ONE handleInputRows call with empty initial state, so
    * `is_dup = any history row carries this digest` — exactly the
    * join twin's semantics, bit-for-bit (the shared oracle pins it).
    * In a live incremental run the state store accumulates history
    * batch over batch, and an incoming row that beats its history row
    * into the store is kept — the honest streaming semantics
    * (StatefulSpec drives it to quiescence in one AvailableNow batch,
    * where both agree). */
  class AntiDedupProcessor
      extends StatefulProcessor[String, DigestEv, DedupCounts] {
    @transient private var seen: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        Encoders.scalaBoolean, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[DigestEv],
        timerValues: TimerValues): Iterator[DedupCounts] = {
      val rs = rows.toSeq
      val isDup = seen.exists() || rs.exists(_.is_seen)
      if (isDup && !seen.exists()) seen.update(true)
      rs.filterNot(_.is_seen)
        .groupBy(_.event_type).iterator.map { case (tp, es) =>
          DedupCounts(tp,
            if (isDup) es.size.toLong else 0L,
            if (isDup) 0L else es.size.toLong)
        }
    }
  }

  /** Batch + streaming unified, like `newHighs`: digest-keyed rows in,
    * per-(digest, type) verdict counts out; the graded query sums them
    * per type. */
  def antiDedupStateful(events: Dataset[DigestEv]): Dataset[DedupCounts] = {
    events.sparkSession.streams.active // StateStoreCoordinator, see newHighs
    implicit val outEnc: Encoder[DedupCounts] = Encoders.product[DedupCounts]
    events.groupByKey(_.digest)(Encoders.STRING)
      .transformWithState(new AntiDedupProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  def eventsDigested(s: SparkSession, dir: String): Dataset[DigestEv] = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .select(
        md5(concat_ws("|", col("user_id"), col("event_type"),
          col("props"))).as("digest"),
        col("event_type"),
        (col("event_id") % 5 === 0).as("is_seen"))
      .as[DigestEv]
  }

  /** Batch + streaming unified, like `newHighs`. */
  def typeCounts(events: Dataset[EvTyped]): Dataset[TypeCount] = {
    events.sparkSession.streams.active // StateStoreCoordinator, see newHighs
    implicit val outEnc: Encoder[TypeCount] = Encoders.product[TypeCount]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  def eventsWithType(s: SparkSession, dir: String): Dataset[EvTyped] = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"))
      .as[EvTyped]
  }

  /** Batch + streaming unified, like `newHighs`. */
  def topK(events: Dataset[Ev]): Dataset[TopK] = {
    events.sparkSession.streams.active // StateStoreCoordinator, see newHighs
    implicit val outEnc: Encoder[TopK] = Encoders.product[TopK]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new TopKProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Batch + streaming unified, like `newHighs`. */
  def cusum(events: Dataset[Ev]): Dataset[CusumRow] = {
    events.sparkSession.streams.active // StateStoreCoordinator, see newHighs
    implicit val outEnc: Encoder[CusumRow] = Encoders.product[CusumRow]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new CusumProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Batch mode emits one final row per key; a streaming run emits a
    * row per (key, batch) — the graded query runs batch. */
  def cappedBalance(events: Dataset[Ev]): Dataset[Balance] = {
    events.sparkSession.streams.active // StateStoreCoordinator, see newHighs
    implicit val outEnc: Encoder[Balance] = Encoders.product[Balance]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new CappedBalanceProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Batch + streaming unified, like `anomalies`. */
  def newHighs(events: Dataset[Ev]): Dataset[NewHigh] = {
    // Batch-mode transformWithState loads state stores whose executors
    // resolve the StateStoreCoordinator RPC endpoint — which only the
    // StreamingQueryManager registers. Touch it so a pure-batch session
    // (Verify/Bench) has the endpoint before the first state load.
    events.sparkSession.streams.active
    implicit val outEnc: Encoder[NewHigh] = Encoders.product[NewHigh]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new NewHighsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Graded batch query. The oracle reproduces the running mean with an
    * exact DECIMAL(18,2) prefix sum cast to double and divided by the
    * prefix count — bit-identical to the integer-cent state above. */
  def queries: Seq[QueryDef] = Seq(
    QueryDef("stream_tws_new_highs", (s, d) => newHighs(eventsTyped(s, d)).toDF(),
      """WITH w AS (SELECT user_id, event_id, value,
        |  MAX(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_before
        |  FROM events)
        |SELECT user_id, event_id, value, max_before AS prev_max
        |FROM w WHERE max_before IS NOT NULL AND value > max_before""".stripMargin),
    QueryDef("stream_tws_capped_sum", (s, d) =>
      cappedBalance(eventsTyped(s, d)).toDF(),
      """WITH RECURSIVE
        |e AS (SELECT user_id, event_id,
        |        CAST(ROUND(value * 100) AS BIGINT) - 10000 AS delta,
        |        ROW_NUMBER() OVER (PARTITION BY user_id
        |                           ORDER BY event_id) AS rn
        |      FROM events),
        |r(user_id, rn, bal, hits) AS (
        |  SELECT user_id, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  FROM (SELECT DISTINCT user_id FROM e)
        |  UNION ALL
        |  SELECT e.user_id, e.rn,
        |    GREATEST(r.bal + e.delta, 0),
        |    r.hits + CASE WHEN r.bal + e.delta < 0 THEN 1 ELSE 0 END
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        |SELECT user_id, bal AS balance_cents, hits AS n_floor_hits
        |FROM (SELECT user_id, rn, bal, hits,
        |        MAX(rn) OVER (PARTITION BY user_id) AS mx FROM r)
        |WHERE rn = mx""".stripMargin),
    QueryDef("stream_tws_cusum", (s, d) => cusum(eventsTyped(s, d)).toDF(),
      """WITH RECURSIVE
        |e AS (SELECT user_id,
        |        CAST(ROUND(value * 100) AS BIGINT) - 5500 AS delta,
        |        ROW_NUMBER() OVER (PARTITION BY user_id
        |                           ORDER BY event_id) AS rn
        |      FROM events),
        |r(user_id, rn, s, m, a) AS (
        |  SELECT user_id, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |         CAST(0 AS BIGINT)
        |  FROM (SELECT DISTINCT user_id FROM e)
        |  UNION ALL
        |  SELECT e.user_id, e.rn,
        |    CASE WHEN GREATEST(r.s + e.delta, 0) > 25000 THEN 0
        |         ELSE GREATEST(r.s + e.delta, 0) END,
        |    GREATEST(r.m, GREATEST(r.s + e.delta, 0)),
        |    r.a + CASE WHEN GREATEST(r.s + e.delta, 0) > 25000
        |               THEN 1 ELSE 0 END
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        |SELECT user_id, CAST(mx AS BIGINT) AS n_events, s AS cusum_cents,
        |       m AS peak_cents, a AS n_alarms
        |FROM (SELECT user_id, rn, s, m, a,
        |        MAX(rn) OVER (PARTITION BY user_id) AS mx FROM r)
        |WHERE rn = mx""".stripMargin),
    QueryDef("stream_tws_topk", (s, d) => topK(eventsTyped(s, d)).toDF(),
      """WITH e AS (SELECT user_id, event_id,
        |        CAST(ROUND(value * 100) AS BIGINT) AS cents
        |      FROM events),
        |r AS (SELECT user_id, cents,
        |        ROW_NUMBER() OVER (PARTITION BY user_id
        |                           ORDER BY cents DESC, event_id) AS rn
        |      FROM e)
        |SELECT user_id, COUNT(*) AS n_events,
        |  MAX(CASE WHEN rn = 1 THEN cents END) AS top1_cents,
        |  MAX(CASE WHEN rn = 2 THEN cents END) AS top2_cents,
        |  MAX(CASE WHEN rn = 3 THEN cents END) AS top3_cents
        |FROM r GROUP BY user_id""".stripMargin),
    QueryDef("stream_tws_typecounts", (s, d) =>
      typeCounts(eventsWithType(s, d)).toDF(),
      """SELECT user_id, event_type, COUNT(*) AS n_events
        |FROM events GROUP BY user_id, event_type""".stripMargin),
    // Identical answer to stream_anti_dedup's join shape — the state
    // store changes the PLAN, never the verdicts.
    QueryDef("stream_anti_dedup_state", (s, d) =>
      antiDedupStateful(eventsDigested(s, d)).toDF()
        .groupBy("event_type")
        .agg((sum("n_dropped") + sum("n_kept")).as("n_in"),
          sum("n_dropped").as("n_dropped"),
          sum("n_kept").as("n_kept")),
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
        |GROUP BY event_type""".stripMargin),
    QueryDef("stream_timer_sessions", timerSessionsRun,
      """WITH e AS (SELECT user_id, event_id,
        |        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |o AS (SELECT user_id, us, event_id,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR us - lag(us) OVER w > 1800000000
        |             THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id
        |                          ORDER BY us, event_id)),
        |s AS (SELECT user_id, us,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM o),
        |g AS (SELECT user_id, sid, min(us) AS sess_start_us,
        |        max(us) AS sess_end_us, count(*) AS n_events
        |      FROM s GROUP BY 1, 2),
        |m AS (SELECT user_id, max(sid) AS mx FROM g GROUP BY 1),
        |wm AS (SELECT max(us) // 1000 - 600000 AS w_ms FROM e)
        |SELECT g.user_id, g.sess_start_us, g.sess_end_us,
        |  CAST(g.n_events AS BIGINT) AS n_events,
        |  CASE WHEN g.sid = m.mx THEN 'timer' ELSE 'gap' END AS closed_by
        |FROM g JOIN m ON m.user_id = g.user_id CROSS JOIN wm
        |WHERE g.sid <> m.mx
        |   OR (g.sess_end_us + 1800000000) // 1000 + 1 < wm.w_ms""".stripMargin),
    QueryDef("stream_stateful_anomaly", (s, d) => {
      // mean_before is emitted RAW: both engines produce bit-identical
      // doubles (integer-cent sum, one division), and an engine-side
      // round(4) re-introduces midpoint divergence — the true mean
      // cents/(100·n) lands exactly on .xxxx5 midpoints, where Spark
      // (HALF_UP on the shortest decimal string) and DuckDB (half-up on
      // the binary value) disagree. The comparator's canonicalization
      // rounds both sides in one process, which is midpoint-safe.
      anomalies(eventsTyped(s, d)).toDF()
        .select(col("user_id"), col("event_id"), col("value"),
          col("mean_before"))
    },
      s"""WITH w AS (SELECT user_id, event_id, value,
         |  COUNT(*) OVER (PARTITION BY user_id ORDER BY event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_before,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
         |    PARTITION BY user_id ORDER BY event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE) AS sum_before
         |  FROM events)
         |SELECT user_id, event_id, value,
         |  sum_before / n_before AS mean_before
         |FROM w WHERE n_before > 0
         |  AND value > (sum_before / n_before) * $threshold""".stripMargin))
}

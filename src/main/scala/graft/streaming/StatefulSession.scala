package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.QueryModule

/** Custom stateful streaming: per-user sessionization via
  * `flatMapGroupsWithState` (SURVEY.md §2.C streaming surface), the
  * hand-rolled-state counterpart of the built-in `session_window` used by
  * `q_window_session` — the two are asserted equal in the test suite.
  *
  * Semantics match `session_window(ts, gap)`: a session is a maximal run
  * of events per user where each event follows the previous by LESS than
  * `Gap` (a gap of exactly `Gap` starts a new session — the window range
  * is [start, last + gap)); emitted as [min_ts, max_ts + Gap).
  *
  * Production state lifecycle, not a one-shot snapshot: the query runs
  * `GroupStateTimeout.EventTimeTimeout` against a 0-delay watermark, so a
  * session is emitted EXACTLY ONCE, when it closes — either a later event
  * of the same user splits it, or the watermark passes `last + Gap` and
  * the timeout fires, which also evicts the state (bounded state on
  * unbounded streams). The replay harness time-splits the events file
  * into two batches, so mid-stream timeouts genuinely fire between
  * them; a far-future sentinel event (filtered user -1) rides in the
  * last batch so the trailing no-data microbatch flushes every open
  * tail.
  *
  * Determinism: sums are accumulated as DECIMAL(18,4)-style unscaled
  * longs (value quantized at 1e-4, exactly the Det.sumd policy) and
  * rendered to double once at emit, so streaming and batch agree
  * bit-for-bit.
  */
object StatefulSession extends QueryModule {

  /** One event entering the sessionizer (ts_us in epoch micros; the
    * `ts` timestamp twin carries the watermark).
    */
  final case class SessEvent(user_id: Long, ts_us: Long, value: Double)

  /** Open-session state: one struct per user, independent of history
    * length.
    */
  final case class OpenSession(start_us: Long, last_us: Long, n: Long,
      sum_q: Long)

  /** Emitted session row (same shape as q_window_session). */
  final case class SessionRow(user_id: Long, s_start: String, s_end: String,
      n: Long, sum_value: Double)

  private val GapUs = 30L * 60L * 1000000L

  /** Sentinel user replayed after the real data purely to advance the
    * watermark past every `last + Gap`; filtered from the output.
    */
  private val SentinelUser = -1L

  /** DECIMAL(18,4) quantization of a measure (Det policy, JVM-side). */
  private def quant(v: Double): Long =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact

  private def fmtMicros(us: Long): String =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  private def emit(user: Long, s: OpenSession): SessionRow =
    SessionRow(user, fmtMicros(s.start_us), fmtMicros(s.last_us + GapUs),
      s.n, BigDecimal(java.math.BigInteger.valueOf(s.sum_q), 4).toDouble)

  /** The stateful function. Timeout path: the watermark passed
    * `last + Gap` with no further event — the carried session is final;
    * emit it once and evict the state. Data path: fold this batch's
    * events (sorted by event time) onto the carried open session,
    * splitting at >= Gap (session_window's boundary rule); emit the
    * sessions that CLOSED, carry the open tail with its timeout armed at
    * `last + Gap`.
    */
  private[graft] def sessionize(user: Long, it: Iterator[SessEvent],
      state: GroupState[OpenSession]): Iterator[SessionRow] = {
    if (state.hasTimedOut) {
      val fin = state.get
      state.remove()
      return Iterator.single(emit(user, fin))
    }
    val evs = it.toArray.sortBy(_.ts_us)
    if (evs.isEmpty) return Iterator.empty
    var closed = List.empty[OpenSession]
    var cur = state.getOption.orNull
    evs.foreach { e =>
      val q = quant(e.value)
      cur match {
        case null =>
          cur = OpenSession(e.ts_us, e.ts_us, 1L, q)
        case c if e.ts_us - c.last_us >= GapUs =>
          closed ::= c
          cur = OpenSession(e.ts_us, e.ts_us, 1L, q)
        case c =>
          cur = OpenSession(c.start_us, math.max(c.last_us, e.ts_us),
            c.n + 1L, c.sum_q + q)
      }
    }
    state.update(cur)
    state.setTimeoutTimestamp((cur.last_us + GapUs) / 1000L)
    closed.reverseIterator.map(emit(user, _))
  }

  /** The multi-batch replay of `events.parquet` (see Replay.replay):
    * two time-split halves, so the inter-batch watermark advance fires
    * mid-stream timeouts.
    */
  private[graft] def replayDir(s: SparkSession, d: String): String =
    // |v2: replay schema grew event_id/event_type (consumers project a
    // subset, so v1 readers would work — but v1 FILES lack the columns)
    Replay.replay(s, d, "events.parquet", "v2", batches = 2) {
      val raw = Replay.eventRows(s, d)
      val Row(mn: Long, mx: Long) = raw.agg(min("ts_us"), max("ts_us")).head()
      val mid = mn + (mx - mn) / 2
      // The sentinel rides in the LAST data file (not its own batch):
      // its event time advances the watermark at end-of-batch1, so the
      // single trailing no-data batch flushes every open tail — three
      // microbatches total instead of four.
      val sentinelTs = mx + 100L * 86400L * 1000000L // 100 days past the end
      Seq(raw.filter(col("ts_us") < mid),
        raw.filter(col("ts_us") >= mid)
          .unionAll(Replay.marker(s, sentinelTs, SentinelUser, "sentinel")))
    }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_streaming_session" -> ((s0, d) => {
      val s = Replay.sized(s0, "2")
      import s.implicits._
      val stream = Replay.replayStream(s, replayDir(s, d))
        .select("ts_us", "user_id", "value")
        .withColumn("ts", expr("timestamp_micros(ts_us)"))
        .withWatermark("ts", "0 seconds")
        .as[SessEvent]
      val out = stream.groupByKey(_.user_id)
        .flatMapGroupsWithState[OpenSession, SessionRow](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(sessionize)
        .filter(col("user_id") =!= SentinelUser)
      Replay.drain(out, "append").orderBy("user_id", "s_start")
    }),

    // --- the same sessionization through Spark's NATIVE streaming
    // session_window aggregation (MergingSessionsExec) instead of the
    // hand-rolled flatMapGroupsWithState: the built-in path handles
    // cross-microbatch session merging in the state store, and the
    // sentinel's watermark advance flushes every closed session in
    // append mode. Carries the SAME full oracle as the batch
    // q_window_session — native streaming, hand-rolled streaming and
    // batch all land on one hash. State is per-open-session (bounded
    // by active users), shuffle keyed on user_id. ---
    "q_streaming_sessionwin" -> ((s0, d) => {
      val s = Replay.sized(s0, "2")
      import graft.Det.{fmtTs, sumd}
      import org.apache.spark.sql.functions.{col, count, expr, lit,
        session_window}
      val stream = Replay.replayStream(s, replayDir(s, d))
        .withColumn("ts", expr("timestamp_micros(ts_us)"))
        .withWatermark("ts", "0 seconds")
      // The sentinel filter must NOT ride in the streaming plan: as a
      // grouping-column predicate Catalyst pushes it through the
      // aggregation and past withWatermark to the source, so the
      // sentinel row never advances the watermark and the open tails
      // are never flushed (observed: 7 tail sessions missing). It is
      // applied to the drained batch result below instead.
      val out = stream
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), sumd(col("value")).as("sum_value"))
        .select(col("user_id"),
          fmtTs(col("session_window.start")).as("s_start"),
          fmtTs(col("session_window.end")).as("s_end"),
          col("n"), col("sum_value"))
      Replay.drain(out, "append")
        .filter(col("user_id") =!= SentinelUser)
        .orderBy("user_id", "s_start")
    })
  )

  // Streaming result: rows-only check; asserted equal to the batch
  // session_window query (and exactly-once) in QueryInventorySpec.
  // The exactly-once event-time-timeout emission over the bounded
  // replay reproduces the batch session_window result bit-for-bit
  // (sums quantized per the Det decimal policy), so the hand-rolled
  // stateful query carries the same oracle as q_window_session.
  override def oracle: Map[String, String] = {
    val sessionOracle = {
      import graft.Det.{FT, S}
      s"""WITH marked AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
         |              >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
         |  FROM events),
         |numbered AS (
         |  SELECT user_id, ts, value,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
         |                   ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM marked)
         |SELECT user_id,
         |  ${FT("MIN(ts)")} AS s_start,
         |  ${FT("MAX(ts) + INTERVAL 30 MINUTE")} AS s_end,
         |  COUNT(*) AS n, ${S("value")} AS sum_value
         |FROM numbered
         |GROUP BY user_id, sid
         |ORDER BY user_id, s_start""".stripMargin
    }
    Map("q_streaming_session" -> sessionOracle,
      "q_streaming_sessionwin" -> sessionOracle)
  }
}

package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

import graft.QueryModule

/** Stateful streaming gap-threshold counters: the online twin of batch
  * q_session_gap_sweep, maintained incrementally via
  * `flatMapGroupsWithState` — the sessionization-tuning readout kept
  * LIVE from 8 bytes of per-user state (the last event's micros).
  *
  * Each micro-batch emits the user's DELTA counters (events seen, gaps
  * over each threshold — including the boundary gap against the carried
  * last timestamp), so every consecutive pair is counted exactly once
  * across batches; the drained emissions SUM to the batch one-window
  * answer, and the final stack/division is the batch query's own tail.
  * At fleet scale this replaces a re-sort of every user's history per
  * tuning run with O(users) fixed state — the same bound as any online
  * feature table.
  */
object StatefulGaps extends QueryModule {

  final case class GapEvent(user_id: Long, ts_us: Long, event_id: Long)
  final case class GapState(lastUs: Long)
  final case class GapDelta(user_id: Long, n_events: Long, b30: Long,
      b60: Long, b120: Long)

  /** Fold this batch's events (event-time order; replay batches are
    * time-split so cross-batch order is preserved) onto the carried
    * last-timestamp; emit one delta-counter row per (user, batch).
    */
  private[graft] def deltas(user: Long, it: Iterator[GapEvent],
      state: GroupState[GapState]): Iterator[GapDelta] = {
    val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
    if (evs.isEmpty) return Iterator.empty
    var last = state.getOption.map(_.lastUs)
    var b30 = 0L; var b60 = 0L; var b120 = 0L
    evs.foreach { e =>
      last.foreach { l =>
        val g = e.ts_us - l
        if (g > 1800000000L) b30 += 1
        if (g > 3600000000L) b60 += 1
        if (g > 7200000000L) b120 += 1
      }
      last = Some(e.ts_us)
    }
    state.update(GapState(last.get))
    Iterator(GapDelta(user, evs.length.toLong, b30, b60, b120))
  }

  override def queries
      : Map[String, (SparkSession, String) => org.apache.spark.sql
        .DataFrame] = Map(
    "q_streaming_gapsweep" -> ((s0, d) => {
      val s = Replay.sized(s0, "2")
      import s.implicits._
      val stream = Replay.replayStream(s, StatefulSession.replayDir(s, d))
        .select("ts_us", "user_id", "event_id")
        .as[GapEvent]
        .filter(_.user_id >= 0L) // drop the watermark sentinel ride-along
      val out = stream.groupByKey(_.user_id)
        .flatMapGroupsWithState[GapState, GapDelta](
          OutputMode.Append(), GroupStateTimeout.NoTimeout)(deltas)
      // the drained deltas sum to the batch one-window counters; the
      // stack + division tail is the batch query's own
      Replay.drain(out, "append")
        .agg(sum("n_events").as("n_events"),
          countDistinct("user_id").as("n_users"),
          sum("b30").as("b30"), sum("b60").as("b60"),
          sum("b120").as("b120"))
        .selectExpr(
          "stack(3, 30L, n_users + b30, 60L, n_users + b60, " +
            "120L, n_users + b120) AS (gap_min, n_sessions)",
          "n_events")
        .select(col("gap_min"), col("n_sessions"), col("n_events"),
          (col("n_events").cast("double") / col("n_sessions"))
            .as("events_per_session"))
        .orderBy("gap_min")
    })
  )

  // Every consecutive (user, ts) pair is counted exactly once across
  // batches (the carried last-timestamp covers batch boundaries), so
  // the streamed counters equal the batch window's and this query
  // carries the IDENTICAL oracle.
  override def oracle: Map[String, String] = Map(
    "q_streaming_gapsweep" ->
      graft.operators.Telemetry.oracle("q_session_gap_sweep"))
}

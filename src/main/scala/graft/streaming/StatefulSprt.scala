package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

import graft.QueryModule
import graft.operators.Experiments.{SprtFail, SprtSucc, SprtThresh}

/** Streamed group-sequential SPRT (the online twin of q_sprt_gate):
  * the whole point of a SEQUENTIAL test is to be run while the data
  * arrives — this spelling maintains, per arm, 24 bytes of state
  * (finalized cumulative trials/successes + the open day's tallies +
  * the first crossing day) via `flatMapGroupsWithState` and emits one
  * decision row the moment a daily look CLOSES. Because the batch
  * twin's decision column is the CAUSAL running minimum, the streamed
  * emissions are bit-equal to the batch rows and this query carries
  * the identical DuckDB oracle.
  *
  * Day-close detection leans on the replay harness's time-split
  * batches (event-time order across batches is guaranteed): a day is
  * final when a later-day event arrives in its arm, and the far-future
  * sentinel — fanned out to BOTH arms as a zero-weight flush marker —
  * closes each arm's last open day at end of stream. State never
  * grows with history: O(arms) entries of fixed width, the same bound
  * as the experiment scoreboard itself.
  */
object StatefulSprt extends QueryModule {

  /** One event entering the test (flush = sentinel-derived marker). */
  final case class SprtEvent(arm: Long, day: Long, success: Long,
      weight: Long)

  /** Carried per-arm state. */
  final case class SprtState(cumN: Long, cumS: Long, pendDay: Long,
      pendN: Long, pendS: Long, firstDec: Option[Long])

  /** Emitted row (same shape as q_sprt_gate). */
  final case class SprtRow(arm: Long, day: Long, cum_n: Long,
      cum_s: Long, llr_micro: Long, state: String,
      first_decision_day: Option[Long])

  private def finalizeDay(arm: Long, st: SprtState): (SprtRow, SprtState) = {
    val cumN = st.cumN + st.pendN
    val cumS = st.cumS + st.pendS
    val llr = cumS * SprtSucc - (cumN - cumS) * SprtFail
    val decided = if (llr >= SprtThresh) "accept_h1"
      else if (llr <= -SprtThresh) "accept_h0" else "continue"
    val firstDec = st.firstDec.orElse(
      if (decided != "continue") Some(st.pendDay) else None)
    (SprtRow(arm, st.pendDay, cumN, cumS, llr, decided, firstDec),
      SprtState(cumN, cumS, -1L, 0L, 0L, firstDec))
  }

  private[graft] def advance(arm: Long, it: Iterator[SprtEvent],
      state: GroupState[SprtState]): Iterator[SprtRow] = {
    // batches are time-split; sort within the batch for a total order
    val evs = it.toArray.sortBy(e => (e.day, -e.weight))
    if (evs.isEmpty) return Iterator.empty
    var st = state.getOption
      .getOrElse(SprtState(0L, 0L, -1L, 0L, 0L, None))
    val out = Vector.newBuilder[SprtRow]
    evs.foreach { e =>
      if (e.weight == 0L) {
        // flush marker: close the open day, if any
        if (st.pendDay >= 0L) {
          val (row, next) = finalizeDay(arm, st)
          out += row; st = next
        }
      } else {
        if (st.pendDay >= 0L && e.day > st.pendDay) {
          val (row, next) = finalizeDay(arm, st)
          out += row; st = next
        }
        st = st.copy(pendDay = e.day, pendN = st.pendN + e.weight,
          pendS = st.pendS + e.success)
      }
    }
    state.update(st)
    out.result().iterator
  }

  // 2024-01-01T00:00:00Z in epoch micros (the day-grid origin the
  // batch twin derives via datediff)
  private val DayZeroUs = 1704067200000000L

  override def queries
      : Map[String, (SparkSession, String) => org.apache.spark.sql
        .DataFrame] = Map(
    "q_streaming_sprt" -> ((s0, d) => {
      val s = Replay.sized(s0, "2")
      import s.implicits._
      val stream = Replay.replayStream(s, StatefulSession.replayDir(s, d))
        .select(col("ts_us"), col("user_id"), col("event_type"))
        .as[(Long, Long, String)]
        .flatMap { case (tsUs, user, typ) =>
          if (user < 0L)
            // sentinel: fan a zero-weight flush marker to both arms
            Seq(SprtEvent(0L, Long.MaxValue, 0L, 0L),
              SprtEvent(1L, Long.MaxValue, 0L, 0L))
          else
            Seq(SprtEvent(user % 2L,
              Math.floorDiv(tsUs - DayZeroUs, 86400000000L),
              if (typ == "purchase") 1L else 0L, 1L))
        }
      val out = stream.groupByKey(_.arm)
        .flatMapGroupsWithState[SprtState, SprtRow](
          OutputMode.Append(), GroupStateTimeout.NoTimeout)(advance)
      Replay.drain(out, "append").orderBy("arm", "day")
    })
  )

  // streamed emissions are bit-equal to the batch q_sprt_gate rows
  // (same integer LLR, same causal decision column) -> same oracle
  override def oracle: Map[String, String] = Map(
    "q_streaming_sprt" -> graft.operators.Experiments.oracle("q_sprt_gate"))
}

package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

import graft.QueryModule

/** Stateful streaming lag/rolling feature extraction: the online twin
  * of batch q_lag_features, maintained incrementally via
  * `flatMapGroupsWithState` — the online-feature-store pattern for
  * sequence-model inputs (each event's features are emitted once, as it
  * arrives, from 16 bytes of per-user state).
  *
  * Why this shape matters at fleet scale: the batch spelling re-sorts
  * every user's history per run; the streaming spelling carries exactly
  * the last TWO quantized values per user, independent of history
  * length. State is not time-evicted (the next event needs the previous
  * two whenever the user reappears) — O(users) bounded state, the same
  * bound as any per-user feature table.
  *
  * Determinism: values quantize to DECIMAL(18,4) unscaled longs at
  * ingest (the Det policy); lags and the first difference are exact
  * unscaled-long arithmetic; the 3-term rolling mean renders the exact
  * decimal sum once and divides by 3 — exactly the batch expression
  * tree, so streamed == batch bit-for-bit (pinned in the test suite AND
  * by the shared oracle).
  */
object StatefulLag extends QueryModule {

  /** One event entering the extractor. */
  final case class LagEvent(user_id: Long, ts_us: Long, value: Double,
      event_id: Long)

  /** Carried state: last <= 2 quantized values, MOST RECENT FIRST. */
  final case class LagState(recent: List[Long])

  /** Emitted row — same columns as batch q_lag_features. */
  final case class LagRow(event_id: Long, user_id: Long, v: Double,
      lag1: Option[Double], lag2: Option[Double], delta1: Option[Double],
      roll3: Option[Double])

  private def quant(v: Double): Long =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact

  private def render(unscaled: Long): Double =
    BigDecimal(java.math.BigInteger.valueOf(unscaled), 4).toDouble

  /** Fold this batch's events (event-time order — batches are
    * time-split, so cross-batch order is preserved by construction)
    * onto the carried 2-value history; emit one feature row per event.
    */
  private[graft] def features(user: Long, it: Iterator[LagEvent],
      state: GroupState[LagState]): Iterator[LagRow] = {
    val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
    if (evs.isEmpty) return Iterator.empty
    var recent = state.getOption.map(_.recent).getOrElse(Nil)
    val out = Vector.newBuilder[LagRow]
    evs.foreach { e =>
      val q = quant(e.value)
      val l1 = recent.headOption
      val l2 = recent.drop(1).headOption
      out += LagRow(e.event_id, user, render(q),
        l1.map(render), l2.map(render),
        l1.map(v => render(q - v)),
        // exact decimal 3-term sum rendered once, ONE IEEE division —
        // the batch (v + l1 + l2).cast(double) / 3 tree
        if (l1.isDefined && l2.isDefined)
          Some(render(q + l1.get + l2.get) / 3) else None)
      recent = (q :: recent).take(2)
    }
    state.update(LagState(recent))
    out.result().iterator
  }

  override def queries
      : Map[String, (SparkSession, String) => org.apache.spark.sql
        .DataFrame] = Map(
    "q_streaming_lagfeat" -> ((s0, d) => {
      val s = Replay.sized(s0, "2")
      import s.implicits._
      val stream = Replay.replayStream(s, StatefulSession.replayDir(s, d))
        .select("ts_us", "user_id", "value", "event_id")
        .as[LagEvent]
        .filter(_.user_id >= 0L) // drop the watermark sentinel ride-along
      val out = stream.groupByKey(_.user_id)
        .flatMapGroupsWithState[LagState, LagRow](
          OutputMode.Append(), GroupStateTimeout.NoTimeout)(features)
      Replay.drain(out, "append").orderBy("event_id")
    })
  )

  // The streamed emissions are bit-equal to the batch q_lag_features
  // rows (same quantization, same exact-decimal lags/differences, same
  // one-division rolling render), so this streaming query carries the
  // IDENTICAL oracle.
  override def oracle: Map[String, String] = Map(
    "q_streaming_lagfeat" ->
      graft.operators.Features.oracle("q_lag_features"))
}

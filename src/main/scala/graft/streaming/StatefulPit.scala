package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

import graft.QueryModule

/** Stateful streaming point-in-time feature serving: the online twin of
  * batch q_pit_features — each arriving 'purchase' label is enriched
  * with the latest at-or-before 'view'/'click' values from 32 bytes of
  * per-user state, exactly the online feature-store read path (state =
  * the feature table row; emission = the training/serving record).
  *
  * Why this shape matters at fleet scale: the batch spelling re-sorts
  * each user's history per run; the streaming spelling keeps only the
  * last value+timestamp per feature and serves every label at arrival
  * time with no retro-scan. State is not time-evicted (the next label
  * needs the features whenever the user reappears) — O(users) bounded
  * state, the feature-table bound.
  *
  * Determinism: values are COPIED, never aggregated, so raw doubles
  * round-trip bit-exactly; ordering within a replay batch is
  * (event-time, label-after-feature, event_id) — the batch window's
  * exact total order — so streamed == batch bit-for-bit and this query
  * carries the identical oracle.
  */
object StatefulPit extends QueryModule {

  final case class PitEvent(user_id: Long, ts_us: Long,
      event_type: String, value: Double, event_id: Long)

  /** Carried state: latest (us, value) per feature type. */
  final case class PitState(viewUs: Option[Long], viewV: Option[Double],
      clickUs: Option[Long], clickV: Option[Double])

  /** Emitted row — same columns as batch q_pit_features. */
  final case class PitRow(event_id: Long, user_id: Long, label_us: Long,
      f_view: Option[Double], f_click: Option[Double],
      view_age_us: Option[Long])

  private[graft] def serve(user: Long, it: Iterator[PitEvent],
      state: GroupState[PitState]): Iterator[PitRow] = {
    // (us, islabel, event_id): features at the same instant as a label
    // sort first and are therefore visible — the batch window's order
    val evs = it.toArray.sortBy(e =>
      (e.ts_us, if (e.event_type == "purchase") 1 else 0, e.event_id))
    if (evs.isEmpty) return Iterator.empty
    var st = state.getOption.getOrElse(PitState(None, None, None, None))
    val out = Vector.newBuilder[PitRow]
    evs.foreach { e =>
      e.event_type match {
        case "view" =>
          st = st.copy(viewUs = Some(e.ts_us), viewV = Some(e.value))
        case "click" =>
          st = st.copy(clickUs = Some(e.ts_us), clickV = Some(e.value))
        case _ =>
          out += PitRow(e.event_id, user, e.ts_us, st.viewV, st.clickV,
            st.viewUs.map(e.ts_us - _))
      }
    }
    state.update(st)
    out.result().iterator
  }

  override def queries
      : Map[String, (SparkSession, String) => org.apache.spark.sql
        .DataFrame] = Map(
    "q_streaming_pit" -> ((s0, d) => {
      val s = Replay.sized(s0, "2")
      import s.implicits._
      val stream = Replay.replayStream(s, StatefulSession.replayDir(s, d))
        .as[PitEvent]
        .filter((e: PitEvent) => e.user_id >= 0L &&
          Seq("view", "click", "purchase").contains(e.event_type))
      val out = stream.groupByKey(_.user_id)
        .flatMapGroupsWithState[PitState, PitRow](
          OutputMode.Append(), GroupStateTimeout.NoTimeout)(serve)
      Replay.drain(out, "append").orderBy("event_id")
    })
  )

  // Bit-equal to batch q_pit_features (values copied, identical
  // visibility order), so the streaming query carries the IDENTICAL
  // oracle.
  override def oracle: Map[String, String] = Map(
    "q_streaming_pit" ->
      graft.operators.Features.oracle("q_pit_features"))
}

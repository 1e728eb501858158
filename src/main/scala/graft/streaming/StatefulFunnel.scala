package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

import graft.QueryModule

/** Streamed conversion funnel (the online twin of q_funnel): per-user
  * first-view / first-qualifying-click / first-qualifying-purchase
  * maintained in 24 bytes of `flatMapGroupsWithState` state — the
  * live-funnel dashboard pattern, where a user's stage advances the
  * moment the qualifying event arrives instead of waiting for a batch
  * rebuild over their whole history.
  *
  * Emission protocol: every state ADVANCE emits a monotonically
  * versioned snapshot (append mode cannot retract); the drained sink
  * keeps each user's highest revision — a keep-latest collapse, the
  * same post-drain discipline as the binseg twin. Because events
  * replay in event-time order (time-split batches; in-batch sort),
  * "first qualifying" coincides with the batch min-aggregates and the
  * final snapshots are bit-equal to q_funnel — this query carries the
  * identical DuckDB oracle.
  */
object StatefulFunnel extends QueryModule {

  final case class FunnelEvent(user_id: Long, ts_us: Long,
      event_id: Long, typ: String)

  final case class FunnelState(t1: Option[Long], t2: Option[Long],
      t3: Option[Long], rev: Long)

  final case class FunnelRow(user_id: Long, rev: Long, t1_us: Long,
      t2_us: Option[Long], t3_us: Option[Long])

  private[graft] def advance(user: Long, it: Iterator[FunnelEvent],
      state: GroupState[FunnelState]): Iterator[FunnelRow] = {
    val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
    if (evs.isEmpty) return Iterator.empty
    var st = state.getOption.getOrElse(FunnelState(None, None, None, 0L))
    val out = Vector.newBuilder[FunnelRow]
    evs.foreach { e =>
      val advanced = e.typ match {
        case "view" if st.t1.isEmpty =>
          st = st.copy(t1 = Some(e.ts_us)); true
        case "click" if st.t1.exists(e.ts_us > _) && st.t2.isEmpty =>
          st = st.copy(t2 = Some(e.ts_us)); true
        case "purchase" if st.t2.exists(e.ts_us > _) && st.t3.isEmpty =>
          st = st.copy(t3 = Some(e.ts_us)); true
        case _ => false
      }
      if (advanced) {
        st = st.copy(rev = st.rev + 1L)
        out += FunnelRow(user, st.rev, st.t1.get, st.t2, st.t3)
      }
    }
    state.update(st)
    out.result().iterator
  }

  override def queries
      : Map[String, (SparkSession, String) => org.apache.spark.sql
        .DataFrame] = Map(
    "q_streaming_funnel" -> ((s0, d) => {
      val s = Replay.sized(s0, "2")
      import s.implicits._
      val stream = Replay.replayStream(s, StatefulSession.replayDir(s, d))
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"))
        .as[(Long, Long, Long, String)]
        .filter(_._1 >= 0L) // sentinel not needed: advances self-emit
        .map(t => FunnelEvent(t._1, t._2, t._3, t._4))
      val out = stream.groupByKey(_.user_id)
        .flatMapGroupsWithState[FunnelState, FunnelRow](
          OutputMode.Append(), GroupStateTimeout.NoTimeout)(advance)
      // keep-latest collapse of the monotone revisions, then render
      // exactly the batch q_funnel shape
      val fmt = (c: org.apache.spark.sql.Column) =>
        date_format(timestamp_micros(c.cast("long")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS")
      Replay.drain(out, "append")
        .groupBy("user_id")
        .agg(max(struct(col("rev"), col("t1_us"), col("t2_us"),
          col("t3_us"))).as("f"))
        .select(col("user_id"), fmt(col("f.t1_us")).as("t_view"),
          fmt(col("f.t2_us")).as("t_click"),
          fmt(col("f.t3_us")).as("t_purchase"),
          (lit(1L) + col("f.t2_us").isNotNull.cast("long") +
            col("f.t3_us").isNotNull.cast("long")).as("stage"))
        .orderBy("user_id")
    })
  )

  // final snapshots are bit-equal to the batch funnel -> same oracle
  override def oracle: Map[String, String] = Map(
    "q_streaming_funnel" ->
      graft.operators.TimeWindows.oracle("q_funnel"))
}

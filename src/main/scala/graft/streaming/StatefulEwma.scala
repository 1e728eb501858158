package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

import graft.QueryModule

/** Custom stateful streaming feature computation: per-user EWMA
  * (q_ewma_smooth's dyadic 8-term kernel) maintained incrementally via
  * `flatMapGroupsWithState` — the online twin of the batch window
  * query, carrying the SAME DuckDB oracle because the emissions are
  * bit-equal by construction.
  *
  * Why this shape matters at fleet scale: the batch spelling re-sorts
  * every user's full history per run; the streaming spelling carries
  * exactly the last 7 quantized values per user (56 bytes of state,
  * independent of history length) and emits each event's smoothed
  * value once as it arrives — the online-feature-store pattern.
  * State is NOT time-evicted: the recurrence needs the last 7 values
  * whenever the user next appears, so eviction would change results;
  * O(users) bounded state is the accepted cost (the same bound as any
  * per-user feature table).
  *
  * Determinism: values are quantized to DECIMAL(18,4) unscaled longs
  * at ingest (the Det policy); the 8-term dot product with weights
  * [128..1] is exact int64; ONE decimal->double render + the /255
  * division per emission — exactly the batch expression tree, so
  * streamed == batch bit-for-bit (pinned in the test suite AND by the
  * shared oracle).
  */
object StatefulEwma extends QueryModule {

  /** One event entering the smoother. */
  final case class EwmaEvent(user_id: Long, ts_us: Long, value: Double,
      event_id: Long)

  /** Carried state: last <= 7 quantized values, MOST RECENT FIRST. */
  final case class EwmaState(recent: List[Long])

  /** Emitted row (same shape as q_ewma_smooth). */
  final case class EwmaRow(user_id: Long, event_id: Long, ts: String,
      ewma: Double)

  private val Weights = Array(128L, 64L, 32L, 16L, 8L, 4L, 2L, 1L)

  private def quant(v: Double): Long =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact

  private def fmtMicros(us: Long): String =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  /** Fold this batch's events (event-time order — batches are
    * time-split, so cross-batch order is preserved by construction)
    * onto the carried 7-value history; emit once per event that has a
    * full 8-term window.
    */
  private[graft] def smooth(user: Long, it: Iterator[EwmaEvent],
      state: GroupState[EwmaState]): Iterator[EwmaRow] = {
    val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
    if (evs.isEmpty) return Iterator.empty
    var recent = state.getOption.map(_.recent).getOrElse(Nil)
    val out = Vector.newBuilder[EwmaRow]
    evs.foreach { e =>
      val q = quant(e.value)
      if (recent.length == 7) {
        // exact int64 dot product over [current :: last-7]
        val terms = q :: recent
        val numer = terms.iterator.zip(Weights.iterator)
          .map { case (v, w) => v * w }.sum
        out += EwmaRow(user, e.event_id, fmtMicros(e.ts_us),
          BigDecimal(java.math.BigInteger.valueOf(numer), 4).toDouble
            / 255.0)
      }
      recent = (q :: recent).take(7)
    }
    state.update(EwmaState(recent))
    out.result().iterator
  }

  override def queries
      : Map[String, (SparkSession, String) => org.apache.spark.sql
        .DataFrame] = Map(
    "q_streaming_ewma" -> ((s0, d) => {
      val s = Replay.sized(s0, "2")
      import s.implicits._
      val stream = Replay.replayStream(s, StatefulSession.replayDir(s, d))
        .select("ts_us", "user_id", "value", "event_id")
        .as[EwmaEvent]
        .filter(_.user_id >= 0L) // drop the watermark sentinel ride-along
      val out = stream.groupByKey(_.user_id)
        .flatMapGroupsWithState[EwmaState, EwmaRow](
          OutputMode.Append(), GroupStateTimeout.NoTimeout)(smooth)
      Replay.drain(out, "append").orderBy("user_id", "event_id")
    })
  )

  // The streamed emissions are bit-equal to the batch q_ewma_smooth
  // rows (same quantization, same int64 dot product, same one-division
  // render), so this streaming query carries the IDENTICAL oracle.
  override def oracle: Map[String, String] = Map(
    "q_streaming_ewma" ->
      graft.operators.Analytics.oracle("q_ewma_smooth"))
}

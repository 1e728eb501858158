package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryModule

/** Watermark late-data accounting: replay the event log OUT OF ORDER
  * (batch0 = even event_ids; batch2 = odd, arriving after the
  * watermark has advanced past them) through a watermarked hourly
  * aggregation, and reconcile the streamed totals against the batch
  * truth. The difference IS the rows the watermark dropped — the
  * number every streaming pipeline must alarm on (silent late-data
  * loss), and the reason watermark delay is a tuned knob, not a
  * default.
  *
  * Determinism: file order is pinned (mtimes); the late-event filter
  * uses the PREVIOUS batch's watermark and eviction runs at the end
  * of the first batch under a new watermark (measured, not assumed —
  * hence the heartbeat middle batch, see lateReplayDir), so the
  * dropped set is a closed-form predicate the DuckDB oracle states
  * directly: odd-id rows whose hour-window end <= the max even-id
  * timestamp. A far-future sentinel rides in the last batch to flush
  * every surviving window out of the append-mode sink.
  */
object LateData extends QueryModule {

  private val SentinelUser = -1L

  /** Out-of-order replay (see Replay.replay): split by event_id parity
    * instead of time.
    */
  private[graft] def lateReplayDir(s: SparkSession, d: String): String =
    Replay.replay(s, d, "events.parquet", "late-v2", batches = 3) {
      val raw = Replay.eventRows(s, d)
      val even = raw.filter(col("event_id") % 2 === 0)
      val Row(mx: Long) = raw.agg(max("ts_us")).head()
      val Row(mxEven: Long) = even.agg(max("ts_us")).head()
      // Three batches, because the watermark bites one batch late:
      // eviction for windows <= wm runs at the END of the first batch
      // processed under that wm, and the LATE-EVENT filter uses the
      // PREVIOUS batch's watermark — so late rows arriving in the
      // eviction batch still join their windows. batch0 advances the
      // watermark (even ids), the heartbeat batch lets eviction run
      // with no data riding along, and batch2's odd ids then hit the
      // late-event filter for real.
      val sentinelTs = mx + 100L * 86400L * 1000000L
      Seq(even, Replay.marker(s, mxEven, -2L, "heartbeat"),
        raw.filter(col("event_id") % 2 === 1)
          .unionAll(Replay.marker(s, sentinelTs, SentinelUser, "sentinel")))
    }

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q_streaming_late" -> ((s0, d) => {
        val s = Replay.sized(s0, "4")
        val agg = Replay.replayStream(s, lateReplayDir(s, d))
          .withColumn("ts", expr("timestamp_micros(ts_us)"))
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val streamed = Replay.drain(agg, "append")
          .filter(!col("event_type").isin("sentinel", "heartbeat"))
          .groupBy("event_type").agg(sum("n").as("n_streamed"))
        val batch = graft.Tables.table(s, d, "events")
          .groupBy("event_type").agg(count(lit(1)).as("n_batch"))
        batch.join(streamed, Seq("event_type"), "left")
          .na.fill(0L, Seq("n_streamed"))
          .select(col("event_type"), col("n_batch"), col("n_streamed"),
            (col("n_batch") - col("n_streamed")).as("n_late_dropped"),
            ((col("n_batch") - col("n_streamed")).cast("double") /
              col("n_batch")).as("late_share"))
          .orderBy("event_type")
      }))

  // The dropped set is closed-form: odd-id rows whose hour-window end
  // <= the watermark batch0 advanced to (max even-id event time) —
  // the heartbeat carries the same timestamp, so the late-event
  // watermark for batch2 is exactly that maximum.
  override def oracle: Map[String, String] = Map(
    "q_streaming_late" ->
      """WITH wm AS (SELECT MAX(ts) AS w FROM events
        |  WHERE event_id % 2 = 0),
        |cl AS (SELECT event_type,
        |    CASE WHEN event_id % 2 = 1
        |      AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
        |    THEN 1 ELSE 0 END AS dropped
        |  FROM events CROSS JOIN wm)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_batch,
        |  CAST(SUM(1 - dropped) AS BIGINT) AS n_streamed,
        |  CAST(SUM(dropped) AS BIGINT) AS n_late_dropped,
        |  CAST(SUM(dropped) AS DOUBLE) / COUNT(*) AS late_share
        |FROM cl GROUP BY event_type ORDER BY event_type""".stripMargin)
}

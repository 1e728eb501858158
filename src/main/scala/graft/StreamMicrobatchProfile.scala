package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One-shot diagnostic main (round 15, r14 ask #9): per-microbatch
  * breakdown of the heaviest streaming twins in the bench
  * (q_streaming_sessionwin, q_streaming_ohlc), separating the REPLAY
  * fixed cost (getBatch/source admission, constant per micro-batch and
  * owned by the test harness) from the STATE-STORE / aggregation cost
  * (addBatch + stateOperators, the part that would regress if the
  * query itself got slower). A session-level StreamingQueryListener
  * captures every progress event the twins' internal queries emit —
  * the twins themselves are run unmodified through their registered
  * entries. Output: one JSON line per micro-batch on stdout, plus a
  * per-query summary. The findings are recorded in SURVEY.md §6; this
  * main exists so the breakdown is reproducible, not re-derived by
  * hand each round.
  */
object StreamMicrobatchProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = Session.sfDir
    val spark = Session.local()

    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // sink names are per-run ids: label each run with the twin that
    // started it (onQueryStarted runs synchronously inside start())
    @volatile var current = ""
    val twinOf =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = {
        twinOf.put(e.runId, current); ()
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Long =
          Option(d.get(k)).map(_.longValue()).getOrElse(-1L)
        val state = p.stateOperators.map { so =>
          s"""{"op":"${so.operatorName}","rowsTotal":${so.numRowsTotal},""" +
            s""""rowsUpdated":${so.numRowsUpdated},""" +
            s""""commitMs":${so.commitTimeMs},""" +
            s""""memUsedBytes":${so.memoryUsedBytes}}"""
        }.mkString("[", ",", "]")
        rows.add(
          s"""{"twin":"${twinOf.get(p.runId)}","query":"${p.name}",""" +
            s""""batch":${p.batchId},""" +
            s""""rowsIn":${p.numInputRows},""" +
            s""""triggerMs":${ms("triggerExecution")},""" +
            s""""addBatchMs":${ms("addBatch")},""" +
            s""""getBatchMs":${ms("getBatch")},""" +
            s""""latestOffsetMs":${ms("latestOffset")},""" +
            s""""walCommitMs":${ms("walCommit")},""" +
            s""""commitOffsetsMs":${ms("commitOffsets")},""" +
            s""""stateOps":$state}""")
      }
    })

    for (q <- Seq("q_streaming_sessionwin", "q_streaming_ohlc")) {
      current = q
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[profile] $q total ${dt}%.2f s")
    }
    // progress events reach the listener through the async listener bus
    ListenerBusDrain.drain(spark.sparkContext)
    rows.forEach(r => println(r))
    spark.stop()
  }
}

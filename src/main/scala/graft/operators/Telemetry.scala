package graft.operators

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Telemetry-analytics operators (round 7, seventh block): lead-lag
  * cross-correlation between event streams, burst-episode detection, and
  * the audience-overlap matrix. All three carry full DuckDB oracles.
  *
  * Determinism: cross-correlation rides the q_corr_matrix exact-decimal
  * moment discipline (one terminal FP division per lag); burst gates are
  * integer cross-multiplications (no mean-rate division); overlap
  * counts are exact integers with one Jaccard division per pair.
  */
object Telemetry extends QueryModule {

  /** Daily exact-decimal value totals for one event type. */
  private def dailyOf(s: SparkSession, d: String, et: String): DataFrame =
    table(s, d, "events")
      .filter(col("event_type") === et)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(dec(col("value"))).cast(D).as("v"))

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(

      // --- SAX motif census (round 15): symbolic aggregate
      // approximation of each event type's daily-revenue series —
      // z-score each day against the type's own mean/std, bin into 4
      // symbols at the standard-normal quartile breakpoints (±0.6745,
      // 0), and count the 3-day motifs the symbol stream produces; the
      // discretized shape vocabulary behind time-series indexing
      // (Lin/Keogh SAX). Daily values are exact int64 dollars (cents
      // summed, then div 100 — Σv² < 2^53 so every double cast is
      // value-exact); μ and σ are ONE fixed IEEE tree off three exact
      // moments (÷, sqrt — no libm), so the z comparisons against the
      // breakpoint constants are deterministic cross-engine. Motifs
      // ride a per-type lead window over the O(types × days) daily
      // aggregate; the per-type top-5 is a row_number cut on the
      // O(types × 64) motif counts. Gaps collapse (the symbol stream
      // is over observed days). ---
      "q_sax_motifs" -> ((s, d) => {
        val daily = table(s, d, "events")
          .select(col("event_type").as("et"),
            col("ts").cast("date").as("day"),
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc"))
          .groupBy("et", "day").agg(sum("vc").as("cents"))
          // floor-consistent dollars (round-16, ADVICE): Spark `div`
          // truncates toward zero while DuckDB `//` floors, so a
          // negative daily sum would diverge cross-engine; subtracting
          // pmod first makes the dividend an exact multiple of 100
          // (truncation ≡ floor), identical on both engines and
          // value-identical to the old spelling for the non-negative
          // corpus.
          .select(col("et"), col("day"),
            expr("(cents - pmod(cents, 100)) div 100").as("v"))
        val st = daily.groupBy("et")
          .agg(count(lit(1)).as("n"), sum("v").cast("long").as("sv"),
            sum(col("v") * col("v")).cast("long").as("qv"))
          .select(col("et"),
            (col("sv").cast("double") / col("n").cast("double"))
              .as("mu"),
            sqrt(col("qv").cast("double") / col("n").cast("double")
              - (col("sv").cast("double") / col("n").cast("double"))
                * (col("sv").cast("double") / col("n").cast("double")))
              .as("sig"))
        val sym = daily.join(broadcast(st), "et")
          .select(col("et"), col("day"),
            ((col("v").cast("double") - col("mu")) / col("sig"))
              .as("z"))
          .select(col("et"), col("day"),
            when(col("z") < -0.6745, "a").when(col("z") < 0.0, "b")
              .when(col("z") < 0.6745, "c").otherwise("d").as("sym"))
        val wl = Window.partitionBy("et").orderBy("day")
        val motifs = sym
          .select(col("et"),
            concat(col("sym"), lead("sym", 1).over(wl),
              lead("sym", 2).over(wl)).as("motif"))
          .filter(col("motif").isNotNull)
          .groupBy("et", "motif").agg(count(lit(1)).as("c"))
        val rk = Window.partitionBy("et")
          .orderBy(col("c").desc, col("motif"))
        motifs.withColumn("rnk", row_number().over(rk).cast("long"))
          .filter(col("rnk") <= 5)
          .orderBy("et", "rnk")
      }),

      // --- p-chart SPC control limits (round 16): the Shewhart
      // attribute chart over the daily click share — centerline p̄ from
      // the whole window, per-day 3σ limits p̄ ± 3·√(p̄(1−p̄)/n_d)
      // (limits vary with the day's own sample size — the textbook
      // p-chart, not a fixed band), and the out-of-control flag per
      // day; the monitoring readout an ops review reads before any
      // anomaly model. Exact int64 daily counts; p̄ rides a broadcast
      // 1-row rollup; each day's limits are ONE fixed ÷/√ tree.
      // O(days) out. ---
      "q_spc_pchart" -> ((s, d) => {
        val daily = table(s, d, "events")
          .groupBy(col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("n"),
            sum((col("event_type") === "click").cast("long"))
              .as("n_click"))
        val tot = daily.agg(sum("n").cast("long").as("tn"),
          sum("n_click").cast("long").as("tc"))
        val pbar = col("tc").cast("double") / col("tn").cast("double")
        val half = lit(3.0) * sqrt(pbar * (lit(1.0) - pbar)
          / col("n").cast("double"))
        daily.crossJoin(broadcast(tot))
          .select(col("day"), col("n"), col("n_click"),
            (col("n_click").cast("double") / col("n").cast("double"))
              .as("p"),
            pbar.as("p_bar"),
            greatest(lit(0.0), pbar - half).as("lcl"),
            (pbar + half).as("ucl"))
          .withColumn("oob",
            col("p") < col("lcl") || col("p") > col("ucl"))
          .orderBy("day")
      }),

      // --- lead-lag cross-correlation: corr(click_t, view_{t+k}) for
      // k in -3..3 — the causality screen (does one stream lead the
      // other, and by how many days?). Each series collapses to exact
      // decimal day totals first (the q_autocorr discipline); the
      // 7-lag fan-out is a map-side explode of the CLICK side joined
      // to the view side on the shifted day key (an equi join per lag
      // — never a window per lag, and never a cross join); Pearson
      // per lag comes from exact decimal sums with ONE terminal FP
      // division (q_corr_matrix). Output is 7 rows. ---
      // --- session-level type co-occurrence lift (round 9): which
      // event types appear in the SAME 30-minute session more often
      // than independence predicts — the market-basket readout at
      // session grain (q_basket_pairs scores orders; this scores
      // attention sessions). Gaps-and-islands sessionization (the
      // q_session_ctr derivation), distinct (session, type) rows, and
      // the pair join keys on the session id — pairs are bounded by
      // types² per session, never corpus². ---
      "q_session_cooccur" -> ((s, d) => {
        val wu = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
        val sd = table(s, d, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"), col("event_type"))
          .withColumn("newsess",
            when(col("us") - lag("us", 1).over(wu) > 1800L * 1000000L ||
              lag("us", 1).over(wu).isNull, 1L).otherwise(0L))
          .withColumn("sid", sum("newsess").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select("user_id", "sid", "event_type").distinct()
        val tot = sd.select("user_id", "sid").distinct()
          .agg(count(lit(1)).as("n_sessions"))
        val marg = sd.groupBy("event_type").agg(count(lit(1)).as("n_with"))
        val pairs = sd.as("a")
          .join(sd.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("a.sid") === col("b.sid") &&
              col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("ta"),
            col("b.event_type").as("tb"))
          .agg(count(lit(1)).as("n_both"))
        pairs
          .join(broadcast(marg.select(col("event_type").as("ta"),
            col("n_with").as("n_a"))), "ta")
          .join(broadcast(marg.select(col("event_type").as("tb"),
            col("n_with").as("n_b"))), "tb")
          .crossJoin(broadcast(tot))
          .select(col("ta"), col("tb"), col("n_both"), col("n_a"),
            col("n_b"),
            (col("n_both").cast("double") * col("n_sessions") /
              (col("n_a").cast("double") * col("n_b"))).as("lift"))
          .orderBy("ta", "tb")
      }),

      // --- timing-augmented transition matrix (round 9): per (from,
      // to) event-type transition, the count AND the mean dwell time —
      // q_markov_transition says WHERE users go next; this says HOW
      // LONG they linger first (the latency readout a UX/capacity
      // review needs). One per-user lag window; exact int64 gap sums;
      // one terminal division. O(types²) output. ---
      "q_transition_time" -> ((s, d) => {
        val wu = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
        table(s, d, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"), col("event_type"))
          .withColumn("tfrom", lag("event_type", 1).over(wu))
          .withColumn("gap_us", col("us") - lag("us", 1).over(wu))
          .filter(col("tfrom").isNotNull)
          .groupBy(col("tfrom"), col("event_type").as("tto"))
          .agg(count(lit(1)).as("n"), sum("gap_us").as("total_gap_us"))
          .withColumn("mean_gap_s",
            col("total_gap_us").cast("double") / col("n") / 1000000.0)
          .orderBy("tfrom", "tto")
      }),

      "q_cross_corr" -> ((s, d) => {
        val x = dailyOf(s, d, "click")
          .select(col("day"), col("v").as("x"))
        val y = dailyOf(s, d, "view")
          .select(col("day").as("yday"), col("v").as("y"))
        val lagged = x
          .select(col("day"), col("x"),
            explode(sequence(lit(-3), lit(3))).as("k"))
          .withColumn("jday", expr("timestampadd(DAY, k, day)"))
          .join(y, col("jday") === col("yday"))
        val g = lagged.groupBy("k").agg(
          count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        def Dd(name: String) = col(name).cast("double")
        g.select(col("k").cast("long").as("k"), col("n"),
            ((Dd("n") * Dd("sxy") - Dd("sx") * Dd("sy")) /
              (sqrt(Dd("n") * Dd("sxx") - Dd("sx") * Dd("sx")) *
                sqrt(Dd("n") * Dd("syy") - Dd("sy") * Dd("sy"))))
              .as("xcorr"))
          .orderBy("k")
      }),

      // --- burst-episode detection: maximal runs of consecutive hours
      // whose event count clears 2x the type's mean hourly rate — the
      // incident/virality readout. The threshold gate is an integer
      // cross-multiplication (n·H ≥ 2·total — no mean division, no
      // epsilon); episodes are gaps-and-islands over the SURVIVING
      // hours only (consecutive = exactly 3600s apart, island ids via
      // lag + cumsum on one per-type window); output is one row per
      // episode with span and peak. Everything after the hourly
      // aggregate is O(bursty hours). ---
      "q_burst_detect" -> ((s, d) => {
        val hourly = table(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("n"))
        val tot = hourly.groupBy("event_type")
          .agg(sum("n").as("total"), count(lit(1)).as("hours"))
        val hot = hourly.join(broadcast(tot), "event_type")
          .filter(col("n") * col("hours") >= col("total") * 2)
          .select(col("event_type"), col("h"), col("n"),
            unix_micros(col("h")).as("hu"))
        val wl = Window.partitionBy("event_type").orderBy("hu")
        val wc = Window.partitionBy("event_type").orderBy("hu")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hot
          .withColumn("prev", lag("hu", 1).over(wl))
          .withColumn("newi",
            (col("prev").isNull ||
              col("hu") - col("prev") =!= 3600000000L).cast("long"))
          .withColumn("ep", sum("newi").over(wc))
          .groupBy("event_type", "ep")
          .agg(date_format(min("h"), "yyyy-MM-dd HH:00").as("start_h"),
            count(lit(1)).as("n_hours"),
            max("n").as("peak"))
          .select(col("event_type"), col("start_h"), col("n_hours"),
            col("peak"))
          .orderBy("event_type", "start_h")
      }),

      // --- max-min fair-share allocation (water-filling): per
      // returnflag, a capacity of half the total demand splits among
      // suppliers so that everyone gets min(demand, L) with the water
      // level L chosen to exhaust capacity — the quota/rate-limit
      // design readout (q_alloc_greedy ranks by time; this one is
      // fairness-optimal). The classic sorted sweep as ONE window per
      // flag: ascending-demand cumsum P and row index i make the
      // level condition P_{i-1} + d_i·(n-i+1) > C an exact decimal
      // comparison per row; L = (C - P_{i-1})/(n-i+1) evaluates on
      // the FIRST violating row only (min_by struct — no second
      // window), and n_full counts rows below it. One terminal FP
      // division per flag. ---
      "q_fair_share" -> ((s, d) => {
        val dem = table(s, d, "lineitem")
          .groupBy(col("l_returnflag").as("flag"),
            col("l_suppkey").as("supp"))
          .agg(sum(dec(col("l_quantity"))).cast(D).as("dm"))
        val wt = Window.partitionBy("flag")
        val wo = Window.partitionBy("flag").orderBy("dm", "supp")
        val wc = Window.partitionBy("flag").orderBy("dm", "supp")
          .rowsBetween(Window.unboundedPreceding, -1)
        // capacity = total/2, but NO decimal division anywhere: the
        // level condition doubles both sides (2·(P+d·slots) > total —
        // exact decimal multiplications), and L itself is computed in
        // doubles off exact decimal operands (DuckDB decimal division
        // returns DOUBLE, so a decimal cap would round differently
        // per engine)
        val marked = dem
          .withColumn("n", count(lit(1)).over(wt))
          .withColumn("tot", sum("dm").over(wt))
          .withColumn("i", row_number().over(wo).cast("long"))
          .withColumn("pprev",
            coalesce(sum("dm").over(wc), lit(0).cast(D)))
          .withColumn("viol",
            (col("pprev") + col("dm") * (col("n") - col("i") + 1)) * 2
              > col("tot"))
        marked.groupBy("flag")
          .agg(max("n").as("n_suppliers"),
            (max("tot").cast("double") / 2.0).as("capacity"),
            (min(when(col("viol"), col("i"))) - 1).as("n_fully_served"),
            min_by(
              ((col("tot").cast("double") -
                lit(2.0) * col("pprev").cast("double")) /
                (lit(2.0) * (col("n") - col("i") + 1).cast("double"))),
              when(col("viol"), col("i")).otherwise(lit(Long.MaxValue)))
              .as("water_level"))
          .select(col("flag"), col("n_suppliers"), col("capacity"),
            col("n_fully_served"), col("water_level"))
          .orderBy("flag")
      }),

      // --- peak concurrency: the maximum number of simultaneously
      // open [ts, ts+value s] windows per event type, and the first
      // instant it is reached — the capacity-planning twin of
      // q_interval_union (coverage measures HOW LONG, this measures
      // HOW DEEP). The interval sweep as a delta stream: each event
      // emits (+1 at start, -1 at end) map-side, one per-type ordered
      // window accumulates the running depth (ends sort before starts
      // at the same instant — half-open intervals), and the peak and
      // its first attain time come from one max(struct) extremum over
      // the depth stream. All int64. ---
      "q_peak_concurrency" -> ((s, d) => {
        val ev = table(s, d, "events").select(
          col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("st"),
          (unix_micros(col("ts")) +
            round(col("value"), 0).cast("long") * 1000000L).as("en"))
        val deltas = ev.select(col("event_type"), col("event_id"),
            explode(array(
              struct(col("st").as("t"), lit(1L).as("dl")),
              struct(col("en").as("t"), lit(-1L).as("dl")))).as("e"))
          .select(col("event_type"), col("event_id"),
            col("e.t").as("t"), col("e.dl").as("dl"))
        val wr = Window.partitionBy("event_type")
          .orderBy(col("t"), col("dl"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        deltas
          .withColumn("depth", sum("dl").over(wr))
          .groupBy("event_type")
          .agg(max(struct(col("depth"), (-col("t")).as("negt")))
            .as("pk"))
          .select(col("event_type"),
            col("pk.depth").as("peak"),
            (-col("pk.negt")).as("peak_at_us"))
          .orderBy("event_type")
      }),

      // --- top event paths: the 20 most common length-3 event-type
      // sequences across users — the product-analytics "path analysis"
      // readout (which journeys dominate?). Per-user ordering rides the
      // user_id-bucketed event layout (the window's partition key IS
      // the bucket key, so no exchange materializes under it); the
      // 3-gram fan-out is two lead() columns on that one window — never
      // a self-join of the event log; the path rollup is a map-side-
      // partial aggregate on O(types³) keys and the top-20 cut is
      // TakeOrdered with a total-order tie-break. ---
      "q_event_paths" -> ((s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        Advanced.eventsByUser(s, d)
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"))
          .withColumn("t2", lead("event_type", 1).over(w))
          .withColumn("t3", lead("event_type", 2).over(w))
          .filter(col("t3").isNotNull)
          .select(concat_ws(" > ", col("event_type"), col("t2"),
            col("t3")).as("path"))
          .groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path"))
          .limit(20)
      }),

      // --- audience-overlap matrix: pairwise distinct-user overlap and
      // Jaccard between event types — the segmentation readout (which
      // behaviors share an audience?). The (user, type) distinct
      // relation collapses to ONE sorted type list per user (types are
      // a tiny domain), i<j pairs stream map-side from each list (the
      // posting-list pair idiom — never a self-join of the user-type
      // relation), and per-type audience sizes broadcast back for the
      // Jaccard. Output is O(types²). ---
      "q_user_overlap" -> ((s, d) => {
        val ut = table(s, d, "events")
          .select(col("user_id"), col("event_type")).distinct()
        val sizes = ut.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        val lists = ut.groupBy("user_id")
          .agg(sort_array(collect_set(col("event_type"))).as("ts"))
        val pairs = lists
          .select(posexplode(col("ts")).as(Seq("i", "ta")), col("ts"))
          .select(col("ta"), col("i"),
            posexplode(col("ts")).as(Seq("j", "tb")))
          .filter(col("i") < col("j"))
          .groupBy("ta", "tb").agg(count(lit(1)).as("inter"))
        pairs
          .join(broadcast(sizes).withColumnRenamed("event_type", "ta")
            .withColumnRenamed("cnt", "na"), Seq("ta"))
          .join(broadcast(sizes).withColumnRenamed("event_type", "tb")
            .withColumnRenamed("cnt", "nb"), Seq("tb"))
          .select(col("ta"), col("tb"), col("inter"), col("na"),
            col("nb"),
            (col("inter").cast("double") /
              (col("na") + col("nb") - col("inter")).cast("double"))
              .as("jaccard"))
          .orderBy("ta", "tb")
      }),

      // --- hourly OHLC candles (round 10): open / high / low / close
      // of the event value stream per (type, hour) — the telemetry
      // compaction every monitoring store runs (a candle is 5 numbers
      // where raw retention is thousands of points). Open/close are
      // min_by/max_by AGGREGATES keyed on the total (ts, event_id)
      // order — one hash aggregate with map-side partials, no window,
      // no sort; the struct extremum is merge-order-independent
      // because the key is a total order (the ivfAssigned argmax
      // discipline). Values quantize to DECIMAL before min/max so the
      // candle renders identically on both engines. ---
      "q_ohlc_hourly" -> ((s, d) => {
        val ev = table(s, d, "events")
          .select(col("event_type"),
            expr("unix_micros(ts) div 3600000000").as("hr"),
            unix_micros(col("ts")).as("us"), col("event_id"),
            dec(col("value")).as("v"))
        ev.groupBy("event_type", "hr")
          .agg(count(lit(1)).as("n_events"),
            min_by(col("v"), struct(col("us"), col("event_id")))
              .cast("double").as("open"),
            max(col("v")).cast("double").as("high"),
            min(col("v")).cast("double").as("low"),
            max_by(col("v"), struct(col("us"), col("event_id")))
              .cast("double").as("close"))
          .orderBy("event_type", "hr")
      }),

      // --- sessionization gap-threshold sweep (round 10): how the
      // session count and events-per-session move as the inactivity
      // cutoff trades 30 → 60 → 120 minutes — the tuning readout every
      // sessionizer needs BEFORE committing a gap constant (the
      // q_lsh_curve discipline applied to sessionization). ONE user-
      // partitioned window computes each consecutive gap once; all
      // three thresholds are conditional counts over that same gap
      // stream (map-side partials, one aggregate); sessions(T) =
      // users + gaps>T exactly (each over-gap starts one session).
      // Micros stay integer end-to-end; the only FP op is the final
      // events-per-session division. The gap window rides the
      // user_id-BUCKETED event layout (the q_event_paths discipline),
      // so no hash exchange materializes anywhere in the plan. ---
      "q_session_gap_sweep" -> ((s, d) => {
        val wu = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
        val g = s.table(Advanced.bucketize(s, d, "events", "user_id"))
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"))
          .withColumn("gap", col("us") - lag("us", 1).over(wu))
        def over(minutes: Int): Column =
          sum((col("gap") > minutes * 60L * 1000000L).cast("long"))
            .as(s"b$minutes")
        g.agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            over(30), over(60), over(120))
          .selectExpr(
            "stack(3, 30L, n_users + b30, 60L, n_users + b60, " +
              "120L, n_users + b120) AS (gap_min, n_sessions)",
            "n_events")
          .select(col("gap_min"), col("n_sessions"), col("n_events"),
            (col("n_events").cast("double") / col("n_sessions"))
              .as("events_per_session"))
          .orderBy("gap_min")
      }))

  override def oracle: Map[String, String] = Map(

    "q_spc_pchart" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_click
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
        |    CAST(SUM(n_click) AS BIGINT) AS tc FROM daily),
        |x AS (SELECT day, n, n_click,
        |    CAST(n_click AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    CAST(tc AS DOUBLE) / CAST(tn AS DOUBLE) AS p_bar,
        |    GREATEST(0.0, CAST(tc AS DOUBLE) / CAST(tn AS DOUBLE)
        |      - 3.0 * sqrt(CAST(tc AS DOUBLE) / CAST(tn AS DOUBLE)
        |        * (1.0 - CAST(tc AS DOUBLE) / CAST(tn AS DOUBLE))
        |        / CAST(n AS DOUBLE))) AS lcl,
        |    CAST(tc AS DOUBLE) / CAST(tn AS DOUBLE)
        |      + 3.0 * sqrt(CAST(tc AS DOUBLE) / CAST(tn AS DOUBLE)
        |        * (1.0 - CAST(tc AS DOUBLE) / CAST(tn AS DOUBLE))
        |        / CAST(n AS DOUBLE)) AS ucl
        |  FROM daily CROSS JOIN tot)
        |SELECT day, n, n_click, p, p_bar, lcl, ucl,
        |  p < lcl OR p > ucl AS oob
        |FROM x ORDER BY day""".stripMargin,

    "q_sax_motifs" ->
      """WITH d0 AS (SELECT event_type AS et, CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS vc FROM events),
        |daily AS (SELECT et, day,
        |    (c - ((c % 100) + 100) % 100) // 100 AS v
        |  FROM (SELECT et, day, CAST(SUM(vc) AS BIGINT) AS c
        |        FROM d0 GROUP BY 1, 2)),
        |st AS (SELECT et,
        |    CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS mu,
        |    sqrt(CAST(CAST(SUM(v * v) AS BIGINT) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE)
        |      - (CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE)
        |          / CAST(COUNT(*) AS DOUBLE))
        |        * (CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE)
        |          / CAST(COUNT(*) AS DOUBLE))) AS sig
        |  FROM daily GROUP BY 1),
        |sym AS (SELECT et, day,
        |    CASE WHEN (CAST(v AS DOUBLE) - mu) / sig < -0.6745 THEN 'a'
        |         WHEN (CAST(v AS DOUBLE) - mu) / sig < 0.0 THEN 'b'
        |         WHEN (CAST(v AS DOUBLE) - mu) / sig < 0.6745 THEN 'c'
        |         ELSE 'd' END AS sym
        |  FROM daily JOIN st USING (et)),
        |m AS (SELECT et,
        |    sym || LEAD(sym, 1) OVER w || LEAD(sym, 2) OVER w AS motif
        |  FROM sym WINDOW w AS (PARTITION BY et ORDER BY day)),
        |mc AS (SELECT et, motif, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM m WHERE motif IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT et, motif, c, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY et ORDER BY c DESC, motif) AS BIGINT) AS rnk
        |  FROM mc)
        |SELECT et, motif, c, rnk FROM r WHERE rnk <= 5
        |ORDER BY et, rnk""".stripMargin,

    "q_ohlc_hourly" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 3600000000 AS hr,
        |    epoch_us(ts) AS us, event_id,
        |    CAST(value AS DECIMAL(18,4)) AS v
        |  FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type, hr
        |      ORDER BY us, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, hr
        |      ORDER BY us DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT event_type, CAST(hr AS BIGINT) AS hr,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MAX(CASE WHEN rn_a = 1 THEN v END) AS DOUBLE) AS open,
        |  CAST(MAX(v) AS DOUBLE) AS high,
        |  CAST(MIN(v) AS DOUBLE) AS low,
        |  CAST(MAX(CASE WHEN rn_d = 1 THEN v END) AS DOUBLE) AS close
        |FROM r GROUP BY 1, 2 ORDER BY event_type, hr""".stripMargin,

    "q_session_gap_sweep" ->
      """WITH g AS (SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS gap
        |  FROM events),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |    CAST(SUM(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b30,
        |    CAST(SUM(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b60,
        |    CAST(SUM(CASE WHEN gap > 7200000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b120
        |  FROM g),
        |st AS (SELECT * FROM (
        |  SELECT CAST(30 AS BIGINT) AS gap_min,
        |      n_users + b30 AS n_sessions, n_events FROM a
        |  UNION ALL SELECT 60, n_users + b60, n_events FROM a
        |  UNION ALL SELECT 120, n_users + b120, n_events FROM a))
        |SELECT gap_min, n_sessions, n_events,
        |  CAST(n_events AS DOUBLE) / n_sessions AS events_per_session
        |FROM st ORDER BY gap_min""".stripMargin,


    "q_session_cooccur" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type FROM events),
        |ns AS (SELECT *,
        |    CASE WHEN lag(us) OVER w IS NULL
        |        OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END
        |      AS newsess
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY us, event_id)),
        |sd AS (SELECT DISTINCT user_id, event_type,
        |    CAST(SUM(newsess) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS sid
        |  FROM ns),
        |t AS (SELECT CAST(COUNT(DISTINCT (user_id, sid)) AS BIGINT)
        |    AS n_sessions FROM sd),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_with
        |  FROM sd GROUP BY 1),
        |p AS (SELECT a.event_type AS ta, b.event_type AS tb,
        |    CAST(COUNT(*) AS BIGINT) AS n_both
        |  FROM sd a JOIN sd b ON a.user_id = b.user_id AND a.sid = b.sid
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT ta, tb, n_both, ma.n_with AS n_a, mb.n_with AS n_b,
        |  CAST(n_both AS DOUBLE) * n_sessions /
        |    (CAST(ma.n_with AS DOUBLE) * mb.n_with) AS lift
        |FROM p JOIN m ma ON ma.event_type = ta
        |JOIN m mb ON mb.event_type = tb CROSS JOIN t
        |ORDER BY ta, tb""".stripMargin,

    "q_transition_time" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    event_type FROM events),
        |l AS (SELECT event_type AS tto, lag(event_type) OVER w AS tfrom,
        |    us - lag(us) OVER w AS gap_us
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY us, event_id))
        |SELECT tfrom, tto, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
        |  CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) / 1000000.0
        |    AS mean_gap_s
        |FROM l WHERE tfrom IS NOT NULL GROUP BY 1, 2
        |ORDER BY tfrom, tto""".stripMargin,

    "q_cross_corr" ->
      """WITH x AS (
        |  SELECT date_trunc('day', ts) AS day,
        |         CAST(SUM(CAST(value AS DECIMAL(18,4)))
        |           AS DECIMAL(18,4)) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |y AS (
        |  SELECT date_trunc('day', ts) AS yday,
        |         CAST(SUM(CAST(value AS DECIMAL(18,4)))
        |           AS DECIMAL(18,4)) AS y
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |l AS (SELECT k, x.x, y.y
        |      FROM x CROSS JOIN (SELECT unnest(range(-3, 4)) AS k) ks
        |      JOIN y ON y.yday = x.day + k * INTERVAL 1 DAY),
        |g AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
        |        SUM(x) AS sx, SUM(y) AS sy,
        |        SUM(CAST(x AS DECIMAL(19,4)) * y) AS sxy,
        |        SUM(CAST(x AS DECIMAL(19,4)) * x) AS sxx,
        |        SUM(CAST(y AS DECIMAL(19,4)) * y) AS syy
        |      FROM l GROUP BY 1)
        |SELECT CAST(k AS BIGINT) AS k, n,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS xcorr
        |FROM g ORDER BY k""".stripMargin,

    "q_burst_detect" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS total,
        |          CAST(COUNT(*) AS BIGINT) AS hours
        |        FROM hourly GROUP BY 1),
        |hot AS (SELECT hourly.event_type, h, n, epoch_us(h) AS hu
        |        FROM hourly JOIN tot USING (event_type)
        |        WHERE n * hours >= total * 2),
        |f AS (SELECT event_type, h, n, hu,
        |        lag(hu, 1) OVER (PARTITION BY event_type ORDER BY hu)
        |          AS prev
        |      FROM hot),
        |i AS (SELECT event_type, h, n,
        |        SUM(CASE WHEN prev IS NULL OR hu - prev <> 3600000000
        |            THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY event_type ORDER BY hu
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS ep
        |      FROM f)
        |SELECT event_type, strftime(MIN(h), '%Y-%m-%d %H:00')
        |    AS start_h,
        |  CAST(COUNT(*) AS BIGINT) AS n_hours,
        |  CAST(MAX(n) AS BIGINT) AS peak
        |FROM i GROUP BY event_type, ep
        |ORDER BY event_type, start_h""".stripMargin,

    "q_fair_share" ->
      """WITH dem AS (
        |  SELECT l_returnflag AS flag, l_suppkey AS supp,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
        |           AS DECIMAL(18,4)) AS dm
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (SELECT flag, supp, dm,
        |        CAST(COUNT(*) OVER (PARTITION BY flag) AS BIGINT) AS n,
        |        SUM(dm) OVER (PARTITION BY flag) AS tot,
        |        CAST(row_number() OVER (PARTITION BY flag
        |          ORDER BY dm, supp) AS BIGINT) AS i,
        |        COALESCE(SUM(dm) OVER (PARTITION BY flag
        |          ORDER BY dm, supp
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          CAST(0 AS DECIMAL(18,4))) AS pprev
        |      FROM dem),
        |v AS (SELECT flag, n, tot, i, pprev,
        |        2 * (CAST(CAST(pprev AS DECIMAL(18,4)) * 10000
        |               AS BIGINT)
        |          + CAST(dm * 10000 AS BIGINT) * (n - i + 1))
        |          > CAST(CAST(tot AS DECIMAL(18,4)) * 10000 AS BIGINT)
        |          AS viol
        |      FROM w),
        |f AS (SELECT flag, i, pprev, n,
        |        (CAST(tot AS DOUBLE) - 2 * CAST(pprev AS DOUBLE)) /
        |          (2 * CAST(n - i + 1 AS DOUBLE)) AS lvl,
        |        row_number() OVER (PARTITION BY flag ORDER BY i) AS rr
        |      FROM v WHERE viol),
        |t AS (SELECT flag, CAST(MAX(n) AS BIGINT) AS n_suppliers,
        |        CAST(MAX(tot) AS DOUBLE) / 2 AS capacity
        |      FROM w GROUP BY 1)
        |SELECT t.flag AS flag, n_suppliers, capacity,
        |  CAST(f.i - 1 AS BIGINT) AS n_fully_served,
        |  f.lvl AS water_level
        |FROM t JOIN f ON f.flag = t.flag AND f.rr = 1
        |ORDER BY t.flag""".stripMargin,

    "q_peak_concurrency" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS st,
        |         epoch_us(ts)
        |           + CAST(round(value, 0) AS BIGINT) * 1000000 AS en
        |  FROM events),
        |dl AS (SELECT event_type, event_id, st AS t,
        |         CAST(1 AS BIGINT) AS dl FROM ev
        |       UNION ALL
        |       SELECT event_type, event_id, en,
        |         CAST(-1 AS BIGINT) FROM ev),
        |r AS (SELECT event_type, t,
        |        CAST(SUM(dl) OVER (PARTITION BY event_type
        |          ORDER BY t, dl, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS depth
        |      FROM dl),
        |m AS (SELECT event_type, CAST(MAX(depth) AS BIGINT) AS peak
        |      FROM r GROUP BY 1)
        |SELECT r.event_type AS event_type, m.peak AS peak,
        |  CAST(MIN(t) AS BIGINT) AS peak_at_us
        |FROM r JOIN m
        |  ON r.event_type = m.event_type AND r.depth = m.peak
        |GROUP BY r.event_type, m.peak
        |ORDER BY r.event_type""".stripMargin,

    "q_event_paths" ->
      """WITH p AS (
        |  SELECT user_id, event_type,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (SELECT event_type || ' > ' || t2 || ' > ' || t3 AS path,
        |        CAST(COUNT(*) AS BIGINT) AS n
        |      FROM p WHERE t3 IS NOT NULL GROUP BY 1)
        |SELECT path, n FROM c ORDER BY n DESC, path LIMIT 20""".stripMargin,

    "q_user_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |sz AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM ut GROUP BY 1),
        |pr AS (SELECT a.event_type AS ta, b.event_type AS tb,
        |         CAST(COUNT(*) AS BIGINT) AS inter
        |       FROM ut a JOIN ut b
        |         ON a.user_id = b.user_id
        |        AND a.event_type < b.event_type
        |       GROUP BY 1, 2)
        |SELECT ta, tb, inter, sa.cnt AS na, sb.cnt AS nb,
        |  CAST(inter AS DOUBLE) /
        |    CAST(sa.cnt + sb.cnt - inter AS DOUBLE) AS jaccard
        |FROM pr JOIN sz sa ON sa.event_type = ta
        |        JOIN sz sb ON sb.event_type = tb
        |ORDER BY ta, tb""".stripMargin)
}

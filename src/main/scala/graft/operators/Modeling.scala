package graft.operators

import graft.QueryModule
import graft.Det._
import graft.Tables.table
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Forecasting & modeling steps (round 8, batch 8): additive
  * Holt-Winters seasonal smoothing, prediction-interval coverage audit,
  * one synchronous label-propagation round, one exact batch perceptron
  * update, and a local-DP randomized-response estimator. All five carry
  * full DuckDB oracles.
  *
  * Determinism: the Holt-Winters fold uses α=β=γ=1/2 so every step is
  * exact IEEE halving in day order (the q_holt_linear discipline, with
  * the seasonal ring riding in the fold state); the seed level is an
  * exact DECIMAL(18,4) sum of the first week. Everything else is exact
  * int64 counting with terminal fixed-tree divisions.
  */
object Modeling extends QueryModule {

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(

      // --- additive Holt-Winters (triple exponential, period 7,
      // α=β=γ=1/2) of the per-type daily value series: the seasonal
      // upgrade of q_holt_linear for weekday-periodic volume. Seeds:
      // L0 = exact-decimal mean of week 1, B0 = 0, S_i = y_i − L0.
      // The fold carries (level, trend, 7-slot seasonal ring) through
      // days 8..n in day order — series are time-sized (30 entries
      // here, years at most), NEVER corpus-sized, so the per-group
      // state is bounded at any scale; every step halves exactly in
      // IEEE, bit-identical to the oracle's recursive CTE carrying the
      // same list. Forecast = level + trend + next season slot. ---
      "q_holt_winters" -> ((s, d) => {
        val daily = table(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).as("day"))
          .agg(sum(dec(col("value"))).cast("double").as("y"))
        val base = daily.groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            sort_array(collect_list(struct(col("day"), col("y"))))
              .as("series"))
          // exact-decimal week-1 mean: the 7 y's came out of a decimal
          // sum, so re-casting them to DECIMAL(18,4) is lossless and
          // the seed is order-independent
          .withColumn("l0",
            aggregate(expr("slice(series, 1, 7)"),
              lit(0).cast(DecimalType(18, 4)),
              (a, x) => (a + x.getField("y").cast(DecimalType(18, 4)))
                .cast(DecimalType(18, 4)))
              .cast("double") / lit(7.0))
          .withColumn("s0",
            transform(expr("slice(series, 1, 7)"),
              x => x.getField("y") - col("l0")))
        // greatest(...,0): a type with <7 daily rows would make the
        // slice length negative (a runtime error on Spark), while the
        // oracle's recursive CTE just folds zero steps — clamping makes
        // short series emit the seed state on both engines.
        val st = aggregate(
          expr("slice(series, 8, greatest(size(series) - 7, 0))"),
          struct(col("l0").as("l"), lit(0.0).as("b"), col("s0").as("s")),
          (acc, x) => {
            val l = acc.getField("l"); val b = acc.getField("b")
            val s1 = element_at(acc.getField("s"), 1)
            val l2 = ((x.getField("y") - s1) + (l + b)) * lit(0.5)
            val b2 = ((l2 - l) + b) * lit(0.5)
            val s2 = ((x.getField("y") - l2) + s1) * lit(0.5)
            struct(l2.as("l"), b2.as("b"),
              concat(slice(acc.getField("s"), 2, 6), array(s2)).as("s"))
          })
        base.select(col("event_type"), col("n_days"), st.as("st"))
          .select(col("event_type"), col("n_days"),
            col("st.l").as("level"), col("st.b").as("trend"),
            element_at(col("st.s"), 1).as("season_next"),
            (col("st.l") + col("st.b") + element_at(col("st.s"), 1))
              .as("forecast"))
          .orderBy("event_type")
      }),

      // --- seasonal-naive forecast evaluation (MASE, round 9): the
      // scale-free accuracy readout that closes the forecasting block
      // (q_holt_winters produces forecasts; this scores the seasonal-
      // naive baseline against the one-step-naive denominator — MASE
      // < 1 means the weekly pattern beats copy-yesterday). Daily
      // exact-decimal series per type; lag-1/lag-7 errors as exact
      // decimal |differences| (order-independent sums); two terminal
      // divisions. The window runs over the tiny per-type series. ---
      "q_mase_eval" -> ((s, d) => {
        val daily = table(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).as("day"))
          .agg(sum(dec(col("value"))).cast(DecimalType(18, 4)).as("v"))
        val w = Window.partitionBy("event_type").orderBy("day")
        val g = daily
          .withColumn("l1", lag("v", 1).over(w))
          .withColumn("l7", lag("v", 7).over(w))
          .filter(col("l7").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_eval"),
            sum(abs(col("v") - col("l1"))).as("ae1"),
            sum(abs(col("v") - col("l7"))).as("ae7"))
        g.select(col("event_type"), col("n_eval"),
            (col("ae1").cast("double") / col("n_eval")).as("mae_naive1"),
            (col("ae7").cast("double") / col("n_eval")).as("mae_snaive7"),
            when(col("ae1") > 0,
              col("ae7").cast("double") / col("ae1").cast("double"))
              .as("mase"))
          .orderBy("event_type")
      }),

      // --- prediction-interval coverage audit: calibrate an [p10,p90]
      // band per event type on the first 15 days, measure what share
      // of later values actually falls inside (the honesty check every
      // quantile forecaster ships). Quantiles come from cumulative
      // counts over the O(bins) value histogram — exact rank ceil(q·n)
      // order statistics, no interpolation, no global sort of raw
      // rows; the bounds relation broadcasts into the eval-side
      // conditional count. ---
      // --- empirical CRPS (round 16): the PROPER scoring rule for the
      // full predictive distribution — q_pi_coverage checks one band,
      // q_winkler_score prices that band, CRPS integrates over every
      // quantile at once: CRPS(F,y) = (1/m)Σ|xᵢ−y| − (1/2m²)Σᵢⱼ|xᵢ−xⱼ|
      // with F the first-15-days empirical distribution per event
      // type (the q_pi_coverage split). Averaged over eval rows it
      // collapses to two histogram moments: Σ_y Σ_x |x−y| via the
      // bounded train×eval histogram cross per type (V² cells, fixed
      // value domain), and Σ_{i<j}|xᵢ−xⱼ| via the sorted-cumsum Gini
      // device — both exact, accumulated in DECIMAL(38,0) (pair
      // counts × dollar diffs pass int64 near 3e9 rows/side). The
      // terminal assembly T₁/(m·k) − S₂/(m·m) is one fixed tree. ---
      "q_crps_empirical" -> ((s, d) => {
        val d38 = DecimalType(38, 0)
        val ev = table(s, d, "events")
          .select(col("event_type"),
            round(col("value"), 0).cast("long").as("v"),
            (datediff(col("ts").cast("date"),
              lit("2024-01-01").cast("date")) < 15).as("cal"))
        val ht = ev.filter(col("cal"))
          .groupBy(col("event_type"), col("v").as("vt"))
          .agg(count(lit(1)).as("ct"))
        val he = ev.filter(!col("cal"))
          .groupBy(col("event_type"), col("v").as("ve"))
          .agg(count(lit(1)).as("ce"))
        val t1 = ht.join(he, Seq("event_type"))
          .groupBy("event_type")
          .agg(sum((col("ct") * col("ce")).cast(d38)
            * abs(col("vt") - col("ve"))).as("t1"))
        val wp = Window.partitionBy("event_type").orderBy("vt")
          .rowsBetween(Window.unboundedPreceding, -1)
        val s2 = ht
          .withColumn("pc", coalesce(sum("ct").over(wp), lit(0L)))
          .withColumn("ps",
            coalesce(sum(col("ct") * col("vt")).over(wp), lit(0L)))
          .groupBy("event_type")
          .agg(sum(col("ct").cast(d38)
              * (col("pc") * col("vt") - col("ps"))).as("s2"),
            sum("ct").as("m"))
        val k = he.groupBy("event_type").agg(sum("ce").as("k"))
        s2.join(t1, Seq("event_type")).join(k, Seq("event_type"))
          .select(col("event_type"), col("m").as("n_train"),
            col("k").as("n_eval"),
            (col("t1").cast("double")
              / (col("m").cast("double") * col("k"))
              - col("s2").cast("double")
              / (col("m").cast("double") * col("m"))).as("crps"))
          .orderBy("event_type")
      }),

      "q_pi_coverage" -> ((s, d) => {
        val ev = table(s, d, "events")
          .select(col("event_type"),
            round(col("value"), 0).cast("long").as("v"),
            (datediff(col("ts").cast("date"),
              lit("2024-01-01").cast("date")) < 15).as("cal"))
        val bins = ev.filter(col("cal"))
          .groupBy("event_type", "v").agg(count(lit(1)).as("c"))
        val wb = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy("event_type")
        val ranked = bins
          .withColumn("cum", sum("c").over(wb))
          .withColumn("n", sum("c").over(wt))
        val bounds = ranked.groupBy("event_type")
          .agg(max("n").as("n_cal"),
            min(when(col("cum") >= expr("(n + 9) div 10"), col("v")))
              .as("p10"),
            min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("v")))
              .as("p90"))
        ev.filter(!col("cal"))
          .join(broadcast(bounds), "event_type")
          .groupBy("event_type")
          .agg(max("n_cal").as("n_cal"), count(lit(1)).as("n_eval"),
            max("p10").as("p10"), max("p90").as("p90"),
            sum(col("v").between(col("p10"), col("p90")).cast("long"))
              .as("n_in"))
          .select(col("event_type"), col("n_cal"), col("n_eval"),
            col("p10"), col("p90"),
            (col("n_in").cast("double") / col("n_eval")).as("coverage"))
          .orderBy("event_type")
      }),

      // --- symmetric MAPE of the seasonal-naive forecast (round 16):
      // the percentage-error sibling of q_mase_eval — per type,
      // |v − v_{t-7}| / ((v + v_{t-7})/2) averaged over the evaluable
      // days; the scale-free readout product reviews quote when MASE's
      // denominator is unintuitive. Daily values are exact
      // DECIMAL(18,4) sums; each row's ratio is ONE IEEE division
      // (decimal→double casts are value-exact at these magnitudes)
      // rounded to integer permille before the cross-row sum, so
      // accumulation order cannot reach the hash (the house
      // quantize-before-Σ discipline); zero-sum rows are excluded on
      // both engines. Windows run over the O(types × days) grid. ---
      "q_smape" -> ((s, d) => {
        val daily = table(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).as("day"))
          .agg(sum(dec(col("value"))).cast(DecimalType(18, 4)).as("v"))
        val w = Window.partitionBy("event_type").orderBy("day")
        daily
          .withColumn("f", lag("v", 7).over(w))
          .filter(col("f").isNotNull && (col("v") + col("f")) > 0)
          .select(col("event_type"),
            round(abs(col("v") - col("f")).cast("double") * 2000.0
              / (col("v") + col("f")).cast("double"), 0)
              .cast("long").as("sm_pm"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_eval"),
            sum("sm_pm").cast("long").as("sum_pm"))
          .select(col("event_type"), col("n_eval"),
            (col("sum_pm").cast("double")
              / (lit(1000.0) * col("n_eval").cast("double")))
              .as("smape"))
          .orderBy("event_type")
      }),

      // --- Theil's U2 of the seasonal-naive forecast (round 16): the
      // squared-error companion — U2 = Σ(v − v_{t-7})² / Σ(v − v_{t-1})²
      // over the same evaluable days, U < 1 meaning the weekly pattern
      // beats copy-yesterday in RMSE terms (q_mase_eval answers the
      // MAE version; outlier-heavy series can disagree). Daily values
      // are exact int64 DOLLARS (cents summed, then the
      // floor-consistent (c − pmod)/100 spelling — squares of daily
      // cents would overflow int64), so both error sums are exact;
      // FP is one division + one sqrt. ---
      "q_theil_u" -> ((s, d) => {
        val daily = table(s, d, "events")
          .select(col("event_type"),
            col("ts").cast("date").as("day"),
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc"))
          .groupBy("event_type", "day").agg(sum("vc").as("cents"))
          .select(col("event_type"), col("day"),
            expr("(cents - pmod(cents, 100)) div 100").as("v"))
        val w = Window.partitionBy("event_type").orderBy("day")
        daily
          .withColumn("l1", lag("v", 1).over(w))
          .withColumn("l7", lag("v", 7).over(w))
          .filter(col("l7").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_eval"),
            sum((col("v") - col("l7")) * (col("v") - col("l7")))
              .cast("long").as("sse7"),
            sum((col("v") - col("l1")) * (col("v") - col("l1")))
              .cast("long").as("sse1"))
          .select(col("event_type"), col("n_eval"),
            when(col("sse1") > 0,
              col("sse7").cast("double") / col("sse1").cast("double"))
              .as("u2"),
            when(col("sse1") > 0,
              sqrt(col("sse7").cast("double")
                / col("sse1").cast("double"))).as("theil_u"))
          .orderBy("event_type")
      }),

      // --- Diebold-Mariano forecast-comparison test (round 16):
      // q_mase_eval and q_theil_u both RANK copy-yesterday vs copy-
      // last-week; DM asks whether the gap is SIGNIFICANT — the loss
      // differential d_t = |e₁ₜ| − |e₇ₜ| (MAE loss) tested against
      // zero mean, h = 1 so the lag-0 variance needs no HAC terms
      // (documented). Same exact int64 daily-dollar series as
      // q_theil_u (floor-consistent cents div); d_t and its Σd, Σd²
      // moments stay exact; DM = d̄/√(s²/n) is one fixed tree off
      // the n·Σd² − S² device; degenerate (constant-differential)
      // series guard to NULL on both engines. ---
      "q_diebold_mariano" -> ((s, d) => {
        val daily = table(s, d, "events")
          .select(col("event_type"),
            col("ts").cast("date").as("day"),
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc"))
          .groupBy("event_type", "day").agg(sum("vc").as("cents"))
          .select(col("event_type"), col("day"),
            expr("(cents - pmod(cents, 100)) div 100").as("v"))
        val w = Window.partitionBy("event_type").orderBy("day")
        val m = daily
          .withColumn("l1", lag("v", 1).over(w))
          .withColumn("l7", lag("v", 7).over(w))
          .filter(col("l7").isNotNull)
          .select(col("event_type"),
            (abs(col("v") - col("l1")) - abs(col("v") - col("l7")))
              .as("dt"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_eval"),
            sum("dt").cast("long").as("s1"),
            sum(col("dt") * col("dt")).cast("long").as("s2"))
        val vard = (col("n_eval") * col("s2") - col("s1") * col("s1"))
          .cast("double")
          .divide(col("n_eval").cast("double") * (col("n_eval") - 1L))
        m.select(col("event_type"), col("n_eval"),
            (col("s1").cast("double") / col("n_eval")).as("mean_d"),
            when(col("n_eval") > 1 &&
                col("n_eval") * col("s2") - col("s1") * col("s1") > 0,
              (col("s1").cast("double") / col("n_eval"))
                / sqrt(vard / col("n_eval").cast("double")))
              .as("dm_stat"))
          .orderBy("event_type")
      }),

      // --- Winkler interval score (round 16): the PROPER scoring rule
      // for q_pi_coverage's [p10, p90] band — width + (2/α)·distance
      // for misses, α = 0.2 — which penalizes both over-wide and
      // miscovering intervals (coverage alone rewards bands that are
      // simply huge). Same calibration device: exact-rank integer
      // bounds off the first-15-day value histogram (cum counts over
      // O(bins), never a corpus sort), broadcast onto the eval rows;
      // per-row score (p90−p10) + 10·max(0, p10−v) + 10·max(0, v−p90)
      // is exact int64, the mean ONE terminal division. ---
      "q_winkler_score" -> ((s, d) => {
        val ev = table(s, d, "events")
          .select(col("event_type"),
            round(col("value"), 0).cast("long").as("v"),
            (datediff(col("ts").cast("date"),
              lit("2024-01-01").cast("date")) < 15).as("cal"))
        val bins = ev.filter(col("cal"))
          .groupBy("event_type", "v").agg(count(lit(1)).as("c"))
        val wb = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy("event_type")
        val ranked = bins
          .withColumn("cum", sum("c").over(wb))
          .withColumn("n", sum("c").over(wt))
        val bounds = ranked.groupBy("event_type")
          .agg(min(when(col("cum") >= expr("(n + 9) div 10"), col("v")))
            .as("p10"),
            min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("v")))
              .as("p90"))
        ev.filter(!col("cal"))
          .join(broadcast(bounds), "event_type")
          .select(col("event_type"), col("p10"), col("p90"),
            ((col("p90") - col("p10"))
              + lit(10L) * greatest(lit(0L), col("p10") - col("v"))
              + lit(10L) * greatest(lit(0L), col("v") - col("p90")))
              .as("sc"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_eval"), max("p10").as("p10"),
            max("p90").as("p90"),
            sum("sc").cast("long").as("sum_score"))
          .select(col("event_type"), col("n_eval"), col("p10"),
            col("p90"),
            (col("sum_score").cast("double") / col("n_eval"))
              .as("mean_winkler"))
          .orderBy("event_type")
      }),

      // --- one synchronous label-propagation round on the word bigram
      // graph (the community-detection step): nodes start in 16
      // md5-bucket labels, then adopt the most frequent label among
      // their undirected neighbors (ties → smallest label). Everything
      // is vocabulary-sized: the label relation broadcasts onto the
      // edge list, the per-(node,label) count aggregate and the
      // per-node argmax window run over O(V·16) rows. Output is the
      // per-label before/after census — the convergence signal a
      // propagation loop monitors. ---
      "q_label_prop" -> ((s, d) => {
        val e0 = Relevance.wordEdges(s, d).select("src", "dst")
        val und = e0.unionAll(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        val lab0 = und.select(col("src").as("node")).distinct()
          .withColumn("lab",
            expr("instr('0123456789abcdef', " +
              "substring(md5(concat('lp', node)), 1, 1)) - 1")
              .cast("long"))
        val nb = und
          .join(broadcast(lab0.select(col("node").as("dst"),
            col("lab").as("nlab"))), "dst")
          .groupBy(col("src").as("node"), col("nlab"))
          .agg(count(lit(1)).as("c"))
        val wr = Window.partitionBy("node")
          .orderBy(col("c").desc, col("nlab").asc)
        val lab1 = nb.withColumn("rn", row_number().over(wr))
          .filter(col("rn") === 1)
          .select(col("node"), col("nlab").as("lab"))
        val before = lab0.groupBy("lab").agg(count(lit(1)).as("n_before"))
        val after = lab1.groupBy("lab").agg(count(lit(1)).as("n_after"))
        before.join(after, Seq("lab"), "full")
          .select(col("lab"),
            coalesce(col("n_before"), lit(0L)).as("n_before"),
            coalesce(col("n_after"), lit(0L)).as("n_after"))
          .orderBy("lab")
      }),

      // --- one exact batch perceptron update on the quantized
      // embeddings (y = ±1 from the label parity, w₀ = 0): the
      // distributed-training-step shape (like q_kmeans_step /
      // q_linreg_fit) where a full gradient is ONE map-side-combinable
      // aggregate. With w₀ = 0 every example violates y·⟨w,x⟩ > 0, so
      // w₁ᵢ = Σ y·xᵢ — exact int64 per dimension off a posexplode
      // pass on a coarse (×1024) integer grid chosen so the margin
      // pass Σⱼ wⱼxⱼ stays far inside int64. The weights broadcast
      // back for the margin audit: how many examples the single step
      // already classifies correctly. ---
      "q_perceptron_step" -> ((s, d) => {
        val e = table(s, d, "embeddings")
          .select(col("vec_id"),
            when(col("label") % 2 === 1, 1L).otherwise(-1L).as("y"),
            transform(col("embedding"),
              x => floor(x.cast("double") * 1024).cast("long")).as("xv"))
        val x = e.select(col("vec_id"), col("y"),
          posexplode(col("xv")).as(Seq("i0", "v")))
          .select(col("vec_id"), col("y"),
            (col("i0") + 1).cast("long").as("i"), col("v"))
        val w = x.groupBy("i").agg(sum(col("y") * col("v")).as("w"))
        val margins = x
          .join(broadcast(w), "i")
          .groupBy("vec_id", "y")
          .agg(sum(col("v") * col("w")).as("dot"))
          .select((col("y") * col("dot") > 0).cast("long").as("ok"))
        val audit = margins.agg(count(lit(1)).as("n"),
          sum("ok").as("n_correct"))
        w.crossJoin(broadcast(audit))
          .select(col("i").as("dim"), col("w"),
            col("n"), col("n_correct"))
          .orderBy("dim")
      }),

      // --- local-DP randomized response, debiased per segment: each
      // customer reports truth (acctbal > 0) on heads, else a second
      // coin — both coins are md5 gates, so the mechanism is exactly
      // reproducible (the determinism discipline of q_dp_count) while
      // keeping the estimator's algebra honest: π̂ = (r̂ − ¼)/½. One
      // conditional-count pass; estimator and true share (the audit
      // column) are fixed-tree divisions of exact int64 counts. ---
      "q_rand_response" -> ((s, d) => {
        val c = table(s, d, "customer")
          .select(col("c_mktsegment").as("seg"),
            (col("c_acctbal") > 0).as("truth"),
            expr("substring(md5(concat('rr1', c_custkey)), 1, 1)")
              .isin("0", "1", "2", "3", "4", "5", "6", "7").as("heads"),
            expr("substring(md5(concat('rr2', c_custkey)), 1, 1)")
              .isin("0", "1", "2", "3", "4", "5", "6", "7").as("coin2"))
          .select(col("seg"), col("truth"),
            when(col("heads"), col("truth")).otherwise(col("coin2"))
              .as("reported"))
        c.groupBy("seg")
          .agg(count(lit(1)).as("n"),
            sum(col("reported").cast("long")).as("n_reported"),
            sum(col("truth").cast("long")).as("n_true"))
          .select(col("seg"), col("n"),
            (col("n_reported").cast("double") / col("n")).as("r_hat"),
            ((col("n_reported").cast("double") / col("n") - lit(0.25)) /
              lit(0.5)).as("pi_hat"),
            (col("n_true").cast("double") / col("n")).as("pi_true"))
          .orderBy("seg")
      }),

      // --- Croston intermittent-demand forecast (round 10): for the
      // 10 highest-demand parts, separate smoothings of nonzero demand
      // SIZE and inter-demand GAP, forecast = size/gap per day — the
      // estimator inventory planners use where ordinary smoothing
      // (q_ewma_smooth) collapses on sparse series. Smoothing uses the
      // DYADIC 8-term weights (128..1 — every product exact in cents
      // DECIMAL; the /255 normalizers cancel in the ratio, so the
      // forecast is ONE division of two exact sums). The demand series
      // reduces to the (part, ship-day) grain first; the 9 most recent
      // demand days per part come off a rank filter the WindowGroupLimit
      // rewrite bounds map-side; eligibility (>= 9 demand days) and the
      // top-10 cut are exact integer/TakeOrdered. ---
      "q_croston" -> ((s, d) => {
        val demand = table(s, d, "lineitem")
          .groupBy(col("l_partkey"),
            datediff(col("l_shipdate").cast("date"),
              lit("1992-01-01").cast("date")).cast("long").as("day"))
          .agg((sum(dec(col("l_quantity"))) * 100).cast("long")
            .as("qcents"))
        val top = demand.groupBy("l_partkey")
          .agg(count(lit(1)).as("n_days"), sum("qcents").as("tot"))
          .filter(col("n_days") >= 9)
          .orderBy(col("tot").desc, col("l_partkey").asc).limit(10)
          .select(col("l_partkey"), col("n_days"), col("tot"))
        val wr = Window.partitionBy("l_partkey")
          .orderBy(col("day").desc)
        val recent = demand.join(broadcast(top), "l_partkey")
          .withColumn("rk", row_number().over(wr))
          .filter(col("rk") <= 9)
          .withColumn("gap", col("day") - lag(col("day"), -1).over(wr))
        val weights = Map(1 -> 128L, 2 -> 64L, 3 -> 32L, 4 -> 16L,
          5 -> 8L, 6 -> 4L, 7 -> 2L, 8 -> 1L)
        val wcol = coalesce(weights.foldLeft(lit(null).cast("long")) {
          case (acc, (r, wt)) => when(col("rk") === r, wt).otherwise(acc)
        }, lit(0L))
        recent
          .select(col("l_partkey"), col("n_days"), col("tot"),
            (wcol * col("qcents")).as("ws"),
            (wcol * coalesce(col("gap"), lit(0L))).as("wg"))
          .groupBy("l_partkey", "n_days", "tot")
          .agg(sum("ws").as("sws"), sum("wg").as("swg"))
          .select(col("l_partkey"), col("n_days"),
            (col("tot").cast("double") / 100.0).as("total_qty"),
            (col("sws").cast("double") / 255.0 / 100.0).as("smoothed_qty"),
            (col("swg").cast("double") / 255.0).as("smoothed_gap_days"),
            (col("sws").cast("double") / col("swg") / 100.0)
              .as("qty_per_day"))
          .orderBy("l_partkey")
      })
    )

  override def oracle: Map[String, String] = Map(

    "q_croston" ->
      """WITH demand AS (SELECT l_partkey,
        |    CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS day,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) * 100 AS BIGINT)
        |      AS qcents
        |  FROM lineitem GROUP BY 1, 2),
        |top AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(qcents) AS BIGINT) AS tot
        |  FROM demand GROUP BY 1 HAVING COUNT(*) >= 9
        |  ORDER BY tot DESC, l_partkey LIMIT 10),
        |r AS (SELECT d.l_partkey, t.n_days, t.tot, d.day, d.qcents,
        |    row_number() OVER (PARTITION BY d.l_partkey
        |      ORDER BY d.day DESC) AS rk,
        |    d.day - lead(d.day) OVER (PARTITION BY d.l_partkey
        |      ORDER BY d.day DESC) AS gap
        |  FROM demand d JOIN top t USING (l_partkey)),
        |k AS (SELECT l_partkey, n_days, tot,
        |    CASE rk WHEN 1 THEN 128 WHEN 2 THEN 64 WHEN 3 THEN 32
        |      WHEN 4 THEN 16 WHEN 5 THEN 8 WHEN 6 THEN 4 WHEN 7 THEN 2
        |      WHEN 8 THEN 1 ELSE 0 END AS wt,
        |    qcents, COALESCE(gap, 0) AS gap
        |  FROM r WHERE rk <= 9),
        |a AS (SELECT l_partkey, n_days, tot,
        |    CAST(SUM(wt * qcents) AS BIGINT) AS sws,
        |    CAST(SUM(wt * gap) AS BIGINT) AS swg
        |  FROM k GROUP BY 1, 2, 3)
        |SELECT l_partkey, n_days,
        |  CAST(tot AS DOUBLE) / 100.0 AS total_qty,
        |  CAST(sws AS DOUBLE) / 255.0 / 100.0 AS smoothed_qty,
        |  CAST(swg AS DOUBLE) / 255.0 AS smoothed_gap_days,
        |  CAST(sws AS DOUBLE) / swg / 100.0 AS qty_per_day
        |FROM a ORDER BY l_partkey""".stripMargin,

    "q_mase_eval" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS v
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, v,
        |    lag(v, 1) OVER w AS l1, lag(v, 7) OVER w AS l7
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
        |    SUM(abs(v - l1)) AS ae1, SUM(abs(v - l7)) AS ae7
        |  FROM l WHERE l7 IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_eval,
        |  CAST(ae1 AS DOUBLE) / n_eval AS mae_naive1,
        |  CAST(ae7 AS DOUBLE) / n_eval AS mae_snaive7,
        |  CASE WHEN ae1 > 0 THEN CAST(ae7 AS DOUBLE) / CAST(ae1 AS DOUBLE)
        |    END AS mase
        |FROM g ORDER BY event_type""".stripMargin,
    "q_holt_winters" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, y,
        |        row_number() OVER (PARTITION BY event_type ORDER BY day)
        |          AS t
        |      FROM daily),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
        |      FROM s GROUP BY 1),
        |seed AS (SELECT event_type,
        |    CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS l0
        |  FROM s WHERE t <= 7 GROUP BY event_type),
        |s0 AS (SELECT s.event_type,
        |    list(s.y - seed.l0 ORDER BY s.t) AS ring
        |  FROM s JOIN seed ON s.event_type = seed.event_type
        |  WHERE s.t <= 7 GROUP BY s.event_type),
        |rec AS (
        |  SELECT seed.event_type, 7 AS t, seed.l0 AS l,
        |         CAST(0.0 AS DOUBLE) AS b, s0.ring AS ring
        |  FROM seed JOIN s0 ON seed.event_type = s0.event_type
        |  UNION ALL
        |  SELECT s.event_type, s.t,
        |    ((s.y - rec.ring[1]) + (rec.l + rec.b)) * 0.5,
        |    ((((s.y - rec.ring[1]) + (rec.l + rec.b)) * 0.5 - rec.l)
        |      + rec.b) * 0.5,
        |    rec.ring[2:7] ||
        |      [((s.y - ((s.y - rec.ring[1]) + (rec.l + rec.b)) * 0.5)
        |        + rec.ring[1]) * 0.5]
        |  FROM rec JOIN s
        |    ON s.event_type = rec.event_type AND s.t = rec.t + 1),
        |fin AS (SELECT event_type, l, b, ring,
        |          row_number() OVER (PARTITION BY event_type
        |            ORDER BY t DESC) AS rk
        |        FROM rec)
        |SELECT n.event_type, n.n_days, fin.l AS level, fin.b AS trend,
        |  fin.ring[1] AS season_next,
        |  fin.l + fin.b + fin.ring[1] AS forecast
        |FROM fin JOIN n ON fin.event_type = n.event_type
        |WHERE rk = 1 ORDER BY n.event_type""".stripMargin,

    "q_crps_empirical" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value, 0) AS BIGINT) AS v,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) < 15
        |      AS cal
        |  FROM events),
        |ht AS (SELECT event_type, v AS vt,
        |    CAST(COUNT(*) AS BIGINT) AS ct
        |  FROM e WHERE cal GROUP BY 1, 2),
        |he AS (SELECT event_type, v AS ve,
        |    CAST(COUNT(*) AS BIGINT) AS ce
        |  FROM e WHERE NOT cal GROUP BY 1, 2),
        |t1 AS (SELECT event_type,
        |    CAST(SUM(CAST(ct * ce AS HUGEINT) * abs(vt - ve))
        |      AS HUGEINT) AS t1
        |  FROM ht JOIN he USING (event_type) GROUP BY 1),
        |w AS (SELECT event_type, vt, ct,
        |    COALESCE(CAST(SUM(ct) OVER (PARTITION BY event_type
        |      ORDER BY vt ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING) AS BIGINT), 0) AS pc,
        |    COALESCE(CAST(SUM(ct * vt) OVER (PARTITION BY event_type
        |      ORDER BY vt ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING) AS BIGINT), 0) AS ps
        |  FROM ht),
        |s2 AS (SELECT event_type,
        |    CAST(SUM(CAST(ct AS HUGEINT) * (pc * vt - ps))
        |      AS HUGEINT) AS s2,
        |    CAST(SUM(ct) AS BIGINT) AS m
        |  FROM w GROUP BY 1),
        |kk AS (SELECT event_type, CAST(SUM(ce) AS BIGINT) AS k
        |  FROM he GROUP BY 1)
        |SELECT event_type, m AS n_train, k AS n_eval,
        |  CAST(t1 AS DOUBLE) / (CAST(m AS DOUBLE) * k)
        |    - CAST(s2 AS DOUBLE) / (CAST(m AS DOUBLE) * m) AS crps
        |FROM s2 JOIN t1 USING (event_type) JOIN kk USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "q_pi_coverage" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(round(value, 0) AS BIGINT) AS v,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) < 15
        |      AS cal
        |  FROM events),
        |b AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM ev WHERE cal GROUP BY 1, 2),
        |r AS (SELECT event_type, v,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM b),
        |bounds AS (SELECT event_type, MAX(n) AS n_cal,
        |    MIN(CASE WHEN cum >= (n + 9) // 10 THEN v END) AS p10,
        |    MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN v END) AS p90
        |  FROM r GROUP BY event_type)
        |SELECT event_type, MAX(n_cal) AS n_cal,
        |  CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  MAX(p10) AS p10, MAX(p90) AS p90,
        |  CAST(SUM(CASE WHEN v BETWEEN p10 AND p90 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*) AS coverage
        |FROM ev JOIN bounds USING (event_type)
        |WHERE NOT cal
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_smape" ->
      """WITH daily AS (SELECT event_type,
        |    date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4)))
        |      AS DECIMAL(18,4)) AS v
        |  FROM events GROUP BY 1, 2),
        |lagd AS (SELECT event_type, v,
        |    lag(v, 7) OVER (PARTITION BY event_type ORDER BY day) AS f
        |  FROM daily),
        |r AS (SELECT event_type,
        |    CAST(round(CAST(abs(v - f) AS DOUBLE) * 2000
        |      / CAST(v + f AS DOUBLE), 0) AS BIGINT) AS sm_pm
        |  FROM lagd WHERE f IS NOT NULL AND v + f > 0)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  CAST(CAST(SUM(sm_pm) AS BIGINT) AS DOUBLE)
        |    / (1000.0 * COUNT(*)) AS smape
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_diebold_mariano" ->
      """WITH d0 AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS vc FROM events),
        |daily AS (SELECT event_type, day,
        |    (c - ((c % 100) + 100) % 100) // 100 AS v
        |  FROM (SELECT event_type, day, CAST(SUM(vc) AS BIGINT) AS c
        |        FROM d0 GROUP BY 1, 2)),
        |lagd AS (SELECT event_type, v,
        |    lag(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
        |    lag(v, 7) OVER (PARTITION BY event_type ORDER BY day) AS l7
        |  FROM daily),
        |dt AS (SELECT event_type,
        |    CAST(abs(v - l1) - abs(v - l7) AS BIGINT) AS dt
        |  FROM lagd WHERE l7 IS NOT NULL),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
        |    CAST(SUM(dt) AS BIGINT) AS s1,
        |    CAST(SUM(dt * dt) AS BIGINT) AS s2
        |  FROM dt GROUP BY event_type)
        |SELECT event_type, n_eval,
        |  CAST(s1 AS DOUBLE) / n_eval AS mean_d,
        |  CASE WHEN n_eval > 1 AND n_eval * s2 - s1 * s1 > 0 THEN
        |    (CAST(s1 AS DOUBLE) / n_eval)
        |      / sqrt(CAST(n_eval * s2 - s1 * s1 AS DOUBLE)
        |        / (CAST(n_eval AS DOUBLE) * (n_eval - 1))
        |        / CAST(n_eval AS DOUBLE)) END AS dm_stat
        |FROM g ORDER BY event_type""".stripMargin,

    "q_theil_u" ->
      """WITH d0 AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS vc FROM events),
        |daily AS (SELECT event_type, day,
        |    (c - ((c % 100) + 100) % 100) // 100 AS v
        |  FROM (SELECT event_type, day, CAST(SUM(vc) AS BIGINT) AS c
        |        FROM d0 GROUP BY 1, 2)),
        |lagd AS (SELECT event_type, v,
        |    lag(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
        |    lag(v, 7) OVER (PARTITION BY event_type ORDER BY day) AS l7
        |  FROM daily),
        |g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
        |    CAST(SUM((v - l7) * (v - l7)) AS BIGINT) AS sse7,
        |    CAST(SUM((v - l1) * (v - l1)) AS BIGINT) AS sse1
        |  FROM lagd WHERE l7 IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n_eval,
        |  CASE WHEN sse1 > 0
        |    THEN CAST(sse7 AS DOUBLE) / CAST(sse1 AS DOUBLE) END AS u2,
        |  CASE WHEN sse1 > 0
        |    THEN sqrt(CAST(sse7 AS DOUBLE) / CAST(sse1 AS DOUBLE)) END
        |    AS theil_u
        |FROM g ORDER BY event_type""".stripMargin,

    "q_winkler_score" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(round(value, 0) AS BIGINT) AS v,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) < 15
        |      AS cal
        |  FROM events),
        |b AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM ev WHERE cal GROUP BY 1, 2),
        |r AS (SELECT event_type, v,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM b),
        |bounds AS (SELECT event_type,
        |    MIN(CASE WHEN cum >= (n + 9) // 10 THEN v END) AS p10,
        |    MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN v END) AS p90
        |  FROM r GROUP BY event_type),
        |sc AS (SELECT ev.event_type, p10, p90,
        |    (p90 - p10) + 10 * greatest(0, p10 - v)
        |      + 10 * greatest(0, v - p90) AS sc
        |  FROM ev JOIN bounds USING (event_type) WHERE NOT cal)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  MAX(p10) AS p10, MAX(p90) AS p90,
        |  CAST(CAST(SUM(sc) AS BIGINT) AS DOUBLE) / COUNT(*)
        |    AS mean_winkler
        |FROM sc GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_label_prop" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT unnest([tk[i] || ' ' || tk[i+1]
        |         for i in range(1, len(tk))]) AS gram FROM t),
        |e0 AS (SELECT gram FROM g GROUP BY gram),
        |ed AS (SELECT string_split(gram, ' ')[1] AS src,
        |         string_split(gram, ' ')[2] AS dst FROM e0),
        |und AS (SELECT src, dst FROM ed
        |        UNION ALL SELECT dst, src FROM ed),
        |lab0 AS (SELECT DISTINCT src AS node FROM und),
        |l0 AS (SELECT node,
        |    CAST(strpos('0123456789abcdef',
        |      substr(md5('lp' || node), 1, 1)) - 1 AS BIGINT) AS lab
        |  FROM lab0),
        |nb AS (SELECT und.src AS node, l0.lab AS nlab,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM und JOIN l0 ON und.dst = l0.node
        |  GROUP BY 1, 2),
        |l1 AS (SELECT node, nlab AS lab FROM (
        |    SELECT node, nlab,
        |      row_number() OVER (PARTITION BY node
        |        ORDER BY c DESC, nlab) AS rn
        |    FROM nb) WHERE rn = 1),
        |bef AS (SELECT lab, CAST(COUNT(*) AS BIGINT) AS n_before
        |  FROM l0 GROUP BY lab),
        |aft AS (SELECT lab, CAST(COUNT(*) AS BIGINT) AS n_after
        |  FROM l1 GROUP BY lab)
        |SELECT COALESCE(bef.lab, aft.lab) AS lab,
        |  COALESCE(n_before, 0) AS n_before,
        |  COALESCE(n_after, 0) AS n_after
        |FROM bef FULL JOIN aft ON bef.lab = aft.lab
        |ORDER BY lab""".stripMargin,

    "q_perceptron_step" ->
      """WITH e AS (SELECT vec_id,
        |    CASE WHEN label % 2 = 1 THEN 1 ELSE -1 END AS y,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS xv
        |  FROM embeddings),
        |x AS (SELECT vec_id, y,
        |    CAST(generate_subscripts(xv, 1) AS BIGINT) AS i,
        |    unnest(xv) AS v FROM e),
        |w AS (SELECT i, CAST(SUM(y * v) AS BIGINT) AS w
        |  FROM x GROUP BY i),
        |m AS (SELECT vec_id, y, CAST(SUM(v * w) AS BIGINT) AS dot
        |  FROM x JOIN w USING (i) GROUP BY vec_id, y),
        |audit AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN y * dot > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_correct
        |  FROM m)
        |SELECT i AS dim, w, n, n_correct
        |FROM w CROSS JOIN audit ORDER BY dim""".stripMargin,

    "q_rand_response" ->
      """WITH c AS (SELECT c_mktsegment AS seg, c_acctbal > 0 AS truth,
        |    substr(md5('rr1' || CAST(c_custkey AS VARCHAR)), 1, 1) IN
        |      ('0','1','2','3','4','5','6','7') AS heads,
        |    substr(md5('rr2' || CAST(c_custkey AS VARCHAR)), 1, 1) IN
        |      ('0','1','2','3','4','5','6','7') AS coin2
        |  FROM customer),
        |r AS (SELECT seg, truth,
        |    CASE WHEN heads THEN truth ELSE coin2 END AS reported
        |  FROM c),
        |a AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN reported THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_reported,
        |    CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_true
        |  FROM r GROUP BY seg)
        |SELECT seg, n,
        |  CAST(n_reported AS DOUBLE) / n AS r_hat,
        |  (CAST(n_reported AS DOUBLE) / n - 0.25) / 0.5 AS pi_hat,
        |  CAST(n_true AS DOUBLE) / n AS pi_true
        |FROM a ORDER BY seg""".stripMargin
  )
}
